package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization round's evidence trail (plans/r16/<q>_before.txt /
  * _after.txt). Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q1,q2,..."
  *
  * Streaming/protocol gates execute their side-effecting steps when the
  * gate function is invoked; the dumped plan is the FINAL returned frame
  * (the surface the bench times end-to-end includes those steps — their
  * plans are captured by the per-step operators' specs instead).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession()
    new java.io.File(outDir).mkdirs()
    // failures are tracked and fail the RUN (r16 advice): an evidence
    // dump that silently produced no files would let a plan claim go
    // unchecked. NonFatal only — an OOM must not be swallowed.
    var failures = 0
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"PlanDump: unknown query '$name'"))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case scala.util.control.NonFatal(e) =>
        failures += 1
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[plandump] $failures of ${names.length} dumps FAILED")
      sys.exit(1)
    }
  }
}
