package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query names — run just those, dump all oracles
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // fail FAST and LOUDLY on testdata schema drift — in round 7 a
    // regenerated events.parquet silently dropped 22 queries from the
    // correctness report (each threw at plan time, was caught below,
    // and simply never produced a result directory)
    TableSchemas.check(spark, sfDir)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    var ok = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one unmissable summary line — a plan-time breakage must never
    // again read as "queries disappeared"
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] SUMMARY: $ok ok, ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
    else
      System.err.println(s"[verify] SUMMARY: $ok ok, 0 failed")
    // probe honesty (canonicalized round 17, r16 verdict #1): the two
    // former hash-divergence tripwires now compare a CANONICAL surface
    // and EVERY query is expected GREEN — print the contract every run
    // so any red in CORRECTNESS_r*.json is read as a driver behavior
    // change, never as noise. Assert the canonical forms hold: the dec
    // probe must emit its pinned scale-6 STRING rendering (a drift
    // back to a raw DECIMAL column re-opens the adjudicated driver
    // red), the hugeint oracle must keep its sum() CAST to BIGINT.
    SparkEntry.canonicalizedProbes.keys.foreach { name =>
      require(SparkEntry.queries.contains(name) &&
        SparkEntry.oracleSql.contains(name),
        s"[verify] probe $name vanished — the canonicalized-probe contract is broken")
    }
    if (only.isEmpty || only.exists(_.contains("decimal_probe_dec"))) {
      val decType = spark.read.parquet(s"$outDir/decimal_probe_dec")
        .schema("dec_val").dataType
      require(decType == org.apache.spark.sql.types.StringType,
        s"[verify] decimal_probe_dec emits $decType, not the canonical pinned-scale STRING — raw DECIMAL columns are driver-hash-divergent (adjudicated r16)")
    }
    require("""CAST\s*\(\s*sum\s*\(\s*v\s*\)\s+AS\s+BIGINT\s*\)\s+AS\s+sum_v""".r
        .findFirstIn(SparkEntry.oracleSql("hugeint_probe")).isDefined,
      "[verify] hugeint_probe oracle lost its BIGINT cast — an uncast " +
        "DuckDB sum() (HUGEINT) is driver-hash-divergent (adjudicated r16)")
    System.err.println("[verify] probes: expected-red = (none; " +
      SparkEntry.canonicalizedProbes.keys.toSeq.sorted.mkString(", ") +
      " canonicalized r17) — EVERY query expected GREEN; any red means the driver's hashing changed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
