package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.SparkInternals
import org.apache.spark.sql.types._

/** What `run.py` generated for one run, read from its manifest file. */
final case class Manifest(
    workload: String,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    setupRounds: Int,
    warmup: Seq[String],
    base: Seq[String],
    batches: Seq[String],
    maxTracedOps: Int)

object Manifest {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("text", StringType)))
  // the ER gates' parameters: word 3-shingles, Jaccard >= 0.5, 4 LPA rounds
  val ShingleSize = 3
  val ThresholdPpm = 500000L
  val LpaRounds = 4

  def read(path: String): Manifest = {
    import org.json4s._
    implicit val f: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    Manifest(
      (j \ "workload").extract[String], (j \ "seconds").extract[Double],
      (j \ "trace").extract[Boolean], (j \ "cores").extract[Int], (j \ "work").extract[String],
      (j \ "setup_rounds").extract[Int], (j \ "warmup").extract[Seq[String]],
      (j \ "base").extract[Seq[String]], (j \ "batches").extract[Seq[String]],
      (j \ "max_traced_ops").extract[Int])
  }
}

/** Wall time of each set-up step, for the run record. */
object SetupPhases {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def time[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally seconds(name) = (System.nanoTime() - t) / 1e9
  }
}

/** Runs one workload: set-up rounds, a closed loop timed for the
  * manifest's seconds of op time (at least three ops), output dumps and
  * in-process checks, then (traced runs only) an untraced and two traced
  * passes over the first ops. Writes the run record as JSON.
  *
  * Usage: Main <manifest.json> <record.json>
  */
object Main {
  /** A run times at least this many ops, so its latency median is an op's. */
  private val MinOps = 3

  private val oldGen = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  }

  private def afterFullGcMb(): Double = {
    System.gc()
    oldGen.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum / 1048576.0
  }

  /** Old-generation occupancy after a full GC, in MB, once Spark holds
    * nothing more that the GC found unreachable: Spark frees the cached
    * blocks and broadcasts of unreachable datasets on its cleaner thread
    * after a GC finds them, so a GC alone would still count them, by an
    * amount that depends on thread timing. Each round drains the listener
    * bus, whose queued events hold plans, runs a full GC and waits for the
    * cleaner; it stops at the first GC that left nothing to clean.
    */
  private def oldGenAfterGcMb(sc: SparkContext): Double = {
    SparkInternals.awaitCleaner(sc)
    var mb = 0.0
    var more = true
    var n = 0
    while (more && n < 10) {
      SparkInternals.drainListenerBus(sc)
      mb = afterFullGcMb()
      more = SparkInternals.awaitCleaner(sc)
      n += 1
    }
    mb
  }

  private def session(m: Manifest): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${m.cores}]")
      // the session graft.Bench measures with
      .config("spark.sql.shuffle.partitions", m.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${m.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${m.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val m = Manifest.read(args(0))
    // Each set-up round starts a session, runs warm-up ops on throwaway
    // state and builds the state the ops read; the last round's session
    // and state serve the timed ops.
    val roundEndEpochMs = mutable.ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    (0 until m.setupRounds).foreach { r =>
      if (spark != null) spark.stop()
      spark = SetupPhases.time(s"round${r}_session")(session(m))
      Workload(spark, m).setup(r)
      roundEndEpochMs += System.currentTimeMillis()
    }
    val tracer = new Tracer(spark, listen = m.trace)
    val w = Workload(spark, m)
    w.beginPass("timed")

    // ---- timed closed loop: the next op starts when the previous returns.
    // Full GCs after each op sample old-generation occupancy; they are
    // outside the op's time and the loop's time budget.
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstOpEpochMs = System.currentTimeMillis()
    val runMs0 = tracer.listener.executorRunMs
    var opS = 0.0
    var heapPeakMb = 0.0
    var i = 0
    while (i < w.opCount && (i < MinOps || opS < m.seconds)) {
      val s = System.nanoTime()
      val err =
        try { w.run(i, tracer); None }
        catch { case scala.util.control.NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val dur = (System.nanoTime() - s) / 1e9
      opS += dur
      val g = System.nanoTime()
      val heap = oldGenAfterGcMb(spark.sparkContext)
      heapPeakMb = math.max(heapPeakMb, heap)
      ops += Map("i" -> i, "dur_s" -> dur, "old_gen_after_gc_mb" -> heap,
        "heap_sample_s" -> (System.nanoTime() - g) / 1e9,
        "ok" -> err.isEmpty, "error" -> err.map(_.linesIterator.take(3).mkString(" | ")))
      i += 1
    }
    tracer.drain()
    val utilization = (tracer.listener.executorRunMs - runMs0) / 1e3 / (opS * m.cores)
    val finishStart = System.nanoTime()
    val finish = w.finish()
    val finishS = (System.nanoTime() - finishStart) / 1e9

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> m.workload,
      "cores" -> m.cores,
      "setup_round_end_epoch_ms" -> roundEndEpochMs.toSeq,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "timed_op_s" -> opS,
      "setup_phases_s" -> SetupPhases.seconds.toMap,
      "exhausted" -> (i >= w.opCount && opS < m.seconds),
      "ops" -> ops.toSeq,
      "old_gen_peak_mb" -> heapPeakMb,
      "finish_s" -> finishS,
      "finish" -> finish)

    if (m.trace) {
      record("spark.core_utilization") = utilization
      record("trace") = traced(spark, m, w, tracer, ops.size)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** The same first ops three times, each pass on fresh state: untraced,
    * then twice traced. The untraced pass runs beside the traced ones so
    * the tracing overhead compares like with like.
    */
  private def traced(spark: SparkSession, m: Manifest, w: Workload, tracer: Tracer,
      timedOps: Int): Map[String, Any] = {
    val k = math.max(1, math.min(timedOps, m.maxTracedOps))
    w.beginPass("untraced")
    val untracedS = (0 until k).map { i =>
      val s = System.nanoTime()
      w.run(i, tracer)
      (System.nanoTime() - s) / 1e9
    }
    val probes = mutable.Map.empty[String, Map[String, Double]]
    tracer.enabled = true
    Seq("traceA", "traceB").foreach { pass =>
      w.beginPass(pass)
      (0 until k).foreach { i =>
        tracer.op(pass, i)(w.run(i, tracer))
      }
      probes(pass) = tracer.probe(w.stateProbe())
    }
    tracer.enabled = false
    tracer.drain()
    val spans = tracer.spans.toSeq.map { s =>
      val c = tracer.counters(s)
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass, "op" -> s.op,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        // rows handed back to the caller plus rows written to storage
        "rows_out" -> (s.rowsOut + c.rowsWritten),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9,
        "shuffle_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "planning_ms" -> c.planningMs, "job_call_sites" -> c.jobCallSites.toMap)
    }
    Map("ops" -> k, "untraced_op_s" -> untracedS, "spans" -> spans, "state" -> probes.toMap)
  }
}
