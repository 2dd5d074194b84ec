package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.util.control.NonFatal
object Bench {

  /** The previous committed bench record, as far as cross-round
    * comparison needs it: per-query min seconds and the sf and core
    * count it ran at.
    */
  private case class PrevRecord(sf: String, cpus: String, mins: Map[String, Double])

  private def parsePrev(path: String): Option[PrevRecord] =
    scala.util.Try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      val mins = j \ "queries_min" match {
        case JObject(fs) => fs.collect {
          case JField(k, JDouble(v)) => k -> v
          case JField(k, JInt(v)) => k -> v.toDouble
          case JField(k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
      val sf = j \ "sf" match { case JString(s) => s; case _ => "" }
      val cpus = j \ "cpus" match { case JString(s) => s; case _ => "" }
      PrevRecord(sf, cpus, mins)
    }.toOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // GraftSession runs one shuffle partition per core
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // optional stage profile: per-stage executor run time + task count to
    // stderr — the single-task-stage check is the first diagnostic for any
    // per-query regression (a 1-task stage = a serialization bug)
    if (sys.env.contains("SPARK_GRAFT_BENCH_STAGES")) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          System.err.println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"runTime=${si.taskMetrics.executorRunTime / 1e3}%8.2fs " +
            f"cpuTime=${si.taskMetrics.executorCpuTime / 1e9}%8.2fs ${si.name.take(80)}")
        }
      })
    }
    // warm-up: session/codegen/scan initialization must not be charged to
    // whichever query happens to run first
    spark.range(1000000L).selectExpr("sum(id)").collect()
    new java.io.File(sfDir).listFiles((_, n) => n.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).count())
    // 5 runs by default: r4's noise adjudication leaned on queries_min,
    // and 3 runs can all land inside one co-tenant load burst (the r4
    // merge-family false alarm did exactly that)
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    require(runsPerQuery >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $runsPerQuery")
    // optional comma-separated filter for iterating on single queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    // previous committed record: read BEFORE this run overwrites the
    // default output path — feeds the cost-ordered schedule and the
    // vs_prev comparison block
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench_out.json")
    val prev = parsePrev(prevPath)
    // RUN ORDER. "spread" (default, when a previous record exists):
    // rank queries by DESCENDING previous-round min (unknown new gates
    // — often heavy end-to-end fixtures — rank last), then place ranks
    // into the sweep by BIT-REVERSAL, so expensive queries land
    // maximally far apart, each surrounded by cheap ones. Measured
    // rationale (the r16 schedule A/B at sf0.1, same box, minutes
    // apart): with the three new ~7-12 s fixtures alphabetically
    // adjacent, pq_retrain_epoch min = 12.8 s (replicating the r15
    // record's 12.5); with only the schedule changed — the fixtures
    // removed — the family recovered 10-28% (retrain_epoch 9.2 s).
    // Heavy queries inflate their NEIGHBORS, so neither alphabetical
    // (new fixtures cluster by prefix) nor plain descending cost
    // (every heavy query clusters at the front) is safe — spreading
    // is. Deterministic: a pure function of the committed previous
    // record. "cost" = plain descending (the clustered variant, kept
    // for A/Bs); "alpha" = legacy sorted order (fallback, no record).
    val order = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER",
      if (prev.isDefined) "spread" else "alpha")
    val gateSeq = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = order match {
      case "cost" | "spread" =>
        val cost = prev.map(_.mins).getOrElse(Map.empty)
        val (known, unknown) = gateSeq.partition(q => cost.contains(q._1))
        val byCost = known.sortBy { case (n, _) => (-cost(n), n) } ++ unknown
        if (order == "cost") byCost
        else {
          val m = byCost.length
          var bits = 0
          while ((1 << bits) < m) bits += 1
          (0 until (1 << bits)).iterator
            .map(p => if (bits == 0) 0 else Integer.reverse(p) >>> (32 - bits))
            .filter(_ < m).map(byCost).toSeq
        }
      case _ => gateSeq
    }
    val selected = ordered.filter { case (n, _) => only.forall(_.contains(n)) }
    // BLOCK-interleaved runs: each query runs in TWO separated
    // consecutive blocks (ceil(N/2) then floor(N/2) runs) rather than
    // one N-run burst or full per-run interleaving. Rationale, measured:
    // a co-tenant load burst can cover all N consecutive runs of one
    // query (the r4/r5 false-regression mode), but full round-robin
    // poisons the per-query MIN — every revisit pays cold CPU caches and
    // the session state the other 70+ queries accumulated between visits
    // (2× on short shuffle-light queries like ngram_jaccard_pairs).
    // Two blocks keep a warm consecutive run in every query's sample
    // (the min floor survives) while a burst can no longer cover both.
    val times = Array.fill(selected.length)(Vector.empty[Double])
    val gcMs = Array.fill(selected.length)(Vector.empty[Long])
    val failed = Array.fill(selected.length)(false)
    // per-run GC wall time (all collectors, this JVM): the r10 verdict's
    // merge_addtoset_structs anomaly (min 2s / median 24s) was unreadable
    // from three summary stats — per-run times + GC make every future
    // burst self-adjudicating (high time + high GC = heap/co-tenant
    // pressure; high time + flat GC = the plan itself)
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val blocks = Seq(runsPerQuery - runsPerQuery / 2, runsPerQuery / 2).filter(_ > 0)
    for (blockRuns <- blocks; i <- selected.indices) {
      for (_ <- 0 until blockRuns) {
        val (name, fn) = selected(i)
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        // noop write forces full evaluation of every output column — a bare
        // .count() lets Catalyst prune projections and EliminateSorts drop
        // sorts, benchmarking narrow queries as little more than a scan
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
        catch { case NonFatal(e) =>
          // a failed query must not score as a plausible-looking time
          failed(i) = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        times(i) :+= (System.nanoTime() - t0) / 1e9
        gcMs(i) :+= gcMillis() - g0
      }
    }
    // median of N runs: single-shot numbers carry JIT/GC noise that made
    // round-over-round per-query deltas untrustworthy. min is recorded
    // alongside so cross-round comparisons can split machine noise from
    // real regressions without a re-run (min is the low-noise floor).
    // p25 sits between them: with 5 runs the min is ONE sample, so a
    // lucky (or load-burst-free) outlier can move it alone — p25 (the
    // second-lowest at n=5) needs two concordant samples, letting a
    // flagged round self-adjudicate bursts without a judge re-run
    val results = selected.indices.map { i =>
      val ts = times(i).sorted
      (selected(i)._1, ts(ts.length / 2), ts.head, ts((ts.length - 1) / 4), failed(i))
    }
    val ok = results.filterNot(_._5)
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failed queries report null (never a fake elapsed time) and are listed
    // by name; total covers only successful queries
    val qs = results.map { case (k, med, _, _, f) =>
      s"\"" + k + "\":" + (if (f) "null" else med.toString)
    }.mkString("{", ",", "}")
    val mins = jmap(ok.map(r => r._1 -> r._3))
    val p25s = jmap(ok.map(r => r._1 -> r._4))
    // raw per-run arrays IN RUN ORDER (block 1 then block 2), so a reader
    // can see whether a slow median is one covered block (co-tenant burst)
    // or spread across both (plan/heap); GC wall ms per run alongside
    def jarr(f: Int => String): String = selected.indices.map { i =>
      "\"" + selected(i)._1 + "\":[" + f(i) + "]"
    }.mkString("{", ",", "}")
    val runsJson = jarr(i => times(i).map(t => f"$t%.3f").mkString(","))
    val gcJson = jarr(i => gcMs(i).mkString(","))
    val failedNames = results.filter(_._5).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // VS_PREV: the cross-round comparison, machine-readable — shared-query
    // sums of mins and the median per-query min ratio. Only computed when
    // the previous record ran at the SAME sf and core count.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val vsPrev: String = prev match {
      case Some(p) if p.sf == sfDir && p.cpus == cpus =>
        val curMins = ok.map(r => r._1 -> r._3).toMap
        val shared = curMins.keySet.intersect(p.mins.keySet).toSeq.sorted
        if (shared.isEmpty) "null"
        else {
          val sumCur = shared.map(curMins).sum
          val sumPrev = shared.map(p.mins).sum
          val ratios = shared.map(n => curMins(n) / p.mins(n))
          f"""{"prev":"$prevPath","shared":${shared.length}""" +
            f""","sum_min_cur":$sumCur%.3f,"sum_min_prev":$sumPrev%.3f""" +
            f""","ratio_raw":${sumCur / sumPrev}%.4f""" +
            f""","median_ratio_raw":${median(ratios)}%.4f}"""
        }
      case Some(p) if p.sf != sfDir =>
        s"""{"prev":"$prevPath","skipped":"sf mismatch: prev ran at ${p.sf}"}"""
      case Some(p) =>
        s"""{"prev":"$prevPath","skipped":"cpus mismatch: prev ran at ${if (p.cpus.isEmpty) "an unrecorded core count" else p.cpus}"}"""
      case None => "null"
    }
    // STDOUT LINE vs FULL RECORD: a driver capture truncates a stdout
    // line of several hundred KB, so stdout carries only the COMPACT
    // line (totals, per-query medians and mins, failed, vs_prev) and the
    // FULL record (adding per-run times, GC and p25) goes to the
    // SPARK_GRAFT_BENCH_OUT file, which the next run's parsePrev reads.
    val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs""" +
      s""","queries_min":$mins"""
    val tail = s""","failed_queries":$failedNames""" +
      s""","vs_prev":$vsPrev,"order":"$order"""" +
      s""","runs_per_query":$runsPerQuery,"stat":"median","interleaved":"two-block","sf":"$sfDir","cpus":"$cpus"}"""
    val fullLine = head +
      s""","queries_p25":$p25s,"queries_runs":$runsJson,"queries_gc_ms":$gcJson""" + tail
    println(head + tail)
    // belt-and-braces: the full record persists where the driver (and
    // the next round's parsePrev) can read it even if stdout is
    // decorated or truncated by the launcher
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullLine + "\n")
    catch { case NonFatal(_) => () }
    spark.stop()
  }
}
