package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.util.control.NonFatal
object Bench {

  /** The previous committed bench record, as far as cross-round
    * comparison needs it: per-query min seconds, calibrated mins when
    * the record carries them, its probe floor (box-speed unit), and
    * the sf and core count it ran at.
    */
  private case class PrevRecord(
      sf: String,
      cpus: String,
      mins: Map[String, Double],
      minsCalibrated: Map[String, Double],
      probeFloor: Option[Double])

  private def parsePrev(path: String): Option[PrevRecord] =
    scala.util.Try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      def numMap(field: String): Map[String, Double] = j \ field match {
        case JObject(fs) => fs.collect {
          case JField(k, JDouble(v)) => k -> v
          case JField(k, JInt(v)) => k -> v.toDouble
          case JField(k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
      val sf = j \ "sf" match { case JString(s) => s; case _ => "" }
      val cpus = j \ "cpus" match { case JString(s) => s; case _ => "" }
      val probes = j \ "probe_timeline" match {
        case JArray(xs) => xs.collect {
          case JArray(List(_, _, JDouble(t))) => t
          case JArray(List(_, _, JInt(t))) => t.toDouble
          case JArray(List(_, _, JDecimal(t))) => t.toDouble
        }
        case _ => Nil
      }
      val mins = numMap("queries_min")
      val floor = (probes ++ mins.get("calibration_cpu")) match {
        case Nil => None
        case xs => Some(xs.min)
      }
      PrevRecord(sf, cpus, mins, numMap("queries_min_calibrated"), floor)
    }.toOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // byte-based AQE coalescing under-parallelizes CPU-heavy text stages
      // on small local files; 16k floor keeps them spread across cores
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // InferFiltersFromGenerate clones the full generator-input expression
      // tree (regex tokenization) into a scan-level filter — pure overhead
      // for our explode pipelines, whose generators drop nothing
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    // CPU-bound CALIBRATION probe: a fixed integer kernel — no I/O, no
    // shuffle beyond the one-row final agg, no data dependence — recorded
    // in every bench run so cross-round comparisons can DIVIDE OUT the
    // box's momentary speed (co-tenant load) instead of inferring it from
    // the ratio distribution (the r12 verdict had to reconstruct a 1.21×
    // box factor that way). Not a SparkEntry gate (nothing to oracle);
    // excluded from "total" so round totals stay comparable.
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    val calibration: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(0L, 1L << 30, 1L, s.sparkContext.defaultParallelism)
        .select(xxhash64(col("id")).as("_h"))
        .select(expr("bit_xor(_h)").as("h")) // xor-fold: no ANSI overflow
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
    val selected = (Seq("calibration_cpu" -> calibration) ++ ordered)
      .filter { case (n, _) => only.forall(_.contains(n)) }
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
    // PROBE TIMELINE (r14 lesson: one probe per sweep made a loaded
    // closing box unadjudicable — a mid-sweep burst could not be
    // attributed to the queries it covered). Every `probeEvery` queries
    // within each block, one extra calibration-kernel sample records
    // (block, last query completed, seconds): a reader maps any
    // per-query inflation to the box speed AT THAT POINT in the sweep.
    // ~12 samples/block on the full suite ≈ +3 s — negligible.
    val probeEvery = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_EVERY", "25").toInt
    val probeTimeline = scala.collection.mutable.ListBuffer.empty[(Int, String, Double)]
    // (block index 0/1, position in `selected`, probe seconds) — the
    // calibration query's own runs double as position-0 samples
    val probeAt = scala.collection.mutable.ListBuffer.empty[(Int, Int, Double)]
    for ((blockRuns, bi) <- blocks.zipWithIndex; i <- selected.indices) {
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
        val dt = (System.nanoTime() - t0) / 1e9
        times(i) :+= dt
        gcMs(i) :+= gcMillis() - g0
        if (selected(i)._1 == "calibration_cpu") probeAt += ((bi, i, dt))
      }
      if (probeEvery > 0 && i % probeEvery == probeEvery - 1) {
        val t0 = System.nanoTime()
        try calibration(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case NonFatal(_) => () }
        val dt = (System.nanoTime() - t0) / 1e9
        probeTimeline += ((bi + 1, selected(i)._1, dt))
        probeAt += ((bi, i, dt))
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
    // CALIBRATED MINS (r15 verdict ask): the probe timeline already
    // attributes bursts; finish the job by dividing each query's min by
    // its LOCAL box factor — nearest-in-sweep probe sample (in the block
    // the min came from) over the sweep's probe floor — so a reader gets
    // "seconds at this sweep's quiet-floor box speed" per query with no
    // hand interpolation. Queries between two probe samples interpolate
    // linearly by sweep position.
    val probeFloorCur: Option[Double] =
      if (probeAt.isEmpty) None else Some(probeAt.map(_._3).min)
    def localProbe(block: Int, pos: Int): Option[Double] = {
      val inBlock = probeAt.filter(_._1 == block).map(p => (p._2, p._3)).toSeq
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }.toSeq
        .sortBy(_._1)
      if (inBlock.isEmpty) None
      else {
        val before = inBlock.filter(_._1 <= pos)
        val after = inBlock.filter(_._1 > pos)
        (before.lastOption, after.headOption) match {
          case (Some((p0, v0)), Some((p1, v1))) =>
            Some(v0 + (v1 - v0) * (pos - p0).toDouble / (p1 - p0).toDouble)
          case (Some((_, v0)), None) => Some(v0)
          case (None, Some((_, v1))) => Some(v1)
          case _ => None
        }
      }
    }
    val calibrated: Map[String, (Double, Double)] = selected.indices.flatMap { i =>
      if (failed(i) || times(i).isEmpty) None
      else {
        val minIdx = times(i).indexOf(times(i).min)
        val block = if (minIdx < blocks.head) 0 else 1
        (localProbe(block, i), probeFloorCur) match {
          case (Some(lp), Some(floor)) if lp > 0 =>
            Some(selected(i)._1 -> ((times(i).min * floor / lp, lp)))
          case _ => None
        }
      }
    }.toMap
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failed queries report null (never a fake elapsed time) and are listed
    // by name; total covers only successful queries
    val qs = results.map { case (k, med, _, _, f) =>
      s"\"" + k + "\":" + (if (f) "null" else med.toString)
    }.mkString("{", ",", "}")
    val mins = jmap(ok.map(r => r._1 -> r._3))
    val p25s = jmap(ok.map(r => r._1 -> r._4))
    val minsCal = jmap(ok.flatMap(r => calibrated.get(r._1).map(c => r._1 -> c._1)))
    val probeLocal = jmap(ok.flatMap(r => calibrated.get(r._1).map(c => r._1 -> c._2)))
    // raw per-run arrays IN RUN ORDER (block 1 then block 2), so a reader
    // can see whether a slow median is one covered block (co-tenant burst)
    // or spread across both (plan/heap); GC wall ms per run alongside
    def jarr(f: Int => String): String = selected.indices.map { i =>
      "\"" + selected(i)._1 + "\":[" + f(i) + "]"
    }.mkString("{", ",", "}")
    val runsJson = jarr(i => times(i).map(t => f"$t%.3f").mkString(","))
    val gcJson = jarr(i => gcMs(i).mkString(","))
    val failedNames = results.filter(_._5).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val okGated = ok.filterNot(_._1 == "calibration_cpu")
    val total = if (okGated.nonEmpty) okGated.map(_._2).sum else 0.0
    // [block, last-query-completed, probe seconds] in sweep order
    val probeJson = probeTimeline.map { case (b, n, t) =>
      f"""[$b,"$n",$t%.3f]"""
    }.mkString("[", ",", "]")
    // VS_PREV (r15 verdict ask): the cross-round comparison the judge
    // previously did by hand, emitted machine-readable. Shared-query
    // sums and median per-query ratio, raw AND calibrated (each side's
    // numbers divided by its own probe floor — the box-speed unit — so
    // a slower/faster box cancels out). Only computed when the previous
    // record ran at the SAME sf and core count; prev calibrated mins are
    // used when the record carries them, raw mins otherwise.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val vsPrev: String = prev match {
      case Some(p) if p.sf == sfDir && p.cpus == cpus =>
        val curMins = ok.filterNot(_._1 == "calibration_cpu")
          .map(r => r._1 -> r._3).toMap
        val shared = curMins.keySet.intersect(p.mins.keySet)
          .filterNot(_ == "calibration_cpu").toSeq.sorted
        if (shared.isEmpty) "null"
        else {
          val sumCur = shared.map(curMins).sum
          val sumPrev = shared.map(p.mins).sum
          val ratios = shared.map(n => curMins(n) / p.mins(n))
          val calBlock = (probeFloorCur, p.probeFloor) match {
            case (Some(fc), Some(fp)) if fc > 0 && fp > 0 =>
              // local (nearest-probe) calibration only when BOTH records
              // carry it — calibrating one side of the ratio and not the
              // other systematically discounts whichever sweep ran on
              // the busier box (measured: 0.68× "calibrated" vs 0.96×
              // floor-only on the first record with this field).
              // Otherwise both sides divide by their probe FLOOR only.
              val local = p.minsCalibrated.nonEmpty
              val curCal = shared.map(n => n ->
                ((if (local) calibrated.get(n).map(_._1).getOrElse(curMins(n))
                  else curMins(n)) / fc)).toMap
              val prevCal = shared.map(n =>
                n -> (p.minsCalibrated.getOrElse(n, p.mins(n)) / fp)).toMap
              val calRatios = shared.map(n => curCal(n) / prevCal(n))
              f""","probe_floor_cur":$fc%.4f,"probe_floor_prev":$fp%.4f""" +
                s""","cal_mode":"${if (local) "local" else "floor-only"}"""" +
                f""","ratio_calibrated":${curCal.values.sum / prevCal.values.sum}%.4f""" +
                f""","median_ratio_calibrated":${median(calRatios)}%.4f"""
            case _ => ""
          }
          f"""{"prev":"$prevPath","shared":${shared.length}""" +
            f""","sum_min_cur":$sumCur%.3f,"sum_min_prev":$sumPrev%.3f""" +
            f""","ratio_raw":${sumCur / sumPrev}%.4f""" +
            f""","median_ratio_raw":${median(ratios)}%.4f""" + calBlock + "}"
        }
      case Some(p) if p.sf != sfDir =>
        s"""{"prev":"$prevPath","skipped":"sf mismatch: prev ran at ${p.sf}"}"""
      case Some(p) =>
        s"""{"prev":"$prevPath","skipped":"cpus mismatch: prev ran at ${if (p.cpus.isEmpty) "an unrecorded core count" else p.cpus}"}"""
      case None => "null"
    }
    // STDOUT LINE vs FULL RECORD (r16 verdict #2): the r15 driver
    // capture truncated the stdout line mid-JSON — per-run arrays, GC
    // arrays, the probe timeline and the vs_prev block had grown it to
    // several hundred KB and the round-over-round PERF table came back
    // empty (prev_bench_ok: false). The stdout line is now COMPACT —
    // totals + per-query medians + per-query mins + failed + vs_prev,
    // ~30 KB, the exact fields cross-round comparison needs — while the
    // FULL record (runs, GC, p25, probe timeline, calibrated mins)
    // keeps landing in the SPARK_GRAFT_BENCH_OUT file, which is what
    // every adjudication workflow reads anyway. No measurement changed:
    // same timed region, same stats; only where each field is printed.
    val compactLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs""" +
      s""","queries_min":$mins,"failed_queries":$failedNames""" +
      s""","vs_prev":$vsPrev,"order":"$order"""" +
      s""","runs_per_query":$runsPerQuery,"stat":"median","interleaved":"two-block","sf":"$sfDir","cpus":"$cpus"}"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs""" +
      s""","queries_min":$mins,"queries_p25":$p25s,"queries_runs":$runsJson""" +
      s""","queries_gc_ms":$gcJson,"failed_queries":$failedNames""" +
      s""","probe_timeline":$probeJson""" +
      s""","queries_min_calibrated":$minsCal,"queries_probe_local":$probeLocal""" +
      s""","vs_prev":$vsPrev,"order":"$order"""" +
      s""","runs_per_query":$runsPerQuery,"stat":"median","interleaved":"two-block","sf":"$sfDir","cpus":"$cpus"}"""
    println(compactLine)
    // belt-and-braces: the full record persists where the driver (and
    // the next round's parsePrev) can read it even if stdout is
    // decorated or truncated by the launcher
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullLine + "\n")
    catch { case NonFatal(_) => () }
    spark.stop()
  }
}
