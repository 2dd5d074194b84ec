package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators.Binning

/** Plan-shape assertions: the properties that make these operators hold at
  * 100 TB — pushdown reaching the scan, column pruning, broadcast of small
  * sides, narrow fan-out, partial aggregation — checked on the actual
  * optimized/physical plans against the driver's parquet tables.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val q = t("lineitem")
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = physical(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("small dimension side of a join is broadcast, not shuffled") {
    val c = t("customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t("orders")
    val q = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
    assert(physical(q).contains("BroadcastHashJoin"), physical(q))
  }

  test("bin fan-out is narrow: no Exchange below the count aggregate's shuffle") {
    val ev = SparkEntry.events(spark, dir).select(col("ts"), col("event_type"))
    val q = Binning.binAndCount(ev, Seq(
      DateBinner("t", "ts", DateGranularity.DAY),
      LiteralBinner("e", "event_type")))
    val plan = physical(q)
    // exactly one exchange: the aggregate's (partial agg happens before it)
    assert(plan.split("Exchange ").length - 1 == 1, plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count") ||
      plan.split("HashAggregate").length - 1 >= 2, plan)
  }

  test("count aggregate uses two-phase hash aggregation (map-side combine)") {
    val ev = t("events").select(col("event_type"))
    val q = Binning.binAndCount(ev, Seq(LiteralBinner("e", "event_type")))
    val plan = physical(q)
    assert(plan.split("HashAggregate").length - 1 >= 2, plan) // partial + final
  }

  test("centroid assignment is narrow: no Exchange, no join in the plan") {
    import graft.operators.Similarity
    val emb = t("embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Similarity.seedCentroids(emb, "id", "vec", 4)
    val assigned = Similarity.assignToCentroids(emb, "id", "vec", cents)
    val plan = physical(assigned)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ANN top-k reduction is k-bounded: partial graft_topk before the exchange") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val emb = t("embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "query_id", "qv",
      k = 10, metric = VectorFunctions.dot, scoreName = "dot")
    val plan = physical(topk)
    // two-phase aggregation: a partial ObjectHashAggregate/SortAggregate of
    // graft_topk runs map-side, so the exchange carries ≤ k rows per query
    // per input partition — not every scored row
    assert(plan.split("graft_topk").length - 1 >= 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("LSH top-k: corpus buckets narrowly, probes broadcast, reduction k-bounded") {
    import graft.operators.Similarity
    val emb = t("embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 3)
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
    val topk = Similarity.lshTopK(emb, "id", "vec", q, "qid", "qvec", k = 5, bits = 8)
    val plan = physical(topk)
    // query probes broadcast to the corpus (never a corpus shuffle for
    // the candidate join), two-phase k-bounded top-k, no Window
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.split("graft_topk").length - 1 >= 2, plan)
    assert(!plan.contains("Window"), plan)
    // the corpus branch below the candidate join carries no Exchange:
    // bucket assignment is a narrow native expression at the scan
    assert(topk.queryExecution.optimizedPlan.toString.contains("graft_srp_bucket"))
  }

  test("merge collapse partial-aggregates map-side before its exchange") {
    import graft.operators.Merge
    val li = t("lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag").as("status"), col("l_quantity").as("qty"))
    val spec = MergeSpec(Seq("l_orderkey"), Seq(
      MergeFieldSpec("status", MergeOp.Set), MergeFieldSpec("qty", MergeOp.Inc)))
    val plan = physical(Merge.collapseIncoming(li, spec, "l_linenumber"))
    // partial (pre-shuffle) + final aggregate: the update skew guard — the
    // exchange carries at most one row per (key, mapper)
    val firstExchange = plan.indexOf("Exchange")
    val firstAgg = plan.indexOf("Aggregate")
    assert(firstExchange >= 0 && firstAgg >= 0, plan)
    assert(plan.split("Aggregate").length - 1 >= 2, plan)
    // plans print top-down: the FINAL aggregate appears before the
    // exchange, and a second (partial) aggregate appears after it
    assert(plan.indexOf("Aggregate", firstExchange) > firstExchange, plan)
  }

  test("duplicate-check existence join broadcasts the small key side") {
    import graft.operators.DuplicateCheck
    val incoming = t("lineitem").select(col("l_orderkey"), col("l_linenumber"))
    val existing = t("orders").filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("l_orderkey"))
    val plan = physical(
      DuplicateCheck.route(incoming, existing, Seq("l_orderkey"), "l_linenumber"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("single-mode merge eligibility is a partial-aggregated argmin, not a Window") {
    import graft.operators.Merge
    val state = t("lineitem").select(
      col("l_orderkey").as("k"), col("l_linenumber").as("line"),
      col("l_returnflag").as("status"))
    val elig = physical(Merge.markEligible(state, Seq("k")))
    // no Window (the old form shuffled + sorted the whole state payload by
    // every column); the argmin is two-phase — a partial aggregate runs
    // map-side so the exchange carries one row per (key, partition)
    assert(!elig.contains("Window"), elig)
    assert(elig.contains("partial_min"), elig)
    // and the full single-mode merge never reintroduces a window
    val incoming = t("orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
      .withColumn("seq", lit(0))
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("status", MergeOp.Set)),
      updateMany = false)
    assert(!physical(Merge.upsertBatch(state, incoming, spec, "seq").state)
      .contains("Window"))
  }

  test("simhash signatures are NARROW: one native per-row pass, no agg/shuffle before banding") {
    import graft.operators.Dedup
    val d = t("documents").select(col("doc_id"), col("text"))
    val q = Dedup.simHashDupPairs(d, "text", "doc_id", maxHamming = 0)
    val opt = q.queryExecution.optimizedPlan.toString
    val plan = physical(q)
    // the signature is a per-row native expression — the plan must carry
    // NO collect_list (the old reassembly shuffle) and no Window; the only
    // aggregate left is the final distinct()
    assert(opt.contains("graft_simhash_shingles"), opt)
    assert(!plan.contains("collect_list"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("minhash pair plan: narrow native signatures, codegen'd overlap verify, no HOF") {
    import graft.operators.Dedup
    val d = t("documents").select(col("doc_id"), col("text"))
    val q = Dedup.minHashDupPairs(d, "text", "doc_id", numHashes = 16, bands = 8,
      threshold = 1.0)
    val opt = q.queryExecution.optimizedPlan.toString
    // per-row native signature (no explode+agg reassembly), native
    // overlap count — no interpreted zip_with/filter HOF per candidate
    assert(opt.contains("graft_minhash_sig"), opt)
    assert(opt.contains("graft_sig_overlap"), opt)
    assert(!opt.contains("zip_with"), opt)
    val plan = physical(q)
    assert(!plan.contains("Window"), plan)
  }

  test("bucketed state tables join exchange-free (co-located join contract)") {
    import graft.engine.Partitioning
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val a = t("orders").select(col("o_orderkey"), col("o_orderstatus"))
    val b = t("orders").select(col("o_orderkey"), col("o_totalprice"))
    Partitioning.writeBucketed(a, "g_bucket_a", s"$wh/a", Seq("o_orderkey"), 4)
    Partitioning.writeBucketed(b, "g_bucket_b", s"$wh/b", Seq("o_orderkey"), 4)
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      val joined = spark.table("g_bucket_a").join(spark.table("g_bucket_b"), "o_orderkey")
      val plan = physical(joined)
      // both sides scan pre-bucketed files with matching distribution: the
      // shuffle was paid ONCE at write time, the join replans none
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == a.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_bucket_a")
      spark.sql("DROP TABLE IF EXISTS g_bucket_b")
    }
  }

  test("partition-column filter prunes partitions at the scan (no data read for other routes)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-prune").toString
    t("documents").select(col("doc_id"), col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(wh)
    val q = spark.read.parquet(wh).filter(col("lang") === "en")
    val plan = physical(q)
    // the lang predicate lands in PartitionFilters (directory pruning),
    // not in PushedFilters/data filters — other languages' files are
    // never opened
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(q.queryExecution.executedPlan.toString.contains("(lang#") ||
      plan.contains("= en"), plan)
  }

  test("IVF partitioned probe: PartitionFilters on centroid_id; reads < nprobe/C of the files") {
    import graft.operators.Similarity
    val emb = t("embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
    val c = 8; val nprobe = 2
    val cents = Similarity.seedCentroids(emb, "id", "vec", c)
    val assigned = Similarity.assignToCentroids(emb, "id", "vec", cents)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfplan").toString
    Similarity.writeAssigned(assigned, out)
    // every centroid got at least one file (so pruning is observable)
    val allParts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(allParts == c, s"expected $c partition dirs, got $allParts")
    val q = emb.filter(col("id") === 0L)
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
    val topk = Similarity.ivfTopKPartitioned(out, "id", "vec", cents, q,
      "qid", "qvec", k = 1, nprobe = nprobe)
    val plan = physical(topk)
    // the probed-id literal IN lands in PartitionFilters — directory
    // pruning, not a post-scan row filter
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("centroid_id"), plan)
    // and the scan really opens only the probed directories: numFiles
    // after execution = files under nprobe dirs (1 query ⇒ ≤ nprobe ids)
    topk.collect()
    // the scan sits under AQE wrappers (AdaptiveSparkPlanExec holds its
    // final plan out-of-tree; QueryStageExec holds its stage plan)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(topk.queryExecution.executedPlan)
      .find(_.toString.contains("centroid_id")).get
    val filesRead = scan.metrics("numFiles").value
    val filesTotal = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesRead <= filesTotal * nprobe / c,
      s"read $filesRead of $filesTotal files — pruning not physical")
  }

  test("e6 IVF partitioned probe: PartitionFilters physical pruning; same answer as the in-memory operator") {
    import graft.operators.Similarity
    import spark.implicits._
    // e6 corpus on a line, 4 single-point cells — every cell non-empty
    val corp = (0 until 16).map(i => (i.toLong, Seq(i * 1000000L)))
      .toDF("id", "v")
    val cells = Seq((100L, Seq(1000000L)), (101L, Seq(5000000L)),
        (102L, Seq(9000000L)), (103L, Seq(13000000L)))
      .toDF("centroid_id", "centroid_e6")
    val out = java.nio.file.Files.createTempDirectory("graft-ivfe6plan").toString
    Similarity.writeAssignedE6(corp, "id", "v", cells, out)
    val allParts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(allParts == 4, s"expected 4 partition dirs, got $allParts")
    val q = corp.filter(col("id") === 2L)
      .select((col("id") + 1000L).as("qid"), col("v").as("qv"))
    val topk = Similarity.ivfTopKExactE6Partitioned(out, "id", "v", cells,
      q, "qid", "qv", k = 3, nprobe = 2)
    val plan = physical(topk)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("centroid_id"), plan)
    // exact agreement with the in-memory operator at the same nprobe
    val mem = Similarity.ivfTopKExactE6(corp, "id", "v", cells,
        q, "qid", "qv", k = 3, nprobe = 2)
      .select("query_id", "neighbor_id", "dist_e12", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val part = topk.select("query_id", "neighbor_id", "dist_e12", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(part == mem && part.nonEmpty, s"part=$part mem=$mem")
    // physical pruning: only the 2 probed cell dirs' files are opened
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(topk.queryExecution.executedPlan)
      .find(_.toString.contains("centroid_id")).get
    val filesRead = scan.metrics("numFiles").value
    val filesTotal = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesRead <= filesTotal * 2 / 4,
      s"read $filesRead of $filesTotal files — pruning not physical")
    // write-time hot-cell tripwire
    val hot = intercept[Exception] {
      Similarity.writeAssignedE6(corp, "id", "v", cells,
        java.nio.file.Files.createTempDirectory("graft-ivfe6hot").toString,
        maxCellSize = 2L)
    }
    val msg = Option(hot.getMessage).getOrElse("") +
      Option(hot.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxCellSize"), hot.toString)
    // empty/guard-filtered query set returns empty, matching the
    // in-memory operator — not a require failure
    val badDim = corp.filter(col("id") === 2L)
      .select(col("id").as("qid"), array(lit(1L), lit(2L)).as("qv"))
    val emptyOut = Similarity.ivfTopKExactE6Partitioned(out, "id", "v",
      cells, badDim, "qid", "qv", k = 3, nprobe = 2)
    assert(emptyOut.count() == 0L &&
      emptyOut.columns.toSeq ==
        Seq("query_id", "neighbor_id", "dist_e12", "rank"))
  }

  test("partitioned mutual kNN: value-identical to the in-memory probed operator; subset probes prune files physically") {
    import graft.operators.Similarity
    import spark.implicits._
    // 16 points on a line: the layout stores e6 arrays; the in-memory
    // probed operator takes the float form and converts (toE6)
    val corp = (0 until 16).map(i => (i.toLong, Seq(i * 1000000L)))
      .toDF("id", "v")
    val corpF = (0 until 16).map(i => (i.toLong, Seq(i.toDouble)))
      .toDF("id", "v")
    val cells = Seq((100L, Seq(1000000L)), (101L, Seq(5000000L)),
        (102L, Seq(9000000L)), (103L, Seq(13000000L)))
      .toDF("centroid_id", "centroid_e6")
    val out = java.nio.file.Files.createTempDirectory("graft-mknnpart").toString
    Similarity.writeAssignedE6(corp, "id", "v", cells, out)
    // full self mutual kNN == the in-memory probed operator on the corpus
    val part = Similarity.mutualKnnEdgesPartitionedE6(spark, out, "id", "v",
      cells, k = 3, nprobe = 2)
    assert(physical(part).contains("PartitionFilters: ["), physical(part))
    val mem = Similarity.mutualKnnEdgesProbedE6(corpF, "id", "v", cells,
      k = 3, nprobe = 2)
    val partSet = part.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val memSet = mem.as[(Long, Long)].collect().toSet
    assert(partSet == memSet && partSet.nonEmpty, s"part=$partSet mem=$memSet")
    // a SLICE: ids 0..3 live in cell 100's neighborhood — their probe
    // union misses the far cells, so the corpus scan must skip files
    val slice = (0L to 3L).toDF("id")
    val sub = Similarity.mutualKnnEdgesPartitionedE6(spark, out, "id", "v",
      cells, k = 3, nprobe = 2, querySubset = Some(slice))
    val subMem = Similarity.mutualKnnEdgesProbedE6(
      corpF.filter(col("id") <= 3L), "id", "v", cells, k = 3, nprobe = 2)
    assert(sub.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      subMem.as[(Long, Long)].collect().toSet)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    // evaluating `sub` above populated the scan metrics; the home-side
    // scan (the one carrying the IN filter) must have skipped the cells
    // the slice never probes
    val filesTotal = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val filesRead = scans(sub.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
      .map(_.metrics("numFiles").value).max
    assert(filesRead > 0 && filesRead < filesTotal,
      s"read $filesRead of $filesTotal files — subset probes did not prune")
  }

  test("IVF-PQ probe: PartitionFilters on centroid_id; only probed cell dirs are read") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)),
      (3L, Array(0.9f, 1.1f, 0.1f, 0.0f))
    ).toDF("id", "vec")
    val seeds = vecs.filter(col("id") < 2)
      .select(col("id").as("centroid_id"), col("vec").as("centroid_vec"))
    val cb = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsE6(vecs, "id", "vec", seeds, m = 2))
    val coarse = vecs.filter(col("id") < 2).select(col("id").as("centroid_id"),
      transform(col("vec"), v => floor(v.cast("double") * 1000000d).cast("long"))
        .as("centroid_e6"))
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-plan").toString
    Similarity.buildIvfPqIndex(vecs, "id", "vec", coarse, cb, out)
    val q = vecs.filter(col("id") === 0L)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val topk = Similarity.ivfPqTopKE6(out, "id", coarse, cb, q, "qid", "qvec",
      k = 3, nprobe = 1)
    val plan = physical(topk)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("centroid_id"), plan)
    topk.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qe: QueryStageExec => scans(qe.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(topk.queryExecution.executedPlan)
      .find(_.toString.contains("centroid_id")).get
    val filesRead = scan.metrics("numFiles").value
    val filesCell0 = new java.io.File(s"$out/centroid_id=0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // 1 query × nprobe 1 → exactly the one probed cell's files
    assert(filesRead == filesCell0,
      s"read $filesRead files, probed cell holds $filesCell0 — pruning not physical")
  }

  test("salted join: identical multiset to the plain join; hot key spreads over salts") {
    import graft.engine.Partitioning
    val li = t("lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = t("orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = Partitioning.saltedJoin(li, o, Seq("l_orderkey"), salts = 8)
    // multiset equality both ways (columns align by name)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // left_outer preserves unmatched big-side rows exactly once
    val oSub = o.filter(col("l_orderkey") % 2 === 0)
    val plainL = li.join(oSub, Seq("l_orderkey"), "left_outer")
    val saltedL = Partitioning.saltedJoin(li, oSub, Seq("l_orderkey"), 8, "left_outer")
    assert(saltedL.exceptAll(plainL).isEmpty && plainL.exceptAll(saltedL).isEmpty)
    // a hot key's rows really do land on multiple salts (the point)
    val hot = li.limit(0).sparkSession.range(1000)
      .select(lit(7L).as("k"), col("id"))
    val saltsSeen = hot.withColumn("_salt",
        pmod(xxhash64(struct(col("k"), col("id"))), lit(8L)))
      .select(countDistinct(col("_salt"))).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().head
    assert(saltsSeen == 8L)
  }

  test("bloom semi-join: bit-identical to the plain join; probe filter sits on the fact side") {
    import graft.engine.Partitioning
    val o = t("orders").select(col("o_orderkey"), col("o_custkey"))
    val c = t("customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val plain = o.join(c, col("o_custkey") === col("c_custkey"))
    // deliberately undersized filter (256 bits for ~300 keys → heavy
    // false positives): exactness must come from the join, not the bloom
    val tiny = Partitioning.bloomSemiJoin(o, c, "o_custkey", "c_custkey",
      mBits = 256, k = 2)
    assert(tiny.exceptAll(plain).isEmpty && plain.exceptAll(tiny).isEmpty)
    val sized = Partitioning.bloomSemiJoin(o, c, "o_custkey", "c_custkey",
      mBits = 1 << 16, k = 7)
    assert(sized.exceptAll(plain).isEmpty && plain.exceptAll(sized).isEmpty)
    // the probe is a plain Filter on the fact branch (pre-shuffle/pre-join)
    val pstr = sized.queryExecution.executedPlan.toString
    assert(pstr.contains("graft_bloom_might_contain"), pstr)
    // and it prunes for real: filter survivors ≈ joinable rows (well
    // under the fact count), zero for a disjoint dim modulo the fp rate
    val total = o.count()
    val joinable = plain.count()
    val kept = o.filter(Partitioning.bloomKeep(c, "c_custkey",
      col("o_custkey"), 1 << 16, 7)).count()
    assert(kept >= joinable && kept < total / 2,
      s"kept=$kept joinable=$joinable total=$total")
    val none = Partitioning.bloomSemiJoin(
      o, c.select((col("c_custkey") * -1L - 1L).as("c_custkey"), col("c_name")),
      "o_custkey", "c_custkey", mBits = 1 << 16, k = 7)
    assert(none.count() == 0L)
  }

  test("typed projection stays inside whole-stage codegen (no UDFs)") {
    import graft.functions.TypedAttrs
    val df = t("customer").select(
      map(lit("k"), col("c_custkey").cast("string")).as("attributes"))
    val q = TypedAttrs.project(df, "attributes", TypedProjection(ints = Seq("k")))
    val plan = physical(q)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // whole-stage-codegen'd operators render with a "*(n)" stage prefix
    assert(plan.contains("*(1)"), plan)
  }

  test("dsir scoring: doc filter pushes to the scan, weight table joins broadcast") {
    import graft.operators.ImportanceScoring
    val d = t("documents").filter(col("doc_id") < 2000)
    val w = ImportanceScoring.importanceWeights(
      d.filter(col("source") === "src0"), d, "text", buckets = 256)
    val q = ImportanceScoring.scoreDocs(
      d.filter(col("doc_id") < 500), "doc_id", "text", w, buckets = 256)
    val plan = physical(q)
    // the corpus filter reaches the parquet scan — at 100 TB the scoring
    // pass reads only the candidate slice (both the 2000 and 500 bounds
    // land in PushedFilters)
    assert(plan.contains("LessThan(doc_id,500)") &&
      plan.contains("PushedFilters: [IsNotNull(doc_id)"), plan)
    // the <=B-row weight table broadcasts; exploded token rows are never
    // the shuffled side of the join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("quantized ANN: queries broadcast, reduction k-bounded, no window") {
    import graft.functions.VectorFunctions
    import graft.operators.Similarity
    val emb = t("embeddings")
    val qemb = emb.select(col("vec_id"),
      VectorFunctions.quantize8(col("embedding")).as("qv"))
    val q = Similarity.bruteForceTopK(
      qemb, "vec_id", "qv",
      qemb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv")),
      "query_id", "qqv", k = 10,
      metric = VectorFunctions.quantizedDot, scoreName = "qdot")
    val plan = physical(q)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    // k-bounded two-stage reduction: partial graft_topk below the
    // exchange, no all-rows row_number window
    assert(plan.contains("partial_graft_topk"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("5-table join: dims broadcast, facts shuffle once each, aggregate is two-phase") {
    val c = t("customer"); val o = t("orders"); val li = t("lineitem")
    val n = t("nation"); val r = t("region")
    val q = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"))
    val plan = physical(q)
    // both dimension joins broadcast; no dimension ever shuffles
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the count partial-aggregates below its exchange
    assert(plan.contains("partial_count"), plan)
  }

  test("chunking is entirely narrow: no Exchange, no Window, generator fan-out only") {
    import graft.operators.Packing
    val q = Packing.chunkByTokens(
      t("documents").select(col("doc_id"), col("text")),
      "text", "doc_id", chunkTokens = 32, overlapTokens = 8)
    val plan = physical(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate"), plan) // the sequence explode
    // only the two consumed columns are read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("bm25: query terms broadcast against the postings; top-k is heap-bounded, no window") {
    import graft.operators.Retrieval
    import spark.implicits._
    val queries = Seq((0L, "spark window merge")).toDF("query_id", "qtext")
    val q = Retrieval.bm25TopK(
      t("documents").select(col("doc_id"), col("text")),
      "doc_id", "text", queries, "query_id", "qtext", k = 10)
    val plan = physical(q)
    // the postings side never re-shuffles to meet the queries
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_graft_topk"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("boilerplate removal: ban-list aggregation is two-phase and carries ids, not text") {
    import graft.operators.Dedup
    val q = Dedup.boilerplateRemove(
      t("documents").select(col("doc_id"), col("text")),
      "text", "doc_id", maxDocs = 5, sep = ". ")
    val plan = physical(q)
    // the ban-list exchanges partition on the fingerprint and carry only
    // (fp, id) — never the line text (the reassembly exchange on id is
    // the one place text legitimately moves)
    val fpExchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning(fp"))
    assert(fpExchanges.nonEmpty, plan)
    assert(fpExchanges.forall(l => !l.contains("line#")), plan)
    // the doc-count is two-phase: partial count below its exchange
    assert(plan.contains("partial_count"), plan)
    // no cartesian anywhere in the reassembly
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("range join gate shape: parquet-backed bucketed join is equi, never nested-loop") {
    import graft.operators.RangeJoin
    import org.apache.spark.sql.types.LongType
    val epoch = to_date(lit("1970-01-01"))
    val pts = t("orders")
      .select(datediff(to_date(col("o_orderdate")), epoch).cast(LongType).as("day"))
      .distinct()
    val iv = t("lineitem")
      .select(datediff(to_date(col("l_shipdate")), epoch).cast(LongType).as("ship_day"),
        col("l_quantity").cast(LongType).as("_q"))
      .select(col("ship_day"), (col("ship_day") + col("_q")).as("end_day"))
    val q = RangeJoin.joinPointInterval(pts, "day", iv, "ship_day", "end_day",
      bucketWidth = 32L)
    val plan = physical(q)
    // the whole point of the bucketing: Catalyst gets an equality key,
    // so the range predicate never degenerates to a nested loop
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the scan reads only the two columns each side needs
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_shipdate:timestamp_ntz>"), plan)
    assert(plan.contains("ReadSchema: struct<o_orderdate:timestamp_ntz>"), plan)
  }

  test("rrf fusion: id+rank rows only cross the fuse shuffle; final cut is heap-bounded") {
    import graft.operators.{Retrieval, Similarity}
    import graft.functions.VectorFunctions
    import spark.implicits._
    val emb = t("embeddings")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "query_id", "qv", k = 5, metric = VectorFunctions.dot, scoreName = "dot")
    val queries = Seq((0L, "spark window merge")).toDF("query_id", "qtext")
    val lexical = Retrieval.bm25TopK(
      t("documents").select(col("doc_id"), col("text")),
      "doc_id", "text", queries, "query_id", "qtext", k = 5)
    val plan = physical(Retrieval.rrfFuse(Seq(dense, lexical), k = 5))
    // fused top-k is the bounded heap, not a window over the union
    assert(plan.contains("partial_graft_topk"), plan)
    assert(!plan.contains("Window"), plan)
    // no embedding payload crosses ANY exchange in the fusion plan —
    // vectors die at the dense list's own reduction, text at bm25's
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, plan)
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("text#")), plan)
  }

  test("subword count is a narrow codegen'd scalar: no Exchange, in a WholeStageCodegen span") {
    import graft.functions.TextFunctions
    val d = t("documents")
      .select(col("doc_id"),
        TextFunctions.tokenCountSubword(col("text"), Seq("scan", "##an", "a"))
          .as("n_sub"))
    val plan = physical(d)
    assert(!plan.contains("Exchange"), plan)
    // the `*(n)` operator prefix marks the whole-stage-codegen span
    assert(plan.contains("*(1) Project"), plan)
    // only the two needed columns reach the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string"), plan)
  }

  test("domain filter: blocklist broadcast, quota via bounded heap, no text across exchanges") {
    import graft.functions.DomainFunctions
    import graft.operators.Sampling
    val d = t("documents")
      .withColumn("url", concat(lit("https://www."), col("source"), lit(".com/x")))
    val kept = DomainFunctions.dropBlockedDomains(d, "url",
      Seq("com"), Seq("src3.com"))
    val plan = physical(Sampling.quotaPerGroup(kept, "doc_id", "domain", "doc_id", 5))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_graft_bottomk") || plan.contains("graft_bottomk"), plan)
    assert(!plan.contains("Window"), plan)
    // the quota shuffle carries (domain, id) rows — never document text
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")), plan)
  }

  test("distinct-n diversity: two-phase aggregates, no text past the first exchange") {
    import graft.operators.Vocab
    val q = Vocab.distinctNgramRatio(t("documents"), "source", "text", Seq(2))
    val plan = physical(q)
    // partial + final on BOTH aggregates (per-(g,fp) count, then per-g)
    assert(plan.split("HashAggregate").length - 1 >= 4, plan)
    // shuffles carry (group, fingerprint, count) — never the shingle text
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("text#") && !l.contains("_s#")), plan)
  }

  test("k-center greedy round: min-dist update is narrow over the checkpointed set") {
    import graft.operators.Similarity
    val emb = t("embeddings").filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding"))
    // two rounds: the per-round update plan must be scan → project only
    // (the TakeOrdered reduction is the sole wide step)
    val sel = Similarity.kCenterGreedyE6(emb, "vec_id", "embedding", k = 3)
    assert(sel.count() == 3)
    // the distance expression itself stays codegen-narrow
    import org.apache.spark.sql.graft.ColumnBridge
    val d = emb.select(ColumnBridge.column(graft.plans.MinSqDistE6(
      ColumnBridge.expression(transform(col("embedding"),
        v => floor(v.cast("double") * 1000000d).cast("long"))),
      Seq.fill(16)(0L), 16)).as("_d"))
    val plan = physical(d)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("mass gini: per-group aggregate is two-phase; the window runs over groups, not the corpus") {
    import graft.operators.Profile
    val q = Profile.massGini(
      t("documents").select(col("source"), col("n_chars")), "source", col("n_chars"))
    val plan = physical(q)
    // the corpus-side aggregate partial-combines map-side
    assert(plan.split("HashAggregate").length - 1 >= 2, plan)
    // exactly one Window, and it consumes the per-group masses (_m), not
    // any corpus column
    val windows = plan.split("\n").filter(_.contains("Window"))
    assert(windows.length >= 1, plan)
    assert(windows.forall(l => !l.contains("n_chars#") && !l.contains("text#")), plan)
  }

  test("rankCorrelationByGroup: the pair join carries only rank triples — never text or raw scores") {
    import graft.operators.Profile
    val d = t("documents").limit(200)
      .select(col("source"), col("doc_id"), col("n_chars"),
        length(col("text")).as("_y"))
    val plan = physical(
      Profile.rankCorrelationByGroup(d, "source", "doc_id", "n_chars", "_y"))
    val joins = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.nonEmpty, plan)
    // no join condition or projection around the pair join mentions the
    // corpus columns — only the (_g, rank, rank) triples move
    assert(joins.forall(l => !l.contains("text#") && !l.contains("n_chars#")), plan)
  }

  test("distributionShift: the group list is broadcast; the walk windows histogram rows only") {
    import graft.operators.Profile
    val d = t("documents")
    val plan = physical(Profile.distributionShift(d, "source", "n_chars", "src0"))
    // the per-group reference replication rides a broadcast, never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    // windows run over the (g, v) histogram — text never reaches one
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(l => !l.contains("text#")), plan)
  }

  test("set-sim prefix: one _id-partitioned Window over one sort; the candidate-id prefilter has no Union") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val grams = Seq(("a", 1L, true), ("a", 2L, true), ("a", 3L, true),
        ("b", 2L, false), ("b", 3L, false), ("b", 4L, false))
      .toDF("_id", "_g", "_new").localCheckpoint()
    val pref = initial(Dedup.prefixRows(grams, 500000L))
    val byId = pref.collect { case w: WindowExec
      if w.partitionSpec.flatMap(_.references).map(_.name) == Seq("_id") => w }
    assert(byId.size == 1, pref.toString)
    // one sort for the _id window, one for the _g (df) window
    assert(pref.collect { case s: SortExec => s }.size == 2, pref.toString)
    val cand = Seq(("a", "b"), ("a", "c")).toDF("id_a", "id_b").localCheckpoint()
    val ids = Dedup.candidateIds(cand)
    assert(initial(ids).collect { case u: UnionExec => u }.isEmpty, initial(ids).toString)
    assert(ids.as[String].collect().sorted.toSeq == Seq("a", "a", "b", "c"))
    // the prefix rows themselves: t = 0.5 keeps |x| − ⌈|x|/2⌉ + 1 = 2 of
    // each doc's 3 grams, rarest (df, hash) first; sizes and _new ride along
    assert(Dedup.prefixRows(grams, 500000L).as[(String, Long, Long, Boolean)]
      .collect().sorted.toSeq ==
      Seq(("a", 1L, 3L, true), ("a", 2L, 3L, true),
        ("b", 4L, 3L, false), ("b", 2L, 3L, false)).sorted)
  }
}
