package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model._
import graft.streaming.{SocketBroadcastSink, StreamingOps}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("binCountsStream: windowed watermarked counts over MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "etype")
    val out = StreamingOps.binCountsStream(
      df, Seq(LiteralBinner("e", "etype")), "ts",
      watermarkDelay = "0 seconds", windowLen = "1 hour")
    val q = out.writeStream.format("memory").queryName("bin_counts")
      .outputMode("complete").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:25:00"), "click"),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("bin_counts")
        .select(col("window.start").cast("string"), col("name"), col("count"))
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "e.click", 2L),
        ("2024-01-01 11:00:00", "e.view", 1L)))
    } finally q.stop()
  }

  test("mergeStream: state accumulates across micro-batches via foreachBatch merge") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-merge-stream").toString
    val mem = MemoryStream[(Long, String, Long, Int)]
    val df = mem.toDF().toDF("k", "s", "n", "seq")
    val spec = MergeSpec(Seq("k"),
      Seq(MergeFieldSpec("s", MergeOp.Set), MergeFieldSpec("n", MergeOp.Inc)))
    val q = StreamingOps.mergeStream(df, spec, "seq", s"$dir/state", s"$dir/ckpt")
    try {
      mem.addData((1L, "a", 10L, 1), (2L, "b", 5L, 1))
      q.processAllAvailable()
      mem.addData((1L, "c", 7L, 2)) // second batch: $set -> c, $inc 10+7
      q.processAllAvailable()
      val state = StreamingOps.readState(spark, s"$dir/state").get
        .select("k", "s", "n").as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(state(1L) == (("c", 17L)))
      assert(state(2L) == (("b", 5L)))
    } finally q.stop()
  }

  test("dedupStream: fingerprint-duplicate records drop within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("id", "text", "ts")
    val out = StreamingOps.dedupStream(df, "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "Hello, World!", Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, "hello world", Timestamp.valueOf("2024-01-01 10:01:00")), // dup after normalize
        (3L, "something else entirely", Timestamp.valueOf("2024-01-01 10:02:00")))
      q.processAllAvailable()
      mem.addData( // dup of #1 in a later batch, still inside the horizon
        (4L, "HELLO world!!", Timestamp.valueOf("2024-01-01 10:03:00")),
        (5L, "a genuinely new record", Timestamp.valueOf("2024-01-01 10:04:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 5L), ids.toString)
    } finally q.stop()
  }

  test("applyMergeBatch: batch replay is idempotent ($inc not double-applied)") {
    val statePath = Files.createTempDirectory("graft-replay-state").toString
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("v", MergeOp.Inc)))
    def readV(k: Long): Long = StreamingOps.readState(spark, statePath).get
      .filter($"k" === k).select($"v".cast("long")).as[Long].collect().head
    val b0 = Seq((1L, 10L, 0)).toDF("k", "v", "seq")
    StreamingOps.applyMergeBatch(spark, b0, 0L, spec, "seq", statePath)
    assert(readV(1L) == 10L)
    // crash-window replay of the SAME batch id: must be a no-op
    StreamingOps.applyMergeBatch(spark, b0, 0L, spec, "seq", statePath)
    assert(readV(1L) == 10L)
    // next batch applies normally
    StreamingOps.applyMergeBatch(spark,
      Seq((1L, 5L, 0)).toDF("k", "v", "seq"), 1L, spec, "seq", statePath)
    assert(readV(1L) == 15L)
    // replay of an OLDER batch id after progress: also a no-op
    StreamingOps.applyMergeBatch(spark, b0, 1L, spec, "seq", statePath)
    assert(readV(1L) == 15L)
    assert(StreamingOps.currentVersionId(spark, statePath).contains(1L))
  }

  test("mergeStream with bucketed state: same results, exchange-free state side") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-merge-bucketed").toString
    val mem = MemoryStream[(Long, String, Long, Int)]
    val df = mem.toDF().toDF("k", "s", "n", "seq")
    val spec = MergeSpec(Seq("k"),
      Seq(MergeFieldSpec("s", MergeOp.Set), MergeFieldSpec("n", MergeOp.Inc)))
    val q = StreamingOps.mergeStream(df, spec, "seq", s"$dir/state", s"$dir/ckpt",
      stateBuckets = Some(4))
    try {
      mem.addData((1L, "a", 10L, 1), (2L, "b", 5L, 1))
      q.processAllAvailable()
      mem.addData((1L, "c", 7L, 2))
      q.processAllAvailable()
      val state = StreamingOps.readState(spark, s"$dir/state").get
        .select("k", "s", "n").as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(state(1L) == (("c", 17L)))
      assert(state(2L) == (("b", 5L)))
    } finally q.stop()

    // the recurring-merge contract: the state side of the per-batch merge
    // join reads pre-bucketed files and replans NO exchange of the state;
    // vs the same merge against a plain-parquet state, which shuffles it
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batch = Seq((1L, "d", 1L, 3)).toDF("k", "s", "n", "seq")
      val bucketedState = spark.table(StreamingOps.stateTableName(s"$dir/state", 1L))
      val plainState = StreamingOps.readState(spark, s"$dir/state").get
      def exchanges(plan: String): Int = plan.sliding("Exchange hash".length)
        .count(_ == "Exchange hash")
      val bucketedPlan = graft.operators.Merge
        .upsertBatch(bucketedState, batch, spec, "seq").state
        .queryExecution.executedPlan.toString
      val plainPlan = graft.operators.Merge
        .upsertBatch(plainState, batch, spec, "seq").state
        .queryExecution.executedPlan.toString
      assert(exchanges(bucketedPlan) < exchanges(plainPlan),
        s"bucketed:\n$bucketedPlan\nplain:\n$plainPlan")
    }
  }

  test("applyMergeBatch bucketed: replay idempotence and version pruning hold") {
    val statePath = Files.createTempDirectory("graft-replay-bucketed").toString
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("v", MergeOp.Inc)))
    def readV(k: Long): Long = StreamingOps.readState(spark, statePath).get
      .filter($"k" === k).select($"v".cast("long")).as[Long].collect().head
    val b0 = Seq((1L, 10L, 0)).toDF("k", "v", "seq")
    StreamingOps.applyMergeBatch(spark, b0, 0L, spec, "seq", statePath, Some(2))
    assert(readV(1L) == 10L)
    StreamingOps.applyMergeBatch(spark, b0, 0L, spec, "seq", statePath, Some(2))
    assert(readV(1L) == 10L) // replay no-op
    StreamingOps.applyMergeBatch(spark,
      Seq((1L, 5L, 0)).toDF("k", "v", "seq"), 1L, spec, "seq", statePath, Some(2))
    StreamingOps.applyMergeBatch(spark,
      Seq((1L, 2L, 0)).toDF("k", "v", "seq"), 2L, spec, "seq", statePath, Some(2))
    assert(readV(1L) == 17L)
    // v0's dir was pruned (keepFrom = 1) and its catalog entry dropped
    assert(!new java.io.File(s"$statePath/v0").exists())
    assert(!spark.catalog.tableExists(StreamingOps.stateTableName(statePath, 0L)))
  }

  test("asOfEnrichStream: event-time lookup against versioned state; replay pins the version") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-asof-stream").toString
    val statePath = s"$dir/state"
    val outPath = s"$dir/out"
    // state versions through the SAME versioned machinery the merge
    // stream uses: keyed on (k, rt) so each version holds the full
    // price history per key
    val spec = MergeSpec(Seq("k", "rt"), Seq(MergeFieldSpec("price", MergeOp.Set)))
    StreamingOps.applyMergeBatch(spark,
      Seq(("u1", 100L, 10.0, 0)).toDF("k", "rt", "price", "seq"),
      0L, spec, "seq", statePath) // -> v0: (u1, 100, 10.0)

    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "k", "t")
    val q = StreamingOps.asOfEnrichStream(df, statePath, Seq("k"), "t", "rt",
      outPath, s"$dir/ckpt", payloadCols = Seq("price"))
    try {
      mem.addData((1L, "u1", 150L), (2L, "u1", 50L)) // batch 0 against v0
      q.processAllAvailable()
      // state advances to v1: a newer price at rt=140
      StreamingOps.applyMergeBatch(spark,
        Seq(("u1", 140L, 20.0, 1)).toDF("k", "rt", "price", "seq"),
        1L, spec, "seq", statePath)
      mem.addData((3L, "u1", 160L)) // batch 1 against v1
      q.processAllAvailable()
    } finally q.stop()
    def readOut(): Map[Long, Option[Double]] =
      spark.read.parquet(outPath)
        .select($"id", $"matched.price".as("p"))
        .as[(Long, Option[Double])].collect().toMap
    val out = readOut()
    assert(out(1L).contains(10.0)) // as-of 150 in v0 -> rt 100
    assert(out(2L).isEmpty)        // nothing at/before 50
    assert(out(3L).contains(20.0)) // as-of 160 in v1 -> rt 140 wins
    // crash-window REPLAY of batch 0 after the state advanced: the pinned
    // marker re-enriches against v0, not v1 — output bit-identical
    StreamingOps.applyAsOfEnrichBatch(spark,
      Seq((1L, "u1", 150L), (2L, "u1", 50L)).toDF("id", "k", "t"),
      0L, statePath, Seq("k"), "t", "rt", outPath, payloadCols = Seq("price"))
    val replayed = readOut()
    assert(replayed(1L).contains(10.0), "replay must pin v0 (current v1 would give 20.0)")
    assert(replayed(2L).isEmpty && replayed(3L).contains(20.0))
    // no committed state at a fresh path -> hard error, not schema drift
    val e = intercept[IllegalArgumentException] {
      StreamingOps.applyAsOfEnrichBatch(spark,
        Seq((1L, "u1", 150L)).toDF("id", "k", "t"),
        0L, s"$dir/nostate", Seq("k"), "t", "rt", s"$dir/out2")
    }
    assert(e.getMessage.contains("committed state"))
  }

  test("dedupStreamPersistent: dups drop across batches forever; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-dedup-persist").toString
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("id", "text")
    val q = StreamingOps.dedupStreamPersistent(df, "text", "id",
      s"$dir/state", s"$dir/out", s"$dir/ckpt")
    try {
      // batch 0: ids 1,2 are dups after normalization -> min id (1) kept
      mem.addData((1L, "Hello, World!"), (2L, "hello world"), (3L, "other"))
      q.processAllAvailable()
      // batch 1: id 4 duplicates batch 0's fingerprint — NO watermark
      // horizon, the persistent store still remembers it
      mem.addData((4L, "HELLO world!!"), (5L, "brand new"))
      q.processAllAvailable()
    } finally q.stop()
    def outIds() = spark.read.parquet(s"$dir/out")
      .select("id").as[Long].collect().toSet
    assert(outIds() == Set(1L, 3L, 5L))
    // crash-window replay of batch 1 after its commit: the version guard
    // skips the merge and the survivors written pre-commit stand
    StreamingOps.applyDedupBatch(spark,
      Seq((4L, "HELLO world!!"), (5L, "brand new")).toDF("id", "text"),
      1L, "text", "id", s"$dir/state", s"$dir/out")
    assert(outIds() == Set(1L, 3L, 5L))
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    // state carries fingerprints only — 8 bytes/doc, never text
    val stateCols = StreamingOps.readState(spark, s"$dir/state").get.columns.toSeq
    assert(stateCols == Seq("_fp"))
  }

  test("windowDedupStreamPersistent: spans cut against the store forever; replay is a no-op; state is fingerprints only") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-windedup-persist").toString
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("id", "text")
    val q = StreamingOps.windowDedupStreamPersistent(df, "text", "id",
      s"$dir/state", s"$dir/out", s"$dir/ckpt", window = 3)
    val phrase = "s1 s2 s3 s4"
    try {
      // batch 0: ids 1 and 2 share the 4-token phrase; 1 is the keeper
      mem.addData((1L, s"a b $phrase"), (2L, s"c d $phrase e"))
      q.processAllAvailable()
      // batch 1: id 3 repeats the phrase — the STORE cuts it even
      // though batch 0's keeper is long gone; id 4 is untouched
      mem.addData((3L, s"f g $phrase"), (4L, "h i j k"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("id", "clean", "n_removed").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("a b " + phrase, 0L)))
    assert(out(2L) == (("c d e", 4L)))
    assert(out(3L) == (("f g", 4L)))
    assert(out(4L) == (("h i j k", 0L)))
    // crash-window replay of batch 1 after its commit: guard no-ops
    StreamingOps.applyWindowDedupBatch(spark,
      Seq((3L, s"f g $phrase"), (4L, "h i j k")).toDF("id", "text"),
      1L, "text", "id", s"$dir/state", s"$dir/out", 3)
    val replayed = spark.read.parquet(s"$dir/out")
      .select("id", "clean", "n_removed").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(replayed == out)
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    // state carries 8-byte window fingerprints only, never text
    val st = StreamingOps.readState(spark, s"$dir/state").get
    assert(st.columns.toSeq == Seq("_h"))
  }

  test("bm25IndexStream: incremental postings equal the batch build; replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bm25-stream").toString
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("id", "text")
    val q = StreamingOps.bm25IndexStream(df, "text", "id",
      s"$dir/state", s"$dir/ckpt")
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple apple apple apple"), (4L, "dog"))
    try {
      mem.addData(docs(0), docs(1))
      q.processAllAvailable()
      mem.addData(docs(2), docs(3))
      q.processAllAvailable()
    } finally q.stop()
    // the committed index is EXACTLY the batch-built postings of the union
    val state = StreamingOps.readState(spark, s"$dir/state").get
    val batchBuilt = graft.operators.Retrieval.buildPostings(
      docs.toDF("id", "text"), "id", "text")
    assert(state.collect().map(_.toSeq).toSet ==
      batchBuilt.collect().map(_.toSeq).toSet)
    // and scoring from the index matches the one-shot batch scorer
    val queries = Seq((10L, "apple banana")).toDF("query_id", "qtext")
    val fromIndex = graft.operators.Retrieval.bm25TopKFromPostings(
        state, queries, "query_id", "qtext", k = 10)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Retrieval.bm25TopK(
        docs.toDF("id", "text"), "id", "text", queries, "query_id", "qtext", k = 10)
      .collect().map(_.toSeq).toSet
    assert(fromIndex == oneShot)
    // crash-window replay of batch 1: the version guard skips the append
    StreamingOps.applyBm25IndexBatch(spark,
      Seq(docs(2), docs(3)).toDF("id", "text"), 1L, "text", "id", s"$dir/state")
    assert(StreamingOps.readState(spark, s"$dir/state").get.count() == state.count())
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
  }

  // simulate the TORN-commit crash window: the new state version's data
  // is fully written but `_CURRENT` still points at the previous version
  // (the process died between the parquet write and the pointer rename)
  private def tearCommit(dir: String, backTo: String): Unit = {
    // rewind through the same FS layer the commit uses (keeps the local
    // FS checksum sidecar consistent — a real crash never wrote v-next)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_CURRENT"), true)
    try out.write(backTo.getBytes("UTF-8")) finally out.close()
  }

  test("dedupStreamPersistent torn commit: replay against the OLD state converges bit-identically") {
    val dir = Files.createTempDirectory("graft-dedup-torn").toString
    val b0 = Seq((1L, "Hello, World!"), (2L, "hello world"), (3L, "other"))
    val b1 = Seq((4L, "HELLO world!!"), (5L, "brand new"))
    StreamingOps.applyDedupBatch(spark, b0.toDF("id", "text"),
      0L, "text", "id", s"$dir/state", s"$dir/out")
    StreamingOps.applyDedupBatch(spark, b1.toDF("id", "text"),
      1L, "text", "id", s"$dir/state", s"$dir/out")
    def survivors() = spark.read.parquet(s"$dir/out")
      .select("id", "text").as[(Long, String)].collect().toSet
    def stateFps() = StreamingOps.readState(spark, s"$dir/state").get
      .as[Long].collect().toSet
    val committedOut = survivors()
    val committedState = stateFps()
    assert(committedOut.map(_._1) == Set(1L, 3L, 5L))
    // tear: v1 data exists on disk, but the pointer never moved
    tearCommit(s"$dir/state", "v0")
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(0L))
    // the torn store still serves CONSISTENT reads: the committed view is
    // v0 (3 fingerprints), the orphaned v1 directory is invisible to it
    assert(stateFps().size == 2) // b0 had ids 1,2 collide -> 2 fingerprints
    // restart replays batch 1 in full: guard sees v0 < 1 so it does NOT
    // skip; it re-dedups against the OLD state, overwrites the survivor
    // dir and the orphaned v1 wholesale, and re-commits
    StreamingOps.applyDedupBatch(spark, b1.toDF("id", "text"),
      1L, "text", "id", s"$dir/state", s"$dir/out")
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    assert(survivors() == committedOut, "replay must converge to the same survivors")
    assert(stateFps() == committedState, "replay must converge to the same state")
    // and a SECOND replay after convergence is the no-op branch
    StreamingOps.applyDedupBatch(spark, b1.toDF("id", "text"),
      1L, "text", "id", s"$dir/state", s"$dir/out")
    assert(survivors() == committedOut && stateFps() == committedState)
  }

  test("bm25IndexStream torn commit: replay rebuilds the version; committed index scores identically") {
    val dir = Files.createTempDirectory("graft-bm25-torn").toString
    val b0 = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
    val b1 = Seq((3L, "apple apple apple apple"), (4L, "dog"))
    StreamingOps.applyBm25IndexBatch(spark, b0.toDF("id", "text"),
      0L, "text", "id", s"$dir/state")
    StreamingOps.applyBm25IndexBatch(spark, b1.toDF("id", "text"),
      1L, "text", "id", s"$dir/state")
    val queries = Seq((10L, "apple banana")).toDF("query_id", "qtext")
    def postings() = StreamingOps.readState(spark, s"$dir/state").get
      .collect().map(_.toSeq).toSet
    def scores() = graft.operators.Retrieval.bm25TopKFromPostings(
        StreamingOps.readState(spark, s"$dir/state").get,
        queries, "query_id", "qtext", k = 10)
      .collect().map(_.toSeq).toSet
    val committedPostings = postings()
    val committedScores = scores()
    // tear: v1 parquet is on disk, pointer still says v0
    tearCommit(s"$dir/state", "v0")
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(0L))
    // the torn window serves v0: scoring works and sees only batch-0 docs
    val tornScores = scores()
    assert(tornScores.nonEmpty && tornScores != committedScores,
      "torn window must serve the OLD committed version, not the orphan")
    // restart replays batch 1: guard does not skip, the orphaned v1 is
    // overwritten from the v0 base, and the commit completes
    StreamingOps.applyBm25IndexBatch(spark, b1.toDF("id", "text"),
      1L, "text", "id", s"$dir/state")
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    assert(postings() == committedPostings, "replay must rebuild identical postings")
    assert(scores() == committedScores, "committed index must score identically after replay")
  }

  test("funnel stream: keyed state advances the strict chain; agrees with batch on ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type")
    val steps = Seq("view", "click", "buy")
    val q = graft.streaming.FunnelStream.progressDF(
        df, "user_id", "ts", "event_type", steps)
      .writeStream.format("memory").queryName("funnel_progress")
      .outputMode("append").start()
    val b0 = Seq((1L, 10L, "view"), (1L, 20L, "click"),
      (2L, 10L, "view"), (3L, 10L, "error"))
    val b1 = Seq((1L, 30L, "buy"), (2L, 15L, "view"), // re-view: no change
      (2L, 20L, "click"), (4L, 5L, "click"))          // click-first: no progress
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("funnel_progress")
      .select("userId", "depth").as[(Long, Int)].collect()
    // emissions: only changed users, once per changing batch
    assert(out.toSet == Set((1L, 2), (2L, 1), (1L, 3), (2L, 2)))
    // final state agrees with the batch operator over the full history
    val batch = graft.operators.Funnel.depths(
        (b0 ++ b1).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", steps)
      .as[(Long, Long)].collect().toMap
    val finalDepths = out.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // users that never progressed (depth 0) emit nothing in streaming;
    // the batch side reports them as 0 — align on the progressed set
    assert(finalDepths == batch.filter(_._2 > 0).map { case (u, d) => u -> d.toInt })
  }

  test("funnel stream DF wrapper: nulls drop, timestamps keep microsecond precision") {
    // flatMapGroupsWithState also runs in batch mode (empty initial
    // state) — lets the wrapper's edge handling pin without a stream
    val df = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 1200000L, "view"), (1L, 1700000L, "click"), // 1.2 s and 1.7 s
      (null, 10L, "view"), (2L, null, "view"))
      .toDF("u", "tsm", "et")
      .withColumn("ts", timestamp_micros(col("tsm")))
    val out = graft.streaming.FunnelStream
      .progressDF(df, "u", "ts", "et", Seq("view", "click"))
      .select("userId", "depth").as[(Long, Int)].collect().toSet
    // a seconds-truncating cast would stall u1 at depth 1 (both events
    // land on second 1); null user / null ts rows must not crash
    assert(out == Set((1L, 2)))
  }

  test("mergeStreamIncremental: per-batch emissions cover only the batch's keys") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-merge-inc").toString
    val mem = MemoryStream[(Long, String, Long, String, Int)]
    val df = mem.toDF().toDF("k", "s", "n", "tag", "seq")
    val spec = MergeSpec(Seq("k"), Seq(
      MergeFieldSpec("s", MergeOp.Set),
      MergeFieldSpec("n", MergeOp.Inc),
      MergeFieldSpec("tag", MergeOp.AddToSet)))
    val merged = StreamingOps.mergeStreamIncremental(df, spec, "seq")
    val batches = scala.collection.mutable.Buffer.empty[Set[(Long, String, Long, Set[String])]]
    val q = merged.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batches += b.select(col("k"), col("s"), col("n"), col("tag"))
          .as[(Long, String, Long, Seq[String])].collect()
          .map(r => (r._1, r._2, r._3, r._4.toSet)).toSet
        ()
      }
      .start()
    try {
      mem.addData((1L, "a", 10L, "x", 1), (2L, "b", 5L, "y", 1))
      q.processAllAvailable()
      mem.addData((1L, "c", 7L, "z", 2)) // only key 1 in this batch
      q.processAllAvailable()
      assert(batches.head == Set(
        (1L, "a", 10L, Set("x")), (2L, "b", 5L, Set("y"))))
      // update mode re-emits ONLY the keys the batch touched — the state
      // store merges key 1 incrementally, key 2's state is never read
      assert(batches(1) == Set((1L, "c", 17L, Set("x", "z"))))
    } finally q.stop()
  }

  test("mergeStreamIncremental: exploded $each arrays union as bounded sets") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-merge-each").toString
    val mem = MemoryStream[(Long, Seq[String], Int)]
    val df = StreamingOps.explodeEachField(
      mem.toDF().toDF("k", "tags", "seq"), "tags")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("tags", MergeOp.AddToSet)))
    val merged = StreamingOps.mergeStreamIncremental(df, spec, "seq")
    val last = scala.collection.mutable.Map.empty[Long, Set[String]]
    val q = merged.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        b.select(col("k"), col("tags")).as[(Long, Seq[String])].collect()
          .foreach { case (k, t) => last(k) = t.toSet }
        ()
      }
      .start()
    try {
      mem.addData((1L, Seq("a", "b"), 1))
      q.processAllAvailable()
      mem.addData((1L, Seq("b", "c"), 2)) // set-union, duplicates collapse
      q.processAllAvailable()
      assert(last(1L) == Set("a", "b", "c"))
    } finally q.stop()
  }

  test("socket sink (batch): emit with event column, send without; client per partition") {
    val df = Seq(("m1", "evA"), ("m2", null), ("m3", "evB"))
      .toDF("msg", "ev").repartition(2)
    SocketBroadcastSink.broadcast(df, () => RecordingClient.make(), "msg", Some("ev"))
    val got = RecordingClient.drain()
    assert(got.toSet == Set("emit:evA:m1", "send:m2", "emit:evB:m3"))
  }

  test("socket sink (streaming): ForeachWriter delivers each row once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("msg").writeStream
      .foreach(SocketBroadcastSink.writer(() => RecordingClient.make(), "msg"))
      .start()
    try {
      mem.addData("x", "y")
      q.processAllAvailable()
      assert(RecordingClient.drain().toSet == Set("send:x", "send:y"))
    } finally q.stop()
  }

  test("sessionize stream: flatMapGroupsWithState closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    val mem = MemoryStream[Sessionize.Event]
    // two bursts 10 min apart in ONE batch: first session closes inline
    mem.addData(
      Sessionize.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      Sessionize.Event(1L, Timestamp.valueOf("2024-01-01 10:00:30")),
      Sessionize.Event(1L, Timestamp.valueOf("2024-01-01 10:10:00")))
    val out = Sessionize.sessions(mem.toDS(), gapMs = 60000L)
    // AvailableNow: drain and stop — a processing-time-timeout query would
    // otherwise keep scheduling empty batches to poll timeouts
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000L)
      val closed = spark.table("sessions_out")
        .as[Sessionize.ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed(0).events == 2 &&
        closed(0).endMs - closed(0).startMs == 30000L)
    } finally q.stop()
  }

  test("routeTo fans one routed stream into per-route sinks") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-routes").toString
    val mem = MemoryStream[(Long, String)]
    val routed = mem.toDF().toDF("k", Route.RouteCol)
    val qs = StreamingOps.routeTo(routed, Map(
      Route.Success -> ((w: org.apache.spark.sql.streaming.DataStreamWriter[Row]) =>
        w.format("memory").queryName("r_success").start()),
      Route.Failure -> ((w: org.apache.spark.sql.streaming.DataStreamWriter[Row]) =>
        w.format("memory").queryName("r_failure").start())), dir)
    try {
      mem.addData((1L, Route.Success), (2L, Route.Failure), (3L, Route.Success))
      qs.foreach(_.processAllAvailable())
      assert(spark.table("r_success").count() == 2)
      assert(spark.table("r_failure").count() == 1)
    } finally qs.foreach(_.stop())
  }

  test("drift stream: reference commits once (replay no-ops), scoring equals the batch operator and replays bit-identically") {
    import graft.operators.ImportanceScoring
    val work = Files.createTempDirectory("graft-drift-spec").toString
    val ref = Seq((1L, "aa aa aa bb")).toDF("id", "text")
    val nxt = Seq((2L, "aa bb bb bb")).toDF("id", "text")
    StreamingOps.applyDriftBatch(spark, ref, 0L, "text", s"$work/state", s"$work/out")
    // replaying the reference batch must NOT overwrite the committed state
    StreamingOps.applyDriftBatch(spark, nxt, 0L, "text", s"$work/state", s"$work/out")
    val committed = StreamingOps.readState(spark, s"$work/state").get
      .as[(Long, Long)].collect().toMap
    // still the aa×3, bb×1 reference histogram, not nxt's
    assert(committed.values.toSeq.sorted == Seq(1L, 3L))
    StreamingOps.applyDriftBatch(spark, nxt, 1L, "text", s"$work/state", s"$work/out")
    val first = spark.read.parquet(s"$work/out/batch=1")
      .select("bucket", "cnt_a", "cnt_b", "gap")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the streaming score must equal the batch operator on the same corpora
    val batchForm = ImportanceScoring.histogramDrift(ref, nxt, "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(first == batchForm)
    // replay: recomputes against the PINNED v0 and overwrites identically
    StreamingOps.applyDriftBatch(spark, nxt, 1L, "text", s"$work/state", s"$work/out")
    val replayed = spark.read.parquet(s"$work/out/batch=1")
      .select("bucket", "cnt_a", "cnt_b", "gap")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(replayed == first)
  }

  test("shift stream: reference commits once (replay no-ops), KS/W1 equal the batch operator and replay bit-identically") {
    import graft.operators.Profile
    val work = Files.createTempDirectory("graft-shift-spec").toString
    val ref = Seq(0L, 10L).toDF("v")
    val nxt = Seq(5L, 15L).toDF("v") // +5 shift → KS ½, W1 = 5
    StreamingOps.applyShiftBatch(spark, ref, 0L, "v", s"$work/state", s"$work/out")
    // replaying batch 0 with DIFFERENT data must not move the reference
    StreamingOps.applyShiftBatch(spark, nxt, 0L, "v", s"$work/state", s"$work/out")
    val committed = StreamingOps.readState(spark, s"$work/state").get
      .as[(Long, Long)].collect().toMap
    assert(committed == Map(0L -> 1L, 10L -> 1L))
    StreamingOps.applyShiftBatch(spark, nxt, 1L, "v", s"$work/state", s"$work/out")
    val got = spark.read.parquet(s"$work/out/batch=1")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 500000L, 5000000L)), got.toString)
    // streaming must equal the batch operator on the same slices
    val batchForm = Profile.distributionShift(
        ref.select(lit("ref").as("g"), col("v"))
          .union(nxt.select(lit("b1").as("g"), col("v"))), "g", "v", "ref")
      .select("n", "n_ref", "ks_ppm", "w1_e6")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == batchForm)
    // replay overwrites bit-identically against the pinned reference
    StreamingOps.applyShiftBatch(spark, nxt, 1L, "v", s"$work/state", s"$work/out")
    val replayed = spark.read.parquet(s"$work/out/batch=1")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(replayed == got)
  }

  test("shift stream: an all-null first batch must NOT become the reference — first non-empty batch takes the slot") {
    val work = Files.createTempDirectory("graft-shift-empty-spec").toString
    val empty = Seq(Option.empty[java.lang.Long]).toDF("v")
    StreamingOps.applyShiftBatch(spark, empty, 0L, "v", s"$work/state", s"$work/out")
    // no state committed: an empty reference would drop every later
    // batch at the n_ref > 0 filter and the monitor would no-op forever
    assert(StreamingOps.readState(spark, s"$work/state").isEmpty)
    val ref = Seq(0L, 10L).toDF("v")
    StreamingOps.applyShiftBatch(spark, ref, 1L, "v", s"$work/state", s"$work/out")
    val committed = StreamingOps.readState(spark, s"$work/state").get
      .as[(Long, Long)].collect().toMap
    assert(committed == Map(0L -> 1L, 10L -> 1L))
    // and the monitor actually fires against the late-seated reference
    val nxt = Seq(5L, 15L).toDF("v")
    StreamingOps.applyShiftBatch(spark, nxt, 2L, "v", s"$work/state", s"$work/out")
    val got = spark.read.parquet(s"$work/out/batch=2")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 500000L, 5000000L)), got.toString)
  }

  test("ivfpq index stream: batch 0 freezes cells+codebooks, appends encode narrowly, query equals flat ADC with batch-0 artifacts, replay no-ops") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-ivfpq-stream-spec").toString
    val all = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)),
      (3L, Array(0.9f, 1.1f, 0.1f, 0.0f))
    ).toDF("id", "vec")
    val b0 = all.filter(col("id") < 3)
    val b1 = all.filter(col("id") === 3L)
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyIvfPqIndexBatch(spark, b, id, "id", "vec",
        c = 2, m = 2, s"$work/state")
    step(b0, 0L)
    step(b1, 1L)
    step(b1, 1L) // replay: codes must not double
    val ix = StreamingOps.ivfPqIndex(spark, s"$work/state", "spec")
    assert(ix.codesVersion == "v1", ix.codesVersion)
    val codes = spark.read.parquet(ix.codesDir)
    assert(codes.count() == 4, codes.count().toString)
    // query through the committed index == flat ADC against the SAME
    // frozen batch-0 artifacts over the full corpus
    val q = all.select(col("id").as("qid"), col("vec").as("qvec"))
    val got = StreamingOps.queryIvfPqIndex(spark, s"$work/state",
        q, "qid", "qvec", "id", k = 3, nprobe = 2)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    val seeds = b0.orderBy("id").limit(2)
      .select(col("id").as("centroid_id"), col("vec").as("centroid_vec"))
    val cb0 = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsE6(b0, "id", "vec", seeds, m = 2))
    val flat = Similarity.pqAdcTopKE6(
        Similarity.pqEncodeE6(all, "id", "vec", cb0), "id", "codes", cb0,
        q, "qid", "qvec", k = 3)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(got == flat, s"stream=$got flat=$flat")
    // training is frozen: a batch-1 item never moved the codebooks
    val cbCommitted = ix.codebooks
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Long](2))).toMap
    val cbExpect = cb0.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Long](2))).toMap
    assert(cbCommitted == cbExpect)
  }

  test("ivfpq index stream residual: meta pins the code space, mismatched batches refuse, query equals the batch IVFADC construction") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-ivfpq-res-stream-spec").toString
    // two tight clusters: residual codes carry the within-cluster offsets
    val all = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(100f, 100f, 100f, 100f)),
      (2L, Array(0.5f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(100.5f, 100f, 100f, 100f)),
      (4L, Array(0.0f, 0.5f, 0.0f, 0.0f)),
      (5L, Array(100f, 100.5f, 100f, 100f))
    ).toDF("id", "vec")
    val b0 = all.filter(col("id") < 4)
    val b1 = all.filter(col("id") >= 4)
    def step(b: org.apache.spark.sql.DataFrame, id: Long, res: Boolean) =
      StreamingOps.applyIvfPqIndexBatch(spark, b, id, "id", "vec",
        c = 2, m = 2, s"$work/state", residual = res)
    step(b0, 0L, res = true)
    // the space is a committed artifact, not a convention
    assert(StreamingOps.ivfPqIndex(spark, s"$work/state", "spec").residual)
    // a later batch claiming the OTHER space refuses loudly
    val ex = intercept[IllegalArgumentException](step(b1, 1L, res = false))
    assert(ex.getMessage.contains("residual=true"), ex.getMessage)
    step(b1, 1L, res = true)
    step(b1, 1L, res = true) // replay: codes must not double
    val ix = StreamingOps.ivfPqIndex(spark, s"$work/state", "spec")
    assert(ix.codesVersion == "v1", ix.codesVersion)
    assert(spark.read.parquet(ix.codesDir).count() == 6)
    // query (space read from meta) == the batch IVFADC construction
    // with identical batch-0 artifacts: cells = ids 0..1, residual
    // seeds = residuals of ids 2..3, codebooks trained on b0 only
    val q = all.select(col("id").as("qid"), col("vec").as("qvec"))
    val got = StreamingOps.queryIvfPqIndex(spark, s"$work/state",
        q, "qid", "qvec", "id", k = 3, nprobe = 2)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    val cells = b0.orderBy("id").limit(2)
      .select(col("id").as("centroid_id"),
        transform(col("vec"), v => floor(v.cast("double") * 1000000d)
          .cast("long")).as("centroid_e6"))
    val resSeeds = Similarity.ivfResidualsE6(b0, "id", "vec", cells)
      .filter(col("id").isin(2L, 3L))
      .select(col("id").as("centroid_id"),
        col("residual_e6").as("centroid_e6"))
    val cb0 = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsResidualE6(b0, "id", "vec", cells, resSeeds, m = 2))
    val outB = Files.createTempDirectory("graft-ivfpq-res-batch").toString
    Similarity.buildIvfPqIndex(all, "id", "vec", cells, cb0, outB,
      residual = true)
    val batchTopK = Similarity.ivfPqTopKE6(outB, "id", cells, cb0,
        q, "qid", "qvec", k = 3, nprobe = 2, residual = true)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(got == batchTopK, s"stream=$got batch=$batchTopK")
    // a batch 0 too small to seed residual codebooks refuses loudly
    val w2 = Files.createTempDirectory("graft-ivfpq-res-small").toString
    val tooSmall = intercept[IllegalArgumentException](
      StreamingOps.applyIvfPqIndexBatch(spark, all.filter(col("id") < 3),
        0L, "id", "vec", c = 2, m = 2, s"$w2/state", residual = true))
    assert(tooSmall.getMessage.contains(">= 4 rows"), tooSmall.getMessage)
  }

  // A crash inside batch 0 can leave any prefix of the artifact writes
  // (cells, codebooks, meta) on disk, with or without the codes version
  // directory. The replay must retrain over them bit-identically: the
  // codes pointer is the only commit, and nothing reads the artifacts
  // before it.
  Seq(false -> "codebooks", true -> "meta").foreach { case (res, torn) =>
    test(s"ivfpq index stream: a batch 0 torn before its commit (residual=$res, $torn lost) replays to the uninterrupted index") {
      val all = Seq(
        (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
        (1L, Array(100f, 100f, 100f, 100f)),
        (2L, Array(0.5f, 0.0f, 0.0f, 0.0f)),
        (3L, Array(100.5f, 100f, 100f, 100f)),
        (4L, Array(0.0f, 0.5f, 0.0f, 0.0f)),
        (5L, Array(100f, 100.5f, 100f, 100f))
      ).toDF("id", "vec")
      val q = all.select(col("id").as("qid"), col("vec").as("qvec"))
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      def run(tear: Boolean): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
        val state = Files.createTempDirectory("graft-ivfpq-torn0").toString + "/state"
        def step(b: org.apache.spark.sql.DataFrame, id: Long) =
          StreamingOps.applyIvfPqIndexBatch(spark, b, id, "id", "vec",
            c = 2, m = 2, state, residual = res)
        step(all.filter(col("id") < 4), 0L)
        if (tear) {
          Seq("codes/_CURRENT", "codes/v0", torn).foreach(p =>
            assert(fs.delete(new org.apache.hadoop.fs.Path(s"$state/$p"), true), p))
          val refused = intercept[RuntimeException](StreamingOps.queryIvfPqIndex(
            spark, state, q, "qid", "qvec", "id", k = 3, nprobe = 2))
          assert(refused.getMessage.contains("no committed codes"), refused.getMessage)
          step(all.filter(col("id") < 4), 0L)
        }
        step(all.filter(col("id") >= 4), 1L)
        (rows(StreamingOps.readState(spark, s"$state/codes").get),
          rows(StreamingOps.queryIvfPqIndex(spark, state, q, "qid", "qvec", "id",
            k = 3, nprobe = 2)))
      }
      val (state, top) = run(tear = false)
      assert(state.length == 6 && top.nonEmpty)
      assert(run(tear = true) == ((state, top)))
    }
  }

  test("er stream exactComponents: a cross-batch duplication chain resolves fully where bounded LPA under-merges") {
    // 8-token docs sliding by 2: consecutive docs share exactly half
    // their trigram shingles (J = 0.5, at threshold), non-adjacent
    // fall below — a pure chain, diameter 5 across the two batches
    val words = (0 until 18).map(i => f"w$i%02d")
    def doc(i: Int) = words.slice(2 * i, 2 * i + 8).mkString(" ")
    val all = (0 until 6).map(i => (f"d$i", doc(i)))
    val b0 = all.take(3).toDF("doc_id", "text")
    val b1 = all.drop(3).toDF("doc_id", "text")
    def er(b: org.apache.spark.sql.DataFrame, id: Long, work: String,
           exact: Boolean) =
      StreamingOps.applyErBatch(spark, b, id, "doc_id", "text",
        shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 1,
        s"$work/state", s"$work/out", exactComponents = exact)
    // bounded 1-round LPA: even batch 0's 3-doc chain under-merges
    val wa = Files.createTempDirectory("graft-er-lpa").toString
    er(b0, 0L, wa, exact = false); er(b1, 1L, wa, exact = false)
    val bounded = spark.read.parquet(s"$wa/out/batch=1")
      .as[(String, String, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(bounded.values.toSet.size > 1, s"expected under-merge: $bounded")
    // exact mode: convergence-checked components — one canonical id
    val wb = Files.createTempDirectory("graft-er-exact").toString
    er(b0, 0L, wb, exact = true); er(b1, 1L, wb, exact = true)
    val exactLbl = spark.read.parquet(s"$wb/out/batch=1")
      .as[(String, String, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(exactLbl == (0 until 6).map(i => f"d$i" -> "d0").toMap, exactLbl.toString)
  }

  test("pq drift stream: stable feed under threshold, drifted feed trips retrain, replay no-ops, empty reference refused") {
    import org.apache.spark.sql.functions.transform
    val work = Files.createTempDirectory("graft-pqdrift-spec").toString
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("id", "vec")
    def v(x: Double) = Array.fill(4)(x.toFloat)
    // index: 2 cells at 0 and 100
    StreamingOps.applyIvfPqIndexBatch(spark,
      vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8)),
      0L, "id", "vec", c = 2, m = 2, s"$work/index")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyPqDriftBatch(spark, b, id, "id", "vec",
        s"$work/index", s"$work/drift", s"$work/out",
        retrainThresholdE9 = 500000000L)
    // an EMPTY first batch must not become the reference
    step(vecs().select(col("id"), col("vec")), 0L)
    assert(StreamingOps.currentVersionId(spark, s"$work/drift").isEmpty)
    // reference: balanced 2/2 occupancy
    step(vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8)), 1L)
    assert(StreamingOps.currentVersionId(spark, s"$work/drift").contains(1L))
    // stable feed: same balance → l1 = 0, no flag
    step(vecs(10L -> v(0.1), 11L -> v(99.9)), 2L)
    val b2 = spark.read.parquet(s"$work/out/batch=2")
      .as[(Long, Long, Long, Boolean)].head()
    assert(b2 == ((4L, 2L, 0L, false)), b2.toString)
    // drifted feed: everything lands in cell 0 → l1 = 1 scaled, flag
    step(vecs(20L -> v(0.3), 21L -> v(0.4)), 3L)
    val b3 = spark.read.parquet(s"$work/out/batch=3")
      .as[(Long, Long, Long, Boolean)].head()
    assert(b3 == ((4L, 2L, 1000000000L, true)), b3.toString)
    // replay recomputes against the pinned reference bit-identically
    step(vecs(20L -> v(0.3), 21L -> v(0.4)), 3L)
    assert(spark.read.parquet(s"$work/out/batch=3")
      .as[(Long, Long, Long, Boolean)].head() == b3)
    // reference replay no-ops (the version guard)
    step(vecs(99L -> v(50.0)), 1L)
    assert(StreamingOps.readState(spark, s"$work/drift").get
      .as[(Long, Long)].collect().toMap == Map(0L -> 2L, 1L -> 2L))
    // an EMPTY scoring batch skips the compare loudly (n_cur = 0 would
    // put a zero into l1Drift's divisor) — no output row, state pinned
    step(vecs().select(col("id"), col("vec")), 4L)
    assert(!new java.io.File(s"$work/out/batch=4").exists())
    assert(StreamingOps.currentVersionId(spark, s"$work/drift").contains(1L))
  }

  test("ivfpq epoch stream: drift opens a retrain epoch, stable feeds append, old epochs stay servable, replays no-op") {
    val work = Files.createTempDirectory("graft-pqepoch-spec").toString
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("id", "vec")
    def v(x: Double) = Array.fill(4)(x.toFloat)
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyIvfPqEpochBatch(spark, b, id, "id", "vec",
        c = 2, m = 2, s"$work/state", s"$work/out",
        retrainThresholdE9 = 600000000L)
    def timeline(id: Long) = spark.read.parquet(s"$work/out/batch=$id")
      .select(col("epoch"), col("n_ref"), col("n_cur"), col("l1_e9"),
        col("retrained"))
      .as[(Long, Long, Long, Long, Boolean)].head()
    def q1(x: Double, k: Int, nprobe: Int, epoch: Option[Long] = None) =
      StreamingOps.queryIvfPqEpoch(spark, s"$work/state",
          vecs(7L -> v(x)).select(col("id").as("qid"), col("vec").as("qvec")),
          "qid", "qvec", "id", k, nprobe, epoch)
        .select(col("neighbor_id")).as[Long].collect().toSet
    // an empty batch before any epoch: nothing opens
    step(vecs().select(col("id"), col("vec")), 0L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state").isEmpty)
    // batch 1 opens epoch 0 (cells = ids 0, 1 → the 0 / 100 clusters)
    step(vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8)), 1L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state")
      .contains((0L, 1L)))
    assert(timeline(1L) == ((0L, 0L, 0L, 0L, false)))
    // batch 2: same distribution → l1 = 0 → appends into epoch 0
    step(vecs(4L -> v(0.1), 5L -> v(99.9)), 2L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state")
      .contains((0L, 1L)))
    assert(timeline(2L) == ((0L, 4L, 2L, 0L, false)))
    assert(q1(0.05, k = 3, nprobe = 1).contains(4L)) // the append serves
    // batch 3: drifted cluster — all mass in one cell vs the 2/2
    // reference → l1 = 1e9 → epoch 1 opens, trained on this batch
    val drifted = vecs((0 until 6).map(i => (20L + i) -> v(500.0 + 2 * i)): _*)
    step(drifted, 3L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state")
      .contains((1L, 3L)))
    assert(timeline(3L) == ((1L, 4L, 6L, 1000000000L, true)))
    // the current epoch serves the drifted distribution...
    val nearB = StreamingOps.queryIvfPqEpoch(spark, s"$work/state",
        vecs(8L -> v(509.0)).select(col("id").as("qid"), col("vec").as("qvec")),
        "qid", "qvec", "id", k = 2, nprobe = 2)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(nearB.nonEmpty && nearB.forall(_ >= 20L), nearB.toString)
    // ...and epoch 0 stays fully servable, pinned explicitly
    assert(q1(0.05, k = 3, nprobe = 1, epoch = Some(0L)).contains(4L))
    // batch 4: the NEW distribution is now the reference → appends into
    // epoch 1, no re-trip (the monitor measures each epoch against the
    // distribution it trained on)
    step(vecs((40 until 44).map(i => i.toLong -> v(500.0 + 2 * (i - 40))): _*), 4L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state")
      .contains((1L, 3L)))
    val t4 = timeline(4L)
    assert(t4._1 == 1L && !t4._5, t4.toString)
    // replays: a retrain batch, an append batch, and a batch that
    // predates the current epoch all no-op
    step(drifted, 3L)
    step(vecs(4L -> v(0.1), 5L -> v(99.9)), 2L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state")
      .contains((1L, 3L)))
    assert(timeline(3L) == ((1L, 4L, 6L, 1000000000L, true)))
  }

  test("ivfpq epoch stream: residual epochs train a per-epoch meta artifact and serve in their own space") {
    val work = Files.createTempDirectory("graft-pqepoch-res").toString
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("id", "vec")
    def v(x: Double) = Array.fill(4)(x.toFloat)
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyIvfPqEpochBatch(spark, b, id, "id", "vec",
        c = 2, m = 2, s"$work/state", s"$work/out",
        retrainThresholdE9 = 600000000L, residual = true)
    // batch 0 opens a RESIDUAL epoch 0 (needs >= 2c = 4 rows: 2 cells +
    // 2 residual seeds — the applyIvfPqIndexBatch batch-0 contract)
    step(vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8)), 0L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state").contains((0L, 0L)))
    // the drifted batch opens a residual epoch 1 the same way
    step(vecs((0 until 6).map(i => (20L + i) -> v(500.0 + 2 * i)): _*), 1L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state").contains((1L, 1L)))
    // each epoch's meta pins residual space; serving reads it from the
    // epoch's own tree (never from the caller) in both generations
    for (g <- Seq(0L, 1L)) {
      val meta = StreamingOps.ivfPqIndex(spark, s"$work/state/e$g", "spec").residual
      assert(meta, s"epoch $g meta should pin residual=true")
    }
    val near = StreamingOps.queryIvfPqEpoch(spark, s"$work/state",
        vecs(9L -> v(501.0)).select(col("id").as("qid"), col("vec").as("qvec")),
        "qid", "qvec", "id", k = 2, nprobe = 2)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(near.nonEmpty && near.forall(_ >= 20L), near.toString)
    val nearOld = StreamingOps.queryIvfPqEpoch(spark, s"$work/state",
        vecs(9L -> v(99.9)).select(col("id").as("qid"), col("vec").as("qvec")),
        "qid", "qvec", "id", k = 2, nprobe = 2, epoch = Some(0L))
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(nearOld.subsetOf(Set(0L, 1L, 2L, 3L)) && nearOld.nonEmpty, nearOld.toString)
  }

  test("ivfpq epoch stream: the retrained epoch recovers recall the frozen index lost under drift") {
    val work = Files.createTempDirectory("graft-pqepoch-recall").toString
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("id", "vec")
    def v(x: Double) = Array.fill(4)(x.toFloat)
    val a = vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8))
    val b = vecs((0 until 8).map(i => (20L + i) -> v(500.0 + 2 * i)): _*)
    // FROZEN stream: batch-0 artifacts forever; the drifted batch
    // appends — its codes all collapse onto the near-100 code word
    // (the codebooks never saw the 500s), so ADC ranking degenerates
    // to the id tie-break
    val fr = s"$work/frozen"
    StreamingOps.applyIvfPqIndexBatch(spark, a, 0L, "id", "vec", c = 2, m = 2, fr)
    StreamingOps.applyIvfPqIndexBatch(spark, b, 1L, "id", "vec", c = 2, m = 2, fr)
    // EPOCHED stream: the same feed trips a retrain epoch at batch 1
    val ep = s"$work/epoch"
    def step(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyIvfPqEpochBatch(spark, df, id, "id", "vec",
        c = 2, m = 2, s"$ep/state", s"$ep/out", retrainThresholdE9 = 600000000L)
    step(a, 0L); step(b, 1L)
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$ep/state").contains((1L, 1L)))
    // recall@4 of a drifted query, ground truth = exact top-4 within
    // the drifted set
    import graft.operators.Similarity
    val q = vecs(99L -> v(513.0)).select(col("id").as("qid"), col("vec").as("qvec"))
    def hits(root: String): Long = {
      val ix = StreamingOps.ivfPqIndex(spark, root, "spec")
      Similarity.ivfPqRecallE6(b, "id", "vec", ix.codesDir, ix.cells, ix.codebooks,
          q, "qid", "qvec", k = 4, nprobe = 2)
        .select(col("n_hits")).as[Long].head()
    }
    val frozenHits = hits(fr)
    val e1 = s"$ep/state/e1"
    assert(StreamingOps.currentVersionName(spark, s"$e1/codes").contains("v0"))
    val retrainedHits = hits(e1)
    // frozen: every drifted code identical → top-4 = smallest ids → 0 of
    // the true {24,25,26,27}; retrained: codes split at the 504/506
    // boundary → top-4 = {23,24,25,26} → 3 hits
    assert(frozenHits == 0L, s"frozen=$frozenHits")
    assert(retrainedHits == 3L, s"retrained=$retrainedHits")
  }

  test("backfillIvfPqEpoch: history re-encodes into the epoch space; replay no-ops; stream arithmetic survives; torn commit converges") {
    val work = Files.createTempDirectory("graft-pqbackfill-spec").toString
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("id", "vec")
    def v(x: Double) = Array.fill(4)(x.toFloat)
    val a = vecs(0L -> v(0.0), 1L -> v(100.0), 2L -> v(0.2), 3L -> v(99.8))
    val b = vecs((0 until 6).map(i => (20L + i) -> v(500.0 + 2 * i)): _*)
    def step(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyIvfPqEpochBatch(spark, df, id, "id", "vec",
        c = 2, m = 2, s"$work/state", s"$work/out",
        retrainThresholdE9 = 600000000L)
    step(a, 0L); step(b, 1L) // epoch 1 opens, trained on the drifted batch
    assert(StreamingOps.currentIvfPqEpoch(spark, s"$work/state").contains((1L, 1L)))
    val e1 = s"$work/state/e1"
    def top(x: Double, k: Int) = StreamingOps.queryIvfPqEpoch(spark,
        s"$work/state",
        vecs(99L -> v(x)).select(col("id").as("qid"), col("vec").as("qvec")),
        "qid", "qvec", "id", k, nprobe = 2)
      .select(col("neighbor_id")).as[Long].collect().toSet
    // pre-backfill: the retrained epoch cannot see pre-drift documents
    assert(top(0.1, 4).forall(_ >= 20L))
    // backfill ORIGINAL vectors; one id (20) is already indexed → skipped
    val hist = a.unionByName(vecs(20L -> v(500.0)))
    assert(StreamingOps.backfillIvfPqEpoch(spark, hist, "id", "vec",
      s"$work/state") == 4L)
    def codesVersion() = StreamingOps.currentVersionName(spark, s"$e1/codes")
    val ver = codesVersion().get
    assert(ver == "v0.1", ver) // the first backfill on top of stream batch 0
    assert(spark.read.parquet(s"$e1/codes/$ver").count() == 10L)
    // pre-drift documents are now retrievable from the current epoch
    assert(top(0.1, 4).exists(_ < 4L), top(0.1, 4).toString)
    // replay: nothing re-appends, the pointer is pinned
    assert(StreamingOps.backfillIvfPqEpoch(spark, hist, "id", "vec",
      s"$work/state") == 0L)
    assert(codesVersion().contains(ver))
    // a NEW stream batch after the backfill still appends, and its
    // replay still skips
    step(vecs(40L -> v(520.0), 41L -> v(522.0)), 2L)
    val ver2 = codesVersion().get
    assert(ver2 == "v1", ver2)
    assert(spark.read.parquet(s"$e1/codes/$ver2").count() == 12L)
    step(vecs(40L -> v(520.0), 41L -> v(522.0)), 2L)
    assert(codesVersion().contains(ver2))
    // duplicate history ids refuse loudly
    val dup = intercept[IllegalArgumentException](
      StreamingOps.backfillIvfPqEpoch(spark,
        vecs(7L -> v(1.0), 7L -> v(2.0)), "id", "vec", s"$work/state"))
    assert(dup.getMessage.contains("unique"), dup.getMessage)
    // torn commit: new codes dir written, pointer unmoved — the replay
    // recomputes against the OLD version and converges
    assert(StreamingOps.backfillIvfPqEpoch(spark, vecs(8L -> v(50.0)),
      "id", "vec", s"$work/state") == 1L)
    val ver3 = codesVersion().get
    assert(ver3 == "v1.1", ver3)
    tearCommit(s"$e1/codes", ver2)
    assert(StreamingOps.backfillIvfPqEpoch(spark, vecs(8L -> v(50.0)),
      "id", "vec", s"$work/state") == 1L)
    assert(codesVersion().contains(ver3))
    assert(spark.read.parquet(s"$e1/codes/$ver3").count() == 13L)
    // epoch 0 was never touched by any of it
    assert(StreamingOps.currentVersionId(spark,
      s"$work/state/e0/codes").contains(0L))
    // no committed codes at all refuses loudly
    val none = intercept[RuntimeException](StreamingOps.backfillIvfPqIndex(
      spark, a, "id", "vec", s"$work/nowhere"))
    assert(none.getMessage.contains("no committed codes"), none.getMessage)
  }

  test("erResolve: read-only lookup — clone matches its committed entity, novel doc self-labels, re-delivered id returns its committed label, state untouched") {
    val work = Files.createTempDirectory("graft-er-resolve").toString
    StreamingOps.applyErBatch(spark,
      Seq(("d1", "alpha beta gamma delta epsilon zeta"),
          ("d2", "alpha beta gamma delta epsilon zeta"),
          ("d3", "totally different words entirely here now"))
        .toDF("doc_id", "text"),
      0L, "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L,
      lpaRounds = 2, s"$work/state", s"$work/out")
    val stateBefore = StreamingOps.readState(spark, s"$work/state").get
      .collect().map(_.toSeq).toSet
    val got = StreamingOps.erResolve(spark,
      Seq(("q1", "alpha beta gamma delta epsilon zeta"), // clone → d1's entity
          ("q2", "nothing shared with any stored doc"),  // novel → self
          ("d2", "alpha beta gamma delta epsilon zeta")) // re-delivery → lookup
        .toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L,
      s"$work/state")
      .as[(String, String, Boolean)].collect().toSet
    assert(got == Set(
      ("q1", "d1", true),
      ("q2", "q2", false),
      ("d2", "d1", true)), got.toString)
    // read-only: neither the state rows nor the version pointer moved
    assert(StreamingOps.readState(spark, s"$work/state").get
      .collect().map(_.toSeq).toSet == stateBefore)
    assert(StreamingOps.currentVersionId(spark, s"$work/state").contains(0L))
  }

  test("vocab growth stream: term store accumulates, new-term increments exact, replay no-ops") {
    val work = Files.createTempDirectory("graft-vg-spec").toString
    def step(texts: Seq[String], id: Long) =
      StreamingOps.applyVocabGrowthBatch(spark, texts.toDF("text"), id,
        "text", s"$work/state", s"$work/out")
    step(Seq("a b a", "b c"), 0L)
    val b0 = spark.read.parquet(s"$work/out/batch=0")
      .as[(Long, Long, Long)].head()
    assert(b0 == ((3L, 5L, 3L)), b0.toString) // {a,b,c}, 5 tokens, all new
    step(Seq("c d"), 1L)
    val b1 = spark.read.parquet(s"$work/out/batch=1")
      .as[(Long, Long, Long)].head()
    assert(b1 == ((4L, 7L, 1L)), b1.toString) // +d; c is old
    // replay must not double-count tokens or re-mint terms
    step(Seq("c d"), 1L)
    val replayed = spark.read.parquet(s"$work/out/batch=1")
      .as[(Long, Long, Long)].head()
    assert(replayed == b1)
    // cumulative pair equals the batch operator over the union
    val batchForm = graft.operators.Vocab.vocabGrowthCurve(
        Seq((0L, "a b a"), (1L, "b c"), (2L, "c d")).toDF("id", "t"),
        "id", "t", Seq(100L))
      .as[(Long, Long, Long)].head()
    assert((b1._1, b1._2) == ((batchForm._2, batchForm._3)), s"$b1 vs $batchForm")
  }

  test("quantile stream: histogram state merges per batch, percentiles equal the batch operator, replay no-ops, empty prefix emits no rows") {
    import graft.operators.Profile
    val work = Files.createTempDirectory("graft-quant-spec").toString
    val probs = Seq(0.25, 0.5, 0.75)
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyQuantileBatch(spark, b, id, "v", probs,
        s"$work/state", s"$work/out")
    // empty first batch: quantiles undefined → zero rows, state commits
    step(Seq(Option.empty[java.lang.Long]).toDF("v"), 0L)
    assert(spark.read.parquet(s"$work/out/batch=0").count() == 0)
    step(Seq(1L, 2L, 3L, 4L).toDF("v"), 1L)
    val b1 = spark.read.parquet(s"$work/out/batch=1")
      .as[(Double, Double, Long)].collect().sortBy(_._1).toSeq
    assert(b1 == Seq((0.25, 1.75, 4L), (0.5, 2.5, 4L), (0.75, 3.25, 4L)), b1.toString)
    step(Seq(5L, 6L, 7L, 8L).toDF("v"), 2L)
    val b2 = spark.read.parquet(s"$work/out/batch=2")
      .as[(Double, Double, Long)].collect().sortBy(_._1).toSeq
    // equals the batch operator over the full prefix, decimal for decimal
    val batchForm = Profile.exactPercentiles(
      (1L to 8L).toDF("v"), "v", probs).get
    assert(b2.map(_._2) == batchForm, s"stream=$b2 batch=$batchForm")
    assert(b2.forall(_._3 == 8L))
    // replay: merging batch 2 again would double-count — must no-op
    step(Seq(5L, 6L, 7L, 8L).toDF("v"), 2L)
    val replayed = spark.read.parquet(s"$work/out/batch=2")
      .as[(Double, Double, Long)].collect().sortBy(_._1).toSeq
    assert(replayed == b2)
    val state = StreamingOps.readState(spark, s"$work/state").get
      .as[(Long, Long)].collect().toMap
    assert(state == (1L to 8L).map(_ -> 1L).toMap, state.toString)
  }

  test("quantile/vocab/er streams torn commit: crash before commitVersion replays into recompute and reproduces the lost output") {
    // the crash window the commit ORDER protects: state and output may be
    // on disk (or not) but _CURRENT never advanced — the replay must take
    // the recompute branch and rewrite BOTH bit-identically. (The reverse
    // order — commit first — would leave a skipped replay with the
    // output missing forever, which is exactly the bug this pins against.)
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
      f.delete(); ()
    }
    def cpdir(src: String, dst: String): Unit = {
      val s = new java.io.File(src); val d = new java.io.File(dst)
      d.mkdirs()
      s.listFiles().foreach { c =>
        if (c.isDirectory) cpdir(c.getPath, s"$dst/${c.getName}")
        else java.nio.file.Files.copy(c.toPath,
          new java.io.File(d, c.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // the crashed process never pruned v0 (pruning happens inside the
    // commit it died before), so the simulation snapshots v0 aside before
    // batch 1 and restores it when rewinding the pointer
    def tear(state: String, outBatch: String): Unit = {
      cpdir(s"$state/_v0_snapshot", s"$state/v0")
      tearCommit(state, "v0")
      rmrf(outBatch)
    }
    // quantile
    val wq = Files.createTempDirectory("graft-quant-torn").toString
    def qs(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyQuantileBatch(spark, b, id, "v", Seq(0.5),
        s"$wq/state", s"$wq/out")
    qs(Seq(1L, 2L).toDF("v"), 0L)
    cpdir(s"$wq/state/v0", s"$wq/state/_v0_snapshot")
    qs(Seq(3L, 4L).toDF("v"), 1L)
    val qOut = spark.read.parquet(s"$wq/out/batch=1")
      .as[(Double, Double, Long)].collect().toSet
    tear(s"$wq/state", s"$wq/out/batch=1")
    qs(Seq(3L, 4L).toDF("v"), 1L)
    assert(StreamingOps.currentVersionId(spark, s"$wq/state").contains(1L))
    assert(spark.read.parquet(s"$wq/out/batch=1")
      .as[(Double, Double, Long)].collect().toSet == qOut)
    // vocab growth
    val wv = Files.createTempDirectory("graft-vg-torn").toString
    def vs(texts: Seq[String], id: Long) =
      StreamingOps.applyVocabGrowthBatch(spark, texts.toDF("text"), id,
        "text", s"$wv/state", s"$wv/out")
    vs(Seq("a b a"), 0L)
    cpdir(s"$wv/state/v0", s"$wv/state/_v0_snapshot")
    vs(Seq("b c"), 1L)
    val vOut = spark.read.parquet(s"$wv/out/batch=1")
      .as[(Long, Long, Long)].head()
    tear(s"$wv/state", s"$wv/out/batch=1")
    vs(Seq("b c"), 1L)
    assert(StreamingOps.currentVersionId(spark, s"$wv/state").contains(1L))
    assert(spark.read.parquet(s"$wv/out/batch=1")
      .as[(Long, Long, Long)].head() == vOut)
    // entity resolution
    val we = Files.createTempDirectory("graft-er-torn").toString
    def es(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyErBatch(spark, b, id, "doc_id", "text",
        shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 2,
        s"$we/state", s"$we/out")
    es(Seq(("d0", "a b c d e f"), ("d1", "a b c d e f")).toDF("doc_id", "text"), 0L)
    cpdir(s"$we/state/v0", s"$we/state/_v0_snapshot")
    es(Seq(("d2", "a b c d e f")).toDF("doc_id", "text"), 1L)
    val eOut = spark.read.parquet(s"$we/out/batch=1")
      .as[(String, String, Boolean)].collect().toSet
    tear(s"$we/state", s"$we/out/batch=1")
    es(Seq(("d2", "a b c d e f")).toDF("doc_id", "text"), 1L)
    assert(StreamingOps.currentVersionId(spark, s"$we/state").contains(1L))
    assert(spark.read.parquet(s"$we/out/batch=1")
      .as[(String, String, Boolean)].collect().toSet == eOut)
  }

  test("changepoint stream: count state merges per batch; replay never double-counts; final equals batch") {
    import graft.operators.ImportanceScoring
    val work = Files.createTempDirectory("graft-cpt-spec").toString
    def series(cs: Seq[(Long, Int)]) =
      cs.flatMap { case (p, n) => Seq.fill(n)(p) }.toDF("p")
    // full series: 10,10,30,30 → changepoint period 2, D = 80
    val b0 = series(Seq((1L, 10), (3L, 15)))
    val b1 = series(Seq((2L, 10), (3L, 15), (4L, 10)))
    val b2 = series(Seq((4L, 20)))
    StreamingOps.applyChangepointBatch(spark, b0, 0L, "p", s"$work/state", s"$work/out")
    StreamingOps.applyChangepointBatch(spark, b1, 1L, "p", s"$work/state", s"$work/out")
    // replaying batch 1 must NOT merge its counts twice
    StreamingOps.applyChangepointBatch(spark, b1, 1L, "p", s"$work/state", s"$work/out")
    StreamingOps.applyChangepointBatch(spark, b2, 2L, "p", s"$work/state", s"$work/out")
    val fin = spark.read.parquet(s"$work/out/batch=2")
      .as[(Long, Long, Long, Long)].head()
    val batchForm = ImportanceScoring.cusumChangepoint(
        series(Seq((1L, 10), (2L, 10), (3L, 30), (4L, 30))), col("p"))
      .as[(Long, Long, Long, Long)].head()
    assert(fin == batchForm && fin == ((2L, 80L, 4L, 80L)), s"fin=$fin batch=$batchForm")
    // intermediate estimate exists per batch
    assert(spark.read.parquet(s"$work/out/batch=0").count() == 1)
  }

  test("applyErBatch job pin: a steady-state batch runs each ER phase once (verified pairs are not recomputed)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 12-token docs; a variant swaps its last token, so it shares 9 of
    // its 10 trigram shingles with its root (J = 9/11, over threshold)
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 300).map(i => f"w$i%03d")
    val texts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fresh(id: String) = { texts(id) = Seq.fill(12)(vocab(rnd.nextInt(300))).mkString(" "); id }
    def variant(id: String, of: String) = {
      texts(id) = texts(of).split(" ").dropRight(1).mkString(" ") + " zz" + id; id }
    val batches = Seq(
      (0 until 8).map(i => fresh(f"d0$i")),
      (0 until 6).map(i => fresh(f"d1$i")) ++ Seq(variant("d16", "d00"), variant("d17", "d03")),
      (0 until 6).map(i => fresh(f"d2$i")) ++ Seq(variant("d26", "d01"), variant("d27", "d12")))
    val work = Files.createTempDirectory("graft-er-pin").toString
    val group = "graft-er-pin"
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      batches.zipWithIndex.foreach { case (ids, i) =>
        val b = ids.map(id => (id, texts(id))).toDF("doc_id", "text")
        if (i == 2) spark.sparkContext.setJobGroup(group, "er batch 3")
        try StreamingOps.applyErBatch(spark, b, i.toLong, "doc_id", "text",
          shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 4,
          s"$work/state", s"$work/out")
        finally spark.sparkContext.clearJobGroup()
      }
      org.apache.spark.sql.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val labels = spark.read.parquet(s"$work/out/batch=2").select("node", "label")
      .as[(String, String)].collect().toMap
    assert(labels.size == 24)
    assert(Seq("d16" -> "d00", "d17" -> "d03", "d26" -> "d01", "d27" -> "d12")
      .forall { case (v, root) => labels(v) == labels(root) }, labels.toString)
    // 31 is this fixture's measured count; recomputing the verified
    // pairs (the lazy edge list LPA's symmetric adjacency reads), a
    // node-count job or a join in LPA's first round adds jobs above it
    val jobs = jobCount.get
    assert(jobs > 0 && jobs <= 31, s"batch 3 ran $jobs jobs")
  }

  test("readState reads a committed version through its footer's schema: no job, the schema a plain parquet read infers") {
    val work = Files.createTempDirectory("graft-read-state").toString
    val spec = MergeSpec(Seq("k"),
      Seq(MergeFieldSpec("s", MergeOp.Set), MergeFieldSpec("n", MergeOp.Inc)))
    StreamingOps.applyMergeBatch(spark,
      Seq((1L, "a", 10L, 1), (2L, "b", 5L, 1)).toDF("k", "s", "n", "seq"), 0L, spec, "seq",
      s"$work/merge")
    StreamingOps.applyDedupBatch(spark,
      Seq(("d1", "the cat sat on the mat"), ("d2", "a dog ran in the park")).toDF("id", "text"),
      0L, "text", "id", s"$work/dedup", s"$work/dedup_out")
    StreamingOps.applyErBatch(spark,
      Seq(("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text"),
      0L, "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 2,
      s"$work/er", s"$work/er_out")
    // the codes version is partitioned by cell: its partition column
    // comes from the directory names, as in a plain read
    StreamingOps.applyIvfPqIndexBatch(spark,
      Seq((0L, 0.0), (1L, 100.0), (2L, 0.2), (3L, 99.8))
        .map { case (id, x) => (id, Array.fill(4)(x.toFloat)) }.toDF("id", "vec"),
      0L, "id", "vec", c = 2, m = 2, s"$work/ivfpq")
    for (store <- Seq("merge", "dedup", "er", "ivfpq/codes")) {
      val path = s"$work/$store"
      val version = StreamingOps.currentVersionName(spark, path).get
      val (state, js) = jobs(StreamingOps.readState(spark, path).get)
      assert(js.isEmpty, s"$store: $js")
      val plain = spark.read.parquet(s"$path/$version")
      assert(state.schema == plain.schema, s"$store: ${state.schema} vs ${plain.schema}")
      assert(state.count() == plain.count() && state.count() > 0, store)
    }
    assert(StreamingOps.readState(spark, s"$work/ivfpq/codes").get.columns
      .contains("centroid_id"))
  }

  test("er stream: cross-batch merges, incremental equals batch pipeline, replay + re-delivery no-op") {
    import graft.operators.{Dedup, Graph}
    val work = Files.createTempDirectory("graft-er-spec").toString
    // batch 0: two distinct docs + a clone of doc 1 (in-batch merge)
    val b0 = Seq(
      ("00000001", "the quick brown fox jumps over the lazy dog tonight"),
      ("00000002", "completely different text about spark shuffles and joins here"),
      ("00000003", "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    // batch 1: a truncation of doc 1 (cross-batch merge into the
    // committed component) + a fresh singleton
    val b1 = Seq(
      ("00000004", "the quick brown fox jumps over the lazy dog"),
      ("00000005", "unrelated content entirely on its own planet somewhere else")
    ).toDF("doc_id", "text")
    def er(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingOps.applyErBatch(spark, b, id, "doc_id", "text",
        shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 4,
        s"$work/state", s"$work/out")
    er(b0, 0L)
    val after0 = spark.read.parquet(s"$work/out/batch=0")
      .as[(String, String, Boolean)].collect().toSet
    assert(after0 == Set(
      ("00000001", "00000001", true), ("00000002", "00000002", true),
      ("00000003", "00000001", false)), after0.toString)
    er(b1, 1L)
    val after1 = spark.read.parquet(s"$work/out/batch=1")
      .as[(String, String, Boolean)].collect().toSet
    // streaming result equals the batch pipeline over ALL docs
    val full = b0.unionByName(b1)
    val pairs = Dedup.setSimilarityJoinPairs(full, "doc_id", "text", 3, 500000L)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val batchLpa = Graph.labelPropagationMin(pairs, "a", "b", rounds = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val expect = full.select("doc_id").as[String].collect().toSet.map { id: String =>
      val l = batchLpa.getOrElse(id, id)
      (id, l, id == l)
    }
    assert(after1 == expect, s"stream=$after1 batch=$expect")
    // the truncation really did merge cross-batch
    assert(after1.contains(("00000004", "00000001", false)), after1.toString)
    // batch replay no-ops (state not doubled, output unchanged)
    er(b1, 1L)
    val replayed = spark.read.parquet(s"$work/out/batch=1")
      .as[(String, String, Boolean)].collect().toSet
    assert(replayed == after1)
    // item re-delivery in a LATER batch: known id drops, nothing moves
    er(b1.filter(col("doc_id") === "00000004"), 2L)
    val after2 = spark.read.parquet(s"$work/out/batch=2")
      .as[(String, String, Boolean)].collect().toSet
    assert(after2 == after1, s"re-delivery moved labels: $after2")
    val gramRows = StreamingOps.readState(spark, s"$work/state").get
      .filter(col("kind") === "g").groupBy("id").count()
      .as[(String, Long)].collect().toMap
    // doc 4's grams stored once despite the re-delivery
    assert(gramRows.keySet.size == 5)
  }

  test("novelty stream: store accumulates forever, re-crawl scores zero, replay no-ops") {
    val work = Files.createTempDirectory("graft-novelty-spec").toString
    val b0 = Seq((1L, "p q r s")).toDF("id", "text")      // 3-grams: {p q r, q r s}
    val b1 = Seq((2L, "q r s t")).toDF("id", "text")      // {q r s, r s t} → 1 novel
    val b2 = Seq((3L, "p q r s")).toDF("id", "text")      // exact re-crawl → 0 novel
    StreamingOps.applyNoveltyBatch(spark, b0, 0L, "text", 3, s"$work/state", s"$work/out")
    StreamingOps.applyNoveltyBatch(spark, b1, 1L, "text", 3, s"$work/state", s"$work/out")
    // replay of batch 1 must not double-append its grams
    StreamingOps.applyNoveltyBatch(spark, b1, 1L, "text", 3, s"$work/state", s"$work/out")
    StreamingOps.applyNoveltyBatch(spark, b2, 2L, "text", 3, s"$work/state", s"$work/out")
    val got = spark.read.parquet(s"$work/out")
      .select("batch_id", "novel_ngrams", "distinct_ngrams", "novelty_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1000000L),
      (1L, 1L, 2L, 500000L),
      (2L, 0L, 2L, 0L)
    ), got.toString)
    // the store holds exactly the 3 distinct grams ever seen
    assert(StreamingOps.readState(spark, s"$work/state").get.count() == 3)
  }

  test("drift timeline stream: rolling reference advances per batch, equals the batch timeline, replay no-ops") {
    import graft.operators.ImportanceScoring
    val work = Files.createTempDirectory("graft-drift-tl-spec").toString
    val b0 = Seq((1L, "aa aa aa bb")).toDF("id", "text")
    val b1 = Seq((2L, "aa bb bb bb")).toDF("id", "text")
    val b2 = Seq((3L, "cc cc aa bb")).toDF("id", "text")
    StreamingOps.applyDriftTimelineBatch(spark, b0, 0L, "text", s"$work/state", s"$work/out")
    // first batch seeds only: no timeline row
    assert(!new java.io.File(s"$work/out").exists() ||
      new java.io.File(s"$work/out").listFiles().isEmpty)
    StreamingOps.applyDriftTimelineBatch(spark, b1, 1L, "text", s"$work/state", s"$work/out")
    StreamingOps.applyDriftTimelineBatch(spark, b2, 2L, "text", s"$work/state", s"$work/out")
    // a replayed old batch must neither write rows nor move the reference
    StreamingOps.applyDriftTimelineBatch(spark, b1, 1L, "text", s"$work/state", s"$work/out")
    val got = spark.read.parquet(s"$work/out")
      .select("period", "n_prev", "n_cur", "l1_e9")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // parity with the batch timeline over the same periods
    val all = Seq((0L, "aa aa aa bb"), (1L, "aa bb bb bb"), (2L, "cc cc aa bb"))
      .toDF("p", "text")
    val batchForm = ImportanceScoring.driftTimeline(all, "text", col("p"))
      .select("period", "n_prev", "n_cur", "l1_e9")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == batchForm, s"got=$got batch=$batchForm")
    assert(got.map(_._1) == Seq(1L, 2L))
    // rolling reference is batch 2's histogram now (cc×2, aa×1, bb×1)
    val committed = StreamingOps.readState(spark, s"$work/state").get
      .as[(Long, Long)].collect().toMap
    assert(committed.values.toSeq.sorted == Seq(1L, 1L, 2L))
  }

  test("token quota stream: equals the single-pass batch quota, blown budgets stay blown, replay no-ops") {
    import graft.streaming.StreamingOps
    import graft.operators.Sampling
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 500L), ("a", 4L, 10L),
      ("b", 5L, 50L), ("b", 6L, 50L), ("b", 7L, 50L)
    ).toDF("g", "id", "nt")
    val work = java.nio.file.Files.createTempDirectory("tquota-spec").toString
    def step(ids: Seq[Long], batchId: Long): Unit =
      StreamingOps.applyTokenQuotaBatch(spark,
        rows.filter($"id".isin(ids: _*)), batchId,
        "g", "id", $"nt", budget = 250L, s"$work/state", s"$work/out")
    step(Seq(1L, 2L, 5L), 0L)
    step(Seq(3L, 4L, 6L, 7L), 1L)
    val got = spark.read.parquet(s"$work/out")
      .select("g", "id", "n_tokens", "cum_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // single-pass reference over the union, same budget
    val ref = Sampling.tokenQuotaPerGroup(rows, "id", "g", $"nt", 250L)
      .filter($"keep")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == ref, s"stream=$got ref=$ref")
    // group a: 100+100 kept in batch 0; id 3 (500) blows the budget in
    // batch 1 and id 4's 10 tokens must NOT sneak in after it (dropped
    // tokens count into the running total — the batch rule)
    assert(got.map(_._2) == Set(1L, 2L, 5L, 6L, 7L), got.toString)
    // replay of batch 1 no-ops (same _CURRENT version)
    step(Seq(3L, 4L, 6L, 7L), 1L)
    val again = spark.read.parquet(s"$work/out")
      .collect().length
    assert(again == got.size, s"replay changed output: $again vs ${got.size}")
  }

  test("token quota stream with per-group budgets: equals the single-pass budgets cut; replay no-ops") {
    import graft.operators.Sampling
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L),
      ("b", 4L, 50L), ("b", 5L, 50L), ("b", 6L, 50L),
      ("c", 7L, 10L) // absent from the budget map → never kept
    ).toDF("g", "id", "nt")
    val budgets = Map("a" -> 250L, "b" -> 100L)
    val work = Files.createTempDirectory("tquota-budgets-spec").toString
    def step(ids: Seq[Long], batchId: Long): Unit =
      StreamingOps.applyTokenQuotaBudgetsBatch(spark,
        rows.filter($"id".isin(ids: _*)), batchId,
        "g", "id", $"nt", budgets, s"$work/state", s"$work/out")
    step(Seq(1L, 4L), 0L)
    step(Seq(2L, 3L, 5L, 6L, 7L), 1L)
    step(Seq(2L, 3L, 5L, 6L, 7L), 1L) // replay no-op
    val got = spark.read.parquet(s"$work/out")
      .select("g", "id", "n_tokens", "cum_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    val ref = Sampling.tokenQuotaPerGroupBudgets(rows, "id", "g", $"nt", budgets)
      .filter($"keep")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(got == ref, s"stream=$got ref=$ref")
    assert(got.map(_._2) == Set(1L, 2L, 4L, 5L), got.toString)
  }

  test("ann index stream: quantizer trains once, postings append, replay no-ops, query equals batch IVF") {
    import graft.operators.Similarity
    val vecs = (1L to 40L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat, 1.0f)))
    val df = vecs.toDF("id", "vec")
    val work = Files.createTempDirectory("ann-stream-spec").toString
    val state = s"$work/state"
    def step(pred: org.apache.spark.sql.Column, b: Long): Unit =
      StreamingOps.applyAnnIndexBatch(spark, df.filter(pred), b, "id", "vec", c = 3, state)
    step($"id" % 2 === 0, 0L)
    step($"id" % 2 === 0, 0L) // replay no-op
    step($"id" % 2 === 1, 1L)
    // postings hold every vector exactly once
    val post = StreamingOps.readState(spark, s"$state/postings").get
    assert(post.count() == 40L)
    assert(post.select("id").distinct().count() == 40L)
    // the query against committed state equals batch ivfTopK with the
    // same frozen centroids over the full corpus
    val cents = StreamingOps.readState(spark, s"$state/centroids").get
    val q = df.filter($"id" <= 2).select($"id".as("qid"), $"vec".as("qvec"))
    val got = StreamingOps.queryAnnIndex(spark, state, q, "qid", "qvec",
        "id", "vec", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ref = Similarity.ivfTopK(
        Similarity.assignToCentroids(df, "id", "vec", cents),
        "id", "vec", cents, q, "qid", "qvec", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == ref, s"stream=$got batch=$ref")
    // a fresh state path must start at batch 0 (no quantizer yet)
    intercept[IllegalArgumentException] {
      StreamingOps.applyAnnIndexBatch(spark, df, 5L, "id", "vec", 3, s"$work/fresh")
    }
  }

  test("late window stream: watermark advances on every row, late rows drop, replay no-ops") {
    val work = Files.createTempDirectory("late-window-spec").toString
    // window 100, lag 50 (us scale irrelevant — pure integers)
    def step(ts: Seq[Long], batchId: Long): Unit =
      StreamingOps.applyLateWindowBatch(spark, ts.toDF("us"), batchId,
        "us", windowUs = 100L, lagUs = 50L, s"$work/state", s"$work/out")
    def state(): (Map[Long, Long], Long) = {
      val st = StreamingOps.readState(spark, s"$work/state").get.collect()
      (st.filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getLong(1)).toMap,
        st.find(_.isNullAt(0)).get.getLong(1))
    }
    // batch 0: max 220 → wm 170; everything keeps (no prior wm)
    step(Seq(10L, 120L, 220L), 0L)
    assert(state() == (Map(0L -> 1L, 100L -> 1L, 200L -> 1L), 170L), state().toString)
    // batch 1: 160 is LATE (< wm 170) and drops — but still advances
    // nothing (max is 230); 175 and 230 keep. wm → 180
    step(Seq(160L, 175L, 230L), 1L)
    assert(state() == (Map(0L -> 1L, 100L -> 2L, 200L -> 2L), 180L), state().toString)
    // a late row beyond every kept row still drives the tracker: 400
    // is kept, 100 is late, wm jumps to 350
    step(Seq(100L, 400L), 2L)
    assert(state() == (Map(0L -> 1L, 100L -> 2L, 200L -> 2L, 400L -> 1L), 350L), state().toString)
    // empty batch: wm and counts unchanged, version still commits
    step(Seq.empty, 3L)
    assert(state() == (Map(0L -> 1L, 100L -> 2L, 200L -> 2L, 400L -> 1L), 350L))
    assert(StreamingOps.currentVersionId(spark, s"$work/state").contains(3L))
    // replay of batch 2 against the NEWER state no-ops
    step(Seq(100L, 400L), 2L)
    assert(state()._1(400L) == 1L)
    // per-batch increments were written before each commit
    val inc1 = spark.read.parquet(s"$work/out/batch=1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc1 == Map(100L -> 1L, 200L -> 1L), inc1.toString)
  }
  test("per-group exact-N sample stream: state equals the per-group batch sample; replay no-ops") {
    import graft.operators.Sampling
    val d = spark.range(600).select(col("id").as("k"), (col("id") % 5).cast("string").as("g"))
    val work = Files.createTempDirectory("graft-bkg-stream").toString
    def keys(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("g", "k").as[(String, Long)].collect().toSet
    StreamingOps.applySampleExactNPerGroupBatch(spark, d.filter(col("k") < 300),
      0L, "k", "g", 3, "bkgspec", s"$work/state")
    StreamingOps.applySampleExactNPerGroupBatch(spark, d.filter(col("k") >= 300),
      1L, "k", "g", 3, "bkgspec", s"$work/state")
    val streamed = keys(StreamingOps.readState(spark, s"$work/state").get)
    val batch = keys(Sampling.sampleExactNPerGroup(d, "k", "g", 3, "bkgspec"))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // every group holds exactly 3 winners
    assert(streamed.groupBy(_._1).forall(_._2.size == 3), streamed.toString)
    // replay no-ops
    StreamingOps.applySampleExactNPerGroupBatch(spark, d.filter(col("k") >= 300),
      1L, "k", "g", 3, "bkgspec", s"$work/state")
    assert(keys(StreamingOps.readState(spark, s"$work/state").get) == streamed)
  }

  test("minhash index stream: clones hit their sources at full overlap; replay no-ops; unseen text misses") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "pack my box with five dozen liquor jugs before the night falls"),
      (3L, "sphinx of black quartz judge my vow said the old keeper twice")
    ).toDF("id", "t")
    val work = Files.createTempDirectory("graft-mh-spec").toString
    StreamingOps.applyMinhashIndexBatch(spark, docs.filter(col("id") < 3), 0L,
      "id", "t", 16, 4, s"$work/state")
    StreamingOps.applyMinhashIndexBatch(spark, docs.filter(col("id") === 3), 1L,
      "id", "t", 16, 4, s"$work/state")
    // replay no-ops
    StreamingOps.applyMinhashIndexBatch(spark, docs.filter(col("id") === 3), 1L,
      "id", "t", 16, 4, s"$work/state")
    val q = Seq(
      (101L, "pack my box with five dozen liquor jugs before the night falls"),
      (102L, "completely unrelated text with none of those words present here")
    ).toDF("qid", "qt")
    val hits = StreamingOps.queryMinhashIndex(spark, s"$work/state", q,
        "qid", "qt", 16, 4, minOverlap = 16)
      .as[(Long, Long, Int)].collect().toSet
    assert(hits == Set((101L, 2L, 16)), hits.toString)
    // lowering the bar surfaces partial-band coincidences only if any
    // band collides; the exact-match hit is always present
    val loose = StreamingOps.queryMinhashIndex(spark, s"$work/state", q,
        "qid", "qt", 16, 4, minOverlap = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(loose.contains((101L, 2L, 16)))
    intercept[IllegalStateException] {
      StreamingOps.queryMinhashIndex(spark, s"$work/none", q, "qid", "qt", 16, 4, 1)
    }
  }

  test("cms stream: sum-merged cells equal the batch sketch; batch replay no-ops (NOT item-idempotent)") {
    import graft.operators.Profile
    val d = spark.range(4000).select(concat(lit("w-"), col("id") % 150).as("x"))
    val work = Files.createTempDirectory("graft-cms-stream-spec").toString
    def cells(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSet
    val whole = cells(Profile.cmsSketch(d, col("x")))
    StreamingOps.applyCmsBatch(spark, d.limit(1500), 0L, col("x"), s"$work/state")
    StreamingOps.applyCmsBatch(spark, d.exceptAll(d.limit(1500)), 1L, col("x"),
      s"$work/state")
    assert(cells(StreamingOps.readState(spark, s"$work/state").get) == whole)
    // batch replay no-ops via the version guard (a re-applied batch
    // would otherwise double-count — sum-merge is not idempotent)
    StreamingOps.applyCmsBatch(spark, d.exceptAll(d.limit(1500)), 1L, col("x"),
      s"$work/state")
    assert(cells(StreamingOps.readState(spark, s"$work/state").get) == whole)
  }

  test("hll stream: max-merged registers equal the batch sketch; item re-delivery harmless; replay no-ops") {
    import graft.operators.Profile
    val d = spark.range(3000).select((col("id") % 2).cast("string").as("g"),
      concat(lit("it-"), col("id")).as("x"))
    val work = Files.createTempDirectory("graft-hll-stream").toString
    def regs(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.as[(String, Long, Long)].collect().toSet
    val whole = regs(Profile.hllRegisters(d, "g", col("x")))
    // batches OVERLAP (rows 1000-1500 delivered twice): idempotent merge
    StreamingOps.applyHllBatch(spark, d.filter(col("id") < 1500), 0L,
      "g", col("x"), s"$work/state")
    StreamingOps.applyHllBatch(spark, d.filter(col("id") >= 1000), 1L,
      "g", col("x"), s"$work/state")
    assert(regs(StreamingOps.readState(spark, s"$work/state").get) == whole)
    // batch replay no-ops
    StreamingOps.applyHllBatch(spark, d.filter(col("id") >= 1000), 1L,
      "g", col("x"), s"$work/state")
    assert(regs(StreamingOps.readState(spark, s"$work/state").get) == whole)
    // estimate off the state equals estimate off the batch sketch
    val se = Profile.hllEstimateFromRegisters(
        StreamingOps.readState(spark, s"$work/state").get)
      .as[(String, Long)].collect().toSet
    val be = Profile.hllEstimateRaw(d, "g", col("x"))
      .as[(String, Long)].collect().toSet
    assert(se == be, s"stream=$se batch=$be")
  }

  test("exact-N sample stream: state equals the batch sample after every prefix; replay no-ops") {
    import graft.operators.Sampling
    val d = spark.range(500).select(col("id").as("k"), (col("id") % 7).as("g"))
    val work = Files.createTempDirectory("graft-bk-stream").toString
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").as[Long].collect().toSet
    def batchSample(pred: org.apache.spark.sql.Column): Set[Long] =
      ids(Sampling.sampleExactN(d.filter(pred), "k", 20, "bkspec"))

    StreamingOps.applySampleExactNBatch(spark, d.filter(col("k") < 200), 0L,
      "k", 20, "bkspec", s"$work/state")
    assert(ids(StreamingOps.readState(spark, s"$work/state").get) ==
      batchSample(col("k") < 200))
    // mergeability: after batch 2 the state is the sample of EVERYTHING
    StreamingOps.applySampleExactNBatch(spark, d.filter(col("k") >= 200), 1L,
      "k", 20, "bkspec", s"$work/state")
    val s1 = ids(StreamingOps.readState(spark, s"$work/state").get)
    assert(s1 == batchSample(lit(true)), s1.toString)
    // replay no-ops: same batch id, same state
    StreamingOps.applySampleExactNBatch(spark, d.filter(col("k") >= 200), 1L,
      "k", 20, "bkspec", s"$work/state")
    assert(ids(StreamingOps.readState(spark, s"$work/state").get) == s1)
    // an empty batch advances the version without changing the winners
    StreamingOps.applySampleExactNBatch(spark, d.filter(col("k") < 0), 2L,
      "k", 20, "bkspec", s"$work/state")
    assert(ids(StreamingOps.readState(spark, s"$work/state").get) == s1)
    // non-k columns ride along untouched
    val row = StreamingOps.readState(spark, s"$work/state").get
      .filter(col("k") === s1.head).select("g").as[Long].collect()
    assert(row.toSeq == Seq(s1.head % 7))
  }

  test("applyGraphProfileBatch: accumulated edge-set state, replay no-op, torn-commit recovery") {
    import graft.operators.Graph
    val dir = Files.createTempDirectory("graft-gprof-stream").toString
    val b0 = Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    val b1 = Seq(("c", "d"), ("b", "c")).toDF("src", "dst") // one dup edge
    def step(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      StreamingOps.applyGraphProfileBatch(spark, df, b, "src", "dst",
        s"$dir/state", s"$dir/out")
    step(b0, 0L)
    val p0 = rows(spark.read.parquet(s"$dir/out/batch=0"))
    // batch-0 profile equals the batch operator on batch-0 edges
    assert(p0 == rows(Graph.graphProfile(b0, "src", "dst")))
    step(b1, 1L)
    val p1 = rows(spark.read.parquet(s"$dir/out/batch=1"))
    // the accumulated profile equals the batch operator on the union
    assert(p1 == rows(Graph.graphProfile(b0.unionByName(b1), "src", "dst")))
    // replay at the committed version no-ops: state version and output stand
    step(b1, 1L)
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    assert(rows(spark.read.parquet(s"$dir/out/batch=1")) == p1)
    // torn commit: output written, pointer still at v0 — the replay
    // recomputes against the OLD state and rewrites bit-identically
    tearCommit(s"$dir/state", "v0")
    step(b1, 1L)
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    assert(rows(spark.read.parquet(s"$dir/out/batch=1")) == p1)
  }

  test("graphProfileMergeState: distinct by induction — no aggregate above the state union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Union}
    val dir = Files.createTempDirectory("graft-gprof-shape").toString
    Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      .write.parquet(s"$dir/st")
    val st = spark.read.parquet(s"$dir/st")
    val inBatch = Seq(("b", "c"), ("c", "d")).toDF("src", "dst").distinct()
    val merged = StreamingOps.graphProfileMergeState(Some(st), inBatch)
    // semantics: the union is the distinct accumulated edge set
    assert(merged.count() == 3L && merged.distinct().count() == 3L)
    // plan contract: the state rewrite is copy+append — NO
    // Aggregate/Deduplicate node sits above the Union (a distinct()
    // over the accumulated state would re-shuffle O(total) per batch)
    val plan = merged.queryExecution.optimizedPlan
    val aggsOverUnion = plan.collect {
      case a: Aggregate if a.find(_.isInstanceOf[Union]).isDefined => a
      case d: Deduplicate if d.find(_.isInstanceOf[Union]).isDefined => d
    }
    assert(aggsOverUnion.isEmpty, plan.toString)
    // (the in-batch distinct MAY sit above the anti-join — Catalyst's
    // PushDownLeftSemiAntiJoin moves the join under it — but its
    // cardinality stays batch-bound either way; only an aggregate over
    // the Union would re-shuffle the accumulated state)
  }

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    val p = df.queryExecution.executedPlan.toString
    p.sliding("Exchange hash".length).count(_ == "Exchange hash")
  }

  test("applyDedupBatch bucketed: same survivors, exchange-free state-side anti-join, pruning") {
    val dir = Files.createTempDirectory("graft-dedup-bucketed").toString
    val b0 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
    val b1 = Seq((3L, "alpha beta"), (4L, "epsilon zeta")).toDF("id", "text")
    StreamingOps.applyDedupBatch(spark, b0, 0L, "text", "id",
      s"$dir/state", s"$dir/out", Some(4))
    StreamingOps.applyDedupBatch(spark, b1, 1L, "text", "id",
      s"$dir/state", s"$dir/out", Some(4))
    // semantics unchanged from the plain store: the re-crawled text drops,
    // the store stays distinct by induction
    assert(spark.read.parquet(s"$dir/out").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L))
    val st = spark.table(StreamingOps.stateTableName(s"$dir/state", 1L))
    assert(st.count() == 3L && st.distinct().count() == 3L)
    // the per-batch anti-join contract: with broadcast off, the bucketed
    // state side replans NO exchange — only the batch side shuffles (1
    // Exchange hash total); the same join against plain parquet pays 2
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batchFps = Seq(10L, 20L).toDF("_fp")
      val bucketed = batchFps.join(st, Seq("_fp"), "left_anti")
      assert(hashExchanges(bucketed) == 1,
        bucketed.queryExecution.executedPlan.toString)
      val plain = StreamingOps.readState(spark, s"$dir/state").get
      val unbucketed = batchFps.join(plain, Seq("_fp"), "left_anti")
      assert(hashExchanges(unbucketed) == 2,
        unbucketed.queryExecution.executedPlan.toString)
    }
    // replay no-op + version pruning (the applyMergeBatch bucketed contract)
    StreamingOps.applyDedupBatch(spark, b1, 1L, "text", "id",
      s"$dir/state", s"$dir/out", Some(4))
    assert(StreamingOps.currentVersionId(spark, s"$dir/state").contains(1L))
    StreamingOps.applyDedupBatch(spark,
      Seq((5L, "eta theta")).toDF("id", "text"), 2L, "text", "id",
      s"$dir/state", s"$dir/out", Some(4))
    assert(!new java.io.File(s"$dir/state/v0").exists())
    assert(!spark.catalog.tableExists(
      StreamingOps.stateTableName(s"$dir/state", 0L)))
  }

  test("window-dedup + graph-profile bucketed state: outputs unchanged, state side exchange-free") {
    // window dedup: bucketed on _h — both per-batch joins (the semi that
    // finds historical cuts, the anti that appends fresh fingerprints)
    // read the state side exchange-free
    val wd = Files.createTempDirectory("graft-wdedup-bucketed").toString
    val toks = (1 to 12).map(i => s"t$i").mkString(" ")
    val w0 = Seq((1L, toks)).toDF("id", "text")
    val w1 = Seq((2L, toks + " u1 u2")).toDF("id", "text")
    StreamingOps.applyWindowDedupBatch(spark, w0, 0L, "text", "id",
      s"$wd/state", s"$wd/out", windowSize = 5, stateBuckets = Some(4))
    StreamingOps.applyWindowDedupBatch(spark, w1, 1L, "text", "id",
      s"$wd/state", s"$wd/out", windowSize = 5, stateBuckets = Some(4))
    // doc 2 is the same token stream plus a fresh tail: the historical
    // overlap cuts, the tail survives — same answer as the plain store
    val wdPlain = Files.createTempDirectory("graft-wdedup-plain").toString
    StreamingOps.applyWindowDedupBatch(spark, w0, 0L, "text", "id",
      s"$wdPlain/state", s"$wdPlain/out", windowSize = 5)
    StreamingOps.applyWindowDedupBatch(spark, w1, 1L, "text", "id",
      s"$wdPlain/state", s"$wdPlain/out", windowSize = 5)
    assert(rows(spark.read.parquet(s"$wd/out/batch=1")) ==
      rows(spark.read.parquet(s"$wdPlain/out/batch=1")))

    // graph profile: bucketed on (src, dst) — the merge seam's anti-join
    // reads the committed edge set exchange-free
    val gp = Files.createTempDirectory("graft-gprof-bucketed").toString
    val e0 = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val e1 = Seq(("b", "c"), ("c", "d")).toDF("src", "dst")
    StreamingOps.applyGraphProfileBatch(spark, e0, 0L, "src", "dst",
      s"$gp/state", s"$gp/out", Some(4))
    StreamingOps.applyGraphProfileBatch(spark, e1, 1L, "src", "dst",
      s"$gp/state", s"$gp/out", Some(4))
    assert(rows(spark.read.parquet(s"$gp/out/batch=1")) ==
      rows(graft.operators.Graph.graphProfile(e0.unionByName(e1), "src", "dst")))

    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // window-dedup store shape (key _h): semi and anti both 1 exchange
      val wdSt = spark.table(StreamingOps.stateTableName(s"$wd/state", 1L))
      val probeH = Seq(10L, 20L).toDF("_h")
      assert(hashExchanges(probeH.join(wdSt, Seq("_h"), "left_semi")) == 1)
      assert(hashExchanges(probeH.join(wdSt, Seq("_h"), "left_anti")) == 1)
      // graph-profile store shape (keys src, dst) through the merge seam:
      // the only hash exchanges serve the batch side (its distinct + its
      // join shuffle); the bucketed state side adds NONE vs plain's extra
      val gpSt = spark.table(StreamingOps.stateTableName(s"$gp/state", 1L))
      val gpPlain = StreamingOps.readState(spark, s"$gp/state").get
      val inB = Seq(("c", "d"), ("d", "e")).toDF("src", "dst").distinct()
      val mBucketed = StreamingOps.graphProfileMergeState(Some(gpSt), inB)
      val mPlain = StreamingOps.graphProfileMergeState(Some(gpPlain), inB)
      assert(hashExchanges(mBucketed) < hashExchanges(mPlain),
        s"bucketed:\n${mBucketed.queryExecution.executedPlan}\n" +
          s"plain:\n${mPlain.queryExecution.executedPlan}")
    }
  }
}

/** Serializable recording double for the socket client: records land in a
  * JVM-global buffer (tests run local, executors share the JVM).
  */
object RecordingClient {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def make(): SocketBroadcastSink.MessageClient = new SocketBroadcastSink.MessageClient {
    override def emit(event: String, message: String): Unit = buf.add(s"emit:$event:$message")
    override def send(message: String): Unit = buf.add(s"send:$message")
    override def close(): Unit = ()
  }
  def drain(): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    while (!buf.isEmpty) out += buf.poll()
    out.toSeq
  }
}
