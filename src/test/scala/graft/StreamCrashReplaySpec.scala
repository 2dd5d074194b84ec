package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._
import graft.streaming.StreamingOps

/** Crash-replay property of the versioned-store protocol, table-driven
  * over every `apply*Batch` op whose store runs through it. Each row is
  * a 2-batch fixture. After an uninterrupted run, batch 1 is rewound to
  * each point where a crash can leave its store — after the rename of
  * `_CURRENT`, after the state version directory is written but before
  * that rename, and after the outputs are written but before the version
  * directory — and replayed. Every replay must leave the batch-1 outputs
  * and the committed state row-identical to the uninterrupted run, and
  * the post-rename replay must write nothing. A batch that commits no
  * state (a drift score against a frozen reference) has only the
  * after-the-outputs point. The rewinds are file edits on the finished
  * run, as in StreamingSpec's torn-commit tests.
  */
class StreamCrashReplaySpec extends SparkSpec {
  import spark.implicits._

  /** One op under test. `run(batch, batchId, work)` applies the op with
    * every path under `work`; `store` is its versioned store and `outs`
    * the directories batch 1 writes, both relative to `work`.
    */
  private case class Op(
      name: String,
      b0: () => DataFrame,
      b1: () => DataFrame,
      run: (DataFrame, Long, String) => Unit,
      outs: Seq[String] = Seq("out/batch=1"),
      store: String = "state",
      setup: String => Unit = _ => ())

  private def texts(ts: (Long, String)*): () => DataFrame =
    () => ts.toDF("id", "text")

  private val mergeSpec = MergeSpec(Seq("k"), Seq(
    MergeFieldSpec("v", MergeOp.Inc), MergeFieldSpec("s", MergeOp.Set),
    MergeFieldSpec("tags", MergeOp.AddToSet)))
  private val mergeB0 = () => Seq((1L, 10L, "a", Seq("x"), 0), (2L, 1L, "b", Seq("y"), 0))
    .toDF("k", "v", "s", "tags", "seq")
  private val mergeB1 = () => Seq((1L, 5L, "c", Seq("z"), 1), (3L, 7L, "d", Seq("x"), 1))
    .toDF("k", "v", "s", "tags", "seq")
  private val dedupB0 = texts((1L, "Hello, World!"), (2L, "hello world"), (3L, "other"))
  private val dedupB1 = texts((4L, "HELLO world!!"), (5L, "brand new"), (6L, "brand new"))
  private val prose0 = texts(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a stitch in time saves nine the quick brown fox"))
  private val prose1 = texts(
    (3L, "the quick brown fox naps under the lazy dog"),
    (4L, "completely new words arrive with every single batch"))
  private val quota0 = () => Seq(("a", 1L, 100L), ("a", 2L, 100L), ("b", 5L, 50L))
    .toDF("g", "id", "nt")
  private val quota1 = () => Seq(("a", 3L, 500L), ("a", 4L, 10L), ("b", 6L, 50L), ("c", 8L, 5L))
    .toDF("g", "id", "nt")
  private def vecs(rows: (Long, Double)*): () => DataFrame =
    () => rows.map { case (i, x) => (i, Array(x.toFloat, (i % 3).toFloat, 1f, 0f)) }
      .toDF("id", "vec")
  // two cells, near 0 and near 100, with two rows each
  private val pq0 = vecs((0L, 0.0), (1L, 100.0), (2L, 0.2), (3L, 99.8))
  private val pqEpoch = (b: DataFrame, id: Long, w: String) =>
    StreamingOps.applyIvfPqEpochBatch(spark, b, id, "id", "vec", c = 2, m = 2,
      s"$w/state", s"$w/out", retrainThresholdE9 = 600000000L)
  private val docs0 = () => Seq(
    ("d0", "a b c d e f g h"), ("d1", "a b c d e f g h"), ("d2", "p q r s t u v w"))
    .toDF("doc_id", "text")
  private val docs1 = () => Seq(
    ("d3", "a b c d e f g x"), ("d4", "k l m n o p q r"), ("d1", "a b c d e f g h"))
    .toDF("doc_id", "text")

  private val ops: Seq[Op] = Seq(
    Op("applyMergeBatch", mergeB0, mergeB1, (b, id, w) =>
      StreamingOps.applyMergeBatch(spark, b, id, mergeSpec, "seq", s"$w/state"),
      outs = Nil),
    Op("applyMergeBatch bucketed", mergeB0, mergeB1, (b, id, w) =>
      StreamingOps.applyMergeBatch(spark, b, id, mergeSpec, "seq", s"$w/state", Some(2)),
      outs = Nil),
    Op("applyDedupBatch", dedupB0, dedupB1, (b, id, w) =>
      StreamingOps.applyDedupBatch(spark, b, id, "text", "id", s"$w/state", s"$w/out")),
    Op("applyDedupBatch bucketed", dedupB0, dedupB1, (b, id, w) =>
      StreamingOps.applyDedupBatch(spark, b, id, "text", "id", s"$w/state", s"$w/out",
        Some(2))),
    Op("applyTokenQuotaBatch", quota0, quota1, (b, id, w) =>
      StreamingOps.applyTokenQuotaBatch(spark, b, id, "g", "id", col("nt"),
        budget = 250L, s"$w/state", s"$w/out")),
    Op("applyTokenQuotaBudgetsBatch", quota0, quota1, (b, id, w) =>
      StreamingOps.applyTokenQuotaBudgetsBatch(spark, b, id, "g", "id", col("nt"),
        Map("a" -> 250L, "b" -> 60L), s"$w/state", s"$w/out")),
    Op("applyWindowDedupBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyWindowDedupBatch(spark, b, id, "text", "id",
        s"$w/state", s"$w/out", windowSize = 3)),
    Op("applyBm25IndexBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyBm25IndexBatch(spark, b, id, "text", "id", s"$w/state"),
      outs = Nil),
    Op("applyDriftBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyDriftBatch(spark, b, id, "text", s"$w/state", s"$w/out",
        buckets = 16)),
    Op("applyShiftBatch",
      () => Seq(Option.empty[Long], None).toDF("v"),
      () => Seq(Some(3L), Some(5L), Some(5L), None).toDF("v"),
      (b, id, w) =>
        StreamingOps.applyShiftBatch(spark, b, id, "v", s"$w/state", s"$w/out"),
      outs = Nil),
    Op("applyQuantileBatch", () => Seq(1L, 2L, 9L).toDF("v"), () => Seq(3L, 4L).toDF("v"),
      (b, id, w) => StreamingOps.applyQuantileBatch(spark, b, id, "v", Seq(0.5, 0.9),
        s"$w/state", s"$w/out")),
    Op("applyVocabGrowthBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyVocabGrowthBatch(spark, b, id, "text", s"$w/state", s"$w/out")),
    Op("applyChangepointBatch",
      () => Seq(1L, 1L, 3L).toDF("p"), () => Seq(2L, 3L, 3L, 4L).toDF("p"),
      (b, id, w) => StreamingOps.applyChangepointBatch(spark, b, id, "p",
        s"$w/state", s"$w/out")),
    Op("applyNoveltyBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyNoveltyBatch(spark, b, id, "text", 2, s"$w/state", s"$w/out")),
    Op("applySampleExactNBatch",
      () => spark.range(0, 20).toDF("k"), () => spark.range(20, 45).toDF("k"),
      (b, id, w) => StreamingOps.applySampleExactNBatch(spark, b, id, "k", 5, "crash",
        s"$w/state"),
      outs = Nil),
    Op("applySampleExactNPerGroupBatch",
      () => spark.range(0, 30).select(col("id").as("k"), (col("id") % 3).cast("string").as("g")),
      () => spark.range(30, 70).select(col("id").as("k"), (col("id") % 4).cast("string").as("g")),
      (b, id, w) => StreamingOps.applySampleExactNPerGroupBatch(spark, b, id, "k", "g", 2,
        "crash", s"$w/state"),
      outs = Nil),
    Op("applyCmsBatch",
      () => spark.range(0, 200).select((col("id") % 17).cast("string").as("x")),
      () => spark.range(100, 300).select((col("id") % 23).cast("string").as("x")),
      (b, id, w) => StreamingOps.applyCmsBatch(spark, b, id, col("x"), s"$w/state",
        depth = 3, width = 64),
      outs = Nil),
    Op("applyMinhashIndexBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyMinhashIndexBatch(spark, b, id, "id", "text", 16, 4, s"$w/state"),
      outs = Nil),
    Op("applyErBatch", docs0, docs1, (b, id, w) =>
      StreamingOps.applyErBatch(spark, b, id, "doc_id", "text", shingleSize = 3,
        thresholdPpm = 500000L, lpaRounds = 2, s"$w/state", s"$w/out")),
    Op("applyHllBatch",
      () => spark.range(0, 300).select((col("id") % 2).cast("string").as("g"),
        concat(lit("it-"), col("id")).as("x")),
      () => spark.range(200, 600).select((col("id") % 3).cast("string").as("g"),
        concat(lit("it-"), col("id")).as("x")),
      (b, id, w) => StreamingOps.applyHllBatch(spark, b, id, "g", col("x"), s"$w/state"),
      outs = Nil),
    Op("applyGraphProfileBatch",
      () => Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst"),
      () => Seq(("c", "d"), ("b", "c"), ("d", "a")).toDF("src", "dst"),
      (b, id, w) => StreamingOps.applyGraphProfileBatch(spark, b, id, "src", "dst",
        s"$w/state", s"$w/out")),
    Op("applyAnnotationBatch",
      () => Seq(("u1", "x"), ("u1", "x"), ("u2", "y")).toDF("unit", "label"),
      () => Seq(("u1", "y"), ("u2", "y"), ("u2", "x"), ("u3", "x")).toDF("unit", "label"),
      (b, id, w) => StreamingOps.applyAnnotationBatch(spark, b, id, "unit", "label",
        s"$w/state", s"$w/out"),
      outs = Seq("out/consensus/batch=1", "out/alpha/batch=1")),
    Op("applyRaterBatch",
      () => Seq(("u1", "r1", "x"), ("u1", "r2", "x"), ("u2", "r1", "y"))
        .toDF("unit", "rater", "label"),
      () => Seq(("u2", "r2", "y"), ("u3", "r1", "x"), ("u3", "r2", "y"))
        .toDF("unit", "rater", "label"),
      (b, id, w) => StreamingOps.applyRaterBatch(spark, b, id, "unit", "rater", "label",
        s"$w/state", s"$w/out")),
    Op("applyBtBatch",
      () => Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("winner", "loser"),
      () => Seq(("c", "a"), ("a", "b"), ("b", "d")).toDF("winner", "loser"),
      (b, id, w) => StreamingOps.applyBtBatch(spark, b, id, "winner", "loser", rounds = 3,
        s"$w/state", s"$w/out")),
    Op("applyCalibrationBatch",
      () => Seq((100000L, 0L), (950000L, 1L)).toDF("prob_ppm", "label"),
      () => Seq((150000L, 0L), (1000000L, 1L), (500000L, 1L)).toDF("prob_ppm", "label"),
      (b, id, w) => StreamingOps.applyCalibrationBatch(spark, b, id, "prob_ppm", "label",
        buckets = 10, s"$w/state", s"$w/out")),
    Op("applyDriftTimelineBatch", prose0, prose1, (b, id, w) =>
      StreamingOps.applyDriftTimelineBatch(spark, b, id, "text", s"$w/state", s"$w/out",
        buckets = 16)),
    Op("applyAnnIndexBatch",
      vecs((1L, 0.0), (2L, 5.0), (3L, 10.0), (4L, 0.5), (5L, 9.5)),
      vecs((6L, 0.2), (7L, 9.8), (8L, 4.9)),
      (b, id, w) => StreamingOps.applyAnnIndexBatch(spark, b, id, "id", "vec", c = 2,
        s"$w/state"),
      outs = Nil, store = "state/postings"),
    Op("applyPqDriftBatch",
      () => vecs()().select(col("id"), col("vec")),
      vecs((10L, 0.1), (11L, 99.9), (12L, 0.3)),
      (b, id, w) => StreamingOps.applyPqDriftBatch(spark, b, id, "id", "vec",
        s"$w/index", s"$w/state", s"$w/out", retrainThresholdE9 = 500000000L),
      outs = Nil,
      setup = w => StreamingOps.applyIvfPqIndexBatch(spark, pq0(),
        0L, "id", "vec", c = 2, m = 2, s"$w/index")),
    Op("applyIvfPqIndexBatch", pq0,
      vecs((10L, 0.1), (11L, 99.9), (12L, 0.3)),
      (b, id, w) => StreamingOps.applyIvfPqIndexBatch(spark, b, id, "id", "vec",
        c = 2, m = 2, s"$w/state"),
      outs = Nil, store = "state/codes"),
    Op("applyIvfPqEpochBatch append", pq0,
      vecs((10L, 0.1), (11L, 99.9)),
      pqEpoch, store = "state/epochs"),
    Op("applyIvfPqEpochBatch retrain", pq0,
      vecs((20L, 500.0), (21L, 502.0), (22L, 504.0), (23L, 506.0)),
      pqEpoch, outs = Seq("out/batch=1", "state/e1/driftref"), store = "state/epochs"),
    Op("applyLateWindowBatch",
      () => Seq(120L, 180L, 260L).toDF("us"), () => Seq(100L, 230L, 410L).toDF("us"),
      (b, id, w) => StreamingOps.applyLateWindowBatch(spark, b, id, "us", windowUs = 100L,
        lagUs = 50L, s"$w/state", s"$w/out"))
  )

  private def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Every file under `root` with its size and modification time. */
  private def listing(root: String): Map[String, (Long, FileTime)] = {
    val it = Files.walk(Paths.get(root))
    try it.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p)))
      .toMap
    finally it.close()
  }

  /** Point `_CURRENT` back at `version` (or remove it), through the
    * filesystem layer the commit uses so its checksum sidecar stays
    * consistent.
    */
  private def rewindPointer(store: String, version: Option[Long]): Unit = {
    val cur = new HPath(s"$store/_CURRENT")
    version match {
      case Some(v) =>
        val out = fs.create(cur, true)
        try out.write(s"v$v".getBytes("UTF-8")) finally out.close()
      case None => fs.delete(cur, false)
    }
  }

  private def committedVersion(store: String): Option[Long] =
    StreamingOps.currentVersionId(spark, store)

  ops.foreach { op =>
    test(s"crash replay converges at every write point: ${op.name}") {
      val work = Files.createTempDirectory("graft-crash").toString
      val store = s"$work/${op.store}"
      op.setup(work)
      op.run(op.b0(), 0L, work)
      val before1 = committedVersion(store)
      op.run(op.b1(), 1L, work)
      def outputs() = op.outs.map(o => rows(spark.read.parquet(s"$work/$o")))
      def committed() = StreamingOps.readState(spark, store).map(rows)
      val (outs1, state1) = (outputs(), committed())
      def replayConverges(point: String): Unit = {
        op.run(op.b1(), 1L, work)
        assert(outputs() == outs1, s"outputs diverge after a crash $point")
        assert(committed() == state1, s"committed state diverges after a crash $point")
      }
      if (fs.exists(new HPath(s"$store/v1"))) {
        assert(state1.nonEmpty && committedVersion(store).contains(1L))
        val files = listing(work)
        replayConverges("after the _CURRENT rename")
        assert(listing(work) == files, "the post-rename replay wrote files")

        rewindPointer(store, before1)
        val tmp = fs.create(new HPath(s"$store/_CURRENT.tmp"), true)
        try tmp.write("v1".getBytes("UTF-8")) finally tmp.close()
        replayConverges("before the _CURRENT rename")
        assert(committedVersion(store).contains(1L))

        rewindPointer(store, before1)
        fs.delete(new HPath(s"$store/v1"), true)
        // a bucketed store's version table goes with its directory
        spark.sql(s"DROP TABLE IF EXISTS ${StreamingOps.stateTableName(store, 1L)}")
        replayConverges("after the outputs, before the version directory")
        assert(committedVersion(store).contains(1L))
      } else {
        assert(op.outs.nonEmpty && committedVersion(store) == before1,
          "a batch that commits no state must write an output and leave _CURRENT")
        replayConverges("after the outputs")
      }
    }
  }
}
