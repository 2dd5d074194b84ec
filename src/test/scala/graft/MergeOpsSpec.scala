package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.operators.Merge

/** PartialUpdateMongo merge semantics (SURVEY §2, §7.5 #3-#5). */
class MergeOpsSpec extends SparkSpec {
  import spark.implicits._

  private def incoming = Seq(
    (1L, "a", 10L, "t1", 1),
    (1L, "b", 5L, "t2", 2),  // later seq: $set keeps "b"
    (2L, "c", 7L, "t1", 1)
  ).toDF("k", "s", "n", "tag", "seq")

  private val spec = MergeSpec(
    keyFields = Seq("k"),
    fields = Seq(
      MergeFieldSpec("s", MergeOp.Set),
      MergeFieldSpec("n", MergeOp.Inc),
      MergeFieldSpec("tag", MergeOp.AddToSet)))

  test("collapseIncoming: $set last-wins by order col, $inc sums, $addToSet collects set") {
    val out = Merge.collapseIncoming(incoming, spec, "seq")
      .select($"k", $"s", $"n", array_sort($"tag").as("tag"))
      .as[(Long, String, Long, Seq[String])].collect().sortBy(_._1)
    assert(out(0) == ((1L, "b", 15L, Seq("t1", "t2"))))
    assert(out(1) == ((2L, "c", 7L, Seq("t1"))))
  }

  test("collapseIncoming $set tie-break on equal order values is deterministic (max value)") {
    val dup = Seq((1L, "x", 1), (1L, "z", 1), (1L, "y", 1)).toDF("k", "s", "seq")
    val out = Merge.collapseIncoming(dup,
      MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set))), "seq")
    assert(out.select("s").as[String].collect()(0) == "z")
  }

  test("merge: upsert inserts unmatched, updates matched, $inc adds to state") {
    val state = Seq((1L, "old", 100L), (9L, "keep", 1L)).toDF("k", "s", "n")
    val collapsed = Merge.collapseIncoming(incoming,
      MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set), MergeFieldSpec("n", MergeOp.Inc))),
      "seq")
    val res = Merge.merge(state, collapsed,
      MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set), MergeFieldSpec("n", MergeOp.Inc))))
    val m = res.state.select("k", "s", "n").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == (("b", 115L))) // updated: set wins, inc added
    assert(m(2L) == (("c", 7L)))   // inserted
    assert(m(9L) == (("keep", 1L))) // untouched
  }

  test("merge routes: changed -> success, no-op -> success-unmodified") {
    val state = Seq((1L, "b"), (2L, "x")).toDF("k", "s")
    val collapsed = Seq((1L, "b"), (2L, "y"), (3L, "new")).toDF("k", "s")
    val res = Merge.merge(state, collapsed, MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set))))
    val m = res.routes.as[(Long, String)].collect().toMap
    assert(m(1L) == Route.SuccessUnmodified) // same value -> modifiedCount 0
    assert(m(2L) == Route.Success)
    assert(m(3L) == Route.Success)           // insert
  }

  test("$addToSet is idempotent: merging the same values twice changes nothing") {
    val state = Seq((1L, Seq("a", "b"))).toDF("k", "tags")
    val inc = Seq((1L, Seq("b", "c"))).toDF("k", "tags")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("tags", MergeOp.AddToSet)))
    val once = Merge.merge(state, inc, spec).state
    val twice = Merge.merge(once, inc, spec).state
    assert(rows(once.select($"k", array_sort($"tags"))) == rows(twice.select($"k", array_sort($"tags"))))
    assert(once.select(array_sort($"tags")).as[Seq[String]].collect()(0) == Seq("a", "b", "c"))
  }

  test("$addToSet with non-null-element incoming arrays merges across two stored batches") {
    // array(lit(..)) is ARRAY<STRING> with containsNull = false; the state
    // re-read from parquet admits null elements, so the second batch
    // merges a nullable stored array with a non-null incoming one
    val path = java.nio.file.Files.createTempDirectory("graft-addtoset").toString
    val spec = MergeSpec(Seq("key"), Seq(MergeFieldSpec("tags", MergeOp.AddToSet)))
    def batch(tag: String) = spark.range(1)
      .select(lit("k").as("key"), lit(1).as("seq"), array(lit(tag)).as("tags"))
    assert(!batch("a").schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    graft.streaming.StreamingOps.applyMergeBatch(spark, batch("a"), 0L, spec, "seq", path)
    graft.streaming.StreamingOps.applyMergeBatch(spark, batch("b"), 1L, spec, "seq", path)
    val state = graft.streaming.StreamingOps.readState(spark, path).get
    assert(state.select(array_sort($"tags")).as[Seq[String]].collect().toSeq == Seq(Seq("a", "b")))
  }

  test("parent.child $set updates the nested struct field, preserving siblings") {
    val state = Seq((1L, ("old", 9L)), (2L, ("keep", 1L))).toDF("k", "info")
      .select($"k", $"info._1".as("status"), $"info._2".as("score"))
      .select($"k", struct($"status", $"score").as("info"))
    val incoming = Seq((1L, "new"), (3L, "ins")).toDF("k", "info.status")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("info.status", MergeOp.Set)))
    val res = Merge.merge(state, incoming, spec).state
    val m = res.select($"k", $"info.status").as[(Long, String)].collect().toMap
    assert(m(1L) == "new" && m(2L) == "keep" && m(3L) == "ins")
    // sibling field survives the withField update
    val score = res.filter($"k" === 1L).select($"info.score").as[Long].collect()(0)
    assert(score == 9L)
  }

  test("parent.child dot notation: exactly 2 segments enforced") {
    val e = intercept[IllegalArgumentException] { MergeFieldSpec("a.b.c", MergeOp.Set) }
    assert(e.getMessage.contains("2 segments"))
    MergeFieldSpec("a.b", MergeOp.Set) // fine
  }

  test("$addToSet $each over struct arrays unions set-wise (object-array shape)") {
    val state = Seq((1L, Seq(("a", 1L)))).toDF("k", "items")
    val inc = Seq((1L, Seq(("a", 1L), ("b", 2L)))).toDF("k", "items")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("items", MergeOp.AddToSet)))
    val out = Merge.merge(state, inc, spec).state
      .select(array_sort($"items")).as[Seq[(String, Long)]].collect()(0)
    assert(out == Seq(("a", 1L), ("b", 2L))) // duplicate struct dropped
  }

  test("$currentDate sets a server-now timestamp on matched and inserted rows") {
    val state = Seq((1L, "x")).toDF("k", "s")
    val inc = Seq((1L, true), (2L, true)).toDF("k", "touched")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("touched", MergeOp.CurrentDate)))
    val out = Merge.merge(state, inc, spec).state
    val ts = out.select($"touched".cast("long")).as[Long].collect()
    val now = System.currentTimeMillis() / 1000
    assert(ts.length == 2 && ts.forall(t => math.abs(t - now) < 300))
  }

  test("updateOne mode: only the first state row per key is updated") {
    val state = Seq((1L, 10, "a"), (1L, 20, "b"), (2L, 30, "c")).toDF("k", "ord", "s")
    val inc = Seq((1L, "upd")).toDF("k", "s")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set)), updateMany = false)
    val out = Merge.merge(state, inc, spec).state
      .select("k", "s").as[(Long, String)].collect().toSeq
    // exactly ONE of key 1's rows took the update (updateOne semantics)
    assert(out.count(r => r._1 == 1L && r._2 == "upd") == 1)
    assert(out.count(_._1 == 1L) == 2)
    assert(out.contains((2L, "c")))
  }

  test("updateOne mode works when state carries an unorderable MAP column") {
    import org.apache.spark.sql.functions.{map, lit}
    // the eligibility argmin must skip MAP-typed columns (unsortable —
    // the previous all-columns window orderBy failed at analysis here)
    val state = Seq((1L, 10, "a"), (1L, 20, "b"), (2L, 30, "c")).toDF("k", "ord", "s")
      .withColumn("attrs", map(lit("x"), $"s"))
    val inc = Seq((1L, "upd")).toDF("k", "s")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("s", MergeOp.Set)), updateMany = false)
    val out = Merge.merge(state, inc, spec).state
      .select("k", "ord", "s").as[(Long, Int, String)].collect().toSeq
    // deterministically the orderable-minimum row (ord 10) takes the update
    assert(out.toSet == Set((1L, 10, "upd"), (1L, 20, "b"), (2L, 30, "c")))
  }

  test("normalizeTimestamps composes with $addToSet for the reference's object-array path") {
    val state = Seq((1L, Seq((1455494400000L, "x")))).toDF("k", "events")
      .select($"k", transform($"events",
        e => struct(timestamp_millis(e.getField("_1")).as("eventTime"), e.getField("_2").as("v"))).as("events"))
    val incRaw = Seq((1L, Seq((1455580800000L, "y")))).toDF("k", "events")
      .select($"k", transform($"events",
        e => struct(e.getField("_1").as("eventTime"), e.getField("_2").as("v"))).as("events"))
    val inc = incRaw.select($"k",
      Merge.normalizeTimestamps($"events", Seq("eventTime")).as("events"))
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("events", MergeOp.AddToSet)))
    val out = Merge.merge(state, inc, spec).state
      .select(size($"events")).as[Int].collect()(0)
    assert(out == 2)
  }

  test("'*' whole-doc mode applies the op to every non-key incoming column") {
    val state = Seq((1L, "old", 9L)).toDF("k", "s", "n")
    val incoming = Seq((1L, "new", 5L, 1), (2L, "ins", 7L, 1)).toDF("k", "s", "n", "seq")
    val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("*", MergeOp.Set)))
    val res = Merge.upsertBatch(state, incoming, spec, "seq").state
    val m = res.select("k", "s", "n").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == (("new", 5L)) && m(2L) == (("ins", 7L)))
  }

  test("'*' mode cannot combine with per-field specs") {
    val incoming = Seq((1L, "x", 1)).toDF("k", "s", "seq")
    val spec = MergeSpec(Seq("k"),
      Seq(MergeFieldSpec("*", MergeOp.Set), MergeFieldSpec("s", MergeOp.Set)))
    val e = intercept[IllegalArgumentException] {
      Merge.collapseIncoming(incoming, spec, "seq")
    }
    assert(e.getMessage.contains("whole-doc"))
  }

  test("normalizeTimestamps converts epoch-long '*time*' keys in struct arrays") {
    val df = Seq(1).toDF("i").select(
      array(struct(lit(1455494400000L).as("updateTime"), lit("x").as("v"))).as("arr"))
    val out = df.select(Merge.normalizeTimestamps($"arr", Seq("updateTime")).as("arr"))
    val ts = out.select(element_at($"arr", 1).getField("updateTime")).collect()(0).getTimestamp(0)
    assert(ts.toInstant.toString == "2016-02-15T00:00:00Z")
  }

  test("timeLikeKeys finds lowercase-contains-time long fields") {
    import org.apache.spark.sql.types._
    val st = StructType(Seq(
      StructField("updateTime", LongType), StructField("name", StringType),
      StructField("TIMESTAMP", LongType), StructField("timeStr", StringType)))
    assert(Merge.timeLikeKeys(st) == Seq("updateTime", "TIMESTAMP"))
  }
}
