package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.operators.Graph
import graft.streaming.StreamingOps

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def nums: DataFrame = spark.range(0, 1000, 1, 4).toDF("x")

  // every row filtered out by the data, so the plan still has partitions
  private def allFiltered: DataFrame = nums.filter(col("x") < 0L)

  // a grouped aggregate over no rows: adaptive execution proves the
  // result empty, so the checkpoint has no partitions
  private def emptyResult: DataFrame =
    allFiltered.groupBy((col("x") % 3L).as("k")).agg(count(lit(1)).as("n"))

  test("localWithRows' row count equals count() on a non-empty, an all-filtered and an empty frame") {
    for ((name, df) <- Seq("non-empty" -> nums, "all-filtered" -> allFiltered,
        "empty" -> emptyResult)) {
      val (m, rows) = Materialize.localWithRows(df)
      assert(rows == df.count(), name)
      assert(m.count() == rows, name)
    }
    assert(Materialize.localWithRows(nums)._2 == 1000L)
  }

  test("an empty result materializes as a LocalRelation, and a join over it runs no job") {
    val (e, rows) = Materialize.localWithRows(emptyResult)
    assert(rows == 0L)
    assert(e.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      e.queryExecution.optimizedPlan.toString)
    val (joined, sites) = jobSites(
      nums.join(e, col("x") === col("k")).collect())
    assert(joined.isEmpty)
    assert(sites.isEmpty, sites.toString)
  }

  test("an already-materialized frame and a no-op projection of one come back unchanged with no job") {
    val (m, rows) = Materialize.localWithRows(nums)
    val ((again, againRows), s1) = jobSites(Materialize.localWithRows(m))
    assert((again eq m) && againRows == rows && s1.isEmpty, s1.toString)
    val noop = m.select(m.columns.map(col): _*)
    val ((p, pRows), s2) = jobSites(Materialize.localWithRows(noop))
    assert((p eq noop) && pRows == rows && s2.isEmpty, s2.toString)
    val local = Seq(1, 2, 3).toDF("x")
    val ((l, lRows), s3) = jobSites(Materialize.localWithRows(local))
    assert((l eq local) && lRows == 3L && s3.isEmpty, s3.toString)
    // a projection that computes something is a new frame: one job
    val (_, s4) = jobSites(Materialize.local(m.select((col("x") + 1L).as("y"))))
    assert(s4.size == 1 && s4.head.startsWith("local at"), s4.toString)
  }

  test("a materialized non-empty frame reports its stored size to the planner") {
    val m = Materialize.local(nums)
    assert(m.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
  }

  test("stream ops and PageRank read counts from their materializations: no count or isEmpty job") {
    def prose(texts: String*): DataFrame = texts.toDF("text")
    val b0 = prose("the cat sat on the mat", "a dog ran in the park")
    val b1 = prose("the cat sat on the rug", "birds sing at dawn today")
    def vecs(rows: (Long, Double)*): DataFrame =
      rows.map { case (id, x) => (id, Array.fill(4)(x.toFloat)) }.toDF("id", "vec")
    val pq = Files.createTempDirectory("graft-materialize-pq").toString
    StreamingOps.applyIvfPqIndexBatch(spark,
      vecs(0L -> 0.0, 1L -> 100.0, 2L -> 0.2, 3L -> 99.8),
      0L, "id", "vec", c = 2, m = 2, s"$pq/index")
    def drift(b: DataFrame, id: Long): Unit =
      StreamingOps.applyPqDriftBatch(spark, b, id, "id", "vec",
        s"$pq/index", s"$pq/drift", s"$pq/out", retrainThresholdE9 = 500000000L)
    def twoBatches(op: (DataFrame, Long, String) => Unit): Unit = {
      val w = Files.createTempDirectory("graft-materialize-op").toString
      op(b0, 0L, w)
      op(b1, 1L, w)
    }
    val cases: Seq[(String, () => Unit)] = Seq(
      "applyNoveltyBatch" -> (() => twoBatches((b, id, w) =>
        StreamingOps.applyNoveltyBatch(spark, b, id, "text", 2, s"$w/state", s"$w/out"))),
      "applyVocabGrowthBatch" -> (() => twoBatches((b, id, w) =>
        StreamingOps.applyVocabGrowthBatch(spark, b, id, "text", s"$w/state", s"$w/out"))),
      "applyPqDriftBatch, empty occupancy" -> (() =>
        drift(vecs().select(col("id"), col("vec")), 0L)),
      "applyPqDriftBatch, non-empty occupancy" -> (() => {
        drift(vecs(10L -> 0.1, 11L -> 99.9), 1L)
        drift(vecs(12L -> 0.3, 13L -> 0.4), 2L)
      }),
      "pageRankScaled" -> (() => Graph.pageRankScaled(
        Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("src", "dst"),
        "src", "dst", iterations = 2).collect()))
    for ((name, run) <- cases) {
      val (_, sites) = jobSites(run())
      assert(sites.nonEmpty, name)
      assert(!sites.exists(s => s.startsWith("count at") || s.startsWith("isEmpty at")),
        s"$name: $sites")
    }
    // the drift monitor still works: reference from batch 1, batch 2 drifts
    assert(StreamingOps.currentVersionId(spark, s"$pq/drift").contains(1L))
    assert(spark.read.parquet(s"$pq/out/batch=2").select("retrain").as[Boolean].head())
  }

  test("src/main materializes only through Materialize: no bare localCheckpoint, cache or persist") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val bare = """\.localCheckpoint\(|\.cache\(\)|\.persist\(""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val hits = for {
      f <- files(root) if f.getName != "Materialize.scala"
      (line, i) <- Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if bare.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, s"${hits.size} bare materializations: ${hits.mkString(", ")}")
  }
}
