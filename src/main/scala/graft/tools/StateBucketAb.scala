package graft.tools

import org.apache.spark.sql.functions._

/** Reproducible A/B for the versioned-state-store `stateBuckets`
  * crossover (round-15 verdict Next #6): drives the dedup-family store
  * ([[graft.streaming.StreamingOps.applyDedupBatch]]) through a fixed
  * batch schedule at several STATE SIZES, plain vs bucketed, and prints
  * one JSON line per configuration.
  *
  * Why a crossover exists at all: per batch, the PLAIN store pays a
  * full state-side exchange for the anti-join (cost ∝ state rows) on
  * top of the state rewrite; the BUCKETED store avoids that exchange
  * but pays a bucket-id sort inside the same rewrite (also ∝ state
  * rows, cheaper than a network exchange on a real cluster) PLUS a
  * per-version catalog-table round-trip that is roughly CONSTANT.
  * Small states are therefore dominated by the constant catalog churn
  * (bucketing loses — the measured r15 `er_stream` negative), large
  * states by the avoided exchange (bucketing wins). The crossover table
  * on [[graft.streaming.StreamingOps.versionedBatch]] quotes this
  * tool's numbers; re-run it on your own box/cluster before flipping a
  * production store.
  *
  * Usage: `runMain graft.tools.StateBucketAb [rowsCsv] [nBatches]`
  * (defaults: "100000,2000000" and 8). Text/ids are synthesized with
  * spark.range — the store machinery, not the data, is under test.
  */
object StateBucketAb {
  def main(args: Array[String]): Unit = {
    val sizes = args.lift(0).getOrElse("100000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession()
    def runConfig(stateRows: Long, buckets: Option[Int]): Double = {
      val batchRows = math.max(1L, stateRows / nBatches)
      val work = java.nio.file.Files
        .createTempDirectory("graft-bucket-ab").toString
      val t0 = System.nanoTime()
      for (b <- 0 until nBatches) {
        // unique ids per batch → every row survives → the state reaches
        // stateRows fingerprints by the last batch
        val batch = spark.range(b * batchRows, (b + 1) * batchRows)
          .select(col("id"),
            concat(lit("doc body nr "), col("id")).as("text"))
        graft.streaming.StreamingOps.applyDedupBatch(spark, batch,
          b.toLong, "text", "id", s"$work/state", s"$work/out", buckets)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // DISCARDED warm-up of the full machinery in BOTH modes — the first
    // measured configuration otherwise absorbs all the JIT/classload
    // cost (measured: it inflated ~1.8× on the first cut of this tool)
    runConfig(20000L, None); runConfig(20000L, Some(8))
    for (stateRows <- sizes; buckets <- Seq(None, Some(8))) {
      // min of 2 passes: one co-tenant burst must not decide a config
      val sec = math.min(runConfig(stateRows, buckets),
        runConfig(stateRows, buckets))
      println(f"""{"state_rows":$stateRows,""" +
        f""""batch_rows":${math.max(1L, stateRows / nBatches)},""" +
        f""""n_batches":$nBatches,"buckets":${buckets.getOrElse(0)},""" +
        f""""seconds":$sec%.2f}""")
    }
    spark.stop()
  }
}
