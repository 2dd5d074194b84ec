package graft

import org.apache.spark.sql.SparkSession

/** The one session config graft runs under: every main (`Bench`,
  * `Verify`, `tools.PlanDump`, `tools.StateBucketAb`) and the spec suite
  * build their session here, so what the specs test is what is benched
  * and oracle-verified.
  *
  * `GraftExtensions` is deliberately not installed: operators register
  * the aggregates they need at their call sites, and nothing calls a
  * `graft_*` function by its SQL name.
  */
object GraftSession {

  /** A `local[cpus]` session with one shuffle partition per core. `cpus`
    * defaults to `SPARK_GRAFT_CPUS`, or 4 when that is unset.
    */
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // byte-based AQE coalescing under-parallelizes CPU-heavy text stages
      // on small local files; 16k floor keeps them spread across cores
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // InferFiltersFromGenerate clones the full generator-input expression
      // tree (regex tokenization) into a scan-level filter — pure overhead
      // for our explode pipelines, whose generators drop nothing
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // events.parquet may carry TIMESTAMP(NANOS); SparkEntry.events reads
      // it as a long and truncates to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
