package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.model._
import graft.operators.{Binning, Merge}

/**
 * Structured Streaming runners for the graft operators.
 *
 * The reference is a continuous dataflow system: `onTrigger` fires per
 * FlowFile forever (e.g. `@EventDriven`, DataBinningProcessor.java:54),
 * with NO watermark/late-data notion — it processes whatever arrives.
 * The Spark mapping (SURVEY §1.3): every narrow operator (typed
 * projection, security marking, bin fan-out) works on a streaming
 * DataFrame unchanged — they are stateless `select`s. What needs explicit
 * streaming treatment is state:
 *
 *  - bin counts: a streaming aggregation. [[binCountsStream]] adds an
 *    event-time window + watermark (the late-data policy is OURS to
 *    define per SURVEY §4.2 — the reference has none, so the watermark
 *    is a parameter).
 *  - keyed merge ($set/$inc/$addToSet): [[mergeStream]] runs the batch
 *    Merge against a persistent state table per micro-batch via
 *    foreachBatch — the streaming analogue of the reference's Mongo
 *    upsert-per-FlowFile (PartialUpdateMongo.java:431-496), with the
 *    whole micro-batch applied as ONE bulk merge (`ordered(false)`
 *    semantics, :451).
 *
 * Scale notes: binCountsStream state is bounded by (watermark horizon ×
 * bin cardinality); mergeStream state is the table itself (parquet here;
 * a Delta/Iceberg MERGE in production), and each micro-batch is one
 * hash-join-shaped merge, partial-aggregated before the shuffle.
 */
object StreamingOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Streaming windowed bin counts: fan out bin names (narrow, stateless)
    * then count per (window, name) with a watermark.
    */
  def binCountsStream(
      events: DataFrame,
      specs: Seq[BinnerSpec],
      tsCol: String,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "1 hour"
  ): DataFrame = {
    val (staged, binCols) = Binning.withBinArrays(events, specs)
    staged
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(concat(binCols.map(col): _*)).as("name"))
      .groupBy(window(col(tsCol), windowLen), col("name"))
      .agg(count(lit(1)).as("count"))
  }

  /** Incremental keyed merge: the Spark-native re-expression of the
    * reference's per-record Mongo upsert as a STREAMING AGGREGATION in
    * update output mode. State lives in the streaming state store
    * (per-key, incremental — RocksDB/HDFS-backed on a cluster), so each
    * micro-batch touches only the keys it contains and emits only changed
    * keys: per-batch work ∝ batch keys, NOT |state| (the scale fix for
    * the rewrite-everything foreachBatch pattern).
    *
    * Semantics per op (cumulative analogues of Merge.collapseIncoming):
    *  - $set       last-wins by (orderCol, value) — a global version
    *               order, so replayed batches are idempotent (at-least-
    *               once safe), unlike arrival-order last-wins
    *  - $inc       cumulative sum
    *  - $addToSet  collect_set (scalar fields; array-$each needs the
    *               [[mergeStream]] path or a pre-explode — a bounded-
    *               state distinct-union aggregate does not exist)
    *  - $currentDate stamped at emission time
    *
    * Returns the streaming DataFrame of (keys, merged fields); write it
    * with `outputMode("update")` to any keyed sink.
    */
  /** Pre-explode an array-valued `$addToSet $each` field so the
    * incremental merge can treat it as scalar `$addToSet` (collect_set
    * keeps the streaming state bounded by DISTINCT values — the property
    * an array-buffering aggregate cannot give). One row per element;
    * other columns duplicate, which is harmless for Set/Inc fields only
    * when the duplication is keyed — so this helper is for pipelines
    * whose spec is the $each field (plus keys/order) alone, the
    * reference's own shape for array payloads
    * (PartialUpdateMongo.java:399-409).
    */
  def explodeEachField(incoming: DataFrame, field: String): DataFrame =
    incoming.withColumn(field, explode_outer(col(field)))

  def mergeStreamIncremental(
      incoming: DataFrame,
      spec: MergeSpec,
      orderCol: String
  ): DataFrame = {
    require(spec.keyFields.nonEmpty, "incremental merge requires key fields")
    spec.fields.foreach { f =>
      require(f.segments.length == 1,
        s"incremental merge supports flat fields only (got '${f.propertyName}'); " +
          "use mergeStream for parent.child updates")
      if (f.op == MergeOp.AddToSet)
        require(!incoming.schema(f.propertyName).dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType],
          s"$$addToSet $$each (array field '${f.propertyName}') needs mergeStream " +
            "or explodeEachField: unbounded collect_list state would grow with duplicates")
    }
    val (dateFields, aggFields) = spec.fields.partition(_.op == MergeOp.CurrentDate)
    val aggs = aggFields.map { f =>
      val c = col(f.propertyName)
      f.op match {
        case MergeOp.Set => max_by(c, struct(col(orderCol), c)).as(f.propertyName)
        case MergeOp.Inc => sum(c).as(f.propertyName)
        case MergeOp.AddToSet => collect_set(c).as(f.propertyName)
        case MergeOp.CurrentDate => throw new IllegalStateException("partitioned out")
      }
    }
    val agged = incoming
      .groupBy(spec.keyFields.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    dateFields.foldLeft(agged)((df, f) =>
      df.withColumn(f.propertyName, current_timestamp()))
  }

  /** Continuous keyed merge into a versioned parquet state directory —
    * the file-based stand-in for a transactional MERGE target (Delta/
    * Iceberg in production; swap the body of foreachBatch). Each
    * micro-batch is collapsed per key and merged into the state table
    * exactly like the batch operator, under the [[versionedBatch]]
    * protocol: a crash at any point leaves the previous state intact and
    * the checkpoint replays the batch.
    *
    * Note the I/O profile: O(|state|) per batch (read + rewrite). That is
    * inherent to a full-table file target, not to this operator — use
    * [[mergeStreamIncremental]] (keyed state store) or a real MERGE sink
    * when per-batch work must scale with batch size.
    *
    * Returns the started query; the caller owns its lifecycle.
    */
  def mergeStream(
      incoming: DataFrame,
      spec: MergeSpec,
      orderCol: String,
      statePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      stateBuckets: Option[Int] = None
  ): StreamingQuery =
    foreachBatchStream(incoming, "update", checkpointPath, trigger) { (batch, batchId) =>
      applyMergeBatch(incoming.sparkSession, batch, batchId, spec, orderCol,
        statePath, stateBuckets)
    }

  /** Start `incoming` as a query that hands every micro-batch and its id
    * to `apply` — the micro-batch loop of each `*Stream` wrapper over
    * an `apply*Batch` op.
    */
  private def foreachBatchStream(
      incoming: DataFrame,
      outputMode: String,
      checkpointPath: String,
      trigger: Trigger
  )(apply: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => apply(batch.toDF(), batchId) }
      .start()

  /** One micro-batch of [[mergeStream]]: merge into the current state
    * version and commit `v{batchId}`. The replay guard is correctness
    * here: re-merging a committed batch would double-apply $inc (sums
    * twice) and $each (appends twice). Factored out of foreachBatch so
    * the at-least-once contract is directly testable.
    *
    * `stateBuckets = Some(n)` buckets the state on the merge keys: every
    * batch's merge re-joins the whole state on exactly those keys, so
    * the state side reads exchange-free (see [[versionedBatch]] for
    * when bucketing pays).
    */
  def applyMergeBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      spec: MergeSpec,
      orderCol: String,
      statePath: String,
      stateBuckets: Option[Int] = None
  ): Unit =
    versionedBatch(spark, "mergeStream", statePath, batchId, stateBuckets,
        spec.keyFields) { state =>
      val current = state.getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], batch.schema))
      Some(Merge.upsertBatch(current, batch, spec, orderCol).state)
    }

  /** Catalog table name for a bucketed state version: stable per
    * (statePath, version) so replays resolve the same table.
    */
  def stateTableName(statePath: String, version: Long): String =
    s"graft_merge_state_${java.lang.Integer.toHexString(statePath.hashCode)}_v$version"

  /** Read the committed state version — through the versioned CATALOG
    * TABLE when the store is bucketed (bucket metadata lives in the
    * catalog, not the parquet files; a plain-parquet read of the same
    * directory would silently lose the exchange-free-join property).
    * `_CURRENT` still decides WHICH version is committed state.
    */
  private def readVersionedState(
      spark: SparkSession, statePath: String, bucketed: Boolean,
      schema: Option[StructType]): Option[DataFrame] =
    if (bucketed)
      currentVersionId(spark, statePath)
        .map(v => spark.table(stateTableName(statePath, v)))
    else schema match {
      case Some(sc) => currentVersionName(spark, statePath)
        .map(version => spark.read.schema(sc).parquet(s"$statePath/$version"))
      case None => readState(spark, statePath)
    }

  /** The ER store's fixed row shape ([[applyErBatch]]): gram rows
    * `(kind = "g", id, g)` and label rows `(kind = "l", id, label)`.
    * Read with it, a batch skips parquet schema inference — a footer
    * job per batch.
    */
  private val ErStateSchema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("id", StringType),
    StructField("g", LongType), StructField("label", StringType)))

  /** The versioned-store protocol of the `apply*Batch` ops: one batch
    * against a store that is a directory of versions `v<batchId>` plus a
    * `_CURRENT` file naming the committed one. In order:
    *
    *  1. Replay guard. `_CURRENT` at a version >= `batchId` means the
    *     batch is already in the state — the stream crashed after the
    *     commit but before its checkpoint did — so the batch is skipped
    *     and nothing is written. A version further ahead than the
    *     expected replay means a fresh checkpoint is pointed at an old
    *     `statePath`, and every batch would be skipped until the ids pass
    *     it: that warns loudly.
    *  2. State read, on the step's first use of it: the bucketed catalog
    *     table when `stateBuckets` is set, parquet with `stateSchema` when
    *     given (no schema-inference job), plain parquet otherwise; `None`
    *     before the first commit.
    *  3. `step` writes the batch's outputs (whole-directory overwrites)
    *     and returns the next state, or `None` to commit nothing (a
    *     scoring batch against a frozen reference, an empty first
    *     reference).
    *  4. The next state is written to `v<batchId>`, partitioned by
    *     `partitionCols` when given (the IVF-PQ codes' cell layout).
    *  5. `_CURRENT` is renamed to `v<batchId>` last (FileContext rename
    *     with OVERWRITE, atomic on HDFS and local), and versions of
    *     batches before `batchId - 1` are pruned: the committed version
    *     and the one before it stay, which a pinned-version as-of replay
    *     ([[applyAsOfEnrichBatch]]) reads.
    *
    * A crash before the rename leaves `_CURRENT` at the previous
    * version: the replay recomputes against it and overwrites the
    * outputs and the orphaned version directory bit-identically. A crash
    * after the rename replays into the guard, with the outputs already on
    * disk because they were written first.
    *
    * `stateBuckets = Some(n)`: the version is written BUCKETED (and
    * bucket-sorted) on `bucketKeys` via a per-version catalog table —
    * the recurring-join contract of
    * [[graft.engine.Partitioning.writeBucketed]]. Every later batch
    * re-joins the whole state on exactly those keys (the merge's key
    * join, the dedup/novelty/graph-profile stores' anti-joins), so an
    * unbucketed state pays a full state exchange per batch FOREVER;
    * bucketing pays the bucket-id sort once at write, and each later
    * batch reads the state side exchange-free. `_CURRENT` stays the
    * single commit marker: a crash between table write and commit
    * leaves an orphan table the replay overwrites, and catalog entries
    * of pruned versions are dropped after the commit.
    *
    * ==WHEN TO BUCKET (measured contract — do not guess)==
    * The crossover is ABSOLUTE STATE SIZE, not the state:batch ratio:
    * both the avoided exchange and the extra bucket-sort scale with
    * state rows, but the per-version catalog round-trip is constant —
    * so small states lose to churn and large states win on the
    * exchange. Measured on [[graft.tools.StateBucketAb]] (local[8],
    * 6-batch dedup-store lifecycles, min of 2, warmed):
    * 100k state rows → plain 4.1 s vs bucketed 5.2 (bucketing LOSES
    * 1.26×); 2M → 9.7 vs 10.8 (loses 1.11×); 8M → 22.3 vs 17.0
    * (bucketing WINS 1.31×). Rule: keep `None` below a few million
    * committed state rows (every gate-scale store — the measured r15
    * `er_stream` negative is this regime); switch to `Some(n)` once
    * the state is a real corpus slice (≳5M rows locally; LOWER on a
    * real cluster, where the avoided exchange is network, not memory).
    * Re-run the tool on your own hardware before flipping a
    * production store.
    */
  private def versionedBatch(
      spark: SparkSession,
      op: String,
      statePath: String,
      batchId: Long,
      stateBuckets: Option[Int] = None,
      bucketKeys: Seq[String] = Nil,
      stateSchema: Option[StructType] = None,
      partitionCols: Seq[String] = Nil
  )(step: (=> Option[DataFrame]) => Option[DataFrame]): Unit =
    currentVersionId(spark, statePath) match {
      case Some(cur) if cur >= batchId =>
        log.warn(s"$op: skipping batch $batchId — state at v$cur already includes it" +
          (if (cur > batchId)
            s". batchId is ${cur - batchId} behind the committed version: this looks like a " +
              "fresh checkpoint reusing an existing statePath; batches will be skipped until " +
              s"batchIds pass v$cur. Use a fresh statePath (or restore the old checkpoint)."
          else ""))
      case _ =>
        lazy val state =
          readVersionedState(spark, statePath, stateBuckets.isDefined, stateSchema)
        step(state).foreach { next =>
          val version = s"v$batchId"
          stateBuckets match {
            case Some(n) =>
              next.write.mode("overwrite")
                .option("path", s"$statePath/$version")
                .bucketBy(n, bucketKeys.head, bucketKeys.tail: _*)
                .sortBy(bucketKeys.head, bucketKeys.tail: _*)
                .format("parquet")
                .saveAsTable(stateTableName(statePath, batchId))
            case None =>
              val w = next.write.mode("overwrite")
              (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
                .parquet(s"$statePath/$version")
          }
          val keepFrom = batchId - 1
          commitVersion(spark, statePath, version, keepFrom)
          // drop catalog entries for pruned versions (dirs already
          // deleted) — enumerate the catalog for THIS store's prefix
          // rather than sweeping a fixed window back from batchId: batch
          // ids can jump by more than any fixed window (checkpoint reset,
          // long no-op stretches) and a bounded sweep would leak the
          // entries it skips permanently
          if (stateBuckets.isDefined) {
            val prefix = stateTableName(statePath, 0L).dropRight(2) // "..._"
            spark.catalog.listTables().collect()
              .map(_.name)
              .filter(_.startsWith(prefix))
              .flatMap(n => versionBatchId(n.drop(prefix.length)))
              .filter(_ < keepFrom)
              .foreach(g =>
                spark.sql(s"DROP TABLE IF EXISTS ${stateTableName(statePath, g)}"))
          }
        }
    }

  /** The version name `_CURRENT` points at, if any. */
  private[graft] def currentVersionName(spark: SparkSession, statePath: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(statePath, "_CURRENT")
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      Some(try scala.io.Source.fromInputStream(in).mkString.trim finally in.close())
    }
  }

  /** The numeric batch id of the committed version, if any. A malformed
    * pointer (e.g. a bare "v") is treated as absent rather than thrown on.
    */
  def currentVersionId(spark: SparkSession, statePath: String): Option[Long] =
    currentVersionName(spark, statePath).flatMap(versionBatchId)

  private val VersionName = "v([0-9]+)(?:[.]([0-9]+))?".r

  /** The one version-name parser: `v<batchId>` is `(batchId, 0)`, and
    * `v<batchId>.<n>` is `(batchId, n)`, the n-th [[backfillIvfPqIndex]]
    * commit on top of stream batch `batchId`. Anything else (a bare "v",
    * `_CURRENT.tmp`, a stray file) is `None`.
    */
  private def parseVersion(name: String): Option[(Long, Long)] = name match {
    case VersionName(id, n) => Some((id.toLong, Option(n).fold(0L)(_.toLong)))
    case _ => None
  }

  private def versionBatchId(name: String): Option[Long] = parseVersion(name).map(_._1)

  /** Resolve the current state version via the `_CURRENT` pointer. */
  def readState(spark: SparkSession, statePath: String): Option[DataFrame] =
    currentVersionName(spark, statePath)
      .map(version => spark.read.parquet(s"$statePath/$version"))

  /** Atomically point `_CURRENT` at `version`; prune the versions of
    * batches before `keepFrom`.
    */
  private def commitVersion(
      spark: SparkSession, statePath: String, version: String, keepFrom: Long): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fc = FileContext.getFileContext(conf)
    val tmp = new Path(statePath, s"_CURRENT.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(
      org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(version.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, new Path(statePath, "_CURRENT"), Options.Rename.OVERWRITE)
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    fs.listStatus(new Path(statePath)).foreach { st =>
      if (versionBatchId(st.getPath.getName).exists(_ < keepFrom))
        fs.delete(st.getPath, true)
    }
  }

  /** Streaming as-of lookup: enrich each micro-batch against the
    * VERSIONED state table at event time — the continuous face of
    * [[graft.operators.AsOf.joinBackward]] (feature lookup at event
    * time, price as-of trade) over the same `_CURRENT`-versioned state
    * directory [[mergeStream]] maintains. Each batch runs the batch
    * as-of merge (one key shuffle over batch+state) and writes
    * `outPath/batch=<id>/` — per-batch work ∝ batch ∪ state keys, the
    * same profile as the batch operator.
    *
    * Replay determinism: the batch's first attempt PINS the state
    * version it enriched against (a marker under
    * `outPath/_state_versions/`, written BEFORE the data so a crash at
    * any point replays against the SAME version even after the state
    * advances) and the data write is a whole-directory overwrite — so
    * at-least-once replays are idempotent bit-for-bit. A pinned version
    * already pruned by the merge stream's retention falls back to the
    * current version with a warning: the store keeps the committed
    * version and the one before it ([[versionedBatch]]), which bounds
    * the replay window.
    *
    * Requires a committed state version (`_CURRENT` present): without
    * one the match-struct schema is unknowable and emitting a
    * different schema per batch would poison the output table.
    */
  def asOfEnrichStream(
      incoming: DataFrame,
      statePath: String,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      outPath: String,
      checkpointPath: String,
      payloadCols: Seq[String] = Seq.empty,
      tolerance: Option[org.apache.spark.sql.Column] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)
  ): StreamingQuery =
    foreachBatchStream(incoming, "append", checkpointPath, trigger) { (batch, batchId) =>
      applyAsOfEnrichBatch(incoming.sparkSession, batch, batchId, statePath, keys,
        leftTs, rightTs, outPath, payloadCols, tolerance)
    }

  /** One micro-batch of [[asOfEnrichStream]]; factored out so the pin/
    * replay contract is directly testable.
    */
  def applyAsOfEnrichBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      outPath: String,
      payloadCols: Seq[String] = Seq.empty,
      tolerance: Option[org.apache.spark.sql.Column] = None
  ): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$outPath/_state_versions/batch-$batchId")
    val pinned: Option[Long] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val s = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
      }
    val current = currentVersionId(spark, statePath)
    require(pinned.nonEmpty || current.nonEmpty,
      s"asOfEnrichStream needs a committed state version at $statePath " +
        "(run the state-building merge first)")
    val version = pinned match {
      case Some(v) if fs.exists(new Path(s"$statePath/v$v")) => v
      case Some(v) =>
        log.warn(s"asOfEnrichStream: pinned state v$v for batch $batchId was " +
          s"pruned; re-enriching against current v${current.get} — replay is " +
          "no longer bit-identical (retention bounds the replay window)")
        current.get
      case None => current.get
    }
    if (pinned.isEmpty || pinned.get != version) {
      // pin BEFORE the data write: a crash between the two replays
      // against the recorded version, never a newer one
      val out = fs.create(marker, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    }
    val state = spark.read.parquet(s"$statePath/v$version")
    graft.operators.AsOf
      .joinBackward(batch, state, keys, leftTs, rightTs, payloadCols,
        tolerance = tolerance)
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
  }

  /** Streaming exact dedup: drop records whose normalized-content
    * fingerprint already appeared within the watermark horizon — the
    * streaming face of Dedup.exact. `dropDuplicatesWithinWatermark`
    * bounds the fingerprint state by the horizon (at 100 TB/day the
    * forever-dedup alternative is an external state table + the batch
    * DuplicateCheck; unbounded in-store dedup state is a leak, not a
    * feature). State carries the 8-byte fingerprint, never the text.
    */
  def dedupStream(
      records: DataFrame,
      textCol: String,
      tsCol: String,
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    records
      .withColumn("_fp",
        xxhash64(graft.functions.TextFunctions.normalizeForFingerprint(col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming exact dedup with a PERSISTENT fingerprint store — the
    * forever-dedup [[dedupStream]]'s scaladoc points at: state is the
    * versioned fingerprint table (8-byte fingerprints only, never text),
    * so duplicates are dropped across the corpus's entire history, not a
    * watermark horizon. Each batch: fingerprint → keep the min-`idCol`
    * row per in-batch fingerprint (the [[graft.operators.Dedup]] keep
    * rule, deterministic under replay) → anti-join against the store →
    * write survivors to `outPath/batch=<id>/` → commit the union as the
    * next state version ([[versionedBatch]]: a replay before the commit
    * re-dedups against the OLD store and picks the same survivors).
    *
    * Scale: per-batch cost is one fingerprint scan of the batch plus an
    * equi-join against the store on the 8-byte fingerprint, and an
    * O(|state|) rewrite of the fingerprint table (8 bytes/doc — 1 TB of
    * state per ~125 billion documents; swap the body for a Delta/Iceberg
    * MERGE when the rewrite dominates).
    */
  def dedupStreamPersistent(
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      statePath: String,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      stateBuckets: Option[Int] = None
  ): StreamingQuery =
    foreachBatchStream(incoming, "append", checkpointPath, trigger) { (batch, batchId) =>
      applyDedupBatch(incoming.sparkSession, batch, batchId, textCol, idCol,
        statePath, outPath, stateBuckets)
    }

  /** One micro-batch of [[dedupStreamPersistent]]; factored out so the
    * replay contract is directly testable. `stateBuckets = Some(n)`
    * writes the fingerprint store bucketed on `_fp` so every later
    * batch's anti-join reads the state side exchange-free — without it
    * the anti-join re-shuffles the whole committed store every
    * micro-batch.
    */
  def applyDedupBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      statePath: String,
      outPath: String,
      stateBuckets: Option[Int] = None
  ): Unit =
    versionedBatch(spark, "dedupStreamPersistent", statePath, batchId,
        stateBuckets, Seq("_fp")) { state =>
      val fp = xxhash64(
        graft.functions.TextFunctions.normalizeForFingerprint(col(textCol)))
      val stamped = batch.withColumn("_fp", fp)
      // deterministic in-batch keep: min idCol per fingerprint — replays
      // of the same batch pick the same survivors regardless of
      // partitioning (arrival-order dropDuplicates would not)
      val inBatch = stamped
        .groupBy(col("_fp"))
        .agg(min_by(struct(batch.columns.map(col): _*), col(idCol)).as("_r"))
        .select(col("_fp") +: batch.columns.map(c => col(s"_r.$c").as(c)): _*)
      // checkpoint: the survivors write AND the state-union write both
      // consume `fresh` — left lazy, the in-batch keep-one aggregate
      // and the state anti-join executed TWICE per batch (r16 measure)
      val fresh = Materialize.local(state match {
        case Some(st) => inBatch.join(st, Seq("_fp"), "left_anti")
        case None => inBatch
      })
      fresh.drop("_fp").write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // no distinct() on the union: the store is distinct by induction
      // (in-batch keep-one + the anti-join make `fresh`'s fingerprints
      // unique AND disjoint from it), so the state rewrite is a
      // copy+append, not a full re-shuffle per batch
      Some(state match {
        case Some(st) => st.unionByName(fresh.select(col("_fp")))
        case None => fresh.select(col("_fp"))
      })
    }

  /** Streaming per-group TOKEN budget — the continuous face of
    * [[graft.operators.Sampling.tokenQuotaPerGroup]]: each micro-batch
    * keeps a group's rows while the group's running token total (across
    * EVERY batch so far, dropped rows included — the same
    * crawl-order-prefix rule as the batch operator) stays ≤ `budget`.
    * Feeding the batches in ascending key order reproduces the batch
    * operator on the concatenated input EXACTLY (parity is spec-pinned).
    *
    * State is the per-group consumed-token table `(_g, consumed)` — ≤
    * |groups| rows, metadata-sized next to the corpus. The replay guard
    * is correctness: re-adding a committed batch's tokens would spend
    * its budget twice. Within a batch the prefix sums ride the batch
    * operator's two-level bucketed machinery; the state join adds one
    * broadcast-sized offset per group.
    *
    * Output per batch at `outPath/batch=<id>`: the kept rows as
    * `(<groupCol>, <keyCol>, n_tokens, cum_tokens)` with `cum_tokens`
    * the GLOBAL running total through the row.
    */
  def applyTokenQuotaBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      keyCol: String,
      tokensCol: org.apache.spark.sql.Column,
      budget: Long,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "tokenQuotaStream", statePath, batchId) { state =>
      // checkpoint: the kept-rows write and the consumed-total state
      // write both consume `q` — left lazy, the two-level prefix-sum
      // machinery executed twice per batch (r16 measure)
      val q = Materialize.local(graft.operators.Sampling.tokenQuotaPerGroup(
        batch, keyCol, groupCol, tokensCol, budget))
      tokenQuotaStep(q, state, groupCol, keyCol, lit(budget),
        s"$outPath/batch=$batchId")
    }

  /** [[applyTokenQuotaBatch]] with PER-GROUP budgets — the streaming
    * face of [[graft.operators.Sampling.tokenQuotaPerGroupBudgets]],
    * i.e. how a [[graft.operators.Sampling.unimaxBudgets]] allocation
    * is enforced on a live ingest: each group keeps rows while its
    * running token total (across every batch, dropped rows included)
    * stays within ITS OWN budget; groups absent from the map drop.
    * Same consumed-token state table as the single-budget form; the
    * budget lookup is the driver-known CASE chain, no extra join.
    */
  def applyTokenQuotaBudgetsBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      keyCol: String,
      tokensCol: org.apache.spark.sql.Column,
      budgets: Map[String, Long],
      statePath: String,
      outPath: String
  ): Unit = {
    require(budgets.nonEmpty, "applyTokenQuotaBudgetsBatch: budgets must be non-empty")
    versionedBatch(spark, "tokenQuotaStream(budgets)", statePath, batchId) { state =>
      val budgetCase = budgets.toSeq.sortBy(_._1)
        .foldRight(lit(-1L): org.apache.spark.sql.Column) { case ((g, b), els) =>
          when(col(groupCol) === g, lit(b)).otherwise(els)
        }
      // the within-batch cumulative machinery (keep column recomputed
      // against the offset + per-group budget); checkpointed for the
      // applyTokenQuotaBatch reason
      val q = Materialize.local(graft.operators.Sampling.tokenQuotaPerGroupBudgets(
        batch, keyCol, groupCol, tokensCol, budgets))
      tokenQuotaStep(q, state, groupCol, keyCol, budgetCase,
        s"$outPath/batch=$batchId")
    }
  }

  /** The shared step of the token-quota streams: offset the batch's
    * within-batch running totals `q` by each group's committed
    * consumption, write the rows still within `budget` to `out`, and
    * return the consumed-token table with ALL of the batch's tokens
    * added — kept or dropped, since the batch rule's cum counts dropped
    * rows too.
    */
  private def tokenQuotaStep(
      q: DataFrame,
      state: Option[DataFrame],
      groupCol: String,
      keyCol: String,
      budget: Column,
      out: String
  ): Option[DataFrame] = {
    val withOff = state match {
      case Some(st) =>
        q.join(broadcast(st.withColumnRenamed("_g", groupCol)),
            Seq(groupCol), "left")
          .withColumn("_off", coalesce(col("consumed"), lit(0L)))
      case None => q.withColumn("_off", lit(0L))
    }
    withOff
      .filter(col("_off") + col("cum_tokens") <= budget)
      .select(col(groupCol), col(keyCol), col("n_tokens"),
        (col("_off") + col("cum_tokens")).as("cum_tokens"))
      .write.mode("overwrite").parquet(out)
    val batchTotals = q.groupBy(col(groupCol).as("_g"))
      .agg(sum(col("n_tokens")).as("_bt"))
    Some(state match {
      case Some(st) => st.join(batchTotals, Seq("_g"), "full")
        .select(col("_g"),
          (coalesce(col("consumed"), lit(0L)) +
            coalesce(col("_bt"), lit(0L))).as("consumed"))
      case None => batchTotals.select(col("_g"), col("_bt").as("consumed"))
    })
  }

  /** Streaming exact-substring removal with a persistent WINDOW
    * fingerprint store — the continuous face of
    * [[graft.operators.Dedup.removeDuplicatedWindows]]: each batch's
    * duplicated window-token spans are cut against (a) every window
    * the corpus has EVER shipped (the versioned fingerprint store) and
    * (b) earlier in-batch occurrences (the same min-(id, start) keeper
    * rule); cleaned docs write to `outPath/batch=<id>/`, and the
    * batch's own ORIGINAL (pre-cut) window fingerprints commit as the
    * next state version — a future verbatim copy of anything seen here
    * excises even when this batch's own copy was itself cut.
    *
    * State is 8 bytes per distinct window fingerprint, never text; the
    * state rewrite stays distinct by induction (batch fingerprints
    * anti-join the store before the union — no per-batch distinct over
    * history).
    */
  def windowDedupStreamPersistent(
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      statePath: String,
      outPath: String,
      checkpointPath: String,
      window: Int = 50,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      stateBuckets: Option[Int] = None
  ): StreamingQuery =
    foreachBatchStream(incoming, "append", checkpointPath, trigger) { (batch, batchId) =>
      applyWindowDedupBatch(incoming.sparkSession, batch, batchId, textCol, idCol,
        statePath, outPath, window, stateBuckets)
    }

  /** One micro-batch of [[windowDedupStreamPersistent]]; factored out
    * so the replay contract is directly testable. `stateBuckets =
    * Some(n)` writes the window-fingerprint store bucketed on `_h` so
    * BOTH per-batch joins against it (the semi-join that finds
    * historical cuts and the anti-join that appends fresh fingerprints)
    * read the state side exchange-free.
    */
  def applyWindowDedupBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      statePath: String,
      outPath: String,
      windowSize: Int = 50,
      stateBuckets: Option[Int] = None
  ): Unit =
    versionedBatch(spark, "windowDedupStreamPersistent", statePath, batchId,
        stateBuckets, Seq("_h")) { state =>
      import graft.operators.Dedup
      val base = batch.select(col(idCol).as("_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_toks"))
      // checkpoint the narrow (_id, _s, _h, _n) fingerprint table: the
      // cleaned-output write (keeper spans + historical semi-join) and
      // the state append both consume it — left lazy, the tokenize +
      // window-fingerprint chain executed once per consumer (r16)
      val wins = Materialize.local(Dedup.tokenWindowFingerprints(base, windowSize))
      val inBatch = Dedup.nonKeeperSpans(wins, windowSize)
      val cuts = state match {
        case Some(st) =>
          // anything the store has seen cuts UNCONDITIONALLY — the
          // historical keeper already shipped in an earlier batch
          val fromState = wins.join(st, Seq("_h"), "left_semi")
            .select(col("_id"), col("_s"),
              least(col("_s") + lit(windowSize.toLong), col("_n").cast("long"))
                .as("_e"))
          inBatch.unionByName(fromState).dropDuplicates("_id", "_s")
        case None => inBatch
      }
      Dedup.rebuildWithoutSpans(base, cuts, idCol)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      val batchFps = wins.select(col("_h")).distinct()
      Some(state match {
        case Some(st) =>
          st.unionByName(batchFps.join(st, Seq("_h"), "left_anti"))
        case None => batchFps
      })
    }

  /** Incrementally maintained BM25 postings index — the continuous
    * face of [[graft.operators.Retrieval]]: each micro-batch of NEW
    * documents tokenizes once, aggregates to its own postings slice
    * `(term, id, tf)`, and appends to the versioned state table;
    * [[graft.operators.Retrieval.bm25TopKFromPostings]] over
    * [[readState]] serves queries against any committed version.
    * APPEND-ONLY contract: doc ids are assumed new (re-ingesting an id
    * double-counts its terms — route re-ingests through
    * [[dedupStreamPersistent]] first, or rebuild the index), which is
    * also why the replay guard is correctness here.
    *
    * Per-batch work is one scan of the batch plus an O(|state|) rewrite
    * of the postings table (inherent to a full-table file target; the
    * rows are (term-hashable, 8-byte id, count) — swap in a
    * MERGE-capable table format when the rewrite dominates).
    */
  def bm25IndexStream(
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      statePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)
  ): StreamingQuery =
    foreachBatchStream(incoming, "append", checkpointPath, trigger) { (batch, batchId) =>
      applyBm25IndexBatch(incoming.sparkSession, batch, batchId, textCol, idCol,
        statePath)
    }

  /** One micro-batch of [[bm25IndexStream]]; factored out so the replay
    * contract is directly testable.
    */
  def applyBm25IndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      statePath: String
  ): Unit =
    versionedBatch(spark, "bm25IndexStream", statePath, batchId) { state =>
      val slice = graft.operators.Retrieval
        .buildPostings(batch, idCol, textCol)
      // append-only: batch ids are new, so the union IS the new index
      // (no re-aggregation of historical postings)
      Some(state.fold(slice)(_.unionByName(slice)))
    }

  /** Streaming corpus-drift guard — the distribution-shift monitor a
    * continuously-ingesting curation pipeline runs against its accepted
    * snapshot. The FIRST batch commits the reference token-bucket
    * histogram as versioned state; every later batch compresses to its
    * own histogram map-side and scores against the COMMITTED reference
    * with the exact integer drift arithmetic
    * ([[graft.operators.ImportanceScoring.driftFromHistograms]] — per-
    * bucket cross-normalized gap, no KL/ln), writing per-batch drift
    * rows to `outPath/batch=<id>/` and committing nothing, so a
    * replayed scoring batch recomputes against the same frozen
    * reference and overwrites its own directory bit-identically. State
    * is a ≤`buckets`-row histogram — metadata-sized at any corpus
    * scale; token payloads never cross a shuffle on either path.
    */
  def applyDriftBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      statePath: String,
      outPath: String,
      buckets: Int = graft.operators.ImportanceScoring.DefaultBuckets,
      salt: String = "drift"
  ): Unit =
    versionedBatch(spark, "driftStream", statePath, batchId) { state =>
      import graft.operators.ImportanceScoring
      val hist = ImportanceScoring.hashedBucketCounts(batch, textCol, buckets, salt)
      state match {
        case None => Some(hist)
        case Some(reference) =>
          ImportanceScoring.driftFromHistograms(reference, hist)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          None
      }
    }

  /** One micro-batch of STREAMING numeric-shift monitoring — the
    * continuous face of
    * [[graft.operators.Profile.distributionShift]]: the first non-empty
    * batch's value histogram commits as the versioned REFERENCE state;
    * every later batch builds its own histogram and emits the exact
    * two-sample KS + 1-Wasserstein against the committed reference to
    * `outPath/batch=<id>` as one `(n, n_ref, ks_ppm, w1_e6)` row — the
    * "is today's feed still shaped like the reference" alert. Scoring
    * batches commit nothing; a re-emitted output overwrites
    * bit-identically (pure integer arithmetic against frozen state).
    *
    * Scale shape: state is the reference VALUE HISTOGRAM (integer
    * measures by contract — quantize first; never rows), each batch
    * pays one map-side-combined histogram aggregate, and the compare
    * windows histogram rows only ([[Profile.shiftFromHistograms]]).
    */
  def applyShiftBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      valueCol: String,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "shiftStream", statePath, batchId) { state =>
      import graft.operators.Profile
      val hist = batch
        .select(col(valueCol).cast("long").as("_v"))
        .filter(col("_v").isNotNull)
        .groupBy(col("_v")).agg(count(lit(1)).as("_cr"))
      state match {
        // An EMPTY first batch must NOT become the reference: every
        // later batch would be dropped by the n_ref > 0 filter in
        // shiftFromHistograms and the monitor would silently emit
        // empty alerts forever. Commit nothing so the first non-empty
        // batch takes the reference slot instead.
        case None if hist.isEmpty =>
          log.warn(s"shiftStream: batch $batchId has no non-null values " +
            "— refusing to commit an empty reference histogram; waiting " +
            "for the first non-empty batch")
          None
        case None => Some(hist)
        case Some(reference) =>
          val oth = hist.select(lit("batch").as("_g"), col("_v"),
            col("_cr").as("_c"))
          Profile.shiftFromHistograms(oth, reference, "_gout")
            .select(col("n"), col("n_ref"), col("ks_ppm"), col("w1_e6"))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          None
      }
    }

  /** One micro-batch of STREAMING EXACT QUANTILES — the continuous
    * face of [[graft.operators.Profile.exactPercentiles]]: the
    * versioned state is the cumulative VALUE HISTOGRAM (integer
    * measures by contract — quantize first; never rows), each batch
    * sum-merges its own histogram in, commits the merged table as the
    * next version, and emits the CURRENT exact percentiles of
    * everything ingested to `outPath/batch=<id>` as one `(prob,
    * value, n)` row per requested probability. After any prefix the
    * emitted values equal the batch operator over the union — the
    * identical [[graft.operators.Profile.interpolateRanks]]
    * arithmetic runs over the merged histogram
    * ([[graft.operators.Profile.exactPercentilesFromHistogram]]), so
    * DuckDB's `quantile_cont` reproduces every decimal. The replay
    * guard is correctness: re-merging a committed batch double-counts.
    *
    * Scale shape: state is histogram rows (≤ distinct quantized
    * values), each batch pays one map-side-combined histogram
    * aggregate over its own rows plus distributed selection over
    * HISTOGRAM rows — no stage ever holds the value stream.
    */
  def applyQuantileBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      valueCol: String,
      probs: Seq[Double],
      statePath: String,
      outPath: String
  ): Unit = {
    import graft.operators.Profile
    require(probs.nonEmpty && probs.forall(p => p >= 0d && p <= 1d),
      s"quantileStream: probs must be in [0, 1], got $probs")
    versionedBatch(spark, "quantileStream", statePath, batchId) { state =>
      val own = batch
        .select(col(valueCol).cast("long").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val merged = Materialize.local(state.fold(own)(_.unionByName(own))
        .groupBy(col("v")).agg(sum(col("cnt")).as("cnt")))
      val n = merged.agg(coalesce(sum(col("cnt")), lit(0L)))
        .collect()(0).getLong(0)
      // an empty prefix has UNDEFINED quantiles: emit zero rows (the
      // batch operator's Option.None face), never NaN placeholders
      val rows = Profile.exactPercentilesFromHistogram(merged, probs) match {
        case Some(vals) => probs.zip(vals).map { case (p, v) => (p, v, n) }
        case None => Seq.empty[(Double, Double, Long)]
      }
      import spark.implicits._
      rows.toDF("prob", "value", "n")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }
  }

  /** One micro-batch of STREAMING VOCABULARY GROWTH — the continuous
    * face of [[graft.operators.Vocab.vocabGrowthCurve]]: the versioned
    * state is the SEEN-TERM fingerprint store (8-byte xxhash64 per
    * distinct term — the novelty-store convention; terms themselves
    * never persist) plus one null-fingerprint sentinel row carrying
    * the cumulative token count (the late-window watermark layout).
    * Each batch counts its tokens, anti-joins its distinct term
    * fingerprints against the store, commits store ∪ new as the next
    * version, and emits ONE row to `outPath/batch=<id>`:
    * `(distinct_terms, total_tokens, new_terms)` — the first two
    * cumulative after this batch, the third this batch's novel-term
    * count (the per-batch Heaps increment a feed monitor alerts on: a
    * healthy crawl keeps minting terms; new_terms → 0 says the tail
    * is re-crawls). After any prefix the cumulative pair equals the
    * batch operator over the union (exact over fingerprints, the
    * dedup family's 2⁻⁶⁴ collision argument). The replay guard is
    * correctness: the union would re-add a committed batch's tokens.
    *
    * Scale shape: per-batch cost = one tokenize pass map-side-combined
    * to distinct fingerprints + one 8-byte anti-join against the
    * store; the store rewrite is the cumulative-store trade the
    * novelty/minhash streams already make.
    */
  def applyVocabGrowthBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "vocabGrowthStream", statePath, batchId) { old =>
      import graft.functions.TextFunctions
      // ONE tokenize pass: group straight to per-fingerprint counts so the
      // batch token total (sum) and the distinct-term frame (keys) both
      // come from the same map-side-combined aggregate — tokenizing twice
      // would double the dominant cost and break the scaladoc's claim.
      val hCounts = Materialize.local(batch.select(
          explode(TextFunctions.tokens(lower(col(textCol)))).as("_t"))
        .groupBy(xxhash64(col("_t")).as("h"))
        .agg(count(lit(1)).as("_hc")))
      val batchTokens = hCounts.agg(coalesce(sum(col("_hc")), lit(0L)))
        .collect()(0).getLong(0)
      val batchTerms = hCounts.select(col("h"))
      val oldTerms = old.map(_.filter(col("h").isNotNull).select(col("h")))
      val oldTokens = old.map(_.filter(col("h").isNull)
        .select(col("cnt")).head().getLong(0)).getOrElse(0L)
      val (newTerms, nNew) = Materialize.localWithRows(oldTerms match {
        case Some(ot) => batchTerms.join(ot, Seq("h"), "left_anti")
        case None => batchTerms
      })
      val (mergedTerms, nDistinct) = Materialize.localWithRows(oldTerms match {
        case Some(ot) => ot.unionByName(newTerms)
        case None => newTerms
      })
      val totalTokens = oldTokens + batchTokens
      import spark.implicits._
      Seq((nDistinct, totalTokens, nNew))
        .toDF("distinct_terms", "total_tokens", "new_terms")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(mergedTerms.select(col("h"), lit(1L).as("cnt"))
        .unionByName(Seq((Option.empty[Long], totalTokens))
          .toDF("h", "cnt")))
    }

  /** One micro-batch of STREAMING changepoint monitoring — the
    * continuous face of
    * [[graft.operators.ImportanceScoring.cusumChangepoint]]: versioned
    * state is the per-period count table (series metadata, never the
    * event log); each batch merges its own per-period counts in,
    * commits the sum as the next version, and emits the CURRENT
    * changepoint estimate over the accumulated series to
    * `outPath/batch=<id>` — the alert a feed monitor re-evaluates as
    * data arrives. After the last batch the emitted row equals the
    * batch operator on the full series exactly. The replay guard is
    * correctness here, not just hygiene: the merge would double-count
    * a committed batch's events.
    */
  def applyChangepointBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      periodCol: String,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "changepointStream", statePath, batchId) { state =>
      val own = batch.select(col(periodCol).cast("long").as("_p"))
        .filter(col("_p").isNotNull)
        .groupBy(col("_p")).agg(count(lit(1)).as("_c"))
      val merged = Materialize.local(state match {
        case Some(st) => st.unionByName(own)
          .groupBy(col("_p")).agg(sum(col("_c")).as("_c"))
        case None => own
      })
      graft.operators.ImportanceScoring.cusumFromCounts(merged)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }

  /** One micro-batch of STREAMING n-gram novelty — the continuous face
    * of [[graft.operators.Vocab.ngramNovelty]]: a persistent
    * fingerprint store of every n-gram ever seen, and per batch one
    * accounting row `(batch_id, novel_ngrams, distinct_ngrams,
    * novelty_ppm)` — how much NEW information the batch carries (a
    * re-crawl or templated feed scores near zero). The batch's novel
    * fingerprints then append to the store as the next committed
    * version. The exchange carries 8-byte fingerprints only; the store
    * append is a shuffle-free copy+append (novel fps are distinct and
    * disjoint from the store by construction).
    */
  def applyNoveltyBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      n: Int,
      statePath: String,
      outPath: String,
      stateBuckets: Option[Int] = None
  ): Unit = {
    import spark.implicits._
    require(n >= 1, s"applyNoveltyBatch: n must be positive, got $n")
    versionedBatch(spark, "noveltyStream", statePath, batchId, stateBuckets,
        Seq("_fp")) { state =>
      val (grams, total) = Materialize.localWithRows(batch
        .select(explode(array_distinct(
          graft.functions.TextFunctions.shingles(col(textCol), n))).as("_s"))
        .select(xxhash64(col("_s")).as("_fp"))
        .distinct())
      val (novel, nov) = Materialize.localWithRows(state match {
        case Some(st) => grams.join(st, Seq("_fp"), "left_anti")
        case None => grams
      })
      Seq((batchId, nov, total, nov * 1000000L / math.max(total, 1L)))
        .toDF("batch_id", "novel_ngrams", "distinct_ngrams", "novelty_ppm")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(state.fold(novel)(_.unionByName(novel)))
    }
  }

  /** One micro-batch of the STREAMING exactly-N sample — the reservoir
    * of the deterministic-sampling family: the state is always the n
    * keys with the LARGEST full 64-bit FNV hash (signed order, the
    * [[graft.operators.Sampling.sampleExactN]] total order) over every
    * row ingested so far. Bottom-k-by-hash is a MERGEABLE summary —
    * sample(A ∪ B) = sample(sample(A) ∪ B) — so each batch just re-runs
    * the batch operator over (committed state ∪ batch) and commits the
    * winner set; after any prefix of the stream the state is
    * bit-identical to the batch sample of everything seen, which is
    * what the gate's oracle recomputes. State is ≤ n rows —
    * driver-bounded by construction, at any corpus scale.
    */
  def applySampleExactNBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      n: Int,
      salt: String,
      statePath: String
  ): Unit = {
    require(n >= 1, s"applySampleExactNBatch: n must be positive, got $n")
    versionedBatch(spark, "sampleExactNStream", statePath, batchId) { state =>
      // no checkpoint: the version write is the winner set's only
      // consumer (and it lands in a NEW version dir, so there is no
      // read-overwrite hazard) — the eager materialization was one
      // full extra pass per batch (r16 measure)
      Some(graft.operators.Sampling.sampleExactN(
        state.fold(batch)(_.unionByName(batch)), keyCol, n, salt))
    }
  }

  /** The per-GROUP form of [[applySampleExactNBatch]] — a fixed-size
    * deterministic reservoir per stratum (language, source, domain):
    * the state is the per-group largest-n-by-FNV key set, which is a
    * per-group mergeable summary for exactly the reason the global one
    * is, so each batch re-runs
    * [[graft.operators.Sampling.sampleExactNPerGroup]] over
    * (state ∪ batch). State ≤ n·|groups| rows forever. The committed
    * `rank` column is recomputed on every merge (ranks are relative to
    * the current winner set).
    */
  def applySampleExactNPerGroupBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      groupCol: String,
      n: Int,
      salt: String,
      statePath: String
  ): Unit = {
    require(n >= 1, s"applySampleExactNPerGroupBatch: n must be positive, got $n")
    versionedBatch(spark, "sampleExactNPerGroupStream", statePath, batchId) { state =>
      val slim = batch.select(col(groupCol), col(keyCol))
      val cand = state.fold(slim)(
        _.select(col(groupCol), col(keyCol)).unionByName(slim))
      // no checkpoint — single consumer, new version dir (see
      // applySampleExactNBatch)
      Some(graft.operators.Sampling
        .sampleExactNPerGroup(cand, keyCol, groupCol, n, salt))
    }
  }

  /** One micro-batch of the STREAMING count-min sketch: cells SUM-merge
    * ([[applyHllBatch]]'s max-merge sibling — associative and
    * commutative but NOT idempotent, so item re-delivery double-counts
    * by design and only the batch-version guard provides replay
    * safety; that asymmetry is the point of gating both). State is
    * ≤ depth·width cells forever; after every prefix it equals the
    * batch sketch of everything ingested.
    */
  def applyCmsBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      item: Column,
      statePath: String,
      depth: Int = 4,
      width: Int = 1024
  ): Unit =
    versionedBatch(spark, "cmsStream", statePath, batchId) { state =>
      val fresh = graft.operators.Profile.cmsSketch(batch, item, depth, width)
      // no checkpoint — the version write is the merge's only consumer,
      // into a new version dir (r16: the eager pass was waste)
      Some(state match {
        case Some(st) => st.unionByName(fresh)
          .groupBy("row", "col").agg(sum(col("cnt")).as("cnt"))
        case None => fresh
      })
    }

  /** One micro-batch of the STREAMING MinHash/LSH near-dup index — the
    * text sibling of [[applyAnnIndexBatch]]: the state is the
    * signature table `(id, sig)` plus band postings `(band, h, id)`
    * ([[graft.operators.Dedup.lshBandKeys]] over the one-pass native
    * signature). Both tables are pure per-doc functions, so the merge
    * is a plain distinct union — idempotent under item re-delivery —
    * and the committed index equals the batch index of everything
    * ingested. Signatures are `numHashes` longs per doc (128 bytes at
    * the default 16) vs kilobytes of text: the index is the thing you
    * can afford to keep hot at 100 TB.
    */
  def applyMinhashIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      statePath: String
  ): Unit = {
    require(numHashes % bands == 0,
      "applyMinhashIndexBatch: numHashes must be divisible by bands")
    import graft.operators.Dedup
    versionedBatch(spark, "minhashIndexStream", statePath, batchId) { state =>
      val sigs = batch.select(col(idCol).as("id"),
          Dedup.minHashSignature(col(textCol), numHashes).as("sig"),
          xxhash64(graft.functions.TextFunctions
            .normalizeForFingerprint(col(textCol))).as("fp"))
        .filter(col("sig").isNotNull)
      val fresh = sigs.select(col("id"), col("sig"), col("fp"),
          explode(Dedup.lshBandKeys(col("sig"), bands, numHashes / bands))
            .as("_bk"))
        .select(col("id"), col("sig"), col("fp"),
          col("_bk.band").as("band"), col("_bk.h").as("h"))
      // no checkpoint — single consumer, new version dir (the
      // applyCmsBatch rationale)
      Some(state.fold(fresh)(_.unionByName(fresh)).dropDuplicates("id", "band"))
    }
  }

  /** Near-dup lookup against a committed [[applyMinhashIndexBatch]]
    * index: candidates are indexed docs sharing ANY band key with the
    * query, verified by exact signature overlap ≥ `minOverlap` slots.
    * With `exactVerify` the verification tightens to normalized-text
    * FINGERPRINT equality — full signature overlap alone is NOT
    * equality when one doc's shingles CONTAIN another's (the smaller
    * set's extras can lose every per-hash min, e.g. a doc that is a
    * strict prefix of another — a case the sf0.001 fixtures plant),
    * so a gate whose oracle is the exact-text join must verify on the
    * fingerprint, not the sketch. Queries are the small side
    * (broadcast); the index never rescans its text — signatures and
    * fingerprints ride the postings. Output: `(query_id, id,
    * overlap)`, one row per verified (query, indexed doc) pair.
    */
  def queryMinhashIndex(
      spark: SparkSession,
      statePath: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      numHashes: Int,
      bands: Int,
      minOverlap: Int,
      exactVerify: Boolean = false
  ): DataFrame = {
    import graft.operators.Dedup
    val state = readState(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"queryMinhashIndex: no committed index at $statePath"))
    val q = queries.select(col(qIdCol).as("query_id"),
        Dedup.minHashSignature(col(qTextCol), numHashes).as("qsig"),
        xxhash64(graft.functions.TextFunctions
          .normalizeForFingerprint(col(qTextCol))).as("qfp"))
      .filter(col("qsig").isNotNull)
      .select(col("query_id"), col("qsig"), col("qfp"),
        explode(Dedup.lshBandKeys(col("qsig"), bands, numHashes / bands))
          .as("_bk"))
      .select(col("query_id"), col("qsig"), col("qfp"),
        col("_bk.band").as("band"), col("_bk.h").as("h"))
    val verified = state.join(broadcast(q), Seq("band", "h"))
      .filter(if (exactVerify) col("fp") === col("qfp") else lit(true))
      .select(col("query_id"), col("id"),
        Dedup.signatureOverlap(col("qsig"), col("sig")).as("overlap"))
      .distinct()
    verified.filter(col("overlap") >= minOverlap)
  }

  /** One micro-batch of STREAMING ENTITY RESOLUTION — the continuous
    * face of the batch setsim → label-propagation pipeline (the
    * `pipeline_entity_resolution` gate). The versioned state carries
    * (a) every seen doc's distinct 8-byte shingle-gram hashes and (b)
    * the committed canonical label table — ids and hashes only, never
    * text (text is read once, in the batch's own narrow gram
    * projection). Each batch:
    *
    *  1. grams the new docs; ids already in the store are dropped
    *     (docs are immutable by id — item re-delivery is a no-op, the
    *     novelty-store convention),
    *  2. runs the INCREMENTAL exact set-similarity join: the batch
    *     prefix-filter plan over old ∪ new grams with candidates
    *     restricted to pairs touching a new doc
    *     ([[graft.operators.Dedup.setSimPairsFromGrams]]'s `_new`
    *     contract — resolved old×old pairs are never recomputed),
    *  3. re-propagates min labels over (new pairs) ∪ (the committed
    *     labels' node→label STAR edges) — the union-find step: the
    *     stars compress every prior component to diameter 1, so
    *     `lpaRounds` only has to cover the new merges; docs outside
    *     every edge keep label = self,
    *  4. emits the FULL canonical table (`node, label, is_canonical`,
    *     singletons included with label = self) to `outPath/batch=<id>`
    *     and commits grams ∪ labels as the next version.
    *
    * After the last batch the emitted table equals the batch pipeline
    * over all docs, PROVIDED `lpaRounds` fully converges both
    * schedules (near-dup components are small and star-shaped by
    * construction; the gate runs 4 rounds over measured diameter ≤ 2
    * clusters). When that proviso cannot be certified — unknown
    * corpora, adversarial duplication chains — pass
    * `exactComponents = true`: the union-find step runs
    * [[graft.operators.Graph.connectedComponentsMin]] (pointer-jumped
    * min propagation TO CONVERGENCE) instead of bounded rounds, making
    * the canonical labels exact at any component diameter for an
    * O(log d)-round cost. Labels are MIN by STRING order — callers
    * feed order-consistent ids (the gate lpads). The replay guard is
    * correctness: the gram union would double rows otherwise.
    *
    * Scale shape: per-batch cost = the incremental prefix-filter join
    * (∝ new docs × matched rare-gram postings) + `lpaRounds` id-only
    * rounds over the pair and star edges
    * ([[graft.operators.Graph.labelPropagationMin]]: one materialized
    * symmetric adjacency, a join-free first round, then one join plus
    * one `min` aggregate a round) + one `min` aggregate folding in the
    * singletons + one state rewrite. Every intermediate is
    * materialized once and carries its stored size
    * ([[org.apache.spark.sql.graft.Materialize.local]]), so joins
    * against small intermediates plan as broadcasts from the start.
    * Measured at 100 docs a batch against a growing store (local[4],
    * adaptive execution, so every shuffle stage is a job of its own):
    * 31 Spark jobs per steady-state batch, which ask Spark's codegen
    * cache (100 entries by default) for 106 distinct generated classes,
    * counting each class once per class loader that compiles it; each
    * entry a batch asks for beyond what the cache holds is a recompile.
    * The state rewrite is the cumulative-store cost the minhash index
    * stream already carries; at 100 TB both would move to an
    * append-log + compaction layout — the protocol (version pointer,
    * replay guard) is unchanged by that swap.
    */
  def applyErBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      thresholdPpm: Long,
      lpaRounds: Int,
      statePath: String,
      outPath: String,
      exactComponents: Boolean = false,
      maxPrefixGramDf: Long = 100000L
  ): Unit =
    versionedBatch(spark, "erStream", statePath, batchId,
        stateSchema = Some(ErStateSchema)) { old =>
      import graft.operators.{Dedup, Graph}
      import graft.functions.TextFunctions
      val newGramsRaw = batch.select(col(idCol).cast(StringType).as("_id"),
          explode(array_distinct(
            TextFunctions.shingles(col(textCol), shingleSize))).as("_s"))
        .select(col("_id"), xxhash64(col("_s")).as("_g"))
        .distinct()
      val oldGrams = old.map(_.filter(col("kind") === "g")
        .select(col("id").as("_id"), col("g").as("_g")))
      val oldLabels = old.map(_.filter(col("kind") === "l")
        .select(col("id").as("node"), col("label")))
      // every stored doc has exactly one label row, so the label rows
      // are the stored id set
      val newGrams = oldLabels match {
        case Some(ol) => newGramsRaw.join(
          ol.select(col("node").as("_id")), Seq("_id"), "left_anti")
        case None => newGramsRaw
      }
      val allGrams = Materialize.local(oldGrams match {
        case Some(og) => og.withColumn("_new", lit(false))
          .unionByName(newGrams.withColumn("_new", lit(true)))
        case None => newGrams.withColumn("_new", lit(true))
      })
      val pairs = Dedup.setSimPairsFromGrams(allGrams, thresholdPpm, maxPrefixGramDf)
        .select(col("id_a").as("_a"), col("id_b").as("_b"))
      val starEdges = oldLabels.map(_.filter(col("node") =!= col("label"))
        .select(col("node").as("_a"), col("label").as("_b")))
      val edges = starEdges.map(pairs.unionByName(_)).getOrElse(pairs)
      val lpa =
        if (exactComponents) Graph.connectedComponentsMin(edges, "_a", "_b")
        else Graph.labelPropagationMin(edges, "_a", "_b", lpaRounds)
      // singletons label themselves: a min label never exceeds its own
      // node, so ONE min aggregate over (LPA labels ∪ every doc as its
      // own label) is the full table. Singletons stay out of the LPA
      // rounds, so a batch without pairs (the first one) runs them over
      // empty inputs
      val labels = Materialize.local(lpa
        .unionByName(allGrams.select(col("_id").as("node"), col("_id").as("label")))
        .groupBy(col("node")).agg(min(col("label")).as("label")))
      labels.select(col("node"), col("label"),
          (col("node") === col("label")).as("is_canonical"))
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(allGrams.select(lit("g").as("kind"), col("_id").as("id"),
          col("_g").as("g"), lit(null).cast(StringType).as("label"))
        .unionByName(labels.select(lit("l").as("kind"), col("node").as("id"),
          lit(null).cast(LongType).as("g"), col("label"))))
    }

  /** READ-ONLY entity lookup against the committed ER state — the
    * SERVING face of [[applyErBatch]]: resolve which canonical entity
    * each incoming doc belongs to WITHOUT mutating state (the dry-run
    * a router or dedup-on-ingest check runs per request). Per doc:
    *
    *  - an id already in the store returns its COMMITTED label
    *    directly (docs are immutable by id — re-delivery is a lookup,
    *    not a re-resolution);
    *  - a new id grams its text, rides the same incremental
    *    prefix-filter plan as the batch op (`_new` contract — store ×
    *    store pairs never form), keeps only doc↔STORE matches at
    *    `thresholdPpm`, and resolves to the MINIMUM committed label
    *    among its matches (`matched = true`) or to itself
    *    (`matched = false`).
    *
    * Output: `(node, label, matched)`. Cost is the serving fraction of
    * the batch op — the candidate join over new-doc prefixes plus one
    * label join; no LPA rounds, no state rewrite, no commit — and the
    * result is a pure function of (batch, committed state), so bench
    * re-runs measure serving, not lifecycle.
    */
  def erResolve(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      thresholdPpm: Long,
      statePath: String,
      maxPrefixGramDf: Long = 100000L
  ): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    import org.apache.spark.sql.types.StringType
    val st = readState(spark, statePath).getOrElse(
      sys.error(s"erResolve: no committed ER state at $statePath"))
    val storeGrams = st.filter(col("kind") === "g")
      .select(col("id").as("_id"), col("g").as("_g"))
    val labels = st.filter(col("kind") === "l")
      .select(col("id").as("_sid"), col("label"))
    // reused: in-store split + the candidate join
    val qGrams = Materialize.local(batch.select(col(idCol).cast(StringType).as("_id"),
        explode(array_distinct(
          TextFunctions.shingles(col(textCol), shingleSize))).as("_s"))
      .select(col("_id"), xxhash64(col("_s")).as("_g"))
      .distinct())
    // no distinct on the store side: semi/anti joins are set-semantics
    // already, and each distinct would be one more shuffle in the
    // serving path's fixed latency
    val storeIds = storeGrams.select(col("_id"))
    val inStore = qGrams.select(col("_id")).distinct()
      .join(storeIds, Seq("_id"), "left_semi")
    val newQ = qGrams.join(storeIds, Seq("_id"), "left_anti")
    val all = storeGrams.withColumn("_new", lit(false))
      .unionByName(newQ.withColumn("_new", lit(true)))
    val pairs = Dedup.setSimPairsFromGrams(all, thresholdPpm, maxPrefixGramDf)
    // keep doc↔store matches only (the `_new` contract already removed
    // store×store; this drops query×query)
    val qIds = newQ.select(col("_id")).distinct()
    val oriented = pairs
      .join(qIds.select(col("_id").as("id_a"), lit(true).as("_qa")),
        Seq("id_a"), "left")
      .join(qIds.select(col("_id").as("id_b"), lit(true).as("_qb")),
        Seq("id_b"), "left")
      .filter(coalesce(col("_qa"), lit(false)) =!=
        coalesce(col("_qb"), lit(false)))
      .select(
        when(coalesce(col("_qa"), lit(false)), col("id_a"))
          .otherwise(col("id_b")).as("_qid"),
        when(coalesce(col("_qa"), lit(false)), col("id_b"))
          .otherwise(col("id_a")).as("_sid"))
    val resolved = oriented.join(labels, Seq("_sid"))
      .groupBy(col("_qid")).agg(min(col("label")).as("_ml"))
    val newOut = qIds
      .join(resolved.withColumnRenamed("_qid", "_id"), Seq("_id"), "left")
      .select(col("_id").as("node"),
        coalesce(col("_ml"), col("_id")).as("label"),
        col("_ml").isNotNull.as("matched"))
    val storeOut = inStore
      .join(labels.withColumnRenamed("_sid", "_id"), Seq("_id"))
      .select(col("_id").as("node"), col("label"), lit(true).as("matched"))
    newOut.unionByName(storeOut)
  }

  /** One micro-batch of the STREAMING HLL distinct sketch: the state is
    * the per-(group, bucket) max-ρ register table — HLL's defining
    * property is that registers MAX-MERGE, so each batch unions its own
    * registers ([[graft.operators.Profile.hllRegisters]]) with the
    * committed state and takes the per-bucket max. After any prefix of
    * the stream the state is bit-identical to the batch sketch of
    * everything ingested (associative + commutative + idempotent merge —
    * re-delivered ITEMS are harmless by construction; re-delivered
    * BATCHES additionally no-op via the version guard). State is
    * ≤ 1024·|groups| rows, metadata-sized at any corpus scale.
    */
  def applyHllBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      item: Column,
      statePath: String
  ): Unit =
    versionedBatch(spark, "hllStream", statePath, batchId) { state =>
      val fresh = graft.operators.Profile.hllRegisters(batch, groupCol, item)
      // no checkpoint — single consumer, new version dir (the
      // applyCmsBatch rationale)
      Some(state match {
        case Some(st) => st.unionByName(fresh)
          .groupBy("group", "bucket").agg(max(col("m_rho")).as("m_rho"))
        case None => fresh
      })
    }

  /** One micro-batch of the STREAMING graph profile — structural
    * monitoring of a continuously-ingested link graph: the committed
    * state is the DISTINCT DIRECTED edge set (edge-bound, the ER-state
    * discipline — direction matters for reciprocity and the in/out
    * assortativity, so no canonicalization here; payloads never enter),
    * maintained DISTINCT BY INDUCTION: the batch's edges distinct
    * in-batch, anti-join the committed state, and only the genuinely-new
    * slice appends (see [[graphProfileMergeState]]) — never a distinct()
    * over the accumulated set. The batch writes the one-row
    * [[graft.operators.Graph.graphProfile]] over the MERGED set to
    * `outPath/batch=<id>`. The final batch's profile equals the batch
    * operator on the full accumulated edge list — the stream-vs-batch
    * contract the gate hashes against the batch oracle.
    *
    * Scale shape: per batch, one in-batch distinct + one anti-join of
    * the (small) batch against state, then a shuffle-free copy+append
    * state rewrite; the full-graph profile recompute over the unioned
    * view is the operator's intended semantics (profile OF the
    * accumulated graph) and its aggregates/self-join are all edge-bound;
    * the assortativity inherits the no-pair-join inversion counting.
    */
  def applyGraphProfileBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      srcCol: String,
      dstCol: String,
      statePath: String,
      outPath: String,
      stateBuckets: Option[Int] = None
  ): Unit =
    versionedBatch(spark, "graphProfileStream", statePath, batchId,
        stateBuckets, Seq("src", "dst")) { state =>
      val inBatch = batch
        .select(col(srcCol).cast("string").as("src"),
          col(dstCol).cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
      val merged = Materialize.local(graphProfileMergeState(state, inBatch))
      // NOT the over-distinct seam: the state union's partitioning is the
      // bucketed-store read ∪ the batch anti-join, and graphProfile's
      // "redundant" distinct is ALSO the AQE coalesce that collapses that
      // to one partition before the profile's ~10 downstream jobs —
      // skipping it measured 8.75 → 9.91 s (matched-schedule A/B, r16)
      graft.operators.Graph.graphProfile(merged, "src", "dst")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }

  /** One micro-batch of STREAMING annotation QA — the continuous face
    * of [[graft.operators.Annotation]]: rating rows arrive
    * continuously, the committed state is the `(_u, _l, _c)`
    * rating-count table (counts are ADDITIVE, so the state merge is a
    * union + re-count — the [[applyBtBatch]] convention), and after
    * every batch the accumulated counts feed the UNCHANGED batch
    * reductions: consensus labels to `outPath/consensus/batch=N`,
    * nominal Krippendorff alpha to `outPath/alpha/batch=N`. Stream ≡
    * batch by construction: the final outputs equal
    * [[graft.operators.Annotation.consensusLabels]] /
    * [[graft.operators.Annotation.krippendorffAlphaNominalE6]] on the
    * concatenated log. The replay guard is correctness: re-merging a
    * committed batch double-counts its ratings.
    */
  def applyAnnotationBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      unitCol: String,
      labelCol: String,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "annotationStream", statePath, batchId) { state =>
      val inBatch = graft.operators.Annotation
        .ratingCounts(batch, unitCol, labelCol)
      val merged = Materialize.local(state match {
        case Some(st) => st.unionByName(inBatch)
          .groupBy("_u", "_l").agg(sum(col("_c")).as("_c"))
        case None => inBatch
      })
      graft.operators.Annotation.consensusFromCounts(merged)
        .write.mode("overwrite").parquet(s"$outPath/consensus/batch=$batchId")
      graft.operators.Annotation.alphaNominalFromCountsE6(merged)
        .write.mode("overwrite").parquet(s"$outPath/alpha/batch=$batchId")
      Some(merged)
    }

  /** One micro-batch of STREAMING rater-reliability monitoring — the
    * continuous face of
    * [[graft.operators.Annotation.raterReliability]]: the committed
    * state is the `(_u, _r, _l, _c)` rating-count table (one level
    * finer than [[applyAnnotationBatch]]'s, equally additive), and
    * after every batch the accumulated counts feed the unchanged
    * reliability reduction to `outPath/batch=N` — so a
    * systematically-off annotator surfaces while the annotation run is
    * still in flight, not after their labels shipped. Stream ≡ batch
    * on the concatenated log.
    */
  def applyRaterBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "raterStream", statePath, batchId) { state =>
      val inBatch = batch
        .select(col(unitCol).cast("string").as("_u"),
          col(raterCol).cast("string").as("_r"),
          col(labelCol).cast("string").as("_l"))
        .filter(col("_u").isNotNull && col("_r").isNotNull &&
          col("_l").isNotNull)
        .groupBy("_u", "_r", "_l").agg(count(lit(1)).as("_c"))
      val merged = Materialize.local(state match {
        case Some(st) => st.unionByName(inBatch)
          .groupBy("_u", "_r", "_l").agg(sum(col("_c")).as("_c"))
        case None => inBatch
      })
      graft.operators.Annotation.raterReliabilityFromCounts(merged)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }

  /** One micro-batch of STREAMING Bradley–Terry preference aggregation —
    * the continuous face of
    * [[graft.operators.Preference.bradleyTerryScaled]]: preference logs
    * arrive as comparison events, the committed state is the ORIENTED
    * WIN-COUNT table `(_i, _j, _wn)` ("i beat j _wn times" — counts are
    * additive, so the merge is one sum-aggregate; the state is
    * pair-stats-sized, metadata next to the log, the quantile-stream
    * histogram argument), and each batch writes the full rating table
    * over the ACCUMULATED counts to `outPath/batch=<id>`. The final
    * batch's ratings equal the batch operator on the concatenated log —
    * the stream-vs-batch contract the gate hashes against the batch
    * oracle.
    *
    * Scale shape: per batch, one map-side-combined count of the batch's
    * comparisons, one sum-merge over (state ∪ batch counts) — the
    * merge re-aggregates the pair-stat table, which is bounded by
    * distinct compared pairs, not by log rows — and the bounded-round
    * MM refit over those stats. Raw comparison rows never enter state.
    */
  def applyBtBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      winnerCol: String,
      loserCol: String,
      rounds: Int,
      statePath: String,
      outPath: String,
      tieCol: Option[String] = None
  ): Unit =
    versionedBatch(spark, "btStream", statePath, batchId) { state =>
      // tieCol: the half-win convention in HALF-UNITS (decisive row =
      // 2 to its oriented pair, tie = 1 per orientation) — counts
      // stay additive, so the versioned state merge is unchanged and
      // the accumulated table equals
      // [[graft.operators.Preference.bradleyTerryScaledWithTies]] on
      // the concatenated log (the stream-vs-batch contract)
      val inBatch = tieCol match {
        case None => batch
          .select(col(winnerCol).cast("string").as("_i"),
            col(loserCol).cast("string").as("_j"))
          .filter(col("_i").isNotNull && col("_j").isNotNull &&
            col("_i") =!= col("_j"))
          .groupBy("_i", "_j").agg(count(lit(1)).as("_wn"))
        case Some(tc) =>
          // both orientations of the tie slice
          val c = Materialize.local(batch
            .select(col(winnerCol).cast("string").as("_w"),
              col(loserCol).cast("string").as("_l"),
              col(tc).cast("boolean").as("_t"))
            .filter(col("_w").isNotNull && col("_l").isNotNull &&
              col("_w") =!= col("_l") && col("_t").isNotNull))
          c.select(col("_w").as("_i"), col("_l").as("_j"),
              when(col("_t"), lit(1L)).otherwise(lit(2L)).as("_wn"))
            .unionByName(c.filter(col("_t"))
              .select(col("_l").as("_i"), col("_w").as("_j"),
                lit(1L).as("_wn")))
            .groupBy("_i", "_j").agg(sum(col("_wn")).as("_wn"))
      }
      val merged = Materialize.local(state match {
        case Some(st) => st.unionByName(inBatch)
          .groupBy("_i", "_j").agg(sum(col("_wn")).as("_wn"))
        case None => inBatch
      })
      graft.operators.Preference.bradleyTerryFromCounts(merged, rounds)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }

  /** One micro-batch of STREAMING calibration monitoring — the
    * continuous face of
    * [[graft.operators.QualityModel.calibrationBuckets]]: scored,
    * labeled examples arrive continuously, the committed state is the
    * ≤`buckets`-row ADDITIVE sufficient-statistics table
    * `(bucket, n, n_pos, sum_p)` (merge = one sum over ≤ 2·buckets
    * rows — the quantile-stream histogram argument), and each batch
    * writes the full reliability rows + ECE over the ACCUMULATED stats
    * to `outPath/batch=<id>`. The final batch's rows equal the batch
    * operator on the concatenated examples — the stream-vs-batch
    * contract the gate hashes against the batch oracle. This is the "is
    * my quality classifier drifting out of calibration" monitor,
    * sitting beside the distribution-drift timeline.
    */
  def applyCalibrationBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      probPpmCol: String,
      labelCol: String,
      buckets: Int,
      statePath: String,
      outPath: String
  ): Unit =
    versionedBatch(spark, "calibrationStream", statePath, batchId) { state =>
      val inBatch = graft.operators.QualityModel.calibrationSuffStats(
        batch, probPpmCol, labelCol, buckets)
      val merged = Materialize.local(state match {
        case Some(st) => st.unionByName(inBatch)
          .groupBy("bucket").agg(sum(col("n")).as("n"),
            sum(col("n_pos")).as("n_pos"),
            sum(col("sum_p")).cast(
              org.apache.spark.sql.types.DecimalType(38, 0)).as("sum_p"))
        case None => inBatch
      })
      graft.operators.QualityModel.calibrationFromStats(merged)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(merged)
    }

  /** State merge for [[applyGraphProfileBatch]], exposed as a seam so the
    * plan-shape spec can pin the contract: the store is distinct BY
    * INDUCTION (the [[dedupStreamPersistent]] convention) — the in-batch
    * distinct plus this anti-join make the fresh slice unique AND
    * disjoint from the committed state, so the merged frame is a plain
    * Union with NO distinct()/aggregate above it. The state rewrite is
    * therefore a shuffle-free copy+append; a per-batch distinct() over
    * the accumulated edge set would re-shuffle O(total-edges) every
    * micro-batch — the scale-killer this shape exists to avoid.
    */
  private[graft] def graphProfileMergeState(
      state: Option[DataFrame],
      inBatch: DataFrame
  ): DataFrame = state match {
    case Some(st) =>
      st.unionByName(inBatch.join(st, Seq("src", "dst"), "left_anti"))
    case None => inBatch
  }

  /** One micro-batch of the STREAMING drift timeline — the ROLLING
    * variant of [[applyDriftBatch]]: instead of scoring every batch
    * against a frozen batch-0 reference, each batch scores against the
    * PREVIOUS batch's committed histogram (one corpus-level scaled-L1
    * row `(period, n_prev, n_cur, l1_e9)` to `outPath/batch=<id>`,
    * exact integers — the [[graft.operators.ImportanceScoring.driftTimeline]]
    * arithmetic) and then commits its OWN histogram as the new rolling
    * reference. The first batch emits nothing (no predecessor) and
    * seeds the state. A replay before the commit scores against the
    * same predecessor. State is one ≤`buckets`-row histogram —
    * metadata-sized at any corpus scale; token payloads never shuffle.
    */
  def applyDriftTimelineBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      statePath: String,
      outPath: String,
      buckets: Int = graft.operators.ImportanceScoring.DefaultBuckets,
      salt: String = "drift"
  ): Unit =
    versionedBatch(spark, "driftTimelineStream", statePath, batchId) { state =>
      import graft.operators.ImportanceScoring
      val hist = ImportanceScoring.hashedBucketCounts(batch, textCol, buckets, salt)
      state.foreach { reference =>
        ImportanceScoring.l1Drift(
            ImportanceScoring.driftFromHistograms(reference, hist))
          .select(lit(batchId).as("period"),
            col("n_a").as("n_prev"), col("n_b").as("n_cur"), col("l1_e9"))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      Some(hist)
    }

  /** One micro-batch of a STREAMING IVF index build — the embedding
    * sibling of [[applyBm25IndexBatch]]: batch 0 trains the coarse
    * quantizer (hash-seeded + one Lloyd refinement on that batch) and
    * commits it ONCE under `statePath/centroids`, so every later batch
    * assigns against the same frozen centroids; each batch then appends
    * its assigned vectors as the next committed postings version under
    * `statePath/postings` (the [[versionedBatch]] store). A replay that
    * finds the centroids already committed reuses them. Queries
    * ([[queryAnnIndex]]) read committed state only, so a torn batch
    * never serves. Appends are append-only — re-ingested ids are the
    * caller's to dedup (compose with [[applyDedupBatch]]).
    *
    * Scale note: the versioned-postings rewrite is a parquet overwrite
    * (the dedupStreamPersistent trade — swap for a Delta/Iceberg append
    * at real scale, or persist via
    * [[graft.operators.Similarity.ivfTopKPartitioned]]'s
    * partitionBy(centroid_id) layout for the physical scan-pruning win).
    */
  def applyAnnIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      c: Int,
      statePath: String
  ): Unit = {
    import graft.operators.Similarity
    val centPath = s"$statePath/centroids"
    versionedBatch(spark, "annIndexStream", s"$statePath/postings", batchId) { state =>
      if (currentVersionId(spark, centPath).isEmpty) {
        require(batchId == 0L,
          s"annIndexStream: no committed centroids at batch $batchId — batch 0 trains them")
        val cents = Similarity.refineCentroids(batch, idCol, vecCol,
          Similarity.seedCentroids(batch, idCol, vecCol, c), iterations = 1)
        cents.write.mode("overwrite").parquet(s"$centPath/v0")
        commitVersion(spark, centPath, "v0", keepFrom = 0L)
      }
      val cents = readState(spark, centPath).getOrElse(
        sys.error(s"annIndexStream: _CURRENT exists but no centroids at $centPath"))
      val assigned = Similarity.assignToCentroids(
        batch.select(col(idCol), col(vecCol)), idCol, vecCol, cents)
      Some(state.fold(assigned)(_.unionByName(assigned)))
    }
  }

  /** Top-k cosine retrieval against the COMMITTED streaming IVF index
    * ([[applyAnnIndexBatch]]) — frozen centroids + latest postings
    * version through [[graft.operators.Similarity.ivfTopK]].
    */
  def queryAnnIndex(
      spark: SparkSession,
      statePath: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val cents = readState(spark, s"$statePath/centroids").getOrElse(
      sys.error(s"queryAnnIndex: no committed centroids under $statePath"))
    val post = readState(spark, s"$statePath/postings").getOrElse(
      sys.error(s"queryAnnIndex: no committed postings under $statePath"))
    graft.operators.Similarity.ivfTopK(
      post, idCol, vecCol, cents, queries, queryId, queryVec, k, nprobe)
  }

  /** One micro-batch of STREAMING IVF-PQ index maintenance — the
    * composed-index sibling of [[applyAnnIndexBatch]], maintaining the
    * [[graft.operators.Similarity.buildIvfPqIndex]] layout
    * continuously. The index at `statePath` is one [[versionedBatch]]
    * store, `codes`, with three batch-0 artifacts beside it:
    *
    *  - `cells`: the coarse cells, the e6 vectors of batch 0's `c`
    *    SMALLEST-id rows;
    *  - `codebooks`: one exact k-means step per subspace over batch 0
    *    against those seeds;
    *  - `meta`: one row, the `residual` flag every code is encoded with.
    *
    * Batch 0 (no committed codes; a later first batch is refused)
    * trains the artifacts and writes them as batch outputs: plain
    * overwritten directories, written before the codes version, so they
    * are complete whenever `codes/_CURRENT` names a version, and no
    * reader ([[ivfPqIndex]]) looks at them before. Training is integer
    * e6 math seeded by the smallest ids, so the replay of a batch 0 torn
    * anywhere rewrites them bit-identically. Every batch then runs the
    * ONE-pass narrow encode ([[graft.operators.Similarity.ivfPqEncode]]:
    * m subspace argmins + the coarse argmin, m bytes of payload per
    * vector, floats never stored) against the frozen artifacts and
    * commits old ∪ new codes as `codes/v<batchId>`, WRITTEN PARTITIONED
    * BY CELL so the committed version serves [[queryIvfPqIndex]]'s
    * physically-pruned probe directly.
    *
    * Appends are append-only — re-ingested ids are the caller's to
    * dedup (compose with [[applyDedupBatch]], the
    * [[applyAnnIndexBatch]] contract), or a [[backfillIvfPqIndex]]'s
    * anti-join. The versioned rewrite is the cumulative-store trade
    * every index stream here makes; a Delta/Iceberg append swaps in at
    * real scale without touching the protocol.
    *
    * `residual = true` trains and encodes the classic-IVFADC way
    * ([[graft.operators.Similarity.ivfPqEncode]]'s flag): batch 0's
    * codebooks train over `x − coarse_centroid(x)` with
    * deterministic residual seeds — the residuals of the NEXT `c`
    * smallest-id rows after the cells (the cells' own residuals are
    * zero, degenerate seeds) — and every batch's codes quantize
    * residuals. The choice is a batch-0 training decision, so `meta`
    * records it; later batches and [[queryIvfPqIndex]] read it back —
    * an index can never be silently encoded in one space and probed in
    * the other. Later-batch calls must pass the recorded flag (loud
    * refusal otherwise).
    */
  def applyIvfPqIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      c: Int,
      m: Int,
      statePath: String,
      residual: Boolean = false
  ): Unit = {
    require(c >= 1, s"ivfPqIndexStream: c must be >= 1, got $c")
    require(m >= 1, s"ivfPqIndexStream: m must be >= 1, got $m")
    val op = "ivfPqIndexStream"
    versionedBatch(spark, op, s"$statePath/codes", batchId,
        partitionCols = Seq("centroid_id")) { state =>
      val ix = state match {
        case None =>
          require(batchId == 0L,
            s"$op: no committed codes at batch $batchId — batch 0 trains the index")
          trainIvfPq(spark, batch, idCol, vecCol, c, m, statePath, residual)
        case Some(_) =>
          val ix = ivfPqIndex(spark, statePath, op)
          require(residual == ix.residual,
            s"$op: the index at $statePath was trained with " +
              s"residual=${ix.residual} — batch $batchId passed residual=$residual; " +
              "codes must all live in one space (pass the committed flag, " +
              "or train a fresh index)")
          ix
      }
      val encoded = graft.operators.Similarity.ivfPqEncode(
        batch.select(col(idCol), col(vecCol)), idCol, vecCol, ix.cells, ix.codebooks,
        residual)
      // partition-dir values read back as the inferred type; normalize
      // to the encoder's BIGINT before the union
      Some(state.fold(encoded)(_.withColumn("centroid_id", col("centroid_id").cast(LongType))
        .unionByName(encoded)))
    }
  }

  /** Batch 0 of [[applyIvfPqIndexBatch]]: train `cells`, `codebooks`
    * and `meta` from `batch` and overwrite them under `statePath`.
    * Returns the index as batch 0 is about to commit it.
    */
  private def trainIvfPq(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      c: Int,
      m: Int,
      statePath: String,
      residual: Boolean
  ): IvfPqIndex = {
    import graft.operators.Similarity
    import spark.implicits._
    val seeds = batch
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
      .orderBy(col("centroid_id")).limit(c)
    val cells = seeds.select(col("centroid_id"),
      transform(col("centroid_vec"), v => floor(v.cast("double") * 1000000d).cast("long"))
        .as("centroid_e6"))
    val cb = if (!residual) {
      Similarity.pqCodebooksFromSums(Similarity.pqTrainSumsE6(batch, idCol, vecCol, seeds, m))
    } else {
      // residual seeds: rows c..2c−1 by id — deterministic and
      // engine-replayable like the cells themselves; a batch too small
      // to provide them cannot train residually
      val headIds = batch.select(col(idCol).cast(LongType))
        .orderBy(col(idCol)).limit(2 * c).collect().map(_.getLong(0))
      require(headIds.length == 2 * c,
        s"ivfPqIndexStream: residual training needs >= ${2 * c} rows " +
          s"in batch 0 (c cells + c residual seeds), got ${headIds.length}")
      val resSeeds = Similarity.ivfResidualsE6(batch, idCol, vecCol, cells)
        .filter(col(idCol).cast(LongType).isin(headIds.drop(c): _*))
        .select(col(idCol).as("centroid_id"), col("residual_e6").as("centroid_e6"))
      Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsResidualE6(batch, idCol, vecCol, cells, resSeeds, m))
    }
    Seq("cells" -> cells, "codebooks" -> cb, "meta" -> Seq(residual).toDF("residual"))
      .foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$statePath/$name") }
    new IvfPqIndex(spark, statePath, "v0")
  }

  /** An [[applyIvfPqIndexBatch]] index as committed at `root`: the codes
    * version `_CURRENT` names and the three batch-0 artifacts beside it,
    * each read on first use. [[ivfPqIndex]] hands one out only when a
    * codes version is committed, so its artifacts are never those of a
    * torn batch 0.
    */
  private[graft] final class IvfPqIndex private[StreamingOps] (
      spark: SparkSession, root: String, val codesVersion: String) {
    /** The committed codes directory, partitioned by `centroid_id`. */
    val codesDir: String = s"$root/codes/$codesVersion"
    lazy val cells: DataFrame = spark.read.parquet(s"$root/cells")
    lazy val codebooks: DataFrame = spark.read.parquet(s"$root/codebooks")
    /** True iff the codes quantize residuals (the `meta` row). */
    lazy val residual: Boolean =
      spark.read.parquet(s"$root/meta").select(col("residual")).head().getBoolean(0)
  }

  /** The committed [[IvfPqIndex]] at `statePath` — the one way serving,
    * monitoring, backfill and the later index batches read an index.
    * Refuses, naming `op`, when no codes version is committed.
    */
  private[graft] def ivfPqIndex(spark: SparkSession, statePath: String, op: String): IvfPqIndex =
    currentVersionName(spark, s"$statePath/codes").filter(parseVersion(_).isDefined)
      .map(new IvfPqIndex(spark, statePath, _))
      .getOrElse(sys.error(s"$op: no committed codes under $statePath"))

  /** ADC top-k against the COMMITTED streaming IVF-PQ index
    * ([[applyIvfPqIndexBatch]]) — frozen cells + codebooks, the
    * committed codes version, served through the physically-pruned
    * [[graft.operators.Similarity.ivfPqTopKE6]] probe (the committed
    * version directory IS the cell-partitioned layout). The code
    * space (raw vs residual) comes from the `meta` artifact, never
    * from the caller — queries always measure in the space the codes
    * live in.
    */
  def queryIvfPqIndex(
      spark: SparkSession,
      statePath: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      idCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val ix = ivfPqIndex(spark, statePath, "queryIvfPqIndex")
    graft.operators.Similarity.ivfPqTopKE6(ix.codesDir, idCol, ix.cells, ix.codebooks,
      queries, queryId, queryVec, k, nprobe, residual = ix.residual)
  }

  /** The `epochs` store of [[applyIvfPqEpochBatch]]: one row
    * `(epoch, since_batch)`. Read with it, the pointer skips parquet
    * schema inference.
    */
  private val IvfPqEpochSchema: StructType = StructType(Seq(
    StructField("epoch", LongType), StructField("since_batch", LongType)))

  private def epochPointer(pointer: DataFrame): (Long, Long) = {
    val r = pointer.select(col("epoch"), col("since_batch")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One micro-batch of EPOCHED IVF-PQ index maintenance — the CONSUMER
    * of the codebook-drift retrain flag ([[applyPqDriftBatch]] emits it):
    * [[applyIvfPqIndexBatch]] freezes cells + codebooks at its batch 0
    * forever, so under real distribution drift recall decays with no
    * error anywhere. This op keeps EPOCH GENERATIONS of that exact
    * index:
    *
    *  - epoch g is a complete [[applyIvfPqIndexBatch]] index at
    *    `statePath/e<g>`, maintained with EPOCH-LOCAL batch ids
    *    `batchId − since_batch` — the epoch's birth batch is its own
    *    training batch 0, so the frozen-artifact training, the codes
    *    store and the residual `meta` contract are reused verbatim;
    *  - `statePath/epochs` is this op's [[versionedBatch]] store: the
    *    one-row pointer `(epoch, since_batch)`, committed on every
    *    non-empty batch;
    *  - each epoch carries its own drift reference `e<g>/driftref`:
    *    the birth batch's cell-occupancy histogram against the epoch's
    *    OWN cells (the [[applyPqDriftBatch]] reference protocol,
    *    per-epoch), written at the birth like the index artifacts.
    *
    * Per batch: assign the batch to the current epoch's cells (the
    * same narrow argmin projection the index uses — vectors never
    * shuffle), compare occupancies with the exact integer scaled-L1
    * ([[graft.operators.ImportanceScoring.l1Drift]]), and branch on
    * the flag — a driver-side control-flow decision, the
    * connectedComponentsMin convergence-count shape:
    *
    *  - `l1_e9 < retrainThresholdE9`: the batch APPENDS into epoch g
    *    (one narrow encode + the versioned codes merge);
    *  - `l1_e9 ≥ retrainThresholdE9`: the batch OPENS epoch g+1 —
    *    trains fresh cells/codebooks from its own rows (a retrain
    *    batch too small to train refuses loudly, the
    *    [[applyIvfPqIndexBatch]] contract) and becomes the new
    *    epoch's first codes; its occupancy against the NEW cells
    *    is the new epoch's drift reference, so the monitor measures
    *    each epoch against the distribution it was trained on.
    *
    * Epoch 0 opens at the first non-empty batch. Old epochs remain
    * fully servable — [[queryIvfPqEpoch]] pins any epoch — and vectors
    * are never re-encoded implicitly (codes, not floats, are stored):
    * re-encoding history into a new epoch is the explicit offline
    * [[backfillIvfPqEpoch]] job, not a steady-state cost.
    *
    * One timeline row `(epoch, n_ref, n_cur, l1_e9, retrained)` writes
    * to `outPath/batch=<id>` per non-empty batch; an empty batch skips
    * loudly (nothing to compare or encode — the [[applyPqDriftBatch]]
    * guard) and commits nothing. Crash-replay is the [[versionedBatch]]
    * protocol: the epoch's index batch, its drift reference and the
    * timeline row are outputs written before the pointer commits, so a
    * torn batch replays into the same drift compare against the same
    * committed pointer, and the nested index batch it repeats is
    * skipped by the index's own guard once its codes are committed.
    */
  def applyIvfPqEpochBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      c: Int,
      m: Int,
      statePath: String,
      outPath: String,
      retrainThresholdE9: Long,
      residual: Boolean = false
  ): Unit = {
    import graft.operators.{ImportanceScoring, Similarity}
    import spark.implicits._
    require(retrainThresholdE9 >= 0,
      s"ivfPqEpochStream: retrainThresholdE9 must be >= 0, got $retrainThresholdE9")
    val op = "ivfPqEpochStream"
    def epochPath(g: Long) = s"$statePath/e$g"
    // the index's own exact-argmin cell assignment, reduced to the
    // ≤ c-row occupancy histogram (the applyPqDriftBatch projection)
    def occAgainst(g: Long): DataFrame =
      Similarity.ivfResidualsE6(batch, idCol, vecCol, ivfPqIndex(spark, epochPath(g), op).cells)
        .groupBy(col("centroid_id").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
    versionedBatch(spark, op, s"$statePath/epochs", batchId,
        stateSchema = Some(IvfPqEpochSchema)) { state =>
      if (batch.isEmpty) {
        log.warn(s"$op: batch $batchId is empty — nothing to compare or encode")
        None
      } else {
        val pointer = state.map(epochPointer)
        // (epoch, since_batch) this batch lands in, and its drift
        // compare; the first epoch has no reference, so its compare
        // columns are zero by definition
        val ((g, since), (nRef, nCur, l1)) = pointer match {
          case None => ((0L, batchId), (0L, 0L, 0L))
          case Some((g, since)) =>
            val d = ImportanceScoring.l1Drift(ImportanceScoring.driftFromHistograms(
              spark.read.parquet(s"${epochPath(g)}/driftref"), occAgainst(g))).head()
            val l1 = d.getLong(2)
            (if (l1 >= retrainThresholdE9) (g + 1, batchId) else (g, since),
              (d.getLong(0), d.getLong(1), l1))
        }
        applyIvfPqIndexBatch(spark, batch, batchId - since, idCol, vecCol, c, m,
          epochPath(g), residual)
        if (since == batchId)
          occAgainst(g).coalesce(1).write.mode("overwrite").parquet(s"${epochPath(g)}/driftref")
        Seq((g, nRef, nCur, l1, pointer.exists(_._1 != g)))
          .toDF("epoch", "n_ref", "n_cur", "l1_e9", "retrained")
          .coalesce(1).write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        Some(Seq((g, since)).toDF("epoch", "since_batch").coalesce(1))
      }
    }
  }

  /** OFFLINE history backfill into an [[applyIvfPqIndexBatch]] index —
    * the explicit re-encode step the epoch stream documents: codes,
    * not vectors, are stored, so data indexed under old epochs never
    * enters a new epoch's space by itself. This job takes the ORIGINAL
    * vectors (the caller reads its corpus — the store cannot
    * reconstruct them from codes), drops every id the target index
    * already holds (one anti-join — replaying the job, or feeding
    * overlapping history slices, appends nothing twice), encodes the
    * remainder in the index's OWN space (cells + codebooks + the `meta`
    * residual flag), and commits the union as codes version
    * `v<batchId>.<n>`: the n-th backfill on top of committed stream
    * batch `batchId`. The version still parses to `batchId`, so stream
    * replays still skip and new stream batches still append after any
    * number of backfills.
    *
    * Crash-replay: the codes `_CURRENT` rename is the ONLY commit; a
    * torn run (directory written, pointer unmoved) replays into the
    * same anti-join against the OLD version and rewrites the new
    * directory bit-identically before committing. A completed run
    * replays into an empty anti-join and no-ops. History ids must be
    * unique (refused loudly — two vectors under one id cannot both
    * enter an index keyed on it).
    *
    * One writer at a time: a backfill and a stream batch each merge
    * from the version they read, so whichever renames last would drop
    * the other's rows. The backfill re-checks the pointer against the
    * version it read immediately before its commit and refuses on
    * movement, which narrows the torn window to the rename itself —
    * operationally, pause the stream during a backfill.
    *
    * Scale shape: one anti-join on the id column + one narrow encode of
    * the genuinely-missing slice; vectors shuffle once (the encode's
    * argmin projection), the existing codes move as a copy+append.
    * Returns the number of rows backfilled.
    */
  def backfillIvfPqIndex(
      spark: SparkSession,
      history: DataFrame,
      idCol: String,
      vecCol: String,
      statePath: String
  ): Long = {
    val op = "backfillIvfPqIndex"
    val ix = ivfPqIndex(spark, statePath, op)
    val codesPath = s"$statePath/codes"
    // read by the anti-join and the union
    val cur = Materialize.local(spark.read.parquet(ix.codesDir)
      .withColumn("centroid_id", col("centroid_id").cast(LongType)))
    // read by the uniqueness check and the encode
    val (missing, n) = Materialize.localWithRows(history.select(col(idCol), col(vecCol))
      .join(cur.select(col(idCol)), Seq(idCol), "left_anti"))
    if (n == 0L) {
      log.warn(s"$op: every history id is already indexed under $statePath — " +
        "no-op (completed-backfill replay, or nothing to do)")
      return 0L
    }
    require(missing.select(col(idCol)).distinct().count() == n,
      s"$op: history ids must be unique — an index keyed " +
        s"on $idCol cannot hold two vectors under one id")
    val (streamBatch, backfills) = parseVersion(ix.codesVersion).get
    val version = s"v$streamBatch.${backfills + 1}"
    cur.unionByName(graft.operators.Similarity.ivfPqEncode(missing, idCol, vecCol,
        ix.cells, ix.codebooks, ix.residual))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$codesPath/$version")
    // _CURRENT is last-writer-wins: a stream batch that committed while
    // this job encoded would be silently DROPPED by our rename (each
    // writer merged from the version it read). Re-check the pointer
    // against the version we merged from and refuse on movement — the
    // torn version directory is harmless (a re-run replays over it).
    val atCommit = currentVersionName(spark, codesPath)
    require(atCommit.contains(ix.codesVersion),
      s"$op: codes _CURRENT moved ${ix.codesVersion} -> " +
        s"${atCommit.getOrElse("<absent>")} while the backfill " +
        "encoded — a concurrent stream batch committed, and renaming now " +
        "would drop its rows. Pause the stream (or re-run the backfill; " +
        "it merges from the new version) — refusing to commit.")
    commitVersion(spark, codesPath, version, keepFrom = streamBatch)
    n
  }

  /** [[backfillIvfPqIndex]] aimed at one epoch of an
    * [[applyIvfPqEpochBatch]] tree (default: the CURRENT epoch) — the
    * documented offline step that lets a retrained epoch serve
    * PRE-DRIFT documents: read the original vectors for data indexed
    * under epochs < g, re-encode them in epoch g's space, and commit
    * them as epoch g's next codes version `v<batchId>.<n>`. Old epochs
    * stay untouched and servable.
    */
  def backfillIvfPqEpoch(
      spark: SparkSession,
      history: DataFrame,
      idCol: String,
      vecCol: String,
      statePath: String,
      epoch: Option[Long] = None
  ): Long = {
    val g = epoch.orElse(currentIvfPqEpoch(spark, statePath).map(_._1))
      .getOrElse(sys.error(
        s"backfillIvfPqEpoch: no committed epochs under $statePath"))
    backfillIvfPqIndex(spark, history, idCol, vecCol, s"$statePath/e$g")
  }

  /** The committed `(epoch, since_batch)` pointer of an
    * [[applyIvfPqEpochBatch]] stream, if any epoch has opened.
    */
  def currentIvfPqEpoch(spark: SparkSession, statePath: String): Option[(Long, Long)] =
    readVersionedState(spark, s"$statePath/epochs", bucketed = false, Some(IvfPqEpochSchema))
      .map(epochPointer)

  /** ADC top-k against an [[applyIvfPqEpochBatch]] stream: serves the
    * CURRENT epoch by default, or PINS any committed epoch — old
    * generations stay fully servable (their artifact trees are never
    * rewritten), which is what lets a pipeline cut queries over to a
    * retrained epoch on its own schedule instead of at commit time.
    */
  def queryIvfPqEpoch(
      spark: SparkSession,
      statePath: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      idCol: String,
      k: Int,
      nprobe: Int,
      epoch: Option[Long] = None
  ): DataFrame = {
    val g = epoch.orElse(currentIvfPqEpoch(spark, statePath).map(_._1)).getOrElse(
      sys.error(s"queryIvfPqEpoch: no committed epochs under $statePath"))
    queryIvfPqIndex(spark, s"$statePath/e$g", queries, queryId, queryVec,
      idCol, k, nprobe)
  }

  /** One micro-batch of IVF-PQ CODEBOOK-DRIFT monitoring — the rot
    * detector for [[applyIvfPqIndexBatch]]'s batch-0-frozen artifacts:
    * under real distribution drift, new vectors' coarse-cell
    * assignments silently stop resembling the population the cells
    * (and residual codebooks) were trained on, and recall decays with
    * no error anywhere. The monitor is CELL-OCCUPANCY drift: each
    * batch's vectors assign to their nearest committed cell (the exact
    * e6 argmin the index itself uses), the ≤-c-row occupancy histogram
    * of the FIRST monitored batch commits as the versioned reference,
    * and every later batch emits one exact scaled-L1 row
    * `(n_ref, n_cur, l1_e9, retrain)` to `outPath/batch=<id>` — the
    * [[graft.operators.ImportanceScoring.driftFromHistograms]] /
    * [[graft.operators.ImportanceScoring.l1Drift]] integer arithmetic,
    * `retrain = l1_e9 ≥ retrainThresholdE9` the re-train flag a
    * pipeline alerts on.
    *
    * Scoring batches commit nothing (the [[applyDriftBatch]] shape): a
    * replay recomputes against the same frozen reference and overwrites
    * its output bit-identically. State is one ≤ c-row histogram;
    * per-batch cost is the narrow assignment projection + a c-key
    * aggregate — vectors never shuffle.
    */
  def applyPqDriftBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      indexStatePath: String, // the applyIvfPqIndexBatch root
      statePath: String,      // this monitor's reference store
      outPath: String,
      retrainThresholdE9: Long
  ): Unit = {
    import graft.operators.{ImportanceScoring, Similarity}
    require(retrainThresholdE9 >= 0,
      s"pqDriftStream: retrainThresholdE9 must be >= 0, got $retrainThresholdE9")
    versionedBatch(spark, "pqDriftStream", statePath, batchId) { state =>
      val cells = ivfPqIndex(spark, indexStatePath, "pqDriftStream").cells
      // the empty-occupancy guard reads the checkpoint's row count; the
      // reference write or the drift compare reads its blocks
      val (occ, occRows) = Materialize.localWithRows(
        Similarity.ivfResidualsE6(batch, idCol, vecCol, cells)
          .groupBy(col("centroid_id").as("bucket"))
          .agg(count(lit(1)).as("cnt")))
      if (occRows == 0L) {
        // an empty reference would null every later compare (the
        // applyShiftBatch guard), and an empty scoring occupancy puts
        // n_cur = 0 into l1Drift's `div (2·n)`: skip loudly, the next
        // non-empty batch takes the reference slot or compares
        log.warn(s"pqDriftStream: batch $batchId has no assignable " +
          "vectors — nothing to commit as a reference or to compare")
        None
      } else state match {
        case None => Some(occ)
        case Some(reference) =>
          ImportanceScoring.l1Drift(
              ImportanceScoring.driftFromHistograms(reference, occ))
            .select(col("n_a").as("n_ref"), col("n_b").as("n_cur"),
              col("l1_e9"),
              (col("l1_e9") >= retrainThresholdE9).as("retrain"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          None
      }
    }
  }

  /** One micro-batch of event-time WINDOWED COUNTS under an explicit
    * watermark — the deterministic replay of Spark's
    * `withWatermark(...).groupBy(window(...))` semantics, factored as a
    * testable batch protocol like the dedup/quota/drift streams:
    *
    *  - the watermark BEFORE this batch is the committed state's:
    *    `max event time seen across all prior batches − lagUs`
    *    (−∞ before the first batch);
    *  - rows with `ts < watermark` are LATE and dropped — but they
    *    still advance the event-time tracker, exactly like Spark's
    *    global max-event-time watermark (the tracker sees every row;
    *    only the stateful operator drops);
    *  - surviving rows increment their tumbling window
    *    `w_start = ts div windowUs × windowUs`, written to
    *    `outPath/batch=<id>`;
    *  - the window counts plus the advanced watermark commit as the
    *    next state version.
    *
    * State layout: `(w_start, cnt)` rows, plus ONE sentinel row with
    * `w_start IS NULL` carrying the watermark in `cnt`. State size is
    * bounded by the window cardinality (event-time horizon / windowUs),
    * metadata-scale; each batch is one map-side-combined count plus a
    * histogram-sized merge — the corpus never re-shuffles.
    */
  def applyLateWindowBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      tsUsCol: String,
      windowUs: Long,
      lagUs: Long,
      statePath: String,
      outPath: String
  ): Unit = {
    require(windowUs > 0, s"applyLateWindowBatch: windowUs must be positive, got $windowUs")
    require(lagUs >= 0, s"applyLateWindowBatch: lagUs must be non-negative, got $lagUs")
    import spark.implicits._
    versionedBatch(spark, "lateWindowStream", statePath, batchId) { state =>
      val wmPrev: Long = state
        .flatMap(_.filter(col("w_start").isNull)
          .select(col("cnt")).head(1).headOption.map(_.getLong(0)))
        .getOrElse(Long.MinValue)
      val counts = state
        .map(_.filter(col("w_start").isNotNull))
        .getOrElse(Seq.empty[(Long, Long)].toDF("w_start", "cnt"))
      val rows = batch
        .select(col(tsUsCol).cast("long").as("_us"))
        .filter(col("_us").isNotNull)
      // the event-time tracker sees EVERY row, late ones included
      val mx = Option(rows.agg(max(col("_us"))).head().get(0))
        .map(_.asInstanceOf[Long])
      val wmNew = mx.map(m => math.max(wmPrev, m - lagUs)).getOrElse(wmPrev)
      val inc = rows.filter(col("_us") >= wmPrev)
        .select((expr(s"_us div ${windowUs}L") * windowUs).as("w_start"))
        .groupBy("w_start").agg(count(lit(1)).as("cnt"))
      inc.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      val wmRow = spark.range(1).select(
        lit(null).cast("long").as("w_start"), lit(wmNew).as("cnt"))
      Some(counts.unionByName(inc)
        .groupBy("w_start").agg(sum(col("cnt")).as("cnt"))
        .unionByName(wmRow))
    }
  }

  /** Route a streaming DataFrame by its `_route` column into per-route
    * sinks — the NiFi relationship fan-out (SURVEY §1.3). Stateless
    * filters on one source; Spark runs them as independent queries.
    */
  def routeTo(
      routed: DataFrame,
      sinks: Map[String, DataStreamWriter[Row] => StreamingQuery],
      checkpointRoot: String
  ): Seq[StreamingQuery] =
    sinks.toSeq.map { case (route, start) =>
      val branch = routed.filter(col(Route.RouteCol) === route)
      start(
        branch.writeStream
          .option("checkpointLocation", s"$checkpointRoot/$route"))
    }
}
