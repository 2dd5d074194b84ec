package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Materialize

import graft.model._
import graft.functions.{DomainFunctions, TypedAttrs, TextFunctions, VectorFunctions}
import graft.operators._
import graft.GateTables
import graft.SparkEntry._

/** Stream gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object StreamGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- streaming as-of enrichment, PINNED batch path: the merge
    //      stream builds committed state v0 from the deduped views,
    //      applyAsOfEnrichBatch enriches the clicks against it (run
    //      TWICE — the replay must pin v0 and overwrite bit-identical
    //      output), result read from the per-batch directory. Third
    //      streaming family with a driver-gated read path; the oracle
    //      is asof_join's proven DuckDB ASOF chain
    "asof_enrich_stream" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"),
          max_by(col("value"), col("event_id")).as("view_value"))
        .withColumn("_ord", col("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-asof-gate").toString
      graft.streaming.StreamingOps.applyMergeBatch(s, views, 0L,
        MergeSpec(Seq("user_id", "ts"), Seq(MergeFieldSpec("*", MergeOp.Set))),
        "_ord", s"$work/state")
      graft.streaming.StreamingOps.applyAsOfEnrichBatch(s, clicks, 0L,
        s"$work/state", Seq("user_id"), "ts", "ts", s"$work/out",
        Seq("view_id", "view_value"))
      graft.streaming.StreamingOps.applyAsOfEnrichBatch(s, clicks, 0L,
        s"$work/state", Seq("user_id"), "ts", "ts", s"$work/out",
        Seq("view_id", "view_value"))
      s.read.parquet(s"$work/out/batch=0")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("matched.view_id").as("matched_view_id"),
          col("matched.view_value").as("matched_value"),
          unix_micros(col("matched._t")).as("matched_ts_us"))
        .orderBy("event_id")
    }),
    // ---- streaming persistent dedup, REPLAYED batch path: two
    //      micro-batches build the versioned fingerprint store (batch 1
    //      then replays into the no-op guard in-gate), survivors read
    //      from the partitioned output. The oracle recomputes the
    //      batch-ordered keep rule (per-batch min-id per normalized
    //      text, batch 1 anti-joined against batch 0's store) — the one
    //      other streaming family whose read path is batch-gateable
    //      (after bm25_topk_indexed)
    "dedup_stream_replayed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("doc_id") < 2000)
      val work = java.nio.file.Files
        .createTempDirectory("graft-dedup-gate").toString
      val b0 = d.filter(col("doc_id") < 1000)
      val b1 = d.filter(col("doc_id") >= 1000)
      // stateBuckets: the production path — the committed store reads
      // back exchange-free under every batch's anti-join
      graft.streaming.StreamingOps.applyDedupBatch(s, b0, 0L,
        "text", "doc_id", s"$work/state", s"$work/out", Some(8))
      graft.streaming.StreamingOps.applyDedupBatch(s, b1, 1L,
        "text", "doc_id", s"$work/state", s"$work/out", Some(8))
      // crash-window replay: the guard must no-op, survivors stand
      graft.streaming.StreamingOps.applyDedupBatch(s, b1, 1L,
        "text", "doc_id", s"$work/state", s"$work/out", Some(8))
      s.read.parquet(s"$work/out")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),
    // ---- streaming versioned merge, COMMITTED batch path (§2 row 46):
    //      two micro-batch slices of lineitem upsert into the versioned
    //      state store ($set last-wins, $inc, $addToSet $each), batch 1
    //      then replays into the version guard's no-op branch, and the
    //      result reads the committed v1 through _CURRENT. Because the
    //      batches split on the order column itself (b1's seqs all past
    //      b0's) and $addToSet membership is batch-order-free, the
    //      two-step merge collapses to merge_collapse's one-shot oracle
    //      — same SQL, entirely different (stateful) code path
    "merge_stream_versioned" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_returnflag").as("status"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
        array(col("l_linestatus")).as("tag"))
      val spec = MergeSpec(
        keyFields = Seq("l_orderkey"),
        fields = Seq(
          MergeFieldSpec("status", MergeOp.Set),
          MergeFieldSpec("qty", MergeOp.Inc),
          MergeFieldSpec("tag", MergeOp.AddToSet)))
      val work = java.nio.file.Files
        .createTempDirectory("graft-mergestream-gate").toString
      val b0 = li.filter(col("l_linenumber") <= 2)
      val b1 = li.filter(col("l_linenumber") > 2)
      graft.streaming.StreamingOps.applyMergeBatch(s, b0, 0L, spec,
        "l_linenumber", s"$work/state")
      graft.streaming.StreamingOps.applyMergeBatch(s, b1, 1L, spec,
        "l_linenumber", s"$work/state")
      // crash-window replay: the version guard must no-op
      graft.streaming.StreamingOps.applyMergeBatch(s, b1, 1L, spec,
        "l_linenumber", s"$work/state")
      graft.streaming.StreamingOps.readState(s, s"$work/state").get
        .select(
          col("l_orderkey"),
          col("status"),
          col("qty").cast(DoubleType).as("qty"),
          array_join(array_sort(col("tag")), ",").as("tags"))
        .orderBy("l_orderkey")
    }),
    // ---- streaming funnel progress, BATCH-MODE path:
    //      flatMapGroupsWithState runs in batch mode with empty initial
    //      state, so a single-batch feed of the whole history IS the
    //      stream operator's exact fold (sorted within group, strict
    //      min-chain) — per-user final depth; users that never reach
    //      step 1 emit nothing. Cross-batch folding stays spec-pinned
    "funnel_stream_depths" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.streaming.FunnelStream.progressDF(ev, "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .select(col("userId").as("user_id"), col("depth"),
          col("lastTs").as("last_ts_us"))
        .orderBy("user_id")
    }),
    // ---- the STREAMING calibration monitor: the same scored examples
    //      split across two batches through the ≤10-row additive
    //      sufficient-stats state (merge = one sum; examples never
    //      enter state), batch 1 replayed to prove the guard; the
    //      final batch hashes against the BATCH oracle verbatim
    "quality_calibration_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 1000 && col("n_chars").isNotNull)
      val m = QualityModel.scoreMargin(d, "doc_id", "text",
        qmGateWeights, qmGateBias)
      val tbl = graft.operators.Graph.sigmoidTablePpm()
      val idx = expr("CASE WHEN margin_e6 <= -6000000 THEN 0L " +
        "WHEN margin_e6 >= 6000000 THEN 63L " +
        "ELSE ((margin_e6 + 6000000) * 64L) div 12000000L END")
      val scored = Materialize.local(m.join(d.select(col("doc_id"),
          (col("n_chars") >= 500).cast("long").as("label")), Seq("doc_id"))
        .select(col("doc_id"),
          element_at(typedLit(tbl), (idx + lit(1L)).cast("int"))
            .as("prob_ppm"), col("label")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-calib-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyCalibrationBatch(s, b, id, "prob_ppm", "label",
          buckets = 10, s"$work/state", s"$work/out")
      step(scored.filter(col("doc_id") < 500), 0L)
      step(scored.filter(col("doc_id") >= 500), 1L)
      step(scored.filter(col("doc_id") >= 500), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1")
        .select(col("bucket"), col("n"), col("n_pos"), col("mean_prob_ppm"),
          col("pos_rate_ppm"), col("gap_ppm"), col("ece_ppm"))
        .orderBy("bucket")
    }),
    // ---- count-min ON A STREAM: cells sum-merge across batches (NOT
    //      idempotent — replay safety comes from the version guard
    //      alone, the asymmetry vs hll_stream worth gating); final
    //      state estimates equal the whole-corpus sketch, which the
    //      batch oracle recomputes
    "cms_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("_it"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-cms-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyCmsBatch(s, d.filter(pred), b, col("_it"),
          s"$work/state")
      step(col("doc_id") < 200, 0L)
      step(col("doc_id") >= 200, 1L)
      step(col("doc_id") >= 200, 1L) // replay: the guard must no-op
      val sketch = StreamingOps.readState(s, s"$work/state").get
      val exact = d.groupBy(col("_it")).agg(count(lit(1)).as("exact_cnt"))
      val top = exact.orderBy(col("exact_cnt").desc, col("_it")).limit(10)
        .select(col("_it").as("item"), col("exact_cnt"))
      Profile.cmsEstimates(sketch, top.select(col("item")))
        .join(top, Seq("item"))
        .select(col("item"), col("exact_cnt"), col("cms_est"))
        .orderBy("item")
    }),
    // ---- MinHash/LSH near-dup index ON A STREAM: versioned signature
    //      + band-posting state built over two batches (batch 1 replays
    //      to prove the no-op guard), then queried with byte-identical
    //      clones of 15 indexed docs, fingerprint-verified (full
    //      signature overlap alone is not equality under containment —
    //      the planted prefix fixtures collide at all 16 slots), which
    //      is exactly the text-equality join the oracle recomputes
    "minhash_index_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-mh-index").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyMinhashIndexBatch(s, d.filter(pred), b,
          "doc_id", "text", numHashes = 16, bands = 4, s"$work/state")
      step(col("doc_id") < 250, 0L)
      step(col("doc_id") >= 250, 1L)
      step(col("doc_id") >= 250, 1L)
      val q = d.filter(col("doc_id") < 15)
        .select((col("doc_id") + 1000000L).as("qid"), col("text"))
      StreamingOps.queryMinhashIndex(s, s"$work/state", q, "qid", "text",
          numHashes = 16, bands = 4, minOverlap = 16, exactVerify = true)
        .orderBy("query_id", "id")
    }),
    // ---- streaming vocabulary growth: seen-term fingerprint store +
    //      token-count sentinel; per batch one cumulative (distinct,
    //      tokens) pair plus the batch's novel-term increment — the
    //      continuous Heaps monitor (new_terms → 0 flags a re-crawl
    //      tail); batch 1 replays to prove the guard
    "vocab_growth_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-vg-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyVocabGrowthBatch(s, d.filter(pred), b, "text",
          s"$work/state", s"$work/out")
      step(col("doc_id") < 250, 0L)
      step(col("doc_id") >= 250, 1L)
      step(col("doc_id") >= 250, 1L)
      s.read.parquet(s"$work/out/batch=1")
        .select(col("distinct_terms"), col("total_tokens"), col("new_terms"))
    }),
    // ---- streaming exact quantiles: cumulative value-histogram state,
    //      per-batch merge + distributed selection over histogram rows;
    //      after the final batch the emitted percentiles equal the
    //      batch operator (and DuckDB quantile_cont) over everything
    //      ingested — batch 1 replays to prove the no-op guard
    "quantile_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-quant-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyQuantileBatch(s, d.filter(pred), b, "n_chars",
          Seq(0.25, 0.5, 0.75, 0.9), s"$work/state", s"$work/out")
      step(col("doc_id") < 300, 0L)
      step(col("doc_id") >= 300, 1L)
      step(col("doc_id") >= 300, 1L)
      s.read.parquet(s"$work/out/batch=1")
        .select(col("prob"), col("value"), col("n"))
        .orderBy("prob")
    }),
    // ---- per-group exactly-N sampling ON A STREAM: the stratified
    //      reservoir — per-group bottom-k-by-hash state re-sampled with
    //      each batch; final state equals the batch per-group sample of
    //      everything (batch 1 replays to prove the no-op guard)
    "sample_group_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-sampleg-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applySampleExactNPerGroupBatch(s, d.filter(pred), b,
          "doc_id", "source", n = 4, salt = "bkg", s"$work/state")
      step(col("doc_id") < 200, 0L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 350, 2L)
      StreamingOps.readState(s, s"$work/state").get
        .orderBy("source", "rank")
    }),
    // ---- HLL ON A STREAM: registers max-merge (associative,
    //      commutative, idempotent), so the versioned state equals the
    //      batch sketch of everything after every prefix — the oracle
    //      recomputes the whole-corpus estimate; batch 1 replays to
    //      prove the no-op guard
    "hll_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("_g"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-hll-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyHllBatch(s, d.filter(pred), b, "source", col("_g"),
          s"$work/state")
      step(col("doc_id") < 200, 0L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 350, 2L)
      Profile.hllEstimateFromRegisters(
          StreamingOps.readState(s, s"$work/state").get)
        .select(col("group").as("source"), col("est_distinct"))
        .orderBy("source")
    }),
    // ---- streaming exact-substring removal: batch 0 establishes the
    //      window-fingerprint store, batch 1 cuts against store AND
    //      in-batch keepers, then replays into the version guard's
    //      no-op branch; the oracle replays the two-batch protocol on
    //      window strings
    "window_dedup_stream" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id"), expr(dupRemovalTextSql).as("_t"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-windedup-gate").toString
      val b0 = d.filter(col("doc_id") < 500)
      val b1 = d.filter(col("doc_id") >= 500)
      // stateBuckets: the production path — both per-batch joins read
      // the committed store exchange-free
      graft.streaming.StreamingOps.applyWindowDedupBatch(s, b0, 0L,
        "_t", "doc_id", s"$work/state", s"$work/out", 10, Some(8))
      graft.streaming.StreamingOps.applyWindowDedupBatch(s, b1, 1L,
        "_t", "doc_id", s"$work/state", s"$work/out", 10, Some(8))
      // crash-window replay: the guard must no-op, survivors stand
      graft.streaming.StreamingOps.applyWindowDedupBatch(s, b1, 1L,
        "_t", "doc_id", s"$work/state", s"$work/out", 10, Some(8))
      s.read.parquet(s"$work/out")
        .select(col("doc_id"), col("clean"), col("n_removed"))
        .orderBy("doc_id")
    }),
    // ---- streaming per-source token budget: batch 0 consumes, batch 1
    //      keeps only what the carried per-group consumed-token state
    //      still allows, then a replayed batch 1 hits the version
    //      guard's no-op branch; keys ascend across batches, so the
    //      stream must equal the single-pass quota over the union
    "token_quota_stream" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("source"), col("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-tquota-gate").toString
      val b0 = d.filter(col("doc_id") < 500)
      val b1 = d.filter(col("doc_id") >= 500)
      def step(b: DataFrame, id: Long): Unit =
        graft.streaming.StreamingOps.applyTokenQuotaBatch(s, b, id,
          "source", "doc_id", TextFunctions.tokenCount(col("text")),
          600L, s"$work/state", s"$work/out")
      step(b0, 0L); step(b1, 1L); step(b1, 1L) // replay must no-op
      s.read.parquet(s"$work/out")
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("doc_id")
    }),
    // ---- STREAMING drift guard: batch 0 commits the src0 reference
    //      histogram (versioned state, replayed as a no-op), batch 1
    //      scores the rest against the COMMITTED reference (run TWICE —
    //      the replay must pin v0 and overwrite bit-identically);
    //      result read from the per-batch directory. Oracle is
    //      corpus_drift's proven chain — the streaming path must equal
    //      the batch operator exactly
    "drift_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val ref = d.filter(col("source") === "src0")
      val nxt = d.filter(col("source") =!= "src0")
      val work = java.nio.file.Files
        .createTempDirectory("graft-drift-stream").toString
      StreamingOps.applyDriftBatch(s, ref, 0L, "text", s"$work/state", s"$work/out")
      StreamingOps.applyDriftBatch(s, ref, 0L, "text", s"$work/state", s"$work/out")
      StreamingOps.applyDriftBatch(s, nxt, 1L, "text", s"$work/state", s"$work/out")
      StreamingOps.applyDriftBatch(s, nxt, 1L, "text", s"$work/state", s"$work/out")
      s.read.parquet(s"$work/out/batch=1")
        .orderBy(col("gap").desc, col("bucket")).limit(20)
    }),
    // ---- streaming shift monitor: batch 0 commits the reference
    //      n_chars histogram (replay no-ops), each later batch emits
    //      exact KS + W1 against that frozen reference — the
    //      "is today's feed still shaped like the reference" alert
    "shift_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val work = java.nio.file.Files
        .createTempDirectory("graft-shift-stream").toString
      StreamingOps.applyShiftBatch(s, d.filter(col("source") === "src0"), 0L,
        "n_chars", s"$work/state", s"$work/out")
      StreamingOps.applyShiftBatch(s, d.filter(col("source") === "src0"), 0L,
        "n_chars", s"$work/state", s"$work/out")
      StreamingOps.applyShiftBatch(s, d.filter(col("source") === "src1"), 1L,
        "n_chars", s"$work/state", s"$work/out")
      StreamingOps.applyShiftBatch(s, d.filter(col("source") === "src1"), 1L,
        "n_chars", s"$work/state", s"$work/out")
      StreamingOps.applyShiftBatch(s, d.filter(col("source") === "src2"), 2L,
        "n_chars", s"$work/state", s"$work/out")
      s.read.parquet(s"$work/out")
        .select(col("batch").cast(LongType).as("batch"), col("n"),
          col("n_ref"), col("ks_ppm"), col("w1_e6"))
        .orderBy("batch")
    }),
    // ---- UniMax ON A STREAM: the waterfill allocation enforced by the
    //      per-group-budgets quota protocol over two crawl-order
    //      batches (batch 1 replays to prove the no-op guard) — kept
    //      rows across batches must equal the single-pass unimax_mix
    //      cut, which is exactly what the oracle recomputes
    "unimax_quota_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        (TextFunctions.tokenCount(col("text")) *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(substring(source, 4) AS INT) % 5)"))
          .as("_nt"))
      val total = d.agg(sum(col("_nt"))).head().getLong(0)
      val budgets = Sampling.unimaxBudgets(d, "source", col("_nt"),
          totalBudget = math.max(1L, total / 2), maxEpochs = 2L)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val work = java.nio.file.Files
        .createTempDirectory("graft-unimax-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyTokenQuotaBudgetsBatch(s, d.filter(pred), b,
          "source", "doc_id", col("_nt"), budgets,
          s"$work/state", s"$work/out")
      step(col("doc_id") < 250, 0L)
      step(col("doc_id") >= 250, 1L)
      step(col("doc_id") >= 250, 1L)
      s.read.parquet(s"$work/out")
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    }),
    // ---- exactly-N sampling ON A STREAM: bottom-k-by-hash is a
    //      mergeable summary (sample(A∪B) = sample(sample(A)∪B)), so
    //      the versioned state — always ≤ n rows — re-samples
    //      (state ∪ batch) each micro-batch; after the last batch the
    //      state is bit-identical to the batch sampleExactN over
    //      everything, which is exactly what the oracle recomputes
    //      (batch 1 replays to prove the no-op guard)
    "sample_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-sample-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applySampleExactNBatch(s, d.filter(pred), b, "doc_id",
          n = 150, salt = "bk", s"$work/state")
      step(col("doc_id") < 200, 0L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 200 && col("doc_id") < 350, 1L)
      step(col("doc_id") >= 350, 2L)
      StreamingOps.readState(s, s"$work/state").get
        .orderBy("doc_id")
    }),
    // ---- STREAMING changepoint monitor: per-period count state merges
    //      per batch; the last batch's emitted estimate must equal the
    //      batch operator on the full series (the replay of batch 1
    //      must NOT double-count — the version guard is correctness)
    "changepoint_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val ev = events(s, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .filter(col("day").isNotNull)
      val work = java.nio.file.Files
        .createTempDirectory("graft-changepoint-stream").toString
      for (b <- 0L to 2L) {
        val batch = ev.filter(col("day") % 3 === b)
        StreamingOps.applyChangepointBatch(s, batch, b, "day",
          s"$work/state", s"$work/out")
        if (b == 1L)
          StreamingOps.applyChangepointBatch(s, batch, b, "day",
            s"$work/state", s"$work/out")
      }
      s.read.parquet(s"$work/out/batch=2")
        .select(col("period"), col("d_stat"), col("n_periods"), col("total"))
    }),
    // ---- STREAMING n-gram novelty: persistent fingerprint store of
    //      every 3-gram ever seen; per batch, the new-information rate
    //      (re-crawls score near zero). Batch 1 replays to prove the
    //      no-op guard; oracle = first-batch-wins over the same split
    "novelty_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents").filter(col("doc_id") < 1500)
        .select(col("doc_id"), col("text"),
          expr("doc_id % 3").as("_b"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-novelty-stream").toString
      for (b <- 0L to 2L) {
        val batch = d.filter(col("_b") === b).select(col("doc_id"), col("text"))
        StreamingOps.applyNoveltyBatch(s, batch, b, "text", n = 3,
          s"$work/state", s"$work/out")
        if (b == 1L)
          StreamingOps.applyNoveltyBatch(s, batch, b, "text", n = 3,
            s"$work/state", s"$work/out")
      }
      s.read.parquet(s"$work/out")
        .select(col("batch_id"), col("novel_ngrams"),
          col("distinct_ngrams"), col("novelty_ppm"))
        .orderBy("batch_id")
    }),
    // ---- STREAMING drift timeline: the rolling-reference variant —
    //      each day-batch scores against the PREVIOUS day's committed
    //      histogram and then becomes the new reference; day 2 replays
    //      to prove the no-op guard. First 4 days, exact integers; the
    //      oracle rank-pairs the same days
    "drift_timeline_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val ev = events(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
        .filter(col("day").isNotNull)
      // ≤4 values — driver metadata (the batch-schedule convention)
      val days = ev.select("day").distinct().orderBy("day").limit(4)
        .collect().map(_.getLong(0)).toSeq
      val work = java.nio.file.Files
        .createTempDirectory("graft-drift-timeline-stream").toString
      for (d <- days) {
        val b = ev.filter(col("day") === d).select(col("event_type"))
        StreamingOps.applyDriftTimelineBatch(s, b, d, "event_type",
          s"$work/state", s"$work/out")
        if (days.indexOf(d) == 1)
          StreamingOps.applyDriftTimelineBatch(s, b, d, "event_type",
            s"$work/state", s"$work/out")
      }
      s.read.parquet(s"$work/out")
        .select(col("period"), col("n_prev"), col("n_cur"), col("l1_e9"))
        .orderBy("period")
    }),
    // ---- event-time watermark + late-data drops, replayed as the
    //      deterministic batch protocol: three time-ordered batches
    //      (event_id ranges), with a planted subset (≡3 mod 97)
    //      DELIVERED one batch late — rows older than the committed
    //      watermark (max event time − 30 min) drop; hourly tumbling
    //      counts accumulate in versioned state. Batch 1 replays to
    //      prove the no-op guard
    "late_data_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val ev = events(s, dir).filter(col("event_id") < 900)
        .select(col("event_id"), expr("unix_micros(ts)").as("us"),
          expr("least(event_id div 300 + " +
            "CASE WHEN event_id % 97 = 3 THEN 1 ELSE 0 END, 2)").as("b"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-late-stream").toString
      val (winUs, lagUs) = (3600000000L, 1800000000L)
      for (b <- 0L to 2L) {
        StreamingOps.applyLateWindowBatch(s, ev.filter(col("b") === b), b,
          "us", winUs, lagUs, s"$work/state", s"$work/out")
        if (b == 1L)
          StreamingOps.applyLateWindowBatch(s, ev.filter(col("b") === b), b,
            "us", winUs, lagUs, s"$work/state", s"$work/out")
      }
      StreamingOps.readState(s, s"$work/state").get
        .filter(col("w_start").isNotNull)
        .orderBy("w_start")
    }),
  )

  def oracles: Map[String, String] = Map(
    // the stream's final state IS the batch sample of everything seen —
    // same signed-FNV top-150 as sample_exact_n, salt ':bk'
    "sample_stream" ->
      """WITH h AS (
        | SELECT doc_id, lang, source,
        |  list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) AS hh
        | FROM (SELECT doc_id, lang, source, doc_id::VARCHAR || ':bk' AS s FROM documents)
        |), sgn AS (
        | SELECT doc_id, lang, source,
        |  CAST(hh - CASE WHEN hh >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN CAST('18446744073709551616' AS HUGEINT)
        |            ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hs
        | FROM h
        |)
        |SELECT doc_id, lang, source FROM sgn
        |QUALIFY row_number() OVER (ORDER BY hs DESC, doc_id DESC) <= 150
        |ORDER BY doc_id""".stripMargin,
    // cumulative distinct/total over the union; the novel-term
    // increment is the batch-1 term set anti-joined against batch 0's
    "vocab_growth_stream" ->
      """WITH tok AS (
        | SELECT CAST(doc_id AS BIGINT) AS id,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS t
        | FROM documents
        |), a AS (
        | SELECT DISTINCT t FROM tok WHERE id < 250
        |), b AS (
        | SELECT DISTINCT t FROM tok WHERE id >= 250
        |)
        |SELECT
        | (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM tok) AS distinct_terms,
        | (SELECT CAST(count(*) AS BIGINT) FROM tok) AS total_tokens,
        | (SELECT CAST(count(*) AS BIGINT) FROM b ANTI JOIN a USING (t)) AS new_terms""".stripMargin,
    // quantile_cont over the full quantized prefix — the identical
    // (n−1)·p interpolation the profile family already pins across
    // engines; n rides every row
    "quantile_stream" ->
      """WITH v AS (
        | SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        | WHERE n_chars IS NOT NULL
        |), q AS (
        | SELECT CAST(0.25 AS DOUBLE) AS prob, quantile_cont(x, 0.25) AS value FROM v
        | UNION ALL SELECT CAST(0.5 AS DOUBLE), quantile_cont(x, 0.5) FROM v
        | UNION ALL SELECT CAST(0.75 AS DOUBLE), quantile_cont(x, 0.75) FROM v
        | UNION ALL SELECT CAST(0.9 AS DOUBLE), quantile_cont(x, 0.9) FROM v
        |)
        |SELECT q.prob, q.value, (SELECT CAST(count(*) AS BIGINT) FROM v) AS n
        |FROM q ORDER BY prob""".stripMargin,
    // full-overlap verification at identical signatures ⇔ identical
    // normalized text (the dedup_minhash oracle convention): the index
    // lookup reduces to the exact text-equality join
    "minhash_index_stream" ->
      """WITH norm AS (
        | SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM documents WHERE doc_id < 500
        |), q AS (
        | SELECT CAST(doc_id + 1000000 AS BIGINT) AS query_id, nt FROM norm WHERE doc_id < 15
        |)
        |SELECT q.query_id, CAST(n.doc_id AS BIGINT) AS id, CAST(16 AS INTEGER) AS overlap
        |FROM q JOIN norm n ON n.nt = q.nt
        |ORDER BY query_id, id""".stripMargin,
    // the stream's final state IS the per-group batch sample of
    // everything seen — same signed-FNV top-4 per source, salt ':bkg'
    "sample_group_stream" ->
      """WITH h AS (
        | SELECT doc_id, source,
        |  list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) AS hh
        | FROM (SELECT doc_id, source, doc_id::VARCHAR || ':bkg' AS s FROM documents)
        |), sgn AS (
        | SELECT doc_id, source,
        |  CAST(hh - CASE WHEN hh >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN CAST('18446744073709551616' AS HUGEINT)
        |            ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hs
        | FROM h
        |)
        |SELECT source, doc_id,
        | CAST(row_number() OVER (PARTITION BY source ORDER BY hs DESC, doc_id DESC) AS INTEGER) AS rank
        |FROM sgn
        |QUALIFY rank <= 4
        |ORDER BY source, rank""".stripMargin,
    // the streaming enrich applies the SAME backward as-of semantics
    // against the committed state the merge batch built from the
    // deduped views — so the oracle is asof_join's chain verbatim
    "asof_enrich_stream" ->
      """WITH l AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), r AS (
        | SELECT user_id, ts, max(event_id) AS view_id, arg_max(value, event_id) AS view_value
        | FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT l.event_id AS event_id, l.user_id AS user_id,
        | epoch_us(l.ts) AS ts_us,
        | r.view_id AS matched_view_id,
        | r.view_value AS matched_value,
        | epoch_us(r.ts) AS matched_ts_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY 1""".stripMargin,
    // dedup_exact's proven normalization, applied batch-ordered: batch
    // 0 keeps min-id per normalized text; batch 1 keeps min-id per
    // text among ids whose text is absent from batch 0's store (the
    // replayed third apply is a no-op by the version guard, so the
    // two-batch rule IS the final state)
    "dedup_stream_replayed" ->
      """WITH norm AS (
        | SELECT doc_id, source,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM documents WHERE doc_id < 2000
        |), b0 AS (
        | SELECT * FROM norm WHERE doc_id < 1000
        |), b1 AS (
        | SELECT * FROM norm WHERE doc_id >= 1000
        |), k0 AS (
        | SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
        |  FROM b0) WHERE rn = 1
        |), k1 AS (
        | SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
        |  FROM b1 WHERE nt NOT IN (SELECT nt FROM b0)) WHERE rn = 1
        |)
        |SELECT doc_id, source FROM k0
        |UNION ALL
        |SELECT doc_id, source FROM k1
        |ORDER BY doc_id""".stripMargin,
    // the two-batch versioned merge collapses to the one-shot collapse
    // (batches split on the order column; $inc sums and $addToSet
    // membership are batch-order-free) — merge_collapse's oracle, with
    // the stateful store + replay guard exercised on the Spark side
    "merge_stream_versioned" ->
      """SELECT l_orderkey,
        | arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        | array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS tags
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    // per-user min-chain depths (funnel_reach's u1/u2/u3 chain, kept at
    // user granularity): depth = furthest step reached, last_ts = the
    // advancing event's timestamp; depth-0 users emit nothing
    "funnel_stream_depths" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS m, event_type AS et FROM events
        | WHERE event_type IN ('view', 'click', 'purchase')
        |), u1 AS (
        | SELECT user_id, min(m) AS t1 FROM e WHERE et = 'view' GROUP BY 1
        |), u2 AS (
        | SELECT e.user_id, min(e.m) AS t2 FROM e JOIN u1 ON e.user_id = u1.user_id
        | WHERE e.et = 'click' AND e.m > u1.t1 GROUP BY 1
        |), u3 AS (
        | SELECT e.user_id, min(e.m) AS t3 FROM e JOIN u2 ON e.user_id = u2.user_id
        | WHERE e.et = 'purchase' AND e.m > u2.t2 GROUP BY 1
        |)
        |SELECT u1.user_id,
        | CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS depth,
        | COALESCE(t3, t2, t1) AS last_ts_us
        |FROM u1 LEFT JOIN u2 ON u1.user_id = u2.user_id
        |         LEFT JOIN u3 ON u1.user_id = u3.user_id
        |ORDER BY u1.user_id""".stripMargin,
    // the accumulated stream state IS the full example set's stats, so
    // the final batch replays with the batch oracle verbatim
    "quality_calibration_stream" -> qualityCalibrationOracleSql,
    // the sum-merged stream state equals the whole-corpus sketch
    "cms_stream" -> oracleSqlCmsCounts,
    // the stream's max-merged state equals the whole-corpus sketch
    "hll_stream" -> hllOracleSql(withExact = false),
    // batches ascend in doc_id, so the two-batch stream equals ONE
    // single-pass per-source quota over the union — the same window
    // sum as domain_token_quota, kept rows only
    "token_quota_stream" ->
      """WITH nt AS (
        | SELECT doc_id, source,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        | FROM documents WHERE doc_id < 2000
        |), q AS (
        | SELECT source, doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM nt
        |)
        |SELECT source, doc_id, n_tokens, cum_tokens
        |FROM q WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin,
    // the two-batch streaming protocol replayed on window strings:
    // batch 0 is the plain removal; batch 1 cuts both store matches
    // (any batch-0 window, keeper or not) and in-batch non-keepers
    "window_dedup_stream" ->
      s"""WITH d AS (
         | SELECT doc_id, $dupRemovalTextSql AS t
         | FROM documents WHERE doc_id < 1000
         |), tk AS (
         | SELECT doc_id, list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '') AS toks
         | FROM d
         |), w AS (
         | SELECT doc_id, len(toks) AS n, CAST(p AS BIGINT) AS s,
         |  array_to_string(list_slice(toks, CAST(p + 1 AS BIGINT), CAST(p + 10 AS BIGINT)), ' ') AS win
         | FROM tk, UNNEST(range(0, greatest(len(toks) - 10, 0) + 1)) AS u(p)
         | WHERE len(toks) > 0
         |), w0 AS (SELECT * FROM w WHERE doc_id < 500
         |), w1 AS (SELECT * FROM w WHERE doc_id >= 500
         |), r0 AS (
         | SELECT doc_id, n, s,
         |  row_number() OVER (PARTITION BY win ORDER BY doc_id, s) AS rn,
         |  count(*) OVER (PARTITION BY win) AS c
         | FROM w0
         |), cuts0 AS (
         | SELECT doc_id, s, least(s + 10, n) AS e FROM r0 WHERE c > 1 AND rn > 1
         |), state0 AS (SELECT DISTINCT win FROM w0
         |), r1 AS (
         | SELECT doc_id, n, s, win,
         |  row_number() OVER (PARTITION BY win ORDER BY doc_id, s) AS rn,
         |  count(*) OVER (PARTITION BY win) AS c
         | FROM w1
         |), cuts1 AS (
         | SELECT DISTINCT doc_id, s, least(s + 10, n) AS e FROM (
         |  SELECT doc_id, s, n FROM r1 WHERE c > 1 AND rn > 1
         |  UNION
         |  SELECT r1.doc_id, r1.s, r1.n FROM r1 JOIN state0 USING (win)
         | ) x
         |), cuts AS (
         | SELECT * FROM cuts0 UNION SELECT * FROM cuts1
         |), cov AS (
         | SELECT DISTINCT doc_id, CAST(q AS BIGINT) AS pos
         | FROM cuts, UNNEST(range(s, e)) AS v(q)
         |), tokpos AS (
         | SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
         |  unnest(toks) AS tok
         | FROM tk
         |), keptt AS (
         | SELECT tp.doc_id, tp.pos, tp.tok
         | FROM tokpos tp LEFT JOIN cov
         |   ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
         | WHERE cov.pos IS NULL
         |), agg AS (
         | SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean,
         |  count(*) AS kept
         | FROM keptt GROUP BY doc_id
         |)
         |SELECT tk.doc_id,
         | COALESCE(agg.clean, '') AS clean,
         | CAST(len(tk.toks) - COALESCE(agg.kept, 0) AS BIGINT) AS n_removed
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
         |ORDER BY tk.doc_id""".stripMargin,
    // streaming drift equals the batch operator exactly — same oracle
    "drift_stream" -> corpusDriftSql(
      """SELECT bucket, cnt_a, cnt_b, CAST(gap AS BIGINT) AS gap
        |FROM g ORDER BY gap DESC, bucket LIMIT 20""".stripMargin),
    // the stream equals the single pass when fed in key order: the same
    // waterfill + per-source cumulative cut, emitting the kept rows
    "unimax_quota_stream" ->
      s"""$unimaxAllocSql, c AS (
         | SELECT source, doc_id, w,
         |  CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         | FROM nt
         |)
         |SELECT c.source, c.doc_id, c.w AS n_tokens, c.cum AS cum_tokens
         |FROM c JOIN alloc a ON a.source = c.source
         |WHERE c.cum <= a.b
         |ORDER BY doc_id""".stripMargin,
    // the distribution_shift chain with the streamed slices as the
    // groups: src1 → batch 1, src2 → batch 2, reference = src0
    "shift_stream" ->
      """WITH b AS (
        | SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents
        | WHERE doc_id < 2000 AND source IS NOT NULL AND n_chars IS NOT NULL
        |), h AS (
        | SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
        |), ref AS (
        | SELECT v, c AS cr FROM h WHERE g = 'src0'
        |), oth AS (
        | SELECT g, v, c FROM h WHERE g IN ('src1', 'src2')
        |), gs AS (
        | SELECT DISTINCT g FROM oth
        |), refx AS (
        | SELECT gs.g, ref.v, ref.cr FROM gs CROSS JOIN ref
        |), m AS (
        | SELECT coalesce(refx.g, oth.g) AS g, coalesce(refx.v, oth.v) AS v,
        |  CAST(coalesce(oth.c, 0) AS BIGINT) AS cg,
        |  CAST(coalesce(refx.cr, 0) AS BIGINT) AS cr
        | FROM refx FULL OUTER JOIN oth ON refx.g = oth.g AND refx.v = oth.v
        |), cw AS (
        | SELECT g, v,
        |  CAST(sum(cg) OVER (PARTITION BY g ORDER BY v) AS HUGEINT) AS cumg,
        |  CAST(sum(cr) OVER (PARTITION BY g ORDER BY v) AS HUGEINT) AS cumr,
        |  CAST(sum(cg) OVER (PARTITION BY g) AS HUGEINT) AS ng,
        |  CAST(sum(cr) OVER (PARTITION BY g) AS HUGEINT) AS nr,
        |  CAST(coalesce(lead(v) OVER (PARTITION BY g ORDER BY v) - v, 0) AS HUGEINT) AS gap
        | FROM m
        |), agg AS (
        | SELECT g, max(ng) AS ng, max(nr) AS nr,
        |  max(abs(cumg * nr - cumr * ng)) AS ksn,
        |  CAST(coalesce(sum(abs(cumg * nr - cumr * ng) * gap), 0) AS HUGEINT) AS w1n
        | FROM cw GROUP BY 1
        |)
        |SELECT CAST(CASE g WHEN 'src1' THEN 1 ELSE 2 END AS BIGINT) AS batch,
        | CAST(ng AS BIGINT) AS n, CAST(nr AS BIGINT) AS n_ref,
        | CAST((ksn * 1000000) // (ng * nr) AS BIGINT) AS ks_ppm,
        | CAST((w1n * 1000000) // (ng * nr) AS BIGINT) AS w1_e6
        |FROM agg WHERE ng > 0 AND nr > 0 ORDER BY 1""".stripMargin,
    // the accumulated state after the last batch IS the full series, so
    // the streaming answer equals the batch oracle verbatim
    "changepoint_stream" -> changepointDayOracleSql,
    // first-batch-wins replay of the streaming novelty store over the
    // same doc_id % 3 split; distinct by exact string on the oracle
    // side (the Spark store is 8-byte fps, 2⁻⁶⁴ collision argument)
    "novelty_stream" ->
      """WITH toks AS (
        | SELECT doc_id % 3 AS b,
        |  list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
        | FROM documents WHERE doc_id < 1500
        |), sh AS (
        | SELECT b, unnest(
        |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' ')))
        |  END) AS g
        | FROM toks
        |), bg AS (
        | SELECT DISTINCT b, g FROM sh
        |), firsts AS (
        | SELECT g, min(b) AS fb FROM bg GROUP BY 1
        |)
        |SELECT CAST(bg.b AS BIGINT) AS batch_id,
        | CAST(sum(CASE WHEN f.fb = bg.b THEN 1 ELSE 0 END) AS BIGINT) AS novel_ngrams,
        | CAST(count(*) AS BIGINT) AS distinct_ngrams,
        | CAST(CAST(sum(CASE WHEN f.fb = bg.b THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |   // greatest(count(*), 1) AS BIGINT) AS novelty_ppm
        |FROM bg JOIN firsts f ON bg.g = f.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the rolling-reference streaming timeline over the FIRST 4 days:
    // batches pair by arrival RANK (the streaming semantics — equal to
    // value-adjacency only when days are consecutive), same exact-L1
    // arithmetic, every sum through HUGEINT then cast BIGINT
    "drift_timeline_stream" ->
      s"""WITH e0 AS (
         | SELECT epoch_us(ts) // 86400000000 AS p, lower(event_type) AS token
         | FROM events WHERE ts IS NOT NULL
         |), days AS (
         | SELECT p, row_number() OVER (ORDER BY p) AS rn
         | FROM (SELECT DISTINCT p FROM e0 ORDER BY p LIMIT 4)
         |), e AS (
         | SELECT d.rn, e0.token FROM e0 JOIN days d ON d.p = e0.p
         |), vb AS (
         | SELECT token,
         |  $fnvBucketExpr
         | FROM (SELECT DISTINCT token, token || ':drift' AS s FROM e)
         |), h AS (
         | SELECT e.rn, vb.bucket, CAST(count(*) AS BIGINT) AS cnt
         | FROM e JOIN vb ON e.token = vb.token GROUP BY 1, 2
         |), tot AS (
         | SELECT rn, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1
         |), pairs AS (
         | SELECT c.rn AS rn, pr.n AS n_prev, c.n AS n_cur
         | FROM tot c JOIN tot pr ON pr.rn = c.rn - 1
         |), bk AS (
         | SELECT DISTINCT pa.rn, h.bucket FROM pairs pa
         | JOIN h ON h.rn = pa.rn OR h.rn = pa.rn - 1
         |), j AS (
         | SELECT bk.rn, bk.bucket,
         |  coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
         | FROM bk
         | LEFT JOIN h a ON a.rn = bk.rn - 1 AND a.bucket = bk.bucket
         | LEFT JOIN h b ON b.rn = bk.rn AND b.bucket = bk.bucket
         |), g AS (
         | SELECT j.rn, t.n_prev, t.n_cur,
         |  sum(abs(CAST(j.ca AS HUGEINT) * t.n_cur - CAST(j.cb AS HUGEINT) * t.n_prev)) AS s
         | FROM j JOIN pairs t ON t.rn = j.rn GROUP BY 1, 2, 3
         |)
         |SELECT d.p AS period, g.n_prev, g.n_cur,
         | CAST((2 * (g.s * 1000000000) + CAST(g.n_prev AS HUGEINT) * g.n_cur)
         |   // (2 * CAST(g.n_prev AS HUGEINT) * g.n_cur) AS BIGINT) AS l1_e9
         |FROM g JOIN days d ON d.rn = g.rn ORDER BY 1""".stripMargin,
    // the watermark protocol replayed in closed form: wm after batch b =
    // running max event time − 30 min over batches ≤ b; a row is kept
    // iff it is not older than the wm committed BEFORE its batch; kept
    // rows roll into hourly tumbling windows
    "late_data_stream" ->
      """WITH e AS (
        | SELECT event_id, epoch_us(ts) AS us,
        |  least(event_id // 300 + CASE WHEN event_id % 97 = 3 THEN 1 ELSE 0 END, 2) AS b
        | FROM events WHERE event_id < 900 AND ts IS NOT NULL
        |), bm AS (
        | SELECT b, max(us) AS mx FROM e GROUP BY b
        |), wm AS (
        | SELECT b, max(mx) OVER (ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1800000000 AS wm_after
        | FROM bm
        |), kept AS (
        | SELECT e.us FROM e LEFT JOIN wm ON wm.b = e.b - 1
        | WHERE wm.wm_after IS NULL OR e.us >= wm.wm_after
        |)
        |SELECT (us // 3600000000) * 3600000000 AS w_start,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
