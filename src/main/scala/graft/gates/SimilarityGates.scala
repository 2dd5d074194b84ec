package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.model._
import graft.functions.{DomainFunctions, TypedAttrs, TextFunctions, VectorFunctions}
import graft.operators._
import graft.GateTables
import graft.SparkEntry._

/** Similarity gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object SimilarityGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- quantized ANN: exact top-k by the QDot integer kernel over
    //      8-bit codes (the bandwidth-saving candidate scan) — the
    //      affine expansion is a fixed-order formula, so the oracle
    //      recomputes the EXACT scores, not an approximation bound
    "ann_topk_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qemb = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.quantize8(col("embedding")).as("qv"))
      val q = qemb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
      Similarity.bruteForceTopK(qemb, "vec_id", "qv", q, "query_id", "qqv",
          k = 10, metric = graft.functions.VectorFunctions.quantizedDot,
          scoreName = "qdot")
        .orderBy("query_id", "rank")
    }),
    // ---- product quantization, trained + served in e6 integer space
    //      (round-9 verdict #5 / builder backlog): codebooks from one
    //      exact k-means step per subspace (m=4 × 16 dims, seeds
    //      vec_id < 4), every vector → 4 codes via the narrow per-row
    //      argmin — the encode pass is join-free and shuffle-free
    "pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cb = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsE6(emb, "vec_id", "embedding", seeds, m = 4))
      Similarity.pqEncodeE6(emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub_id", "code")))
        .select(col("vec_id"), col("sub_id").cast(IntegerType).as("sub_id"),
          col("code"))
        .orderBy("vec_id", "sub_id")
    }),
    // ---- ADC top-k over the PQ codes: per-query distance LUTs
    //      (driver-computed exact BIGINT — queries and codebooks are
    //      metadata), the scan is Σ_j lut_j(code_j) per row — m map
    //      probes, no vector arithmetic — through the k-bounded heap;
    //      the oracle replays the identical quantized distances, so
    //      the approximation itself is hash-verified
    "ann_topk_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cb = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsE6(emb, "vec_id", "embedding", seeds, m = 4))
      val codes = Similarity.pqEncodeE6(emb, "vec_id", "embedding", cb)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqAdcTopKE6(codes, "vec_id", "codes", cb, q, "qid", "qvec",
          k = 10)
        .orderBy("query_id", "rank")
    }),
    // ---- IVF-PQ: the composed physical ANN index (round-10 verdict
    //      #4) — coarse cells = the raw e6 seed vectors (vec_id < 4),
    //      PQ codebooks from the same seeds, ONE narrow build pass
    //      writes (id, codes, cell) partitioned by cell, queries probe
    //      nprobe=2 of 4 cells, ADC-score only the probed partitions;
    //      the oracle replays cells, codes, probe sets and LUT sums
    //      exactly, so both approximation layers are hash-verified
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cb = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsE6(emb, "vec_id", "embedding", seeds, m = 4))
      val coarse = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-gate").toString
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cb, out)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopKE6(out, "vec_id", coarse, cb, q, "qid", "qvec",
          k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- IVF-PQ recall@10 at nprobe=1: the genuinely-approximate
    //      setting — coarse pruning AND quantization both lose — and
    //      the loss is a deterministic property of (corpus, cells,
    //      codebooks, queries), so the oracle reproduces the recall
    //      numbers exactly, measured loss included
    "ann_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cb = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsE6(emb, "vec_id", "embedding", seeds, m = 4))
      val coarse = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      val out = java.nio.file.Files.createTempDirectory("graft-ivfpqr-gate").toString
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cb, out)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqRecallE6(emb, "vec_id", "embedding", out, coarse, cb,
          q, "qid", "qvec", k = 10, nprobe = 1)
        .orderBy("query_id")
    }),
    // ---- residual (IVFADC) vs raw IVF-PQ codes, recall@10 at
    //      IDENTICAL (m = 4, nprobe = 4 — all cells probed, so the
    //      comparison isolates pure code quality): codes quantize
    //      x − coarse centroid instead of x. On clustered corpora the
    //      residual distribution concentrates and recall rises
    //      (SimilaritySpec pins 1/3 → 3/3 hits on a two-cluster
    //      fixture); on THIS uniform-random synthetic table the
    //      variants differ per query but tie in aggregate — exactly
    //      what theory predicts with nothing to concentrate. Both
    //      chains (training, encoding, per-probed-cell query LUTs) are
    //      deterministic integer properties of (corpus, cells,
    //      codebooks, queries) and hash-compare against the oracle's
    //      full replay
    "ann_ivfpq_residual_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // raw variant (the ann_ivfpq_recall construction)
      val rawSeeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cbRaw = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsE6(emb, "vec_id", "embedding", rawSeeds, m = 4))
      val outRaw = java.nio.file.Files
        .createTempDirectory("graft-ivfpqrr-raw").toString
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cbRaw, outRaw)
      // residual variant: codebooks train on x − coarse(x); seeds are
      // the residuals of vec_ids 4..7 (0..3 are the cells themselves —
      // zero residuals would be degenerate seeds)
      val resSeeds = Similarity.ivfResidualsE6(emb, "vec_id", "embedding", coarse)
        .filter(col("vec_id") >= 4 && col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("residual_e6").as("centroid_e6"))
      val cbRes = Similarity.pqCodebooksFromSums(
        Similarity.pqTrainSumsResidualE6(emb, "vec_id", "embedding",
          coarse, resSeeds, m = 4))
      val outRes = java.nio.file.Files
        .createTempDirectory("graft-ivfpqrr-res").toString
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cbRes,
        outRes, residual = true)
      val rawRec = Similarity.ivfPqRecallE6(emb, "vec_id", "embedding",
          outRaw, coarse, cbRaw, q, "qid", "qvec", k = 10, nprobe = 4)
        .withColumn("variant", lit("raw"))
      val resRec = Similarity.ivfPqRecallE6(emb, "vec_id", "embedding",
          outRes, coarse, cbRes, q, "qid", "qvec", k = 10, nprobe = 4,
          residual = true)
        .withColumn("variant", lit("residual"))
      rawRec.unionByName(resRec).orderBy("variant", "query_id")
    }),
    // ---- 8-bit embedding quantization: affine per-vector codes +
    //      (offset, scale); exact elementwise double arithmetic, so the
    //      oracle reproduces every code. Flattened to (vec_id, pos, q)
    //      scalars for the hash compare
    "embedding_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
          graft.functions.VectorFunctions.quantize8(col("embedding")).as("qv"))
        .select(col("vec_id"), col("qv.offset").as("offset"),
          col("qv.scale").as("scale"),
          posexplode(col("qv.q")).as(Seq("pos", "q")))
        .select(col("vec_id"), col("pos").cast(IntegerType).as("pos"),
          col("q"), col("offset"), col("scale"))
        .orderBy("vec_id", "pos")
    }),
    // ---- streaming entity resolution (round-10 verdict #5): batch 0
    //      commits the base corpus's gram store + canonical labels;
    //      batch 1 streams in clones and 80%-truncations whose setsim
    //      pairs (restricted to new-touching candidates) must merge
    //      into the COMMITTED components via star-edge re-propagation;
    //      batch 1 replays to prove the version guard. Emitted table =
    //      full canonical map, oracled through the proven batch CTE
    //      chain over the union. Convergence: the fixture's components
    //      are stars/triangles around their minimum (measured max
    //      eccentricity-of-min = 1 at sf0.001/0.01/0.1, incremental
    //      star-compressed form ≤ 2), so 4 rounds is a ≥2x margin on
    //      BOTH schedules and both engines agree at the fixpoint
    "er_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id"), col("text"))
      val clones = base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val trunc = base.filter(col("doc_id") < 20)
        .withColumn("_ts", TextFunctions.tokens(col("text")))
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(col("_ts"), lit(1),
            greatest(expr("(size(_ts) * 4) div 5"), lit(1)).cast("int")), " ")
            .as("text"))
      def pad(df: DataFrame): DataFrame = df.select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"), col("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-er-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyErBatch(s, b, id, "doc_id", "text",
          shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 4,
          s"$work/state", s"$work/out")
      step(pad(base), 0L)
      step(pad(clones.union(trunc)), 1L)
      step(pad(clones.union(trunc)), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1")
        .select(col("node"), col("label"), col("is_canonical"))
        .orderBy("node")
    }),
    // ---- ER SERVING: read-only entity lookup of incoming docs
    //      (clones + truncations) against the COMMITTED state — no
    //      LPA, no state rewrite, no commit. The state build is keyed
    //      on the corpus file's identity and guarded by the version
    //      pointer, so bench re-runs measure the serving path alone
    //      (the one-time build amortizes to the first run; min-of-runs
    //      is serving cost, the bm25_topk_indexed discipline applied
    //      to the lifecycle/serving split)
    "er_serve" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id"), col("text"))
      val clones = base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val trunc = base.filter(col("doc_id") < 20)
        .withColumn("_ts", TextFunctions.tokens(col("text")))
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(col("_ts"), lit(1),
            greatest(expr("(size(_ts) * 4) div 5"), lit(1)).cast("int")), " ")
            .as("text"))
      def pad(df: DataFrame): DataFrame = df.select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"), col("text"))
      val src = new java.io.File(s"$dir/documents.parquet")
      // cache key = corpus identity + EVERY gate parameter that shapes
      // the committed state (shingle/threshold/lpa/filter/pad) — a
      // parameter edit must invalidate the cache, or serving would be
      // compared against a mismatched store
      val work = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_er_serve_${src.length}_${src.lastModified}" +
          "_sh3_t500000_lpa4_f1000_p8").toString
      if (StreamingOps.currentVersionId(s, s"$work/state").isEmpty)
        StreamingOps.applyErBatch(s, pad(base), 0L, "doc_id", "text",
          shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 4,
          s"$work/state", s"$work/out")
      StreamingOps.erResolve(s, pad(clones.union(trunc)), "doc_id", "text",
          shingleSize = 3, thresholdPpm = 500000L, s"$work/state")
        .orderBy("node")
    }),
    // ---- streaming ER, EXACT components: sliding 8-token windows
    //      (step 2) of each base doc form a J = 0.5 similarity CHAIN —
    //      adjacent windows share 4 of 6 trigrams, non-adjacent fall
    //      below threshold — split ACROSS the two batches (windows
    //      0–2 then 3–5), so the cross-batch merge needs the
    //      convergence-checked exact-components path (bounded 1-round
    //      LPA would under-merge a diameter-5 chain; the spec pins
    //      that). Labels are exact per-component minima, which the
    //      oracle reproduces by min-propagating to a safe round bound
    "er_stream_exact" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val base = t(s, dir, "documents").filter(col("doc_id") < 5)
        .withColumn("_ts", TextFunctions.tokens(col("text")))
      def win(kLo: Int, kHi: Int): DataFrame = base
        .select(col("doc_id"),
          explode(array((kLo to kHi).map(k => lit(k)): _*)).as("_k"),
          col("_ts"))
        .select(
          lpad((col("doc_id") * lit(10) + col("_k")).cast("string"), 8, "0")
            .as("doc_id"),
          array_join(slice(col("_ts"), col("_k") * lit(2) + lit(1), lit(8)),
            " ").as("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-er-exact-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyErBatch(s, b, id, "doc_id", "text",
          shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 1,
          s"$work/state", s"$work/out", exactComponents = true)
      step(win(0, 2), 0L)
      step(win(3, 5), 1L)
      step(win(3, 5), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1")
        .select(col("node"), col("label"), col("is_canonical"))
        .orderBy("node")
    }),
    // ---- streaming IVF-PQ index: batch 0 trains + freezes cells (e6
    //      of the 4 smallest-id vectors) and PQ codebooks (one exact
    //      k-means step over batch 0 only); batch 1 encodes narrowly
    //      and appends; batch 1 replays to prove the guard; the query
    //      rides the committed cell-partitioned codes through the
    //      physically-pruned probe. Oracle = the IVF-PQ CTE chain with
    //      codebook training RESTRICTED to the batch-0 prefix
    "ann_ivfpq_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = t(s, dir, "embeddings")
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-stream-gate").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyIvfPqIndexBatch(s, emb.filter(pred), b,
          "vec_id", "embedding", c = 4, m = 4, s"$work/state")
      step(col("vec_id") < 300, 0L)
      step(col("vec_id") >= 300, 1L)
      step(col("vec_id") >= 300, 1L)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      StreamingOps.queryIvfPqIndex(s, s"$work/state", q, "qid", "qvec",
          "vec_id", k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- streaming IVF-PQ index in RESIDUAL (IVFADC) space: batch 0
    //      trains cells + residual-space codebooks (seeds = residuals
    //      of rows c..2c−1 by id, the batch-gate convention) and
    //      records the space as the one-row `meta` artifact; batch 1
    //      encodes residually against the frozen artifacts; the query
    //      reads the space from `meta` — never from the caller — and
    //      builds its LUTs per probed cell. Oracle = the residual CTE
    //      chain with codebook training restricted to the batch-0
    //      prefix
    "ann_ivfpq_stream_residual" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = t(s, dir, "embeddings")
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-stream-res-gate").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyIvfPqIndexBatch(s, emb.filter(pred), b,
          "vec_id", "embedding", c = 4, m = 4, s"$work/state",
          residual = true)
      step(col("vec_id") < 300, 0L)
      step(col("vec_id") >= 300, 1L)
      step(col("vec_id") >= 300, 1L) // replay no-op
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      StreamingOps.queryIvfPqIndex(s, s"$work/state", q, "qid", "qvec",
          "vec_id", k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- IVF-PQ codebook-drift monitor: cell-occupancy histograms vs
    //      the batch-0 committed reference, exact scaled-L1 per batch.
    //      Batch 1 (the corpus's natural second half) sits under the
    //      re-train threshold; batch 2 plants a DRIFTED feed — 50
    //      copies of vector 0, all funneling into one cell — and trips
    //      the flag; batch 2 then replays to prove idempotence
    "pq_drift_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = t(s, dir, "embeddings")
      val work = java.nio.file.Files
        .createTempDirectory("graft-pqdrift-gate").toString
      StreamingOps.applyIvfPqIndexBatch(s, emb.filter(col("vec_id") < 300),
        0L, "vec_id", "embedding", c = 4, m = 4, s"$work/index")
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyPqDriftBatch(s, b, id, "vec_id", "embedding",
          s"$work/index", s"$work/drift", s"$work/out",
          retrainThresholdE9 = 750000000L)
      step(emb.filter(col("vec_id") < 300), 0L)       // reference commits
      step(emb.filter(col("vec_id") >= 300), 1L)      // natural feed
      val drifted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000L).as("vec_id"))
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0L)
          .select(col("embedding"))))
      step(drifted, 2L)
      step(drifted, 2L)                               // replay no-op
      val b1 = s.read.parquet(s"$work/out/batch=1").withColumn("batch", lit(1L))
      val b2 = s.read.parquet(s"$work/out/batch=2").withColumn("batch", lit(2L))
      b1.unionByName(b2)
        .select(col("batch"), col("n_ref"), col("n_cur"), col("l1_e9"),
          col("retrain"))
        .orderBy("batch")
    }),
    // ---- EPOCHED IVF-PQ index — the retrain flag's consumer: batch 0
    //      opens epoch 0; batch 1 re-delivers the same vectors under
    //      new ids (occupancy identical → l1 = 0 → appends); batch 2
    //      plants the drifted feed (50 copies of vector 0, one cell
    //      takes all the mass → l1 ≈ 1.5e9 ≥ 5e8) and OPENS epoch 1
    //      trained on itself; batch 2 replays (no-op); batch 3 repeats
    //      the new distribution — the retrained epoch's own reference
    //      absorbs it (l1 = 0, no re-trip). Output = the timeline
    "pq_retrain_epoch" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = t(s, dir, "embeddings")
      val work = java.nio.file.Files
        .createTempDirectory("graft-pqepoch-gate").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyIvfPqEpochBatch(s, b, id, "vec_id", "embedding",
          c = 4, m = 4, s"$work/state", s"$work/out",
          retrainThresholdE9 = 500000000L)
      def plant(offset: Long): DataFrame = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + offset).as("vec_id"))
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0L)
          .select(col("embedding"))))
      step(emb.filter(col("vec_id") < 300), 0L)            // epoch 0 opens
      step(emb.filter(col("vec_id") < 300)                 // stable re-keyed feed
        .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")), 1L)
      step(plant(10000L), 2L)                              // trips → epoch 1
      step(plant(10000L), 2L)                              // replay no-op
      step(plant(20000L), 3L)                              // new normal appends
      (0 to 3).map(i => s.read.parquet(s"$work/out/batch=$i")
          .withColumn("batch", lit(i.toLong)))
        .reduce(_ unionByName _)
        .select(col("batch"), col("epoch"), col("n_ref"), col("n_cur"),
          col("l1_e9"), col("retrained"))
        .orderBy("batch")
    }),
    // ---- the composed-recall RECOVERY eval for the epoch stream: the
    //      drifted corpus (every vec_id >= 300 squeezed into the 0.9
    //      corner — exact double arithmetic both engines replay) trips
    //      a retrain at batch 1; recall@10 of drifted queries, ground
    //      truth = exact top-10 within the drifted set, against (a) the
    //      FROZEN stream (batch-0 artifacts, drifted batch appended —
    //      its codes collapse toward one code word) and (b) the
    //      RETRAINED epoch (cells + codebooks from the drifted batch).
    //      nprobe = c isolates pure code quality (the residual_recall
    //      convention); both chains replay value-for-value in the
    //      oracle. Recovery, frozen → retrained total hits over 3
    //      queries × recall@10: 0→7 (sf0.001), 1→7 (sf0.01), 2→5 (sf0.1).
    "pq_retrain_recall" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      def driftVec(c: Column): Column =
        transform(c, x => x.cast("double") / lit(8.0d) + lit(0.9d))
      val raw0 = emb.filter(col("vec_id") < 300)
      // fixed 200-vector drifted slice: the recovery margin is a
      // corpus-density property (m = 4 quantization over a squeezed
      // cloud), so the eval corpus stays scale-invariant
      val drifted = emb.filter(col("vec_id") >= 300 && col("vec_id") < 500)
        .select((col("vec_id") + 10000L).as("vec_id"),
          driftVec(col("embedding")).as("embedding"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-pqretrain-recall").toString
      StreamingOps.applyIvfPqIndexBatch(s, raw0, 0L, "vec_id", "embedding",
        c = 4, m = 4, s"$work/frozen")
      StreamingOps.applyIvfPqIndexBatch(s, drifted, 1L, "vec_id", "embedding",
        c = 4, m = 4, s"$work/frozen")
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyIvfPqEpochBatch(s, b, id, "vec_id", "embedding",
          c = 4, m = 4, s"$work/state", s"$work/out",
          retrainThresholdE9 = 500000000L)
      step(raw0, 0L)
      step(drifted, 1L) // measured l1 1.35–1.49e9 across SFs → epoch 1
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), driftVec(col("embedding")).as("qvec"))
      def recall(root: String, variant: String): DataFrame = {
        val ix = StreamingOps.ivfPqIndex(s, root, "pq_retrain_recall")
        Similarity.ivfPqRecallE6(drifted, "vec_id", "embedding", ix.codesDir,
            ix.cells, ix.codebooks, q, "qid", "qvec", k = 10, nprobe = 4)
          .withColumn("variant", lit(variant))
      }
      recall(s"$work/frozen", "frozen")
        .unionByName(recall(s"$work/state/e1", "retrained"))
        .orderBy("variant", "query_id")
    }),
    // ---- the epoch stream's documented OFFLINE step, exercised: a
    //      retrained epoch's corpus is only the data since its birth —
    //      pre-drift documents are invisible to it until the explicit
    //      backfill re-encodes their ORIGINAL vectors into the epoch's
    //      space (codes are stored, floats are not — history must come
    //      from the caller's corpus). Top-3 ADC rows for 3 raw queries
    //      against epoch 1 BEFORE the backfill (its pinned codes
    //      version — drifted docs only) and AFTER (pre-drift ids
    //      retrievable);
    //      the second backfill call proves replay idempotence (0 rows).
    //      nprobe = c so the oracle replays pure code arithmetic
    "pq_epoch_backfill" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      def driftVec(c: Column): Column =
        transform(c, x => x.cast("double") / lit(8.0d) + lit(0.9d))
      val raw0 = emb.filter(col("vec_id") < 300)
      val drifted = emb.filter(col("vec_id") >= 300 && col("vec_id") < 500)
        .select((col("vec_id") + 10000L).as("vec_id"),
          driftVec(col("embedding")).as("embedding"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-pqbackfill-gate").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyIvfPqEpochBatch(s, b, id, "vec_id", "embedding",
          c = 4, m = 4, s"$work/state", s"$work/out",
          retrainThresholdE9 = 500000000L)
      step(raw0, 0L)
      step(drifted, 1L) // trips → epoch 1 (drift-trained artifacts)
      val e1 = s"$work/state/e1"
      val ix = StreamingOps.ivfPqIndex(s, e1, "pq_epoch_backfill")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def top3(codesDir: String, variant: String): DataFrame =
        Similarity.ivfPqTopKE6(codesDir, "vec_id", ix.cells, ix.codebooks,
            q, "qid", "qvec", k = 3, nprobe = 4)
          .withColumn("variant", lit(variant))
      val before = top3(ix.codesDir, "unbackfilled")
      val n1 = StreamingOps.backfillIvfPqEpoch(s, raw0, "vec_id",
        "embedding", s"$work/state")
      val n2 = StreamingOps.backfillIvfPqEpoch(s, raw0, "vec_id",
        "embedding", s"$work/state")
      require(n1 > 0L && n2 == 0L,
        s"pq_epoch_backfill: expected (n, 0) backfill counts, got ($n1, $n2)")
      val after = top3(StreamingOps.ivfPqIndex(s, e1, "pq_epoch_backfill").codesDir,
        "backfilled")
      before.unionByName(after).orderBy("variant", "query_id", "rank")
    }),
    // ---- backfill ↔ LIVE epoch stream composition: drift opens epoch
    //      1 in-stream, history backfills into it (codes v0.1), a NEW
    //      stream batch then appends (codes v1), its replay no-ops
    //      against the stream's guard, and a repeated backfill no-ops
    //      against the id anti-join — the backfill versions and the
    //      stream's batch ids interleaving safely is the CONTRACT this
    //      gate pins; the final index holds history + drift batch +
    //      late batch exactly once each, and the oracle replays the
    //      whole ADC surface over that union
    "pq_epoch_stream_backfill" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      def driftVec(c: Column): Column =
        transform(c, x => x.cast("double") / lit(8.0d) + lit(0.9d))
      val raw0 = emb.filter(col("vec_id") < 300)
      val drifted = emb.filter(col("vec_id") >= 300 && col("vec_id") < 500)
        .select((col("vec_id") + 10000L).as("vec_id"),
          driftVec(col("embedding")).as("embedding"))
      // the post-backfill stream batch: the SAME drifted distribution
      // (so the epoch-1 drift monitor appends instead of re-retraining)
      // over a disjoint id slice
      val late = emb.filter(col("vec_id") >= 100 && col("vec_id") < 300)
        .select((col("vec_id") + 20000L).as("vec_id"),
          driftVec(col("embedding")).as("embedding"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-pqinterleave-gate").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyIvfPqEpochBatch(s, b, id, "vec_id", "embedding",
          c = 4, m = 4, s"$work/state", s"$work/out",
          retrainThresholdE9 = 500000000L)
      step(raw0, 0L)
      step(drifted, 1L) // trips → epoch 1
      val n1 = StreamingOps.backfillIvfPqEpoch(s, raw0, "vec_id",
        "embedding", s"$work/state")
      require(n1 > 0L, s"pq_epoch_stream_backfill: backfill added $n1 rows")
      step(late, 2L) // appends into e1 on top of the backfill
      val tl = s.read.parquet(s"$work/out/batch=2")
        .select(col("epoch"), col("retrained")).head()
      require(tl.getLong(0) == 1L && !tl.getBoolean(1),
        s"pq_epoch_stream_backfill: batch 2 must APPEND to epoch 1, got $tl")
      step(late, 2L) // replay: the stream's guard must no-op
      val e1 = s"$work/state/e1"
      val ix = StreamingOps.ivfPqIndex(s, e1, "pq_epoch_stream_backfill")
      val held = s.read.parquet(ix.codesDir)
        .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
      val fed = raw0.select("vec_id").unionByName(drifted.select("vec_id"))
        .unionByName(late.select("vec_id")).count()
      require(ix.codesVersion == "v1" && held.getLong(0) == fed && held.getLong(1) == fed,
        s"pq_epoch_stream_backfill: codes must be committed at epoch-local " +
          s"stream batch 1 and hold history, drift and late batches once each " +
          s"($fed ids), got ${ix.codesVersion} with ${held.getLong(0)} rows, " +
          s"${held.getLong(1)} distinct ids")
      // completed-backfill replay stays a no-op even after the stream
      // advanced past it
      val n2 = StreamingOps.backfillIvfPqEpoch(s, raw0, "vec_id",
        "embedding", s"$work/state")
      require(n2 == 0L,
        s"pq_epoch_stream_backfill: replayed backfill must no-op, got $n2")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopKE6(ix.codesDir, "vec_id", ix.cells, ix.codebooks, q,
          "qid", "qvec", k = 3, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // ---- composed ENTITY RESOLUTION: exact set-similarity pairs →
    //      depth-4 min-label propagation over the (zero-padded) pair
    //      graph → canonical = label holder. Bounded rounds keep the
    //      composition replayable (the organic near-dup pairs make the
    //      component structure a real graph, not just planted triples)
    "pipeline_entity_resolution" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id"), col("text"))
      val clones = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val trunc = d.filter(col("doc_id") < 20)
        .withColumn("_ts", TextFunctions.tokens(col("text")))
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(col("_ts"), lit(1),
            greatest(expr("(size(_ts) * 4) div 5"), lit(1)).cast("int")), " ")
            .as("text"))
      val pairs = Dedup.setSimilarityJoinPairs(d.union(clones).union(trunc),
          "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L)
        .select(lpad(col("id_a").cast("string"), 8, "0").as("a"),
          lpad(col("id_b").cast("string"), 8, "0").as("b"))
      graft.operators.Graph.labelPropagationMin(pairs, "a", "b", rounds = 4)
        .select(col("node"), col("label"), (col("node") === col("label")).as("is_canonical"))
        .orderBy("node")
    }),
    // ---- sorted-neighborhood blocking (Hernández–Stolfo): rank by a
    //      24-char normalized sort key through the two-level prefix,
    //      pair within a rank window of 4, verify by fingerprint — the
    //      ORDER-based complement to LSH blocking; planted clones sort
    //      adjacent to their sources and pair inside the window
    "sorted_neighborhood" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.sortedNeighborhoodPairs(d.union(planted), "doc_id", "text",
          keyLen = 24, window = 4)
        .orderBy("id_a", "id_b")
    }),
    // ---- ANN: exact top-k by dot product, k-bounded two-stage reduction
    //      (graft_topk aggregate — no all-rows window shuffle). Both
    //      engines left-fold the elementwise double products (Spark
    //      `aggregate`, DuckDB `list_sum`), so the doubles are bitwise-
    //      reproducible.
    "ann_topk_dot" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "query_id", "qv",
          k = 10, metric = VectorFunctions.dot, scoreName = "dot")
        .orderBy("query_id", "rank")
    }),
    // ---- streaming IVF index: batch 0 trains + commits the quantizer
    //      (replay no-ops), each batch appends assigned postings as a
    //      committed version; the query runs against committed state
    //      with nprobe = C so the result is EXACTLY brute force — the
    //      oracle is the ann_ivf_topk brute-force cosine top-k
    "ann_index_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ann-stream").toString
      val even = emb.filter(col("id") % 2 === 0)
      StreamingOps.applyAnnIndexBatch(s, even, 0L, "id", "vec", c = 4, s"$work/state")
      StreamingOps.applyAnnIndexBatch(s, even, 0L, "id", "vec", c = 4, s"$work/state")
      StreamingOps.applyAnnIndexBatch(s, emb.filter(col("id") % 2 === 1),
        1L, "id", "vec", c = 4, s"$work/state")
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      StreamingOps.queryAnnIndex(s, s"$work/state", q, "qid", "qvec",
          "id", "vec", k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ---- composed GRAPH-EMBEDDING PREP: node2vec walks → skip-gram
    //      positives (weight = co-occurrence count) ∪ deterministic
    //      FNV negatives (3 per sampled anchor, the negative_sampling
    //      machinery) — the labeled training table an embedding run
    //      consumes, end to end from the edge list
    "pipeline_graph_embedding" -> ((s, dir) => {
      val edges = anfLatticeEdges(s, dir).localCheckpoint()
      val walks = graft.operators.Graph.node2vecWalks(edges, "src", "dst",
        steps = 4, walksPerNode = 1, pPpm = 4000000L, qPpm = 250000L)
      val pos = graft.operators.Graph.skipGramPairs(walks, window = 2)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val anchors = nodes.filter(col("node").cast("long") % 7 === 0)
      val neg = Sampling.negativeSamples(anchors, "node", nodes, "node",
        k = 3, salt = "gemb")
      pos.select(col("center"), col("context").as("other"),
          lit(1L).as("label"), col("cnt").as("weight"))
        .unionByName(neg.select(col("anchor").as("center"),
          col("negative").as("other"), lit(0L).as("label"), lit(1L).as("weight")))
        .orderBy("center", "label", "other")
    }),
    // ---- the trainer that CONSUMES that labeled table — the embedding
    //      family's loop closed (walks → pairs → train → serve, the BPE
    //      / k-means trainer-beside-serving convention): 2 full-batch
    //      SGNS GD epochs in exact scaled integers (FNV init, word2vec
    //      table sigmoid as a shared literal, native graft_elemsum
    //      gradient merge), then per-anchor dot scores of the SAME
    //      labeled pairs off the trained table — positives separate
    //      from negatives, and every trained coordinate replays in the
    //      oracle bit-for-bit
    "embedding_train_sgns" -> ((s, dir) => {
      val edges = anfLatticeEdges(s, dir).localCheckpoint()
      val walks = graft.operators.Graph.node2vecWalks(edges, "src", "dst",
        steps = 4, walksPerNode = 1, pPpm = 4000000L, qPpm = 250000L)
      val pos = graft.operators.Graph.skipGramPairs(walks, window = 2)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val anchors = nodes.filter(col("node").cast("long") % 7 === 0)
      val neg = Sampling.negativeSamples(anchors, "node", nodes, "node",
        k = 3, salt = "gemb")
      val labeled = pos.select(col("center"), col("context").as("other"),
          lit(1L).as("label"), least(col("cnt"), lit(1000L)).as("weight"))
        .unionByName(neg.select(col("anchor").as("center"),
          col("negative").as("other"), lit(0L).as("label"),
          lit(1L).as("weight")))
        .localCheckpoint() // trained on AND scored below
      val emb = graft.operators.Graph.sgnsEpochs(labeled, dims = 8,
        epochs = 2, lrPpm = 250000L, seed = "sg")
      labeled.filter(col("center").cast("long") % 7 === 0)
        .join(emb.select(col("node").as("center"), col("emb").as("_u")),
          Seq("center"))
        .join(emb.select(col("node").as("other"), col("emb").as("_v")),
          Seq("other"))
        .withColumn("_dot", aggregate(zip_with(col("_u"), col("_v"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .groupBy(col("center"), col("label"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("_dot")).as("sum_dot_e12"))
        .orderBy("center", "label")
    }),
    // ---- the trained embeddings SERVED — the loop closed all the way
    //      (walks → pairs → train → index → query): the sgnsEpochs
    //      output (born e6 BIGINT, the IVF ops' native scale) feeds
    //      ivfTopKExactE6 — cells = the 4 smallest nodes' trained
    //      vectors, every vector home-assigned by the exact argmin,
    //      anchor queries (node % 7 = 0) probe their 2 nearest cells,
    //      exact squared-L2 top-5 — and DuckDB replays training AND
    //      retrieval end to end
    "pipeline_train_serve_embeddings" -> ((s, dir) => {
      val edges = anfLatticeEdges(s, dir).localCheckpoint()
      val walks = graft.operators.Graph.node2vecWalks(edges, "src", "dst",
        steps = 4, walksPerNode = 1, pPpm = 4000000L, qPpm = 250000L)
      val pos = graft.operators.Graph.skipGramPairs(walks, window = 2)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val anchors = nodes.filter(col("node").cast("long") % 7 === 0)
      val neg = Sampling.negativeSamples(anchors, "node", nodes, "node",
        k = 3, salt = "gemb")
      val labeled = pos.select(col("center"), col("context").as("other"),
          lit(1L).as("label"), least(col("cnt"), lit(1000L)).as("weight"))
        .unionByName(neg.select(col("anchor").as("center"),
          col("negative").as("other"), lit(0L).as("label"),
          lit(1L).as("weight")))
      val emb = graft.operators.Graph.sgnsEpochs(labeled, dims = 8,
          epochs = 2, lrPpm = 250000L, seed = "sg")
        .localCheckpoint() // corpus, cells, and queries all read it
      val cells = emb.orderBy(col("node").cast("long")).limit(4)
        .select(col("node").cast("long").as("centroid_id"),
          col("emb").as("centroid_e6"))
      val queries = emb.filter(col("node").cast("long") % 7 === 0)
      Similarity.ivfTopKExactE6(emb, "node", "emb", cells,
          queries, "node", "emb", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- the same serve surface over the PHYSICAL layout: trained
    //      vectors persisted partitionBy(centroid_id) (writeAssignedE6)
    //      and queried through the literal-IN partition filter — value-
    //      identical to the in-memory path (one oracle serves both, the
    //      connected_components_dict convention); what changes is the
    //      I/O: unprobed cell directories are never listed
    "pipeline_train_serve_partitioned" -> ((s, dir) => {
      val edges = anfLatticeEdges(s, dir).localCheckpoint()
      val walks = graft.operators.Graph.node2vecWalks(edges, "src", "dst",
        steps = 4, walksPerNode = 1, pPpm = 4000000L, qPpm = 250000L)
      val pos = graft.operators.Graph.skipGramPairs(walks, window = 2)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val anchors = nodes.filter(col("node").cast("long") % 7 === 0)
      val neg = Sampling.negativeSamples(anchors, "node", nodes, "node",
        k = 3, salt = "gemb")
      val labeled = pos.select(col("center"), col("context").as("other"),
          lit(1L).as("label"), least(col("cnt"), lit(1000L)).as("weight"))
        .unionByName(neg.select(col("anchor").as("center"),
          col("negative").as("other"), lit(0L).as("label"),
          lit(1L).as("weight")))
      val emb = graft.operators.Graph.sgnsEpochs(labeled, dims = 8,
          epochs = 2, lrPpm = 250000L, seed = "sg")
        .localCheckpoint()
      val cells = emb.orderBy(col("node").cast("long")).limit(4)
        .select(col("node").cast("long").as("centroid_id"),
          col("emb").as("centroid_e6"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-serve-part").toString
      Similarity.writeAssignedE6(emb, "node", "emb", cells, work)
      val queries = emb.filter(col("node").cast("long") % 7 === 0)
      Similarity.ivfTopKExactE6Partitioned(work, "node", "emb", cells,
          queries, "node", "emb", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- exact fixed-point k-means step (the IVF training pass, made
    //      hash-verifiable): e6 floor-quantized components, integer L2
    //      argmin with ties to the smallest centroid id, per-position
    //      BIGINT sums + cluster sizes — every compared value integral
    "kmeans_iter_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.kmeansIterationExact(emb, "vec_id", "embedding", seeds)
        .orderBy("centroid_id", "pos")
    }),
    // ---- k-center greedy diversity selection (Gonzalez farthest-point)
    //      in the same e6 integer space: seed = smallest id, then 4
    //      rounds of argmax running-min-distance with ties to the
    //      smallest id — a deterministic diversity sample whose oracle
    //      unrolls the rounds
    "kcenter_diversity" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.kCenterGreedyE6(emb, "vec_id", "embedding", k = 5)
        .orderBy("rank")
    }),
    // ---- mutual k-NN graph over embeddings (brute-force sample tier):
    //      directed 3-NN by exact e6 squared-L2, kept iff reciprocal —
    //      the density-robust neighborhood graph an embedding-cluster
    //      dedup builds on (mutuality strips hub spokes)
    "embedding_mutual_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      graft.operators.Similarity.mutualKnnEdgesE6(emb, "vec_id",
          "embedding", k = 3)
        .orderBy("id_a", "id_b")
    }),
    // ---- the PRODUCTION path of that graph: candidates blocked to
    //      coarse IVF cells (the exact e6 argmin assignment, cells =
    //      the 4 smallest-id vectors), within-cell scoring + the same
    //      reciprocity filter — Σ|cell|² pair space with a hot-cell
    //      tripwire, never n²; cross-cell neighbors invisible by the
    //      documented nprobe=1 trade
    "embedding_mutual_knn_blocked" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val cells = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      graft.operators.Similarity.mutualKnnEdgesBlockedE6(emb, "vec_id",
          "embedding", cells, k = 3)
        .orderBy("id_a", "id_b")
    }),
    // ---- the MULTI-PROBE variant: each point lists under its home
    //      cell but queries its 2 nearest cells (the ivfTopKPartitioned
    //      probe convention via one narrow codegen'd projection), so
    //      cross-cell near-neighbors the nprobe=1 block cannot see
    //      enter the candidate lists; same top-k + reciprocity filter,
    //      nprobe=1 reduces bit-identically to the blocked gate
    "embedding_mutual_knn_probed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val cells = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      graft.operators.Similarity.mutualKnnEdgesProbedE6(emb, "vec_id",
          "embedding", cells, k = 3, nprobe = 2)
        .orderBy("id_a", "id_b")
    }),
    // ---- the 100 TB form of the probed graph: the corpus persisted
    //      cell-partitioned (writeAssignedE6), the probe union pruning
    //      the home-side scan as PartitionFilters, reciprocity as a
    //      pair-count aggregate — value-identical to the in-memory
    //      probed gate above (same oracle)
    "embedding_mutual_knn_partitioned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("emb_e6"))
      val cells = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("emb_e6").as("centroid_e6"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-mknn-part").toString
      graft.operators.Similarity.writeAssignedE6(emb, "vec_id", "emb_e6",
        cells, work)
      graft.operators.Similarity.mutualKnnEdgesPartitionedE6(s, work,
          "vec_id", "emb_e6", cells, k = 3, nprobe = 2)
        .orderBy("id_a", "id_b")
    }),
    // ---- the composed embedding-cluster dedup pipeline: mutual 3-NN
    //      edges → bounded min-label propagation → cluster labels (the
    //      graph-first sibling of SemDeDup's within-cell pairs; nodes
    //      with no mutual edge are implicitly their own singleton
    //      cluster). Bounded rounds keep the schedule replayable; the
    //      convergence-checked CC variant is one call away for unknown
    //      diameters
    "pipeline_embedding_clusters" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val e = graft.operators.Similarity.mutualKnnEdgesE6(emb, "vec_id",
          "embedding", k = 3)
        .select(lpad(col("id_a").cast("string"), 12, "0").as("src"),
          lpad(col("id_b").cast("string"), 12, "0").as("dst"))
      graft.operators.Graph.labelPropagationMin(e, "src", "dst", rounds = 8)
        .orderBy("node")
    }),
    // ---- the PRODUCTION-path cluster composition: the multi-probe
    //      blocked graph (no all-pairs anywhere) feeding the same
    //      bounded min-label propagation — the pipeline a 100 TB
    //      embedding-dedup actually runs
    "pipeline_embedding_clusters_probed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val cells = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          transform(col("embedding"),
            v => floor(v.cast("double") * 1000000d).cast("long"))
            .as("centroid_e6"))
      val e = graft.operators.Similarity.mutualKnnEdgesProbedE6(emb,
          "vec_id", "embedding", cells, k = 3, nprobe = 2)
        .select(lpad(col("id_a").cast("string"), 12, "0").as("src"),
          lpad(col("id_b").cast("string"), 12, "0").as("dst"))
      graft.operators.Graph.labelPropagationMin(e, "src", "dst", rounds = 8)
        .orderBy("node")
    }),
    // ---- hubness diagnostic: k-NN in-degree distribution over the
    //      evaluation sample (vec_id < 128) — heavy right tail = hub
    //      points distorting ANN recall; exact e6 integer k-NN graph
    "knn_hubness" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 128)
        .select(col("vec_id"), col("embedding"))
      Similarity.knnInDegreeE6(emb, "vec_id", "embedding", k = 5)
        .orderBy("in_degree")
    }),
    // ---- TWO chained exact k-means steps: iteration-1 sums → integer
    //      centroids (sum div n, trunc-toward-zero on BOTH engines) →
    //      iteration-2 sums — the training loop closes without ever
    //      leaving exact arithmetic
    "kmeans_two_iter" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val s1 = Similarity.kmeansIterationExact(emb, "vec_id", "embedding", seeds)
      Similarity.kmeansIterationExactE6(emb, "vec_id", "embedding",
          Similarity.kmeansCentroidsFromSums(s1))
        .orderBy("centroid_id", "pos")
    }),
    // ---- ANN index-quality evaluation: recall@10 of a 1-probe IVF
    //      scan vs the exhaustive neighbor set, all in e6 integer
    //      space (trained centroids from one exact k-means step) — a
    //      genuinely approximate scan whose recall loss is itself
    //      deterministic and oracle-replayable
    "ann_recall_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val s1 = Similarity.kmeansIterationExact(emb, "vec_id", "embedding", seeds)
      val cents = Similarity.kmeansCentroidsFromSums(s1)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfRecallExactE6(emb, "vec_id", "embedding", cents,
          q, "qid", "qvec", k = 10)
        .orderBy("query_id")
    }),
    // ---- the same recall measurement STRATIFIED by the query's
    //      assigned coarse bucket (round-9 verdict #7's recall@k per
    //      group): WHICH index partition bleeds neighbors — the global
    //      average hides a boundary-straddling centroid
    "ann_recall_by_bucket" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val s1 = Similarity.kmeansIterationExact(emb, "vec_id", "embedding", seeds)
      val cents = Similarity.kmeansCentroidsFromSums(s1)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfRecallByBucketE6(emb, "vec_id", "embedding", cents,
          q, "qid", "qvec", k = 10)
        .orderBy("centroid_id")
    }),
    // ---- ANN: IVF with nprobe = #centroids scans every partition, so it
    //      must EXACTLY equal brute force — the oracle is the brute-force
    //      cosine top-k (left-fold double arithmetic on both engines)
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // seeded + one Lloyd refinement: exercises the trained-index path;
      // nprobe = C keeps the result exact whatever the centroids are
      val cents = Similarity.refineCentroids(emb, "id", "vec",
        Similarity.seedCentroids(emb, "id", "vec", 4), iterations = 1)
      val assigned = Similarity.assignToCentroids(emb, "id", "vec", cents)
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(assigned, "id", "vec", cents, q, "qid", "qvec", k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ---- ANN: IVF with PHYSICAL partition pruning — the corpus is
    //      persisted partitionBy(centroid_id) and the probe ids become a
    //      literal IN on the partition column, so unprobed directories
    //      are never read (PlanShapeSpec pins PartitionFilters + the
    //      file-count reduction). Queries are exact copies of corpus
    //      vectors: the twin's assigned centroid IS the query's rank-1
    //      probe (bitwise-identical cosine arithmetic on both paths), so
    //      the nprobe=2-of-8 pruned scan still finds the true top-1 and
    //      the full-scan oracle agrees exactly
    "ann_ivf_partitioned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Similarity.seedCentroids(emb, "id", "vec", 8)
      val assigned = Similarity.assignToCentroids(emb, "id", "vec", cents)
      val out = java.nio.file.Files.createTempDirectory("graft-ivfpart").toString
      Similarity.writeAssigned(assigned, out)
      val q = emb.filter(col("id") < 5)
        .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
      Similarity.ivfTopKPartitioned(out, "id", "vec", cents, q, "qid", "qvec",
          k = 1, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ---- ANN: LSH-bucketed top-k. Queries are exact copies of corpus
    //      vectors (shifted ids): an identical vector lands in the SAME
    //      SRP bucket by construction, and its cosine (≈1, computed with
    //      the shared left-fold arithmetic) is the true top-1 — so the
    //      pruned LSH scan and the oracle's full scan agree exactly
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
        .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
      Similarity.lshTopK(emb, "id", "vec", q, "qid", "qvec",
          k = 1, bits = 8, seed = 42)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // ---- dedup: embedding-cosine near-dup via SRP-LSH buckets. The
    //      synthetic embeddings have no natural near-dups (max pair cosine
    //      ~0.49), so exact duplicates are planted under shifted ids:
    //      identical vectors land in the same SRP bucket with cosine 1.0,
    //      making the planted pair set the exact, deterministic output —
    //      the oracle is (id, id+1000000) for the planted ids.
    "dedup_embedding_pairs" -> ((s, dir) => {
      // corpus bounded to the base id domain: the planted-list oracle's
      // premise is "no natural near-dups", and a key-shifted sweep table
      // (sf1: ten identical copies at +k·10⁶) would violate it — the
      // bound keeps the premise true at every scale (no-op at driver SFs)
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id") < 1000000L)
        .select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Dedup.embeddingDupPairs(emb.union(planted), "embedding", "vec_id",
          threshold = 0.999, bits = 8)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // ---- embedding standardization: per-dimension z-scores against
    //      the vector profile (narrow literal-array transform, no join);
    //      flattened to scalars for the hash compare
    "embedding_standardize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val prof = Profile.vector(emb, "embedding")
      Profile.standardizeVectors(
          emb.select(col("vec_id"), col("embedding")), "embedding", prof)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "z")))
        .orderBy("vec_id", "dim")
    }),
    // ---- MMR diversified re-rank: greedy λ·relevance − (1−λ)·max-sim
    //      selection over the dense top-10 (candidates re-joined to
    //      their vectors; λ = 0.5 — dyadic, so 1−λ is exact in any
    //      engine's literal arithmetic)
    "mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "query_id", "qv", k = 10,
        metric = VectorFunctions.dot, scoreName = "dot")
      val cands = dense.join(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("vec")),
        Seq("neighbor_id"))
      Similarity.mmrRerank(
          cands.select(col("query_id"), col("neighbor_id"), col("dot"), col("vec")),
          m = 5, lambda = 0.5, scoreCol = "dot")
        .orderBy("query_id", "rank")
    }),
    // ---- dedup: SemDeDup — k-means clusters, within-cluster cosine
    //      pairs. Planted exact copies share their argmax centroid, so
    //      the within-cluster scan finds every planted pair; the corpus
    //      max natural pairwise cosine is ~0.51 (measured), so at
    //      threshold 0.999 the planted set IS the full answer and the
    //      cluster-straddle recall trade can't bite
    "semantic_dedup_pairs" -> ((s, dir) => {
      // same corpus bound as dedup_embedding_pairs: the planted-list
      // oracle's "no natural near-dups" premise must hold at sweep
      // scales too (sf1 plants ten identical copies at +k·10⁶)
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id") < 1000000L)
        .select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Dedup.semanticDupPairs(emb.union(planted), "embedding", "vec_id",
          threshold = 0.999, numClusters = 8, iterations = 1)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // ---- per-group exact embedding centroids (e6 integer space):
    //      the SemDeDup cluster-mean / drift-reference primitive
    "group_centroids_e6" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select((col("vec_id") % 5).as("grp"), col("embedding"))
      Profile.groupCentroidsE6(emb, "grp", "embedding")
        .orderBy("grp", "pos")
    }),
  )

  def oracles: Map[String, String] = Map(
    // the same composed chain with codebook training RESTRICTED to the
    // batch-0 prefix (vec_id < 300) — frozen-artifact semantics replayed;
    // coarse cells and the encode/probe stages still cover everything
    "ann_ivfpq_stream" ->
      s"""WITH ${ivfPqChainSql(2, "s.vec_id < 300")}
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rank
         |FROM sc
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // the residual (IVFADC) chain with codebook training restricted to
    // the batch-0 prefix — frozen residual-space artifacts replayed;
    // residual seeds (vec_ids 4..7) live inside the prefix
    "ann_ivfpq_stream_residual" ->
      s"""WITH ${ivfPqChainSql(2, "s.vec_id < 300")}, ${ivfPqResidualChainSql("vec_id < 300")}
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rank
         |FROM rsc
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // same quantization arithmetic as embedding_quantize, then the QDot
    // expansion MIRRORED term-for-term (sa·sb·Σqaqb + sa·ob·Σqa +
    // sb·oa·Σqb + n·oa·ob, integer sums cast to DOUBLE) — fixed order,
    // bitwise-reproducible
    "ann_topk_quantized" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), m AS (
        | SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
        |), q AS (
        | SELECT vec_id,
        |  CASE WHEN mx > mn
        |       THEN list_transform(v, x -> CAST(round((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qs,
        |  mn AS o,
        |  CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS s,
        |  len(v) AS n
        | FROM m
        |), sc AS (
        | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  a.s * b.s * CAST(list_sum(list_transform(list_zip(a.qs, b.qs), p -> p[1] * p[2])) AS DOUBLE)
        |  + a.s * b.o * CAST(list_sum(a.qs) AS DOUBLE)
        |  + b.s * a.o * CAST(list_sum(b.qs) AS DOUBLE)
        |  + a.n * a.o * b.o AS qdot
        | FROM q a JOIN q b ON b.vec_id <> a.vec_id
        | WHERE a.vec_id < 5
        |)
        |SELECT query_id, neighbor_id, CAST(qdot AS DOUBLE) AS qdot,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INTEGER) AS rank
        |FROM sc
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the shared PQ chain (train per-subspace, trunc-div codebooks,
    // encode argmin) — final surface is the flattened codes
    "pq_encode" ->
      s"""WITH $pqChainSql
         |SELECT vec_id, CAST(j AS INT) AS sub_id, CAST(cid AS BIGINT) AS code
         |FROM pcodes ORDER BY vec_id, sub_id""".stripMargin,
    // same chain, then per-query LUT distances against the codebooks
    // and the Σ_j lut_j(code_j) ADC score — (adist, nid) tie-break on
    // both engines, self excluded
    "ann_topk_pq" ->
      s"""WITH $pqChainSql, qs AS (
         | SELECT vec_id AS qid, j, sv FROM sub WHERE vec_id < 3
         |), lut AS (
         | SELECT qs.qid, qs.j, pcb.cid,
         |  list_sum(list_transform(range(1, 17),
         |    i -> (qs.sv[i] - pcb.cv[i]) * (qs.sv[i] - pcb.cv[i]))) AS dd
         | FROM qs JOIN pcb ON pcb.j = qs.j
         |), sc AS (
         | SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dd) AS BIGINT) AS adist
         | FROM pcodes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
         | WHERE c.vec_id <> l.qid
         | GROUP BY 1, 2
         |)
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rank
         |FROM sc
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // the composed chain: coarse cells, probe depth 2, probed-cells-only
    // ADC with (adist, nid) tie-break — both approximation layers replayed
    "ann_ivfpq_topk" ->
      s"""WITH ${ivfPqChainSql(2)}
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rank
         |FROM sc
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // recall@10 at nprobe=1 against the exact full-dim e6 top-10 — the
    // measured loss itself is deterministic and hash-compared
    "ann_ivfpq_recall" ->
      s"""WITH ${ivfPqChainSql(1)}, ap AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         |  FROM sc) WHERE rn <= 10
         |), pdx AS (
         | SELECT q.vec_id AS qid, e2.vec_id AS nid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (q.a[i] - e2.a[i]) * (q.a[i] - e2.a[i]))) AS dist
         | FROM e q CROSS JOIN e e2
         | WHERE q.vec_id < 3 AND e2.vec_id <> q.vec_id
         |), exk AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         |  FROM pdx) WHERE rn <= 10
         |), h AS (
         | SELECT ap.qid, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ap JOIN exk ON ap.qid = exk.qid AND ap.nid = exk.nid
         | GROUP BY 1
         |)
         |SELECT q.vec_id AS query_id, COALESCE(h.n_hits, 0) AS n_hits,
         | CAST(10 AS BIGINT) AS k,
         | CAST(COALESCE(h.n_hits, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
         |FROM (SELECT vec_id FROM e WHERE vec_id < 3) q
         |LEFT JOIN h ON h.qid = q.vec_id
         |ORDER BY query_id""".stripMargin,
    // raw vs residual (IVFADC) codes at identical (m, nprobe): both
    // recall chains replayed end to end — training, encoding, per-cell
    // query LUTs — entirely in integer arithmetic
    "ann_ivfpq_residual_recall" ->
      s"""WITH ${ivfPqChainSql(4)}, ${ivfPqResidualChainSql()}, pdx AS (
         | SELECT q.vec_id AS qid, e2.vec_id AS nid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (q.a[i] - e2.a[i]) * (q.a[i] - e2.a[i]))) AS dist
         | FROM e q CROSS JOIN e e2
         | WHERE q.vec_id < 3 AND e2.vec_id <> q.vec_id
         |), exk AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         |  FROM pdx) WHERE rn <= 10
         |), ap_raw AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         |  FROM sc) WHERE rn <= 10
         |), ap_res AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         |  FROM rsc) WHERE rn <= 10
         |), h_raw AS (
         | SELECT ap_raw.qid, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ap_raw JOIN exk ON ap_raw.qid = exk.qid AND ap_raw.nid = exk.nid
         | GROUP BY 1
         |), h_res AS (
         | SELECT ap_res.qid, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ap_res JOIN exk ON ap_res.qid = exk.qid AND ap_res.nid = exk.nid
         | GROUP BY 1
         |), recs AS (
         | SELECT q.vec_id AS query_id, COALESCE(h_raw.n_hits, 0) AS n_hits,
         |  'raw' AS variant
         | FROM (SELECT vec_id FROM e WHERE vec_id < 3) q
         | LEFT JOIN h_raw ON h_raw.qid = q.vec_id
         | UNION ALL
         | SELECT q.vec_id AS query_id, COALESCE(h_res.n_hits, 0) AS n_hits,
         |  'residual' AS variant
         | FROM (SELECT vec_id FROM e WHERE vec_id < 3) q
         | LEFT JOIN h_res ON h_res.qid = q.vec_id
         |)
         |SELECT query_id, n_hits, CAST(10 AS BIGINT) AS k,
         | CAST(n_hits * 1000000 // 10 AS BIGINT) AS recall_ppm, variant
         |FROM recs
         |ORDER BY variant, query_id""".stripMargin,
    // identical elementwise affine-code arithmetic; both engines round
    // half away from zero on the (always nonnegative) scaled values
    "embedding_quantize" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), m AS (
        | SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
        |), q AS (
        | SELECT vec_id,
        |  CASE WHEN mx > mn
        |       THEN list_transform(v, x -> CAST(round((x - mn) * 255.0 / (mx - mn)) AS INTEGER))
        |       ELSE list_transform(v, x -> 0) END AS qs,
        |  mn AS "offset",
        |  CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS scale
        | FROM m
        |), x AS (
        | SELECT vec_id, qs, "offset", scale,
        |        unnest(generate_series(1, len(qs))) AS p
        | FROM q
        |)
        |SELECT vec_id, CAST(p - 1 AS INTEGER) AS pos, CAST(qs[p] AS INTEGER) AS q,
        |       "offset", scale
        |FROM x ORDER BY vec_id, pos""".stripMargin,
    // the same quadratic pair chain feeding 4 unrolled min-label rounds
    // over the (zero-padded) pair graph — the generic LPA replay, not
    // the chain-graph closed form
    "pipeline_entity_resolution" -> {
      val rounds = (1 to 4).map { k =>
        s"""c$k AS (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM sym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $setsimChainSql, pe AS (
         | SELECT lpad(CAST(ida AS VARCHAR), 8, '0') AS a,
         |        lpad(CAST(idb AS VARCHAR), 8, '0') AS b
         | FROM pr
         |), sym AS (
         | SELECT a AS _s, b AS _d FROM pe UNION SELECT b, a FROM pe
         |), nodes AS (
         | SELECT DISTINCT _s AS v FROM sym
         |), l0 AS (
         | SELECT v, v AS l FROM nodes
         |), $rounds
         |SELECT v AS node, l AS label, (v = l) AS is_canonical
         |FROM l4 ORDER BY node""".stripMargin
    },
    // the streaming twin replays through the SAME batch chain over the
    // full union (incremental star-compressed propagation and the flat
    // 4-round chain both fully converge on these star-shaped
    // components — measured max eccentricity-of-min 1), with nodes =
    // EVERY doc (singletons label themselves)
    "er_stream" -> {
      val rounds = (1 to 4).map { k =>
        s"""c$k AS (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM sym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $setsimChainSql, pe AS (
         | SELECT lpad(CAST(ida AS VARCHAR), 8, '0') AS a,
         |        lpad(CAST(idb AS VARCHAR), 8, '0') AS b
         | FROM pr
         |), sym AS (
         | SELECT a AS _s, b AS _d FROM pe UNION SELECT b, a FROM pe
         |), nodes AS (
         | SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS v FROM uni
         |), l0 AS (
         | SELECT v, v AS l FROM nodes
         |), $rounds
         |SELECT v AS node, l AS label, (v = l) AS is_canonical
         |FROM l4 ORDER BY node""".stripMargin
    },
    // cell-occupancy histograms from the exact e6 nearest-cell argmin,
    // then the l1Drift integer arithmetic (cross-normalized gap sum,
    // half-up e9 scaling) per scoring batch
    "pq_drift_stream" -> {
      def driftRow(batch: Int, cur: String): String =
        s"""SELECT $batch AS batch, CAST(t.na AS BIGINT) AS n_ref,
           | CAST(t.nb AS BIGINT) AS n_cur,
           | CAST((2 * (g.s * 1000000000) + CAST(t.na AS HUGEINT) * t.nb)
           |   // (2 * (CAST(t.na AS HUGEINT) * t.nb)) AS BIGINT) AS l1_e9
           |FROM (SELECT sum(ca) AS na, sum(cb) AS nb FROM d$cur) t,
           | (SELECT sum(abs(CAST(ca AS HUGEINT) * t2.nb
           |     - CAST(cb AS HUGEINT) * t2.na)) AS s
           |  FROM d$cur, (SELECT sum(ca) AS na, sum(cb) AS nb FROM d$cur) t2) g""".stripMargin
      s"""WITH e AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
         | FROM embeddings
         |), cc AS (
         | SELECT vec_id AS ccid, a AS ccv FROM e WHERE vec_id < 4
         |), cd AS (
         | SELECT e.vec_id, cc.ccid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (e.a[i] - cc.ccv[i]) * (e.a[i] - cc.ccv[i]))) AS dist
         | FROM e, cc
         |), casg AS (
         | SELECT vec_id, ccid FROM (
         |  SELECT vec_id, ccid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccid) AS rn
         |  FROM cd) WHERE rn = 1
         |), href AS (
         | SELECT ccid, CAST(count(*) AS BIGINT) AS cnt FROM casg
         | WHERE vec_id < 300 GROUP BY 1
         |), h1 AS (
         | SELECT ccid, CAST(count(*) AS BIGINT) AS cnt FROM casg
         | WHERE vec_id >= 300 GROUP BY 1
         |), h2 AS (
         | SELECT casg.ccid, CAST(50 AS BIGINT) AS cnt FROM casg WHERE vec_id = 0
         |), d1 AS (
         | SELECT coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
         | FROM href a FULL JOIN h1 b ON b.ccid = a.ccid
         |), d2 AS (
         | SELECT coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
         | FROM href a FULL JOIN h2 b ON b.ccid = a.ccid
         |), rows_ AS (
         | ${driftRow(1, "1")}
         | UNION ALL
         | ${driftRow(2, "2")}
         |)
         |SELECT batch, n_ref, n_cur, l1_e9, (l1_e9 >= 750000000) AS retrain
         |FROM rows_ ORDER BY batch""".stripMargin
    },
    // the epoch timeline replayed: occupancies against the epoch-0
    // cells (vec_id < 4), the l1Drift integer arithmetic per batch, and
    // `retrained` computed from the threshold exactly as the stream
    // does. The epoch column is literal per row because the computed
    // flags force the sequence (batch 2 is the only l1 ≥ 5e8 row, so it
    // alone opens epoch 1); batch 0's birth row is literal zeros by the
    // openEpoch contract. Batch 3 compares the planted 50-copy feed
    // against epoch 1's reference — the SAME 50-copy occupancy (every
    // copy of vector 0 assigns to one cell of the retrained index), a
    // single-bucket 50/50 histogram
    "pq_retrain_epoch" -> {
      def driftRow(batch: Int, epoch: Int, cur: String): String =
        s"""SELECT $batch AS batch, CAST($epoch AS BIGINT) AS epoch,
           | CAST(t.na AS BIGINT) AS n_ref, CAST(t.nb AS BIGINT) AS n_cur,
           | CAST((2 * (g.s * 1000000000) + CAST(t.na AS HUGEINT) * t.nb)
           |   // (2 * (CAST(t.na AS HUGEINT) * t.nb)) AS BIGINT) AS l1_e9
           |FROM (SELECT sum(ca) AS na, sum(cb) AS nb FROM d$cur) t,
           | (SELECT sum(abs(CAST(ca AS HUGEINT) * t2.nb
           |     - CAST(cb AS HUGEINT) * t2.na)) AS s
           |  FROM d$cur, (SELECT sum(ca) AS na, sum(cb) AS nb FROM d$cur) t2) g""".stripMargin
      s"""WITH e AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
         | FROM embeddings
         |), cc AS (
         | SELECT vec_id AS ccid, a AS ccv FROM e WHERE vec_id < 4
         |), cd AS (
         | SELECT e.vec_id, cc.ccid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (e.a[i] - cc.ccv[i]) * (e.a[i] - cc.ccv[i]))) AS dist
         | FROM e, cc
         |), casg AS (
         | SELECT vec_id, ccid FROM (
         |  SELECT vec_id, ccid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccid) AS rn
         |  FROM cd) WHERE rn = 1
         |), href AS (
         | SELECT ccid, CAST(count(*) AS BIGINT) AS cnt FROM casg
         | WHERE vec_id < 300 GROUP BY 1
         |), h2 AS (
         | SELECT casg.ccid, CAST(50 AS BIGINT) AS cnt FROM casg WHERE vec_id = 0
         |), d1 AS (
         | SELECT cnt AS ca, cnt AS cb FROM href
         |), d2 AS (
         | SELECT coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
         | FROM href a FULL JOIN h2 b ON b.ccid = a.ccid
         |), d3 AS (
         | SELECT CAST(50 AS BIGINT) AS ca, CAST(50 AS BIGINT) AS cb
         |), rows_ AS (
         | SELECT 0 AS batch, CAST(0 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS n_ref,
         |  CAST(0 AS BIGINT) AS n_cur, CAST(0 AS BIGINT) AS l1_e9
         | UNION ALL
         | ${driftRow(1, 0, "1")}
         | UNION ALL
         | ${driftRow(2, 1, "2")}
         | UNION ALL
         | ${driftRow(3, 1, "3")}
         |)
         |SELECT CAST(batch AS BIGINT) AS batch, epoch, n_ref, n_cur, l1_e9,
         | (batch > 0 AND l1_e9 >= 500000000) AS retrained
         |FROM rows_ ORDER BY batch""".stripMargin
    },
    // both recall chains replayed end to end: the FROZEN chain trains
    // codebooks on the batch-0 prefix of the union corpus and encodes
    // everything (the ann_ivfpq_stream restriction), the RETRAINED
    // chain trains and encodes on the drifted corpus alone (seeds = its
    // 4 smallest ids — the applyIvfPqIndexBatch batch-0 contract at the
    // epoch birth). nprobe = c probes every cell, so the coarse layer
    // drops out of the replay and ADC is a pure function of
    // (codes, codebooks, queries)
    "pq_retrain_recall" ->
      s"""WITH eall AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
         | FROM embeddings
         |), re AS (
         | SELECT vec_id, a FROM eall WHERE vec_id < 300
         |), de AS (
         | SELECT vec_id + 10000 AS vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / 8 + 0.9) * 1000000) AS BIGINT)) AS a
         | FROM embeddings WHERE vec_id >= 300 AND vec_id < 500
         |), ue AS (
         | SELECT * FROM re UNION ALL SELECT * FROM de
         |), qe AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / 8 + 0.9) * 1000000) AS BIGINT)) AS a
         | FROM embeddings WHERE vec_id < 3
         |), js AS (
         | SELECT unnest(generate_series(0, 3)) AS j
         |), ${pqChainSqlOver("f", "ue", "vec_id < 4", "s.vec_id < 300")},
         |${pqChainSqlOver("r", "de", "vec_id < 10304", "TRUE")},
         |qsub AS (
         | SELECT q.vec_id AS qid, js.j,
         |  list_slice(q.a, js.j*16 + 1, js.j*16 + 16) AS sv
         | FROM qe q, js
         |), flut AS (
         | SELECT s.qid, s.j, b.cid,
         |  list_sum(list_transform(range(1, 17),
         |    i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS dd
         | FROM qsub s JOIN fpcb b ON b.j = s.j
         |), fsc AS (
         | SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dd) AS BIGINT) AS adist
         | FROM fcodes c JOIN flut l ON l.j = c.j AND l.cid = c.cid
         | WHERE c.vec_id <> l.qid
         | GROUP BY 1, 2
         |), rlut AS (
         | SELECT s.qid, s.j, b.cid,
         |  list_sum(list_transform(range(1, 17),
         |    i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS dd
         | FROM qsub s JOIN rpcb b ON b.j = s.j
         |), rsc AS (
         | SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dd) AS BIGINT) AS adist
         | FROM rcodes c JOIN rlut l ON l.j = c.j AND l.cid = c.cid
         | WHERE c.vec_id <> l.qid
         | GROUP BY 1, 2
         |), pdx AS (
         | SELECT q.vec_id AS qid, d.vec_id AS nid,
         |  list_sum(list_transform(range(1, 65),
         |    i -> (q.a[i] - d.a[i]) * (q.a[i] - d.a[i]))) AS dist
         | FROM qe q CROSS JOIN de d WHERE d.vec_id <> q.vec_id
         |), exk AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         |  FROM pdx) WHERE rn <= 10
         |), ap_f AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         |  FROM fsc) WHERE rn <= 10
         |), ap_r AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         |  FROM rsc) WHERE rn <= 10
         |), h_f AS (
         | SELECT ap_f.qid, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ap_f JOIN exk ON ap_f.qid = exk.qid AND ap_f.nid = exk.nid
         | GROUP BY 1
         |), h_r AS (
         | SELECT ap_r.qid, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ap_r JOIN exk ON ap_r.qid = exk.qid AND ap_r.nid = exk.nid
         | GROUP BY 1
         |), recs AS (
         | SELECT q.vec_id AS query_id, COALESCE(h_f.n_hits, 0) AS n_hits,
         |  'frozen' AS variant
         | FROM (SELECT vec_id FROM eall WHERE vec_id < 3) q
         | LEFT JOIN h_f ON h_f.qid = q.vec_id
         | UNION ALL
         | SELECT q.vec_id AS query_id, COALESCE(h_r.n_hits, 0) AS n_hits,
         |  'retrained' AS variant
         | FROM (SELECT vec_id FROM eall WHERE vec_id < 3) q
         | LEFT JOIN h_r ON h_r.qid = q.vec_id
         |)
         |SELECT query_id, n_hits, CAST(10 AS BIGINT) AS k,
         | CAST(n_hits * 1000000 // 10 AS BIGINT) AS recall_ppm, variant
         |FROM recs
         |ORDER BY variant, query_id""".stripMargin,
    // epoch-1 codebooks trained on the drifted batch; "backfilled"
    // scores codes over raw0 ∪ drifted, "unbackfilled" restricts to
    // drifted ids (= the pinned pre-backfill codes version). nprobe = c
    // makes coarse cells score-irrelevant — pure ADC arithmetic replays
    "pq_epoch_backfill" ->
      s"""WITH eall AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
         | FROM embeddings
         |), re AS (
         | SELECT vec_id, a FROM eall WHERE vec_id < 300
         |), de AS (
         | SELECT vec_id + 10000 AS vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / 8 + 0.9) * 1000000) AS BIGINT)) AS a
         | FROM embeddings WHERE vec_id >= 300 AND vec_id < 500
         |), ue AS (
         | SELECT * FROM re UNION ALL SELECT * FROM de
         |), qe AS (
         | SELECT vec_id, a FROM eall WHERE vec_id < 3
         |), js AS (
         | SELECT unnest(generate_series(0, 3)) AS j
         |), ${pqChainSqlOver("b", "ue",
             "vec_id >= 10300 AND vec_id < 10304", "s.vec_id >= 10300")},
         |qsub AS (
         | SELECT q.vec_id AS qid, js.j,
         |  list_slice(q.a, js.j*16 + 1, js.j*16 + 16) AS sv
         | FROM qe q, js
         |), blut AS (
         | SELECT s.qid, s.j, b.cid,
         |  list_sum(list_transform(range(1, 17),
         |    i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS dd
         | FROM qsub s JOIN bpcb b ON b.j = s.j
         |), sc AS (
         | SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dd) AS BIGINT) AS adist
         | FROM bcodes c JOIN blut l ON l.j = c.j AND l.cid = c.cid
         | WHERE c.vec_id <> l.qid
         | GROUP BY 1, 2
         |), rall AS (
         | SELECT qid, nid, adist,
         |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         | FROM sc
         |), run AS (
         | SELECT qid, nid, adist,
         |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         | FROM sc WHERE nid >= 10300
         |)
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(rn AS INT) AS rank, 'backfilled' AS variant
         |FROM rall WHERE rn <= 3
         |UNION ALL
         |SELECT qid, nid, adist, CAST(rn AS INT), 'unbackfilled'
         |FROM run WHERE rn <= 3
         |ORDER BY variant, query_id, rank""".stripMargin,
    // the interleaved tree: epoch-1 artifacts (trained on the drifted
    // batch), codes = history ∪ drifted ∪ late batch — encode + ADC
    // replayed over the union exactly as the backfill oracle
    "pq_epoch_stream_backfill" ->
      s"""WITH eall AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
         | FROM embeddings
         |), re AS (
         | SELECT vec_id, a FROM eall WHERE vec_id < 300
         |), de AS (
         | SELECT vec_id + 10000 AS vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / 8 + 0.9) * 1000000) AS BIGINT)) AS a
         | FROM embeddings WHERE vec_id >= 300 AND vec_id < 500
         |), le AS (
         | SELECT vec_id + 20000 AS vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) / 8 + 0.9) * 1000000) AS BIGINT)) AS a
         | FROM embeddings WHERE vec_id >= 100 AND vec_id < 300
         |), ue AS (
         | SELECT * FROM re UNION ALL SELECT * FROM de
         | UNION ALL SELECT * FROM le
         |), qe AS (
         | SELECT vec_id, a FROM eall WHERE vec_id < 3
         |), js AS (
         | SELECT unnest(generate_series(0, 3)) AS j
         |), ${pqChainSqlOver("b", "ue",
             "vec_id >= 10300 AND vec_id < 10304",
             "s.vec_id >= 10300 AND s.vec_id < 10500")},
         |qsub AS (
         | SELECT q.vec_id AS qid, js.j,
         |  list_slice(q.a, js.j*16 + 1, js.j*16 + 16) AS sv
         | FROM qe q, js
         |), blut AS (
         | SELECT s.qid, s.j, b.cid,
         |  list_sum(list_transform(range(1, 17),
         |    i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS dd
         | FROM qsub s JOIN bpcb b ON b.j = s.j
         |), sc AS (
         | SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dd) AS BIGINT) AS adist
         | FROM bcodes c JOIN blut l ON l.j = c.j AND l.cid = c.cid
         | WHERE c.vec_id <> l.qid
         | GROUP BY 1, 2
         |)
         |SELECT qid AS query_id, nid AS neighbor_id, adist,
         | CAST(rn AS INT) AS rank
         |FROM (
         | SELECT qid, nid, adist,
         |  row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
         | FROM sc)
         |WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin,
    // serving = min committed label among the query's >= 0.5-jaccard
    // matches in the base corpus; committed labels are the 4-round LPA
    // over base-only pairs (the er_stream chain restricted to batch 0)
    "er_serve" -> {
      val rounds = (1 to 4).map { k =>
        s"""c$k AS (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM bsym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH d0 AS (
         | SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents WHERE doc_id < 1000
         |), rawtk AS (
         | SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS rts
         | FROM d0
         |), alltxt AS (
         | SELECT doc_id, text, FALSE AS isq FROM d0
         | UNION ALL SELECT doc_id + 1000000, text, TRUE FROM d0 WHERE doc_id < 20
         | UNION ALL
         |  SELECT doc_id + 2000000,
         |   array_to_string(rts[1:greatest((len(rts) * 4) // 5, 1)], ' '), TRUE
         |  FROM rawtk WHERE doc_id < 20
         |), toks AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS ts
         | FROM alltxt
         |), sh AS (
         | SELECT doc_id, unnest(
         |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |       ELSE list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' ')))
         |  END) AS g
         | FROM toks
         |), ds AS (
         | SELECT DISTINCT doc_id, g FROM sh
         |), sz AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY 1
         |), ix AS (
         | SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS i
         | FROM ds a JOIN ds b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
         |), pr AS (
         | SELECT ix.ida, ix.idb
         | FROM ix JOIN sz sa ON sa.doc_id = ix.ida JOIN sz sb ON sb.doc_id = ix.idb
         | WHERE ix.i * 1000000 >= 500000 * (sa.n + sb.n - ix.i)
         |), bpe AS (
         | SELECT lpad(CAST(ida AS VARCHAR), 8, '0') AS a,
         |        lpad(CAST(idb AS VARCHAR), 8, '0') AS b
         | FROM pr WHERE ida < 1000000 AND idb < 1000000
         |), bsym AS (
         | SELECT a AS _s, b AS _d FROM bpe UNION SELECT b, a FROM bpe
         |), l0 AS (
         | SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS v,
         |        lpad(CAST(doc_id AS VARCHAR), 8, '0') AS l
         | FROM d0
         |), $rounds, qm AS (
         | SELECT lpad(CAST(idb AS VARCHAR), 8, '0') AS qnode,
         |        lpad(CAST(ida AS VARCHAR), 8, '0') AS bnode
         | FROM pr WHERE ida < 1000000 AND idb >= 1000000
         |), res AS (
         | SELECT qm.qnode, min(l4.l) AS ml
         | FROM qm JOIN l4 ON l4.v = qm.bnode GROUP BY 1
         |), qn AS (
         | SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS node
         | FROM alltxt WHERE isq
         |)
         |SELECT qn.node, coalesce(res.ml, qn.node) AS label,
         | (res.ml IS NOT NULL) AS matched
         |FROM qn LEFT JOIN res ON res.qnode = qn.node
         |ORDER BY node""".stripMargin
    },
    // exact components over the FULL cross-batch pair graph: star edges
    // preserve batch-0's (exact) merges, so the final labels equal the
    // per-component minimum over all pairs — min-propagated to a round
    // bound ≥ any possible diameter (30 nodes)
    "er_stream_exact" -> {
      // MATERIALIZED: 30 chained rounds would otherwise inline into an
      // exponentially-expanded scan tree (the unigram-oracle precedent)
      val rounds = (1 to 30).map { k =>
        s"""c$k AS MATERIALIZED (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM sym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS MATERIALIZED (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH d0 AS (
         | SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents WHERE doc_id < 5
         |), rawtk AS (
         | SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS rts
         | FROM d0
         |), kk AS (
         | SELECT unnest(generate_series(0, 5)) AS k
         |), uni AS (
         | SELECT lpad(CAST(r.doc_id * 10 + kk.k AS VARCHAR), 8, '0') AS doc_id,
         |  array_to_string(r.rts[kk.k*2 + 1 : kk.k*2 + 8], ' ') AS text
         | FROM rawtk r, kk
         |), toks AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS ts
         | FROM uni
         |), sh AS (
         | SELECT doc_id, unnest(
         |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |       ELSE list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' ')))
         |  END) AS g
         | FROM toks
         |), ds AS (
         | SELECT DISTINCT doc_id, g FROM sh
         |), sz AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY 1
         |), ix AS (
         | SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS i
         | FROM ds a JOIN ds b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
         |), pr AS (
         | SELECT ix.ida, ix.idb
         | FROM ix JOIN sz sa ON sa.doc_id = ix.ida JOIN sz sb ON sb.doc_id = ix.idb
         | WHERE ix.i * 1000000 >= 500000 * (sa.n + sb.n - ix.i)
         |), sym AS MATERIALIZED (
         | SELECT ida AS _s, idb AS _d FROM pr UNION SELECT idb, ida FROM pr
         |), nodes AS (
         | SELECT doc_id AS v FROM uni
         |), l0 AS MATERIALIZED (
         | SELECT v, v AS l FROM nodes
         |), $rounds
         |SELECT v AS node, l AS label, (v = l) AS is_canonical
         |FROM l30 ORDER BY node""".stripMargin
    },
    // the same rank-window semantics replayed with a plain window rank
    // (oracle scale permits the global sort the operator avoids); the
    // fingerprint verify becomes exact normalized-text equality
    "sorted_neighborhood" ->
      """WITH norm AS (
        | SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM documents
        |), all_docs AS (
        | SELECT CAST(doc_id AS BIGINT) AS doc_id, nt FROM norm
        | UNION ALL SELECT CAST(doc_id + 1000000 AS BIGINT), nt FROM norm WHERE doc_id < 20
        |), r AS (
        | SELECT doc_id, nt,
        |  row_number() OVER (ORDER BY substr(nt, 1, 24), doc_id) AS rk
        | FROM all_docs
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM r a JOIN r b
        |  ON b.rk > a.rk AND b.rk <= a.rk + 3 AND a.nt = b.nt
        |ORDER BY 1, 2""".stripMargin,
    "ann_topk_dot" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
        |), s AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.qv, e.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot
        | FROM embeddings e, q WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, CAST(dot AS DOUBLE) AS dot,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS INTEGER) AS rank
        |FROM s
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // walks replay → pair join positives ∪ signed-FNV top-3 negatives
    // (the negative_sampling oracle shape, salt 'gemb')
    "pipeline_graph_embedding" ->
      s"""WITH $graphEmbeddingPairsCteSql
         |SELECT center, other, label, weight FROM lp
         |ORDER BY center, label, other""".stripMargin,
    // the trainer replayed end to end: FNV init, 2 unrolled full-batch
    // GD epochs over the literal sigmoid table, then the anchor-pair
    // dot scores off the trained table; see sgnsOracleSql
    "pipeline_train_serve_embeddings" -> sgnsServeOracleSql(dims = 8,
      epochs = 2, lrPpm = 250000L, seed = "sg", k = 5, nprobe = 2),
    // the partitioned layout must be value-identical — same oracle
    // verbatim (the connected_components_dict convention)
    "pipeline_train_serve_partitioned" -> sgnsServeOracleSql(dims = 8,
      epochs = 2, lrPpm = 250000L, seed = "sg", k = 5, nprobe = 2),
    "embedding_train_sgns" -> sgnsOracleSql(dims = 8, epochs = 2,
      lrPpm = 250000L, seed = "sg"),
    // the committed index holds the WHOLE corpus after both batches and
    // nprobe = C disables pruning loss, so the streaming query equals
    // the exhaustive scan — the ann_ivf_topk oracle verbatim
    "ann_index_stream" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
        |), s AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.qv, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS d,
        |  list_sum(list_transform(list_zip(q.qv, q.qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS na,
        |  list_sum(list_transform(list_zip(e.embedding, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS nb
        | FROM embeddings e, q WHERE e.vec_id <> q.query_id
        |), c AS (
        | SELECT query_id, neighbor_id,
        |  CASE WHEN sqrt(na) * sqrt(nb) > 0.0 THEN d / (sqrt(na) * sqrt(nb)) ELSE 0.0 END AS cosine
        | FROM s
        |)
        |SELECT query_id, neighbor_id, cosine,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |FROM c
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // identical floor-e6 quantization (one IEEE product then floor —
    // no round-mode trap), exact integer distances, argmin by
    // (dist, cid), integer sums — every value compared is a BIGINT/INT
    "kmeans_iter_exact" ->
      """WITH e AS (
        | SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        | FROM embeddings
        |), c AS (
        | SELECT vec_id AS cid, a AS cv FROM e WHERE vec_id < 4
        |), d AS (
        | SELECT e.vec_id, c.cid,
        |  list_sum(list_transform(range(1, len(e.a) + 1),
        |    i -> (e.a[i] - c.cv[i]) * (e.a[i] - c.cv[i]))) AS dist
        | FROM e, c
        |), w AS (
        | SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        | FROM d
        |), asg AS (
        | SELECT e.vec_id, w.cid, e.a FROM w JOIN e USING (vec_id) WHERE rn = 1
        |), ex AS (
        | SELECT cid, CAST(generate_subscripts(a, 1) - 1 AS INT) AS pos,
        |  unnest(a) AS x
        | FROM asg
        |)
        |SELECT cid AS centroid_id, pos,
        | CAST(sum(x) AS BIGINT) AS sum_e6,
        | CAST(count(*) AS BIGINT) AS n_assigned
        |FROM ex GROUP BY 1, 2
        |ORDER BY centroid_id, pos""".stripMargin,
    // farthest-point rounds unrolled; see kcenterOracleSql
    "kcenter_diversity" -> kcenterOracleSql(k = 5),
    // the exact k-NN graph over the sample, in-degrees, histogram;
    // ties by (dist, nid) = the heap rule
    // exact e6 L2 3-NN lists, reciprocity via self-join, canonical a<b
    "embedding_mutual_knn" ->
      s"""WITH $mutualKnnCteSql
         |SELECT id_a, id_b FROM me ORDER BY 1, 2""".stripMargin,
    // the blocked variant: exact-argmin cell assignment (ties to the
    // smaller centroid id — the casg convention), within-cell lists,
    // same reciprocity
    "embedding_mutual_knn_blocked" ->
      """WITH e AS (
        | SELECT CAST(vec_id AS BIGINT) AS id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        | FROM embeddings WHERE vec_id < 200
        |), cc AS (
        | SELECT id AS ccid, v AS ccv FROM e WHERE id < 4
        |), cd AS (
        | SELECT e.id, cc.ccid,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (e.v[i] - cc.ccv[i]) * (e.v[i] - cc.ccv[i]))) AS dist
        | FROM e, cc
        |), casg AS (
        | SELECT id, ccid FROM (
        |  SELECT id, ccid, row_number() OVER (PARTITION BY id ORDER BY dist, ccid) AS rn
        |  FROM cd) WHERE rn = 1
        |), pd AS (
        | SELECT q.id AS qid, p.id AS nid,
        |  CAST(list_sum(list_transform(list_zip(q.v, p.v), z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT) AS dist
        | FROM e q JOIN casg cq ON cq.id = q.id
        | JOIN casg cp ON cp.ccid = cq.ccid
        | JOIN e p ON p.id = cp.id
        | WHERE q.id <> p.id
        |), kn AS (
        | SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
        |  FROM pd) WHERE rn <= 3
        |), me AS (
        | SELECT a.qid AS id_a, a.nid AS id_b
        | FROM kn a JOIN kn b ON b.qid = a.nid AND b.nid = a.qid
        | WHERE a.qid < a.nid
        |)
        |SELECT id_a, id_b FROM me ORDER BY 1, 2""".stripMargin,
    // the multi-probe variant: index side keyed on the argmin home
    // cell (casg), query side on the 2 nearest cells (cprobe, the same
    // (dist, ccid) ladder cut at rn <= 2), same top-3 + reciprocity
    "embedding_mutual_knn_probed" ->
      s"""WITH $mutualKnnProbedCteSql
         |SELECT id_a, id_b FROM me ORDER BY 1, 2""".stripMargin,
    // the partitioned-layout path is value-identical to the probed
    // operator by construction — the same oracle replays it
    "embedding_mutual_knn_partitioned" ->
      s"""WITH $mutualKnnProbedCteSql
         |SELECT id_a, id_b FROM me ORDER BY 1, 2""".stripMargin,
    // the PRODUCTION cluster composition: the probed edges lpad'd into
    // the same min-propagation rounds as pipeline_embedding_clusters
    "pipeline_embedding_clusters_probed" -> {
      val rounds = (1 to 8).map { k =>
        s"""c$k AS (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM bsym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $mutualKnnProbedCteSql, le AS (
         | SELECT lpad(CAST(id_a AS VARCHAR), 12, '0') AS a,
         |        lpad(CAST(id_b AS VARCHAR), 12, '0') AS b
         | FROM me
         |), bsym AS MATERIALIZED (
         | SELECT a AS _s, b AS _d FROM le UNION SELECT b, a FROM le
         |), l0 AS MATERIALIZED (
         | SELECT v, v AS l FROM (SELECT DISTINCT _s AS v FROM bsym)
         |), $rounds
         |SELECT v AS node, l AS label FROM l8 ORDER BY node""".stripMargin
    },
    // the same edges lpad'd into the er_serve min-propagation rounds;
    // bsym and l0 are MATERIALIZED (as in the _probed sibling) so DuckDB
    // evaluates each once instead of inlining them into every round
    "pipeline_embedding_clusters" -> {
      val rounds = (1 to 8).map { k =>
        s"""c$k AS (
           | SELECT e._d AS v, min(p.l) AS ml
           | FROM bsym e JOIN l${k - 1} p ON p.v = e._s GROUP BY 1
           |), l$k AS (
           | SELECT p.v, least(p.l, coalesce(c$k.ml, p.l)) AS l
           | FROM l${k - 1} p LEFT JOIN c$k ON c$k.v = p.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $mutualKnnCteSql, le AS (
         | SELECT lpad(CAST(id_a AS VARCHAR), 12, '0') AS a,
         |        lpad(CAST(id_b AS VARCHAR), 12, '0') AS b
         | FROM me
         |), bsym AS MATERIALIZED (
         | SELECT a AS _s, b AS _d FROM le UNION SELECT b, a FROM le
         |), l0 AS MATERIALIZED (
         | SELECT v, v AS l FROM (SELECT DISTINCT _s AS v FROM bsym)
         |), $rounds
         |SELECT v AS node, l AS label FROM l8 ORDER BY node""".stripMargin
    },
    "knn_hubness" ->
      """WITH e AS (
        | SELECT CAST(vec_id AS BIGINT) AS id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        | FROM embeddings WHERE vec_id < 128
        |), pd AS (
        | SELECT q.id AS qid, p.id AS nid,
        |  CAST(list_sum(list_transform(list_zip(q.v, p.v), z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT) AS dist
        | FROM e q, e p WHERE q.id <> p.id
        |), kn AS (
        | SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
        |  FROM pd) WHERE rn <= 5
        |), ind AS (
        | SELECT nid, CAST(count(*) AS BIGINT) AS c FROM kn GROUP BY 1
        |), z AS (
        | SELECT coalesce(ind.c, 0) AS in_degree FROM e LEFT JOIN ind ON ind.nid = e.id
        |)
        |SELECT CAST(in_degree AS BIGINT) AS in_degree,
        | CAST(count(*) AS BIGINT) AS n_points
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // round 1 replayed, means by trunc-div (// truncates toward zero in
    // DuckDB exactly like Spark's div — pinned for negative sums),
    // round 2 against the integer centroids
    "kmeans_two_iter" ->
      """WITH e AS (
        | SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        | FROM embeddings
        |), c1 AS (
        | SELECT vec_id AS cid, a AS cv FROM e WHERE vec_id < 4
        |), d1 AS (
        | SELECT e.vec_id, c1.cid,
        |  list_sum(list_transform(range(1, len(e.a) + 1),
        |    i -> (e.a[i] - c1.cv[i]) * (e.a[i] - c1.cv[i]))) AS dist
        | FROM e, c1
        |), w1 AS (
        | SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        | FROM d1
        |), a1 AS (
        | SELECT e.vec_id, w1.cid, e.a FROM w1 JOIN e USING (vec_id) WHERE rn = 1
        |), ex1 AS (
        | SELECT cid, CAST(generate_subscripts(a, 1) - 1 AS INT) AS pos,
        |  unnest(a) AS x
        | FROM a1
        |), s1 AS (
        | SELECT cid, pos, CAST(sum(x) AS BIGINT) AS sum_e6,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM ex1 GROUP BY cid, pos
        |), c2 AS (
        | SELECT cid, list(CAST(sum_e6 // n AS BIGINT) ORDER BY pos) AS cv
        | FROM s1 GROUP BY cid
        |), d2 AS (
        | SELECT e.vec_id, c2.cid,
        |  list_sum(list_transform(range(1, len(e.a) + 1),
        |    i -> (e.a[i] - c2.cv[i]) * (e.a[i] - c2.cv[i]))) AS dist
        | FROM e, c2
        |), w2 AS (
        | SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        | FROM d2
        |), a2 AS (
        | SELECT e.vec_id, w2.cid, e.a FROM w2 JOIN e USING (vec_id) WHERE rn = 1
        |), ex2 AS (
        | SELECT cid, CAST(generate_subscripts(a, 1) - 1 AS INT) AS pos,
        |  unnest(a) AS x
        | FROM a2
        |)
        |SELECT cid AS centroid_id, pos,
        | CAST(sum(x) AS BIGINT) AS sum_e6,
        | CAST(count(*) AS BIGINT) AS n_assigned
        |FROM ex2 GROUP BY 1, 2
        |ORDER BY centroid_id, pos""".stripMargin,
    // the kmeans_two_iter centroid chain (seeds < 4, one exact
    // iteration, trunc-div means), then integer-L2 assignment, 1-probe
    // candidate ranking, the exhaustive reference, and the per-query
    // intersection count — every step exact BIGINT with (dist, id)
    // tie-breaks on both engines
    "ann_recall_ivf" -> (annRecallChainSql + "\n" +
      """SELECT q.qid AS query_id,
        | CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        | CAST(10 AS BIGINT) AS k,
        | CAST(COALESCE(h.n_hits, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
        |FROM q LEFT JOIN h ON q.qid = h.qid
        |ORDER BY query_id""".stripMargin),
    // the same chain grouped over the query's assigned bucket
    "ann_recall_by_bucket" -> (annRecallChainSql + "\n" +
      """SELECT qasg.qcid AS centroid_id,
        | CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(sum(COALESCE(h.n_hits, 0)) AS BIGINT) AS total_hits,
        | CAST(10 AS BIGINT) AS k,
        | CAST(CAST(sum(COALESCE(h.n_hits, 0)) AS BIGINT) * 1000000
        |   // (count(*) * 10) AS BIGINT) AS recall_ppm
        |FROM q JOIN qasg ON q.qid = qasg.qid
        |LEFT JOIN h ON q.qid = h.qid
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "ann_ivf_topk" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
        |), s AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.qv, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS d,
        |  list_sum(list_transform(list_zip(q.qv, q.qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS na,
        |  list_sum(list_transform(list_zip(e.embedding, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS nb
        | FROM embeddings e, q WHERE e.vec_id <> q.query_id
        |), c AS (
        | SELECT query_id, neighbor_id,
        |  CASE WHEN sqrt(na) * sqrt(nb) > 0.0 THEN d / (sqrt(na) * sqrt(nb)) ELSE 0.0 END AS cosine
        | FROM s
        |)
        |SELECT query_id, neighbor_id, cosine,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |FROM c
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // full-scan top-1: the planted identical twin is the true nearest
    // neighbor and its assigned centroid is always probed (bitwise-equal
    // cosine on the assign and probe paths), so the partition-pruned
    // result equals the exhaustive oracle
    "ann_ivf_partitioned" ->
      """WITH q AS (
        | SELECT vec_id + 1000000 AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
        |), s AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.qv, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS d,
        |  list_sum(list_transform(list_zip(q.qv, q.qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS na,
        |  list_sum(list_transform(list_zip(e.embedding, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS nb
        | FROM embeddings e, q
        |), c AS (
        | SELECT query_id, neighbor_id,
        |  CASE WHEN sqrt(na) * sqrt(nb) > 0.0 THEN d / (sqrt(na) * sqrt(nb)) ELSE 0.0 END AS cosine
        | FROM s
        |)
        |SELECT query_id, neighbor_id, cosine,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |FROM c
        |QUALIFY rank <= 1
        |ORDER BY query_id, rank""".stripMargin,
    // full-scan top-1: the planted identical twin is the true nearest
    // neighbor, so the pruned LSH result equals the exhaustive oracle
    "ann_lsh_topk" ->
      """WITH q AS (
        | SELECT vec_id + 1000000 AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
        |), s AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.qv, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS d,
        |  list_sum(list_transform(list_zip(q.qv, q.qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS na,
        |  list_sum(list_transform(list_zip(e.embedding, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS nb
        | FROM embeddings e, q
        |), c AS (
        | SELECT query_id, neighbor_id,
        |  CASE WHEN sqrt(na) * sqrt(nb) > 0.0 THEN d / (sqrt(na) * sqrt(nb)) ELSE 0.0 END AS cosine
        | FROM s
        |)
        |SELECT query_id, neighbor_id, cosine,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |FROM c
        |QUALIFY rank <= 1
        |ORDER BY query_id, rank""".stripMargin,
    // e6 floor quantization + exact integer sums; mean by trunc-div
    // (// ≡ Spark div, pinned by the k-means family)
    "group_centroids_e6" ->
      """WITH e AS (
        | SELECT vec_id % 5 AS grp,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        | FROM embeddings
        |), ex AS (
        | SELECT grp, CAST(generate_subscripts(a, 1) - 1 AS INT) AS pos,
        |  unnest(a) AS x
        | FROM e
        |)
        |SELECT grp, pos, CAST(sum(x) AS BIGINT) AS sum_e6,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(x) // count(*) AS BIGINT) AS mean_e6
        |FROM ex GROUP BY 1, 2 ORDER BY grp, pos""".stripMargin,
    // planted identical vectors: cosine 1.0, same SRP bucket; natural max
    // pair cosine ~0.49 ≪ 0.999 threshold ⇒ output = the planted pair set
    "dedup_embedding_pairs" ->
      """SELECT CAST(vec_id AS BIGINT) AS id_a, CAST(vec_id + 1000000 AS BIGINT) AS id_b
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY id_a, id_b""".stripMargin,
    // same profile arithmetic as profile_vector, then z = (x-mean)/std
    // per element in the written order; dead dims (std=0) map to 0
    "embedding_standardize" ->
      """WITH x AS (
        | SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x
        | FROM embeddings
        |), p AS (
        | SELECT dim,
        |  CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mean,
        |  sqrt(GREATEST(
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*)
        |    - (CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*))
        |      * (CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*)), 0.0)) AS std
        | FROM x GROUP BY 1
        |)
        |SELECT x.vec_id, CAST(x.dim AS INTEGER) AS dim,
        | CASE WHEN p.std = 0.0 THEN 0.0 ELSE (x.x - p.mean) / p.std END AS z
        |FROM x JOIN p USING (dim)
        |ORDER BY vec_id, dim""".stripMargin,
    // The greedy MMR selection unrolled as m=5 CTE steps: each step
    // picks the per-query argmax of 0.5*score - 0.5*best (ties to the
    // ascending id) and folds the new candidate-to-selected dot into
    // `best` via GREATEST — exactly the kernel's incremental max.
    "mmr_rerank" -> {
      def ddot(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
      val m = 5
      val steps = (1 to m).map { t =>
        s""" s$t AS (
           | SELECT * FROM r${t - 1}
           | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY 0.5*score - 0.5*best DESC, id) = 1
           |), r$t AS (
           | SELECT r.query_id, r.id, r.score, r.vec,
           |  GREATEST(r.best, ${ddot("r.vec", "s.vec")}) AS best
           | FROM r${t - 1} r JOIN s$t s ON r.query_id = s.query_id AND r.id <> s.id
           |)""".stripMargin
      }.mkString(",\n")
      val finals = (1 to m).map { t =>
        s"SELECT query_id, id AS neighbor_id, 0.5*score - 0.5*best AS mmr, $t AS rank FROM s$t"
      }.mkString("\n UNION ALL\n")
      s"""WITH q AS (
         | SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
         |), sall AS (
         | SELECT q.query_id, e.vec_id AS id,
         |  ${ddot("q.qv", "e.embedding")} AS score, e.embedding AS vec
         | FROM embeddings e, q WHERE e.vec_id <> q.query_id
         |), cand AS (
         | SELECT query_id, id, CAST(score AS DOUBLE) AS score, vec
         | FROM sall
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id) <= 10
         |), r0 AS (
         | SELECT query_id, id, score, vec, 0.0 AS best FROM cand
         |),
         |$steps
         |SELECT query_id, neighbor_id, mmr, CAST(rank AS INTEGER) AS rank FROM (
         |$finals
         |) ORDER BY query_id, rank""".stripMargin
    },
    // the planted exact copies are the only pairs at cosine >= 0.999
    // (max natural pairwise cosine ~0.51); see the queries-side comment
    "semantic_dedup_pairs" ->
      """SELECT CAST(vec_id AS BIGINT) AS id_a, CAST(vec_id + 1000000 AS BIGINT) AS id_b
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY id_a, id_b""".stripMargin,
  )
}
