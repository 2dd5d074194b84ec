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

/** Text gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object TextGates {

  // temperature candidates 0.25x..5x in e6 — literal on BOTH sides
  private val qualityTemperatureGrid: Seq[Long] = Seq(250000L, 500000L,
    750000L, 1000000L, 1500000L, 2000000L, 3000000L, 5000000L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text quality scoring
    "text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        round(TextFunctions.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id")
    }),
    // ---- DSIR-style importance scoring: per-doc target-vs-raw
    //      log-likelihood ratio over FNV-hashed token buckets. The 1024
    //      bucket weights are computed ONCE on the driver from exact
    //      collected histograms and fed to BOTH engines as the same
    //      ×10⁶ scaled-BIGINT literal table (no libm ln and no DECIMAL
    //      in the compared surface — see bm25_topk / decimal_probe);
    //      per-doc sums are order-independent exact integer adds, so
    //      the oracle recomputes the EXACT scores
    "dsir_scores" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val target = d.filter(col("source") === "src0")
      val lits = ImportanceScoring.importanceWeightLiterals(target, d, "text")
      GateTables.put("dsir_w", dsirWeightRows(lits))
      val w = ImportanceScoring.weightsTableFromLiterals(s, lits)
      ImportanceScoring.scoreDocs(
          d.filter(col("doc_id") < 500), "doc_id", "text", w)
        .orderBy("doc_id")
    }),
    // ---- CCNet-style bigram-LM quality scoring: add-one-smoothed
    //      bucket-bigram model trained on the src0 slice, docs scored by
    //      mean transition log-prob. The (c2+1, c1+B) → weight table is
    //      computed ONCE on the driver and fed to BOTH engines as the
    //      same ×10⁶ scaled-BIGINT literal table (counts stay
    //      engine-side and exact; no libm ln and no DECIMAL in the
    //      compared surface — see bm25_topk / decimal_probe)
    "lm_scores" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val target = d.filter(col("source") === "src0")
      val wt = ImportanceScoring.lmWeightLiterals(target, "text")
      GateTables.put("lm_wt", lmWeightRows(wt))
      ImportanceScoring.lmScoreDocsWithTable(
          d.filter(col("doc_id") < 500), "doc_id", "text", target, "text", wt)
        .orderBy("doc_id")
    }),
    // ---- vocabulary coverage: top-1000 vocab by corpus frequency
    //      (boundary ties to ascending term), per-doc OOV rate as one
    //      exact division; zero-token docs report a null rate
    "vocab_oov" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Vocab.oovStats(d, "doc_id", "text", Vocab.topTerms(d, "text", 1000))
        .orderBy("doc_id")
    }),
    // ---- language-agnostic stopword discovery: top-k terms by
    //      DOCUMENT frequency (ties to the ascending term) — exact
    //      integer histogram, TakeOrdered cut
    "stopword_df_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Vocab.topDocFrequencyTerms(d, "doc_id", "text", k = 30)
        .orderBy(col("df").desc, col("term").asc)
    }),
    // ---- fastText-style linear quality classifier, SERVING path:
    //      margin = bias + Σ cnt_b·w_b over hashed token buckets with a
    //      deterministic literal weight table (Weyl-sequence pseudo
    //      weights — the gate exercises featurize/join/sum/left-join
    //      plumbing; trained-weight parity is spec-pinned). All
    //      arithmetic is exact ×10⁶ scaled-BIGINT (margin_e6 — no
    //      DECIMAL in the compared surface, round-8 verdict); the same
    //      VALUES rows feed the oracle eagerly
    "quality_margin" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
      QualityModel.scoreMargin(d, "doc_id", "text",
          qmGateWeights, qmGateBias)
        .orderBy("doc_id")
    }),
    // ---- post-hoc temperature scaling of that classifier: each grid
    //      temperature rescales the margins (exact e6 division), maps
    //      through the shared literal sigmoid, folds to ECE — the
    //      argmin (ties to the smallest T) is the deployable
    //      calibration map, chosen without a transcendental anywhere
    "quality_temperature" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 1000 && col("n_chars").isNotNull)
      val m = QualityModel.scoreMargin(d, "doc_id", "text",
        qmGateWeights, qmGateBias)
      val sc = m.join(d.select(col("doc_id"),
        (col("n_chars") >= 500).cast("long").as("label")), Seq("doc_id"))
      QualityModel.temperatureScaleE6(sc, "margin_e6", "label",
          qualityTemperatureGrid)
        .orderBy("t_e6")
    }),
    // ---- the TRAIN→SERVE closure for this family: the deterministic
    //      fixed-point logistic trainer fits the n_chars >= 500 label
    //      (the calibration gates' rule) on doc_id < 1000, then the
    //      TRAINED weights serve margins over the whole < 2000 corpus
    //      through the unchanged scoreMargin path — the sgns→IVF
    //      closure pattern applied to the quality model; the oracle
    //      unrolls every epoch (sigmoid table literal on both sides)
    "quality_train_serve" -> ((s, dir) => {
      val d = Materialize.local(t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("text"), col("n_chars")))
      val train = d.filter(col("doc_id") < 1000)
      val labels = train.select(col("doc_id"),
        (col("n_chars") >= 500).cast("long").as("label"))
      val (w, bias) = QualityModel.trainLogisticEpochsE6(train, "doc_id",
        "text", labels, "label", epochs = 3, lrPpm = 200000L)
      QualityModel.scoreMargin(d, "doc_id", "text",
          w.map(v => java.math.BigDecimal.valueOf(v, 6)),
          java.math.BigDecimal.valueOf(bias, 6))
        .orderBy("doc_id")
    }),
    // ---- calibration eval of that classifier: margins → the shared
    //      64-slot literal sigmoid → equal-width reliability buckets +
    //      ECE against the n_chars >= 500 label — the check a pipeline
    //      runs before trusting scores as probability thresholds
    "quality_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 1000 && col("n_chars").isNotNull)
      val m = QualityModel.scoreMargin(d, "doc_id", "text",
        qmGateWeights, qmGateBias)
      val tbl = graft.operators.Graph.sigmoidTablePpm()
      val idx = expr("CASE WHEN margin_e6 <= -6000000 THEN 0L " +
        "WHEN margin_e6 >= 6000000 THEN 63L " +
        "ELSE ((margin_e6 + 6000000) * 64L) div 12000000L END")
      val scored = m.join(d.select(col("doc_id"),
          (col("n_chars") >= 500).cast("long").as("label")), Seq("doc_id"))
        .select(element_at(typedLit(tbl), (idx + lit(1L)).cast("int"))
          .as("prob_ppm"), col("label"))
      QualityModel.calibrationBuckets(scored, "prob_ppm", "label",
          buckets = 10)
        .orderBy("bucket")
    }),
    // ---- the EQUAL-MASS variant: quantile bucket edges (the exact
    //      two-level percentile machinery) instead of equal-width ones
    //      — skewed score distributions pile most examples into 1-2
    //      equal-width bins and blind the reliability diagram; deciles
    //      spread the mass. Same reduction half, same ECE fold
    "quality_calibration_quantile" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 1000 && col("n_chars").isNotNull)
      val m = QualityModel.scoreMargin(d, "doc_id", "text",
        qmGateWeights, qmGateBias)
      val tbl = graft.operators.Graph.sigmoidTablePpm()
      val idx = expr("CASE WHEN margin_e6 <= -6000000 THEN 0L " +
        "WHEN margin_e6 >= 6000000 THEN 63L " +
        "ELSE ((margin_e6 + 6000000) * 64L) div 12000000L END")
      val scored = m.join(d.select(col("doc_id"),
          (col("n_chars") >= 500).cast("long").as("label")), Seq("doc_id"))
        .select(element_at(typedLit(tbl), (idx + lit(1L)).cast("int"))
          .as("prob_ppm"), col("label"))
      QualityModel.calibrationBucketsQuantile(scored, "prob_ppm", "label",
          buckets = 10)
        .orderBy("bucket")
    }),
    // ---- staged diagnostics for the retrieval/scoring hash divergence
    //      (round-7 verdict #2; ANSWERED by CORRECTNESS_r08): tokens,
    //      buckets, and the registered idf table all came back green —
    //      only the stages whose COMPARED OUTPUT was DECIMAL-typed
    //      (qm_diag_weights, quality_margin) stayed red, isolating the
    //      divergence to the driver's hashing of DECIMAL output columns
    //      alone. Round 9 therefore emits ×10⁶/10⁹/10¹² scaled BIGINT
    //      in every compared surface; the stages stay as regression
    //      tripwires and `decimal_probe` pins the type behavior:
    //        qm_diag_tokens  — tokenization alone (regex split)
    //        qm_diag_buckets — + the FNV-1a fold to buckets
    //        qm_diag_weights — the weight VALUES literal table alone
    //                          (data-independent; now weight_e6 BIGINT)
    //        bm25_diag_idf   — a run-time-registered GateTables VALUES
    //                          table alone (proves registered tables
    //                          reach the driver's oracle)
    //      quality_margin itself is the final stage (adds the weight
    //      join + exact integer sums).
    "qm_diag_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val toks = TextFunctions.tokens(lower(col("text")))
      d.select(col("doc_id"),
          size(toks).cast(LongType).as("n_tokens"),
          coalesce(aggregate(toks, lit(0L), (acc, x) => acc + length(x)),
            lit(0L)).as("sum_len"))
        .orderBy("doc_id")
    }),
    "qm_diag_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
      d.select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
        .select(ImportanceScoring.tokenBucket(col("token"),
          QualityModel.DefaultBuckets, "qm").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),
    "qm_diag_weights" -> ((s, dir) =>
      ImportanceScoring.weightsTableFromLiterals(s, qmGateWeights)
        .orderBy("bucket")),
    "bm25_diag_idf" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      val idf = Retrieval.queryIdfLiterals(docs, "text", queries, "qtext")
      GateTables.put("bm25_idf_q3", idfValuesRows(idf))
      idf.map { case (tm, v) => (tm, Retrieval.idfScaled6(v)) }
        .toDF("term", "idf_s").orderBy("term")
    }),
    // ---- keyword extraction: top-3 distinctive terms per doc by
    //      tf·(N/df) — the transcendental-free tf-idf rank (ln is
    //      monotone, so the keyword ORDER is identical); score_e6 via
    //      the exact integer rounding kernel, per-doc cut through the
    //      bounded heap with score+term packed in the key
    "distinctive_terms" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      Vocab.distinctiveTerms(d, "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),
    // ---- collocation mining: top-k bigrams by LIFT (= exp(PMI), the
    //      same ranking with no transcendental) — counts are exact
    //      integers, the lift is the fixed operand tree
    //      (c_xy·N)/(c_x·c_y) in doubles, ties total-ordered by the
    //      bigram itself
    "collocations_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      Collocations.topBigramsByLift(d, "text", k = 50, minCount = 5L)
    }),
    // ---- vocabulary growth curve (Heaps-law diagnostic): distinct
    //      terms + total tokens after each id-prefix, in ONE tokenize
    //      pass (terms reduce to first-seen id, checkpoints fold as
    //      literals) — a flattening curve says the tail is re-crawls
    "vocab_growth" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Vocab.vocabGrowthCurve(d, "doc_id", "text",
          Seq(50L, 100L, 200L, 400L))
        .orderBy("prefix_lt")
    }),
    // ---- corpus token frequencies: the canonical wordcount with a
    //      deterministic top-N cut (freq desc, token asc)
    "token_frequencies" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextFunctions.tokenFrequencies(d, "text", topN = 25)
        .orderBy(col("freq").desc, col("token"))
    }),
    // ---- Gopher structural quality rules: the four published document
    //      filters (symbol ratio, bullet lines, ellipsis lines, alpha
    //      words), all narrow codegen'd builtins with RE2-compatible
    //      patterns so the oracle reproduces exact counts
    "text_gopher_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        round(TextFunctions.symbolToWordRatio(col("text")), 4).as("symbol_ratio"),
        round(TextFunctions.bulletLineFraction(col("text")), 4).as("bullet_frac"),
        round(TextFunctions.ellipsisLineFraction(col("text")), 4).as("ellipsis_frac"),
        round(TextFunctions.alphaWordRatio(col("text")), 4).as("alpha_ratio"),
        TextFunctions.gopherStructuralPass(col("text")).as("keep")
      ).orderBy("doc_id")
    }),
    // ---- CJK-aware Gopher/quality rules: the word-based rules routed
    //      through the CJK-robust counter + the stopword-free quality
    //      score. The gate APPENDS a fixed mixed CJK/Latin suffix to
    //      every doc (same splice as token_count_cjk) so the CJK
    //      arithmetic is really exercised against the oracle's
    //      explicit-range counts
    "text_gopher_quality_cjk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mixed = concat(col("text"), lit(" 你好世界 abc漢字です test"))
      d.select(
        col("doc_id"),
        TextFunctions.tokenCountCjk(mixed).as("cjk_tokens"),
        round(TextFunctions.symbolToWordRatio(mixed, cjkAware = true), 4)
          .as("symbol_ratio"),
        round(TextFunctions.alphaWordRatio(mixed, cjkAware = true), 4)
          .as("alpha_ratio"),
        TextFunctions.gopherStructuralPass(mixed, cjkAware = true).as("keep"),
        TextFunctions.qualityScore(mixed, cjkAware = true).as("quality")
      ).orderBy("doc_id")
    }),
    "token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("bpeish_tokens"),
        TextFunctions.charCount(col("text")).as("n_chars")
      ).orderBy("doc_id")
    }),
    // ---- vocabulary-driven SUBWORD token count (WordPiece greedy
    //      longest-match, ##-marked continuations, per-codepoint UNK
    //      fallback): pure deterministic string/integer work, so the
    //      oracle replays the greedy loop as a recursive CTE over the
    //      DISTINCT words (bounded: word length iterations per word)
    "subword_count" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 1000)
      d.select(col("doc_id"),
          TextFunctions.tokenCountSubword(col("text"), subwordGateVocab)
            .as("subword_tokens"),
          TextFunctions.tokenCount(col("text")).as("ws_tokens"))
        .orderBy("doc_id")
    }),
    // ---- C4 line-level cleaning (the public C4 recipe): keep lines
    //      with ≥3 words ending in terminal punctuation; doc drops on
    //      lorem-ipsum / curly-brace / zero kept lines. The shared
    //      c4GateTextSql fragment plants each rule's trigger
    "c4_line_clean" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .withColumn("_t", expr(c4GateTextSql))
      val kept = TextFunctions.c4KeptLines(col("_t"), minWordsPerLine = 3)
      d.select(
          col("doc_id"),
          array_join(kept, "\n").as("clean"),
          size(kept).cast(LongType).as("kept_lines"),
          size(split(col("_t"), "\n", -1)).cast(LongType).as("total_lines"),
          TextFunctions.c4DocPass(col("_t"), kept, minKeptLines = 1)
            .as("doc_pass"))
        .orderBy("doc_id")
    }),
    // ---- BPE merge-candidate statistics: adjacent character pairs
    //      weighted by the distinct-word histogram (the classic BPE
    //      compression, distributed) — top-50 by (count desc, a, b)
    //      through a TakeOrdered bounded heap
    "bpe_pair_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      Vocab.bpePairStats(d, "text", k = 50)
    }),
    // ---- one APPLIED BPE merge round: the winning pair merges
    //      (leftmost-nonoverlapping substring replace — the BPE tie
    //      rule, identical in both engines) and the NEXT round's pair
    //      stats emit with the merged symbol spelled out
    "bpe_merge_round2" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      Vocab.bpeNextPairStats(d, "text", k = 50)
    }),
    // ---- BPE ENCODE applied to the corpus: a frozen ranked merge
    //      list (rank-order global replace — the trainer's own
    //      leftmost-nonoverlapping tie rule) spells each word as
    //      symbols and counts them. The serving-side closure of the
    //      bpe_pair_stats / bpe_merge_round2 trainer loop: the merges
    //      are the corpus's own top pairs, frozen as literals so both
    //      engines fold the identical chain
    "bpe_encode_count" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      d.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("word_tokens"),
          TextFunctions.bpeTokenCount(col("text"), bpeGateMerges)
            .as("bpe_tokens"))
        .orderBy("doc_id")
    }),
    // ---- tokenizer fertility per source: subword-to-word ratio (ppm)
    //      under the frozen merge list — the "which domains does this
    //      tokenizer tax" audit (multilingual pipelines balance budgets
    //      in subwords, and fertility skew silently re-weights sources)
    "tokenizer_fertility" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      d.select(col("source"),
          TextFunctions.tokenCount(col("text")).as("_w"),
          TextFunctions.bpeTokenCount(col("text"), bpeGateMerges).as("_b"))
        .groupBy(col("source"))
        .agg(sum(col("_w")).as("word_tokens"),
          sum(col("_b")).as("bpe_tokens"))
        .select(col("source"), col("word_tokens"), col("bpe_tokens"),
          expr("CAST(bpe_tokens * 1000000 div greatest(word_tokens, 1L) AS BIGINT)")
            .as("fertility_ppm"))
        .orderBy("source")
    }),
    // ---- exact phrase search: rolling-fingerprint candidates (zero
    //      corpus shuffle — the phrase hash is a driver-computed
    //      literal) + collision-proof slice verify; the shared
    //      dup-removal fragment plants the needle once on ≡1 docs and
    //      twice on ≡2
    "phrase_match" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), expr(dupRemovalTextSql).as("_t"))
      Retrieval.phraseMatch(d, "doc_id", "_t",
          "gamma delta epsilon zeta eta theta")
        .orderBy("doc_id")
    }),
    // ---- unigram-LM Viterbi segmentation (SentencePiece-unigram
    //      inference): globally-cheapest per-word segmentation under
    //      integer piece costs, vs WordPiece's greedy longest match —
    //      completes the tokenizer family (BPE / WordPiece / unigram);
    //      per-doc cost+token sums, oracle unrolls the DP positions
    "unigram_segment" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("_w"))
        .filter(length(col("_w")) <= 12)
        .withColumn("_st", TextFunctions.unigramSegmentStats(col("_w"),
          unigramGatePieces, unkCost = 1000L, maxWordLen = 12))
      d.groupBy("doc_id")
        .agg(sum(element_at(col("_st"), 1)).as("total_cost"),
          sum(element_at(col("_st"), 2)).as("total_tokens"))
        .orderBy("doc_id")
    }),
    // ---- χ²-distinctive terms per source: group-vs-rest contingency
    //      per term, staged floor rational (no logs), top-5 per source
    //      by (χ² desc, term) — the classical feature-selection stat
    //      next to the TF-IDF-flavored distinctive_terms
    "chi2_terms" -> ((s, dir) => {
      Vocab.chiSquareTerms(t(s, dir, "documents"), "source", "text", k = 5)
        .select(col("group").as("source"), col("term"), col("chi2_e6"), col("rank"))
        .orderBy("source", "rank")
    }),
    // ---- blocklist phrase tagging: total overlap-counted substring
    //      hits + distinct rules fired per doc, ONE Aho–Corasick pass
    //      per row (O(text) regardless of list size — the shape that
    //      survives a 10k-phrase production blocklist); nested
    //      ("table" ⊂ "table part") and self-overlapping ("a a")
    //      patterns exercise the automaton's output inheritance
    "blocklist_phrases" -> ((s, dir) => {
      val pats = Seq("table", "table part", "scan slow", "a a", "merge batch")
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.multiPatternHits(col("text"), pats).as("total_hits"),
          TextFunctions.multiPatternDistinct(col("text"), pats).as("rules_fired"))
        .orderBy("doc_id")
    }),
    // ---- QUALITY-priority token quota: keep the BEST docs within each
    //      source's token budget, not the earliest — the same two-level
    //      quota machinery fed a composite numeric order key
    //      (quality desc, id asc) instead of crawl order; here quality
    //      = token count (longer docs first), budget 500 tokens/source
    "quality_token_quota" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("_nt", TextFunctions.tokenCount(col("text")))
        .withColumn("_ord", expr("(100000L - _nt) * 1099511627776L + doc_id"))
      Sampling.tokenQuotaPerGroup(d, "_ord", "source", col("_nt"), budget = 500L)
        .select(col("source"),
          expr("_ord % 1099511627776L").as("doc_id"),
          col("n_tokens"), col("cum_tokens"), col("keep"))
        .orderBy("source", "doc_id")
    }),
    // ---- burstiness monitor: Fano factor (variance/mean) of the daily
    //      count series per event type — Poisson-like feeds sit near
    //      1e6, batchy/bursty feeds far above; exact integers via
    //      (n·Σx² − (Σx)²) div (n·Σx)
    "burstiness_by_type" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_periods"), sum(col("x")).as("total"),
          sum(col("x") * col("x")).as("_sx2"))
        .select(col("event_type"), col("n_periods"), col("total"),
          expr("CAST((n_periods * _sx2 - total * total) * 1000000L div (n_periods * total) AS BIGINT)")
            .as("fano_e6"))
        .orderBy("event_type")
    }),
    // ---- C4 policy filters: sentence counting (terminal-punct runs)
    //      + exact-token badword blocking; the fragment plants a
    //      blocked token on ≡0 docs and extra sentences on ≡1, and
    //      "classify" proves substring non-matching
    "c4_policy_filters" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .withColumn("_t", expr(
          """CASE CAST(doc_id % 3 AS INT)
            | WHEN 0 THEN text || ' verboten classify.'
            | WHEN 1 THEN text || ' One more sentence here. And another one.'
            | ELSE text
            |END""".stripMargin))
      val blocked = Seq("VERBOTEN", "forbiddenterm")
      val bad = TextFunctions.hasBlockedWord(col("_t"), blocked)
      val ns = TextFunctions.sentenceCount(col("_t"))
      d.select(col("doc_id"), ns.as("n_sentences"), bad.as("has_blocked"),
          (!bad && (ns >= 2L)).as("keep"))
        .orderBy("doc_id")
    }),
    // ---- token-budget truncation: first 16 whitespace tokens,
    //      re-joined with single spaces (documented normalization);
    //      n_kept is the min of the token count and the budget
    "truncate_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextFunctions.truncateToTokens(col("text"), 16).as("head16"),
        least(TextFunctions.tokenCount(col("text")), lit(16L)).as("n_kept")
      ).orderBy("doc_id")
    }),
    // ---- CJK-robust token count: each CJK codepoint counts as one
    //      token, Latin runs count once. The gate APPENDS a fixed mixed
    //      CJK/Latin suffix to every doc (the synthetic corpus is
    //      Latin-only), so the CJK arithmetic is really exercised; the
    //      oracle mirrors the rule with explicit-range RE2 classes
    "token_count_cjk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mixed = concat(col("text"), lit(" 你好世界 abc漢字です test"))
      d.select(
        col("doc_id"),
        TextFunctions.tokenCountCjk(mixed).as("cjk_tokens"),
        TextFunctions.tokenCountCjk(col("text")).as("plain_tokens"),
        TextFunctions.tokenCount(col("text")).as("ws_tokens")
      ).orderBy("doc_id")
    }),
    // ---- text shape: mean token length (fluency proxy) + character
    //      5-gram shingle count/first over the normalized text — integer
    //      sums divided in double, so both engines agree exactly
    "text_shape" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sh = TextFunctions.charShingles(col("text"), 5)
      d.select(
        col("doc_id"),
        round(TextFunctions.meanTokenLen(col("text")), 4).as("mean_tok_len"),
        size(sh).cast(LongType).as("n_5grams"),
        element_at(sh, 1).as("first_5gram")
      ).orderBy("doc_id")
    }),
    // ---- Flesch reading-ease as exact scaled integers: 206.835 −
    //      1.015·(w/s) − 84.6·(syll/w), syllables ≈ vowel groups (the
    //      standard countable approximation), each ratio a separate
    //      trunc-div ×1000 — deterministic on both engines
    "readability_scores" -> ((s, dir) => {
      // the corpus is punctuation-free, so plant deterministic sentence
      // breaks (every 7th token ends one) — the pii_redaction
      // planted-span precedent
      val planted = t(s, dir, "documents").select(col("doc_id"),
        array_join(zip_with(
          TextFunctions.tokens(col("text")),
          sequence(lit(1), greatest(TextFunctions.tokenCount(col("text")).cast("int"), lit(1))),
          (tok, i) => concat(tok, when(i % 7 === 0, lit(".")).otherwise(lit("")))
        ), " ").as("text"))
      val d = planted.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("w"),
        TextFunctions.sentenceCount(col("text")).as("sn"),
        TextFunctions.patternCount(lower(col("text")), "[aeiouy]+").as("y"))
      d.filter(col("w") > 0 && col("sn") > 0)
        .select(col("doc_id"), col("w").as("words"),
          col("sn").as("sentences"), col("y").as("syllables"),
          expr("CAST(206835 - (1015 * w) div sn - (84600 * y) div w AS BIGINT)")
            .as("flesch_e3"))
        .orderBy("doc_id")
    }),
    // ---- repetition quality signals (the public Gopher/RefinedWeb rule
    //      family): duplicate-line fraction + most-common token / 2-gram
    //      dominance, all narrow one-pass per row
    "text_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        round(TextFunctions.duplicateLineFraction(col("text")), 4).as("dup_line_frac"),
        TextFunctions.maxTokenFreq(col("text")).as("top_tok"),
        round(TextFunctions.topTokenRatio(col("text")), 4).as("top_tok_ratio"),
        round(TextFunctions.topNgramRatio(col("text"), 2), 4).as("top_2gram_ratio")
      ).orderBy("doc_id")
    }),
    // ---- language-ID heuristic
    "lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("pred_lang")
      ).orderBy("doc_id")
    }),
    // ---- script-aware language ID: zh/ja/ko by codepoint class (marker
    //      words can't see non-space-delimited languages), Latin falls
    //      through to the marker heuristic. The gate splices CJK blocks
    //      onto a short prefix of every 4th doc so each script branch is
    //      really exercised against the oracle
    "lang_id_script" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val zh = " 这是一段中文文本用于检测语言识别功能的正确性需要足够多的汉字"
      val ja = " これはにほんごのテキストですかなもじがたくさんふくまれています"
      val ko = " 이것은한국어텍스트입니다한글음절이충분히많이포함되어있습니다"
      val mixed = when(col("doc_id") % 4 === 0, concat(substring(col("text"), 1, 20), lit(zh)))
        .when(col("doc_id") % 4 === 1, concat(substring(col("text"), 1, 20), lit(ja)))
        .when(col("doc_id") % 4 === 2, concat(substring(col("text"), 1, 20), lit(ko)))
        .otherwise(col("text"))
      d.select(col("doc_id"),
        TextFunctions.langIdWithScript(mixed).as("pred_lang")).orderBy("doc_id")
    }),
    // ---- per-doc language purity: per-LINE langId majority + fraction.
    //      The corpus is single-line, so the gate builds 3-line docs
    //      (text, a French marker line, text) — non-fr docs land at
    //      2/3 purity, fr docs at 1.0, and ties exercise the (cnt,
    //      lang) struct-max tie-break the oracle mirrors
    "lang_purity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mixed = concat(col("text"), lit("\nle la les des est\n"), col("text"))
      TextFunctions.langPurity(
          d.select(col("doc_id"), mixed.as("mix")), "doc_id", "mix")
        .orderBy("doc_id")
    }),
    // ---- vocabulary churn timeline: exact Jaccard between consecutive
    //      days' distinct prop-token sets — membership churn that a
    //      frequency drift measure can't see
    "vocab_churn_timeline" -> ((s, dir) => {
      val ev = events(s, dir).select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("props"))
      ImportanceScoring.vocabChurnTimeline(ev, "props", col("day"))
        .orderBy("period")
    }),
    // ---- chance-corrected agreement between two quality raters
    //      (char-length vs token-count keep rules): Cohen's kappa over
    //      the confusion cells, exact integers, trunc-div pinned
    "filter_agreement_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.cohenKappaE6(d,
        col("n_chars") >= 500,
        TextFunctions.tokenCount(col("text")) >= 80)
    }),
    // ---- Gini of token-mass concentration across sources: the
    //      "is one domain eating the token budget" composition
    //      diagnostic — exact sorted-rank formula, pure integers
    "token_gini" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("_w"))
      Profile.massGini(d, "source", col("_w"))
    }),
    // ---- HTML stripping over a deterministically planted wrapper:
    //      tags → spaces, entity decode (&amp; last), whitespace
    //      collapse — the cleaned STRING is the compared surface
    "strip_html" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 500)
        .filter(col("text").isNotNull)
      val html = concat(lit("<div id=\""), col("doc_id").cast(StringType),
        lit("\"><p>"), col("text"), lit("</p>&amp; &lt;tail&gt;</div>"))
      d.select(col("doc_id"), TextFunctions.stripHtml(html).as("clean"))
        .withColumn("clean_nchars", length(col("clean")).cast(LongType))
        .orderBy("doc_id")
    }),
    // ---- document fingerprinting: rolling 64-bit hash of normalized text;
    //      dup-group size histogram (oracle groups by normalized text —
    //      identical groups iff the fingerprint is collision-free)
    "doc_fingerprint" -> ((s, dir) => {
      val d = graft.engine.Partitioning.spreadByKey(
        t(s, dir, "documents").select(col("doc_id"), col("text")), col("doc_id"))
      d.select(TextFunctions.fingerprintXx(col("text")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size")
    }),
    // ---- RAG chunking: sliding token windows (32-token chunks, 8
    //      carried over, stride 24); last window is the first to reach
    //      the doc end. Entirely narrow — the oracle replays the same
    //      integer window arithmetic over the same tokenizer
    "doc_chunks" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Packing.chunkByTokens(d, "text", "doc_id",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx")
    }),
    // ---- sentence segmentation: the corpus text carries no
    //      punctuation, so terminators are PLANTED by plain substring
    //      replace (' value ' → ' value. ', ' query ' → ' query? ' —
    //      leftmost-nonoverlapping, identical in both engines), then
    //      the regex-portable boundary rule (terminator + spaces, no
    //      lookbehind) explodes each doc into indexed sentences
    "sentence_chunks" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"),
          replace(replace(col("text"), lit(" value "), lit(" value. ")),
            lit(" query "), lit(" query? ")).as("_t"))
      Packing.sentenceChunks(d, "doc_id", "_t")
        .orderBy("doc_id", "sentence_idx")
    }),
    // ---- retrieval: BM25 top-k per query (lexical complement to the
    //      ANN gates). The per-term idf is computed ONCE on the driver
    //      from exact integer counts (N, df) and fed to BOTH engines as
    //      the same ×10⁶ scaled-integer literal table (no libm ln in
    //      the compared surface — a last-ulp ln difference between
    //      DuckDB builds flipped the rounded digit in round 6); each
    //      term contribution rounds HALF_UP at 9dp in pure integer
    //      arithmetic and the per-doc score is the exact integer sum
    //      emitted as score_e9 BIGINT (no DECIMAL output — round-8
    //      verdict), so the oracle reproduces scores bit-for-bit;
    //      (score_e9 DESC, doc_id ASC) totally orders ranks on both sides
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      // ONE corpus tokenize pass: the checkpointed postings feed the idf
      // table AND the scorer (identical values — r16; was one private
      // tokenize per consumer)
      val postings = Materialize.local(Retrieval.buildPostings(docs, "doc_id", "text"))
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_q3", idfValuesRows(idf))
      Retrieval.bm25TopKWithIdf(docs, "doc_id", "text",
          queries, "query_id", "qtext", idf, k = 10,
          precomputedPostings = Some(postings))
        .orderBy("query_id", "rank")
    }),
    // ---- hybrid retrieval: RRF fusion of a dense ANN list and a
    //      lexical BM25 list over the SAME corpus id space (doc_id ==
    //      vec_id in the testdata) — rank-based, so the incomparable
    //      score scales never need calibration
    "hybrid_rrf_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "query_id", "qv", k = 10,
        metric = VectorFunctions.dot, scoreName = "dot")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries5(s)
      // driver-computed idf literals keep the lexical leg's ln out of
      // the hash-compared surface (see bm25_topk); one shared tokenize
      // pass via the checkpointed postings (r16)
      val postings = Materialize.local(Retrieval.buildPostings(docs, "doc_id", "text"))
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_q5", idfValuesRows(idf))
      val lexical = Retrieval.bm25TopKWithIdf(docs, "doc_id", "text",
        queries, "query_id", "qtext", idf, k = 10,
        precomputedPostings = Some(postings))
      Retrieval.rrfFuse(Seq(dense, lexical), k = 10)
        .orderBy("query_id", "rank")
    }),
    // ---- retrieval: conjunctive (AND) BM25 — docs must match EVERY
    //      query term; the matched-term count falls out of the scoring
    //      aggregate and compares against the per-query term total
    "bm25_topk_all" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      // same driver-computed idf discipline as bm25_topk (one shared
      // tokenize pass, r16)
      val postings = Materialize.local(Retrieval.buildPostings(docs, "doc_id", "text"))
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_q3", idfValuesRows(idf))
      Retrieval.bm25TopKWithIdf(docs, "doc_id", "text",
          queries, "query_id", "qtext", idf, k = 10, requireAllTerms = true,
          precomputedPostings = Some(postings))
        .orderBy("query_id", "rank")
    }),
    // ---- retrieval over the STREAMING-BUILT index: two micro-batch
    //      slices flow through applyBm25IndexBatch (the bm25IndexStream
    //      foreachBatch body — versioned state + _CURRENT commit), then
    //      the committed postings are scored with bm25TopKFromPostings.
    //      No zero-token docs exist in the corpus, so postings-derived
    //      (N, avgdl) equal the corpus stats and the bm25_topk oracle
    //      chain is the exact oracle; same literal-idf discipline
    "bm25_topk_indexed" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      val statePath = java.nio.file.Files
        .createTempDirectory("graft_bm25idx").toString
      StreamingOps.applyBm25IndexBatch(s,
        docs.filter(col("doc_id") % 2 === 0), 0L, "text", "doc_id", statePath)
      StreamingOps.applyBm25IndexBatch(s,
        docs.filter(col("doc_id") % 2 =!= 0), 1L, "text", "doc_id", statePath)
      val postings = StreamingOps.readState(s, statePath)
        .getOrElse(sys.error(s"no committed bm25 index at $statePath"))
      // idf from the COMMITTED postings (identical values: the index's
      // per-batch slices are disjoint by id, so per-term row counts ARE
      // the corpus df) — the old form re-tokenized the whole corpus for
      // the idf table on top of the index build (r16)
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_q3i", idfValuesRows(idf))
      Retrieval.bm25TopKFromPostingsWithIdf(postings,
          queries, "query_id", "qtext", idf, k = 10)
        .orderBy("query_id", "rank")
    }),
    // ---- composite training-data pipeline: quality-filter documents then
    //      aggregate per source (filter pushdown + hash agg)
    "quality_filter" -> ((s, dir) => {
      val d = graft.engine.Partitioning.spreadByKey(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")), col("doc_id"))
      d.withColumn("q", TextFunctions.qualityScore(col("text")))
        .filter(col("q") >= 0.8)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("source")
    }),
    // ---- dedup: corpus-wide boilerplate-line removal. The planted
    //      sentence heads EVERY doc (⇒ > maxDocs distinct docs), so it
    //      is stripped from all of them — plus any sentence the corpus
    //      naturally repeats across more than maxDocs docs
    "boilerplate_removal" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared boilerplate notice. "), col("text")).as("text"))
      Dedup.boilerplateRemove(d, "text", "doc_id", maxDocs = 5, sep = ". ")
        .orderBy("doc_id")
    }),
    // ---- tokenizer sizing: corpus coverage of the top-k vocabularies
    //      (count desc, term asc), exact integer ppm
    "vocab_coverage" -> ((s, dir) => {
      Vocab.coverageCurve(
          t(s, dir, "documents").filter(col("doc_id") < 2000),
          "text", Seq(5, 10, 20))
        .orderBy("k")
    }),
    // ---- Unicode NFC normalization (native NfcNormalize expression):
    //      decomposed combining sequences (planted deterministically —
    //      the driver corpus is ASCII) compose to their canonical
    //      precomposed forms; DuckDB's nfc_normalize computes the
    //      identical TR15 form, so lengths and tails compare exactly
    "nfc_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 500)
      val raw = concat(col("text"), lit(nfcGateSuffix))
      d.select(col("doc_id"),
          length(raw).cast(LongType).as("len_before"),
          TextFunctions.nfcNormalize(raw).as("_norm"))
        .select(col("doc_id"), col("len_before"),
          length(col("_norm")).cast(LongType).as("len_after"),
          expr("right(_norm, 10)").as("tail"))
        .orderBy("doc_id")
    }),
    // ---- graded contamination: per-doc fraction of distinct n-grams
    //      shared with the probe set (the threshold-able memorization
    //      signal; contaminated == ratio > 0). Counts are exact longs,
    //      the ratio one IEEE division — oracle recomputes exactly
    "ngram_overlap_ratio" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = d.filter(col("doc_id") < 10).select(col("text"))
      Decontamination.overlapStats(d, "text", "doc_id", probes, "text", n = 3)
        .orderBy("doc_id")
    }),
    // ---- n-gram novelty: the new-information rate per doc in crawl
    //      order — distinct word trigrams first seen by this doc over
    //      its total; re-crawls/boilerplate → 0, fresh content → high
    "ngram_novelty" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      Vocab.ngramNovelty(d, "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // ---- distinct-n corpus diversity per source (Li et al. 2016):
    //      distinct n-gram instances over total — templated sources
    //      score low; exact integers, fp-based distinct (2⁻⁶⁴ argument)
    "distinct_ngram_ratio" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("text"))
      Vocab.distinctNgramRatio(d, "source", "text", ns = Seq(1, 2))
        .orderBy("source", "n")
    }),
    // ---- PII redaction: plant deterministic email/phone/IP spans, then
    //      count and redact them (patterns are RE2-compatible so DuckDB
    //      computes the identical spans)
    "pii_redaction" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast(StringType), lit("@example.com or 555-123-4567 at 10.0.0."),
        (col("doc_id") % 256).cast(StringType)))
      planted.select(
        col("doc_id"),
        TextFunctions.patternCount(col("text"), TextFunctions.EmailPattern).as("n_email"),
        TextFunctions.patternCount(col("text"), TextFunctions.PhonePattern).as("n_phone"),
        length(TextFunctions.redact(col("text"))).cast(LongType).as("redacted_len")
      ).orderBy("doc_id")
    }),
  )

  def oracles: Map[String, String] = Map(
    "text_quality" ->
      """WITH f AS (
        | SELECT doc_id, text,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens,
        |  CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |       ELSE 0.0 END AS punct_ratio,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        | FROM documents
        |), g AS (
        | SELECT doc_id, n_tokens, punct_ratio,
        |  CASE WHEN len(toks) > 0
        |       THEN CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are','was','from'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |       ELSE 0.0 END AS stopword_ratio
        | FROM f
        |)
        |SELECT doc_id,
        | CAST(n_tokens AS BIGINT) AS n_tokens,
        | round(punct_ratio, 4) AS punct_ratio,
        | round(stopword_ratio, 4) AS stopword_ratio,
        | round((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
        |     + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.8 THEN 1.0 ELSE 0.0 END) * 0.4
        |     + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2, 2) AS quality
        |FROM g ORDER BY doc_id""".stripMargin,
    // same FNV-1a-per-token bucket (computed once per DISTINCT token —
    // the synthetic vocabulary is small); the 1024-row weight table is
    // the gate-registered driver-computed literal VALUES (identical
    // rows feed the Spark plan); same decimal per-doc sums
    "dsir_scores" -> dsirOracle(),
    // same FNV-per-distinct-token buckets as dsir_scores; bigrams by
    // adjacent positions; the (c2+1, c1+1024) → weight lookups are the
    // gate-registered driver-computed literal VALUES (identical rows
    // feed the Spark plan — counts stay engine-side and exact); summed
    // exactly; mean = CAST(sum AS DOUBLE)/n
    "lm_scores" -> lmOracle(),
    // whitespace tokens of lowercased text (the library-wide rule);
    // the vocab cut's boundary ties break to ascending term on both
    // sides; zero-token docs restore via the left join with null rate
    "vocab_oov" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents
        |), tok AS (
        | SELECT doc_id, unnest(toks) AS term FROM d
        |), vocab AS (
        | SELECT term FROM (
        |  SELECT term, count(*) AS cnt FROM tok GROUP BY 1
        |  ORDER BY cnt DESC, term ASC LIMIT 1000)
        |), pd AS (
        | SELECT tok.doc_id, count(*) AS nt,
        |  sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_o
        | FROM tok LEFT JOIN vocab v ON tok.term = v.term
        | GROUP BY 1
        |)
        |SELECT doc.doc_id,
        | CAST(COALESCE(pd.nt, 0) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(pd.n_o, 0) AS BIGINT) AS n_oov,
        | CASE WHEN pd.nt > 0 THEN CAST(pd.n_o AS DOUBLE) / CAST(pd.nt AS DOUBLE) END AS oov_rate
        |FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id
        |ORDER BY doc.doc_id""".stripMargin,
    "stopword_df_topk" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents
        |), tok AS (
        | SELECT DISTINCT doc_id, unnest(toks) AS term FROM d
        |)
        |SELECT term, CAST(count(*) AS BIGINT) AS df
        |FROM tok GROUP BY 1
        |ORDER BY df DESC, term ASC LIMIT 30""".stripMargin,
    // same FNV-per-distinct-token buckets as dsir_scores (salt ':qm');
    // the 1024-row weight table is the gate-registered literal VALUES;
    // margin = bias + exact decimal dot, zero-token docs keep the bias
    // via the left join
    "quality_margin" -> qualityMarginOracle(),
    // every epoch of the fixed-point trainer unrolled, then the final
    // weight table serves the full corpus — see qualityTrainServeOracleSql
    "quality_train_serve" -> qualityTrainServeOracleSql(epochs = 3,
      lrPpm = 200000L),
    // the grid x reliability fold + argmin, temperatures literal on
    // both sides — see qualityTemperatureOracleSql
    "quality_temperature" ->
      qualityTemperatureOracleSql(qualityTemperatureGrid),
    // margin chain (n_chars-filtered) → literal sigmoid → equal-width
    // buckets; HUGEINT sums, // ≡ div on these non-negative operands
    "quality_calibration" -> qualityCalibrationOracleSql,
    // equal-mass edges via quantile_cont, same reduction + ECE fold
    "quality_calibration_quantile" ->
      qualityCalibrationQuantileOracleSql(buckets = 10),
    // staged divergence diagnostics — see the matching `queries` block
    "qm_diag_tokens" ->
      s"""WITH base AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         | FROM documents WHERE doc_id < 1000
         |)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_len
         |FROM base ORDER BY 1""".stripMargin,
    "qm_diag_buckets" ->
      s"""WITH base AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         | FROM documents WHERE doc_id < 1000
         |), tok AS (
         | SELECT doc_id, unnest(toks) AS token FROM base
         |), vb AS (
         | SELECT token,
         |  $fnvBucketExpr
         | FROM (SELECT DISTINCT token, token || ':qm' AS s FROM tok)
         |), tk AS (
         | SELECT t.doc_id, v.bucket FROM tok t JOIN vb v ON t.token = v.token
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
         |FROM tk GROUP BY 1 ORDER BY 1""".stripMargin,
    "qm_diag_weights" ->
      s"""SELECT CAST(bucket AS BIGINT) AS bucket,
         | CAST(weight_e6 AS BIGINT) AS weight_e6
         |FROM (VALUES
         |   ${dsirWeightRows(qmGateWeights)}) AS v(bucket, weight_e6)
         |ORDER BY 1""".stripMargin,
    "bm25_diag_idf" -> (gateTableOrError("bm25_idf_q3") match {
      case Left(err) => err
      case Right(rows) =>
        s"""SELECT term, CAST(idf_s AS BIGINT) AS idf_s
           |FROM (VALUES
           |   $rows) AS v(term, idf_s)
           |ORDER BY 1""".stripMargin
    }),
    // tf·(N/df) distinctive-term rank via the same HALF_UP integer
    // kernel; (score DESC, term ASC) totally orders on both sides
    "distinctive_terms" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents WHERE doc_id < 500
        |), tok AS (
        | SELECT doc_id, unnest(toks) AS term FROM d
        |), tf AS (
        | SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dft AS (
        | SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), st AS (
        | SELECT count(*) AS n FROM d
        |), sc AS (
        | SELECT tf.doc_id, tf.term,
        |  CAST((2 * tf.tf * st.n * 1000000 + dft.df) // (2 * dft.df) AS BIGINT) AS score_e6
        | FROM tf JOIN dft ON tf.term = dft.term, st
        |)
        |SELECT doc_id, term, score_e6,
        | CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, term ASC) AS INTEGER) AS rank
        |FROM sc QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // adjacent-position bigrams (lm_scores' bg pattern on raw tokens),
    // marginals and total reduced from the bigram histogram, lift as
    // the fixed operand tree (c_xy·N)/(c_x·c_y) in doubles — identical
    // IEEE ops on identical integer operands; ties total-ordered by
    // (w1, w2) on both sides
    "collocations_topk" ->
      """WITH base AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents WHERE doc_id < 2000
        |), tok AS (
        | SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS token
        | FROM base
        |), bg AS (
        | SELECT a.token AS w1, b.token AS w2
        | FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |), hist AS (
        | SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2
        |), fx AS (
        | SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM hist GROUP BY 1
        |), fy AS (
        | SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM hist GROUP BY 1
        |), tot AS (
        | SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM hist
        |)
        |SELECT h.w1, h.w2, h.c_xy, fx.c_x, fy.c_y,
        | (CAST(h.c_xy AS DOUBLE) * CAST(tot.n AS DOUBLE))
        |   / (CAST(fx.c_x AS DOUBLE) * CAST(fy.c_y AS DOUBLE)) AS lift
        |FROM hist h
        |JOIN fx USING (w1)
        |JOIN fy USING (w2)
        |CROSS JOIN tot
        |WHERE h.c_xy >= 5
        |ORDER BY lift DESC, w1, w2
        |LIMIT 50""".stripMargin,
    // correlated prefix counts over the same whitespace-token rule —
    // the K-pass form the operator's first-seen reduction avoids
    "vocab_growth" ->
      """WITH tok AS (
        | SELECT CAST(doc_id AS BIGINT) AS id,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS t
        | FROM documents
        |), cps AS (
        | SELECT unnest([50, 100, 200, 400]) AS c
        |)
        |SELECT CAST(c AS BIGINT) AS prefix_lt,
        | (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM tok WHERE id < c) AS distinct_terms,
        | (SELECT CAST(count(*) AS BIGINT) FROM tok WHERE id < c) AS total_tokens
        |FROM cps ORDER BY prefix_lt""".stripMargin,
    "token_frequencies" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM (
        | SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS token
        | FROM documents
        |)
        |GROUP BY token
        |ORDER BY freq DESC, token
        |LIMIT 25""".stripMargin,
    "text_gopher_quality" ->
      """WITH m AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tok,
        |  CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) AS n_hash,
        |  CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0 AS n_ell,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS BIGINT) AS n_bullet,
        |  CAST(len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$')) AS BIGINT) AS n_elline,
        |  CAST(len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS BIGINT) AS n_alpha
        | FROM documents
        |), r AS (
        | SELECT doc_id,
        |  CASE WHEN n_tok > 0 THEN (n_hash + n_ell) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
        |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS bullet_frac,
        |  CASE WHEN n_lines > 0 THEN CAST(n_elline AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS ellipsis_frac,
        |  CASE WHEN n_tok > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS alpha_ratio
        | FROM m
        |)
        |SELECT doc_id,
        | ROUND(symbol_ratio, 4) AS symbol_ratio,
        | ROUND(bullet_frac, 4) AS bullet_frac,
        | ROUND(ellipsis_frac, 4) AS ellipsis_frac,
        | ROUND(alpha_ratio, 4) AS alpha_ratio,
        | (symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |   AND alpha_ratio >= 0.8) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // CJK-aware variants: token counts and alpha words mirrored with the
    // same explicit codepoint ranges as graft.plans.CjkTokenCount (each
    // CJK codepoint = one word, and alphabetic); quality drops the
    // English-stopword component (weights 0.6 len / 0.4 punct)
    "text_gopher_quality_cjk" ->
      """WITH m AS (
        | SELECT doc_id, text || ' 你好世界 abc漢字です test' AS t FROM documents
        |), c AS (
        | SELECT doc_id, t,
        |  CAST(len(regexp_extract_all(t, '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]'))
        |     + len(regexp_extract_all(t, '[^ \t\n\x{0B}\f\r\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]+')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(t, '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]'))
        |     + len(regexp_extract_all(t, '[^ \t\n\x{0B}\f\r\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]*[A-Za-z][^ \t\n\x{0B}\f\r\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]*')) AS BIGINT) AS n_alpha,
        |  CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE) AS n_hash,
        |  CAST(length(t) - length(replace(t, '...', '')) AS DOUBLE) / 3.0 AS n_ell,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT) AS n_bullet,
        |  CAST(len(regexp_extract_all(t, '(?m)(\.\.\.|…)[ \t]*$')) AS BIGINT) AS n_elline,
        |  CASE WHEN length(t) > 0
        |       THEN CAST(length(regexp_replace(t, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(t) AS DOUBLE)
        |       ELSE 0.0 END AS punct_ratio
        | FROM m
        |), r AS (
        | SELECT doc_id, n_tok, punct_ratio,
        |  CASE WHEN n_tok > 0 THEN (n_hash + n_ell) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
        |  CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS bullet_frac,
        |  CASE WHEN n_lines > 0 THEN CAST(n_elline AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS ellipsis_frac,
        |  CASE WHEN n_tok > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS alpha_ratio
        | FROM c
        |)
        |SELECT doc_id,
        | n_tok AS cjk_tokens,
        | ROUND(symbol_ratio, 4) AS symbol_ratio,
        | ROUND(alpha_ratio, 4) AS alpha_ratio,
        | (symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |   AND alpha_ratio >= 0.8) AS keep,
        | ROUND((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.6
        |     + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) * 0.4, 2) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the recursive CTE replays SubwordCount's greedy loop exactly —
    // see subwordChainSql
    "subword_count" ->
      s"""WITH RECURSIVE ${subwordChainSql(" WHERE doc_id < 1000")}
         |SELECT doc_id, subword_tokens, ws_tokens
         |FROM ns ORDER BY doc_id""".stripMargin,
    // the C4 line rules replayed verbatim: ≥3 nonempty whitespace
    // tokens AND a terminal-punctuation tail after rtrim; doc drops on
    // case-insensitive 'lorem ipsum', a curly brace, or zero kept lines
    "c4_line_clean" ->
      s"""WITH d AS (
         | SELECT doc_id, $c4GateTextSql AS t
         | FROM documents WHERE doc_id < 2000
         |), l AS (
         | SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM d
         |), k AS (
         | SELECT doc_id, t, lines,
         |  list_filter(lines, x ->
         |    len(list_filter(string_split_regex(trim(x), '\\s+'), w -> w <> '')) >= 3
         |    AND regexp_matches(rtrim(x), '[.!?"]$$')) AS kept
         | FROM l
         |)
         |SELECT doc_id,
         | COALESCE(array_to_string(kept, chr(10)), '') AS clean,
         | CAST(len(kept) AS BIGINT) AS kept_lines,
         | CAST(len(lines) AS BIGINT) AS total_lines,
         | ((NOT contains(lower(t), 'lorem ipsum'))
         |   AND (NOT contains(t, '{')) AND len(kept) >= 1) AS doc_pass
         |FROM k ORDER BY doc_id""".stripMargin,
    // distinct-word histogram → character-pair explosion over the
    // HISTOGRAM rows only (the BPE compression), weighted sums, same
    // (count desc, a, b) cut; substr is char-based in both engines
    "bpe_pair_stats" ->
      """WITH d AS (
        | SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents WHERE doc_id < 2000
        |), tok AS (
        | SELECT unnest(toks) AS w FROM d
        |), wc AS (
        | SELECT w, count(*) AS wc FROM tok GROUP BY 1
        |), p AS (
        | SELECT wc,
        |  unnest(list_transform(range(1, length(w)),
        |    i -> [substr(w, i, 1), substr(w, i + 1, 1)])) AS pr
        | FROM wc WHERE length(w) >= 2
        |)
        |SELECT pr[1] AS a, pr[2] AS b, CAST(sum(wc) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, a, b
        |LIMIT 50""".stripMargin,
    // winning pair by (count desc, a, b); replace() is
    // leftmost-nonoverlapping in both engines; chr(1) stands in for
    // the merged symbol during the recount and translates back on emit
    "bpe_merge_round2" ->
      """WITH d AS (
        | SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        | FROM documents WHERE doc_id < 2000
        |), tok AS (
        | SELECT unnest(toks) AS w FROM d
        |), wc AS (
        | SELECT w, count(*) AS wc FROM tok GROUP BY 1
        |), p1 AS (
        | SELECT wc,
        |  unnest(list_transform(range(1, length(w)),
        |    i -> [substr(w, i, 1), substr(w, i + 1, 1)])) AS pr
        | FROM wc WHERE length(w) >= 2
        |), s1 AS (
        | SELECT pr[1] AS a, pr[2] AS b, CAST(sum(wc) AS BIGINT) AS c
        | FROM p1 GROUP BY 1, 2
        |), win AS (
        | SELECT a, b FROM s1 ORDER BY c DESC, a, b LIMIT 1
        |), w2 AS (
        | SELECT replace(wc.w, win.a || win.b, chr(1)) AS w, wc.wc,
        |  win.a AS wa, win.b AS wb
        | FROM wc, win
        |), p2 AS (
        | SELECT wc, wa, wb,
        |  unnest(list_transform(range(1, length(w)),
        |    i -> [substr(w, i, 1), substr(w, i + 1, 1)])) AS pr
        | FROM w2 WHERE length(w) >= 2
        |)
        |SELECT
        | CASE WHEN pr[1] = chr(1) THEN wa || wb ELSE pr[1] END AS a,
        | CASE WHEN pr[2] = chr(1) THEN wa || wb ELSE pr[2] END AS b,
        | CAST(sum(wc) AS BIGINT) AS pair_count
        |FROM p2 GROUP BY 1, 2
        |ORDER BY pair_count DESC, a, b
        |LIMIT 50""".stripMargin,
    // the encode chain folded verbatim (bpeEncodeChainSql — the same
    // ranked literal merges as the Spark expression tree): symbols per
    // word = spaces + 1 after the chain, summed per doc; word_tokens is
    // the shared whitespace rule on the raw text
    "bpe_encode_count" ->
      s"""WITH d AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS rawts,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
         | FROM documents WHERE doc_id < 2000
         |)
         |SELECT doc_id,
         | CAST(len(rawts) AS BIGINT) AS word_tokens,
         | CAST(coalesce(list_sum(list_transform(ws, w ->
         |   1 + length($bpeEncodeChainSql)
         |     - length(replace($bpeEncodeChainSql, ' ', '')))), 0) AS BIGINT) AS bpe_tokens
         |FROM d ORDER BY doc_id""".stripMargin,
    // per-doc counts as in bpe_encode_count, summed per source; the
    // ratio is exact scaled-integer division
    "tokenizer_fertility" ->
      s"""WITH d AS (
         | SELECT source,
         |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS rawts,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
         | FROM documents WHERE doc_id < 2000
         |), c AS (
         | SELECT source,
         |  CAST(len(rawts) AS BIGINT) AS w,
         |  CAST(coalesce(list_sum(list_transform(ws, w ->
         |    1 + length($bpeEncodeChainSql)
         |      - length(replace($bpeEncodeChainSql, ' ', '')))), 0) AS BIGINT) AS b
         | FROM d
         |)
         |SELECT source, CAST(sum(w) AS BIGINT) AS word_tokens,
         | CAST(sum(b) AS BIGINT) AS bpe_tokens,
         | CAST(CAST(sum(b) AS BIGINT) * 1000000 // greatest(CAST(sum(w) AS BIGINT), 1) AS BIGINT) AS fertility_ppm
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // phrase occurrences replayed on the window STRINGS (the
    // dup_window_removal convention — join-by-space is injective over
    // whitespace tokens): every 6-token window equal to the needle,
    // counted and min-positioned per doc
    "phrase_match" ->
      s"""WITH d AS (
         | SELECT doc_id, $dupRemovalTextSql AS t
         | FROM documents WHERE doc_id < 2000
         |), tk AS (
         | SELECT doc_id, list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '') AS toks
         | FROM d
         |), w AS (
         | SELECT doc_id, CAST(p AS BIGINT) AS s,
         |  array_to_string(list_slice(toks, CAST(p + 1 AS BIGINT), CAST(p + 6 AS BIGINT)), ' ') AS win
         | FROM tk, UNNEST(range(0, greatest(len(toks) - 6, 0) + 1)) AS u(p)
         | WHERE len(toks) > 0
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, min(s) AS first_pos
         |FROM w WHERE win = 'gamma delta epsilon zeta eta theta'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Viterbi positions unrolled; see unigramOracleSql
    "unigram_segment" -> unigramOracleSql(unigramGatePieces, 1000L, 12),
    // same counts, same staged floors in HUGEINT, same rank tie-break
    "chi2_terms" ->
      """WITH tok AS (
        | SELECT source AS grp,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        | FROM documents WHERE source IS NOT NULL
        |), gt AS (
        | SELECT grp, term, CAST(count(*) AS BIGINT) AS a FROM tok GROUP BY 1, 2
        |), tt AS (
        | SELECT term, CAST(sum(a) AS BIGINT) AS t_all FROM gt GROUP BY 1 HAVING sum(a) >= 1
        |), gg AS (
        | SELECT grp, CAST(sum(a) AS BIGINT) AS g_all FROM gt GROUP BY 1
        |), nn AS (
        | SELECT CAST(sum(a) AS BIGINT) AS n FROM gt
        |), cells AS (
        | SELECT gt.grp, gt.term, gt.a, tt.t_all - gt.a AS b, gg.g_all - gt.a AS c,
        |  nn.n - tt.t_all - gg.g_all + gt.a AS d, nn.n
        | FROM gt JOIN tt ON tt.term = gt.term JOIN gg ON gg.grp = gt.grp, nn
        |), staged AS (
        | SELECT grp, term,
        |  abs(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) AS m,
        |  CAST((a + b) AS HUGEINT) * (c + d) AS den1,
        |  CAST((a + c) AS HUGEINT) * (b + d) AS den2, n
        | FROM cells
        |), scored AS (
        | SELECT grp, term,
        |  CAST(((CAST(n AS HUGEINT) * m) // den1) * m * 1000000 // den2 AS BIGINT) AS chi2_e6
        | FROM staged
        |)
        |SELECT grp AS source, term, chi2_e6,
        | CAST(row_number() OVER (PARTITION BY grp ORDER BY chi2_e6 DESC, term) AS INTEGER) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY source, rank""".stripMargin,
    // per-pattern overlap counts replayed as a position scan (every
    // start index checked — the oracle pays O(patterns × text) to
    // verify the automaton's O(text) answer); rules_fired is a plain
    // contains per pattern
    "blocklist_phrases" ->
      """WITH pats(p) AS (
        | VALUES ('table'), ('table part'), ('scan slow'), ('a a'), ('merge batch')
        |), h AS (
        | SELECT d.doc_id,
        |  CAST(sum(CASE WHEN length(d.text) >= length(pats.p)
        |   THEN coalesce(list_sum(list_transform(
        |          range(1, length(d.text) - length(pats.p) + 2),
        |          i -> CASE WHEN substr(d.text, i, length(pats.p)) = pats.p
        |               THEN 1 ELSE 0 END)), 0)
        |   ELSE 0 END) AS BIGINT) AS total_hits,
        |  CAST(sum(CASE WHEN contains(d.text, pats.p) THEN 1 ELSE 0 END) AS BIGINT) AS rules_fired
        | FROM documents d CROSS JOIN pats GROUP BY 1
        |)
        |SELECT doc_id, total_hits, rules_fired FROM h ORDER BY doc_id""".stripMargin,
    // the same composite key, one ordered window sum per source
    "quality_token_quota" ->
      """WITH d AS (
        | SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS nt
        | FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL
        |), k AS (
        | SELECT source, doc_id, nt,
        |  (100000 - nt) * 1099511627776 + doc_id AS ok
        | FROM d
        |), c AS (
        | SELECT source, doc_id, nt,
        |  CAST(sum(nt) OVER (PARTITION BY source ORDER BY ok
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM k
        |)
        |SELECT source, doc_id, nt AS n_tokens, cum AS cum_tokens,
        | (cum <= 500) AS keep
        |FROM c ORDER BY source, doc_id""".stripMargin,
    // per-type daily counts, then one exact rational per type
    "burstiness_by_type" ->
      """WITH pd AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(count(*) AS BIGINT) AS x
        | FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), agg AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_periods,
        |  CAST(sum(x) AS BIGINT) AS total, CAST(sum(x * x) AS BIGINT) AS sx2
        | FROM pd GROUP BY 1
        |)
        |SELECT event_type, n_periods, total,
        | CAST((n_periods * sx2 - total * total) * 1000000 // (n_periods * total) AS BIGINT) AS fano_e6
        |FROM agg ORDER BY 1""".stripMargin,
    // same regex, same lowercase exact-token block list; 'classify.'
    // strips to 'classify.' token — list_has_any is exact-element, so
    // the planted near-miss never trips the block
    "c4_policy_filters" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |   WHEN 0 THEN text || ' verboten classify.'
        |   WHEN 1 THEN text || ' One more sentence here. And another one.'
        |   ELSE text
        |  END AS t
        | FROM documents WHERE doc_id < 2000
        |), f AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[^.!?]*[.!?]+')) AS BIGINT) AS n_sentences,
        |  list_has_any(
        |    list_filter(string_split_regex(trim(lower(t)), '\s+'), x -> x <> ''),
        |    ['verboten', 'forbiddenterm']) AS has_blocked
        | FROM d
        |)
        |SELECT doc_id, n_sentences, has_blocked,
        | ((NOT has_blocked) AND n_sentences >= 2) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // same whitespace tokenization, first 16 list elements re-joined
    // with single spaces — identical normalization on both sides
    "truncate_tokens" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
        | FROM documents
        |)
        |SELECT doc_id,
        | array_to_string(ts[1:16], ' ') AS head16,
        | CAST(least(len(ts), 16) AS BIGINT) AS n_kept
        |FROM tk ORDER BY doc_id""".stripMargin,
    // rule mirrored with explicit codepoint ranges (same ranges as
    // graft.plans.CjkTokenCount — NOT \p{Han}, whose script table could
    // drift between engines): tokens = CJK codepoints, each counted
    // once, + maximal runs of non-ws non-CJK codepoints
    "token_count_cjk" ->
      """WITH m AS (
        | SELECT doc_id, text, text || ' 你好世界 abc漢字です test' AS mixed
        | FROM documents
        |)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(mixed, '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]'))
        |    + len(regexp_extract_all(mixed, '[^ \t\n\x{0B}\f\r\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]+')) AS BIGINT) AS cjk_tokens,
        | CAST(len(regexp_extract_all(text, '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]'))
        |    + len(regexp_extract_all(text, '[^ \t\n\x{0B}\f\r\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]+')) AS BIGINT) AS plain_tokens,
        | CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens
        |FROM m ORDER BY doc_id""".stripMargin,
    // integer length sums divided in double; shingles over the same
    // normalize chain the fingerprint/dedup oracles use
    "text_shape" ->
      """WITH f AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM documents
        |)
        |SELECT doc_id,
        | CASE WHEN len(toks) > 0
        |      THEN round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4)
        |      ELSE 0.0 END AS mean_tok_len,
        | CAST(CASE WHEN length(nt) <= 5 THEN 1 ELSE length(nt) - 4 END AS BIGINT) AS n_5grams,
        | CASE WHEN length(nt) <= 5 THEN nt ELSE substr(nt, 1, 5) END AS first_5gram
        |FROM f ORDER BY doc_id""".stripMargin,
    // mode() count == max multiplicity regardless of which tied value
    // mode picks; list_aggregate(NULL-safe: empty list -> NULL mode -> 0)
    // words = the shared token rule, sentences = the terminal-punct
    // spans, syllables = vowel groups of the lowercased text; both
    // ratio divisions truncate on positive operands
    "readability_scores" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
        | FROM documents
        |), p AS (
        | SELECT doc_id, array_to_string(list_transform(range(1, len(ts) + 1),
        |   i -> ts[i] || CASE WHEN i % 7 = 0 THEN '.' ELSE '' END), ' ') AS text
        | FROM toks
        |), f AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text, '[^.!?]*[.!?]+')) AS BIGINT) AS sn,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        | FROM p
        |)
        |SELECT doc_id, w AS words, sn AS sentences, y AS syllables,
        | CAST(206835 - (1015 * w) // sn - (84600 * y) // w AS BIGINT) AS flesch_e3
        |FROM f WHERE w > 0 AND sn > 0 ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH base AS (
        | SELECT doc_id, string_split(text, chr(10)) AS ls,
        |        list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts
        | FROM documents
        |), g AS (
        | SELECT doc_id, ls, ts,
        |  CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')]
        |       ELSE list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1], ' ')) END AS gs
        | FROM base
        |)
        |SELECT doc_id,
        | round(CASE WHEN len(ls) > 0
        |            THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE)
        |            ELSE 0.0 END, 4) AS dup_line_frac,
        | CAST(len(list_filter(ts, x -> x = list_aggregate(ts, 'mode'))) AS INTEGER) AS top_tok,
        | round(CASE WHEN len(ts) > 0
        |            THEN CAST(len(list_filter(ts, x -> x = list_aggregate(ts, 'mode'))) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
        |            ELSE 0.0 END, 4) AS top_tok_ratio,
        | round(CASE WHEN len(ts) >= 2
        |            THEN CAST(len(list_filter(gs, x -> x = list_aggregate(gs, 'mode'))) AS DOUBLE) / CAST(len(gs) AS DOUBLE)
        |            ELSE 0.0 END, 4) AS top_2gram_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH f AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        | FROM documents
        |), sc AS (
        | SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS s_en,
        |  len(list_filter(toks, t -> t IN ('el','la','de','que','los'))) AS s_es,
        |  len(list_filter(toks, t -> t IN ('le','la','les','des','est'))) AS s_fr,
        |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de
        | FROM f
        |)
        |SELECT doc_id,
        | CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
        |      WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
        |      WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
        |      WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
        |      ELSE 'und' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    // script rules mirrored with the same explicit codepoint ranges and
    // the same fraction arithmetic; the fall-through repeats the marker
    // CASE of the lang_id oracle
    "lang_id_script" ->
      """WITH m AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |   WHEN 0 THEN substr(text, 1, 20) || ' 这是一段中文文本用于检测语言识别功能的正确性需要足够多的汉字'
        |   WHEN 1 THEN substr(text, 1, 20) || ' これはにほんごのテキストですかなもじがたくさんふくまれています'
        |   WHEN 2 THEN substr(text, 1, 20) || ' 이것은한국어텍스트입니다한글음절이충분히많이포함되어있습니다'
        |   ELSE text END AS t
        | FROM documents
        |), c AS (
        | SELECT doc_id, t,
        |  CAST(len(regexp_extract_all(t, '[^ \t\n\x{0B}\f\r]')) AS DOUBLE) AS nonws,
        |  CAST(len(regexp_extract_all(t, '[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{F900}-\x{FAFF}\x{20000}-\x{2FFFF}]')) AS DOUBLE) AS han,
        |  CAST(len(regexp_extract_all(t, '[\x{3040}-\x{30FF}]')) AS DOUBLE) AS kana,
        |  CAST(len(regexp_extract_all(t, '[\x{AC00}-\x{D7AF}]')) AS DOUBLE) AS hangul
        | FROM m
        |), f AS (
        | SELECT doc_id, nonws, han, kana, hangul,
        |  list_filter(string_split_regex(trim(lower(t)), '\s+'), x -> x <> '') AS toks
        | FROM c
        |), sc AS (
        | SELECT doc_id, nonws, han, kana, hangul,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('le','la','les','des','est'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de
        | FROM f
        |)
        |SELECT doc_id,
        | CASE WHEN nonws > 0 AND kana / nonws > 0.05 AND (han + kana) / nonws >= 0.3 THEN 'ja'
        |      WHEN nonws > 0 AND hangul / nonws >= 0.3 THEN 'ko'
        |      WHEN nonws > 0 AND han / nonws >= 0.3 THEN 'zh'
        |      WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
        |      WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
        |      WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
        |      WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
        |      ELSE 'und' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    // per-line langId (same marker CASE as the lang_id oracle), majority
    // by (cnt desc, lang desc) — the operator's struct-max tie-break;
    // purity is the same long->double division order
    "lang_purity" ->
      """WITH l AS (
        | SELECT doc_id, line FROM (
        |  SELECT doc_id,
        |   unnest(string_split(text || chr(10) || 'le la les des est' || chr(10) || text,
        |     chr(10))) AS line
        |  FROM documents)
        | WHERE trim(line) <> ''
        |), f AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(line)), '\s+'), t -> t <> '') AS toks
        | FROM l
        |), sc AS (
        | SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS s_en,
        |  len(list_filter(toks, t -> t IN ('el','la','de','que','los'))) AS s_es,
        |  len(list_filter(toks, t -> t IN ('le','la','les','des','est'))) AS s_fr,
        |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de
        | FROM f
        |), cl AS (
        | SELECT doc_id,
        |  CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
        |       WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
        |       WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
        |       WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
        |       ELSE 'und' END AS ll
        | FROM sc
        |), c AS (
        | SELECT doc_id, ll, count(*) AS cnt FROM cl GROUP BY 1, 2
        |), m AS (
        | SELECT doc_id, ll, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS total FROM c
        |)
        |SELECT doc_id, ll AS majority_lang,
        | CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS purity
        |FROM m
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ll DESC) = 1
        |ORDER BY doc_id""".stripMargin,
    // kappa over the confusion cells of the two keep rules; n² and the
    // chance term ride HUGEINT; // truncates toward zero like BigInt
    "filter_agreement_kappa" ->
      """WITH l AS (
        | SELECT CASE WHEN n_chars >= 500 THEN 'T' ELSE 'F' END AS a,
        |  CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) >= 80 THEN 'T' ELSE 'F' END AS b
        | FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
        |), cell AS (
        | SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY 1, 2
        |), nn AS (
        | SELECT CAST(sum(c) AS HUGEINT) AS n FROM cell
        |), ag AS (
        | SELECT CAST(coalesce(sum(CASE WHEN a = b THEN c ELSE 0 END), 0) AS HUGEINT) AS agree FROM cell
        |), ma AS (
        | SELECT a, CAST(sum(c) AS HUGEINT) AS ca FROM cell GROUP BY 1
        |), mb AS (
        | SELECT b, CAST(sum(c) AS HUGEINT) AS cb FROM cell GROUP BY 1
        |), ch AS (
        | SELECT CAST(coalesce(sum(ma.ca * mb.cb), 0) AS HUGEINT) AS s
        | FROM ma JOIN mb ON ma.a = mb.b
        |)
        |SELECT CAST(nn.n AS BIGINT) AS n, CAST(ag.agree AS BIGINT) AS n_agree,
        | CAST(((nn.n * ag.agree - ch.s) * 1000000) // (nn.n * nn.n - ch.s) AS BIGINT) AS kappa_e6
        |FROM nn, ag, ch WHERE nn.n > 0 AND nn.n * nn.n <> ch.s""".stripMargin,
    // same replace chain: tags → spaces, literal entity decode with
    // &amp; last, whitespace collapse, trim; the collapse class is
    // the explicit [ \t\n\x0B\f\r] (== Java \s) because RE2's \s
    // excludes U+000B — both engines pin the identical literal class
    "strip_html" ->
      """WITH b AS (
        | SELECT doc_id,
        |  '<div id="' || doc_id::VARCHAR || '"><p>' || text
        |    || '</p>&amp; &lt;tail&gt;</div>' AS h
        | FROM documents WHERE doc_id < 500 AND text IS NOT NULL
        |), s1 AS (
        | SELECT doc_id, trim(regexp_replace(
        |   replace(replace(replace(replace(replace(
        |     regexp_replace(h, '<[^>]*>', ' ', 'g'),
        |     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |   '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
        | FROM b
        |)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS clean_nchars
        |FROM s1 ORDER BY doc_id""".stripMargin,
    // the sorted-rank Gini over per-source token masses; numerator
    // non-negative by the ascending sort so // and div agree
    "token_gini" ->
      """WITH m AS (
        | SELECT CAST(source AS VARCHAR) AS g,
        |  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS m
        | FROM documents WHERE source IS NOT NULL GROUP BY 1
        |), r AS (
        | SELECT m, row_number() OVER (ORDER BY m, g) AS i FROM m
        |), t AS (
        | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s,
        |  sum(CAST(i AS HUGEINT) * m) AS w
        | FROM r
        |)
        |SELECT n AS n_groups, s AS total_mass,
        | CAST(((2 * w - (n + 1) * CAST(s AS HUGEINT)) * 1000000)
        |   // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
        |FROM t WHERE s > 0""".stripMargin,
    // consecutive-day distinct-token Jaccard over the shared tokenize
    // rule; exact strings on the oracle side (Spark: fps, 2⁻⁶⁴)
    "vocab_churn_timeline" ->
      """WITH e AS (
        | SELECT epoch_us(ts) // 86400000000 AS p,
        |  unnest(list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(props), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS tok
        | FROM events WHERE ts IS NOT NULL
        |), pf AS (
        | SELECT DISTINCT p, tok FROM e
        |), sz AS (
        | SELECT p, CAST(count(*) AS BIGINT) AS n FROM pf GROUP BY 1
        |), pairs AS (
        | SELECT c.p AS p, pr.n AS n_prev, c.n AS n_cur
        | FROM sz c JOIN sz pr ON pr.p = c.p - 1
        |), com AS (
        | SELECT b.p, CAST(count(*) AS BIGINT) AS n_common
        | FROM pf a JOIN pf b ON a.tok = b.tok AND b.p = a.p + 1
        | GROUP BY 1
        |)
        |SELECT CAST(pairs.p AS BIGINT) AS period, n_prev, n_cur,
        | CAST(coalesce(com.n_common, 0) AS BIGINT) AS n_common,
        | CAST(coalesce(com.n_common, 0) * 1000000
        |   // (n_prev + n_cur - coalesce(com.n_common, 0)) AS BIGINT) AS jaccard_ppm
        |FROM pairs LEFT JOIN com ON com.p = pairs.p
        |ORDER BY 1""".stripMargin,
    "quality_filter" ->
      """WITH f AS (
        | SELECT source,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens,
        |  CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |       ELSE 0.0 END AS punct_ratio,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        | FROM documents
        |), g AS (
        | SELECT source, n_tokens, punct_ratio,
        |  CASE WHEN len(toks) > 0
        |       THEN CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are','was','from'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |       ELSE 0.0 END AS stopword_ratio
        | FROM f
        |), q AS (
        | SELECT source, n_tokens,
        |  round((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
        |      + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.8 THEN 1.0 ELSE 0.0 END) * 0.4
        |      + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2, 2) AS quality
        | FROM g
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |FROM q WHERE quality >= 0.8
        |GROUP BY source ORDER BY source""".stripMargin,
    "doc_fingerprint" ->
      """WITH norm AS (
        | SELECT trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM documents
        |), g AS (
        | SELECT CAST(count(*) AS BIGINT) AS group_size FROM norm GROUP BY nt
        |)
        |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
        |FROM g GROUP BY group_size ORDER BY group_size""".stripMargin,
    // a non-blank normalized line in > 5 distinct docs is removed from
    // every doc; blank (normalize to '') spans always kept
    "boilerplate_removal" ->
      """WITH d AS (
        | SELECT doc_id, 'shared boilerplate notice. ' || text AS text FROM documents
        |), p AS (
        | SELECT doc_id, generate_subscripts(string_split(text, '. '), 1) AS pos,
        |        unnest(string_split(text, '. ')) AS line
        | FROM d
        |), n AS (
        | SELECT doc_id, pos, line,
        |  trim(regexp_replace(regexp_replace(lower(line), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS nt
        | FROM p
        |), banned AS (
        | SELECT nt FROM n WHERE nt <> '' GROUP BY nt
        | HAVING count(DISTINCT doc_id) > 5
        |)
        |SELECT d.doc_id AS doc_id, COALESCE(g.cleaned, '') AS cleaned
        |FROM d LEFT JOIN (
        | SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS cleaned
        | FROM n WHERE nt = '' OR nt NOT IN (SELECT nt FROM banned)
        | GROUP BY doc_id
        |) g ON d.doc_id = g.doc_id
        |ORDER BY 1""".stripMargin,
    // same lowercased whitespace histogram as token_frequencies; the
    // rank order (count desc, term asc) is total on both sides
    "vocab_coverage" ->
      """WITH h AS (
        | SELECT t AS w, count(*) AS wc FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id < 2000
        | ) GROUP BY 1
        |), r AS (
        | SELECT w, wc, row_number() OVER (ORDER BY wc DESC, w) AS rn FROM h
        |), tot AS (
        | SELECT CAST(sum(wc) AS BIGINT) AS total FROM h
        |), ks(k) AS (
        | SELECT * FROM (VALUES (5), (10), (20)) v
        |)
        |SELECT CAST(ks.k AS BIGINT) AS k,
        | CAST(COALESCE(sum(r.wc), 0) AS BIGINT) AS covered_tokens,
        | CAST(any_value(tot.total) AS BIGINT) AS total_tokens,
        | CAST(COALESCE(sum(r.wc), 0) * 1000000 // greatest(any_value(tot.total), 1) AS BIGINT) AS coverage_ppm
        |FROM ks CROSS JOIN tot LEFT JOIN r ON r.rn <= ks.k
        |GROUP BY ks.k ORDER BY k""".stripMargin,
    // nchunks = 1 + ceil(max(0, n-32)/24) in integer arithmetic; list
    // slices clamp at the doc end on both engines
    "doc_chunks" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        | FROM documents
        |), n AS (
        | SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d WHERE len(toks) > 0
        |), c AS (
        | SELECT doc_id, toks, n, 1 + (GREATEST(n - 32, 0) + 23) // 24 AS nchunks FROM n
        |), e AS (
        | SELECT doc_id, toks, n, unnest(range(nchunks)) AS chunk_idx FROM c
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | array_to_string(toks[(chunk_idx * 24 + 1):(LEAST(chunk_idx * 24 + 32, n))], ' ') AS chunk_text,
        | CAST(LEAST(chunk_idx * 24 + 32, n) - chunk_idx * 24 AS BIGINT) AS n_tokens
        |FROM e
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // same planted terminators (plain leftmost-nonoverlapping replace),
    // same sentinel rewrite of `terminator + spaces` (chr(1) — no
    // lookbehind, RE2-safe), blank fragments filtered BEFORE indexing
    "sentence_chunks" ->
      """WITH m AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(
        |    replace(replace(text, ' value ', ' value. '), ' query ', ' query? '),
        |    '([.!?]) +', '\1' || chr(1), 'g'), chr(1)) AS raw
        | FROM documents WHERE doc_id < 500
        |), f AS (
        | SELECT doc_id, list_filter(raw, s -> trim(s) <> '') AS ls FROM m
        |), e AS (
        | SELECT doc_id, ls, unnest(range(len(ls))) AS i FROM f
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS sentence_idx,
        | ls[i + 1] AS sentence,
        | CAST(len(list_filter(string_split_regex(trim(ls[i + 1]), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM e ORDER BY doc_id, sentence_idx""".stripMargin,
    // BM25 mirrored term-for-term: same tokenizer fragment as
    // dsir_scores; the idf table is the gate-registered driver-computed
    // literal VALUES (identical rows feed the Spark plan), tfnorm in
    // the written operation order, contributions rounded to 9dp DECIMAL
    // and summed exactly
    "bm25_topk" -> bm25TopKOracle(bm25Q3Values, "bm25_idf_q3", requireAll = false),
    // The dense CTE is the ann_topk_dot oracle; the lexical chain is the
    // bm25_topk oracle with the 5-query fusion query set (same
    // gate-registered literal idf discipline); rrf fuses the two ranked
    // lists with exact DECIMAL(38,12) contribution sums.
    "hybrid_rrf_topk" -> hybridRrfOracle(),
    // the disjunctive bm25_topk oracle + a matched-term count compared
    // against each query's distinct-term total (AND semantics)
    "bm25_topk_all" -> bm25TopKOracle(bm25Q3Values, "bm25_idf_q3", requireAll = true),
    // scoring the streaming-built committed index == scoring the corpus
    // directly (append-only slices partition the corpus; no zero-token
    // docs), so the oracle is the bm25_topk chain with this gate's own
    // registered idf table
    "bm25_topk_indexed" -> bm25TopKOracle(bm25Q3Values, "bm25_idf_q3i", requireAll = false),
    "nfc_normalize" ->
      s"""WITH d AS (
         | SELECT doc_id, text || '$nfcGateSuffix' AS s
         | FROM documents WHERE doc_id < 500
         |)
         |SELECT doc_id,
         | CAST(length(s) AS BIGINT) AS len_before,
         | CAST(length(nfc_normalize(s)) AS BIGINT) AS len_after,
         | right(nfc_normalize(s), 10) AS tail
         |FROM d ORDER BY doc_id""".stripMargin,
    "ngram_overlap_ratio" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
        | FROM documents
        |), sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' ')))
        |  END AS grams
        | FROM toks
        |), probe AS (
        | SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id < 10
        |), docg AS (
        | SELECT doc_id, unnest(grams) AS g FROM sh
        |)
        |SELECT d.doc_id,
        | CAST(count(*) AS BIGINT) AS n_ngrams,
        | CAST(sum(CASE WHEN p.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        | CAST(sum(CASE WHEN p.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS overlap_ratio
        |FROM docg d LEFT JOIN probe p ON d.g = p.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same normalized-trigram fragment as ngram_overlap_ratio;
    // first-seen = min doc_id per gram STRING (the fingerprint join is
    // collision-tolerant by the dedup-family convention)
    "ngram_novelty" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS ts
        | FROM documents WHERE doc_id < 2000
        |), sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' ')))
        |  END AS grams
        | FROM toks
        |), docg AS (
        | SELECT doc_id, unnest(grams) AS g FROM sh
        |), firsts AS (
        | SELECT g, min(doc_id) AS fst FROM docg GROUP BY 1
        |)
        |SELECT d.doc_id,
        | CAST(sum(CASE WHEN f.fst = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_ngrams,
        | CAST(count(*) AS BIGINT) AS total_ngrams,
        | CAST(CAST(sum(CASE WHEN f.fst = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |   // greatest(count(*), 1) AS BIGINT) AS novelty_ppm
        |FROM docg d JOIN firsts f ON d.g = f.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per n: the shared shingle rule (short docs → one whole-run
    // shingle), distinct by exact string on the oracle side (the Spark
    // side's xxhash64 distinct is collision-tolerant by 2⁻⁶⁴)
    "distinct_ngram_ratio" ->
      Seq(1, 2).map { n =>
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           | CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           | CAST(count(*) AS BIGINT) AS total_ngrams,
           | CAST(CAST(count(DISTINCT g) AS BIGINT) * 1000000
           |   // greatest(count(*), 1) AS BIGINT) AS distinct_ppm
           |FROM (
           | SELECT source, unnest(
           |  CASE WHEN len(ts) < $n THEN [array_to_string(ts, ' ')]
           |       ELSE list_transform(range(1, len(ts) - $n + 2),
           |              i -> array_to_string(ts[i:i+${n - 1}], ' '))
           |  END) AS g
           | FROM (
           |  SELECT source,
           |   list_filter(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '') AS ts
           |  FROM documents
           | )
           |) GROUP BY source""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY source, n"),
    "pii_redaction" -> {
      val em = TextFunctions.EmailPattern
      val ph = TextFunctions.PhonePattern
      val ip = TextFunctions.Ipv4Pattern
      s"""WITH p AS (
         | SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567 at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS t
         | FROM documents
         |)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phone,
         | CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
         |   '$em', '[EMAIL]', 'g'), '$ph', '[PHONE]', 'g'), '$ip', '[IP]', 'g')) AS BIGINT) AS redacted_len
         |FROM p ORDER BY doc_id""".stripMargin
    },
  )
}
