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

/** Stats gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object StatsGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- token counting (whitespace + BPE-ish)
    // ---- deterministic stratified sampling: the training-mix step.
    //      Membership is a pure function of (doc_id, salt) via FNV-1a —
    //      the one hash here that is portable SQL, so the oracle
    //      recomputes the EXACT sample (not a statistical check)
    "stratified_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.stratifiedSample(d, "doc_id", "lang",
          Map("en" -> 1.0, "zh" -> 0.75), defaultFraction = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),
    // ---- quality-weighted sampling: keep probability = fraction ×
    //      length weight (longer docs kept more) — per-row FNV threshold,
    //      exact member set recomputed by the oracle
    "weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sampling.weightedSample(d, "doc_id",
          least(col("n_tokens").cast(DoubleType) / lit(1000.0), lit(1.0)),
          fraction = 0.5)
        .orderBy("doc_id")
    }),
    // ---- exactly-N deterministic sample: the 200 docs with the
    //      LARGEST full 64-bit FNV hash (signed order), reduced through
    //      the bounded graft_topk heap — no global sort; the oracle
    //      recomputes the hashes (signed reinterpretation of the
    //      HUGEINT fold) and takes the same top 200
    "sample_exact_n" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      Sampling.sampleExactN(d, "doc_id", n = 200, salt = "exact")
        .orderBy("doc_id")
    }),
    // ---- exactly-N PER GROUP (stratified fixed-size draw): the 5
    //      largest-FNV keys per source via the per-group graft_topk
    //      heap — no per-group window/sort; the oracle recomputes the
    //      signed hashes and ranks (hash DESC, id DESC) per source
    "sample_exact_n_per_group" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Sampling.sampleExactNPerGroup(d, "doc_id", "source", n = 5,
          salt = "exactg")
        .orderBy("source", "rank")
    }),
    // ---- key-concentration diagnostic: top-25 hottest user_ids with
    //      exact counts and share/cum_share as exact-integer divisions
    //      — the pre-join salting decision, reduced from the key
    //      histogram with a TakeOrdered cut
    "key_concentration" -> ((s, dir) => {
      val ev = events(s, dir)
      Profile.keyConcentration(ev, "user_id", k = 25)
        .orderBy("rank")
    }),
    // ---- Dirichlet query-likelihood retrieval (round-9 verdict #6 /
    //      builder backlog): per-term smoothed probability as ONE exact
    //      integer rational (HALF_UP 9dp), document score = the QL
    //      likelihood itself as a fixed-point e18 product folded in
    //      lexicographic term order — no ln, no DECIMAL surface; the
    //      oracle replays the identical integer fold
    "dirichlet_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      Retrieval.dirichletTopK(d, "doc_id", "text", bm25GateQueries3(s),
          "query_id", "qtext", k = 10, mu = 2000L)
        .orderBy("query_id", "rank")
    }),
    // ---- HLL distinct-count sketch per source over 3-gram shingles:
    //      deterministic FNV registers (bucket = low 10 bits, ρ =
    //      leading zeros + 1) replayable bit-for-bit by the oracle —
    //      unlike approx_count_distinct's opaque sketch; raw estimate
    //      in pure integers, exact distinct alongside for the audit
    "hll_distinct" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"),
          explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("_g"))
      val est = Profile.hllEstimateRaw(d, "source", col("_g"))
      val exact = d.select(col("source").as("group"), col("_g")).distinct()
        .groupBy("group").agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, Seq("group"))
        .select(col("group").as("source"), col("est_distinct"), col("exact_distinct"))
        .orderBy("source")
    }),
    // ---- count-min sketch frequency audit: 4×1024 sum-merge cells
    //      over corpus 3-gram counts; estimates for the top-10 exact
    //      shingles carry the one-sided guarantee est ≥ exact — both
    //      engines replay the cells from the shared FNV row-hashes
    "cms_counts" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.shingles(col("text"), 3)).as("_it"))
      val sketch = Profile.cmsSketch(toks, col("_it"))
      val exact = toks.groupBy(col("_it")).agg(count(lit(1)).as("exact_cnt"))
      val top = exact.orderBy(col("exact_cnt").desc, col("_it")).limit(10)
        .select(col("_it").as("item"), col("exact_cnt"))
      Profile.cmsEstimates(sketch, top.select(col("item")))
        .join(top, Seq("item"))
        .select(col("item"), col("exact_cnt"), col("cms_est"))
        .orderBy("item")
    }),
    // ---- cross-source overlap by SKETCH ALGEBRA: inclusion–exclusion
    //      over max-merged HLL registers — pairwise shared-content
    //      estimates from ONE corpus pass and a driver fold, where the
    //      exact source_overlap_matrix pays a shingle pair join; raw
    //      est_inter keeps the estimator's error bar visible
    "hll_overlap_matrix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"),
          explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("_g"))
      Profile.hllOverlapMatrix(d, "source", col("_g"))
        .orderBy("src_a", "src_b")
    }),
    // ---- leakage-safe temporal split: train < day 20, 3-day buffer,
    //      test ≥ day 23 (relative to the corpus's first day) — the
    //      gap is a first-class label so the audit can SEE the buffer;
    //      per-split counts and day ranges as the boundary audit
    "temporal_split" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("ts").isNotNull)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
      val minDay = ev.agg(min(col("day"))).head().getLong(0)
      Sampling.temporalSplit(ev, col("day"), minDay + 20L, minDay + 23L)
        .groupBy("split")
        .agg(count(lit(1)).as("n_rows"), min(col("day")).as("min_day"),
          max(col("day")).as("max_day"))
        .orderBy("split")
    }),
    // ---- deterministic negative sampling: 5 negatives per anchor
    //      (docs 0..19) from the doc_id<500 pool by largest pair-FNV —
    //      each anchor draws an independent set; anchors broadcast,
    //      pool streams once through bounded per-anchor heaps
    "negative_sampling" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      Sampling.negativeSamples(
          d.filter(col("doc_id") < 20), "doc_id",
          d.filter(col("doc_id") < 500), "doc_id",
          k = 5, salt = "neg")
        .orderBy("anchor", "rank")
    }),
    // ---- Benford first-digit audit per source: leading-digit
    //      histogram of doc sizes vs the log₁₀(1+1/d) expectation —
    //      the fabricated/copy-amplified-feed tripwire; digits via
    //      string heads, expectations as driver literals, deviations
    //      exact ppm integers
    "benford_digits" -> ((s, dir) => {
      Profile.benfordDeviation(t(s, dir, "documents"), "source", col("n_chars"))
        .select(col("group").as("source"), col("digit"), col("cnt"),
          col("freq_ppm"), col("dev_ppm"))
        .orderBy("source", "digit")
    }),
    // ---- CUSUM changepoint on the daily event-count series: WHEN did
    //      the feed change (driftTimeline says how much) — max
    //      |T·S_i − i·S| over period ranks, exact integers
    "changepoint_day" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
      ImportanceScoring.cusumChangepoint(ev, col("day"))
    }),
    // ---- MASS-weighted percentiles: doc-length percentiles weighted
    //      by token count — "the median TOKEN lives in a doc of length
    //      X", which under size skew sits far from the doc-weighted
    //      median; exact data values at rank floor(q·(W−1)), no
    //      interpolation, hash-safe integers
    "weighted_percentiles" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .select(col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("_w"))
      val probs = Seq(0.1, 0.5, 0.9, 0.99)
      val vals = Profile.weightedPercentiles(d, "n_chars", col("_w"), probs)
        .getOrElse(sys.error("weighted_percentiles: empty corpus"))
      probs.map(p => math.round(p * 1000000))
        .zip(vals.map(_.toLong))
        .toDF("p_ppm", "value")
        .orderBy("p_ppm")
    }),
    // ---- the same mass-weighted rank rule STRATIFIED by source
    //      (round-9 verdict #7): per-source calibration — one global
    //      percentile mis-prices every source whose length
    //      distribution differs from the blend
    "weighted_percentiles_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("_w"))
      Profile.weightedPercentilesByGroup(d, "source", "n_chars", col("_w"),
          Seq(0.1, 0.5, 0.9))
        .select(col("source"), col("p_ppm"),
          col("value").cast(LongType).as("value"))
        .orderBy("source", "p_ppm")
    }),
    // ---- robust per-source length calibration: mean of n_chars inside
    //      the per-source [p5, p95] band — the trimmed mean an outlier
    //      page can't drag; exact rank thresholds, integer mean_e6
    "trimmed_mean_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      Profile.trimmedMeanByGroup(d, "source", "n_chars", 0.05, 0.95)
        .orderBy("source")
    }),
    // ---- ingest-gate expectation report: named range/null checks over
    //      lineitem in ONE aggregate pass; null-valued rows FAIL their
    //      rule (unassessable ≠ passing)
    "expectation_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Profile.expectationReport(li, Seq(
        "quantity_range" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "shipdate_not_null" -> col("l_shipdate").isNotNull,
        "positive_price" -> (col("l_extendedprice") > 0),
        "tax_low" -> (col("l_tax") <= 0.05)
      )).orderBy("rule")
    }),
    // ---- the same expectation semantics per SOURCE: which feed ships
    //      the violations — one aggregate pass, driver-side explode
    "expectation_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.expectationReportByGroup(d, "source", Seq(
        "text_nonempty" -> (length(col("text")) > 0),
        "chars_in_band" -> (col("n_chars") >= 10 && col("n_chars") <= 100000),
        "id_present" -> col("doc_id").isNotNull
      )).orderBy("source", "rule")
    }),
    // ---- Lorenz curve of the same concentration: cumulative share of
    //      sources vs cumulative share of tokens, ascending by mass
    "lorenz_curve" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("_w"))
      Profile.lorenzCurve(d, "source", col("_w"))
        .orderBy("grp_rank")
    }),
    // ---- nucleus score-mass cut: keep the docs carrying 80% of the
    //      corpus's char mass (threshold = mass-weighted 20th
    //      percentile with the score as its own weight); per-source
    //      kept accounting is the compared surface
    "score_mass_cut" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      Profile.scoreMassCut(d, "n_chars", keepMassPpm = 800000L)
        .filter(col("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("n_chars")).as("kept_mass"))
        .orderBy("source")
    }),
    // ---- ranker agreement per source: Spearman ρ + Kendall τ between
    //      the char-length and token-count orderings — exact scaled
    //      integers, ranks pinned by doc_id tiebreak, τ from the
    //      discordant-pair count (bounded-list contract)
    "rank_correlation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("source"), col("doc_id"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("_y"))
      Profile.rankCorrelationByGroup(d, "source", "doc_id", "n_chars", "_y")
        .orderBy("source")
    }),
    // ---- same statistic with the seed block FORCED below the group
    //      size (8 << ~500-doc sources): the discordant count runs the
    //      full distributed plan — ArrayInversions seed blocks PLUS ~6
    //      windowed merge rounds — and must hash identically to the
    //      quadratic SQL definition (rank_correlation's oracle shape)
    "rank_correlation_blocks" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("source"), col("doc_id"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("_y"))
      Profile.rankCorrelationByGroup(d, "source", "doc_id", "n_chars", "_y",
          seedBlockSize = 8)
        .orderBy("source")
    }),
    // ---- exact ROC-AUC per source: does token count separate the
    //      n_chars >= 500 keep class — Mann–Whitney from the score
    //      histogram, ties at half weight, no pair join
    "auc_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
      Profile.aucByGroup(d, "source",
          col("n_chars") >= 500,
          TextFunctions.tokenCount(col("text")))
        .orderBy("source")
    }),
    // ---- reliability diagram behind the AUC: per exact score-decile
    //      bin — size, keep-class count and rate, mean score; AUC says
    //      the order is right, this says the levels mean something
    "calibration_table" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .select((col("n_chars") >= 500).as("_y2"),
          TextFunctions.tokenCount(col("text")).as("score"))
      Profile.calibrationTable(d, col("_y2"), "score", nBins = 10)
        .orderBy("bin")
    }),
    // ---- dataset profiling: one-scan numeric column stats with exact
    //      (decimal-accumulated) means and exact interpolated quantiles —
    //      both engines share the quantile definition, so the oracle is
    //      value-exact
    "profile_numeric" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Profile.numeric(li,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")
    }),
    // ---- scale-path profiling: the partial-aggregable approx_percentile
    //      form. Sketch percentiles can't be hash-compared across
    //      engines, so the gate projects them OUT and oracles the exact
    //      columns (counts/min/max/decimal-accumulated mean — identical
    //      arithmetic in both forms); the sketch's accuracy bounds are
    //      spec-pinned in ProfileSpec
    "profile_numeric_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Profile.numericApprox(li,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_name"), col("n"), col("nulls"),
          col("min"), col("max"), col("mean"))
        .orderBy("col_name")
    }),
    // ---- per-group numeric profile: the stratified twin of
    //      profile_numeric — per (source, lang) value histograms, exact
    //      percentiles via the histogram form (quantile_cont parity),
    //      decimal-exact means
    "profile_by_group" -> ((s, dir) => {
      Profile.numericByGroup(t(s, dir, "documents"),
          Seq("source", "lang"), "n_chars")
        .orderBy("source", "lang")
    }),
    // ---- winsorization: clip at exact 5th/95th percentiles (the same
    //      histogram-percentile path as profile_numeric, already proven
    //      value-identical to quantile_cont)
    "winsorize" -> ((s, dir) => {
      Profile.winsorize(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- quantile bucketing: exact-decile discretization (bounds as
    //      driver metadata, narrow comparison fold — the winsorize
    //      convention); occupancy counts per bucket
    "quantile_buckets" -> ((s, dir) => {
      Profile.quantileBuckets(
          t(s, dir, "lineitem").select(col("l_extendedprice")),
          "l_extendedprice", q = 10)
        .filter(col("bucket").isNotNull)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    // ---- percent-rank / ECDF transform: below-count over the value
    //      histogram, rank ratio = one exact-long division
    "percent_rank" -> ((s, dir) => {
      Profile.percentRank(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- per-group percent rank: within-source ECDF normalization;
    //      the oracle spells the same rank()−1 over n−1 long division
    //      per partition
    "percent_rank_by_group" -> ((s, dir) => {
      Profile.percentRankByGroup(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          Seq("source"), "n_chars")
        .orderBy("doc_id")
    }),
    // ---- robust scaling: (x − median)/iqr with exact-percentile
    //      driver-metadata bounds, narrow per-row division
    "robust_scale" -> ((s, dir) => {
      Profile.robustScale(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- outlier flagging: z-score (decimal-exact moments, 6 dp
    //      quantized stats) + Tukey fences from exact quartiles;
    //      flag counts per return flag
    "outlier_flags" -> ((s, dir) => {
      Profile.outlierFlags(
          t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
          "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(sum(when(col("z_outlier"), 1L).otherwise(0L)).as("n_z"),
          sum(when(col("iqr_outlier"), 1L).otherwise(0L)).as("n_iqr"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    // ---- vector-store QC: per-dimension embedding profile (dead dims,
    //      scale drift). Decimal-accumulated first/second moments, std
    //      derived in a fixed double order — exactly reproducible
    "profile_vector" -> ((s, dir) => {
      Profile.vector(t(s, dir, "embeddings"), "embedding")
        .orderBy("dim")
    }),
    // ---- retrieval EVALUATION: MRR / hits@10 / precision@10 of the
    //      BM25 top-10 against conjunctive-containment relevance (a
    //      doc is relevant iff it contains EVERY query term) — the
    //      rank-based metrics are exact scaled integers
    "ranking_metrics" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      // ONE corpus tokenize pass: the checkpointed postings feed the idf
      // table, the scorer, AND the relevance term set (postings keys ARE
      // the distinct (doc, term) pairs) — was three private tokenize
      // passes per run (r16)
      val postings = Materialize.local(Retrieval.buildPostings(docs, "doc_id", "text"))
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_rm", idfValuesRows(idf))
      val ranked = Retrieval.bm25TopKWithIdf(docs, "doc_id", "text",
        queries, "query_id", "qtext", idf, k = 10,
        precomputedPostings = Some(postings))
      val qterms = queries.select(col("query_id"),
        explode(array_distinct(split(col("qtext"), " "))).as("term"))
      val nq = qterms.groupBy("query_id").agg(count(lit(1)).as("_nq"))
      val dterms = postings.select(col("id").as("doc_id"), col("term"))
      val rel = qterms.join(dterms, Seq("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("_m"))
        .join(nq, Seq("query_id")).filter(col("_m") === col("_nq"))
        .select(col("query_id"), col("doc_id"))
      Retrieval.rankingMetrics(ranked, rel, k = 10)
        .orderBy("query_id")
    }),
    // ---- NDCG@10 with the DCG position weights as driver-computed
    //      ×10⁹ literals (the idf-literal discipline — no engine-side
    //      log in the compared surface); binary conjunctive relevance
    "ndcg_metrics" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val queries = bm25GateQueries3(s)
      // one shared tokenize pass (the ranking_metrics rationale, r16)
      val postings = Materialize.local(Retrieval.buildPostings(docs, "doc_id", "text"))
      val idf = Retrieval.queryIdfLiteralsFromPostings(
        docs.count(), postings, queries, "qtext")
      GateTables.put("bm25_idf_ndcg", idfValuesRows(idf))
      val ranked = Retrieval.bm25TopKWithIdf(docs, "doc_id", "text",
        queries, "query_id", "qtext", idf, k = 10,
        precomputedPostings = Some(postings))
      val qterms = queries.select(col("query_id"),
        explode(array_distinct(split(col("qtext"), " "))).as("term"))
      val nq = qterms.groupBy("query_id").agg(count(lit(1)).as("_nq"))
      val dterms = postings.select(col("id").as("doc_id"), col("term"))
      val rel = qterms.join(dterms, Seq("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("_m"))
        .join(nq, Seq("query_id")).filter(col("_m") === col("_nq"))
        .select(col("query_id"), col("doc_id"))
      Retrieval.ndcgAtK(ranked, rel, k = 10)
        .orderBy("query_id")
    }),
    // ---- deterministic train/val/test split: one portable FNV bucket
    //      per key, disjoint CASE ranges (819/922/1024 = round(cum·1024))
    "hash_split" -> ((s, dir) => {
      Sampling.splitByHash(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }),
    // ---- leakage-safe grouped split: the split KEY is the domain
    //      (source), so near-dup docs inside one domain can never
    //      straddle train/test — the standard guard against
    //      split leakage that per-doc hashing cannot give
    "grouped_split" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Sampling.splitByHash(d, "source",
          Seq("train" -> 0.8, "test" -> 0.2), salt = "gsplit")
        .orderBy("doc_id")
    }),
  )

  def oracles: Map[String, String] = Map(
    // FNV-1a 64 reproduced in SQL: HUGEINT arithmetic mod 2^64; the XOR
    // touches only the low byte, so it splits as (h//256)*256 + xor(h%256)
    "stratified_sample" ->
      """WITH h AS (
        | SELECT doc_id, lang, source,
        |  CAST(list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) % 1024 AS BIGINT) AS bucket
        | FROM (SELECT doc_id, lang, source, doc_id::VARCHAR || ':graft' AS s FROM documents)
        |)
        |SELECT doc_id, lang, source FROM h
        |WHERE bucket < CASE lang WHEN 'en' THEN 1024 WHEN 'zh' THEN 768 ELSE 512 END
        |ORDER BY doc_id""".stripMargin,
    // threshold arithmetic mirrored step for step: clamp(n_tok/1000) in
    // double, × (0.5·1024), floor — identical elementwise ops ⇒ identical
    // member set
    "weighted_sample" ->
      """WITH d AS (
        | SELECT doc_id, source,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        | FROM documents
        |), h AS (
        | SELECT doc_id, source, n_tokens,
        |  CAST(list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) % 1024 AS BIGINT) AS bucket
        | FROM (SELECT doc_id, source, n_tokens, doc_id::VARCHAR || ':graft' AS s FROM d)
        |)
        |SELECT doc_id, source, n_tokens FROM h
        |WHERE bucket < CAST(ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 1000.0, 1.0) * 512.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    // full 64-bit FNV fold (same HUGEINT fragment as the bucket
    // samplers), reinterpreted as signed BIGINT — Spark's Long wrap —
    // then top-200 by (hash desc, doc_id desc), the operator's exact
    // total order
    "sample_exact_n" ->
      """WITH h AS (
        | SELECT doc_id, lang, source,
        |  list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) AS hh
        | FROM (SELECT doc_id, lang, source, doc_id::VARCHAR || ':exact' AS s FROM documents)
        |), sgn AS (
        | SELECT doc_id, lang, source,
        |  CAST(hh - CASE WHEN hh >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN CAST('18446744073709551616' AS HUGEINT)
        |            ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hs
        | FROM h
        |)
        |SELECT doc_id, lang, source FROM sgn
        |QUALIFY row_number() OVER (ORDER BY hs DESC, doc_id DESC) <= 200
        |ORDER BY doc_id""".stripMargin,
    // same signed-FNV recomputation, ranked per source (hash DESC,
    // id DESC — the graft_topk struct order)
    "sample_exact_n_per_group" ->
      """WITH h AS (
        | SELECT doc_id, source,
        |  list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) AS hh
        | FROM (SELECT doc_id, source, doc_id::VARCHAR || ':exactg' AS s FROM documents)
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
        |QUALIFY rank <= 5
        |ORDER BY source, rank""".stripMargin,
    // (cnt DESC, key ASC) is a unique ordering, so the default RANGE
    // running-sum frame equals Spark's explicit ROWS frame
    "key_concentration" ->
      """WITH h AS (
        | SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), tot AS (SELECT sum(cnt) AS t FROM h
        |), top AS (
        | SELECT key, cnt FROM h ORDER BY cnt DESC, key ASC LIMIT 25
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS INTEGER) AS rank,
        | key, cnt,
        | CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE) AS share,
        | CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key ASC) AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
        |FROM top, tot ORDER BY rank""".stripMargin,
    // the QL contract replayed in HUGEINT: tf/dl/|C| from one tokenize,
    // query-term cf with absent terms at 0, the (doc × query-term)
    // grid, r = (2a+d)//(2d), and the e18 fold via list_reduce over
    // the lexicographic term order — (likelihood DESC, doc_id) rank
    "dirichlet_topk" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        | FROM documents WHERE doc_id < 2000
        |), tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2
        |), dl AS (
        | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), cs AS (
        | SELECT CAST(sum(tf) AS BIGINT) AS c FROM tf
        |), qt(query_id, term) AS (
        | SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'spark'), (CAST(0 AS BIGINT), 'window'), (CAST(0 AS BIGINT), 'merge'),
        |  (CAST(1 AS BIGINT), 'customer'), (CAST(1 AS BIGINT), 'order'), (CAST(1 AS BIGINT), 'batch'), (CAST(1 AS BIGINT), 'stream'),
        |  (CAST(2 AS BIGINT), 'hash'), (CAST(2 AS BIGINT), 'join'), (CAST(2 AS BIGINT), 'table'), (CAST(2 AS BIGINT), 'scan')) v
        |), cf AS (
        | SELECT q.term, CAST(coalesce(sum(tf.tf), 0) AS BIGINT) AS cf
        | FROM (SELECT DISTINCT term FROM qt) q LEFT JOIN tf ON tf.term = q.term
        | GROUP BY 1
        |), grid AS (
        | SELECT q.query_id, d.doc_id, d.dl, q.term, cf.cf,
        |  CAST(coalesce(t.tf, 0) AS BIGINT) AS tf
        | FROM dl d CROSS JOIN qt q
        | JOIN cf ON cf.term = q.term
        | LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = q.term
        |), r AS (
        | SELECT query_id, doc_id, term,
        |  (2 * ((tf * CAST(c AS HUGEINT) + 2000 * cf) * 1000000000)
        |    + ((dl + 2000) * CAST(c AS HUGEINT)))
        |   // (2 * ((dl + 2000) * CAST(c AS HUGEINT))) AS rr
        | FROM grid, cs
        |), fold AS (
        | SELECT query_id, doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST('1000000000000000000' AS HUGEINT),
        |      list(CAST(rr AS HUGEINT) ORDER BY term)),
        |    (acc, x) -> (2 * acc * x + 1000000000) // 2000000000) AS BIGINT)
        |   AS likelihood_e18
        | FROM r GROUP BY 1, 2
        |)
        |SELECT query_id, doc_id AS neighbor_id, likelihood_e18,
        | CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY likelihood_e18 DESC, doc_id) AS INT) AS rank
        |FROM fold
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // cells replayed from the same FNV row-hashes (fnvModSql over
    // item ++ ':cms' ++ row); top-10 by (count desc, shingle) both sides
    "cms_counts" -> oracleSqlCmsCounts,
    // the same FNV fold, the same generated ρ CASE ladder (shared
    // verbatim from Profile.hllRhoCaseSql), the same scaled-integer
    // indicator — registers and estimate replay bit-for-bit in HUGEINT
    "hll_distinct" -> hllOracleSql(withExact = true),
    // per-pair sketch algebra in HUGEINT; see hllOverlapOracleSql
    "hll_overlap_matrix" -> hllOverlapOracleSql,
    // same day arithmetic, same min-anchored boundaries
    "temporal_split" ->
      """WITH e AS (
        | SELECT epoch_us(ts) // 86400000000 AS day FROM events WHERE ts IS NOT NULL
        |), m AS (
        | SELECT min(day) AS md FROM e
        |), lab AS (
        | SELECT CASE WHEN day < md + 20 THEN 'train'
        |             WHEN day >= md + 23 THEN 'test'
        |             ELSE 'gap' END AS split, day
        | FROM e, m
        |)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin,
    // pair-FNV recomputed per (anchor, cand), signed top-5 per anchor
    // (hash DESC, cand DESC — the graft_topk struct order)
    "negative_sampling" ->
      """WITH a AS (
        | SELECT DISTINCT CAST(doc_id AS VARCHAR) AS anchor
        | FROM documents WHERE doc_id < 20
        |), p AS (
        | SELECT CAST(doc_id AS VARCHAR) AS cand FROM documents WHERE doc_id < 500
        |), h AS (
        | SELECT anchor, cand,
        |  list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) AS hh
        | FROM (SELECT a.anchor, p.cand, a.anchor || ':' || p.cand || ':neg' AS s
        |       FROM a CROSS JOIN p WHERE a.anchor <> p.cand)
        |), sgn AS (
        | SELECT anchor, cand,
        |  CAST(hh - CASE WHEN hh >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN CAST('18446744073709551616' AS HUGEINT)
        |            ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hs
        | FROM h
        |)
        |SELECT anchor, cand AS negative,
        | CAST(row_number() OVER (PARTITION BY anchor ORDER BY hs DESC, cand DESC) AS INTEGER) AS rank
        |FROM sgn
        |QUALIFY rank <= 5
        |ORDER BY anchor, rank""".stripMargin,
    // same digit extraction (string head), same driver-side expectation
    // literals (shared Seq — consistent by construction)
    "benford_digits" -> {
      val expCase = "CASE c.digit " + Profile.benfordExpectedPpm.zipWithIndex
        .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ") + " END"
      s"""WITH d AS (
         | SELECT CAST(source AS VARCHAR) AS src,
         |  CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT) AS digit
         | FROM documents
         | WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
         |), c AS (
         | SELECT src, digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2
         |), t AS (
         | SELECT src, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1
         |)
         |SELECT c.src AS source, c.digit, c.cnt,
         | CAST(c.cnt * 1000000 // t.n AS BIGINT) AS freq_ppm,
         | CAST(abs(c.cnt * 1000000 // t.n - $expCase) AS BIGINT) AS dev_ppm
         |FROM c JOIN t ON t.src = c.src
         |ORDER BY 1, 2""".stripMargin
    },
    // threshold = mass-weighted (1−p) percentile with score as its own
    // weight (the weighted_percentiles rank rule), then keep ⇔ score≥t
    "score_mass_cut" ->
      """WITH w AS (
        | SELECT source, n_chars, CAST(n_chars AS DOUBLE) AS v,
        |  CAST(n_chars AS BIGINT) AS wt
        | FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), tot AS (
        | SELECT CAST(sum(wt) AS BIGINT) AS W FROM w
        |), c AS (
        | SELECT v, CAST(sum(wt) AS BIGINT) AS cnt FROM w GROUP BY 1
        |), r AS (
        | SELECT v, sum(cnt) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM c
        |), thr AS (
        | SELECT min(r.v) AS t FROM r, tot
        | WHERE r.cum > floor(0.2 * (tot.W - 1))
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
        | CAST(sum(n_chars) AS BIGINT) AS kept_mass
        |FROM w, thr WHERE w.v >= thr.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-source [p5, p95] thresholds by the same rank rule, then the
    // exact integer mean of the surviving band
    "trimmed_mean_by_source" ->
      """WITH w2 AS (
        | SELECT CAST(source AS VARCHAR) AS g, CAST(n_chars AS BIGINT) AS v
        | FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |), tot AS (
        | SELECT g, CAST(count(*) AS BIGINT) AS n FROM w2 GROUP BY 1
        |), c AS (
        | SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM w2 GROUP BY 1, 2
        |), r AS (
        | SELECT g, v, sum(cnt) OVER (PARTITION BY g ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM c
        |), thr AS (
        | SELECT tot.g,
        |  (SELECT min(r.v) FROM r WHERE r.g = tot.g AND r.cum > floor(0.05 * (tot.n - 1))) AS lo,
        |  (SELECT min(r.v) FROM r WHERE r.g = tot.g AND r.cum > floor(0.95 * (tot.n - 1))) AS hi
        | FROM tot
        |)
        |SELECT w2.g AS source, CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(CAST(sum(w2.v) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS mean_e6
        |FROM w2 JOIN thr ON thr.g = w2.g
        |WHERE w2.v >= thr.lo AND w2.v <= thr.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Spearman from Σd² over row_number ranks (doc_id tiebreak), Kendall
    // from the discordant pair count; trunc division pinned (// ≡ div)
    "rank_correlation" -> rankCorrelationOracle,
    // block size is invisible to the statistic: the multi-round
    // distributed plan must reproduce the identical quadratic definition
    "rank_correlation_blocks" -> rankCorrelationOracle,
    // Mann–Whitney U₂ from the per-group score histogram: each pos·neg
    // pair counted twice, ties once — every quantity non-negative
    "auc_by_source" ->
      """WITH b AS (
        | SELECT source AS g, (n_chars >= 500) AS y,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS v
        | FROM documents
        | WHERE doc_id < 2000 AND source IS NOT NULL
        |  AND n_chars IS NOT NULL AND text IS NOT NULL
        |), h AS (
        | SELECT g, v,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
        | FROM b GROUP BY 1, 2
        |), c AS (
        | SELECT g, pos, neg,
        |  CAST(coalesce(sum(neg) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS cumneg
        | FROM h
        |), a AS (
        | SELECT g, CAST(sum(pos) AS HUGEINT) AS np, CAST(sum(neg) AS HUGEINT) AS nn,
        |  CAST(sum(CAST(pos AS HUGEINT) * (2 * cumneg + neg)) AS HUGEINT) AS u2
        | FROM c GROUP BY 1
        |)
        |SELECT g AS source, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        | CAST((u2 * 1000000) // (2 * np * nn) AS BIGINT) AS auc_ppm
        |FROM a WHERE np > 0 AND nn > 0 ORDER BY 1""".stripMargin,
    // exact score-decile bins (quantile_cont parity with the
    // quantileBuckets thresholds), then one grouped pass per bin
    "calibration_table" ->
      """WITH b AS (
        | SELECT (n_chars >= 500) AS y,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS v
        | FROM documents
        | WHERE doc_id < 2000 AND n_chars IS NOT NULL AND text IS NOT NULL
        |), q AS (
        | SELECT quantile_cont(CAST(v AS DOUBLE), 0.1) AS q1,
        |        quantile_cont(CAST(v AS DOUBLE), 0.2) AS q2,
        |        quantile_cont(CAST(v AS DOUBLE), 0.3) AS q3,
        |        quantile_cont(CAST(v AS DOUBLE), 0.4) AS q4,
        |        quantile_cont(CAST(v AS DOUBLE), 0.5) AS q5,
        |        quantile_cont(CAST(v AS DOUBLE), 0.6) AS q6,
        |        quantile_cont(CAST(v AS DOUBLE), 0.7) AS q7,
        |        quantile_cont(CAST(v AS DOUBLE), 0.8) AS q8,
        |        quantile_cont(CAST(v AS DOUBLE), 0.9) AS q9
        | FROM b
        |), bd AS (
        | SELECT y, v, CAST(
        |   (CASE WHEN v >= q.q1 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q2 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q3 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q4 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q5 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q6 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q7 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q8 THEN 1 ELSE 0 END)
        | + (CASE WHEN v >= q.q9 THEN 1 ELSE 0 END) AS BIGINT) AS bin
        | FROM b, q
        |)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        | CAST(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
        |   // count(*) AS BIGINT) AS pos_rate_ppm,
        | CAST(CAST(sum(v) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS mean_score_e6
        |FROM bd GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same four pass predicates; violation = NOT coalesce(pass, false)
    "expectation_report" -> {
      val rules = Seq(
        "quantity_range" -> "l_quantity >= 1 AND l_quantity <= 50",
        "shipdate_not_null" -> "l_shipdate IS NOT NULL",
        "positive_price" -> "l_extendedprice > 0",
        "tax_low" -> "l_tax <= 0.05")
      rules.map { case (name, pred) =>
        s"""SELECT '$name' AS rule, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(sum(CASE WHEN NOT coalesce($pred, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           | CAST(CAST(sum(CASE WHEN NOT coalesce($pred, false) THEN 1 ELSE 0 END) AS BIGINT) * 1000000
           |   // greatest(count(*), 1) AS BIGINT) AS violation_ppm
           |FROM lineitem""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rule")
    },
    // per-source rows for the same three pass predicates
    "expectation_by_source" -> {
      val rules = Seq(
        "text_nonempty" -> "length(text) > 0",
        "chars_in_band" -> "n_chars >= 10 AND n_chars <= 100000",
        "id_present" -> "doc_id IS NOT NULL")
      rules.map { case (name, pred) =>
        s"""SELECT CAST(source AS VARCHAR) AS source, '$name' AS rule,
           | CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(sum(CASE WHEN NOT coalesce($pred, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           | CAST(CAST(sum(CASE WHEN NOT coalesce($pred, false) THEN 1 ELSE 0 END) AS BIGINT) * 1000000
           |   // greatest(count(*), 1) AS BIGINT) AS violation_ppm
           |FROM documents WHERE source IS NOT NULL GROUP BY 1""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY source, rule")
    },
    // the pointwise Lorenz companion: same masses, cumulative shares
    "lorenz_curve" ->
      """WITH m AS (
        | SELECT CAST(source AS VARCHAR) AS g,
        |  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS m
        | FROM documents WHERE source IS NOT NULL GROUP BY 1
        |), r AS (
        | SELECT g, m, row_number() OVER (ORDER BY m, g) AS i,
        |  sum(m) OVER (ORDER BY m, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM m
        |), t AS (
        | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s FROM m
        |)
        |SELECT r.g AS source, CAST(r.i AS BIGINT) AS grp_rank,
        | CAST(r.i * 1000000 // t.n AS BIGINT) AS cum_groups_ppm,
        | CAST(CAST(r.cum AS HUGEINT) * 1000000 // t.s AS BIGINT) AS cum_mass_ppm
        |FROM r, t WHERE t.s > 0 ORDER BY 2""".stripMargin,
    // the mass-weighted rank rule replayed: cumulative token weight
    // over ascending value, smallest value whose cum exceeds
    // floor(q·(W−1)) — same IEEE multiply+floor on a literal q
    "weighted_percentiles" ->
      """WITH w AS (
        | SELECT CAST(n_chars AS DOUBLE) AS v,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS wt
        | FROM documents
        |), w2 AS (
        | SELECT v, wt FROM w WHERE v IS NOT NULL AND wt > 0
        |), tot AS (
        | SELECT CAST(sum(wt) AS BIGINT) AS W FROM w2
        |), c AS (
        | SELECT v, CAST(sum(wt) AS BIGINT) AS cnt FROM w2 GROUP BY 1
        |), r AS (
        | SELECT v, sum(cnt) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM c
        |), probs(p_ppm, q) AS (
        | SELECT * FROM (VALUES (100000, 0.1), (500000, 0.5), (900000, 0.9), (990000, 0.99)) x
        |)
        |SELECT CAST(p.p_ppm AS BIGINT) AS p_ppm,
        | CAST((SELECT min(r.v) FROM r, tot WHERE r.cum > floor(p.q * (tot.W - 1))) AS BIGINT) AS value
        |FROM probs p ORDER BY 1""".stripMargin,
    // the same rank rule per source: per-group mass total W_g, per-group
    // cumulative over ascending value, smallest value whose cum exceeds
    // floor(q·(W_g−1)) — identical IEEE multiply+floor on literal q
    "weighted_percentiles_by_source" ->
      """WITH w AS (
        | SELECT CAST(source AS VARCHAR) AS g, CAST(n_chars AS DOUBLE) AS v,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS wt
        | FROM documents
        |), w2 AS (
        | SELECT g, v, wt FROM w WHERE g IS NOT NULL AND v IS NOT NULL AND wt > 0
        |), tot AS (
        | SELECT g, CAST(sum(wt) AS BIGINT) AS W FROM w2 GROUP BY 1
        |), c AS (
        | SELECT g, v, CAST(sum(wt) AS BIGINT) AS cnt FROM w2 GROUP BY 1, 2
        |), r AS (
        | SELECT g, v, sum(cnt) OVER (PARTITION BY g ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM c
        |), probs(p_ppm, q) AS (
        | SELECT * FROM (VALUES (100000, 0.1), (500000, 0.5), (900000, 0.9)) x
        |)
        |SELECT tot.g AS source, CAST(p.p_ppm AS BIGINT) AS p_ppm,
        | CAST((SELECT min(r.v) FROM r
        |        WHERE r.g = tot.g AND r.cum > floor(p.q * (tot.W - 1))) AS BIGINT) AS value
        |FROM tot, probs p ORDER BY 1, 2""".stripMargin,
    // the same CUSUM statistic over day ranks; products in HUGEINT,
    // argmax ties to the earliest day
    "changepoint_day" -> changepointDayOracleSql,
    "profile_numeric" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name,
           | CAST(count($c) AS BIGINT) AS n,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
           | CASE WHEN count($c) > 0
           |      THEN CAST(CAST(sum(CAST($c AS DECIMAL(38,2))) AS DOUBLE) AS DOUBLE) / count($c)
           |      ELSE NULL END AS mean,
           | quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS p50,
           | quantile_cont($c, 0.75) AS p75, quantile_cont($c, 0.9) AS p90
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // exact columns of the sketch-path profile (percentiles projected out
    // — a GK sketch is not hash-comparable across engines)
    "profile_numeric_approx" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name,
           | CAST(count($c) AS BIGINT) AS n,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           | CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
           | CASE WHEN count($c) > 0
           |      THEN CAST(CAST(sum(CAST($c AS DECIMAL(38,2))) AS DOUBLE) AS DOUBLE) / count($c)
           |      ELSE NULL END AS mean
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // per-group twin of the profile_numeric oracle: quantile_cont per
    // (source, lang) == Spark's exact histogram percentile; the mean is
    // the same decimal-sum / double-division written order
    "profile_by_group" ->
      """SELECT source, lang,
        | CAST(count(n_chars) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        | CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct,
        | CAST(min(n_chars) AS DOUBLE) AS min, CAST(max(n_chars) AS DOUBLE) AS max,
        | CASE WHEN count(n_chars) > 0
        |      THEN CAST(sum(CAST(n_chars AS DECIMAL(38,2))) AS DOUBLE) / count(n_chars)
        |      ELSE NULL END AS mean,
        | quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
        | quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
        | quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75,
        | quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    // the weighted_sample FNV fragment; boundaries are the operator's
    // round(cum·1024) values spelled as literals
    "hash_split" ->
      """WITH h AS (
        | SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) % 1024 AS BIGINT) AS bucket
        | FROM (SELECT doc_id, doc_id::VARCHAR || ':graft' AS s FROM documents)
        |)
        |SELECT doc_id,
        | CASE WHEN bucket < 819 THEN 'train'
        |      WHEN bucket < 922 THEN 'val'
        |      WHEN bucket < 1024 THEN 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    // FNV of the SOURCE (not the doc id) — every doc of one source
    // lands in one split; same bucket bounds as hash_split's 0.8 cut
    "grouped_split" ->
      """WITH h AS (
        | SELECT doc_id, source,
        |  CAST(list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s) + 1), i -> CAST(ascii(s[i]) AS HUGEINT))),
        |    (acc, b) -> ((acc // 256) * 256 + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                * 1099511628211 % CAST('18446744073709551616' AS HUGEINT)
        |  ) % 1024 AS BIGINT) AS bucket
        | FROM (SELECT doc_id, source, source || ':gsplit' AS s FROM documents)
        |)
        |SELECT doc_id, source,
        | CASE WHEN bucket < 819 THEN 'train'
        |      WHEN bucket < 1024 THEN 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    // quantile_cont shares Spark percentile's linear interpolation
    // (proven by profile_numeric); the clip compares the same doubles
    "winsorize" ->
      """WITH b AS (
        | SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
        |        quantile_cont(l_extendedprice, 0.95) AS hi
        | FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_extendedprice IS NULL THEN NULL
        |      WHEN l_extendedprice < b.lo THEN b.lo
        |      WHEN l_extendedprice > b.hi THEN b.hi
        |      ELSE l_extendedprice END AS l_extendedprice
        |FROM lineitem, b
        |ORDER BY 1, 2""".stripMargin,
    // decile bounds via quantile_cont (parity with Spark's exact
    // percentile proven by the winsorize gate); bucket = Σ [x >= b_i]
    "quantile_buckets" ->
      """WITH b AS (
        | SELECT quantile_cont(l_extendedprice, 0.1) AS b1,
        |        quantile_cont(l_extendedprice, 0.2) AS b2,
        |        quantile_cont(l_extendedprice, 0.3) AS b3,
        |        quantile_cont(l_extendedprice, 0.4) AS b4,
        |        quantile_cont(l_extendedprice, 0.5) AS b5,
        |        quantile_cont(l_extendedprice, 0.6) AS b6,
        |        quantile_cont(l_extendedprice, 0.7) AS b7,
        |        quantile_cont(l_extendedprice, 0.8) AS b8,
        |        quantile_cont(l_extendedprice, 0.9) AS b9
        | FROM lineitem
        |)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM (
        | SELECT CAST(
        |   (CASE WHEN l_extendedprice >= b.b1 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b2 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b3 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b4 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b5 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b6 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b7 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b8 THEN 1 ELSE 0 END)
        | + (CASE WHEN l_extendedprice >= b.b9 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        | FROM lineitem, b
        | WHERE l_extendedprice IS NOT NULL
        |)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank() ties at the group minimum == the below-count + 1; the
    // ratio is spelled as the same explicit long division the operator
    // performs (not the percent_rank builtin, whose internal arithmetic
    // is unspecified)
    "percent_rank" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CAST(rank() OVER (ORDER BY l_extendedprice) - 1 AS DOUBLE)
        |   / CAST(count(*) OVER () - 1 AS DOUBLE) AS pct_rank
        |FROM lineitem
        |ORDER BY 1, 2""".stripMargin,
    // within-partition twin: rank()−1 ties at the group minimum == the
    // below-count; n−1 per source; same exact-long division
    "percent_rank_by_group" ->
      """SELECT doc_id, source, n_chars,
        | CASE WHEN count(*) OVER (PARTITION BY source) > 1
        |  THEN CAST(rank() OVER (PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE)) - 1 AS DOUBLE)
        |     / CAST(count(*) OVER (PARTITION BY source) - 1 AS DOUBLE)
        |  ELSE 0.0 END AS pct_rank
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // quantile_cont == Spark exact percentile (winsorize-proven); the
    // scale step is one fixed-order division, identical in any engine
    "robust_scale" ->
      """WITH b AS (
        | SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |        quantile_cont(l_extendedprice, 0.5) AS med,
        |        quantile_cont(l_extendedprice, 0.75) AS q3
        | FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CASE WHEN l_extendedprice IS NULL THEN NULL
        |      WHEN b.q3 - b.q1 = 0.0 THEN 0.0
        |      ELSE (l_extendedprice - b.med) / (b.q3 - b.q1) END AS scaled
        |FROM lineitem, b
        |ORDER BY 1, 2""".stripMargin,
    // the operator's exact arithmetic chain: decimal sums (doubles
    // rounded before the cast), mean/std quantized to 6 dp, Tukey
    // fences from quantile_cont quartiles in the same written order
    "outlier_flags" ->
      """WITH st AS (
        | SELECT count(l_extendedprice) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s,
        |  CAST(sum(CAST(round(l_extendedprice * l_extendedprice, 8) AS DECIMAL(38,8))) AS DOUBLE) AS ss,
        |  quantile_cont(l_extendedprice, 0.25) AS q1,
        |  quantile_cont(l_extendedprice, 0.75) AS q3
        | FROM lineitem
        |), d AS (
        | SELECT round(s / n, 6) AS mean,
        |  round(sqrt(greatest(0.0, ss / n - (s / n) * (s / n))), 6) AS std,
        |  q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        | FROM st
        |)
        |SELECT l_returnflag,
        | CAST(sum(CASE WHEN abs(l_extendedprice - d.mean) > 3.0 * d.std THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
        | CAST(sum(CASE WHEN l_extendedprice < d.lo OR l_extendedprice > d.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_iqr,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem, d GROUP BY 1 ORDER BY 1""".stripMargin,
    // float→double is exact, x and x² sum as DECIMAL(38,9), mean/std
    // derive in the same written double order
    "profile_vector" ->
      """WITH x AS (
        | SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x
        | FROM embeddings
        |)
        |SELECT CAST(dim AS INTEGER) AS dim, CAST(count(x) AS BIGINT) AS n,
        | CAST(count(*) - count(x) AS BIGINT) AS nulls,
        | min(x) AS min, max(x) AS max,
        | CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(x) AS mean,
        | sqrt(GREATEST(
        |   CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(x)
        |   - (CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(x))
        |     * (CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(x)), 0.0)) AS std
        |FROM x GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // the bm25 chain as a CTE + conjunctive containment relevance +
    // rank-based metric arithmetic (all exact scaled integers)
    "ranking_metrics" -> rankingMetricsOracle(),
    // same scaffold + the driver-computed scaled DCG weight literals
    "ndcg_metrics" -> ndcgOracle(),
  )
}
