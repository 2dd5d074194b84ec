package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.types.StringType

/**
 * Multi-rater annotation QA — the label-quality statistics an
 * RLHF / annotation pipeline runs before trusting human labels:
 * per-unit consensus (what label does a unit get) and corpus-level
 * chance-corrected agreement across ANY number of raters with missing
 * ratings (Krippendorff's alpha — the multi-rater generalization the
 * two-fixed-rater [[Profile.cohenKappaE6]] cannot express).
 *
 * Reference parity note: the reference bundle has no annotation
 * tooling — this sits in the LLM-pipeline surface beside the
 * eval-stats and preference families (SURVEY §3).
 */
object Annotation {

  /** Per-unit CONSENSUS label: majority vote with ties to the
    * lexicographically smallest label (deterministic, engine-
    * replayable), plus the unit's rating count and the winner's vote
    * share. Null units/labels drop (no vote is defined for a missing
    * rating). Output: `(unit STRING, label STRING, n_ratings BIGINT,
    * support_ppm BIGINT)` with `support_ppm = votes·10⁶ div n_ratings`.
    *
    * Scale shape: one map-side-combined aggregate to (unit, label)
    * counts, then one min_by reduction per unit — never a window, never
    * a rating-row shuffle beyond the first aggregate.
    */
  def consensusLabels(
      df: DataFrame,
      unitCol: String,
      labelCol: String
  ): DataFrame =
    consensusFromCounts(ratingCounts(df, unitCol, labelCol))

  /** The `(_u, _l, _c)` rating-count table every annotation statistic
    * reduces to FIRST — counts are ADDITIVE, so a streaming
    * accumulator ([[graft.streaming.StreamingOps.applyAnnotationBatch]])
    * or a pre-sharded log can maintain this table incrementally and
    * feed the `FromCounts` entry points directly.
    */
  private[graft] def ratingCounts(
      df: DataFrame, unitCol: String, labelCol: String): DataFrame = df
    .select(col(unitCol).cast(StringType).as("_u"),
      col(labelCol).cast(StringType).as("_l"))
    .filter(col("_u").isNotNull && col("_l").isNotNull)
    .groupBy(col("_u"), col("_l")).agg(count(lit(1)).as("_c"))

  /** [[consensusLabels]] off a pre-aggregated `(_u, _l, _c)` table. */
  private[graft] def consensusFromCounts(uc: DataFrame): DataFrame =
    uc.groupBy(col("_u"))
      .agg(
        min_by(struct(col("_l"), col("_c")),
          struct((-col("_c")).as("_nc"), col("_l"))).as("_w"),
        sum(col("_c")).as("n_ratings"))
      .select(col("_u").as("unit"), col("_w._l").as("label"),
        col("n_ratings"),
        expr("(_w._c * 1000000L) div n_ratings").as("support_ppm"))

  /** Krippendorff's alpha for NOMINAL data (Krippendorff 2004 §11;
    * the 1970 coincidence-matrix construction): chance-corrected
    * agreement over units rated by a VARIABLE number of raters, with
    * missing ratings handled by construction — units with fewer than 2
    * ratings carry no agreement information and drop entirely (their
    * labels never enter the marginals either).
    *
    * Arithmetic, exact where the statistic allows it:
    *
    *  - per unit u with m_u ≥ 2 ratings and label counts n_uv, the
    *    observed-disagreement mass is the ordered disagreeing pairs
    *    normalized by (m_u − 1):  d_u / (m_u − 1) with
    *    d_u = m_u² − Σ_v n_uv²  — an exact integer numerator; the ONE
    *    rational step floors at e6 per unit:
    *    `do_e6 += (d_u · 10⁶) div (m_u − 1)` (both engines share the
    *    floor, bias < 10⁻⁶ per unit, recorded in the output scale);
    *  - the coincidence marginals are EXACT integers: n_v = Σ_u n_uv,
    *    n = Σ_u m_u (over kept units);
    *  - alpha = 1 − D_o/D_e with D_e = (n² − Σ_v n_v²)/(n − 1), so
    *    `alpha_ppm = 10⁶ − (do_e6 · (n − 1)) div (n² − Σ_v n_v²)` —
    *    computed driver-side in BigInt (n² overflows int64 past ~3·10⁹
    *    ratings), truncation toward zero (the [[Profile.cohenKappaE6]]
    *    convention, shared with DuckDB `//` for the positive
    *    denominator).
    *
    * A degenerate corpus (every kept rating the same label — D_e = 0)
    * emits NOTHING: alpha is undefined there, not 0 (the kappa
    * convention). Output one row:
    * `(n_units, n_ratings, do_e6, alpha_ppm)` — all BIGINT.
    *
    * Scale shape: one aggregate to (unit, label) counts, one per-unit
    * reduction, one ≤K-row label-marginal aggregate collected as
    * driver metadata (the cohenKappa discipline) — rating rows shuffle
    * once, as counts.
    */
  def krippendorffAlphaNominalE6(
      df: DataFrame,
      unitCol: String,
      labelCol: String
  ): DataFrame =
    alphaNominalFromCountsE6(ratingCounts(df, unitCol, labelCol))

  /** [[krippendorffAlphaNominalE6]] off a pre-aggregated `(_u, _l, _c)`
    * table (the [[ratingCounts]] shape — a streaming accumulator's
    * committed state plugs in here).
    */
  private[graft] def alphaNominalFromCountsE6(ucRaw: DataFrame): DataFrame = {
    val spark = ucRaw.sparkSession
    import spark.implicits._
    // the per-unit reduction AND the marginals read it
    val uc = Materialize.local(ucRaw)
    // totals AND the kept-unit semi-join read it
    val per = Materialize.local(uc.groupBy(col("_u"))
      .agg(sum(col("_c")).as("_m"),
        sum(col("_c") * col("_c")).as("_ss"))
      .filter(col("_m") >= 2L)
      .filter(assert_true(col("_m") <= lit(3000000L),
        lit("krippendorffAlphaNominalE6: a unit carries > 3*10^6 ratings " +
          "— downsample the unit (the bound keeps (m^2 - ss)*10^6 inside " +
          "exact int64)")).isNull)
      .select(col("_u"), col("_m"),
        expr("((_m * _m - _ss) * 1000000L) div (_m - 1L)").as("_do")))
    val tot = per.agg(count(lit(1)).as("_units"), sum(col("_m")).as("_n"),
      sum(col("_do")).as("_doe6")).head()
    if (tot.isNullAt(1) || tot.getLong(1) == 0L)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val (nUnits, n, doE6) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val nv = uc.join(per.select(col("_u")), Seq("_u"), "left_semi")
      .groupBy(col("_l")).agg(sum(col("_c")).as("_nv"))
      .select(col("_nv")).as[Long].collect() // ≤K label marginals — metadata
    val bn = BigInt(n)
    val denom = bn * bn - nv.map(v => BigInt(v) * BigInt(v)).sum
    if (denom == 0)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val alphaPpm = BigInt(1000000) - BigInt(doE6) * (bn - 1) / denom
    Seq((nUnits, n, doE6, alphaPpm.toLong))
      .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
  }

  /** Krippendorff's alpha for INTERVAL data — numeric ratings where
    * the SIZE of a disagreement matters (quality scores 1–5: raters
    * saying 4 vs 5 agree far more than 1 vs 5, which the nominal form
    * cannot see): distance δ(v, k) = (v − k)². The pair sums collapse
    * to moments, so no label-pair table ever forms:
    *
    *   Σ_{v,k} n_v n_k (v − k)² = 2·(S0·S2 − S1²)
    *   with S0 = Σn_v, S1 = Σn_v·v, S2 = Σn_v·v²
    *
    * per unit (observed, normalized by m_u − 1, the one e6-floored
    * rational step — the nominal form's convention) and globally
    * (expected, normalized by n − 1, BigInt driver finish). Ratings
    * must be integers with |v| ≤ 10³ and units ≤ 10⁶ ratings (zero-
    * action tripwires — keeps the per-unit moment products m·S2 and
    * S1² inside exact int64; the ·10⁶ e6 scaling widens to
    * DECIMAL(38,0) first because it does NOT fit). Rescale wider
    * scores upstream. Units with < 2 ratings drop; a degenerate
    * corpus (every kept rating equal — D_e = 0) emits nothing.
    * Output: `(n_units, n_ratings, do_e6, alpha_ppm)`.
    */
  def krippendorffAlphaIntervalE6(
      df: DataFrame,
      unitCol: String,
      valueCol: String
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = df
      .select(col(unitCol).cast(StringType).as("_u"),
        col(valueCol).cast(org.apache.spark.sql.types.LongType).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
      .filter(assert_true(abs(col("_v")) <= lit(1000L),
        lit("krippendorffAlphaIntervalE6: |rating| must be <= 10^3 — " +
          "rescale wider scores upstream (the bound keeps the moment " +
          "products inside exact int64)")).isNull)
    // totals and the degenerate check read it
    val per = Materialize.local(r.groupBy(col("_u"))
      .agg(count(lit(1)).as("_m"), sum(col("_v")).as("_s1"),
        sum(col("_v") * col("_v")).as("_s2"))
      .filter(col("_m") >= 2L)
      .filter(assert_true(col("_m") <= lit(1000000L),
        lit("krippendorffAlphaIntervalE6: a unit carries > 10^6 ratings " +
          "— downsample the unit (the bound keeps S0*S2 inside exact " +
          "int64)")).isNull)
      .select(col("_u"), col("_m"), col("_s1"), col("_s2"),
        // m*S2 and S1^2 each fit int64 at the tripwired bounds, but the
        // *10^6 e6 scaling does NOT — widen to DECIMAL(38,0) BEFORE the
        // scaling (the same decimal handling as the global T1/T2 sums);
        // IntegralDivide then lands back in int64: per-unit do_e6 is
        // bounded by 2*m*10^12 <= 2*10^18 at m = 10^6.
        expr("(cast(_m * _s2 - _s1 * _s1 as decimal(38,0)) * 2000000L)" +
          " div (_m - 1L)").as("_do")))
    val tot = per.agg(count(lit(1)).as("_units"), sum(col("_m")).as("_n"),
      sum(col("_s1").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("_t1"),
      sum(col("_s2").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("_t2"),
      sum(col("_do").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("_doe6")).head()
    if (tot.isNullAt(1) || tot.getLong(1) == 0L)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val (nUnits, n) = (tot.getLong(0), tot.getLong(1))
    val doE6 = BigInt(tot.getDecimal(4).toBigInteger)
    require(doE6 <= BigInt(Long.MaxValue),
      "krippendorffAlphaIntervalE6: total observed-disagreement mass " +
        "exceeds int64 at e6 scale — rescale ratings upstream")
    val t1 = BigInt(tot.getDecimal(2).toBigInteger)
    val t2 = BigInt(tot.getDecimal(3).toBigInteger)
    val bn = BigInt(n)
    val denom = 2 * (bn * t2 - t1 * t1)
    if (denom == 0)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val alphaPpm = BigInt(1000000) - doE6 * (bn - 1) / denom
    Seq((nUnits, n, doE6.toLong, alphaPpm.toLong))
      .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
  }

  /** Per-RATER reliability: chance-corrected agreement of each rater
    * with the corpus [[consensusLabels]] — the annotator-quality grade
    * that flags a low-quality (or adversarial) rater BEFORE their
    * labels poison a reward model. Cohen's kappa of the rater against
    * the consensus "rater", exact integers end to end:
    *
    *  - p_o = a/n  (a = the rater's ratings matching their unit's
    *    consensus, n = the rater's rating count);
    *  - p_e = S/n² with S = Σ_v c_v·k_v (c_v = times the rater said v,
    *    k_v = units the rater rated whose consensus is v) — the two
    *    marginal distributions' chance-match mass;
    *  - kappa = 1 − (1−p_o)/(1−p_e), computed as
    *    `kappa_ppm = 10⁶ − (n·(n−a)·10⁶) div (n²−S)` so both factors of
    *    the one rational step are NON-NEGATIVE (floor = truncation,
    *    shared with the oracle's `//`; the alpha-family convention).
    *
    * The consensus includes the rater's own vote (self-inclusion is
    * deterministic, engine-replayable, and vanishes as unit rating
    * counts grow; leave-one-out would re-vote every unit per rater —
    * a per-rater shuffle multiplier with no gate-scale payoff). A
    * degenerate rater (p_e = 1: they and the consensus are the same
    * constant label — chance explains everything) emits a NULL kappa,
    * never a fake 0. Raters past 3·10⁶ ratings refuse loudly (the
    * n²·10⁶ int64 bound, the nominal-alpha convention).
    *
    * Output: `(rater, n_ratings, n_agree, po_ppm, kappa_ppm)`.
    *
    * Scale shape: one consensus pass (two map-side aggregates), one
    * rating⋈consensus equi-join on unit, then everything reduces to
    * per-(rater, label) counts before the final per-rater rows — no
    * window, no driver loop, no all-pairs.
    */
  def raterReliability(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String
  ): DataFrame =
    raterReliabilityFromCounts(df
      .select(col(unitCol).cast(StringType).as("_u"),
        col(raterCol).cast(StringType).as("_r"),
        col(labelCol).cast(StringType).as("_l"))
      .filter(col("_u").isNotNull && col("_r").isNotNull &&
        col("_l").isNotNull)
      .groupBy(col("_u"), col("_r"), col("_l"))
      .agg(count(lit(1)).as("_c")))

  /** [[raterReliability]] off a pre-aggregated `(_u, _r, _l, _c)`
    * count table — like [[ratingCounts]] one level finer, and equally
    * ADDITIVE, so a streaming accumulator
    * ([[graft.streaming.StreamingOps.applyRaterBatch]]) plugs its
    * committed state in here. The consensus reduces from the same
    * table by summing out the rater.
    */
  private[graft] def raterReliabilityFromCounts(urlcRaw: DataFrame): DataFrame = {
    val urlc = Materialize.local(urlcRaw) // consensus, join, c_rv read it
    val cons = consensusFromCounts(
        urlc.groupBy(col("_u"), col("_l")).agg(sum(col("_c")).as("_c")))
      .select(col("unit").as("_u"), col("label").as("_cl"))
    val j = urlc.join(cons, Seq("_u"))
    val perRater = j.groupBy(col("_r"))
      .agg(sum(col("_c")).as("_n"),
        sum(when(col("_l") === col("_cl"), col("_c")).otherwise(0L)).as("_a"))
      .filter(assert_true(col("_n") <= lit(3000000L),
        lit("raterReliability: a rater carries > 3*10^6 ratings — " +
          "downsample the rater (the bound keeps n^2*10^6 inside exact " +
          "int64)")).isNull)
    val crv = urlc.groupBy(col("_r"), col("_l")).agg(sum(col("_c")).as("_c"))
    val krv = j.groupBy(col("_r"), col("_cl").as("_l"))
      .agg(sum(col("_c")).as("_k"))
    val s = crv.join(krv, Seq("_r", "_l"))
      .groupBy(col("_r")).agg(sum(col("_c") * col("_k")).as("_s"))
    perRater.join(s, Seq("_r"))
      .select(col("_r").as("rater"), col("_n").as("n_ratings"),
        col("_a").as("n_agree"),
        expr("(_a * 1000000L) div _n").as("po_ppm"),
        when(col("_n") * col("_n") === col("_s"), lit(null))
          .otherwise(expr(
            "1000000L - (_n * (_n - _a) * 1000000L) div (_n * _n - _s)"))
          .cast(org.apache.spark.sql.types.LongType).as("kappa_ppm"))
  }

  /** Krippendorff's alpha for ORDINAL data (Krippendorff 2004 §11.3's
    * rank-based metric): Likert-style labels where "4 vs 5" disagrees
    * less than "1 vs 5" but the VALUES are ranks, not measurements —
    * the case nominal (all disagreements equal) and interval
    * (differences of the raw codes) bracket. The ordinal distance
    * between ranks v < k is the squared sum of the coincidence
    * marginals BETWEEN them:
    *
    *   δ(v,k) = (Σ_{g=v..k} n_g − (n_v + n_k)/2)²
    *
    * carried exactly in HALF-UNIT form D(v,k) = 2·Σ_{g=v..k} n_g −
    * n_v − n_k (integer), δ = D²/4 — the ¼ cancels between observed
    * and expected, so both sides use D² and no fraction ever forms.
    *
    * The marginals n_g (over kept units, m ≥ 2) collect driver-side —
    * at most `maxDistinct` ranks (default 1024, loud refusal past it:
    * an ordinal SCALE has a handful of levels; a thousand distinct
    * values means the input is a measurement, use
    * [[krippendorffAlphaIntervalE6]]) — and the ≤K² distance table
    * broadcasts back as a literal frame (the GateTables discipline).
    * Per unit, observed disagreement is the label-pair sum
    * 2·Σ_{v<k} n_uv·n_uk·D(v,k)², accumulated in DECIMAL(38,0) (the
    * products overflow int64 by construction — D grows with corpus
    * coincidences), e6-floored per unit by (m_u − 1) via exact decimal
    * floor-division, then summed in decimal; expected is the same sum
    * over the global marginals, BigInt driver-side. alpha_ppm = 10⁶ −
    * do_e6·(n−1) div Σ_{v≠k} n_v·n_k·D². Kept ratings past 10⁶
    * refuse loudly — that bound keeps the pair arithmetic inside exact
    * DECIMAL(38) at worst-case coincidence structure (ordinal
    * annotation sets are human-sized; past it, downsample units or
    * switch to the interval form whose moments never see n).
    *
    * Degenerate corpora (no kept units, or D_e = 0) emit nothing.
    * Output: `(n_units, n_ratings, do_e6, alpha_ppm)` — `do_e6` is in
    * D²-scale units (quarter-distances ×4), comparable only within
    * this form.
    */
  def krippendorffAlphaOrdinalE6(
      df: DataFrame,
      unitCol: String,
      valueCol: String,
      maxDistinct: Int = 1024
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // per-unit sizes, marginals, pair sums read it
    val uc = Materialize.local(df
      .select(col(unitCol).cast(StringType).as("_u"),
        col(valueCol).cast(org.apache.spark.sql.types.LongType).as("_v"))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
      .groupBy(col("_u"), col("_v")).agg(count(lit(1)).as("_c")))
    // kept-unit semi-joins and totals read it
    val pu = Materialize.local(uc.groupBy(col("_u")).agg(sum(col("_c")).as("_m"))
      .filter(col("_m") >= 2L))
    val kuc = uc.join(pu.select(col("_u")), Seq("_u"), "left_semi")
    val nvRows = kuc.groupBy(col("_v")).agg(sum(col("_c")).as("_nv"))
      .orderBy(col("_v"))
      .as[(Long, Long)].collect() // ≤maxDistinct rank marginals — metadata
    require(nvRows.length <= maxDistinct,
      s"krippendorffAlphaOrdinalE6: ${nvRows.length} distinct values — an " +
        s"ordinal scale has a handful of levels (cap $maxDistinct); for " +
        "numeric measurements use krippendorffAlphaIntervalE6")
    if (nvRows.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val n = nvRows.map(_._2).sum
    require(n <= 1000000L,
      s"krippendorffAlphaOrdinalE6: $n kept ratings > 10^6 — the ordinal " +
        "distance grows with coincidence counts and the pair arithmetic " +
        "would leave exact DECIMAL(38); downsample units or use the " +
        "interval form (whose moments never see n)")
    // half-unit distances D(v,k) = 2*sum(n_g, v<=g<=k) - n_v - n_k over the
    // sorted ranks; the <=K^2 (v, k, D^2) table broadcasts as literals
    val cum = nvRows.scanLeft(0L) { case (acc, (_, c)) => acc + c }.tail
    val pairs = for {
      i <- nvRows.indices; k <- (i + 1) until nvRows.length
    } yield {
      val between = cum(k) - (if (i == 0) 0L else cum(i - 1))
      val dHalf = 2L * between - nvRows(i)._2 - nvRows(k)._2
      (nvRows(i)._1, nvRows(k)._1, dHalf * dHalf) // D <= 2n <= 1e6: D^2 exact
    }
    val nvMap = nvRows.toMap
    val deNum = pairs.map { case (v, k, d2) =>
      BigInt(2) * nvMap(v) * nvMap(k) * d2
    }.sum
    if (deNum == 0)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
    val d2t = broadcast(pairs.toDF("_v1", "_v2", "_d2"))
    // per-unit observed: both orientations of each v<k pair (x2), the
    // pair products in decimal, the one e6-floored rational per unit
    val obs = kuc.select(col("_u"), col("_v").as("_v1"), col("_c").as("_c1"))
      .join(kuc.select(col("_u"), col("_v").as("_v2"), col("_c").as("_c2")),
        Seq("_u"))
      .filter(col("_v1") < col("_v2"))
      .join(d2t, Seq("_v1", "_v2"))
      .groupBy(col("_u"))
      .agg(sum((col("_c1") * col("_c2")).cast(d38) * col("_d2")).as("_s"))
    // e6-floor per unit in DECIMAL: the quotient can exceed int64 for a
    // big coincidence-heavy unit. floor(decimal division at scale 6) is
    // the EXACT floor here: the fractional part is a multiple of
    // 1/(m−1) with m−1 < 2·10⁶, so it can never land within the scale-6
    // rounding half-step of the next integer.
    val per = pu.join(obs, Seq("_u"), "left")
      .select(col("_m"),
        expr("floor((coalesce(_s, cast(0 as decimal(38,0))) * 2000000L)" +
          " / cast(_m - 1L as decimal(38,0)))").as("_do"))
    val tot = per.agg(count(lit(1)).as("_units"), sum(col("_m")).as("_n"),
      sum(col("_do").cast(d38)).as("_doe6")).head()
    val (nUnits, nTot) = (tot.getLong(0), tot.getLong(1))
    val doE6 = BigInt(tot.getDecimal(2).toBigInteger)
    require(doE6 <= BigInt(Long.MaxValue),
      "krippendorffAlphaOrdinalE6: total observed-disagreement mass " +
        "exceeds int64 at e6 scale — downsample units upstream")
    val alphaPpm = BigInt(1000000) - doE6 * BigInt(nTot - 1) / deNum
    Seq((nUnits, nTot, doE6.toLong, alphaPpm.toLong))
      .toDF("n_units", "n_ratings", "do_e6", "alpha_ppm")
  }
}
