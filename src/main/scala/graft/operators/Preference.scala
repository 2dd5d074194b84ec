package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.types.{DecimalType, LongType}

/**
 * Pairwise-preference aggregation — the RLHF/preference-data curation
 * step that turns noisy "A beat B" comparison logs into per-item
 * strength ratings. Public method: the Bradley–Terry model (Zermelo
 * 1929; Bradley & Terry 1952) fitted by the MM algorithm (Hunter 2004,
 * "MM algorithms for generalized Bradley-Terry models"):
 *
 *   γ'_i = W_i / Σ_{j≠i} n_ij / (γ_i + γ_j)
 *
 * where W_i = i's total wins and n_ij = comparisons between i and j.
 * Each iteration provably increases the likelihood; a fixed round
 * count makes the computation replayable (the pageRankScaled
 * discipline — no data-dependent convergence branch in a compared
 * surface).
 *
 * Reference parity note: the reference bundle has no preference
 * aggregation — this is part of the LLM-pipeline surface the engine
 * adds beyond it (SURVEY §3), sitting beside the eval-stats family
 * (AUC, kappa, NDCG) as the training-side consumer of human/AI
 * comparison logs.
 */
object Preference {

  /** Bradley–Terry strength ratings in exact scaled integers. Input:
    * one row per comparison `(winnerCol, loserCol)` (self-comparisons
    * and null ids are dropped). Output: `(item STRING, rating_e6
    * BIGINT, wins BIGINT, comparisons BIGINT)` — ratings normalized so
    * they sum to n_items·10⁶ (the MM scale fix; exact up to ±1 unit per
    * item from truncation and the post-normalize floor), every
    * arithmetic step an integer both engines replay bit-for-bit:
    *
    *  - γ starts at 10⁶ per item;
    *  - per round, per ORIENTED pair: d_ij = (n_ij·10¹²) div (γ_i+γ_j)
    *    (e6 scale), D_i = Σ_j d_ij floored at 1 (a D of 0 — possible
    *    only past ~5·10⁵ items where the normalized sum dilutes
    *    d below 1 — must not divide by zero), γ'_i = (W_i·10¹²) div D_i
    *    clamped to [1, 10¹²];
    *  - normalize: γ''_i = (γ'_i · n_items·10⁶) div Σγ' in
    *    DECIMAL(38,0) (the exact-intermediate convention; output stays
    *    BIGINT).
    *
    * The [1, 10¹²] clamp makes the fit TOTAL where the textbook model
    * is undefined: an item that never wins converges to the 10⁻⁶ floor
    * instead of 0 (two all-loser items compared would otherwise divide
    * by γ_i+γ_j = 0 — silently null here, an error in an external
    * replay, the '% 0' divergence class), and a never-losing item
    * pins at 10¹² pre-normalization instead of diverging (the MLE does
    * not exist when the comparison graph isn't strongly connected —
    * Hunter §2; the clamp is the documented boundary behavior).
    *
    * Two zero-action tripwires keep every product inside exact int64
    * and refuse loudly past them: n_ij ≤ 10⁶ per pair and W_i ≤ 10⁶
    * per item (a heavier log should be deduplicated or downsampled —
    * at preference-log scale a bounded per-pair/per-item sample is
    * standard practice, and the MM fit on the sample is the same
    * estimator).
    *
    * Scale shape: comparisons compress to per-oriented-pair counts
    * ONCE (one map-side-combined aggregate; raw log rows never touch
    * the iteration), then each round is two hash joins of the pair
    * stats against the n-row rating table, one map-side-combined sum,
    * and a 1-row broadcast normalize — no collect, no window, no
    * quadratic term anywhere (cost ∝ distinct compared pairs, not
    * items²).
    */
  def bradleyTerryScaled(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      rounds: Int = 8
  ): DataFrame = {
    val c = comparisons
      .select(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"))
      .filter(col("_w").isNotNull && col("_l").isNotNull &&
        col("_w") =!= col("_l"))
    bradleyTerryFromCounts(
      c.groupBy(col("_w").as("_i"), col("_l").as("_j"))
        .agg(count(lit(1)).as("_wn")),
      rounds)
  }

  /** [[bradleyTerryScaled]] for logs that contain DRAWS — the half-win
    * convention (each tie credits both sides half a win), carried in
    * exact integers by counting in HALF-UNITS: a decisive row adds 2 to
    * its oriented pair, a tie adds 1 in EACH orientation. BT ratings
    * are invariant to a uniform rescaling of (n_ij, W_i) — the MM
    * update divides W_i·10¹² by Σ n_ij·10¹²/(γ_i+γ_j) — so the doubled
    * units change ratings only at the integer-truncation margin, and
    * every step stays engine-replayable.
    *
    * `tieCol` is a BOOLEAN column: when true the row is a draw and the
    * (winner, loser) orientation is ignored; null tie flags drop with
    * the null-id rows. The plain [[bradleyTerryScaled]] cannot express
    * a tie at all — encoding a draw as a decisive row biases the
    * winner up, which is exactly the silent corruption this entry
    * point exists to prevent.
    *
    * Contract shift (documented, deliberate): the output `wins` and
    * `comparisons` columns are in half-units — `wins` = 2·(decisive
    * wins) + ties, `comparisons` = 2·(comparisons involving the item).
    * The tripwires likewise read in half-units, so the per-pair bound
    * is 5·10⁵ real comparisons and the per-item bound 5·10⁵
    * win-equivalents.
    */
  def bradleyTerryScaledWithTies(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      tieCol: String,
      rounds: Int = 8
  ): DataFrame = {
    val c = comparisons
      .select(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"),
        col(tieCol).cast("boolean").as("_t"))
      .filter(col("_w").isNotNull && col("_l").isNotNull &&
        col("_w") =!= col("_l") && col("_t").isNotNull)
      .localCheckpoint() // both orientations of the tie slice read it
    val halfUnits = c
      .select(col("_w").as("_i"), col("_l").as("_j"),
        when(col("_t"), lit(1L)).otherwise(lit(2L)).as("_wn"))
      .unionByName(c.filter(col("_t"))
        .select(col("_l").as("_i"), col("_w").as("_j"), lit(1L).as("_wn")))
      .groupBy("_i", "_j").agg(sum(col("_wn")).as("_wn"))
    bradleyTerryFromCounts(halfUnits, rounds)
  }

  /** [[bradleyTerryScaled]] PLUS the comparison-graph connectivity
    * diagnostic: the [1, 10¹²] clamp makes the fit total on
    * disconnected logs — islands silently converge to boundary
    * ratings — so consumers need to SEE which ratings are mutually
    * comparable. Each item gets its undirected comparison-graph
    * component id ([[graft.operators.Graph.connectedComponentsMin]],
    * label = min item in the component), the component's item count,
    * and `spans_all` (component covers every compared item). Ratings
    * are only mutually calibrated WITHIN a component; `spans_all =
    * false` anywhere means cross-component rating comparisons are
    * meaningless. (Undirected connectivity is the coarse necessary
    * condition; Hunter §2's full MLE-existence condition is DIRECTED
    * strong connectivity — an all-loser island member still pins to
    * the clamp floor. This flag catches the structural failure class;
    * the clamp documents the boundary behavior of the rest.)
    *
    * Scale shape: the CC runs over the DISTINCT compared-pair edge
    * list (the same pair-stat compression as the fit — never log
    * rows); the size/flag joins are item-table-sized plus one 1-row
    * broadcast.
    */
  def ratingsWithConnectivity(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      rounds: Int = 8
  ): DataFrame = {
    // one checkpointed (winner, loser) slice feeds BOTH the fit and the
    // component edges — a non-deterministic input (sampled log) must not
    // yield component labels inconsistent with the ratings they decorate
    // (the bradleyTerryScaledWithTies convention)
    val slice = Materialize.local(comparisons
      .select(col(winnerCol).cast("string").as("_a"),
        col(loserCol).cast("string").as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b")))
    val ratings = bradleyTerryScaled(slice, "_a", "_b", rounds)
    val e = slice.distinct()
    // sizes, total, and the rating join all read it
    val comp = Materialize.local(Graph.connectedComponentsMin(e, "_a", "_b")
      .select(col("node").as("item"), col("label").as("component")))
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("component_items"))
    val total = comp.agg(count(lit(1)).as("_n"))
    ratings.join(comp, Seq("item"))
      .join(sizes, Seq("component"))
      .crossJoin(broadcast(total))
      .select(col("item"), col("rating_e6"), col("wins"), col("comparisons"),
        col("component"), col("component_items"),
        (col("component_items") === col("_n")).as("spans_all"))
  }

  /** [[bradleyTerryScaled]] off PRE-AGGREGATED oriented win counts
    * `(_i, _j, _wn)` — "i beat j _wn times". The comparison log itself
    * never has to exist in one place: counts are additive, so a
    * streaming accumulator ([[graft.streaming.StreamingOps.applyBtBatch]])
    * or a pre-sharded log can feed this directly. Same output, same
    * clamps, same tripwires.
    */
  def bradleyTerryFromCounts(
      orientedCounts: DataFrame,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"bradleyTerryScaled: rounds must be in [1, 32], got $rounds")
    val d38 = DecimalType(38, 0)
    // completed to BOTH orientations (zero-filled), then
    // n_ij = w_ij + w_ji via one reversed self-join — symmetric pair
    // stats, no window
    val w0 = orientedCounts
      .select(col("_i").cast("string").as("_i"),
        col("_j").cast("string").as("_j"), col("_wn").cast("long").as("_wn"))
      .filter(col("_i").isNotNull && col("_j").isNotNull &&
        col("_i") =!= col("_j") && col("_wn") > 0L)
      .localCheckpoint()
    val wBoth = w0.select(col("_i"), col("_j"), col("_wn"))
      .unionByName(w0.select(col("_j").as("_i"), col("_i").as("_j"),
        lit(0L).as("_wn")))
      .groupBy("_i", "_j").agg(sum(col("_wn")).as("_w_ij"))
      .localCheckpoint()
    val ps = wBoth
      .join(wBoth.select(col("_j").as("_i"), col("_i").as("_j"),
        col("_w_ij").as("_w_ji")), Seq("_i", "_j"))
      .select(col("_i"), col("_j"), (col("_w_ij") + col("_w_ji")).as("_n_ij"))
      .filter(assert_true(col("_n_ij") <= lit(1000000L),
        lit("bradleyTerryScaled: a pair carries > 10^6 comparisons — " +
          "deduplicate or downsample the comparison log (the bound keeps " +
          "n_ij * 10^12 inside exact int64)")).isNull)
      .localCheckpoint()
    val wins = w0.groupBy(col("_i")).agg(sum(col("_wn")).as("_wins"))
    val items = w0.select(col("_i"))
      .unionByName(w0.select(col("_j").as("_i")))
      .distinct()
      .join(wins, Seq("_i"), "left")
      .select(col("_i"), coalesce(col("_wins"), lit(0L)).as("_wins"))
      .filter(assert_true(col("_wins") <= lit(1000000L),
        lit("bradleyTerryScaled: an item carries > 10^6 wins — " +
          "downsample the comparison log (the bound keeps " +
          "wins * 10^12 inside exact int64)")).isNull)
      .localCheckpoint()
    val nItems = items.count()
    val scale = nItems * 1000000L
    var g = items.select(col("_i"), lit(1000000L).as("_g"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val d = ps
        .join(g.select(col("_i"), col("_g").as("_gi")), Seq("_i"))
        .join(g.select(col("_i").as("_j"), col("_g").as("_gj")), Seq("_j"))
        .select(col("_i"),
          expr("(_n_ij * 1000000000000L) div (_gi + _gj)").as("_d"))
        .groupBy("_i").agg(greatest(lit(1L), sum(col("_d"))).as("_D"))
      // checkpoint the PRE-normalize table as well as the post-normalize
      // one: the `tot` broadcast aggregate and the normalize projection
      // both read gRaw, and left lazy the two pair-table joins above
      // would execute TWICE per round (once inside the broadcast
      // subquery, once in the main plan — Spark dedups repeated
      // exchanges, not arbitrary repeated subtrees). Post-checkpoint,
      // `tot` and the normalize are passes over an n-row in-memory
      // table; `g` keeps its own (now cheap) checkpoint because the next
      // round reads it twice. Measured r16: the MM joins once per round
      // instead of twice.
      val gRaw = items.join(d, Seq("_i"), "left")
        .select(col("_i"),
          least(lit(1000000000000L), greatest(lit(1L),
            expr("(_wins * 1000000000000L) div coalesce(_D, 1L)")))
            .as("_g"))
        .localCheckpoint()
      val tot = gRaw.agg(sum(col("_g").cast(d38)).as("_tot"))
      // the 1-floor applies AFTER the normalize too — its truncation can
      // otherwise zero a floor-rating item and reintroduce the
      // γ_i + γ_j = 0 division the pre-normalize clamp exists to prevent
      g = gRaw.crossJoin(broadcast(tot))
        .select(col("_i"),
          greatest(lit(1L),
            expr(s"CAST((CAST(_g AS DECIMAL(38,0)) * $scale) div _tot AS BIGINT)"))
            .as("_g"))
        .localCheckpoint()
    }
    items.join(g, Seq("_i"))
      .join(ps.groupBy("_i").agg(sum(col("_n_ij")).as("_cmp")), Seq("_i"), "left")
      .select(col("_i").as("item"), col("_g").as("rating_e6"),
        col("_wins").as("wins"),
        coalesce(col("_cmp"), lit(0L)).cast(LongType).as("comparisons"))
  }
}
