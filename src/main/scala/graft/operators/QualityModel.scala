package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions

/**
 * Model-based quality filtering — the fastText-style linear classifier
 * over hashed bag-of-token features that CCNet/RefinedWeb-class
 * curation pipelines run between the heuristic gates and the mix
 * (public idea: Joulin et al. 2016 "Bag of Tricks", CCNet's quality
 * model), split into its two deterministic halves:
 *
 *  - SERVING (`scoreMargin`): margin(doc) = bias + Σ_b cnt_b · w_b over
 *    a literal weight table carried as the scaled integer w×10⁶ BIGINT
 *    — order-free exact integer sums, no transcendental, no DECIMAL
 *    output column (the round-8 verdict isolated the driver's hash
 *    divergence to DECIMAL outputs), hash-gate-able across engines.
 *    `scoreProbability` applies the sigmoid on top for thresholding
 *    (transcendental — spec territory, never in a compared surface).
 *  - TRAINING (`trainLogistic`): Spark MLlib logistic regression over
 *    the SAME hashed features; the fitted coefficients quantize to the
 *    serving table, so train → serve is one quantization step with
 *    spec-pinned parity (margins match MLlib's rawPrediction).
 *
 * Scale shape: featurization is one narrow explode compressed to
 * per-doc bucket counts by a map-side-combined aggregate (tokens never
 * shuffle — (id, bucket, cnt) rows do); scoring joins the ≤`buckets`-row
 * weight table BROADCAST and sums map-side. Training fits on per-doc
 * sparse vectors of bounded width (`buckets`), the standard
 * driver-orchestrated offline profile (same as the IVF centroid fit).
 *
 * Reference parity note: the reference bundle has no model-based
 * scoring — this is part of the LLM-pipeline surface the engine adds
 * beyond it (SURVEY §3).
 */
object QualityModel {

  val DefaultBuckets: Int = ImportanceScoring.DefaultBuckets

  /** Hashed bag-of-tokens features: `(id, bucket, cnt)` — one row per
    * document × distinct feature bucket. Documents with no tokens
    * produce no rows (nothing to featurize).
    */
  def hashedTokenFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = DefaultBuckets,
      salt: String = "qm"
  ): DataFrame =
    docs
      .select(col(idCol),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .select(col(idCol),
        ImportanceScoring.tokenBucket(col("token"), buckets, salt).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Linear margin per document against a literal weight table:
    * `(id, margin_e6 BIGINT)` with margin_e6 = (bias + Σ cnt_b · w_b)
    * ×10⁶. All arithmetic is exact integer (the weights were quantized
    * to 6dp at build time and carried ×10⁶), so the result is
    * engine-reproducible bit-for-bit with no DECIMAL in the compared
    * surface. Documents with no tokens score `bias` exactly (the empty
    * sum) — they rejoin via a left join so the classifier never
    * silently drops rows.
    */
  def scoreMargin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: IndexedSeq[java.math.BigDecimal],
      bias: java.math.BigDecimal,
      buckets: Int = DefaultBuckets,
      salt: String = "qm"
  ): DataFrame = {
    require(weights.length == buckets,
      s"scoreMargin: got ${weights.length} weights for $buckets buckets")
    val spark = docs.sparkSession
    val w = ImportanceScoring.weightsTableFromLiterals(spark, weights)
    val biasE6 = bias.setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    val scored = hashedTokenFeatures(docs, idCol, textCol, buckets, salt)
      .join(broadcast(w), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * col("weight_e6")).as("_dot"))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("_dot"), lit(0L)) + lit(biasE6))
          .cast(LongType).as("margin_e6"))
  }

  /** Sigmoid probability on top of the margin: `(id, margin_e6,
    * prob)`. The sigmoid is a transcendental — serving/thresholding
    * only, never part of a hash-compared gate surface.
    */
  def scoreProbability(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: IndexedSeq[java.math.BigDecimal],
      bias: java.math.BigDecimal,
      buckets: Int = DefaultBuckets,
      salt: String = "qm"
  ): DataFrame =
    scoreMargin(docs, idCol, textCol, weights, bias, buckets, salt)
      .withColumn("prob",
        lit(1.0) / (lit(1.0) +
          exp(-(col("margin_e6").cast(DoubleType) / lit(1000000.0)))))

  /** Fit a logistic-regression quality model with Spark MLlib over the
    * hashed features and return `(weights, bias)` quantized to the 6dp
    * DECIMAL serving table [[scoreMargin]] consumes. `labels` maps
    * `idCol` to a 0/1 quality label (join-keyed, so the training set
    * can be a labeled subsample of the corpus).
    */
  def trainLogistic(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labels: DataFrame, // (idCol, label double 0/1)
      labelCol: String = "label",
      buckets: Int = DefaultBuckets,
      salt: String = "qm",
      maxIter: Int = 50,
      regParam: Double = 1e-4
  ): (IndexedSeq[java.math.BigDecimal], java.math.BigDecimal) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = hashedTokenFeatures(docs, idCol, textCol, buckets, salt)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("bucket"), col("cnt"))))
        .as("_f"))
      .join(labels.select(col(idCol), col(labelCol).cast(DoubleType)
        .as("label")), Seq(idCol))
    val training = feats
      .select(col("label"), col("_f"))
      .as[(Double, Seq[(Long, Long)])]
      .map { case (label, f) =>
        (label, org.apache.spark.ml.linalg.Vectors.sparse(buckets,
          f.map(_._1.toInt).toArray, f.map(_._2.toDouble).toArray))
      }
      .toDF("label", "features")
    val model = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(maxIter)
      .setRegParam(regParam)
      .setStandardization(false)
      .fit(training)
    val q = (0 until buckets).map { i =>
      java.math.BigDecimal.valueOf(model.coefficients(i))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
    (q, java.math.BigDecimal.valueOf(model.intercept)
      .setScale(6, java.math.RoundingMode.HALF_UP))
  }

  /** Deterministic FIXED-POINT logistic trainer — the train half of
    * the quality-model train→serve closure, the [[graft.operators
    * .Graph.sgnsEpochs]] discipline applied to this family: every
    * quantity an exact scaled integer, so the whole run (and the gate
    * that serves its weights) replays bit-for-bit on any engine —
    * which the MLlib-backed [[trainLogistic]] cannot promise (its
    * L-BFGS path is float iteration order all the way down; it stays
    * for throwaway local fits).
    *
    * `epochs` rounds of FULL-BATCH gradient ascent on the logistic
    * log-likelihood over [[hashedTokenFeatures]] counts:
    *
    *  - the BIAS is feature bucket −1 with count 1 on every labeled
    *    doc, so one margin/gradient path serves weights and bias and
    *    token-less docs still train the bias;
    *  - margins are e6 longs; σ comes from
    *    [[graft.operators.Graph.sigmoidTablePpm]] (the margin buckets
    *    into 64 slots over ±6.0 — no engine-evaluated transcendental
    *    anywhere near a compared surface);
    *  - per-bucket gradient G_b = Σ_docs (y·10⁶ − σ_ppm)·cnt_b,
    *    summed in DECIMAL(38,0) (no corpus size overflows it),
    *    collected driver-side — the weight vector IS driver metadata
    *    (≤ `buckets`+1 longs, the GateTables/centroid discipline);
    *  - update w_b += (lrPpm · G_b) / (n · 10⁶) in BigInt (truncation
    *    toward zero, the `div`/`//` convention), clamped to ±10.0 e6
    *    (divergence impossible at any lr, converged runs unchanged).
    *
    * Labels must be 0/1 (zero-action tripwire). Returns
    * `(weights, bias)` as e6 longs, directly convertible to the
    * [[scoreMargin]] serving table via `BigDecimal.valueOf(_, 6)`.
    *
    * Scale shape per epoch: one broadcast of the ≤4097-row weight
    * table, one map-side-combined margin aggregate, one gradient
    * aggregate over ≤ buckets+1 groups — the corpus shuffles counts
    * once at featurization and never again.
    */
  def trainLogisticEpochsE6(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labels: DataFrame, // (idCol, 0/1 label)
      labelCol: String,
      epochs: Int,
      lrPpm: Long,
      buckets: Int = DefaultBuckets,
      salt: String = "qm"
  ): (IndexedSeq[Long], Long) = {
    require(epochs >= 1 && epochs <= 8,
      s"trainLogisticEpochsE6: epochs must be in [1, 8], got $epochs")
    require(lrPpm >= 1L && lrPpm <= 500000L,
      s"trainLogisticEpochsE6: lrPpm must be in [1, 500000], got $lrPpm")
    require(buckets >= 1 && buckets <= 4096,
      s"trainLogisticEpochsE6: buckets must be in [1, 4096], got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val (lab, n) = Materialize.localWithRows(labels
      .select(col(idCol), col(labelCol).cast(LongType).as("_y"))
      .filter(col(idCol).isNotNull && col("_y").isNotNull)
      .filter(assert_true(col("_y").isin(0L, 1L),
        lit("trainLogisticEpochsE6: label must be 0/1")).isNull))
    require(n > 0, "trainLogisticEpochsE6: no labeled docs")
    // margins AND gradients read it, every epoch
    val feats = Materialize.local(hashedTokenFeatures(
        docs.join(lab.select(col(idCol)), Seq(idCol), "left_semi"),
        idCol, textCol, buckets, salt)
      .unionByName(lab.select(col(idCol), lit(-1L).as("bucket"),
        lit(1L).as("cnt"))))
    val tbl = graft.operators.Graph.sigmoidTablePpm()
    val hi = 6000000L // the table's ±6.0 range in the e6 margin scale
    val idxSql = s"CASE WHEN _m <= ${-hi} THEN 0L " +
      s"WHEN _m >= $hi THEN ${tbl.length - 1}L " +
      s"ELSE ((_m + $hi) * ${tbl.length}L) div ${2 * hi} END"
    // index 0 = bias (bucket -1), index i+1 = bucket i
    var w = IndexedSeq.fill(buckets + 1)(0L)
    val denom = BigInt(n) * 1000000L
    for (_ <- 1 to epochs) {
      val wDf = broadcast(w.zipWithIndex
        .map { case (v, i) => (i - 1L, v) }.toDF("bucket", "_w"))
      val resid = feats.join(wDf, Seq("bucket"))
        .groupBy(col(idCol)).agg(sum(col("cnt") * col("_w")).as("_m"))
        .join(lab, Seq(idCol))
        .withColumn("_sig", element_at(typedLit(tbl),
          (expr(idxSql) + lit(1L)).cast("int")))
        .select(col(idCol),
          (col("_y") * lit(1000000L) - col("_sig")).as("_r"))
      val grads = feats.join(resid, Seq(idCol))
        .groupBy(col("bucket"))
        .agg(sum((col("_r") * col("cnt")).cast(d38)).as("_g"))
        .collect()
        .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger))
        .toMap
      w = w.zipWithIndex.map { case (v, i) =>
        val nv = BigInt(v) +
          BigInt(lrPpm) * grads.getOrElse(i - 1L, BigInt(0)) / denom
        nv.max(BigInt(-10000000L)).min(BigInt(10000000L)).toLong
      }
    }
    (w.drop(1), w(0))
  }

  /** Post-hoc TEMPERATURE scaling for the margin classifier (Guo et
    * al. 2017 §4.2 — the one-parameter calibration map p = σ(m/T)),
    * grid-searched to MINIMIZE ECE in exact integers: the NLL the
    * paper optimizes needs a log, which never enters a compared
    * surface here, and on a ≤64-candidate grid the ECE argmin is the
    * deployable objective anyway (it is what the reliability gates
    * measure). For each candidate temperature `t_e6`, margins rescale
    * as `(margin_e6 · 10⁶) div t_e6`, map through the shared literal
    * sigmoid table, bucket into `buckets` equal-width reliability
    * bins, and fold to ECE with [[calibrationFromStats]]'s exact
    * arithmetic. Output: one row per candidate
    * `(t_e6, ece_ppm, chosen)` — `chosen` marks the minimum, ties to
    * the smallest temperature (deterministic).
    *
    * Tripwires: labels 0/1; `|margin_e6| ≤ 10¹²` (keeps the ×10⁶
    * rescale inside exact int64 — a margin beyond ±10⁶.0 is saturated
    * anyway, clamp upstream); grid positive, ≤ 64 candidates.
    *
    * Scale shape: one grid × examples projection (grid broadcast as a
    * ≤64-row literal), one map-side-combined (t, bucket) aggregate,
    * one ≤64-group fold, one 1-row broadcast for the argmin — the
    * example set shuffles ≤ grid × buckets stat rows, never examples.
    */
  def temperatureScaleE6(
      scored: DataFrame,
      marginCol: String,
      labelCol: String,
      gridE6: Seq[Long],
      buckets: Int = 10
  ): DataFrame = {
    require(gridE6.nonEmpty && gridE6.length <= 64,
      s"temperatureScaleE6: grid must have 1..64 candidates, got ${gridE6.length}")
    require(gridE6.forall(_ > 0L),
      "temperatureScaleE6: temperatures must be positive e6 longs")
    require(gridE6.distinct.length == gridE6.length,
      "temperatureScaleE6: duplicate grid temperatures")
    require(buckets >= 2 && buckets <= 1000,
      s"temperatureScaleE6: buckets must be in [2, 1000], got $buckets")
    val spark = scored.sparkSession
    import spark.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = scored
      .select(col(marginCol).cast(LongType).as("_m"),
        col(labelCol).cast(LongType).as("_y"))
      .filter(assert_true(col("_y").isin(0L, 1L) &&
        abs(col("_m")) <= lit(1000000000000L),
        lit("temperatureScaleE6: label must be 0/1 and |margin_e6| <= " +
          "10^12 (the *10^6 rescale int64 bound — clamp saturated " +
          "margins upstream)")).isNull)
    val tbl = graft.operators.Graph.sigmoidTablePpm()
    val hi = 6000000L
    val idxSql = s"CASE WHEN _mt <= ${-hi} THEN 0L " +
      s"WHEN _mt >= $hi THEN ${tbl.length - 1}L " +
      s"ELSE ((_mt + $hi) * ${tbl.length}L) div ${2 * hi} END"
    val grid = broadcast(gridE6.toDF("t_e6"))
    val perBucket = base.crossJoin(grid)
      .withColumn("_mt", expr("(_m * 1000000L) div t_e6"))
      .withColumn("_p", element_at(typedLit(tbl),
        (expr(idxSql) + lit(1L)).cast("int")))
      .withColumn("_b", least(lit(buckets - 1L),
        expr(s"(_p * ${buckets}L) div 1000000L")))
      .groupBy(col("t_e6"), col("_b"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(col("_p").cast(d38)).as("sum_p"))
      .withColumn("gap_ppm",
        abs(expr("CAST(sum_p div n AS BIGINT)") -
          expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)")))
    // rows AND the 1-row argmin fold read it
    val ece = Materialize.local(perBucket.groupBy(col("t_e6"))
      .agg(expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * gap_ppm) div sum(n) AS BIGINT)")
        .as("ece_ppm")))
    val best = ece.agg(min(struct(col("ece_ppm"), col("t_e6"))).as("_best"))
    ece.crossJoin(broadcast(best))
      .select(col("t_e6"), col("ece_ppm"),
        (col("ece_ppm") === col("_best.ece_ppm") &&
          col("t_e6") === col("_best.t_e6")).as("chosen"))
  }

  /** Reliability buckets + ECE — the CALIBRATION eval a pipeline runs
    * before trusting a quality score as a probability threshold (the
    * standard reliability-diagram / expected-calibration-error
    * construction, Guo et al. 2017 "On Calibration of Modern Neural
    * Networks"; equal-WIDTH probability bins, the paper's form — no
    * global sort, unlike equal-count deciles). Input: one row per
    * example with a predicted probability ×10⁶ (`probPpmCol`; map
    * margins through the shared literal sigmoid table first — the
    * caller chooses its link) and a 0/1 label. Output: one row per
    * NON-EMPTY bucket `(bucket, n, n_pos, mean_prob_ppm, pos_rate_ppm,
    * gap_ppm, ece_ppm)` — mean/rate exact floor-div integers,
    * gap = |mean − rate|, and ece_ppm = (Σ n_b·gap_b) div N broadcast
    * onto every row (the graphProfile one-row-stat convention; empty
    * buckets contribute no mass to ECE by definition).
    *
    * A zero-action tripwire refuses probabilities outside [0, 10⁶] and
    * labels outside {0, 1}. Scale shape: one narrow bucket projection +
    * one map-side-combined aggregate over ≤ `buckets` groups + a 1-row
    * broadcast — sums ride DECIMAL(38,0) so no corpus size can
    * overflow them.
    */
  def calibrationBuckets(
      scored: DataFrame,
      probPpmCol: String,
      labelCol: String,
      buckets: Int = 10
  ): DataFrame =
    calibrationFromStats(
      calibrationSuffStats(scored, probPpmCol, labelCol, buckets))

  /** The ADDITIVE half of [[calibrationBuckets]]: per-bucket sufficient
    * statistics `(bucket, n, n_pos, sum_p DECIMAL(38,0))` — additive
    * across any sharding of the examples, which is what lets the
    * streaming monitor ([[graft.streaming.StreamingOps
    * .applyCalibrationBatch]]) keep a ≤`buckets`-row state and merge
    * batches with one sum. Same tripwire as the one-shot form.
    */
  def calibrationSuffStats(
      scored: DataFrame,
      probPpmCol: String,
      labelCol: String,
      buckets: Int = 10
  ): DataFrame = {
    val p = validatedProbs(scored, probPpmCol, labelCol, buckets)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    p.withColumn("_b", least(lit(buckets - 1L),
        expr(s"(_p * ${buckets}L) div 1000000L")))
      .groupBy(col("_b").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(col("_p").cast(d38)).as("sum_p"))
  }

  /** The shared tripwire projection of the calibration family:
    * `(prob_ppm, label)` → `(_p, _y)` with loud refusal outside
    * [0, 10⁶] × {0, 1}.
    */
  private def validatedProbs(
      scored: DataFrame,
      probPpmCol: String,
      labelCol: String,
      buckets: Int
  ): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"calibrationBuckets: buckets must be in [2, 1000], got $buckets")
    scored.select(col(probPpmCol).cast(LongType).as("_p"),
        col(labelCol).cast(LongType).as("_y"))
      .filter(assert_true(
        col("_p") >= 0L && col("_p") <= 1000000L && col("_y").isin(0L, 1L),
        lit("calibrationBuckets: prob_ppm must be in [0, 10^6] and the " +
          "label 0/1 — map margins through a sigmoid table and binarize " +
          "labels upstream")).isNull)
  }

  /** EQUAL-MASS reliability buckets — [[calibrationBuckets]] with
    * QUANTILE bucket edges instead of equal-width ones: quality
    * classifiers produce heavily skewed score distributions, and under
    * equal-width bins most examples land in one or two bins, leaving
    * the reliability diagram (and ECE) blind across the operating
    * range. Edges come from the exact-percentile machinery
    * ([[graft.operators.Profile.quantileBuckets]], the two-level
    * histogram selection — no global sort), bucket membership is the
    * same Σ(p ≥ edge) fold, and the reduction half is
    * [[calibrationFromStats]] verbatim — so `bucket` here is the
    * quantile index and every downstream column keeps its meaning.
    * Heavy ties can leave some quantile buckets empty (edges collide);
    * empty buckets contribute no ECE mass, exactly as in the
    * equal-width form.
    *
    * This is the BATCH eval variant: quantile edges are a function of
    * the whole score distribution, so the per-bucket stats are NOT
    * additive across shards — the streaming monitor stays on the
    * equal-width form ([[calibrationSuffStats]]), whose state merges
    * with one sum.
    */
  def calibrationBucketsQuantile(
      scored: DataFrame,
      probPpmCol: String,
      labelCol: String,
      buckets: Int = 10
  ): DataFrame = {
    val p = validatedProbs(scored, probPpmCol, labelCol, buckets)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val bucketed = graft.operators.Profile.quantileBuckets(
      p, "_p", buckets, "_b")
    calibrationFromStats(bucketed
      .groupBy(col("_b").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(col("_p").cast(d38)).as("sum_p")))
  }

  /** The REDUCTION half: reliability rows + broadcast ECE off the
    * sufficient statistics (possibly merged across batches).
    */
  def calibrationFromStats(stats: DataFrame): DataFrame = {
    // rows AND the 1-row ECE fold read the buckets
    val b = Materialize.local(stats
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("CAST(sum_p div n AS BIGINT)").as("mean_prob_ppm"),
        expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)")
          .as("pos_rate_ppm"))
      .withColumn("gap_ppm", abs(col("mean_prob_ppm") - col("pos_rate_ppm"))))
    val ece = b.agg(
      expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * gap_ppm) div sum(n) AS BIGINT)")
        .as("ece_ppm"))
    b.crossJoin(broadcast(ece))
  }
}
