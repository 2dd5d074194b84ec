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

/** PreferenceAnnotation gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object PreferenceAnnotationGates {

  // shared batch/stream oracle SQL: the stream gates accumulate the
  // additive (unit, label) count state across batches and hash their
  // final outputs against the BATCH SQL verbatim (the stream-vs-batch
  // contract, the preference_bt_stream convention)
  private val annotationConsensusOracleSql: String =
    """WITH r AS (
      | SELECT CAST(doc_id // 4 AS VARCHAR) AS u,
      |  CAST((n_chars // 200) % 5 AS VARCHAR) AS l
      | FROM documents WHERE doc_id < 2000 AND n_chars IS NOT NULL
      |), uc AS (
      | SELECT u, l, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
      |), w AS (
      | SELECT u, l, c,
      |  row_number() OVER (PARTITION BY u ORDER BY c DESC, l) AS rn
      | FROM uc
      |), t AS (
      | SELECT u, CAST(sum(c) AS BIGINT) AS n FROM uc GROUP BY 1
      |)
      |SELECT w.u AS unit, w.l AS label, t.n AS n_ratings,
      | (w.c * 1000000) // t.n AS support_ppm
      |FROM w JOIN t ON t.u = w.u WHERE rn = 1 ORDER BY unit""".stripMargin

  private val annotationAlphaOracleSql: String =
    """WITH r AS (
      | SELECT CAST(doc_id // 4 AS VARCHAR) AS u,
      |  CAST((n_chars // 200) % 5 AS VARCHAR) AS l
      | FROM documents WHERE doc_id < 2000 AND n_chars IS NOT NULL
      |), uc AS MATERIALIZED (
      | SELECT u, l, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
      |), kept AS MATERIALIZED (
      | SELECT u, m, ((m * m - ss) * 1000000) // (m - 1) AS do6 FROM (
      |  SELECT u, CAST(sum(c) AS BIGINT) AS m,
      |   CAST(sum(c * c) AS BIGINT) AS ss
      |  FROM uc GROUP BY 1) WHERE m >= 2
      |), tot AS (
      | SELECT CAST(count(*) AS BIGINT) AS units, CAST(sum(m) AS BIGINT) AS n,
      |  CAST(sum(do6) AS BIGINT) AS doe6 FROM kept
      |), nv AS (
      | SELECT uc.l, CAST(sum(uc.c) AS BIGINT) AS nvv
      | FROM uc JOIN kept ON kept.u = uc.u GROUP BY 1
      |), den AS (
      | SELECT CAST(tot.n AS HUGEINT) * tot.n -
      |  (SELECT sum(CAST(nvv AS HUGEINT) * nvv) FROM nv) AS d
      | FROM tot
      |)
      |SELECT tot.units AS n_units, tot.n AS n_ratings, tot.doe6 AS do_e6,
      | CAST(1000000 - (CAST(tot.doe6 AS HUGEINT) * (tot.n - 1)) // den.d
      |   AS BIGINT) AS alpha_ppm
      |FROM tot, den""".stripMargin

  private val annotationRaterOracleSql: String =
    """WITH r AS (
      | SELECT CAST(doc_id // 4 AS VARCHAR) AS u,
      |  CAST(doc_id % 4 AS VARCHAR) AS rr,
      |  CAST((n_chars // 200) % 5 AS VARCHAR) AS l
      | FROM documents WHERE doc_id < 2000 AND n_chars IS NOT NULL
      |), uc AS (
      | SELECT u, l, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
      |), w AS (
      | SELECT u, l,
      |  row_number() OVER (PARTITION BY u ORDER BY c DESC, l) AS rn
      | FROM uc
      |), cons AS MATERIALIZED (
      | SELECT u, l AS cl FROM w WHERE rn = 1
      |), j AS MATERIALIZED (
      | SELECT r.u, r.rr, r.l, cons.cl FROM r JOIN cons ON cons.u = r.u
      |), pr AS (
      | SELECT rr, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN l = cl THEN 1 ELSE 0 END) AS BIGINT) AS a
      | FROM j GROUP BY 1
      |), crv AS (
      | SELECT rr, l, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
      |), krv AS (
      | SELECT rr, cl AS l, CAST(count(*) AS BIGINT) AS k
      | FROM j GROUP BY 1, 2
      |), sr AS (
      | SELECT crv.rr, CAST(sum(crv.c * krv.k) AS BIGINT) AS s
      | FROM crv JOIN krv ON krv.rr = crv.rr AND krv.l = crv.l GROUP BY 1
      |)
      |SELECT pr.rr AS rater, pr.n AS n_ratings, pr.a AS n_agree,
      | (pr.a * 1000000) // pr.n AS po_ppm,
      | CASE WHEN pr.n * pr.n = sr.s THEN NULL
      |  ELSE 1000000 -
      |   (pr.n * (pr.n - pr.a) * 1000000) // (pr.n * pr.n - sr.s)
      |  END AS kappa_ppm
      |FROM pr JOIN sr ON sr.rr = pr.rr ORDER BY rater""".stripMargin


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- multi-rater consensus labeling: units = doc quartets, each
    //      doc votes its length-bucket label — majority with ties to
    //      the smallest label, vote share exact ppm; the annotation-QA
    //      step that turns raw rating rows into trainable labels
    "annotation_consensus" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").cast("string").as("label"))
      Annotation.consensusLabels(r, "unit", "label").orderBy("unit")
    }),
    // ---- Krippendorff's alpha (nominal) over the same rating table:
    //      chance-corrected agreement across variable rater counts —
    //      exact integer marginals, the one rational step floored at e6
    //      per unit, BigInt driver finish (the cohenKappa discipline)
    "annotation_alpha" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").cast("string").as("label"))
      Annotation.krippendorffAlphaNominalE6(r, "unit", "label")
    }),
    // ---- the INTERVAL form over numeric ratings (quality scores:
    //      4-vs-5 disagrees far less than 1-vs-5, invisible to the
    //      nominal form): moment arithmetic per unit, same e6-floored
    //      normalization, BigInt driver finish
    "annotation_alpha_interval" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").as("score"))
      Annotation.krippendorffAlphaIntervalE6(r, "unit", "score")
    }),
    // ---- the ORDINAL form over the same rating table: Likert-style
    //      ranks where distance is the squared coincidence-marginal
    //      mass between the two ranks (Krippendorff 2004 §11.3) —
    //      the ≤K² half-unit distance table is driver metadata, the
    //      per-unit pair sums run in exact decimal
    "annotation_alpha_ordinal" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").as("score"))
      Annotation.krippendorffAlphaOrdinalE6(r, "unit", "score")
    }),
    // ---- per-RATER reliability over the same corpus: each doc slot
    //      (doc_id % 4) acts as a rater; chance-corrected agreement
    //      with the unit consensus flags the systematically-off slot
    //      before its labels reach a reward model
    "annotation_rater_reliability" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(expr("doc_id div 4").cast("string").as("unit"),
          expr("doc_id % 4").cast("string").as("rater"),
          expr("(n_chars div 200) % 5").cast("string").as("label"))
      Annotation.raterReliability(r, "unit", "rater", "label")
        .orderBy("rater")
    }),
    // ---- pairwise-preference aggregation (the RLHF preference-data
    //      step): Bradley–Terry strength ratings via 4 exact-integer MM
    //      rounds over comparisons derived deterministically from the
    //      corpus — consecutive docs compete, the longer text's SOURCE
    //      wins — so the oracle replays every rating from the same log
    // ---- the STREAMING face of the annotation-QA family: rating rows
    //      split across two batches into the additive (unit, label)
    //      count state (one versioned store serves BOTH statistics);
    //      batch 1 replayed to prove the guard; final consensus and
    //      alpha hash against the BATCH oracles verbatim
    "annotation_consensus_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val r = Materialize.local(t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(col("doc_id"),
          expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").cast("string").as("label")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ann-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyAnnotationBatch(s, b, id, "unit", "label",
          s"$work/state", s"$work/out")
      step(r.filter(col("doc_id") < 1000), 0L)
      step(r.filter(col("doc_id") >= 1000), 1L)
      step(r.filter(col("doc_id") >= 1000), 1L) // replay no-op
      s.read.parquet(s"$work/out/consensus/batch=1").orderBy("unit")
    }),

    // ---- the STREAMING rater monitor: the same lifecycle one level
    //      finer — (unit, rater, label) counts accumulate, the final
    //      per-rater reliability hashes against the batch oracle
    "annotation_rater_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val r = Materialize.local(t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(col("doc_id"),
          expr("doc_id div 4").cast("string").as("unit"),
          expr("doc_id % 4").cast("string").as("rater"),
          expr("(n_chars div 200) % 5").cast("string").as("label")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-rater-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyRaterBatch(s, b, id, "unit", "rater", "label",
          s"$work/state", s"$work/out")
      step(r.filter(col("doc_id") < 1000), 0L)
      step(r.filter(col("doc_id") >= 1000), 1L)
      step(r.filter(col("doc_id") >= 1000), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1").orderBy("rater")
    }),

    "annotation_alpha_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val r = Materialize.local(t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("n_chars").isNotNull)
        .select(col("doc_id"),
          expr("doc_id div 4").cast("string").as("unit"),
          expr("(n_chars div 200) % 5").cast("string").as("label")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ann-astream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyAnnotationBatch(s, b, id, "unit", "label",
          s"$work/state", s"$work/out")
      step(r.filter(col("doc_id") < 1000), 0L)
      step(r.filter(col("doc_id") >= 1000), 1L)
      step(r.filter(col("doc_id") >= 1000), 1L) // replay no-op
      s.read.parquet(s"$work/out/alpha/batch=1")
    }),

    "preference_bt" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val cmp = d.join(d.select((col("doc_id") - 1).as("doc_id"),
          col("source").as("_s2"), col("n_chars").as("_n2")), Seq("doc_id"))
        .filter(col("source") =!= col("_s2"))
        .select(
          when(col("n_chars") >= col("_n2"), col("source"))
            .otherwise(col("_s2")).as("winner"),
          when(col("n_chars") >= col("_n2"), col("_s2"))
            .otherwise(col("source")).as("loser"))
      Preference.bradleyTerryScaled(cmp, "winner", "loser", rounds = 4)
        .orderBy("item")
    }),
    // ---- the DRAWS variant: length buckets (n_chars div 100) decide —
    //      equal buckets are planted ties, credited half a win each way
    //      in exact half-unit counts (decisive row = 2, tie = 1 per
    //      orientation); the plain operator cannot express a draw at
    //      all, and the oracle replays the half-unit MM verbatim
    "preference_bt_ties" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val cmp = d.join(d.select((col("doc_id") - 1).as("doc_id"),
          col("source").as("_s2"), col("n_chars").as("_n2")), Seq("doc_id"))
        .filter(col("source") =!= col("_s2"))
        .select(expr("n_chars div 100").as("_ta"),
          expr("_n2 div 100").as("_tb"), col("source"), col("_s2"))
        .select(
          when(col("_ta") >= col("_tb"), col("source"))
            .otherwise(col("_s2")).as("winner"),
          when(col("_ta") >= col("_tb"), col("_s2"))
            .otherwise(col("source")).as("loser"),
          (col("_ta") === col("_tb")).as("is_tie"))
      Preference.bradleyTerryScaledWithTies(cmp, "winner", "loser",
          "is_tie", rounds = 4)
        .orderBy("item")
    }),
    // ---- the CONNECTIVITY diagnostic over PLANTED ISLANDS: items =
    //      source + doc parity, comparisons only between same-parity
    //      docs (d vs d+2) — the comparison graph splits in two by
    //      construction, each island's ratings converge independently
    //      under the clamp, and the per-item component id + spans_all
    //      flag expose exactly which ratings are mutually comparable
    "preference_bt_components" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val cmp = d.join(d.select((col("doc_id") - 2).as("doc_id"),
          col("source").as("_s2"), col("n_chars").as("_n2")), Seq("doc_id"))
        .filter(col("source") =!= col("_s2"))
        .withColumn("_p", (col("doc_id") % 2).cast("string"))
        .select(
          when(col("n_chars") >= col("_n2"),
            concat(col("source"), lit("#"), col("_p")))
            .otherwise(concat(col("_s2"), lit("#"), col("_p"))).as("winner"),
          when(col("n_chars") >= col("_n2"),
            concat(col("_s2"), lit("#"), col("_p")))
            .otherwise(concat(col("source"), lit("#"), col("_p"))).as("loser"))
      Preference.ratingsWithConnectivity(cmp, "winner", "loser", rounds = 4)
        .orderBy("item")
    }),
    // ---- the STREAMING face of that aggregation: the same comparison
    //      log split across two micro-batches through the versioned
    //      oriented-count state (counts are additive — the merge is one
    //      sum; raw comparisons never enter state), batch 1 replayed to
    //      prove the guard; the final batch's ratings hash against the
    //      BATCH oracle verbatim (the stream-vs-batch contract)
    "preference_bt_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val cmp = Materialize.local(d.join(d.select((col("doc_id") - 1).as("doc_id"),
          col("source").as("_s2"), col("n_chars").as("_n2")), Seq("doc_id"))
        .filter(col("source") =!= col("_s2"))
        .select(col("doc_id"),
          when(col("n_chars") >= col("_n2"), col("source"))
            .otherwise(col("_s2")).as("winner"),
          when(col("n_chars") >= col("_n2"), col("_s2"))
            .otherwise(col("source")).as("loser")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-bt-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyBtBatch(s, b, id, "winner", "loser", rounds = 4,
          s"$work/state", s"$work/out")
      step(cmp.filter(col("doc_id") < 1000), 0L)
      step(cmp.filter(col("doc_id") >= 1000), 1L)
      step(cmp.filter(col("doc_id") >= 1000), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1")
        .select(col("item"), col("rating_e6"), col("wins"), col("comparisons"))
        .orderBy("item")
    }),
    // ---- the STREAMING face of the ties variant: the same planted
    //      length-bucket draws split across two batches — half-unit
    //      counts stay additive, so the versioned state merge is
    //      unchanged and the final ratings hash against the BATCH ties
    //      oracle verbatim; batch 1 replays to prove the guard
    "preference_bt_ties_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val cmp = Materialize.local(d.join(d.select((col("doc_id") - 1).as("doc_id"),
          col("source").as("_s2"), col("n_chars").as("_n2")), Seq("doc_id"))
        .filter(col("source") =!= col("_s2"))
        .select(col("doc_id"), expr("n_chars div 100").as("_ta"),
          expr("_n2 div 100").as("_tb"), col("source"), col("_s2"))
        .select(col("doc_id"),
          when(col("_ta") >= col("_tb"), col("source"))
            .otherwise(col("_s2")).as("winner"),
          when(col("_ta") >= col("_tb"), col("_s2"))
            .otherwise(col("source")).as("loser"),
          (col("_ta") === col("_tb")).as("is_tie")))
      val work = java.nio.file.Files
        .createTempDirectory("graft-bt-ties-stream").toString
      def step(b: DataFrame, id: Long): Unit =
        StreamingOps.applyBtBatch(s, b, id, "winner", "loser", rounds = 4,
          s"$work/state", s"$work/out", tieCol = Some("is_tie"))
      step(cmp.filter(col("doc_id") < 1000), 0L)
      step(cmp.filter(col("doc_id") >= 1000), 1L)
      step(cmp.filter(col("doc_id") >= 1000), 1L) // replay no-op
      s.read.parquet(s"$work/out/batch=1")
        .select(col("item"), col("rating_e6"), col("wins"), col("comparisons"))
        .orderBy("item")
    }),
  )

  def oracles: Map[String, String] = Map(
    // the Bradley–Terry MM rounds unrolled; see bradleyTerryOracleSql
    // majority with ties to the smallest label; share = exact ppm
    "annotation_consensus" -> annotationConsensusOracleSql,
    // exact marginals, per-unit e6-floored disagreement, alpha in ppm
    "annotation_alpha" -> annotationAlphaOracleSql,
    // the accumulated (unit, label) count state IS the full log's
    // count table, so the final batch's outputs replay with the batch
    // oracles verbatim
    "annotation_consensus_stream" -> annotationConsensusOracleSql,
    "annotation_alpha_stream" -> annotationAlphaOracleSql,
    // interval distance via moments: do6 = 2(m*S2 - S1^2)*1e6 // (m-1)
    // per unit; De = 2(n*T2 - T1^2)/(n-1) in HUGEINT
    "annotation_alpha_interval" ->
      """WITH r AS (
        | SELECT CAST(doc_id // 4 AS VARCHAR) AS u,
        |  CAST((n_chars // 200) % 5 AS BIGINT) AS v
        | FROM documents WHERE doc_id < 2000 AND n_chars IS NOT NULL
        |), kept AS MATERIALIZED (
        | SELECT u, m, s1, s2,
        |  (2 * (m * s2 - s1 * s1) * 1000000) // (m - 1) AS do6 FROM (
        |  SELECT u, CAST(count(*) AS BIGINT) AS m, CAST(sum(v) AS BIGINT) AS s1,
        |   CAST(sum(v * v) AS BIGINT) AS s2
        |  FROM r GROUP BY 1) WHERE m >= 2
        |), tot AS (
        | SELECT CAST(count(*) AS BIGINT) AS units, CAST(sum(m) AS BIGINT) AS n,
        |  CAST(sum(s1) AS HUGEINT) AS t1, CAST(sum(s2) AS HUGEINT) AS t2,
        |  CAST(sum(do6) AS BIGINT) AS doe6 FROM kept
        |), den AS (
        | SELECT 2 * (CAST(n AS HUGEINT) * t2 - t1 * t1) AS d FROM tot
        |)
        |SELECT tot.units AS n_units, tot.n AS n_ratings, tot.doe6 AS do_e6,
        | CAST(1000000 - (CAST(tot.doe6 AS HUGEINT) * (tot.n - 1)) // den.d
        |   AS BIGINT) AS alpha_ppm
        |FROM tot, den""".stripMargin,
    // half-unit ordinal distances D(v,k) = 2*sum(n_g between) - n_v - n_k
    // over the kept-unit marginals; observed = per-unit pair sums in
    // HUGEINT, e6-floored by (m-1); expected = the same sum globally
    "annotation_alpha_ordinal" ->
      """WITH r AS (
        | SELECT CAST(doc_id // 4 AS VARCHAR) AS u,
        |  CAST((n_chars // 200) % 5 AS BIGINT) AS v
        | FROM documents WHERE doc_id < 2000 AND n_chars IS NOT NULL
        |), uc AS MATERIALIZED (
        | SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
        |), pu AS MATERIALIZED (
        | SELECT u, CAST(sum(c) AS BIGINT) AS m FROM uc GROUP BY 1
        | HAVING sum(c) >= 2
        |), kuc AS MATERIALIZED (
        | SELECT uc.u, uc.v, uc.c FROM uc JOIN pu ON pu.u = uc.u
        |), nv AS MATERIALIZED (
        | SELECT v, CAST(sum(c) AS BIGINT) AS nvv FROM kuc GROUP BY 1
        |), dd AS MATERIALIZED (
        | SELECT a.v AS v1, b.v AS v2,
        |  CAST(2 * (SELECT sum(g.nvv) FROM nv g
        |            WHERE g.v BETWEEN a.v AND b.v) - a.nvv - b.nvv
        |   AS BIGINT) AS dh
        | FROM nv a JOIN nv b ON a.v < b.v
        |), obs AS (
        | SELECT x.u,
        |  sum(CAST(x.c AS HUGEINT) * y.c * dd.dh * dd.dh) AS s
        | FROM kuc x JOIN kuc y ON y.u = x.u AND x.v < y.v
        |  JOIN dd ON dd.v1 = x.v AND dd.v2 = y.v
        | GROUP BY 1
        |), per AS (
        | SELECT pu.m,
        |  (COALESCE(obs.s, 0) * 2000000) // (pu.m - 1) AS do6
        | FROM pu LEFT JOIN obs ON obs.u = pu.u
        |), tot AS (
        | SELECT CAST(count(*) AS BIGINT) AS units,
        |  CAST(sum(m) AS BIGINT) AS n, sum(do6) AS doe6 FROM per
        |), den AS (
        | SELECT sum(2 * CAST(a.nvv AS HUGEINT) * b.nvv * dd.dh * dd.dh) AS d
        | FROM nv a JOIN nv b ON a.v < b.v
        |  JOIN dd ON dd.v1 = a.v AND dd.v2 = b.v
        |)
        |SELECT tot.units AS n_units, tot.n AS n_ratings,
        | CAST(tot.doe6 AS BIGINT) AS do_e6,
        | CAST(1000000 - (tot.doe6 * (tot.n - 1)) // den.d AS BIGINT)
        |  AS alpha_ppm
        |FROM tot, den""".stripMargin,
    // consensus replayed, then per-rater Cohen's kappa against it:
    // kappa_ppm = 1e6 - n(n-a)*1e6 // (n^2 - S), S = sum(c_v * k_v);
    // a chance-perfect rater (n^2 = S) reports NULL, never a fake 0
    "annotation_rater_reliability" -> annotationRaterOracleSql,
    // the accumulated (unit, rater, label) count state IS the full
    // log's count table — the stream gate replays the batch oracle
    "annotation_rater_stream" -> annotationRaterOracleSql,
    "preference_bt" -> bradleyTerryOracleSql(rounds = 4),
    // half-unit counts through the same MM machinery
    "preference_bt_ties" ->
      s"""WITH ${btMmCtes(4, btTiesPreludeSql)}
         |${btMmFinalSelect(4)}""".stripMargin,
    // planted same-parity islands: MM ratings + min-label components
    // + sizes + the spans-all flag
    "preference_bt_components" -> btConnectivityOracleSql(rounds = 4,
      ccRounds = 12),
    // the accumulated stream state IS the full comparison log's count
    // table, so the final batch's ratings replay with the batch oracle
    "preference_bt_stream" -> bradleyTerryOracleSql(rounds = 4),
    // stream ≡ batch on the concatenated tied log — the ties oracle
    // verbatim
    "preference_bt_ties_stream" ->
      s"""WITH ${btMmCtes(4, btTiesPreludeSql)}
         |${btMmFinalSelect(4)}""".stripMargin,
  )
}
