package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/**
 * Lexical retrieval over a document corpus: BM25 (Robertson/Spärck
 * Jones probabilistic ranking, the Lucene `k1`/`b` parameterization
 * with the +1 idf floor) — the keyword complement to the embedding ANN
 * surface in [[Similarity]]. Training-data curation uses it for
 * query-driven subset selection and hard-negative mining next to
 * vector search.
 *
 * Scale shape: the postings list `(term, doc, tf)` is built with one
 * map-side-combined aggregation (term payloads are the only text that
 * shuffles, once); document length is a NARROW `size(tokens())`
 * projection (no shuffle); the corpus-level scalars (N, avgdl) ride a
 * 1-row broadcast; per-term df joins the postings on `term` where AQE
 * broadcasts the (vocabulary-sized) side when it fits. Queries are
 * assumed metadata-sized and broadcast, so scoring never shuffles the
 * postings again; the per-(query, doc) reduction and the k-bounded
 * `graft_topk` heap aggregate the small scored slice.
 *
 * Determinism: idf is rounded to 6 dp and carried as the scaled
 * integer idf×10⁶; each per-term contribution is ONE exact integer
 * rational rounded HALF_UP at 9 dp in pure integer arithmetic, and the
 * per-doc score is the exact integer sum emitted as `score_e9` BIGINT
 * (score×10⁹) — so an external engine re-running the same formula
 * reproduces scores bit-for-bit regardless of summation order, and the
 * compared surface carries no DECIMAL output column (the round-8
 * verdict isolated the driver's hash divergence to DECIMAL-typed
 * output columns alone). `ln` is the one libm-dependent step, and
 * rounding does NOT make it portable (a last-ulp difference near a
 * 0.5e-6 boundary flips the rounded digit — observed across DuckDB
 * builds in round 6): hash-compared gates must use
 * [[queryIdfLiterals]] + [[bm25TopKWithIdf]], which evaluate `ln` once
 * on the driver and feed both engines the identical literal table.
 */
object Retrieval {

  /** BM25 top-k documents per query. Output: `(query_id, neighbor_id,
    * score_e9, rank)` — `score_e9` is the BIGINT scaled score
    * (score×10⁹, HALF_UP at 9 dp), rank 1-based, ties broken by
    * ascending doc id. Tokenization is whitespace tokens of the
    * lowercased text on both sides; repeated query terms count once
    * (the classic query-side simplification).
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      requireAllTerms: Boolean = false
  ): DataFrame = {
    // ONE tokenize pass (inside buildPostings): per-doc length and the
    // corpus token total both derive from the postings (dl = Σ_t tf),
    // and N comes from a count-only scan that never parses text — an
    // earlier form tokenized the corpus twice (doclen branch + postings
    // branch share no exchange, so both ran the full map stage).
    // Zero-token docs still count toward N/avgdl (they contribute 0
    // tokens and can't match a query, so dl-from-postings is exact).
    val tf = buildPostings(docs, idCol, textCol)
    val doclen = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L)).as("sum_dl")))
    rankPostings(tf, doclen, stats, queries, queryIdCol, queryTextCol, k, k1, b,
      requireAllTerms)
  }

  /** The BM25 postings table for a document corpus: `(term, id, tf)` —
    * one map-side-combined aggregation; what [[bm25TopKFromPostings]]
    * scores against and what the streaming index maintains
    * incrementally ([[graft.streaming.StreamingOps.bm25IndexStream]]).
    */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** The 6dp idf literals for a metadata-sized query set, computed ON
    * THE DRIVER from exact integer counts (N, per-term df): idf(t) =
    * round₆(ln((N − df + 0.5)/(df + 0.5) + 1)). Values are IDENTICAL to
    * the engine-side formula ([[bm25TopK]] mirrors the same operand
    * order through `java.lang.Math.log` and a HALF_UP 6dp round), but
    * the transcendental runs exactly once, JVM-side — so a gate built
    * from these literals carries no libm dependence in its
    * hash-compared surface (a last-ulp `ln` difference between DuckDB
    * builds flipped the rounded digit in round 6). Two metadata-sized
    * collects: the distinct query terms, and their df counts.
    */
  def queryIdfLiterals(
      docs: DataFrame,
      textCol: String,
      queries: DataFrame,
      queryTextCol: String
  ): Seq[(String, java.math.BigDecimal)] = {
    val nDocs = docs.count()
    val terms = queries
      .select(explode(array_distinct(TextFunctions.tokens(lower(col(queryTextCol)))))
        .as("term"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val dfMap = docs
      .select(explode(array_distinct(TextFunctions.tokens(lower(col(textCol)))))
        .as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      // operand order mirrors rankPostings' idf6 column exactly
      val raw = math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
      t -> java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
  }

  /** [[queryIdfLiterals]] with the corpus side reduced to a PREBUILT
    * distinct `(id, term, tf)` postings table (from [[buildPostings]],
    * or a committed streaming index) plus the corpus doc count —
    * VALUES are identical (postings rows are exactly the distinct
    * doc-term pairs the df count needs; the query-term collect and the
    * JVM `ln` are unchanged), but the corpus tokenizes ZERO extra
    * times: the bm25-family gates previously paid one private
    * full-corpus tokenize pass per idf table on top of the scorer's
    * own (r16 measure).
    */
  def queryIdfLiteralsFromPostings(
      nDocs: Long,
      postings: DataFrame,
      queries: DataFrame,
      queryTextCol: String
  ): Seq[(String, java.math.BigDecimal)] = {
    val terms = queries
      .select(explode(array_distinct(TextFunctions.tokens(lower(col(queryTextCol)))))
        .as("term"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    // df = DISTINCT docs per term (r16 advice): [[buildPostings]] output
    // is distinct per (id, term), so this equals the term's row count
    // there. A postings table with a duplicated (id, term) row — an
    // append-only streaming index that re-appended a doc — would also
    // double-count that doc's tf in rankPostings' scores, so the same
    // aggregate counts the rows and refuses a term whose rows exceed its
    // distinct ids (the filter reduces the aggregate to the matched
    // terms' postings, so the check adds no job)
    val counts = postings
      .select(col("term"), col("id"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count_distinct(col("id")).as("df"), count(lit(1)).as("rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    counts.find { case (_, df, rows) => rows > df }.foreach { case (t, df, rows) =>
      throw new IllegalArgumentException(
        s"queryIdfLiteralsFromPostings: term '$t' has $rows postings rows for $df " +
          "distinct ids — duplicate (id, term) postings would double-count tf in the " +
          "BM25 scores; deduplicate the postings table (buildPostings output is distinct)")
    }
    val dfMap = counts.map { case (t, df, _) => t -> df }.toMap
    terms.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      // operand order mirrors rankPostings' idf6 column exactly
      val raw = math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
      t -> java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
  }

  /** [[bm25TopK]] with the idf table supplied as driver-computed
    * literals (from [[queryIdfLiterals]]) instead of an engine-side
    * `ln` — the gate-portable form; scores are identical whenever the
    * literals were computed over the same corpus.
    *
    * `precomputedPostings`, when supplied, MUST equal
    * `buildPostings(docs, idCol, textCol)` — the caller built (and
    * typically checkpointed) it once to share the corpus tokenize pass
    * with the idf table / relevance set; `docs` still supplies the
    * corpus stats (N counts every doc, tokenized-empty ones included —
    * the [[bm25TopKFromPostings]] divergence this form avoids).
    */
  def bm25TopKWithIdf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      idf: Seq[(String, java.math.BigDecimal)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      requireAllTerms: Boolean = false,
      precomputedPostings: Option[DataFrame] = None
  ): DataFrame = {
    val tf = precomputedPostings.getOrElse(buildPostings(docs, idCol, textCol))
    val doclen = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L)).as("sum_dl")))
    val spark = docs.sparkSession
    import spark.implicits._
    val idfTable = idf.map { case (t, v) => (t, idfScaled6(v)) }
      .toDF("term", "idf_s")
    rankPostings(tf, doclen, stats, queries, queryIdCol, queryTextCol, k, k1, b,
      requireAllTerms, idfTable = Some(idfTable))
  }

  /** The 6dp idf literal as a scaled integer (idf × 10⁶) — the form the
    * exact-integer gate arithmetic consumes on both engines.
    */
  def idfScaled6(v: java.math.BigDecimal): Long =
    v.movePointRight(6).longValueExact()

  /** BM25 top-k against a PREBUILT postings table (e.g. the committed
    * version of the streaming index). Document length derives from the
    * postings themselves (`dl = Σ_t tf`), so docs that produced zero
    * tokens are absent from N/avgdl — identical results to
    * [[bm25TopK]] whenever every doc has at least one token.
    */
  def bm25TopKFromPostings(
      postings: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      requireAllTerms: Boolean = false
  ): DataFrame = {
    val doclen = postings.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = doclen.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    rankPostings(postings, doclen, stats, queries, queryIdCol, queryTextCol,
      k, k1, b, requireAllTerms)
  }

  /** [[bm25TopKFromPostings]] with driver-computed idf literals — the
    * gate-portable form for scoring a committed (e.g. streaming-built)
    * index; see [[bm25TopKWithIdf]].
    */
  def bm25TopKFromPostingsWithIdf(
      postings: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      idf: Seq[(String, java.math.BigDecimal)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      requireAllTerms: Boolean = false
  ): DataFrame = {
    val doclen = postings.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = doclen.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val spark = postings.sparkSession
    import spark.implicits._
    val idfTable = idf.map { case (t, v) => (t, idfScaled6(v)) }
      .toDF("term", "idf_s")
    rankPostings(postings, doclen, stats, queries, queryIdCol, queryTextCol,
      k, k1, b, requireAllTerms, idfTable = Some(idfTable))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2004), made hash-exact: per query term the smoothed probability
    * `p_t(d) = (tf·|C| + μ·cf_t) / ((dl + μ)·|C|)` is ONE exact integer
    * rational rounded HALF_UP at 9 dp (`r_t = (2a+d) div (2d)` — the
    * BM25 kernel's rounding), and the document score is the QL
    * LIKELIHOOD itself — `Π_t p_t(d)` — computed as a fixed-point e18
    * product: `acc₀ = 10¹⁸; acc ← (2·acc·r_t + 10⁹) div (2·10⁹)` with
    * the terms folded in LEXICOGRAPHIC order. The fold order and
    * per-step HALF_UP are part of the operator contract, so any engine
    * replays `likelihood_e18` bit-for-bit with integer arithmetic only
    * — no `ln`, no DECIMAL in the compared surface (ranking by the
    * likelihood is ranking by log-likelihood; the log is never needed).
    *
    * ALL query terms contribute (an unmatched term multiplies in its
    * collection-probability mass — the Dirichlet semantics that makes
    * long documents with missing terms lose to short ones); a term
    * absent from the whole corpus zeroes every likelihood for that
    * query (documented: QL assigns -∞ log-likelihood). Zero-token
    * documents are excluded (nothing to retrieve). Precision bound:
    * the e18 fixed point underflows to 0 when the running product
    * drops below 10⁻¹⁸ — ~6 terms at p ≈ 10⁻³ — so ranks past that
    * tie to ascending doc id; retrieval queries are short (the same
    * metadata-sized-queries contract as [[bm25TopK]]).
    *
    * Scale shape: one tokenize pass (postings + dl + |C| all derive
    * from it); the query-term cf table is metadata-sized and
    * broadcast; the per-(doc, term) grid is |docs| × Σ|q| NARROW rows
    * (id, dl, tf, cf — never text); the fold groups k-bounded through
    * [[Similarity.topKPerQuery]] after one exchange on (query, doc).
    * Output: `(query_id, neighbor_id, likelihood_e18 BIGINT, rank)`.
    */
  def dirichletTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      mu: Long = 2000L
  ): DataFrame = {
    require(mu > 0, s"dirichletTopK: mu must be positive, got $mu")
    val tf = buildPostings(docs, idCol, textCol)
    val doclen = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = tf.agg(sum(col("tf")).as("c_total"))
    val qterms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(lower(col(queryTextCol)))))
        .as("term"))
    // collection frequency of the query terms only (metadata-sized
    // after the semi-restriction; absent terms coalesce to cf = 0)
    val cf = qterms.select("term").distinct()
      .join(tf.groupBy("term").agg(sum(col("tf")).as("_cfsum")),
        Seq("term"), "left")
      .select(col("term"), coalesce(col("_cfsum"), lit(0L)).as("cf"))
    val qtcf = broadcast(qterms.join(cf, Seq("term")))
    // the full (doc × query-term) grid — unmatched terms MUST score
    val grid = doclen.crossJoin(qtcf)
      .join(tf.join(broadcast(qterms.select("term").distinct()),
          Seq("term"), "left_semi"),
        Seq("id", "term"), "left")
      .select(col("query_id"), col("id"), col("dl"), col("term"),
        col("cf"), coalesce(col("tf"), lit(0L)).as("tf"))
      .crossJoin(broadcast(stats))
    val d38 = DecimalType(38, 0)
    val scored = grid
      .withColumn("_a",
        (col("tf").cast(d38) * col("c_total").cast(d38) +
          lit(mu) * col("cf").cast(d38)) * lit(1000000000L))
      .withColumn("_d",
        (col("dl").cast(d38) + lit(mu)) * col("c_total").cast(d38))
      .withColumn("_r", expr("(2 * _a + _d) div (2 * _d)"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(array_sort(collect_list(struct(col("term"), col("_r")))).as("_rs"))
      .withColumn("likelihood_e18",
        expr("""CAST(aggregate(_rs, CAST(1000000000000000000 AS DECIMAL(38,0)),
               | (acc, x) -> CAST((2 * acc * x._r + 1000000000) div 2000000000
               |   AS DECIMAL(38,0)))
               | AS BIGINT)""".stripMargin))
      .select(col("query_id"), col("neighbor_id"), col("likelihood_e18"))
    Similarity.topKPerQuery(scored, "likelihood_e18", k)
  }

  private def rankPostings(
      tf: DataFrame,
      doclen: DataFrame,
      stats: DataFrame, // one row: (n_docs, sum_dl)
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double,
      b: Double,
      requireAllTerms: Boolean,
      idfTable: Option[DataFrame] = None // (term, idf_s BIGINT ×10⁶) literals
  ): DataFrame = {
    val qterms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(array_distinct(TextFunctions.tokens(lower(col(queryTextCol)))))
        .as("term"))
    // idf: either the engine formula joined per-term df, or a
    // driver-computed literal table (the gate-portable path — the
    // query-term idf set is metadata-sized, so the join broadcasts).
    // Both paths land on the SAME scaled-integer idf column (idf×10⁶):
    // the engine formula rounds ln(...) to 6dp (BigDecimal HALF_UP,
    // same as queryIdfLiterals' driver-side setScale) and rescales —
    // round(round(x,6)·10⁶, 0) recovers the exact integer because the
    // 6dp double sits within ~1e-10·|x| of it.
    val joined = idfTable match {
      case Some(t) => broadcast(qterms).join(tf, Seq("term"))
        .join(broadcast(t), Seq("term"))
      case None =>
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        broadcast(qterms).join(tf, Seq("term")).join(df, Seq("term"))
    }
    // ONE stats crossJoin serves both the engine-ln idf (needs n_docs)
    // and the integer kernel (needs n_docs + sum_dl) — referencing
    // `stats` twice would duplicate its postings-sum lineage, i.e. a
    // second full tokenize pass (Catalyst doesn't reuse DataFrame
    // lineage)
    val withStats0 = joined.join(doclen, Seq("id")).crossJoin(broadcast(stats))
    val withStats = idfTable match {
      case Some(_) => withStats0
      case None =>
        val idf6 = round(
          log((col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + 0.5) /
            (col("df").cast(DoubleType) + 0.5) + 1.0), 6)
        withStats0
          .withColumn("idf_s", round(idf6 * lit(1000000.0), 0).cast(LongType))
          .drop("df")
    }
    // The per-term contribution is ONE exact integer rational —
    // tfnorm's num/den scaled by 10¹²·sum_dl — numerator
    // idf_s·tf·(10⁶+K1)·10⁶·sum_dl·10³, denominator tf·10¹²·sum_dl
    // + K1·(10⁶−B)·sum_dl + K1·B·dl·n_docs (K1 = k1·10⁶, B = b·10⁶,
    // exact integers) — rounded HALF_UP to 9dp in pure integer
    // arithmetic: ⌊(2a + d) / (2d)⌋ for positive a/d. No double and no
    // DECIMAL ever enters the compared surface (round-8 verdict: the
    // driver's hash diverges on DECIMAL output columns alone), so the
    // BIGINT `score_e9` is identical in ANY engine's integer
    // arithmetic. DECIMAL(38,0) carries the ~10³² intermediates
    // internally (HUGEINT on the oracle side); the final sum fits
    // int64 comfortably (idf ≤ ~20, so score_e9 ≤ ~2·10¹⁰ per term ×
    // query length — the cast is ANSI-guarded).
    val bd = java.math.BigDecimal.valueOf(_: Double)
    val K1 = bd(k1).movePointRight(6).longValueExact()
    val B = bd(b).movePointRight(6).longValueExact()
    val d38 = DecimalType(38, 0)
    val scoredBase = withStats
      .withColumn("_a",
        col("idf_s").cast(d38) * col("tf").cast(d38) *
          lit(1000000L + K1) * lit(1000000L) * col("sum_dl").cast(d38) *
          lit(1000L))
      .withColumn("_d",
        col("tf").cast(d38) * lit(1000000000000L) * col("sum_dl").cast(d38) +
          lit(K1 * (1000000L - B)) * col("sum_dl").cast(d38) +
          lit(K1 * B) * col("dl").cast(d38) * col("n_docs").cast(d38))
      .withColumn("_cs", expr("(2 * _a + _d) div (2 * _d)"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("_cs")).as("_ss"), count(lit(1)).as("_nmatched"))
      .withColumn("score_e9", col("_ss").cast(LongType))
    // AND semantics: keep docs matching EVERY distinct query term —
    // the matched-term count falls out of the scoring aggregate free,
    // and the per-query term totals are a metadata-sized broadcast
    val filtered = if (requireAllTerms) {
      val nq = qterms.groupBy("query_id").agg(count(lit(1)).as("_nq"))
      scoredBase.join(broadcast(nq), Seq("query_id"))
        .filter(col("_nmatched") === col("_nq"))
    } else scoredBase
    val scored = filtered.select(col("query_id"), col("neighbor_id"),
      col("score_e9"))
    // the ANN surface's k-bounded heap reduction — one shared rank-order
    // convention (score desc, ties to the ascending id)
    Similarity.topKPerQuery(scored, "score_e9", k)
  }

  /** Reciprocal-rank-fusion of ranked retrieval lists (Cormack et al.,
    * SIGIR 2009): fused(d) = Σ_lists w_l / (rrfK + rank_l(d)), the
    * standard hybrid-search combiner for a lexical [[bm25TopK]] run and
    * a dense [[Similarity]] ANN run over the same corpus — rank-based,
    * so the lists' incomparable score scales never need calibration.
    *
    * Inputs are ranked lists `(query_id, neighbor_id, rank)` — the
    * exact output shape of [[bm25TopK]] and every `Similarity` top-k —
    * so each list is already k-bounded per query: the fuse shuffles at
    * most `Σ k_l` id+rank rows per query (no text, no vectors), the
    * group-by partial-aggregates map-side, and the final cut is the
    * same k-bounded `graft_topk` heap as the inputs. Missing docs
    * simply contribute nothing (no outer-join null handling needed).
    *
    * Determinism: each contribution `w / (rrfK + rank)` is rounded
    * HALF_UP at 12 dp in pure integer arithmetic, and the fused score
    * is the exact integer sum emitted as `score_e12` BIGINT
    * (score×10¹²) — order-independent, reproducible by any engine, no
    * DECIMAL output column (the BM25 scoring convention above). Ties
    * break to the ascending neighbor id.
    */
  /** Ranking-quality metrics of a top-k list against a relevance set —
    * the evaluation half of the retrieval family: per query,
    * `(n_relevant, hits_at_k, mrr_e6, prec_at_k_ppm)` where
    * `mrr_e6 = 10⁶ div rank-of-first-relevant` (0 when none ranks) and
    * `prec_at_k_ppm = hits·10⁶ div k` — rank-based exact integers, so
    * any engine replays them. `ranked` must carry
    * `(query_id, neighbor_id, rank)` (the [[bm25TopK]] / ANN output
    * shape); `relevant` carries `(query_id, doc_id)`. Every query id
    * present in `ranked` gets a row (zero metrics when nothing
    * relevant).
    *
    * Scale shape: one left join of the ranked list against the
    * materialized relevance pairs (ids only), one aggregate per query
    * over it and one over the relevance pairs — evaluation is
    * rank-list-bound, never corpus-bound.
    */
  def rankingMetrics(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"rankingMetrics: k must be positive, got $k")
    val (flagged, nrel) = flagRelevant(ranked, relevant)
    // tolerate over-long input: metrics are @k, so ranks past k never
    // count (else hits_at_k could exceed k and prec_at_k_ppm 10⁶)
    val hit = col("_hit") && col("rank") <= k
    flagged.groupBy("query_id")
      .agg(count(when(hit, lit(1))).as("_h"), min(when(hit, col("rank"))).as("_fr"))
      .join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_nr"), lit(0L)).as("n_relevant"),
        col("_h").as("hits_at_k"),
        coalesce(expr("CAST(1000000 div _fr AS BIGINT)"), lit(0L)).as("mrr_e6"),
        expr(s"CAST(_h * 1000000 div ${k}L AS BIGINT)").as("prec_at_k_ppm"))
  }

  /** `ranked`'s rows with `_hit = true` where `(query_id, neighbor_id)`
    * is a relevance pair of `relevant` (null elsewhere), and each
    * query's relevant count `(query_id, _nr)` — the two inputs of
    * [[rankingMetrics]] and [[ndcgAtK]]. One left join keeps every
    * ranked row, so the per-query aggregate over it covers every query
    * id of `ranked` and `ranked` is read once. The distinct relevance
    * pairs are materialized: they have two readers, and materialized
    * the joins against them plan with their real size.
    */
  private def flagRelevant(ranked: DataFrame, relevant: DataFrame): (DataFrame, DataFrame) = {
    val rel = Materialize.local(relevant
      .select(col("query_id"), col("doc_id").as("neighbor_id")).distinct())
    (ranked.join(rel.withColumn("_hit", lit(true)), Seq("query_id", "neighbor_id"), "left"),
      rel.groupBy("query_id").agg(count(lit(1)).as("_nr")))
  }

  /** The ×10⁹-scaled DCG position weights 1/log₂(rank+1) for ranks
    * 1..k, computed ONCE on the driver and treated as literals — the
    * [[queryIdfLiterals]] discipline: the transcendental never runs
    * engine-side, so NDCG's compared surface is pure integer
    * arithmetic.
    */
  def dcgWeightLiteralsE9(k: Int): Seq[(Int, Long)] = {
    require(k >= 1, s"dcgWeightLiteralsE9: k must be positive, got $k")
    (1 to k).map { r =>
      val w = 1.0 / (math.log(r + 1.0) / math.log(2.0))
      r -> java.math.BigDecimal.valueOf(w)
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .movePointRight(9).longValueExact()
    }
  }

  /** NDCG@k with binary relevance, exact to the scaled-integer weight
    * table: `dcg = Σ w_e9(rank of each ranked relevant doc)`, `idcg =
    * Σ w_e9(1..min(n_relevant, k))`, `ndcg_e6 = dcg·10⁶ div idcg`
    * (0 when the query has no relevant docs). The weight table is the
    * driver-computed [[dcgWeightLiteralsE9]] — both engines fold the
    * same literals, so no engine-side log ever reaches the compared
    * surface. Input shapes as [[rankingMetrics]].
    */
  def ndcgAtK(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    val w = dcgWeightLiteralsE9(k)
    val wCase = w.foldRight(lit(0L): Column) { case ((r, v), els) =>
      when(col("rank") === r, lit(v)).otherwise(els)
    }
    // idcg as a driver-known prefix-sum lookup on n_relevant
    val prefix = w.scanLeft(0L) { case (acc, (_, v)) => acc + v }.tail
    val idcgCase = (1 to k).foldRight(lit(prefix.last): Column) { case (n, els) =>
      when(col("n_relevant") === n, lit(prefix(n - 1))).otherwise(els)
    }
    val (flagged, nrel) = flagRelevant(ranked, relevant)
    flagged.groupBy("query_id").agg(sum(when(col("_hit"), wCase).otherwise(lit(0L))).as("_dcg"))
      .join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_nr"), lit(0L)).as("n_relevant"),
        coalesce(col("_dcg"), lit(0L)).as("dcg_e9"))
      .withColumn("idcg_e9",
        when(col("n_relevant") === 0, lit(0L)).otherwise(idcgCase))
      .withColumn("ndcg_e6",
        when(col("idcg_e9") === 0, lit(0L))
          .otherwise(expr("CAST(dcg_e9 * 1000000 div idcg_e9 AS BIGINT)")))
  }

  def rrfFuse(
      lists: Seq[DataFrame],
      k: Int,
      rrfK: Int = 60,
      weights: Seq[Double] = Seq.empty
  ): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val ws = if (weights.isEmpty) Seq.fill(lists.size)(1.0) else weights
    require(ws.size == lists.size,
      s"got ${ws.size} weights for ${lists.size} lists")
    // each contribution w/(rrfK + rank) is rounded HALF_UP to 12dp in
    // EXACT integer arithmetic — ⌊(2·w₆·10⁶ + d) / (2·d)⌋ with w₆ =
    // w·10⁶ exact — and summed as BIGINT (`score_e12` = score×10¹²;
    // each contribution ≤ w·10¹², so the sum fits int64 for any sane
    // list count/weight); `round(double,12)` here would re-import the
    // cross-build libm/rounding divergence the bm25 surface evicted
    // (round-7 verdict #3), and a DECIMAL output column would re-import
    // the driver hash divergence round 8 isolated
    val contribs = lists.zip(ws).map { case (df, w) =>
      val w6 = java.math.BigDecimal.valueOf(w).movePointRight(6).longValueExact()
      df.select(col("query_id"), col("neighbor_id"),
          (lit(rrfK.toLong) + col("rank").cast(LongType)).as("_d"))
        .withColumn("_cs", expr(s"(${2L * w6 * 1000000L} + _d) div (2 * _d)"))
        .select(col("query_id"), col("neighbor_id"),
          col("_cs").cast(LongType).as("_contrib"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy("query_id", "neighbor_id")
      .agg(sum(col("_contrib")).cast(LongType).as("score_e12"))
    Similarity.topKPerQuery(fused, "score_e12", k)
  }

  /** Exact phrase search: documents containing the token sequence
    * `phrase` (whitespace tokenization on both sides), with occurrence
    * count and first match position. The quote-detection / boilerplate-
    * attribution primitive next to BM25's bag-of-words ranking — e.g.
    * finding every crawl document that embeds a known license banner or
    * a benchmark prompt verbatim.
    *
    * Scale shape: ZERO shuffles on the corpus. Candidates come from the
    * O(tokens) rolling fingerprint ([[graft.plans.TokenWindowHashes]],
    * window = phrase length) compared against the phrase's own
    * fingerprint computed ONCE on the driver with the same kernel — a
    * narrow per-row array filter against a literal, no join. Each
    * (rare) hash candidate is then verified collision-proof by slicing
    * the token array at the candidate start and comparing to the
    * literal phrase tokens, so the output is exact sequence equality,
    * not a probabilistic hit. Only matching docs survive the final
    * narrow filter; nothing aggregates globally.
    *
    * Docs shorter than the phrase cannot match (the kernel's whole-array
    * short window is eliminated by the slice verify). Output:
    * `(<idCol>, n_hits BIGINT, first_pos BIGINT)` — positions are
    * 0-based token offsets; docs with no match are absent.
    */
  def phraseMatch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      phrase: String
  ): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val pt = phrase.trim.split("\\s+").filter(_.nonEmpty)
    require(pt.nonEmpty, "phraseMatch: phrase must contain at least one token")
    val w = pt.length
    // the phrase's fingerprint, via the SAME rolling kernel the corpus
    // side runs — one driver-side eval on the phrase tokens
    val ph = graft.plans.TokenWindowHashes
      .roll(new GenericArrayData(
        pt.map(tk => UTF8String.fromString(tk).asInstanceOf[Any])), w)
      .getStruct(0, 2).getLong(1)
    val phraseArr = array(pt.map(lit(_)): _*)
    val base = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val withWins = base.withColumn("_wins", ColumnBridge.column(
      graft.plans.TokenWindowHashes(
        ColumnBridge.expression(col("_toks")), w)))
    withWins
      // hash prefilter: narrow, against a literal — no shuffle
      .withColumn("_cand", filter(col("_wins"), x => x.getField("h") === lit(ph)))
      .filter(size(col("_cand")) > 0)
      // collision-proof verify on the (rare) candidates only
      .withColumn("_hits", filter(col("_cand"), x =>
        slice(col("_toks"), (x.getField("s") + lit(1L)).cast("int"), lit(w))
          === phraseArr))
      .filter(size(col("_hits")) > 0)
      .select(col(idCol),
        size(col("_hits")).cast(LongType).as("n_hits"),
        array_min(transform(col("_hits"), x => x.getField("s")))
          .cast(LongType).as("first_pos"))
  }
}
