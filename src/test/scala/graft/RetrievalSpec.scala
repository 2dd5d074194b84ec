package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple apple apple apple"),
    (4L, "dog")
  ).toDF("doc_id", "text")

  test("bm25TopK: term-frequency saturation ranks, non-matching docs absent") {
    val q = Seq((10L, "apple")).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    // only docs containing 'apple'; tf=4 in the all-apple doc outranks tf=2
    assert(out.map(_._2).toSeq == Seq(3L, 1L))
    assert(out.map(_._3).toSeq == Seq(1, 2))
  }

  test("bm25TopK: multi-term queries sum contributions; absent terms add nothing") {
    val q = Seq(
      (10L, "banana cherry"),
      (11L, "zebra")  // vocabulary miss: no result rows at all
    ).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    val q10 = out.filter(_._1 == 10L).sortBy(_._3).map(_._2).toSeq
    assert(q10 == Seq(2L, 1L)) // both terms beat banana-only
    assert(!out.exists(_._1 == 11L))
  }

  test("bm25TopK requireAllTerms: conjunctive matching, vocabulary misses kill the query") {
    val q = Seq(
      (10L, "apple banana"),   // only doc 1 has both
      (11L, "apple zebra")     // zebra unseen -> AND can never hold
    ).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10, requireAllTerms = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 1L)))
    // scores of surviving docs equal the disjunctive scorer's
    val or = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10)
      .select("query_id", "neighbor_id", "score_e9")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val and = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10, requireAllTerms = true)
      .select("query_id", "neighbor_id", "score_e9")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    and.foreach { case (key, s) => assert(or(key) == s) }
  }

  test("bm25TopK: k bounds the result; repeated query terms count once") {
    val q = Seq((10L, "apple apple banana")).toDF("query_id", "qtext")
    val k1 = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(k1.length == 1)
    // same scores as the distinct-term query => same ranking
    val qd = Seq((10L, "apple banana")).toDF("query_id", "qtext")
    val full = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
        "query_id", "qtext", k = 10)
      .select("neighbor_id", "score_e9").as[(Long, Long)].collect().toMap
    val dist = Retrieval.bm25TopK(corpus, "doc_id", "text", qd,
        "query_id", "qtext", k = 10)
      .select("neighbor_id", "score_e9").as[(Long, Long)].collect().toMap
    assert(full == dist)
  }

  test("rrfFuse: hand-computed fusion of two ranked lists") {
    // query 0: doc 7 is rank 1 in both lists; doc 8 rank 2 dense only;
    // doc 9 rank 2 lexical only -> fused order 7, then 8/9 tied broken
    // by ascending id.
    val dense = Seq((0L, 7L, 1), (0L, 8L, 2)).toDF("query_id", "neighbor_id", "rank")
    val lexical = Seq((0L, 7L, 1), (0L, 9L, 2)).toDF("query_id", "neighbor_id", "rank")
    val out = Retrieval.rrfFuse(Seq(dense, lexical), k = 10)
      .orderBy("rank")
      .select("neighbor_id", "score_e12", "rank")
      .as[(Long, Long, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(7L, 8L, 9L))
    // contribution = HALF_UP₁₂(1/(60+rank)) ×10¹² as an exact integer
    val c1 = BigDecimal(1.0 / 61.0).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(10).pow(12)).toLongExact
    val c2 = BigDecimal(1.0 / 62.0).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(10).pow(12)).toLongExact
    assert(out(0)._2 == c1 + c1)
    assert(out(1)._2 == c2)
    assert(out(2)._2 == c2)
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
  }

  test("rrfFuse: weights scale contributions; single-list fusion is rank-preserving") {
    val dense = Seq((0L, 7L, 1), (0L, 8L, 2)).toDF("query_id", "neighbor_id", "rank")
    val lexical = Seq((0L, 8L, 1)).toDF("query_id", "neighbor_id", "rank")
    // heavy lexical weight flips doc 8 above doc 7
    val out = Retrieval.rrfFuse(Seq(dense, lexical), k = 10,
        weights = Seq(1.0, 100.0))
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(8L, 7L))
    val single = Retrieval.rrfFuse(Seq(dense), k = 10)
      .orderBy("rank").select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(single == Seq((7L, 1), (8L, 2)))
  }

  test("queryIdfLiterals + bm25TopKWithIdf ≡ engine-ln bm25TopK, bit for bit") {
    // the gate-portability contract: the driver-computed 6dp idf table
    // (one JVM ln per term) reproduces the engine-side formula exactly,
    // so the literal-table scorer is a drop-in for bm25TopK — in both
    // disjunctive and conjunctive modes
    val q = Seq(
      (10L, "apple banana"),
      (11L, "cherry dog apple"),
      (12L, "zebra")).toDF("query_id", "qtext")
    val idf = Retrieval.queryIdfLiterals(corpus, "text", q, "qtext")
    // every distinct query term present, 6dp scale
    assert(idf.map(_._1).toSet ==
      Set("apple", "banana", "cherry", "dog", "zebra"))
    assert(idf.forall(_._2.scale == 6))
    for (requireAll <- Seq(false, true)) {
      val viaLn = Retrieval.bm25TopK(corpus, "doc_id", "text", q,
          "query_id", "qtext", k = 10, requireAllTerms = requireAll)
        .select("query_id", "neighbor_id", "score_e9", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      val viaTable = Retrieval.bm25TopKWithIdf(corpus, "doc_id", "text", q,
          "query_id", "qtext", idf, k = 10, requireAllTerms = requireAll)
        .select("query_id", "neighbor_id", "score_e9", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(viaTable == viaLn, s"requireAllTerms=$requireAll")
    }
    // the literal idf join broadcasts (metadata-sized table)
    val plan = Retrieval.bm25TopKWithIdf(corpus, "doc_id", "text", q,
        "query_id", "qtext", idf, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    // the prebuilt-postings scorer agrees when every doc has tokens
    val viaPostings = Retrieval.bm25TopKFromPostingsWithIdf(
        Retrieval.buildPostings(corpus, "doc_id", "text"),
        q, "query_id", "qtext", idf, k = 10)
      .select("query_id", "neighbor_id", "score_e9", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val direct = Retrieval.bm25TopKWithIdf(corpus, "doc_id", "text", q,
        "query_id", "qtext", idf, k = 10)
      .select("query_id", "neighbor_id", "score_e9", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(viaPostings == direct)
  }

  test("queryIdfLiteralsFromPostings: equals queryIdfLiterals on distinct postings; refuses a duplicated (id, term) row by name") {
    val q = Seq((10L, "apple banana"), (11L, "cherry zebra")).toDF("query_id", "qtext")
    val postings = Retrieval.buildPostings(corpus, "doc_id", "text")
    val n = corpus.count()
    assert(Retrieval.queryIdfLiteralsFromPostings(n, postings, q, "qtext") ==
      Retrieval.queryIdfLiterals(corpus, "text", q, "qtext"))
    // one posting row appended twice, as a re-appending streaming index
    // would: rankPostings would count that doc's tf for the term twice
    val dup = postings.filter(col("term") === "apple").limit(1)
    val e = intercept[IllegalArgumentException] {
      Retrieval.queryIdfLiteralsFromPostings(n, postings.unionByName(dup), q, "qtext")
    }
    assert(e.getMessage.contains("term 'apple'") && e.getMessage.contains("duplicate"),
      e.getMessage)
    // a duplicate of a term no query asks for is outside the check
    val other = postings.filter(!col("term").isin("apple", "banana", "cherry", "zebra"))
      .limit(1)
    assert(Retrieval.queryIdfLiteralsFromPostings(n, postings.unionByName(other), q, "qtext") ==
      Retrieval.queryIdfLiterals(corpus, "text", q, "qtext"))
  }

  test("phraseMatch: exact sequence hits with overlap, shorts excluded, counts and first positions") {
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "x y a b c z a b c"),        // two hits of "a b c" at 2 and 6
      (2L, "a b"),                      // shorter than the phrase
      (3L, "a b c"),                    // exact-length doc, one hit at 0
      (4L, "c b a"),                    // same bag, wrong order
      (5L, "a a a a"),                  // overlap probe for "a a"
      (6L, "")                          // empty
    ).toDF("doc_id", "text")
    val rows = Retrieval.phraseMatch(docs, "doc_id", "text", "a b c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L, 2L), (3L, 1L, 0L)), rows.toString)
    // overlapping occurrences each count
    val ov = Retrieval.phraseMatch(docs, "doc_id", "text", "a a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ov == Set((5L, 3L, 0L)), ov.toString)
    // single-token phrase degenerates to token occurrence counting
    val one = Retrieval.phraseMatch(docs, "doc_id", "text", "c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(one == Set((1L, 2L, 4L), (3L, 1L, 2L), (4L, 1L, 0L)), one.toString)
    // zero corpus shuffle: no Exchange in the physical plan
    val plan = Retrieval.phraseMatch(docs, "doc_id", "text", "a b c")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("rankingMetrics: mrr from first relevant rank, zero-relevant queries still report") {
    val ranked = Seq(
      // q0: relevant at ranks 2 and 5 → mrr 1e6//2, hits 2
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), (0L, 13L, 4), (0L, 14L, 5),
      // q1: nothing relevant ranks → zeros (but 3 docs ARE relevant)
      (1L, 20L, 1), (1L, 21L, 2),
      // q2: relevant at rank 1
      (2L, 30L, 1), (2L, 31L, 2)
    ).toDF("query_id", "neighbor_id", "rank")
    val rel = Seq(
      (0L, 11L), (0L, 14L), (0L, 99L),
      (1L, 97L), (1L, 98L), (1L, 96L),
      (2L, 30L)
    ).toDF("query_id", "doc_id")
    val got = Retrieval.rankingMetrics(ranked, rel, k = 5)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      0L -> ((3L, 2L, 500000L, 400000L)),
      1L -> ((3L, 0L, 0L, 0L)),
      2L -> ((1L, 1L, 1000000L, 200000L))), got.toString)
    intercept[IllegalArgumentException] {
      Retrieval.rankingMetrics(ranked, rel, k = 0)
    }
  }

  test("ndcgAtK: literal weights, ideal ordering scores 1e6, worse orderings score less") {
    val w = Retrieval.dcgWeightLiteralsE9(10)
    assert(w.head == ((1, 1000000000L)))          // 1/log2(2) = 1
    assert(w(1) == ((2, 630929754L)), w(1).toString) // 1/log2(3) HALF_UP at 9dp
    val ranked = Seq(
      // q0: 2 relevant at ranks 1,2 of 3 → ideal prefix → ndcg = 1e6
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      // q1: same 2 relevant but at ranks 2,3 → dcg < idcg
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3),
      // q2: nothing relevant → zeros
      (2L, 30L, 1)
    ).toDF("query_id", "neighbor_id", "rank")
    val rel = Seq(
      (0L, 10L), (0L, 11L),
      (1L, 21L), (1L, 22L)
    ).toDF("query_id", "doc_id")
    val got = Retrieval.ndcgAtK(ranked, rel, k = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val w1 = 1000000000L; val w2 = 630929754L; val w3 = 500000000L
    assert(got(0L) == ((2L, w1 + w2, w1 + w2, 1000000L)), got.toString)
    val dcg1 = w2 + w3
    assert(got(1L) == ((2L, dcg1, w1 + w2, dcg1 * 1000000L / (w1 + w2))), got.toString)
    assert(got(2L) == ((0L, 0L, 0L, 0L)), got.toString)
    // n_relevant beyond k clamps idcg at the k-prefix sum
    val manyRel = (100L to 120L).map(i => (0L, i)).toDF("query_id", "doc_id")
    val clamped = Retrieval.ndcgAtK(ranked.filter($"query_id" === 0), manyRel, k = 10)
      .select("idcg_e9").as[Long].head()
    assert(clamped == Retrieval.dcgWeightLiteralsE9(10).map(_._2).sum, clamped.toString)
  }

  test("rankingMetrics and ndcgAtK read the ranked list once; ranks past k count for nothing") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ranked = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), (1L, 20L, 3))
      .toDF("query_id", "neighbor_id", "rank").localCheckpoint()
    val rel = Seq((0L, 12L), (1L, 20L), (1L, 21L)).toDF("query_id", "doc_id")
    // k = 2: every relevant doc that ranks, ranks 3
    val rm = Retrieval.rankingMetrics(ranked, rel, k = 2)
    assert(rm.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 1L, 0L, 0L, 0L), (1L, 2L, 0L, 0L, 0L)))
    val nd = Retrieval.ndcgAtK(ranked, rel, k = 2)
    assert(nd.select("query_id", "dcg_e9", "ndcg_e6").as[(Long, Long, Long)]
      .collect().sorted.toSeq == Seq((0L, 0L, 0L), (1L, 0L, 0L)))
    for (df <- Seq(rm, nd)) {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      assert(plan.collect { case s: RDDScanExec if s.output.exists(_.name == "rank") => s }
        .size == 1, plan.toString)
    }
  }

  test("dirichletTopK: e18 fixed-point QL likelihood, contract-model parity, semantics") {
    val docs = Seq(
      (1L, "a a b"),   // dl 3
      (2L, "b c"),     // dl 2
      (3L, "c c c c")  // dl 4
    ).toDF("id", "text")
    val queries = Seq((0L, "a c"), (1L, "zzz")).toDF("qid", "qtext")
    val mu = 10L
    val got = Retrieval.dirichletTopK(docs, "id", "text", queries,
        "qid", "qtext", k = 3, mu = mu)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // the contract model, replayed independently with BigInt: C = 9,
    // cf(a)=2, cf(c)=5; r_t = (2a+d) div (2d); fold in lex term order
    val C = BigInt(9)
    val cf = Map("a" -> BigInt(2), "c" -> BigInt(5))
    val dl = Map(1L -> BigInt(3), 2L -> BigInt(2), 3L -> BigInt(4))
    val tf = Map((1L, "a") -> BigInt(2), (1L, "b") -> BigInt(1),
      (2L, "b") -> BigInt(1), (2L, "c") -> BigInt(1),
      (3L, "c") -> BigInt(4))
    def lik(doc: Long, terms: Seq[String]): Long = {
      val rs = terms.sorted.map { t =>
        val a = (tf.getOrElse((doc, t), BigInt(0)) * C + mu * cf.getOrElse(t, BigInt(0))) * BigInt(1000000000L)
        val d = (dl(doc) + mu) * C
        (2 * a + d) / (2 * d)
      }
      rs.foldLeft(BigInt("1000000000000000000")) { (acc, r) =>
        (2 * acc * r + BigInt(1000000000L)) / BigInt(2000000000L)
      }.toLong
    }
    val expected0 = Seq(1L, 2L, 3L).map(d => d -> lik(d, Seq("a", "c")))
      .sortBy { case (d, l) => (-l, d) }
      .zipWithIndex.map { case ((d, l), i) => (0L, d, l, i + 1) }
    assert(got.filter(_._1 == 0L) == expected0,
      s"got=${got.filter(_._1 == 0L)} want=$expected0")
    // an out-of-corpus query term zeroes every likelihood (cf = 0 and
    // tf = 0 ⇒ r = 0); ranks fall back to ascending doc id
    assert(got.filter(_._1 == 1L) ==
      Seq((1L, 1L, 0L, 1), (1L, 2L, 0L, 2), (1L, 3L, 0L, 3)),
      got.filter(_._1 == 1L).toString)
    // matched terms genuinely outrank: doc 3 (4×'c') must beat doc 2
    // (1×'c') on the single-term query "c"
    val single = Seq((9L, "c")).toDF("qid", "qtext")
    val ranks = Retrieval.dirichletTopK(docs, "id", "text", single,
        "qid", "qtext", k = 3, mu = mu)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(ranks.head == 3L, ranks.toString)
  }
}
