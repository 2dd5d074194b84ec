package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f))
  ).toDF("id", "vec")

  test("brute-force top-k ranks by cosine") {
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val out = Similarity.bruteForceTopK(corpus, "id", "vec", q, "qid", "qvec", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((2L, 1), (3L, 2)))
  }

  test("ivf with nprobe = #centroids equals brute force") {
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val cents = Similarity.seedCentroids(corpus, "id", "vec", 2)
    val assigned = Similarity.assignToCentroids(corpus, "id", "vec", cents)
    val ivf = Similarity.ivfTopK(assigned, "id", "vec", cents, q, "qid", "qvec", 2, nprobe = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    val bf = Similarity.bruteForceTopK(corpus, "id", "vec", q, "qid", "qvec", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(ivf.toSeq == bf.toSeq)
  }

  test("ivf nprobe=1 prunes to the query's own cluster and stays exact within it") {
    // three orthogonal clusters of 10 vectors each; explicit axis
    // centroids so the cell structure is known. A query from cluster 0
    // with nprobe=1 scans ~1/3 of the corpus yet returns exactly its
    // cluster-mates (the IVF contract: pruned scan, exact in the cell)
    val vecs = (0 until 30).map { i =>
      val axis = i % 3
      val v = Array(0.0f, 0.0f, 0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 3) = 0.01f * (i / 3) // within-cluster spread
      (i.toLong, v)
    }.toDF("id", "vec")
    val cents = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f)),
      (102L, Array(0.0f, 0.0f, 1.0f))).toDF("centroid_id", "centroid_vec")
    val assigned = Similarity.assignToCentroids(vecs, "id", "vec", cents)
    // clusters land in their own cells
    assert(assigned.filter($"id" % 3 === 0).select("centroid_id").as[Long]
      .collect().forall(_ == 100L))
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val out = Similarity.ivfTopK(assigned, "id", "vec", cents, q, "qid", "qvec",
        k = 5, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out.size == 5)
    assert(out.forall(_ % 3 == 0), out.toString) // only cluster-0 members
  }

  test("assignToCentroids: every corpus row gets exactly one centroid") {
    val cents = Similarity.seedCentroids(corpus, "id", "vec", 2)
    val assigned = Similarity.assignToCentroids(corpus, "id", "vec", cents)
    assert(assigned.count() == 4)
    assert(assigned.columns.contains("centroid_id"))
  }

  test("lshTopK: identical vectors are always found; multi-probe recovers near neighbors") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 5)
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
    // top-1 for an exact-copy query is its twin (same bucket guaranteed)
    val top1 = Similarity.lshTopK(emb, "id", "vec", q, "qid", "qvec",
        k = 1, bits = 8, multiProbe = false)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1 == (0 until 5).map(i => (i + 1000000L) -> i.toLong).toMap, top1.toString)
    // multi-probe candidates are a superset of single-probe candidates
    val single = Similarity.lshTopK(emb, "id", "vec", q, "qid", "qvec",
      k = 20, bits = 8, multiProbe = false)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshTopK(emb, "id", "vec", q, "qid", "qvec",
      k = 20, bits = 8, multiProbe = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(multi.size >= single.size)
    // every single-probe result whose multi-probe query returned a full k
    // either survives or was outranked — spot-check the containment on
    // the twin pairs, which can never be outranked
    assert((0 until 5).forall(i => multi.contains((i + 1000000L, i.toLong))))
  }

  test("refineCentroids converges onto well-separated clusters and keeps empty-cluster ids") {
    import org.apache.spark.sql.functions._
    // three tight clusters around orthogonal axes; seeds deliberately
    // poor (two seeds in one cluster, one in another, none in the third
    // cluster's direction gets... the refinement must still partition
    // cleanly by nearest-mean geometry)
    val vecs = (0 until 30).map { i =>
      val axis = i % 3
      val v = Array(0.05f, 0.05f, 0.05f)
      v(axis) = 1.0f + 0.01f * (i / 3)
      (i.toLong, v)
    }.toDF("id", "vec")
    val seeds = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),   // same direction as seed 0
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("centroid_id", "centroid_vec")
    val refined = Similarity.refineCentroids(vecs, "id", "vec", seeds, iterations = 3)
    assert(refined.count() == 3) // ids preserved, including any emptied cluster
    val assigned = Similarity.assignToCentroids(vecs, "id", "vec", refined)
    // refined centroids separate at least two of the three clusters into
    // distinct cells (3 seeds, 2 distinct directions: the duplicate seed
    // pair splits or empties, never crashes)
    val cells = assigned.select("centroid_id").distinct().count()
    assert(cells >= 2)
    // every vector of cluster 1 (y-axis) lands in the same cell
    val yCells = assigned.filter($"id" % 3 === 1)
      .select("centroid_id").distinct().count()
    assert(yCells == 1)
  }

  test("native assignment equals the composed array_max(struct(cosine, -id)) form") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    // the inlined-literals form NearestCentroid replaced — pinned
    // equivalent on real embeddings (same dot arithmetic, same nan-safe
    // lexicographic tie-break)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Similarity.seedCentroids(emb, "id", "vec", 7)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val candidates = cents.map { case (cid, cv) =>
      struct(VectorFunctions.cosine(col("vec"), typedlit(cv)).as("sim"),
        lit(-cid).as("negId"))
    }
    val composed = emb.withColumn("composed_id",
      -array_max(array(candidates.toSeq: _*)).getField("negId"))
    val centsDf = cents.toSeq.toDF("centroid_id", "centroid_vec")
    val native = Similarity.assignToCentroids(emb, "id", "vec", centsDf)
    val joined = composed.select(col("id"), col("composed_id"))
      .join(native.select(col("id"), col("centroid_id")), "id")
    assert(joined.filter(col("composed_id") =!= col("centroid_id")).isEmpty)
  }

  test("assignment scales to C=1024 with a zero-shuffle plan and correct argmax") {
    import org.apache.spark.sql.functions._
    // 1024 axis-aligned-ish centroids in 8 dims, deterministic values;
    // corpus vectors constructed to sit unambiguously nearest a known one
    // v(1)/v(0) = c/1024 is unique per centroid, so directions are
    // provably distinct (cosine 1.0 only with the matching centroid)
    val dim = 8
    def centVec(c: Int): Array[Float] =
      Array.tabulate(dim)(i =>
        if (i == 0) 1f else if (i == 1) c / 1024f
        else (((c + i) % 7).toFloat + 1f) / 7f)
    val cents = (0 until 1024).map(c => (c.toLong, centVec(c)))
      .toDF("centroid_id", "centroid_vec")
    // corpus = exact copies of 50 of the centroids
    val corpus = (0 until 50).map { j =>
      val c = j * 20
      (j.toLong, c.toLong, centVec(c))
    }.toDF("id", "expected", "vec")
    val assigned = Similarity.assignToCentroids(corpus, "id", "vec", cents)
    // the plan stays narrow at C=1024: no join, no exchange, and ONE
    // expression node (no O(C) literal tree)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    val bad = assigned.filter(col("centroid_id") =!= col("expected"))
    // a copied centroid vector can only lose to a colinear centroid with
    // a smaller id; the value pattern makes directions distinct, so the
    // assignment must be exact
    assert(bad.isEmpty)
  }

  test("buildIvfIndex: one call builds the partitioned layout ivfTopKPartitioned probes exactly") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfbuild").toString
    val cents = Similarity.buildIvfIndex(emb, "id", "vec", c = 4, iterations = 1, path)
    assert(cents.count() == 4)
    // the written layout is the partitionBy(centroid_id) contract
    val dirs = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(dirs > 0 && dirs <= 4)
    // identical-twin queries find themselves through the pruned probe
    val q = emb.filter(col("id") < 3)
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"))
    val top = Similarity.ivfTopKPartitioned(path, "id", "vec", cents, q,
        "qid", "qvec", k = 1, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(i => assert(top(i + 1000000L) == i))
  }

  test("quantize8 corpus rides the partitioned IVF index: pruning holds, QDot scores the scan") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Similarity.seedCentroids(emb, "id", "vec", 8)
    val assigned = Similarity.assignToCentroids(emb, "id", "vec", cents)
    // persist QUANTIZED codes under the same partitionBy(centroid_id)
    // contract — a quarter of the candidate-scan bytes
    val path = java.nio.file.Files.createTempDirectory("graft-ivfq").toString
    Similarity.writeAssigned(
      assigned.select(col("id"),
        VectorFunctions.quantize8(col("vec")).as("qv"), col("centroid_id")),
      path)
    // queries carry the float vec (probe selection) AND their codes
    // (candidate scoring) — the queryScoreVec seam
    val q = emb.filter(col("id") < 3)
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qvec"),
        VectorFunctions.quantize8(col("vec")).as("qqv"))
    val res = Similarity.ivfTopKPartitioned(path, "id", "qv", cents, q,
      "qid", "qvec", k = 3, nprobe = 2,
      metric = VectorFunctions.quantizedDot, scoreName = "qdot",
      queryScoreVec = Some("qqv"))
    // partition pruning is unchanged by the payload representation
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
    val rows = res.select(col("query_id"), col("neighbor_id"), col("qdot"))
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == 3)
    // scores are true QDot values: recompute for each returned pair
    val codes = emb.select(col("id"),
        VectorFunctions.quantize8(col("vec")).as("qv")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val recompute = q.select(col("qid"), col("qqv")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    def qdotOf(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Double = {
      val (qa, qb) = (a.getSeq[Int](0), b.getSeq[Int](0))
      val (oa, sa) = (a.getDouble(1), a.getDouble(2))
      val (ob, sb) = (b.getDouble(1), b.getDouble(2))
      val sqq = qa.zip(qb).map { case (x, y) => x.toLong * y }.sum
      sa * sb * sqq + sa * ob * qa.map(_.toLong).sum +
        sb * oa * qb.map(_.toLong).sum + qa.length * oa * ob
    }
    rows.foreach { case (qid, nid, got) =>
      assert(got == qdotOf(recompute(qid), codes(nid)), s"($qid,$nid)")
    }
  }

  test("mmrRerank: diversification beats a near-duplicate, hand-computed values") {
    // id 2 is a near-dup of id 1: relevance order (1,2,3) but MMR
    // order (1,3,2) at lambda 0.5 — the penalty term kicks the dup out
    val cands = Seq(
      (0L, 1L, 1.0, Array(1.0, 0.0)),
      (0L, 2L, 0.99, Array(1.0, 0.01)),
      (0L, 3L, 0.5, Array(0.0, 1.0))
    ).toDF("query_id", "neighbor_id", "score", "vec")
    val out = Similarity.mmrRerank(cands, m = 3, lambda = 0.5)
      .orderBy("rank")
      .select("neighbor_id", "mmr", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 3L, 2L))
    assert(out(0)._2 == 0.5 * 1.0 - 0.5 * 0.0)
    assert(out(1)._2 == 0.5 * 0.5 - 0.5 * 0.0)
    assert(out(2)._2 == 0.5 * 0.99 - 0.5 * 1.0) // penalty = dot vs id 1
    assert(out.map(_._3) == Seq(1, 2, 3))
  }

  test("mmrRerank: ties to smallest id; null vectors excluded; m caps at n") {
    val cands = Seq(
      (0L, 6L, 1.0, Array(1.0, 0.0)),
      (0L, 5L, 1.0, Array(1.0, 0.0)),
      (1L, 7L, 2.0, null.asInstanceOf[Array[Double]]),
      (1L, 8L, 1.0, Array(0.0, 1.0))
    ).toDF("query_id", "neighbor_id", "score", "vec")
    val out = Similarity.mmrRerank(cands, m = 5, lambda = 0.5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // query 0: equal (score, vec) -> id 5 first; both selected (m > n)
    assert(out.contains((0L, 5L, 1)) && out.contains((0L, 6L, 2)))
    // query 1: the null-vec candidate is excluded entirely
    assert(out.contains((1L, 8L, 1)) && !out.exists(r => r._1 == 1L && r._2 == 7L))
  }

  test("mmrRerank: one malformed-length candidate never evicts the well-formed rest") {
    // candidate id 1 sorts FIRST (ascending id) and has the wrong
    // length — dimensionality is the mode of candidate lengths, so ids
    // 2..4 survive and id 1 is the one excluded
    val cands = Seq(
      (0L, 1L, 9.0, Array(1.0, 0.0, 0.0)), // malformed: 3-dim
      (0L, 2L, 1.0, Array(1.0, 0.0)),
      (0L, 3L, 0.8, Array(0.0, 1.0)),
      (0L, 4L, 0.5, Array(1.0, 1.0))
    ).toDF("query_id", "neighbor_id", "score", "vec")
    val out = Similarity.mmrRerank(cands, m = 4, lambda = 0.5)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(2L, 3L, 4L), s"got $out")
  }

  test("kmeansIterationExact: integer assignment + sums; ties to smallest cid; centroids broadcast") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)),   // seed A
      (1L, Array(1.0f, 1.0f)),   // seed B
      (2L, Array(0.1f, 0.1f)),   // → A
      (3L, Array(0.9f, 1.1f)),   // → B
      (4L, Array(0.5f, 0.5f))    // EQUIDISTANT in e6 space → tie → A (cid 0)
    ).toDF("id", "vec")
    val seeds = vecs.filter($"id" < 2)
      .select($"id".as("centroid_id"), $"vec".as("centroid_vec"))
    val out = Similarity.kmeansIterationExact(vecs, "id", "vec", seeds)
      .orderBy("centroid_id", "pos")
      .as[(Long, Int, Long, Long)].collect().toSeq
    // cluster A = {0, 2, 4}: sums (0 + 100000 + 500000) per dim;
    // cluster B = {1, 3}: dim0 1000000 + 899999 (floor of 0.9f·10⁶ —
    // 0.9f widens to 0.89999997…), dim1 1000000 + 1100000
    val b0 = math.floor(0.9f.toDouble * 1000000).toLong
    val b1 = math.floor(1.1f.toDouble * 1000000).toLong
    assert(out == Seq(
      (0L, 0, 600000L, 3L), (0L, 1, 600000L, 3L),
      (1L, 0, 1000000L + b0, 2L), (1L, 1, 1000000L + b1, 2L)), out.toString)
    // the centroid matrix folds into a per-row argmin expression —
    // assignment is join-free and the ONLY exchange is the (cid, pos)
    // histogram aggregate's, carrying narrow columns (non-foldable
    // corpus: a literal table constant-folds the whole assignment away)
    val bigCorpus = spark.range(100).select(col("id"),
      array((col("id") % 7).cast("float"), (col("id") % 3).cast("float")).as("vec"))
    val q = Similarity.kmeansIterationExact(bigCorpus, "id", "vec", seeds)
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("graft_nearest_centroid_e6"), planStr)
    assert(!planStr.contains("Join"), planStr)
    val shuffles = shuffleExchanges(q)
    assert(shuffles.length == 1, planStr)
    assert(shuffles.head.output.forall(a =>
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      shuffles.head.output.mkString(","))
  }

  test("kmeans chain: sums → integer centroids → second exact iteration; trunc-div pinned on negatives") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f)), (3L, Array(0.9f, 1.1f)),
      (4L, Array(0.5f, 0.5f))
    ).toDF("id", "vec")
    val seeds = vecs.filter($"id" < 2)
      .select($"id".as("centroid_id"), $"vec".as("centroid_vec"))
    val s1 = Similarity.kmeansIterationExact(vecs, "id", "vec", seeds)
    val s2 = Similarity.kmeansIterationExactE6(vecs, "id", "vec",
      Similarity.kmeansCentroidsFromSums(s1))
    // on this toy layout the round-2 centroids reproduce the same
    // assignment, so the two sums tables are identical (a fixed point)
    assert(s2.orderBy("centroid_id", "pos")
      .as[(Long, Int, Long, Long)].collect().toSeq ==
      s1.orderBy("centroid_id", "pos")
        .as[(Long, Int, Long, Long)].collect().toSeq)
    // negative sums divide toward ZERO (the DuckDB `//` direction) —
    // -7 div 2 must be -3, not floor's -4
    val neg = Seq((0L, 0, -7L, 2L)).toDF("centroid_id", "pos", "sum_e6", "n_assigned")
    val c = Similarity.kmeansCentroidsFromSums(neg)
      .select("centroid_e6").as[Seq[Long]].head()
    assert(c == Seq(-3L), c.toString)
  }

  test("PQ: train → codebooks → encode → ADC top-k, exact integers end-to-end") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // seed A
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)), // seed B
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)), // sub0→A, sub1→B
      (3L, Array(0.9f, 1.1f, 0.1f, 0.0f))  // sub0→B, sub1→A
    ).toDF("id", "vec")
    val seeds = vecs.filter($"id" < 2)
      .select($"id".as("centroid_id"), $"vec".as("centroid_vec"))
    val cb = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsE6(vecs, "id", "vec", seeds, m = 2))
    // hand-computed (e6 floors: 0.1f→100000, 0.9f→899999, 1.1f→1100000;
    // means trunc-divide)
    val cbm = cb.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Long](2))).toMap
    assert(cbm == Map(
      (0, 0L) -> Seq(50000L, 50000L), (0, 1L) -> Seq(949999L, 1050000L),
      (1, 0L) -> Seq(50000L, 0L), (1, 1L) -> Seq(949999L, 949999L)), cbm.toString)
    val codes = Similarity.pqEncodeE6(vecs, "id", "vec", cb)
    val cm = codes.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cm == Map(0L -> Seq(0L, 0L), 1L -> Seq(1L, 1L),
      2L -> Seq(0L, 1L), 3L -> Seq(1L, 0L)), cm.toString)
    // encode over a non-foldable corpus: join-free AND shuffle-free
    val bigCorpus = spark.range(50).select(col("id"),
      array((col("id") % 5).cast("float"), (col("id") % 3).cast("float"),
        (col("id") % 2).cast("float"), lit(0.5f)).as("vec"))
    val encPlan = Similarity.pqEncodeE6(bigCorpus, "id", "vec", cb)
    assert(shuffleExchanges(encPlan).isEmpty,
      encPlan.queryExecution.executedPlan.toString)
    assert(!encPlan.queryExecution.executedPlan.toString.contains("Join"),
      encPlan.queryExecution.executedPlan.toString)
    // ADC from query v0: adist = Σ_j lut_j(code_j), hand-computed
    val q = vecs.filter($"id" === 0)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val top = Similarity.pqAdcTopKE6(codes, "id", "codes", cb, q, "qid", "qvec", k = 3)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(top == Seq(
      (0L, 2L, 1809996200002L, 1),
      (0L, 3L, 2007498100001L, 2),
      (0L, 1L, 3809994300003L, 3)), top.toString)
  }

  test("IVF-PQ: full probe equals flat ADC; single probe restricts to the probed cell; recall eval exact") {
    import org.apache.spark.sql.functions._
    // the PQ spec's fixture: cells {0: ids 0,2} and {1: ids 1,3} under
    // coarse centroids = seed vectors (verified by the partition dirs)
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)),
      (3L, Array(0.9f, 1.1f, 0.1f, 0.0f))
    ).toDF("id", "vec")
    val seeds = vecs.filter($"id" < 2)
      .select($"id".as("centroid_id"), $"vec".as("centroid_vec"))
    val cb = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsE6(vecs, "id", "vec", seeds, m = 2))
    val coarse = vecs.filter($"id" < 2).select($"id".as("centroid_id"),
      transform($"vec", v => floor(v.cast("double") * 1000000d).cast("long"))
        .as("centroid_e6"))
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec").toString
    Similarity.buildIvfPqIndex(vecs, "id", "vec", coarse, cb, out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("centroid_id=0", "centroid_id=1"), dirs.toSeq.toString)
    // full probe (nprobe = C) must equal the flat ADC scan exactly
    val q = vecs.select($"id".as("qid"), $"vec".as("qvec"))
    val full = Similarity.ivfPqTopKE6(out, "id", coarse, cb, q, "qid", "qvec",
        k = 3, nprobe = 2)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    val codes = Similarity.pqEncodeE6(vecs, "id", "vec", cb)
    val flat = Similarity.pqAdcTopKE6(codes, "id", "codes", cb, q, "qid", "qvec", k = 3)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(full == flat, s"full=$full flat=$flat")
    // single probe from query 0 (cell 0): the only candidate is id 2 —
    // cell 1 is never even listed (pruning is semantic here, physical
    // in the PlanShapeSpec twin)
    val one = Similarity.ivfPqTopKE6(out, "id", coarse, cb,
        q.filter($"qid" === 0L), "qid", "qvec", k = 3, nprobe = 1)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(one == Seq((0L, 2L, 1809996200002L, 1)), one.toString)
    // recall of the composed index at full probe: every query's ADC
    // top-1 coincides with the exact e6 top-1 on this layout
    val rec = Similarity.ivfPqRecallE6(vecs, "id", "vec", out, coarse, cb,
        q, "qid", "qvec", k = 1, nprobe = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rec == Set((0L, 1L, 1L, 1000000L), (1L, 1L, 1L, 1000000L),
      (2L, 1L, 1L, 1000000L), (3L, 1L, 1L, 1000000L)), rec.toString)
    // EMPTY evaluation sample is a legal degenerate input: zero rows with
    // the full result schema, the pqAdcTopKE6 face — not a hard failure
    val none = Similarity.ivfPqTopKE6(out, "id", coarse, cb,
      q.filter($"qid" === 999L), "qid", "qvec", k = 3, nprobe = 1)
    assert(none.columns.toSeq == Seq("query_id", "neighbor_id", "adist", "rank"),
      none.columns.toSeq.toString)
    assert(none.count() == 0L)
  }

  test("IVF-PQ residual encoding lifts recall over raw codes at identical (m, nprobe) on a clustered corpus") {
    import org.apache.spark.sql.functions._
    // two tight clusters far apart: raw PQ codes are dominated by the
    // cluster-scale coordinates, so every cluster-A vector collapses to
    // ONE code and within-cluster ADC cannot rank neighbors (ties break
    // by id — mostly wrong); residual codes quantize only the small
    // offsets and recover the true neighborhood
    def v(base: Double, off: Double) =
      Array.fill(4)((base + off).toFloat)
    val corpus = Seq(
      (10L, v(0, 0.1)), (11L, v(0, 0.2)), (12L, v(0, 0.6)),
      (13L, v(0, 0.7)), (14L, v(0, 0.8)), (15L, v(0, 0.9)),
      (20L, v(100, 0.1)), (21L, v(100, 0.5))
    ).toDF("id", "vec")
    val coarse = Seq(
      (0L, Seq.fill(4)(500000L)),        // 0.5 e6 — cluster A's center
      (1L, Seq.fill(4)(100500000L))      // 100.5 e6 — cluster B's center
    ).toDF("centroid_id", "centroid_e6")
    // raw codebooks: one seed per cluster (the natural k-means outcome
    // when clusters dominate variance)
    val rawSeeds = corpus.filter($"id".isin(10L, 20L))
      .select($"id".as("centroid_id"), $"vec".as("centroid_vec"))
    val cbRaw = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsE6(corpus, "id", "vec", rawSeeds, m = 2))
    // residual codebooks: seeds are two RESIDUALS spanning the offset
    // range (ids 10 and 15 → offsets .1 and .9)
    val resSeeds = Similarity.ivfResidualsE6(corpus, "id", "vec", coarse)
      .filter($"id".isin(10L, 15L))
      .select($"id".as("centroid_id"), $"residual_e6".as("centroid_e6"))
    val cbRes = Similarity.pqCodebooksFromSums(
      Similarity.pqTrainSumsResidualE6(corpus, "id", "vec", coarse, resSeeds, m = 2))
    val outRaw = java.nio.file.Files.createTempDirectory("graft-ivfpq-raw").toString
    val outRes = java.nio.file.Files.createTempDirectory("graft-ivfpq-res").toString
    Similarity.buildIvfPqIndex(corpus, "id", "vec", coarse, cbRaw, outRaw)
    Similarity.buildIvfPqIndex(corpus, "id", "vec", coarse, cbRes, outRes,
      residual = true)
    val q = corpus.filter($"id" === 15L)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def recall(path: String, cb: org.apache.spark.sql.DataFrame,
               res: Boolean): Long =
      Similarity.ivfPqRecallE6(corpus, "id", "vec", path, coarse, cb,
          q, "qid", "qvec", k = 3, nprobe = 1, residual = res)
        .agg(sum($"n_hits")).head().getLong(0)
    val rRaw = recall(outRaw, cbRaw, res = false)
    val rRes = recall(outRes, cbRes, res = true)
    // exact top-3 of query 15 (offset .9) is {14, 13, 12}; raw codes tie
    // every cluster-A neighbor and id-ascending picks {10, 11, 12};
    // residual codes group {12, 13, 14} under the near-offset code
    assert(rRaw == 1L, s"raw recall hits = $rRaw")
    assert(rRes == 3L, s"residual recall hits = $rRes")
    // and the residual index still prunes physically: per-cell dirs
    val dirs = new java.io.File(outRes).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("centroid_id=0", "centroid_id=1"), dirs.toSeq.toString)
  }

  test("mmrRerank cosine: scale-invariant penalty picks the orthogonal doc") {
    // id 2's vector is a SCALED copy of id 1's: cosine penalty 1.0
    // regardless of magnitude, so id 3 (orthogonal) ranks second
    val cands = Seq(
      (0L, 1L, 1.0, Array(2.0, 0.0)),
      (0L, 2L, 0.9, Array(10.0, 0.0)),
      (0L, 3L, 0.4, Array(0.0, 0.5))
    ).toDF("query_id", "neighbor_id", "score", "vec")
    val out = Similarity.mmrRerank(cands, m = 3, lambda = 0.5, useCosine = true)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L, 2L))
  }

  test("ivfRecallExactE6: perfect recall when buckets align, measured loss across a boundary, self excluded") {
    import graft.operators.Similarity
    // two tight clusters around (0,0) and (10,10); centroids at the
    // cluster centers -> 1-probe candidates = own cluster only
    val corpus = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.2f, 0.2f)),
      (11L, Seq(10.0f, 10.1f)), (12L, Seq(10.1f, 10.0f)), (13L, Seq(9.9f, 9.9f)),
      // a straggler geometrically nearer cluster A's members than 13 is
      // to 11, but assigned to B's centroid (closer to (10,10))
      (21L, Seq(6.0f, 6.0f))
    ).toDF("id", "vec")
    val cents = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(10000000L, 10000000L))
    ).toDF("centroid_id", "centroid_e6")
    val q = Seq((1L, Seq(0.0f, 0.1f))).toDF("qid", "qvec")
    // k = 3: exact neighbors of q are {2, 3, 21}? no — 21 is at distance
    // sqrt(72) from q, farther than 2 and 3 but nearer than cluster B;
    // exact top-3 = {2, 3, 21}, approx (bucket 0) = {2, 3} -> 2 hits
    val got = Similarity.ivfRecallExactE6(corpus, "id", "vec", cents,
        q, "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 666666L)), got.mkString(","))
    // with the straggler probing its own bucket as a query, recall is
    // still well-defined (its bucket holds cluster B -> some hits)
    val q2 = Seq((21L, Seq(6.0f, 6.0f))).toDF("qid", "qvec")
    val g2 = Similarity.ivfRecallExactE6(corpus, "id", "vec", cents,
        q2, "qid", "qvec", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // 21's exact top-2 are cluster B members? dist(21, B) = sqrt(32) <
    // dist(21, A) = sqrt(72): exact = {11..13} subset; approx bucket B
    // contains them -> full recall
    assert(g2.toSeq == Seq((21L, 2L, 1000000L)), g2.mkString(","))
    // k larger than the corpus: hits bounded by available neighbors
    val g3 = Similarity.ivfRecallExactE6(corpus, "id", "vec", cents,
        q, "qid", "qvec", k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // q's bucket holds only {2, 3} besides itself (21 assigned to B):
    // approx caps at 2 hits however large k grows
    assert(g3 == Seq((1L, 2L)), g3.mkString(","))
  }

  test("ivfRecallByBucketE6: aggregates the per-query recall over the query's bucket") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.2f, 0.2f)),
      (11L, Seq(10.0f, 10.1f)), (12L, Seq(10.1f, 10.0f)), (13L, Seq(9.9f, 9.9f)),
      (21L, Seq(6.0f, 6.0f))
    ).toDF("id", "vec")
    val cents = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(10000000L, 10000000L))
    ).toDF("centroid_id", "centroid_e6")
    // queries from both clusters: 1 → bucket 0, 21 → bucket 1
    val q = Seq((1L, Seq(0.0f, 0.1f)), (21L, Seq(6.0f, 6.0f))).toDF("qid", "qvec")
    val perQuery = Similarity.ivfRecallExactE6(corpus, "id", "vec", cents,
        q, "qid", "qvec", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byBucket = Similarity.ivfRecallByBucketE6(corpus, "id", "vec", cents,
        q, "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1).toSeq
    // each bucket holds one query; totals must equal the per-query rows
    assert(byBucket == Seq(
      (0L, 1L, perQuery(1L), perQuery(1L) * 1000000L / 3L),
      (1L, 1L, perQuery(21L), perQuery(21L) * 1000000L / 3L)
    ), s"byBucket=$byBucket perQuery=$perQuery")
  }

  test("knnInDegreeE6: hand-computed 1-NN in-degrees; zeros included; ties to smaller id") {
    import graft.operators.Similarity
    // 1-D: 0, 1, 10, 11 (ids 1..4). 1-NN: 1→2, 2→1, 3→4, 4→3
    // in-degrees all 1 → histogram {1 → 4}
    val d = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(10.0f)), (4L, Seq(11.0f)))
      .toDF("id", "vec")
    val g1 = Similarity.knnInDegreeE6(d, "id", "vec", k = 1)
      .as[(Long, Long)].collect().toMap
    assert(g1 == Map(1L -> 4L), g1.toString)
    // hub layout: 0, 2, 4 (ids 1,2,3) — everyone's 1-NN is the middle
    // point except the middle itself (tie 1 vs 3 at dist 4e12 → smaller
    // id 1): in-degrees 1→1, 2→2, 3→0 → histogram {0→1, 1→1, 2→1}
    val hub = Seq((1L, Seq(0.0f)), (2L, Seq(2.0f)), (3L, Seq(4.0f)))
      .toDF("id", "vec")
    val g2 = Similarity.knnInDegreeE6(hub, "id", "vec", k = 1)
      .as[(Long, Long)].collect().toMap
    assert(g2 == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), g2.toString)
    // k beyond the sample: every point is in every list
    val g3 = Similarity.knnInDegreeE6(hub, "id", "vec", k = 9)
      .as[(Long, Long)].collect().toMap
    assert(g3 == Map(2L -> 3L), g3.toString)
    intercept[IllegalArgumentException] {
      Similarity.knnInDegreeE6(d, "id", "vec", k = 0)
    }
    // sample contract is a loud guard, not scaladoc: 4 points > cap 3
    val big = intercept[IllegalArgumentException] {
      Similarity.knnInDegreeE6(d, "id", "vec", k = 1, maxPoints = 3L)
    }
    assert(big.getMessage.contains("maxPoints"), big.getMessage)
    assert(big.getMessage.contains("Sample the point"), big.getMessage)
  }

  test("mutualKnnEdgesE6: reciprocity strips hub spokes; canonical a<b; pipeline composes to planted clusters") {
    import graft.operators.Similarity
    // 1-D: two tight pairs + one outlier whose 1-NN is unreciprocated
    // (3's nearest is 2, but 2's nearest is 1): mutual 1-NN = {(1,2), (4,5)}
    val d = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(4.0f)),
      (4L, Seq(10.0f)), (5L, Seq(11.0f))).toDF("id", "vec")
    val e1 = Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 1)
      .as[(Long, Long)].collect().toSet
    assert(e1 == Set((1L, 2L), (4L, 5L)), e1.toString)
    // at k = 2 the outlier reciprocates with BOTH pair-2 members
    val e2 = Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 2)
      .as[(Long, Long)].collect().toSet
    assert(e2.contains((1L, 2L)) && e2.contains((4L, 5L)), e2.toString)
    assert(e2.forall(p => p._1 < p._2), e2.toString)
    // composed clusters: mutual 1-NN edges → min-label propagation →
    // the two planted pairs, each labeled by its minimum member
    import org.apache.spark.sql.functions.col
    val edges = Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 1)
      .select(col("id_a").cast("string").as("src"),
        col("id_b").cast("string").as("dst"))
    val labels = graft.operators.Graph
      .labelPropagationMin(edges, "src", "dst", rounds = 4)
      .as[(String, String)].collect().toMap
    assert(labels == Map("1" -> "1", "2" -> "1", "4" -> "4", "5" -> "4"),
      labels.toString)
    intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 0)
    }
    val cap = intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 1, maxPoints = 3L)
    }
    assert(cap.getMessage.contains("mutuality filter"), cap.getMessage)
  }

  test("mutualKnnEdgesBlockedE6: within-cell lists match the exact graph when cells align; hot-cell tripwire refuses") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, floor, transform}
    // clusters at 0..2 and 10..11; cells at their centers — blocked
    // candidates = exactly the cluster members, so blocked ≡ exact
    val d = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(2.0f)),
      (4L, Seq(10.0f)), (5L, Seq(11.0f))).toDF("id", "vec")
    val cells = Seq((100L, Seq(1.0f)), (101L, Seq(10.5f)))
      .toDF("centroid_id", "vec")
      .select(col("centroid_id"),
        transform(col("vec"), v => floor(v.cast("double") * 1000000d)
          .cast("long")).as("centroid_e6"))
    val blocked = Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec",
        cells, k = 1)
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 1)
      .as[(Long, Long)].collect().toSet
    assert(blocked == exact && blocked == Set((1L, 2L), (4L, 5L)),
      s"blocked=$blocked exact=$exact")
    // 3 points in one cell > maxCellSize=2 → loud refusal, not n² quietly
    val hot = intercept[Exception] {
      Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec", cells, k = 1,
        maxCellSize = 2L).collect()
    }
    val msg = Option(hot.getMessage).getOrElse("") +
      Option(hot.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxCellSize"), hot.toString)
    assert(msg.contains("Train more"), hot.toString)
    intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec", cells, k = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec", cells, k = 1,
        maxCellSize = 1L)
    }
  }

  test("mutualKnnEdgesProbedE6: nprobe=1 reduces to blocked; nprobe=2 recovers the cross-cell pair; guards") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, floor, transform}
    // cells at 0 and 10; a planted near pair STRADDLES the boundary
    // (4.9 homes to cell 0, 5.1 to cell 10) — invisible at nprobe=1,
    // exactly the blind spot multi-probe exists to open
    val d = Seq((1L, Seq(4.9f)), (2L, Seq(5.1f)), (3L, Seq(0.0f)),
      (4L, Seq(10.0f))).toDF("id", "vec")
    val cells = Seq((100L, Seq(0.0f)), (101L, Seq(10.0f)))
      .toDF("centroid_id", "vec")
      .select(col("centroid_id"),
        transform(col("vec"), v => floor(v.cast("double") * 1000000d)
          .cast("long")).as("centroid_e6"))
    val blocked = Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec",
      cells, k = 1).as[(Long, Long)].collect().toSet
    val probed1 = Similarity.mutualKnnEdgesProbedE6(d, "id", "vec",
      cells, k = 1, nprobe = 1).as[(Long, Long)].collect().toSet
    // nprobe=1 ≡ blocked (home lists only): the straddling pair is
    // invisible, each point pairs within its own cell
    assert(probed1 == blocked && blocked == Set((1L, 3L), (2L, 4L)),
      s"probed1=$probed1 blocked=$blocked")
    // nprobe=2 sees across the boundary and recovers the exact graph
    val probed2 = Similarity.mutualKnnEdgesProbedE6(d, "id", "vec",
      cells, k = 1, nprobe = 2).as[(Long, Long)].collect().toSet
    val exact = Similarity.mutualKnnEdgesE6(d, "id", "vec", k = 1)
      .as[(Long, Long)].collect().toSet
    assert(probed2 == exact && exact == Set((1L, 2L)),
      s"probed2=$probed2 exact=$exact")
    // hot-cell tripwire guards HOME occupancy exactly as in blocked:
    // a third point homing to cell 0 pushes its occupancy past 2
    val d5 = d.union(Seq((5L, Seq(0.1f))).toDF("id", "vec"))
    val hot = intercept[Exception] {
      Similarity.mutualKnnEdgesProbedE6(d5, "id", "vec", cells, k = 1,
        nprobe = 2, maxCellSize = 2L).collect()
    }
    val msg = Option(hot.getMessage).getOrElse("") +
      Option(hot.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxCellSize"), hot.toString)
    assert(msg.contains("Train more"), hot.toString)
    intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesProbedE6(d, "id", "vec", cells, k = 0,
        nprobe = 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.mutualKnnEdgesProbedE6(d, "id", "vec", cells, k = 1,
        nprobe = 0)
    }
  }

  test("ivfTopKExactE6: nprobe=C equals brute force; self excluded; trained neighbors retrieve each other") {
    import graft.operators.{Graph, Similarity}
    import org.apache.spark.sql.functions.col
    // mechanical contract first: a hand-built e6 corpus, nprobe = C —
    // the probed lists ARE the exact lists, ties to the smaller id
    val corp = Seq(
      (1L, Seq(0L)), (2L, Seq(1000000L)), (3L, Seq(2000000L)),
      (4L, Seq(10000000L)), (5L, Seq(11000000L))).toDF("id", "v")
    val cells = Seq((100L, Seq(0L)), (101L, Seq(10000000L)))
      .toDF("centroid_id", "centroid_e6")
    val got = Similarity.ivfTopKExactE6(corp, "id", "v", cells,
        corp.filter(col("id") === 1L), "id", "v", k = 2, nprobe = 2)
      .select("query_id", "neighbor_id", "dist_e12", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq.sortBy(_._4)
    // brute force from id 1 at 0: nearest 2 (d=1e12), then 3 (d=4e12)
    assert(got == Seq((1L, 2L, 1000000000000L, 1),
      (1L, 3L, 4000000000000L, 2)), got.toString)
    // nprobe=1: only the home cell's list (ids 1,2,3) — same here
    val home = Similarity.ivfTopKExactE6(corp, "id", "v", cells,
        corp.filter(col("id") === 1L), "id", "v", k = 2, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(home == Set(2L, 3L), home.toString)
    // the train→serve property the pipeline gate composes: SGNS-trained
    // lattice embeddings retrieve GRAPH neighbors. Chain 0..29 with
    // i—i+1 edges as positives (w=5), i—(i+15) far pairs as negatives;
    // after 3 epochs every node's top-1 by exact L2 in the trained
    // space must be a graph neighbor for most nodes (deterministic:
    // hash init + fixed epochs — this is a property check, not a flake)
    val n = 30
    val pos = (0 until n - 1).flatMap(i => Seq(
        (s"$i", s"${i + 1}", 1L, 8L), (s"${i + 1}", s"$i", 1L, 8L))) ++
      (0 until n - 2).flatMap(i => Seq(
        (s"$i", s"${i + 2}", 1L, 3L), (s"${i + 2}", s"$i", 1L, 3L)))
    val neg = for (i <- 0 until n; d <- Seq(10, 15, 20) if i + d < n)
      yield (s"$i", s"${i + d}", 0L, 2L)
    val labeled = (pos ++ neg).toDF("center", "other", "label", "weight")
    val emb = Graph.sgnsEpochs(labeled, dims = 8, epochs = 6,
      lrPpm = 350000L, seed = "ts").localCheckpoint()
    val tcells = emb.orderBy(col("node").cast("long")).limit(2)
      .select(col("node").cast("long").as("centroid_id"),
        col("emb").as("centroid_e6"))
    val top1 = Similarity.ivfTopKExactE6(emb, "node", "emb", tcells,
        emb, "node", "emb", k = 1, nprobe = 2)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.length == n, s"expected $n queries, got ${top1.length}")
    val adjacent = top1.count { case (q, nb) => math.abs(q - nb) <= 2 }
    // chance level is ~4/29; the trained space must do far better
    assert(adjacent >= (n * 2) / 3,
      s"only $adjacent/$n top-1 neighbors are graph-near (|d| <= 2): " +
        top1.sortBy(_._1).mkString(", "))
  }

  test("kCenterGreedyE6: farthest-point order, tie-breaks, exhaustion, malformed rows") {
    import graft.operators.Similarity
    // 1-D layout: 0.0, 0.1, 5.0, 10.0 (ids 1..4). Seed = id 1 (smallest).
    // Round 2: farthest from 0.0 is 10.0 (id 4, d = (1e7)² = 1e14).
    // Round 3: min-dist to {0, 10} → 0.1: 1e10? (1e5)²=1e10; 5.0: min((5e6)²,(5e6)²)=2.5e13 → id 3.
    // Round 4: remaining 0.1 with d = (1e5)² = 1e10.
    val d = Seq(
      (1L, Seq(0.0f)), (2L, Seq(0.1f)), (3L, Seq(5.0f)), (4L, Seq(10.0f))
    ).toDF("id", "vec")
    val got = Similarity.kCenterGreedyE6(d, "id", "vec", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val e5 = 100000L // floor(0.1f·1e6) = 100000 (float 0.1 sits just above 0.1)
    assert(got == Seq(
      (1L, 1L, 0L),
      (2L, 4L, 10000000L * 10000000L),
      (3L, 3L, 5000000L * 5000000L),
      (4L, 2L, e5 * e5)
    ), got.toString)
    // k beyond the corpus: stops at the corpus size
    assert(Similarity.kCenterGreedyE6(d, "id", "vec", k = 9).count() == 4)
    // ties on distance go to the smallest id: duplicate points
    val tied = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(1.0f)))
      .toDF("id", "vec")
    val g2 = Similarity.kCenterGreedyE6(tied, "id", "vec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(g2 == Seq((1L, 1L), (2L, 2L), (3L, 3L)), g2.toString)
    // malformed vectors (wrong length / null) never qualify
    val bad = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(3.0f)), (3L, Seq(4.0f, 4.0f))
    ).toDF("id", "vec")
    val g3 = Similarity.kCenterGreedyE6(bad, "id", "vec", k = 3)
      .collect().map(_.getLong(1)).toSeq
    assert(g3 == Seq(1L, 3L), g3.toString)
    intercept[IllegalArgumentException] {
      Similarity.kCenterGreedyE6(d, "id", "vec", k = 0)
    }
  }

  test("empty query frame: every probed-cell operator returns zero rows with its columns") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, floor, transform}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val noFloatQueries = Seq.empty[(Long, Array[Float])].toDF("qid", "qvec")
    val noE6Queries = Seq.empty[(Long, Seq[Long])].toDF("qid", "qv")
    // cosine family over the 4-point corpus
    val cents = Similarity.seedCentroids(corpus, "id", "vec", 2)
    val assigned = Similarity.assignToCentroids(corpus, "id", "vec", cents)
    val cosOut = tmp("graft-empty-ivf")
    Similarity.writeAssigned(assigned, cosOut)
    // exact-e6 family over 16 points on a line, 4 cells
    val corpE6 = (0 until 16).map(i => (i.toLong, Seq(i * 1000000L))).toDF("id", "v")
    val cells = Seq((100L, Seq(1000000L)), (101L, Seq(5000000L)),
        (102L, Seq(9000000L)), (103L, Seq(13000000L)))
      .toDF("centroid_id", "centroid_e6")
    val e6Out = tmp("graft-empty-e6")
    Similarity.writeAssignedE6(corpE6, "id", "v", cells, e6Out)
    // IVF-PQ index over 4-d vectors, 2 coarse cells, m = 2
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)), (3L, Array(0.9f, 1.1f, 0.1f, 0.0f))
    ).toDF("id", "vec")
    val cb = Similarity.pqCodebooksFromSums(Similarity.pqTrainSumsE6(vecs, "id", "vec",
      vecs.filter(col("id") < 2).select(col("id").as("centroid_id"),
        col("vec").as("centroid_vec")), m = 2))
    val coarse = vecs.filter(col("id") < 2).select(col("id").as("centroid_id"),
      transform(col("vec"), v => floor(v.cast("double") * 1000000d).cast("long"))
        .as("centroid_e6"))
    val pqOut = tmp("graft-empty-pq")
    Similarity.buildIvfPqIndex(vecs, "id", "vec", coarse, cb, pqOut)
    val cases: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("ivfTopK", () => Similarity.ivfTopK(assigned, "id", "vec", cents,
        noFloatQueries, "qid", "qvec", k = 2, nprobe = 1),
        Seq("query_id", "neighbor_id", "cosine", "rank")),
      ("ivfTopKPartitioned", () => Similarity.ivfTopKPartitioned(cosOut, "id",
        "vec", cents, noFloatQueries, "qid", "qvec", k = 2, nprobe = 1),
        Seq("query_id", "neighbor_id", "cosine", "rank")),
      ("ivfTopKExactE6Partitioned", () => Similarity.ivfTopKExactE6Partitioned(
        e6Out, "id", "v", cells, noE6Queries, "qid", "qv", k = 3, nprobe = 2),
        Seq("query_id", "neighbor_id", "dist_e12", "rank")),
      ("ivfPqTopKE6", () => Similarity.ivfPqTopKE6(pqOut, "id", coarse, cb,
        noFloatQueries, "qid", "qvec", k = 3, nprobe = 1),
        Seq("query_id", "neighbor_id", "adist", "rank")),
      ("mutualKnnEdgesPartitionedE6", () => Similarity.mutualKnnEdgesPartitionedE6(
        spark, e6Out, "id", "v", cells, k = 3, nprobe = 2,
        querySubset = Some(Seq.empty[Long].toDF("id"))),
        Seq("id_a", "id_b")))
    for ((name, run, columns) <- cases) {
      val out = run()
      assert(out.columns.toSeq == columns, s"$name: ${out.columns.toSeq}")
      assert(out.count() == 0L, name)
    }
  }

  test("mutual kNN kernel on a tied integer lattice: probed and partitioned at nprobe = C equal the exact graph, blocked is probed at nprobe = 1") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // 60 points on the 9×9 integer lattice: repeated positions and equal
    // distances everywhere. Cells at (2,2) (2,6) (6,2) (6,6), so every
    // point with a coordinate 4 is equidistant from two cells
    val rnd = new scala.util.Random(60L)
    val pts = (0 until 60).map(i =>
      (i.toLong, Seq(rnd.nextInt(9).toFloat, rnd.nextInt(9).toFloat)))
    val d = pts.toDF("id", "vec")
    val e6 = pts.map { case (i, v) => (i, v.map(x => x.toLong * 1000000L)) }
      .toDF("id", "v")
    val cells = Seq((2, 2), (2, 6), (6, 2), (6, 6)).zipWithIndex.map {
      case ((x, y), c) => (100L + c, Seq(x * 1000000L, y * 1000000L))
    }.toDF("centroid_id", "centroid_e6")
    val k = 3
    def edges(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val exact = edges(Similarity.mutualKnnEdgesE6(d, "id", "vec", k))
    assert(exact.nonEmpty)
    assert(edges(Similarity.mutualKnnEdgesProbedE6(d, "id", "vec", cells, k,
      nprobe = 4)) == exact)
    val out = java.nio.file.Files.createTempDirectory("graft-lattice").toString
    Similarity.writeAssignedE6(e6, "id", "v", cells, out)
    assert(edges(Similarity.mutualKnnEdgesPartitionedE6(spark, out, "id", "v",
      cells, k, nprobe = 4)) == exact)
    val blocked = edges(Similarity.mutualKnnEdgesBlockedE6(d, "id", "vec",
      cells, k))
    assert(blocked == edges(Similarity.mutualKnnEdgesProbedE6(d, "id", "vec",
      cells, k, nprobe = 1)))
    // every point lists min(k, n - 1) neighbors
    val hist = Similarity.knnInDegreeE6(d, "id", "vec", k)
      .as[(Long, Long)].collect()
    assert(hist.map { case (deg, n) => deg * n }.sum == 60L * math.min(k, 59))
  }
}
