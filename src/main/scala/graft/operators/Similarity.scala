package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.{ColumnBridge, Materialize}
import graft.functions.VectorFunctions._
import graft.plans.{NearestCentroidE6, NearestCentroidsE6, TopKAggregate}

/**
 * Nearest-neighbor search, clustering and index evaluation over an
 * embedding column.
 *
 * Every search operator is filter-and-refine: a candidate generator
 * proposes (query, neighbor) pairs, an exact scorer scores them, and
 * [[topKPerQuery]] keeps the k best per query through the bounded
 * `graft_topk` aggregate. Map-side partial aggregation truncates each
 * input partition to k rows per query, so the final shuffle carries
 * #partitions × k rows per query, never the scored candidates.
 *
 * The exact-e6 family (vectors floor-quantized ×10⁶, squared L2 as an
 * exact BIGINT, ties to the smaller id) runs on one kernel:
 *  - three candidate generators, each emitting
 *    `(query_id, neighbor_id, _qa, _a)`: `allPairs` (the sample tier,
 *    with a `maxPoints` refusal), `cellPairs` (queries probe their
 *    `nprobe` nearest cells against home-cell lists that one
 *    `occupancyTripwire` guards) and `cellPairs` over `readProbedCells`
 *    (a layout persisted by cell, pruned to the probe union by a literal
 *    IN on the partition column);
 *  - one scorer, `negL2E6`, ranked by `nearestE6`;
 *  - one reciprocity filter, `mutualEdges`.
 *
 * The cosine/double family (`bruteForceTopK`, `ivfTopK`,
 * `ivfTopKPartitioned`, `lshTopK`) shares only the partition reader with
 * it. Doubles match an external engine only under identical elementwise
 * arithmetic, and each family's DuckDB oracle pins its own, so the two
 * scorers stay separate.
 *
 * Ids must be numeric (the rank tie-break negates them inside the
 * lexicographic top-k struct).
 */
object Similarity {

  /** Two-stage top-k over `scored(query_id, neighbor_id, <score>)`:
    * bounded heap per (query, input partition) map-side, final merge of
    * the k-row survivors — the plan a `row_number` window can't produce
    * (a window shuffles every scored row to one task per query).
    */
  private[operators] def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    TopKAggregate.register(scored.sparkSession)
    val ranked = scored
      .groupBy("query_id")
      .agg(call_function("graft_topk",
        struct(col(scoreCol), (-col("neighbor_id")).as("_nid")), lit(k)).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_e")))
    ranked.select(
      col("query_id"),
      (-col("_e._nid")).as("neighbor_id"),
      col(s"_e.$scoreCol").as(scoreCol),
      (col("_pos") + 1).cast(IntegerType).as("rank"))
  }

  // ------------------------------------------------------------------
  // The exact-e6 kNN kernel: candidates → score → top-k → mutuality.
  // A generator emits `(query_id, neighbor_id, _qa, _a)`, both vectors
  // e6 arrays. Contract: ids are a key of the point set. Then every
  // generator emits an ordered (query, neighbor) pair at most once (all
  // pairs by construction; the cell join because a point lists under
  // its one home cell), so each top-k list holds a pair at most once and
  // `mutualEdges` can test reciprocity by counting.
  // ------------------------------------------------------------------

  /** Exact BIGINT squared L2 of two e6 arrays, negated so the top-k heap
    * (largest first) keeps the nearest. A null element or a length
    * mismatch scores null.
    */
  private def negL2E6(a: Column, b: Column): Column =
    lit(0L) - aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** The k nearest per query of a candidate frame: `(query_id,
    * neighbor_id, _negd, rank)`, ties to the smaller neighbor id.
    */
  private def nearestE6(candidates: DataFrame, k: Int): DataFrame =
    topKPerQuery(candidates.select(col("query_id"), col("neighbor_id"),
      negL2E6(col("_qa"), col("_a")).as("_negd")), "_negd", k)

  /** All-pairs candidates: every `queries (query_id, _qa)` × `points
    * (neighbor_id, _a)` pair with distinct ids. With `cap = (maxPoints,
    * refusal)` the point count is checked first and refused with the
    * caller's remedy, so a corpus handed to an n² construction fails
    * before the scan starts.
    */
  private def allPairs(
      queries: DataFrame,
      points: DataFrame,
      cap: Option[(Long, Long => String)] = None): DataFrame = {
    cap.foreach { case (maxPoints, refusal) =>
      val n = points.count()
      require(n <= maxPoints, refusal(n))
    }
    queries.crossJoin(points).filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Cell candidates: `probes (query_id, _qa, <cell>)`, one row per probed
    * cell, joined to `home (<cell>, neighbor_id, _a)`, each point listed
    * under its one home cell.
    */
  private def cellPairs(probes: DataFrame, home: DataFrame, cell: String): DataFrame =
    probes.join(home, Seq(cell)).filter(col("query_id") =!= col("neighbor_id"))

  /** Each query's `nprobe` nearest cells as one row per probed cell:
    * `(query_id, _qa)` → `(query_id, _qa, <cell>)`. A query whose vector
    * has the wrong length or a null element probes nothing.
    */
  private def probeRows(queries: DataFrame, cells: E6Cells, nprobe: Int,
      cell: String): DataFrame =
    queries.filter(size(col("_qa")) === cells.dim)
      .withColumn("_probes", cells.probes(col("_qa"), nprobe))
      .filter(col("_probes").isNotNull)
      .select(col("query_id"), col("_qa"), explode(col("_probes")).as(cell))

  /** The hot-cell tripwire: operator `op` refuses any `cell` holding more
    * than `maxCellSize` rows, saying `why` that costs. Zero actions: the
    * occupancy count is a window partitioned by the cell, which rides the
    * candidate join's own hash distribution (the setsim hot-gram
    * pattern).
    */
  private def occupancyTripwire(df: DataFrame, cell: String, maxCellSize: Long,
      op: String, why: String): DataFrame =
    df.withColumn("_occ", count(lit(1)).over(Window.partitionBy(cell)))
      .filter(assert_true(col("_occ") <= lit(maxCellSize),
        lit(s"$op: a coarse cell holds more than maxCellSize=$maxCellSize " +
          s"vectors — $why. Train more (or better) cells, or raise " +
          "maxCellSize knowingly.")).isNull)
      .drop("_occ")

  /** Reciprocity: `(id_a, id_b)` with `id_a < id_b` iff both orientations
    * are in `kn (query_id, neighbor_id)`. Each ordered pair occurs at most
    * once (the kernel contract), so both present ⟺ the unordered pair
    * counts 2: one aggregate, no second read of the lists.
    */
  private def mutualEdges(kn: DataFrame): DataFrame =
    kn.groupBy(least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") === 2L)
      .select(col("id_a"), col("id_b"))

  /** The probed cells of a layout persisted partitioned by `centroid_id`
    * ([[writeAssigned]], [[writeAssignedE6]], [[buildIvfPqIndex]]). The
    * probe union becomes a literal IN on the partition column, so pruning
    * happens at file listing (the scan's `PartitionFilters`): unprobed
    * directories are never listed, let alone read. The ids are
    * driver-side, ≤ |queries| × nprobe by the query contract, and a
    * literal prunes statically at planning, where the join form (dynamic
    * partition pruning) prunes only when its runtime conditions line up.
    * An empty union reads nothing, so an empty query frame gives zero
    * rows with the operator's normal columns. `centroid_id` comes back as
    * BIGINT (a cast of a partition column stays prunable).
    */
  private def readProbedCells(spark: SparkSession, path: String,
      probedIds: Seq[Long]): DataFrame =
    spark.read.parquet(path)
      .filter(col("centroid_id").isin(probedIds: _*))
      .withColumn("centroid_id", col("centroid_id").cast(LongType))

  /** The distinct cell ids of a probe frame's `centroid_id` column. */
  private def probeUnion(probes: DataFrame): Seq[Long] =
    probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** Exact top-k for each query row by `metric` (default cosine).
    * `queries` is expected to be small (broadcast); `corpus` is the big
    * side. Output: query_id, neighbor_id, <scoreName>, rank (1-based,
    * ties broken by ascending neighbor id).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      metric: (Column, Column) => Column = cosine,
      scoreName: String = "cosine"
  ): DataFrame = {
    val scored = corpus
      .join(broadcast(queries))
      .select(
        col(queryId).as("query_id"),
        col(corpusId).as("neighbor_id"),
        metric(col(queryVec), col(corpusVec)).as(scoreName)
      )
      .filter(col("query_id") =!= col("neighbor_id"))
    topKPerQuery(scored, scoreName, k)
  }

  /** Similarity metric for centroid assignment (a closed enum, not a
    * Column function, so the assignment can run as ONE native expression
    * with the centroid matrix attached as data — see below).
    */
  sealed trait CentroidMetric
  object CentroidMetric {
    case object Cosine extends CentroidMetric
    case object Dot extends CentroidMetric
  }

  /** Assign every vector to the nearest of `centroids` (centroid_id,
    * centroid_vec) by `metric`. C is driver-known (it comes from
    * [[seedCentroids]]`.limit(c)`), so the centroid set is collected —
    * metadata-sized, like building a broadcast — and the assignment
    * becomes a narrow per-row argmax: zero joins, zero shuffles. (The
    * original corpus×C join + `row_number` window re-shuffled the whole
    * corpus, embedding payloads included, to compute per-row-local
    * information.)
    *
    * The argmax is ONE native expression (graft.plans.NearestCentroid)
    * carrying the C×dim matrix as a flat object reference: the earlier
    * form inlined C vector literals into an `array_max(array(struct...))`
    * tree, which is O(C) analysis/codegen work and breaks codegen's
    * 64 KB/constant-pool limits at C in the thousands; this one stays a
    * single call at any C (spec-pinned at C=1024). Ties go to the
    * smallest centroid id; centroid ids are emitted as BIGINT.
    */
  def assignToCentroids(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: DataFrame, // columns: centroid_id, centroid_vec
      metric: CentroidMetric = CentroidMetric.Cosine
  ): DataFrame = {
    val elemType = centroids.schema("centroid_vec").dataType
      .asInstanceOf[ArrayType].elementType
    val cents = centroids
      .select(col("centroid_id").cast(LongType), col("centroid_vec"))
      .collect()
    require(cents.nonEmpty, "assignToCentroids: empty centroid set")
    val ids = cents.map(_.getLong(0)).toSeq
    def vecOf(r: Row): Seq[Double] = elemType match {
      case FloatType  => r.getSeq[Float](1).map(_.toDouble)
      case DoubleType => r.getSeq[Double](1)
      case t => throw new IllegalArgumentException(s"unsupported embedding element type $t")
    }
    val rows = cents.map(vecOf)
    val dim = rows.head.length
    require(rows.forall(_.length == dim),
      "assignToCentroids: centroid vectors must share one dimensionality")
    val expr = graft.plans.NearestCentroid(
      ColumnBridge.expression(col(corpusVec)),
      ids, rows.toSeq.flatten, dim,
      useCosine = metric == CentroidMetric.Cosine)
    corpus.withColumn("centroid_id", ColumnBridge.column(expr))
  }

  /** The per-query probe set: each query's `nprobe` nearest centroids —
    * (queryId, queryVec, centroid_id). A queries × C expression, tiny on
    * both sides, so the window's shuffle moves q×C rows (fine).
    */
  private def probeSet(
      centroids: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      nprobe: Int
  ): DataFrame = {
    val qc = queries.join(broadcast(centroids))
      .withColumn("_sim", cosine(col(queryVec), col("centroid_vec")))
    val wq = Window.partitionBy(queryId)
      .orderBy(col("_sim").desc, col("centroid_id").asc)
    qc.withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nprobe)
      // keep EVERY query column (a caller may carry a separate scoring
      // representation, e.g. quantize8 codes, alongside the float vec
      // the probe selection uses), normalize the id type for the join
      .withColumn("centroid_id", col("centroid_id").cast(LongType))
      .drop("_sim", "_rn", "centroid_vec")
  }

  /** IVF top-k: probe only the `nprobe` centroids nearest to each query.
    * `assigned` = corpus with a `centroid_id` column (from
    * [[assignToCentroids]], precomputed/persisted at scale).
    */
  def ivfTopK(
      assigned: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val probes = probeSet(centroids, queries, queryId, queryVec, nprobe)
    // keep only the probed partitions of the corpus; k-bounded reduction.
    // NOTE: with an in-memory `assigned` this join FILTERS a full corpus
    // scan — the physical scan-fraction win needs the corpus persisted
    // partitioned by centroid_id; see [[ivfTopKPartitioned]].
    val scored = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .select(
        col(queryId).as("query_id"),
        col(corpusId).as("neighbor_id"),
        cosine(col(queryVec), col(corpusVec)).as("cosine")
      )
      .filter(col("query_id") =!= col("neighbor_id"))
    topKPerQuery(scored, "cosine", k)
  }

  /** Persist an assigned corpus PARTITIONED by `centroid_id` — the
    * physical layout that makes IVF's pruning real: each centroid's
    * vectors land in their own `centroid_id=<id>/` directory, so a probe
    * that touches `nprobe` of `C` centroids LISTS (and reads) only
    * nprobe/C of the files. Without this layout the probe join filters
    * rows but still scans the whole corpus — at 100 TB, IVF's entire
    * value is this layout. One full shuffle-free pass: `partitionBy` on
    * an existing column writes each input split's rows to its partition
    * dirs directly.
    */
  def writeAssigned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** IVF top-k over a corpus persisted by [[writeAssigned]]: the probed
    * centroid ids prune the scan at file listing (`readProbedCells`).
    * One extra tiny job (the probe window over q×C rows) buys a corpus
    * scan of nprobe/C of the files.
    */
  def ivfTopKPartitioned(
      assignedPath: String,
      corpusId: String,
      corpusVec: String,
      centroids: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      metric: (Column, Column) => Column = cosine,
      scoreName: String = "cosine",
      queryScoreVec: Option[String] = None
  ): DataFrame = {
    // probes are read twice: collected (the probe union), then joined
    val probes = Materialize.local(
      probeSet(centroids, queries, queryId, queryVec, nprobe))
    val corpus = readProbedCells(queries.sparkSession, assignedPath,
      probeUnion(probes))
    // probes always select by FLOAT-vector cosine against the centroids;
    // the candidate scan scores with `metric` over `queryScoreVec` (or
    // the probe vector) vs the stored corpus column — the seam that lets
    // a quantize8-coded corpus ride the same pruned index (QDot scan,
    // quarter the bytes; float vectors only for re-rank)
    val scored = corpus
      .join(broadcast(probes), Seq("centroid_id"))
      .select(
        col(queryId).as("query_id"),
        col(corpusId).as("neighbor_id"),
        metric(col(queryScoreVec.getOrElse(queryVec)), col(corpusVec)).as(scoreName)
      )
      .filter(col("query_id") =!= col("neighbor_id"))
    topKPerQuery(scored, scoreName, k)
  }

  /** LSH-bucketed ANN top-k (cosine): corpus vectors bucket by
    * sign-random-projection (ONE narrow native pass — at scale the bucket
    * id is persisted with the data, like the IVF assignment); each query
    * probes its own bucket, plus every single-bit-flip neighbor bucket
    * when `multiProbe` is set (standard multi-probe LSH: the flipped
    * buckets are exactly the ones a near-neighbor most likely landed in,
    * so recall rises without adding hash tables). Candidates get exact
    * cosine; the reduction is the same k-bounded two-stage `graft_topk`
    * as brute force — the exchange carries ≤ k rows per query per
    * partition, never the scored candidates.
    *
    * Scan fraction ≈ (1 + multiProbe·bits)/2^bits of the corpus per
    * query; like every single-table LSH, recall is probabilistic for
    * genuinely-near (not identical) vectors — raise `multiProbe` or
    * lower `bits` to trade scan for recall. Identical vectors are ALWAYS
    * found (identical bucket).
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      bits: Int = 12,
      seed: Int = 42,
      multiProbe: Boolean = true
  ): DataFrame = {
    val bucketed = corpus.withColumn("_bk", srpBucket(col(corpusVec), bits, seed))
    val qb = queries.withColumn("_qb", srpBucket(col(queryVec), bits, seed))
    val probeSet =
      if (!multiProbe) array(col("_qb"))
      else array((col("_qb") +: (0 until bits).map(p =>
        col("_qb").bitwiseXOR(lit(1L << p)))): _*)
    val probes = qb.select(
      col(queryId), col(queryVec),
      explode(probeSet).as("_bk"))
    val scored = bucketed
      .join(broadcast(probes), Seq("_bk"))
      .select(
        col(queryId).as("query_id"),
        col(corpusId).as("neighbor_id"),
        cosine(col(queryVec), col(corpusVec)).as("cosine"))
      .filter(col("query_id") =!= col("neighbor_id"))
    topKPerQuery(scored, "cosine", k)
  }

  /** Lloyd refinement of seeded centroids (k-means iterations): assign
    * (narrow native NearestCentroid pass) → recompute each centroid as
    * its cluster's element-wise mean → repeat. Each iteration is one
    * corpus pass: assignment adds NO shuffle; the mean is a
    * (centroid_id, dim_index) hash aggregate over posexploded elements —
    * the shuffle carries (cid, i, partial sum/count), never vectors.
    * Empty clusters keep their previous centroid (the standard fix).
    * Centroid ids are preserved, so probe routing stays stable across
    * refinements.
    */
  def refineCentroids(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: DataFrame,
      iterations: Int = 3,
      metric: CentroidMetric = CentroidMetric.Cosine
  ): DataFrame = {
    val elemType = corpus.schema(corpusVec).dataType
      .asInstanceOf[ArrayType].elementType
    var cents = centroids
    for (_ <- 0 until iterations) {
      val assigned = assignToCentroids(corpus, corpusId, corpusVec, cents, metric)
      val means = assigned
        .select(col("centroid_id"), posexplode(col(corpusVec)).as(Seq("i", "x")))
        .groupBy(col("centroid_id"), col("i"))
        .agg(avg(col("x").cast(DoubleType)).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("ims"))
        .select(col("centroid_id"),
          transform(col("ims"), e => e.getField("m").cast(elemType))
            .as("centroid_vec"))
      // empty clusters: keep the old centroid (left join, coalesce).
      // The next iteration both collects and joins these C rows;
      // materializing keeps the plan from nesting per iteration
      cents = Materialize.local(
        cents.select(col("centroid_id"), col("centroid_vec").as("_old"))
          .join(means, Seq("centroid_id"), "left")
          .select(col("centroid_id"),
            coalesce(col("centroid_vec"), col("_old")).as("centroid_vec")))
    }
    cents
  }

  /** One EXACT k-means (Lloyd) assignment-and-sum step in fixed-point
    * integer arithmetic — the hash-verifiable twin of
    * [[refineCentroids]] (whose double `avg` is order-dependent across
    * partitions, so its centroid VALUES can never be bit-compared by
    * an external engine). Components quantize to e6 fixed point via
    * `floor(x·10⁶)` — floor, not round: the product is ONE IEEE double
    * op identical in any engine, and floor is unambiguous where
    * round's half-even/half-up split is the classic cross-engine trap.
    * Distances are exact `Σ(a−c)²` BIGINTs, argmin ties break to the
    * smallest centroid id, and the refreshed centroid leaves as
    * per-position integer sums + cluster sizes `(centroid_id, pos,
    * sum_e6, n_assigned)` — the caller divides (or feeds the sums into
    * the next iteration), keeping every compared value integral.
    *
    * Scale shape: centroids broadcast (C is driver metadata), the
    * assignment pass is narrow, and the shuffle carries (cid, pos,
    * partial sum) histogram rows — map-side combined, never vectors.
    * Overflow headroom: |x| ≤ 10⁶·max|v|, so Σ(a−c)² fits BIGINT to
    * ~10⁴ dimensions at unit-scale embeddings.
    */
  def kmeansIterationExact(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: DataFrame // columns: centroid_id, centroid_vec
  ): DataFrame =
    kmeansStepE6(corpus, corpusId, corpusVec,
      centroids.select(col("centroid_id").cast(LongType).as("_cid"),
        toE6(col("centroid_vec")).as("_c")))

  /** [[kmeansIterationExact]] against centroids ALREADY in e6 integer
    * space — the shape [[kmeansCentroidsFromSums]] emits, so
    * iterations chain without ever leaving exact arithmetic:
    * `step1 = kmeansIterationExact(corpus, seeds)`,
    * `step2 = kmeansIterationExactE6(corpus, kmeansCentroidsFromSums(step1))`.
    */
  def kmeansIterationExactE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame // columns: centroid_id, centroid_e6: array<long>
  ): DataFrame =
    kmeansStepE6(corpus, corpusId, corpusVec,
      centroidsE6.select(col("centroid_id").cast(LongType).as("_cid"),
        col("centroid_e6").as("_c")))

  /** Integer e6 centroids from a [[kmeansIterationExact]] sums table:
    * per-position mean = `sum_e6 div n_assigned` — integer division
    * truncating toward zero, which Spark's `div` and DuckDB's `//`
    * agree on for NEGATIVE sums too (both truncate; a floor-division
    * engine would diverge on negative components, so the direction is
    * part of the operator contract). Output `(centroid_id,
    * centroid_e6: array<long>)`, positions sorted.
    */
  def kmeansCentroidsFromSums(sums: DataFrame): DataFrame =
    sums
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("pos"),
        expr("CAST(sum_e6 div n_assigned AS BIGINT)").as("m")))).as("_ims"))
      .select(col("centroid_id"),
        transform(col("_ims"), e => e.getField("m")).as("centroid_e6"))

  private def toE6(c: Column): Column = transform(c,
    v => floor(v.cast(DoubleType) * 1000000d).cast(LongType))

  private def kmeansStepE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      cents0: DataFrame // (_cid, _c: array<long>)
  ): DataFrame = {
    // Centroid matrix to the driver (metadata-sized — the
    // NearestCentroid convention the float path already uses), folded
    // into ONE narrow per-row argmin expression: exact BIGINT squared-L2
    // per centroid, ties to the smallest centroid id — bit-identical to
    // the old crossJoin+min_by(struct(dist,cid)) rule, but the corpus
    // rows never exchange before the (cid, pos) histogram aggregate
    // (round-9 verdict #4: the groupBy(_id) re-shuffled every corpus
    // vector once per Lloyd iteration).
    val centRows = cents0.collect()
    require(centRows.nonEmpty, "kmeansStepE6: empty centroid set")
    val sorted = centRows.map { r =>
      (r.getLong(0), r.getSeq[Long](1)) }.sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim),
      s"kmeansStepE6: centroid dims differ, expected $dim")
    val ids = sorted.map(_._1).toSeq
    val matrix = sorted.flatMap(_._2).toSeq
    val corp = corpus.select(col(corpusId).as("_id"),
      toE6(col(corpusVec)).as("_a"))
    corp
      .select(ColumnBridge.column(NearestCentroidE6(
          ColumnBridge.expression(col("_a")), ids, matrix, dim)).as("_cid"),
        col("_a"))
      .filter(col("_cid").isNotNull) // malformed vectors get no assignment
      .select(col("_cid"), posexplode(col("_a")).as(Seq("pos", "x")))
      .groupBy(col("_cid"), col("pos"))
      .agg(sum(col("x")).as("sum_e6"), count(lit(1)).as("n_assigned"))
      .select(col("_cid").as("centroid_id"),
        col("pos").cast(IntegerType).as("pos"),
        col("sum_e6"), col("n_assigned"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the standard IVF companion at 100 TB
  // (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  // Search"): vectors split into m subspaces, each subspace quantized
  // to a small codebook trained by k-means, every vector stored as m
  // 1-byte codes; queries scan codes with a per-query distance lookup
  // table (ADC) instead of touching raw vectors. All trained and
  // served here in e6 integer space so every step is exact BIGINT and
  // oracle-replayable — the kmeansStepE6 discipline applied per
  // subspace.
  // ------------------------------------------------------------------

  /** One exact k-means training step per PQ subspace, from whole-vector
    * seeds: vectors e6-floor-quantized, split into `m` equal slices,
    * each slice assigned to its subspace's nearest seed slice (exact
    * BIGINT squared-L2, ties to the smallest centroid id) — all `m`
    * assignments in ONE narrow projection (one [[graft.plans.NearestCentroidE6]]
    * per subspace over the slice), so the only exchange is the
    * (sub_id, centroid_id, pos) histogram aggregate, carrying scalar
    * sums. Output: `(sub_id INT, centroid_id BIGINT, pos INT,
    * sum_e6 BIGINT, n_assigned BIGINT)` with `pos` the WITHIN-subspace
    * position — [[pqCodebooksFromSums]] closes the loop.
    *
    * Training at corpus scale runs on a sample (codebooks are model
    * artifacts); encode ([[pqEncodeE6]]) is the full-corpus pass.
    */
  def pqTrainSumsE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      seeds: DataFrame, // (centroid_id, centroid_vec) — whole vectors
      m: Int
  ): DataFrame = {
    val (subdim, subCents) = collectSubspaceCentroids(
      seeds.select(col("centroid_id").cast(LongType).as("_cid"),
        toE6(col("centroid_vec")).as("_c")), m)
    val dim = subdim * m
    val corp = corpus.select(toE6(col(corpusVec)).as("_a"))
      .filter(size(col("_a")) === dim)
    pqTrainSumsCore(corp, m, subdim, subCents)
  }

  /** Shared body of [[pqTrainSumsE6]] / [[pqTrainSumsResidualE6]]: the
    * subspace-argmin + per-position sums histogram over an already-e6
    * `_a` column.
    */
  private def pqTrainSumsCore(
      corpE6: DataFrame, // one column `_a`: array<BIGINT>, length m·subdim
      m: Int,
      subdim: Int,
      subCents: IndexedSeq[(Seq[Long], Seq[Long])]
  ): DataFrame = {
    val codes = array((0 until m).map { j =>
      val (ids, mat) = subCents(j)
      ColumnBridge.column(NearestCentroidE6(
        ColumnBridge.expression(slice(col("_a"), j * subdim + 1, subdim)),
        ids, mat, subdim))
    }: _*)
    corpE6.select(codes.as("_codes"), posexplode(col("_a")).as(Seq("_p", "x")))
      .select(
        expr(s"CAST(_p div $subdim AS INT)").as("sub_id"),
        element_at(col("_codes"), expr(s"CAST(_p div $subdim AS INT)") + 1)
          .as("centroid_id"),
        (col("_p") % subdim).cast(IntegerType).as("pos"),
        col("x"))
      .groupBy(col("sub_id"), col("centroid_id"), col("pos"))
      .agg(sum(col("x")).as("sum_e6"), count(lit(1)).as("n_assigned"))
  }

  /** Integer e6 codebooks from a [[pqTrainSumsE6]] sums table —
    * per-position mean by `div` (trunc-toward-zero, the engine-agreed
    * direction [[kmeansCentroidsFromSums]] pins). Output:
    * `(sub_id INT, code_id BIGINT, centroid_e6 array<BIGINT>)`.
    */
  def pqCodebooksFromSums(sums: DataFrame): DataFrame =
    sums
      .groupBy(col("sub_id"), col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("pos"),
        expr("CAST(sum_e6 div n_assigned AS BIGINT)").as("m")))).as("_ims"))
      .select(col("sub_id"), col("centroid_id").as("code_id"),
        transform(col("_ims"), e => e.getField("m")).as("centroid_e6"))

  /** PQ encode: every corpus vector → `m` codebook codes, as ONE narrow
    * per-row projection (a [[graft.plans.NearestCentroidE6]] argmin per
    * subspace, codebooks folded into the expressions driver-side) —
    * zero joins, zero shuffles; at 100 TB this is the single map pass
    * that turns a d×4-byte vector into m bytes. Output: `(<id>, codes
    * array<BIGINT>)` with `codes(j)` the subspace-j code id; malformed
    * vectors (wrong length) are dropped.
    */
  def pqEncodeE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      codebooks: DataFrame // (sub_id, code_id, centroid_e6)
  ): DataFrame = {
    val (m, subdim, subCents) = collectCodebooks(codebooks)
    val corp = corpus.select(col(corpusId), toE6(col(corpusVec)).as("_a"))
      .filter(size(col("_a")) === m * subdim)
    val codes = array((0 until m).map { j =>
      val (ids, mat) = subCents(j)
      ColumnBridge.column(NearestCentroidE6(
        ColumnBridge.expression(slice(col("_a"), j * subdim + 1, subdim)),
        ids, mat, subdim))
    }: _*)
    corp.select(col(corpusId), codes.as("codes"))
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: per
    * query, the exact e6 squared-L2 distance from each query SLICE to
    * each codebook centroid is precomputed driver-side into a lookup
    * table (m maps of code_id → BIGINT distance — queries and
    * codebooks are both metadata-sized), and the scan scores each
    * corpus row as `Σ_j lut(j)(codes(j))` — m map probes per row, no
    * vector arithmetic, no corpus shuffle — then reduces through the
    * k-bounded [[topKPerQuery]] heap. Approximation error vs the exact
    * scan is the quantization residual, measured by [[ivfRecallExactE6]]
    * on the same corpus. Ties break to the smallest neighbor id;
    * self-matches are excluded. Output: `(query_id, neighbor_id,
    * adist BIGINT, rank INT)`.
    */
  def pqAdcTopKE6(
      codes: DataFrame, // (<id>, codes array<BIGINT>) from pqEncodeE6
      codesId: String,
      codesCol: String,
      codebooks: DataFrame,
      queries: DataFrame, // (<qid>, <qvec: array<float/double>>)
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    val (m, subdim, subCents) = collectCodebooks(codebooks)
    val spark = codes.sparkSession
    import spark.implicits._
    val luts = adcLutsFor(collectQueriesE6(queries, queryId, queryVec),
      m, subdim, subCents)
    val lutDf = luts.toDF("query_id", "_lut")
    val scored = codes.crossJoin(broadcast(lutDf))
      .filter(col("query_id") =!= col(codesId))
      .select(col("query_id"), col(codesId).as("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, j) =>
          acc + element_at(element_at(col("_lut"), j.cast(IntegerType) + 1),
            element_at(col(codesCol), j.cast(IntegerType) + 1)))
          .as("_negless"))
    topKPerQuery(scored.select(col("query_id"), col("neighbor_id"),
        (-col("_negless")).as("_nd")), "_nd", k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("_nd")).as("adist"), col("rank"))
  }

  /** Collect an eval-sized query frame to `(qid, e6 vector)` pairs —
    * the one collect the ADC/IVF-PQ query paths share (queries are the
    * evaluation sample by contract, never the corpus).
    */
  private def collectQueriesE6(
      queries: DataFrame, queryId: String, queryVec: String): Seq[(Long, Seq[Long])] =
    queries.select(col(queryId).cast(LongType), col(queryVec)).collect()
      .toSeq.map(r => (r.getLong(0), r.getSeq[Any](1).map(e6Of)))

  /** Per-query ADC lookup tables: m maps of code_id → exact BIGINT
    * squared-L2 from the query's j-th slice to that codebook centroid.
    * Driver arithmetic by design — queries and codebooks are both
    * metadata-sized.
    */
  private def adcLutsFor(
      qrows: Seq[(Long, Seq[Long])],
      m: Int,
      subdim: Int,
      subCents: IndexedSeq[(Seq[Long], Seq[Long])]): Seq[(Long, Seq[Map[Long, Long]])] =
    qrows.map { case (qid, q) => (qid, adcLutOne(qid, q, m, subdim, subCents)) }

  /** One query vector's ADC LUT — the single-vector core of
    * [[adcLutsFor]], also called per probed cell for residual queries.
    */
  private def adcLutOne(
      qid: Long,
      q: Seq[Long],
      m: Int,
      subdim: Int,
      subCents: IndexedSeq[(Seq[Long], Seq[Long])]): Seq[Map[Long, Long]] = {
    require(q.length == m * subdim,
      s"adc: query $qid has dim ${q.length}, codebooks expect ${m * subdim}")
    (0 until m).map { j =>
      val (ids, mat) = subCents(j)
      ids.zipWithIndex.map { case (cid, c) =>
        var acc = 0L
        var p = 0
        while (p < subdim) {
          val d = q(j * subdim + p) - mat(c * subdim + p)
          acc += d * d
          p += 1
        }
        cid -> acc
      }.toMap
    }
  }

  /** A collected e6 cell table: ids ascending (the argmin tie order),
    * the row-major matrix and the dimension, with the two narrow
    * codegen'd assignments over it.
    */
  private case class E6Cells(ids: Seq[Long], matrix: Seq[Long], dim: Int) {
    /** The nearest cell ([[graft.plans.NearestCentroidE6]]). */
    def home(v: Column): Column = ColumnBridge.column(
      NearestCentroidE6(ColumnBridge.expression(v), ids, matrix, dim))
    /** The `nprobe` nearest cells, nearest first
      * ([[graft.plans.NearestCentroidsE6]]; element 0 is [[home]]).
      */
    def probes(v: Column, nprobe: Int): Column = ColumnBridge.column(
      NearestCentroidsE6(ColumnBridge.expression(v), ids, matrix, dim, nprobe))
  }

  /** Collect whole-vector e6 centroids `(centroid_id, centroid_e6)` —
    * the coarse-cell twin of [[collectCodebooks]].
    */
  private def collectE6Whole(centroidsE6: DataFrame): E6Cells = {
    val rows = centroidsE6
      .select(col("centroid_id").cast(LongType), col("centroid_e6"))
      .collect()
    require(rows.nonEmpty, "ivfpq: empty coarse centroid set")
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim), "ivfpq: coarse centroid dims differ")
    E6Cells(sorted.map(_._1).toSeq, sorted.flatMap(_._2).toSeq, dim)
  }

  /** e6 floor quantization of one numeric element — the scalar twin of
    * [[toE6]], used when query vectors are collected driver-side.
    */
  private def e6Of(v: Any): Long = v match {
    case f: Float => math.floor(f.toDouble * 1000000d).toLong
    case d: Double => math.floor(d * 1000000d).toLong
    case l: Long => l * 1000000L
    case i: Int => i.toLong * 1000000L
    case other => throw new IllegalArgumentException(
      s"pq: unsupported vector element $other")
  }

  /** Split collected whole-vector centroids into per-subspace (ids,
    * flat matrix) pairs; ids sorted ascending (the argmin tie order).
    */
  private def collectSubspaceCentroids(
      cents: DataFrame, m: Int): (Int, IndexedSeq[(Seq[Long], Seq[Long])]) = {
    val rows = cents.collect()
    require(rows.nonEmpty, "pq: empty seed set")
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim), "pq: seed dims differ")
    require(m > 0 && dim % m == 0,
      s"pq: dim $dim not divisible into $m subspaces")
    val subdim = dim / m
    val per = (0 until m).map { j =>
      (sorted.map(_._1).toSeq,
        sorted.flatMap(_._2.slice(j * subdim, (j + 1) * subdim)).toSeq)
    }
    (subdim, per)
  }

  /** Collect a codebooks table into per-subspace (ids, flat matrix)
    * pairs; validates contiguous sub_ids and uniform dims.
    */
  private def collectCodebooks(
      codebooks: DataFrame): (Int, Int, IndexedSeq[(Seq[Long], Seq[Long])]) = {
    val rows = codebooks
      .select(col("sub_id").cast(IntegerType), col("code_id").cast(LongType),
        col("centroid_e6"))
      .collect()
    require(rows.nonEmpty, "pq: empty codebooks")
    val bySub = rows.map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    val m = bySub.size
    require((0 until m).forall(bySub.contains),
      s"pq: sub_ids not contiguous 0..${m - 1}: ${bySub.keys.toSeq.sorted}")
    val subdim = bySub(0).head._3.length
    val per = (0 until m).map { j =>
      val cs = bySub(j).sortBy(_._2)
      require(cs.forall(_._3.length == subdim), "pq: codebook dims differ")
      (cs.map(_._2).toSeq, cs.flatMap(_._3).toSeq)
    }
    (m, subdim, per)
  }

  /** Recall@k of a 1-probe IVF scan against the exact neighbor set —
    * the index-quality EVALUATION an ANN deployment runs before
    * trusting a pruned index, kept ENTIRELY in e6 integer space
    * (vectors floor-scaled ×10⁶, squared-L2 distances as exact BIGINT)
    * so the approximate side is engine-reproducible: assignment,
    * probing, candidate ranking, and the exhaustive reference all use
    * the same integer arithmetic with (distance, id) total tie-breaks.
    * With nprobe = 1 the scan is genuinely approximate — recall < 1
    * when a true neighbor lives across a centroid boundary — and the
    * measured loss is a deterministic property of (corpus, centroids,
    * queries), not of a run.
    *
    * Output: `(query_id, n_hits BIGINT, k BIGINT, recall_ppm BIGINT)`
    * — `n_hits` = |approx ∩ exact| top-k sets, `recall_ppm` =
    * n_hits·10⁶ div k (exact integer; no doubles in the surface).
    *
    * Scale shape: the centroid matrix rides the plan (the assignment is
    * [[graft.plans.NearestCentroidE6]], a per-row argmin with ties to
    * the smaller id — the corpus never shuffles for it); queries are
    * eval-sized and broadcast to both the bucket join and the
    * exhaustive scan; per-query sets reduce through the
    * k-bounded heap. The exhaustive reference is one full corpus scan
    * per evaluation — the cost of measuring recall at all; run it on
    * a query SAMPLE, which is what the queries frame is.
    */
  def ivfRecallExactE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame, // (centroid_id, centroid_e6: array<long>)
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame =
    ivfRecallPerQuery(corpus, corpusId, corpusVec, centroidsE6,
      queries, queryId, queryVec, k).drop("_qcid")

  /** [[ivfRecallExactE6]]'s rows plus `_qcid`, the query's own cell —
    * the assignment [[ivfRecallByBucketE6]] groups by.
    */
  private def ivfRecallPerQuery(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"ivfRecallExactE6: k must be positive, got $k")
    // each side's home cell: one narrow projection (ties to the smaller
    // cell id; a wrong-length or null-element vector has no cell)
    val cells = collectE6Whole(centroidsE6)
    val points = corpus.select(col(corpusId).as("neighbor_id"),
        toE6(col(corpusVec)).as("_a"))
      .withColumn("_cell", cells.home(col("_a")))
    val qAssigned = queries.select(col(queryId).as("query_id"),
        toE6(col(queryVec)).as("_qa"))
      .withColumn("_cell", cells.home(col("_qa")))
    val approx = nearestE6(cellPairs(broadcast(qAssigned), points, "_cell"), k)
      .select(col("query_id"), col("neighbor_id"))
    val exact = nearestE6(allPairs(broadcast(qAssigned), points), k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).cast(LongType).as("_h"))
    qAssigned.select(col("query_id"), col("_cell").as("_qcid"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_h"), lit(0L)).as("n_hits"),
        lit(k.toLong).as("k"),
        expr(s"CAST(coalesce(_h, 0) * 1000000 div $k AS BIGINT)")
          .as("recall_ppm"),
        col("_qcid"))
  }

  /** Exact-integer IVF top-k SERVING in e6 space — the query path for
    * corpora whose vectors already live as e6-scaled BIGINT arrays
    * (trained [[graft.operators.Graph.sgnsEpochs]] embeddings are born
    * in this format): home-assign the corpus to its argmin cell
    * ([[graft.plans.NearestCentroidE6]], one narrow projection), probe
    * each query's `nprobe` nearest cells
    * ([[graft.plans.NearestCentroidsE6]], one narrow projection — never
    * a rows × C window shuffle), score candidates by exact BIGINT
    * squared-L2 within the probed cells, and reduce through the
    * k-bounded heap. Output `(query_id, neighbor_id, dist_e12, rank)`
    * — every value integer, engine-replayable. Self-matches drop (a
    * query that IS a corpus member does not retrieve itself).
    *
    * Both vector columns MUST be ARRAY<BIGINT> in e6 scale already —
    * this operator never re-quantizes (the float-corpus entry points
    * are the mutualKnn and recall ops, which floor-quantize
    * internally); feeding raw floats fails the expression's type check
    * loudly. Ids cast to BIGINT (the mutualKnn family's id contract).
    *
    * Scale shape: corpus never exchanges before the candidate join
    * (assignment and probing are projections); the join moves each
    * corpus row once per probing query-cell; the hot-cell tripwire
    * refuses occupancy² blowups BEFORE pairs emit (the
    * [[mutualKnnEdgesProbedE6]] guard, riding the join's own hash
    * distribution). At 100 TB, persist the assignment partitioned by
    * cell ([[writeAssigned]]) and the probe set becomes a partition
    * filter — [[ivfTopKPartitioned]]'s layout argument applies
    * verbatim.
    */
  def ivfTopKExactE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String, // ARRAY<BIGINT>, e6-scaled
      centroidsE6: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,  // ARRAY<BIGINT>, e6-scaled
      k: Int,
      nprobe: Int,
      maxCellSize: Long = 100000L
  ): DataFrame = {
    require(k > 0, s"ivfTopKExactE6: k must be positive, got $k")
    require(nprobe > 0, s"ivfTopKExactE6: nprobe must be positive, got $nprobe")
    require(maxCellSize >= 2,
      s"ivfTopKExactE6: maxCellSize must be >= 2, got $maxCellSize")
    val cells = collectE6Whole(centroidsE6)
    val home = occupancyTripwire(corpus
        .select(col(corpusId).cast(LongType).as("neighbor_id"),
          col(corpusVec).as("_a"))
        .filter(size(col("_a")) === cells.dim)
        .withColumn("_cell", cells.home(col("_a")))
        .filter(col("_cell").isNotNull),
      "_cell", maxCellSize, "ivfTopKExactE6",
      "the candidate join is nprobe × occupancy pairs per query against " +
        "that cell's list")
    val probes = probeRows(queries.select(
      col(queryId).cast(LongType).as("query_id"), col(queryVec).as("_qa")),
      cells, nprobe, "_cell")
    nearestE6(cellPairs(probes, home, "_cell"), k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0L) - col("_negd")).as("dist_e12"), col("rank"))
  }

  /** Persist an e6 corpus home-assigned and PARTITIONED by its coarse
    * cell — the physical layout that makes [[ivfTopKExactE6]]'s probe
    * restriction REAL at 100 TB (the [[writeAssigned]] argument applied
    * to the exact-integer family): a query that probes `nprobe` of `C`
    * cells should list (and read) only nprobe/C of the files, which
    * only the directory layout can deliver. One narrow pass — the
    * assignment is the codegen'd [[graft.plans.NearestCentroidE6]]
    * projection, and `partitionBy` on the computed column writes each
    * input split's rows to its cell directories directly. The same
    * hot-cell occupancy tripwire as the in-memory path runs at WRITE
    * time (the one moment the whole cell passes through one place).
    * Null/malformed vectors drop (no defined cell).
    */
  def writeAssignedE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String, // ARRAY<BIGINT>, e6-scaled
      centroidsE6: DataFrame,
      path: String,
      maxCellSize: Long = 100000L
  ): Unit = {
    require(maxCellSize >= 2,
      s"writeAssignedE6: maxCellSize must be >= 2, got $maxCellSize")
    val cells = collectE6Whole(centroidsE6)
    occupancyTripwire(corpus.select(col(corpusId), col(corpusVec))
        .filter(size(col(corpusVec)) === cells.dim)
        .withColumn("centroid_id", cells.home(col(corpusVec)))
        .filter(col("centroid_id").isNotNull),
      "centroid_id", maxCellSize, "writeAssignedE6",
      "every probe of that cell scans its whole list")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
  }

  /** [[ivfTopKExactE6]] over a [[writeAssignedE6]] layout: per-query
    * probe sets come from the same narrow
    * [[graft.plans.NearestCentroidsE6]] projection on the QUERY side,
    * their union collects driver-side (≤ |queries| × nprobe ids —
    * metadata-sized by the query contract, the [[ivfTopKPartitioned]]
    * convention) into a literal IN on the partition column, so pruning
    * is PHYSICAL: unprobed cell directories are never listed, let
    * alone read (`PartitionFilters`, plan-spec-pinned). Within the
    * scanned cells the per-query restriction re-applies through the
    * broadcast probe join, and scoring/reduction are the in-memory
    * operator's exact L2 + k-bounded heap verbatim — same output,
    * nprobe/C of the I/O.
    */
  def ivfTopKExactE6Partitioned(
      assignedPath: String,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String, // ARRAY<BIGINT>, e6-scaled
      k: Int,
      nprobe: Int
  ): DataFrame = {
    require(k > 0, s"ivfTopKExactE6Partitioned: k must be positive, got $k")
    require(nprobe > 0,
      s"ivfTopKExactE6Partitioned: nprobe must be positive, got $nprobe")
    val cells = collectE6Whole(centroidsE6)
    // read twice: collected (the probe union), then joined
    val probes = Materialize.local(probeRows(queries.select(
      col(queryId).cast(LongType).as("query_id"), col(queryVec).as("_qa")),
      cells, nprobe, "centroid_id"))
    val home = readProbedCells(queries.sparkSession, assignedPath,
        probeUnion(probes))
      .select(col("centroid_id"),
        col(corpusId).cast(LongType).as("neighbor_id"), col(corpusVec).as("_a"))
    nearestE6(cellPairs(broadcast(probes), home, "centroid_id"), k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0L) - col("_negd")).as("dist_e12"), col("rank"))
  }

  /** [[ivfRecallExactE6]] STRATIFIED by the query's assigned coarse
    * bucket — the index-quality breakdown that tells you WHERE a
    * 1-probe IVF loses recall (a bucket whose centroid sits near a
    * cluster boundary bleeds neighbors into its siblings; the global
    * average hides it). Output: `(centroid_id, n_queries, total_hits,
    * k, recall_ppm)` with `recall_ppm = total_hits·10⁶ div
    * (n_queries·k)` — exact integers over the per-query recall rows.
    *
    * Scale shape: the per-query recall machinery is unchanged
    * (query-sample-sized) and already assigns each query its cell; the
    * stratification adds only a ≤C-row aggregate — no new corpus work.
    */
  def ivfRecallByBucketE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame =
    ivfRecallPerQuery(corpus, corpusId, corpusVec, centroidsE6,
        queries, queryId, queryVec, k)
      .groupBy(col("_qcid"))
      .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("total_hits"))
      .select(col("_qcid").as("centroid_id"),
        col("n_queries"), col("total_hits"), lit(k.toLong).as("k"),
        expr(s"CAST(total_hits * 1000000 div (n_queries * $k) AS BIGINT)")
          .as("recall_ppm"))

  /** End-to-end IVF index build: seed `c` centroids deterministically,
    * refine with `iterations` Lloyd passes, assign the corpus, persist
    * it partitioned by `centroid_id` at `path` (the [[writeAssigned]]
    * layout [[ivfTopKPartitioned]] probes), and return the centroids —
    * the one artifact the query side still needs. Cost: `iterations + 1`
    * corpus passes (each narrow) + one partitioned write; at 100 TB this
    * is the offline "build index" job you run once per corpus version,
    * after which every query reads nprobe/C of the files.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      c: Int,
      iterations: Int,
      path: String,
      metric: CentroidMetric = CentroidMetric.Cosine
  ): DataFrame = {
    val cents = refineCentroids(corpus, corpusId, corpusVec,
      seedCentroids(corpus, corpusId, corpusVec, c), iterations, metric)
    writeAssigned(assignToCentroids(corpus, corpusId, corpusVec, cents, metric), path)
    cents
  }

  /** Offline IVF-PQ index build — the composed 100 TB ANN shape
    * (Jégou et al. 2011: coarse inverted lists × product-quantized
    * residual-free codes): ONE narrow corpus pass computes the m
    * subspace argmins (the PQ codes, m bytes of payload per vector)
    * PLUS the full-dimension coarse argmin (the IVF cell), both as
    * broadcast-matrix [[graft.plans.NearestCentroidE6]] projections —
    * no join, no shuffle except the partitioned write's own — and
    * persists `(<id>, codes, centroid_id)` partitioned by
    * `centroid_id`. The corpus vectors themselves are NOT stored: the
    * index is m codes + one cell id per row, which is what makes a
    * 100 TB float corpus servable from a few TB of codes.
    *
    * Exactness contract: e6 floor quantization, BIGINT squared-L2,
    * (dist, id) argmin ties — identical to [[pqEncodeE6]] and the
    * k-means family, so an engine replay reproduces every code and
    * cell bit-for-bit. Wrong-length vectors drop (the pqEncode rule).
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame, // (centroid_id, centroid_e6) coarse cells
      codebooks: DataFrame,   // (sub_id, code_id, centroid_e6)
      path: String,
      residual: Boolean = false // classic IVFADC: see [[ivfPqEncode]]
  ): Unit =
    ivfPqEncode(corpus, corpusId, corpusVec, centroidsE6, codebooks, residual)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** The [[buildIvfPqIndex]] projection without the write — ONE narrow
    * pass from `(<id>, vector)` to `(<id>, codes, centroid_id)`; the
    * seam the STREAMING index maintenance shares (each batch encodes
    * its own rows against the frozen artifacts and appends).
    *
    * `residual = true` is classic IVFADC (Jégou et al. 2011 §III):
    * codes quantize `x − coarse_centroid(x)` instead of `x` — the
    * residual distribution concentrates near zero across cells, so the
    * same m bytes carry more precision (measurably higher recall at
    * identical (m, nprobe); [[ivfPqRecallE6]] quantifies it). The cost
    * is one broadcast join against the metadata-sized centroid table
    * and an elementwise subtract — the pass stays narrow and
    * shuffle-free. Codebooks MUST then be residual-space
    * ([[pqTrainSumsResidualE6]]), and the query side must build its
    * LUTs per probed cell ([[ivfPqTopKE6]]'s matching flag).
    */
  def ivfPqEncode(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame,
      codebooks: DataFrame,
      residual: Boolean = false
  ): DataFrame = {
    val (m, subdim, subCents) = collectCodebooks(codebooks)
    val cells = collectE6Whole(centroidsE6)
    require(cells.dim == m * subdim,
      s"ivfPqEncode: coarse dim ${cells.dim} != codebook dim ${m * subdim}")
    val corp = corpus.select(col(corpusId), toE6(col(corpusVec)).as("_a"))
      .filter(size(col("_a")) === cells.dim)
    val cell = cells.home(col("_a"))
    val base =
      if (!residual) corp.withColumn("_cell", cell)
      else corp.withColumn("_cell", cell)
        .join(broadcast(centroidsE6.select(
          col("centroid_id").cast(LongType).as("_cell"),
          col("centroid_e6").as("_cv"))), Seq("_cell"))
        .withColumn("_a", zip_with(col("_a"), col("_cv"), (a, c) => a - c))
    val codes = array((0 until m).map { j =>
      val (ids, mat) = subCents(j)
      ColumnBridge.column(NearestCentroidE6(
        ColumnBridge.expression(slice(col("_a"), j * subdim + 1, subdim)),
        ids, mat, subdim))
    }: _*)
    base.select(col(corpusId), codes.as("codes"), col("_cell").as("centroid_id"))
  }

  /** PQ training sums over the RESIDUAL space `x − coarse_centroid(x)`
    * — the codebook pass that pairs with `ivfPqEncode(residual = true)`.
    * Same contract as [[pqTrainSumsE6]] (one narrow corpus pass, the
    * only exchange the scalar-sums histogram; run on a sample at 100 TB)
    * except the seed table is E6 whole-vectors in residual space
    * (`(centroid_id, centroid_e6)` — e.g. a handful of residuals taken
    * from the corpus itself).
    */
  def pqTrainSumsResidualE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame,
      seedsE6: DataFrame, // (centroid_id, centroid_e6) residual-space
      m: Int
  ): DataFrame = {
    val (subdim, subCents) = collectSubspaceCentroids(
      seedsE6.select(col("centroid_id").cast(LongType).as("_cid"),
        col("centroid_e6").as("_c")), m)
    val res = ivfResidualsE6(corpus, corpusId, corpusVec, centroidsE6)
      .filter(size(col("residual_e6")) === subdim * m)
      .select(col("residual_e6").as("_a"))
    pqTrainSumsCore(res, m, subdim, subCents)
  }

  /** e6 residuals of every corpus vector against its assigned coarse
    * cell: `(<id>, residual_e6 array<BIGINT>, centroid_id)`. One narrow
    * pass — the coarse argmin is a broadcast-matrix projection and the
    * subtract rides a broadcast join against the metadata-sized
    * centroid table; wrong-length vectors drop (the pqEncode rule).
    */
  def ivfResidualsE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidsE6: DataFrame
  ): DataFrame = {
    val cells = collectE6Whole(centroidsE6)
    corpus.select(col(corpusId), toE6(col(corpusVec)).as("_a"))
      .filter(size(col("_a")) === cells.dim)
      .withColumn("_cell", cells.home(col("_a")))
      .join(broadcast(centroidsE6.select(
        col("centroid_id").cast(LongType).as("_cell"),
        col("centroid_e6").as("_cv"))), Seq("_cell"))
      .select(col(corpusId),
        zip_with(col("_a"), col("_cv"), (a, c) => a - c).as("residual_e6"),
        col("_cell").as("centroid_id"))
  }

  /** IVF-PQ top-k over a [[buildIvfPqIndex]] index: each query probes
    * its `nprobe` nearest coarse cells (exact e6 L2 against the
    * metadata-sized centroid matrix, driver-side — the
    * [[ivfTopKPartitioned]] probe convention) and ADC-scores ONLY the
    * probed partitions' codes. The probed cell ids become a literal IN
    * on the partition column, so pruning is physical — unprobed
    * directories are never listed (plan-spec'd like the IVF scan);
    * within the probed files the score is `Σ_j lut_j(code_j)` — m map
    * probes per row against the broadcast per-query LUT, no vector
    * arithmetic, no corpus shuffle — reduced through the k-bounded
    * [[topKPerQuery]] heap.
    *
    * This is the standard serving shape at 100 TB: scan cost =
    * (nprobe/C) × (m bytes/vector), both knobs explicit. Approximation
    * = coarse pruning (measure with [[ivfPqRecallE6]]) on top of the
    * PQ quantization residual ([[pqAdcTopKE6]]'s); both layers are
    * deterministic integer arithmetic, so the result is an exact
    * property of (corpus, centroids, codebooks, queries) — the oracle
    * replays it value-for-value. Ties break (adist, neighbor_id);
    * self-matches are excluded. Output: `(query_id, neighbor_id,
    * adist BIGINT, rank INT)`.
    */
  def ivfPqTopKE6(
      indexPath: String,
      codesId: String,
      centroidsE6: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      residual: Boolean = false
  ): DataFrame = {
    require(k > 0, s"ivfPqTopKE6: k must be positive, got $k")
    require(nprobe > 0, s"ivfPqTopKE6: nprobe must be positive, got $nprobe")
    val spark = queries.sparkSession
    import spark.implicits._
    val (m, subdim, subCents) = collectCodebooks(codebooks)
    val E6Cells(cids, cmat, cdim) = collectE6Whole(centroidsE6)
    require(cdim == m * subdim,
      s"ivfPqTopKE6: coarse dim $cdim != codebook dim ${m * subdim}")
    val qrows = collectQueriesE6(queries, queryId, queryVec)
    val luts = if (residual) Map.empty[Long, Seq[Map[Long, Long]]]
               else adcLutsFor(qrows, m, subdim, subCents).toMap
    val probes = qrows.flatMap { case (qid, q) =>
      require(q.length == cdim,
        s"ivfPqTopKE6: query $qid has dim ${q.length}, centroids expect $cdim")
      val ranked = cids.indices.map { c =>
        var acc = 0L
        var p = 0
        while (p < cdim) {
          val d = q(p) - cmat(c * cdim + p)
          acc += d * d
          p += 1
        }
        (acc, cids(c), c)
      }.sorted.take(nprobe)
      ranked.map { case (_, cid, cIdx) =>
        // residual codes: the LUT must measure the QUERY'S residual
        // against THIS probed cell — q − c_probe slice-distances to the
        // residual-space codebooks (IVFADC's per-cell LUT; still nprobe
        // × m metadata maps per query)
        val lut =
          if (residual) adcLutOne(qid,
            (0 until cdim).map(p => q(p) - cmat(cIdx * cdim + p)),
            m, subdim, subCents)
          else luts(qid)
        (qid, cid, lut)
      }
    }
    val probeDf = probes.toDF("query_id", "centroid_id", "_lut")
    val corpus = readProbedCells(spark, indexPath, probes.map(_._2).distinct.sorted)
    val scored = corpus
      .join(broadcast(probeDf), Seq("centroid_id"))
      .filter(col("query_id") =!= col(codesId))
      .select(col("query_id"), col(codesId).as("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, j) =>
          acc + element_at(element_at(col("_lut"), j.cast(IntegerType) + 1),
            element_at(col("codes"), j.cast(IntegerType) + 1)))
          .as("_negless"))
    topKPerQuery(scored.select(col("query_id"), col("neighbor_id"),
        (-col("_negless")).as("_nd")), "_nd", k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("_nd")).as("adist"), col("rank"))
  }

  /** Recall@k of the composed IVF-PQ index against the EXACT e6
    * neighbor sets — the eval a deployment runs before trusting both
    * approximation layers (coarse pruning × quantization) at once.
    * Per query: `n_hits` = |ivfpq top-k ∩ exact top-k|, `recall_ppm` =
    * n_hits·10⁶ div k. The exact reference is one full corpus scan per
    * evaluation over the query SAMPLE (the [[ivfRecallExactE6]]
    * cost-of-measuring contract); the approximate side reads only the
    * probed partitions. Output: `(query_id, n_hits BIGINT, k BIGINT,
    * recall_ppm BIGINT)`.
    */
  def ivfPqRecallE6(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      indexPath: String,
      centroidsE6: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      residual: Boolean = false
  ): DataFrame = {
    val approx = ivfPqTopKE6(indexPath, corpusId, centroidsE6, codebooks,
      queries, queryId, queryVec, k, nprobe, residual)
    val corp = corpus.select(col(corpusId).cast(LongType).as("neighbor_id"),
      toE6(col(corpusVec)).as("_a"))
    val qdf = queries.select(col(queryId).cast(LongType).as("query_id"),
      toE6(col(queryVec)).as("_qa"))
    val exact = nearestE6(allPairs(broadcast(qdf), corp), k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("_h"))
    qdf.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("_h"), lit(0L)))
      .select(col("query_id"), col("n_hits"), lit(k.toLong).as("k"),
        expr(s"CAST(n_hits * 1000000 div $k AS BIGINT)").as("recall_ppm"))
  }

  /** Deterministic centroid seeding without a kmeans dependency: take the
    * `c` corpus vectors with the smallest xxhash64(id) — uniform pseudo-
    * random, reproducible, one pass.
    */
  def seedCentroids(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      c: Int
  ): DataFrame =
    corpus
      .select(col(corpusId), col(corpusVec), xxhash64(col(corpusId)).as("_h"))
      .orderBy("_h")
      .limit(c)
      .select(
        col(corpusId).as("centroid_id"),
        col(corpusVec).as("centroid_vec")
      )

  /** MMR-diversified re-rank of a top-k candidate list (Carbonell &
    * Goldstein, SIGIR 1998): from `candidates(query_id, neighbor_id,
    * <scoreCol>, <vecCol>)` — a retrieval top-k joined back to its
    * vectors — greedily select `m` per query maximizing
    * `λ·score − (1−λ)·max sim to the already-selected`. Output:
    * `(query_id, neighbor_id, mmr, rank)` in selection order.
    *
    * Scale shape: candidates are k-bounded per query (they came from a
    * top-k), so the single groupBy shuffles at most k×(id, score, vec)
    * rows per query and the greedy O(m·k·dim) kernel
    * ([[graft.plans.MmrSelect]], codegen'd) runs once per QUERY row —
    * the corpus-scale work already happened upstream. The candidate
    * list is sorted ascending by id before selection so tie-breaks are
    * deterministic; arithmetic is fixed-order IEEE throughout, so the
    * driver gate's DuckDB oracle replays the exact selection by
    * unrolling the m greedy steps as CTEs.
    */
  def mmrRerank(
      candidates: DataFrame,
      m: Int,
      lambda: Double,
      useCosine: Boolean = false,
      scoreCol: String = "score",
      vecCol: String = "vec"
  ): DataFrame = {
    val packed = candidates
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("neighbor_id").cast(LongType).as("id"),
        col(scoreCol).cast(DoubleType).as("score"),
        col(vecCol).as("vec")))).as("_cand"))
    val selected = ColumnBridge.column(graft.plans.MmrSelect(
      ColumnBridge.expression(col("_cand")), m, lambda, useCosine))
    packed
      .select(col("query_id"), posexplode(selected).as(Seq("_pos", "_e")))
      .select(
        col("query_id"),
        col("_e.neighbor_id").as("neighbor_id"),
        col("_e.mmr").as("mmr"),
        (col("_pos") + 1).cast(IntegerType).as("rank"))
  }

  /** MUTUAL k-NN graph over an embedding column in exact e6 integer
    * space: directed edge (a → b) iff b is among a's k nearest by
    * squared L2 (ties to the smaller id), kept iff the REVERSE edge
    * also exists — the standard density-robust neighborhood graph
    * (mutuality strips the asymmetric spokes hub points collect, the
    * failure mode [[knnInDegreeE6]] diagnoses). The canonical output
    * `(id_a < id_b)` is the edge list an embedding-cluster dedup feeds
    * to [[graft.operators.Graph.labelPropagationMin]] /
    * [[graft.operators.Graph.connectedComponentsMin]] — the graph-first
    * sibling of SemDeDup's within-cell cosine pairs.
    *
    * Brute-force SAMPLE tier (n² scored pairs) with the
    * [[knnInDegreeE6]] refusal: past `maxPoints` it refuses loudly —
    * the scale path is [[mutualKnnEdgesProbedE6]] /
    * [[mutualKnnEdgesPartitionedE6]], the same kernel over cell
    * candidates.
    */
  def mutualKnnEdgesE6(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxPoints: Long = 20000L
  ): DataFrame = {
    require(k > 0, s"mutualKnnEdgesE6: k must be positive, got $k")
    require(maxPoints >= 2,
      s"mutualKnnEdgesE6: maxPoints must be >= 2, got $maxPoints")
    val p = points.select(col(idCol).cast(LongType).as("neighbor_id"),
      toE6(col(vecCol)).as("_a"))
    val q = p.select(col("neighbor_id").as("query_id"), col("_a").as("_qa"))
    mutualEdges(nearestE6(allPairs(q, p, Some((maxPoints, n =>
      s"mutualKnnEdgesE6: $n points > maxPoints=$maxPoints — the " +
        "mutual k-NN graph is an all-pairs SAMPLE-tier construction (n² " +
        "scored pairs). Sample the point set first, raise maxPoints " +
        "knowingly, or feed LSH/IVF candidate pairs through the " +
        "mutuality filter for the scale path."))), k))
  }

  /** [[mutualKnnEdgesProbedE6]] at `nprobe = 1`: candidates restricted
    * to points sharing a coarse IVF cell (the SemDeDup within-cluster
    * blocking, arXiv:2303.09540). Pair space is Σ|cell|², not n², and a
    * hot cell refuses through the same occupancy tripwire.
    *
    * Semantics: mutual k-NN of the CELL-RESTRICTED neighbor structure —
    * cross-cell near-neighbors are invisible by design (the IVF
    * nprobe = 1 recall trade; more/better-trained cells is the recall
    * knob, and within a cell the lists are exact). A same-cell pair can
    * therefore be mutual here while a closer cross-cell point would
    * have displaced it from the unblocked lists — blocked edges are not
    * a subset of [[mutualKnnEdgesE6]]'s, they are the blocked model's
    * own exact answer.
    */
  def mutualKnnEdgesBlockedE6(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      centroidsE6: DataFrame,
      k: Int,
      maxCellSize: Long = 100000L
  ): DataFrame =
    mutualKnnEdgesProbedE6(points, idCol, vecCol, centroidsE6, k, nprobe = 1,
      maxCellSize)

  /** MULTI-PROBE blocked mutual k-NN: each point LISTS under its single
    * home (argmin) cell, but as a QUERY it draws candidates from its
    * `nprobe` nearest cells (the [[ivfTopKPartitioned]] probe
    * convention), so near-neighbors sitting just across a cell boundary
    * become visible. `nprobe = 1` is [[mutualKnnEdgesBlockedE6]]; recall
    * of the exact sample-tier graph's edges rises with nprobe at
    * candidate cost ∝ nprobe. Measured at sf0.1 (2,000 points, 16
    * cells, k = 3), edge recall is 0.190 / 0.218 / 0.326 / 0.610 /
    * 1.000 at nprobe 1 / 2 / 4 / 8 / 16.
    *
    * Probe sets come from ONE narrow codegen'd projection
    * ([[graft.plans.NearestCentroidsE6]] — element 0 is the home cell,
    * the full array is the probe list), never a points × C window
    * shuffle. Each (query, candidate) pair appears at most once: a
    * candidate is keyed only under its unique home cell. The hot-cell
    * tripwire guards HOME occupancy (the index-side lists whose size
    * drives the quadratic term).
    *
    * Mutuality note: reciprocity is evaluated on the probed lists —
    * edge (a, b) survives iff each ranks the other top-k within its own
    * probed candidate set. At nprobe = C the lists are
    * [[mutualKnnEdgesE6]]'s exact ones.
    */
  def mutualKnnEdgesProbedE6(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      centroidsE6: DataFrame,
      k: Int,
      nprobe: Int,
      maxCellSize: Long = 100000L
  ): DataFrame = {
    require(k > 0, s"mutualKnnEdgesProbedE6: k must be positive, got $k")
    require(nprobe > 0,
      s"mutualKnnEdgesProbedE6: nprobe must be positive, got $nprobe")
    require(maxCellSize >= 2,
      s"mutualKnnEdgesProbedE6: maxCellSize must be >= 2, got $maxCellSize")
    val cells = collectE6Whole(centroidsE6)
    // the index side and the query side both read the points
    val p = Materialize.local(points
      .select(col(idCol).cast(LongType).as("_id"), toE6(col(vecCol)).as("_a"))
      .filter(size(col("_a")) === cells.dim)
      .withColumn("_probes", cells.probes(col("_a"), nprobe))
      .filter(col("_probes").isNotNull))
    val home = occupancyTripwire(p.select(element_at(col("_probes"), 1).as("_cell"),
        col("_id").as("neighbor_id"), col("_a")),
      "_cell", maxCellSize, "mutualKnnEdgesProbedE6",
      "the candidate join is nprobe × occupancy pairs per query against " +
        "that cell's list")
    val probes = p.select(col("_id").as("query_id"), col("_a").as("_qa"),
      explode(col("_probes")).as("_cell"))
    mutualEdges(nearestE6(cellPairs(probes, home, "_cell"), k))
  }

  /** [[mutualKnnEdgesProbedE6]] over a [[writeAssignedE6]] layout —
    * the 100 TB form: the home-cell (index) side is the PHYSICALLY
    * partitioned corpus, pruned to the union of the query side's probe
    * sets at the directory level (`readProbedCells`, the
    * [[ivfTopKExactE6Partitioned]] composition) instead of re-deriving
    * home cells from an in-memory frame. The query side reads the SAME
    * layout (one narrow id+vec scan) — the corpus never exchanges to
    * learn its probe sets; probes come from the one codegen'd
    * [[graft.plans.NearestCentroidsE6]] projection whose element 0 is
    * the layout's own write-time home assignment.
    *
    * `querySubset` (an id frame) restricts the operation to a slice:
    * both the query side and the candidate lists semi-join to it, so
    * the result is VALUE-IDENTICAL to running the in-memory probed
    * operator on that slice of the corpus — and the probe-set IN now
    * prunes for real (a slice's probes touch only its own cells'
    * directories). With `None`, every point is a query (full self
    * mutual k-NN, value-identical to the in-memory operator on the
    * whole corpus): each occupied cell is then probed by its own
    * members, so the IN keeps every occupied directory — the plan
    * shape is pinned either way, the file skipping is real exactly
    * when the probe union is a strict subset.
    *
    * Occupancy is tripwired at WRITE time ([[writeAssignedE6]]); this
    * read path adds none (the layout is the contract).
    */
  def mutualKnnEdgesPartitionedE6(
      spark: SparkSession,
      assignedPath: String,
      idCol: String,
      vecCol: String, // ARRAY<BIGINT>, e6-scaled (the layout's own column)
      centroidsE6: DataFrame,
      k: Int,
      nprobe: Int,
      querySubset: Option[DataFrame] = None // single id column
  ): DataFrame = {
    require(k > 0, s"mutualKnnEdgesPartitionedE6: k must be positive, got $k")
    require(nprobe > 0,
      s"mutualKnnEdgesPartitionedE6: nprobe must be positive, got $nprobe")
    val cells = collectE6Whole(centroidsE6)
    // both sides semi-join to the subset
    val subsetIds = querySubset.map(q =>
      Materialize.local(q.select(q.columns.head).toDF("_sid")))
    def restrict(df: DataFrame, on: String): DataFrame = subsetIds match {
      case Some(ids) => df.join(broadcast(ids),
        df(on) === ids("_sid"), "left_semi")
      case None => df
    }
    // read twice: collected (the probe union), then joined
    val probes = Materialize.local(probeRows(restrict(
        spark.read.parquet(assignedPath)
          .select(col(idCol).cast(LongType).as("query_id"), col(vecCol).as("_qa")),
        "query_id"),
      cells, nprobe, "centroid_id"))
    val home = restrict(
      readProbedCells(spark, assignedPath, probeUnion(probes))
        .select(col("centroid_id"), col(idCol).cast(LongType).as("neighbor_id"),
          col(vecCol).as("_a")), "neighbor_id")
    mutualEdges(nearestE6(cellPairs(probes, home, "centroid_id"), k))
  }

  /** HUBNESS diagnostic: the k-NN in-degree distribution of a point
    * set — how many points count each point among their k nearest
    * (Radovanović et al. 2010: high-dimensional spaces grow "hubs"
    * that appear in a huge fraction of neighbor lists and distort
    * both ANN recall and embedding-dedup clustering; a heavy right
    * tail here is the warning). Output: `(in_degree BIGINT,
    * n_points BIGINT)` — one row per occurring in-degree, zero
    * included.
    *
    * Exact and replayable: e6 floor quantization, BIGINT squared-L2,
    * k-NN ties to the smallest neighbor id (the [[topKPerQuery]]
    * heap rule). Self-pairs are excluded.
    *
    * Scale shape: all-pairs by construction (hubness IS a property of
    * the full k-NN graph), so run it on the evaluation SAMPLE tier
    * like [[ivfRecallExactE6]] — the documented cost of measuring
    * index quality, not a corpus pass. The sample contract is a
    * LOUD guard, not scaladoc: the point count is checked against
    * `maxPoints` before the cross join, so a caller who hands the
    * corpus to a diagnostic fails with the remedy in the message
    * instead of launching an n² scan. Within the sample: the scored
    * pairs reduce through the bounded [[graft.plans.TopKAggregate]]
    * heaps map-side (never a per-query window), and the in-degree
    * count is one 8-byte-id exchange.
    */
  def knnInDegreeE6(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxPoints: Long = 20000L
  ): DataFrame = {
    require(k > 0, s"knnInDegreeE6: k must be positive, got $k")
    require(maxPoints >= 2,
      s"knnInDegreeE6: maxPoints must be >= 2, got $maxPoints")
    val p = points.select(col(idCol).cast(LongType).as("neighbor_id"),
      toE6(col(vecCol)).as("_a"))
    val q = p.select(col("neighbor_id").as("query_id"), col("_a").as("_qa"))
    val indeg = nearestE6(allPairs(q, p, Some((maxPoints, n =>
        s"knnInDegreeE6: $n points > maxPoints=$maxPoints — hubness is an " +
          "all-pairs SAMPLE-tier diagnostic (n² scored pairs). Sample the " +
          "point set first, or raise maxPoints knowingly."))), k)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("_c"))
    p.join(indeg, Seq("neighbor_id"), "left")
      .select(coalesce(col("_c"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_points"))
  }

  /** k-center greedy (farthest-point) selection in e6 integer space —
    * the classic 2-approximation to the k-center cover (Gonzalez 1985)
    * used as DIVERSITY sampling for training data: pick the corpus
    * point farthest from everything already picked, k times, so the
    * selected set spans the embedding space instead of oversampling its
    * dense modes.
    *
    * Deterministic and exactly replayable: vectors e6-floor-quantized
    * ([[kmeansIterationExactE6]]'s convention), distances exact BIGINT
    * squared-L2, seed = smallest id, each round's winner = max running
    * min-distance with ties to the smallest id.
    *
    * Scale shape: round r is ONE narrow corpus pass — the newest
    * center's distance via [[graft.plans.MinSqDistE6]] (1-row matrix,
    * codegen'd) folded into the running minimum — plus a k=1
    * TakeOrdered reduction; no shuffle ever carries the corpus.
    * [[Materialize.local]] cuts the per-round lineage (the
    * [[graft.operators.Graph.pageRankScaled]] discipline); the
    * checkpointed set carries (id, vec, dist), which is the inherent
    * state of k-center greedy — at 100 TB run it on the
    * candidate/sample tier like k-means training (selection is a model
    * artifact, not a corpus pass per output row). The k collect()s are
    * 1 row each (the BPE winning-pair convention).
    *
    * Output: `(rank BIGINT, center_id BIGINT, dist_sq_e12 BIGINT)` —
    * rank 1..k in selection order, dist_sq_e12 = the winner's min
    * squared distance to all EARLIER centers at selection time (0 for
    * the seed). Rows with null/malformed vectors (wrong length, null
    * element) never qualify. Fewer than k usable rows → fewer rows out.
    */
  def kCenterGreedyE6(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"kCenterGreedyE6: k must be in [1, 64], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base0 = df
      .select(col(idCol).cast(LongType).as("_id"), toE6(col(vecCol)).as("_v"))
      .filter(col("_id").isNotNull && col("_v").isNotNull)
    val seedRows = base0.orderBy(col("_id")).limit(1).collect()
    require(seedRows.nonEmpty, "kCenterGreedyE6: empty input")
    val seedId = seedRows.head.getLong(0)
    val seedVec = seedRows.head.getSeq[Long](1)
    val dim = seedVec.length
    def distTo(c: Seq[Long]): Column = ColumnBridge.column(
      graft.plans.MinSqDistE6(ColumnBridge.expression(col("_v")), c, dim))
    var cur = Materialize.local(base0
      .filter(col("_id") =!= seedId)
      .select(col("_id"), col("_v"), distTo(seedVec).as("_md"))
      .filter(col("_md").isNotNull))
    val selected = scala.collection.mutable.ArrayBuffer((seedId, 0L))
    var exhausted = false
    while (selected.length < k && !exhausted) {
      val next = cur.orderBy(col("_md").desc, col("_id").asc).limit(1).collect()
      if (next.isEmpty) exhausted = true
      else {
        val row = next.head
        val nid = row.getLong(0)
        val nvec = row.getSeq[Long](1)
        selected += ((nid, row.getLong(2)))
        if (selected.length < k)
          cur = Materialize.local(cur
            .filter(col("_id") =!= nid)
            .select(col("_id"), col("_v"),
              least(col("_md"), distTo(nvec)).as("_md")))
      }
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, d), i) => ((i + 1).toLong, id, d) }
      .toDF("rank", "center_id", "dist_sq_e12")
  }
}
