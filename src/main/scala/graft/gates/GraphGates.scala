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

/** Graph gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object GraphGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- link-graph centrality: integer-scaled PageRank (3 rounds,
    //      d=0.85) over the source-transition graph (edge per
    //      consecutive doc_id pair) — the Common-Crawl-style domain
    //      quality prior, exact BIGINT arithmetic end to end
    "pagerank_sources" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst"))
      graft.operators.Graph.pageRankScaled(e, "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    // ---- depth-bounded k-core peeling, 3 rounds at k=2, over the
    //      quadratic-residue doc-id graph (the source graph is a
    //      2-regular ring — peeling there is all-or-nothing; the QR
    //      graph's 1/2/3 degree mix gives a real peel cascade);
    //      oracle unrolls the rounds
    "kcore_peel" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e = d.select(
          concat(lit("n"), (col("doc_id") % 41).cast("string")).as("src"),
          concat(lit("n"),
            ((col("doc_id") * col("doc_id") + 1) % 41).cast("string")).as("dst"))
      graft.operators.Graph.kCoreBounded(e, "src", "dst", k = 2, rounds = 3)
        .orderBy("node")
    }),
    // ---- personalized PageRank from src0 on the same graph: random
    //      walk with restart — the "related domains" ranking relative
    //      to a seed, exact ppb integers, oracle unrolls the rounds
    "personalized_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst"))
      graft.operators.Graph.personalizedPageRankScaled(e, "src", "dst",
          seed = "src0", iterations = 3)
        .orderBy("node")
    }),
    // ---- the OTHER Common-Crawl centrality on the same source graph:
    //      depth-3 harmonic centrality, h(v) = Σ (1e6 div d) over nodes
    //      reaching v within d ≤ 3 — exact BFS set algebra, pure
    //      integers, oracle unrolls the levels
    "harmonic_centrality" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst"))
      graft.operators.Graph.harmonicCentralityScaled(e, "src", "dst", maxDepth = 3)
        .orderBy("node")
    }),
    // ---- composed centrality prior: all three link-quality signals on
    //      the same source graph joined into one table, with an
    //      equal-weight scale-aligned sum (rank_ppb div 1000 puts
    //      PageRank on the ppm-ish scale of the other two) — the
    //      quality-prior artifact a curation mixer consumes
    "pipeline_centrality_prior" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      // three consumers — compute the edge list once
      val e = Materialize.local(d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst")))
      val pr = graft.operators.Graph.pageRankScaled(e, "src", "dst", 3)
      val hc = graft.operators.Graph.harmonicCentralityScaled(e, "src", "dst", 3)
      val kz = graft.operators.Graph.katzCentralityScaled(e, "src", "dst", 3, 100000L)
      pr.join(hc, Seq("node")).join(kz, Seq("node"))
        .select(col("node"), col("rank_ppb"), col("harmonic_ppm"), col("katz_e6"),
          expr("CAST(rank_ppb div 1000 + harmonic_ppm + katz_e6 AS BIGINT)")
            .as("prior_e6"))
        .orderBy("node")
    }),
    // ---- truncated Katz centrality on the same graph: every walk in,
    //      attenuated a_k = (a_{k-1}·α) div 1e6 (driver-side exact
    //      ladder, α = 0.1); multi-edges count as parallel walks
    "katz_centrality" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst"))
      graft.operators.Graph.katzCentralityScaled(e, "src", "dst",
          rounds = 3, alphaPpm = 100000L)
        .orderBy("node")
    }),
    // ---- per-node triangle counts + local clustering coefficient on
    //      the undirected simplification of the source graph — the
    //      link-farm/mirror-ring signal next to the three centralities;
    //      exact integers (coefficient = 2·t·1e6 div d(d−1))
    "triangle_counts" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = d.join(
          d.select((col("doc_id") - 1).as("doc_id"), col("source").as("_dst")),
          Seq("doc_id"))
        .select(col("source").as("src"), col("_dst").as("dst"))
      graft.operators.Graph.triangleCountsScaled(e, "src", "dst")
        .orderBy("node")
    }),
    // ---- depth-2 min-label propagation over the chain graph (edges
    //      doc_id↔doc_id+1 where doc_id % 10 < 3, zero-padded ids so
    //      string min = numeric min): after 2 rounds each node carries
    //      the min id within distance 2, which the oracle states in
    //      closed form — the bounded-rounds semantics that distinguish
    //      LPA from full connected components
    "label_propagation" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 < 3)
      // lpad 12, not 6: Spark's lpad TRUNCATES strings past the pad
      // width, silently collapsing distinct ids >= 1e6 (sf1-sweep find)
      val e = d.select(
        lpad(col("doc_id").cast("string"), 12, "0").as("src"),
        lpad((col("doc_id") + 1).cast("string"), 12, "0").as("dst"))
      graft.operators.Graph.labelPropagationMin(e, "src", "dst", rounds = 2)
        .orderBy("node")
    }),
    // ---- exact connected components: 16-node doc-id chains (diameter
    //      15 — deep enough that the bounded-round LPA gate above could
    //      not merge them) via convergence-checked min propagation with
    //      pointer jumping; the converged labeling is the per-component
    //      minimum, a pure graph property, so the oracle computes it in
    //      closed form from the chain structure
    "connected_components" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 20 < 15)
      // lpad 12, not 6: Spark's lpad TRUNCATES strings past the pad
      // width, silently collapsing distinct ids >= 1e6 (sf1-sweep find)
      val e = d.select(
        lpad(col("doc_id").cast("string"), 12, "0").as("src"),
        lpad((col("doc_id") + 1).cast("string"), 12, "0").as("dst"))
      graft.operators.Graph.connectedComponentsMin(e, "src", "dst")
        .orderBy("node")
    }),
    // ---- the SAME component query with the id dictionary FORCED
    //      (dictThreshold = 1): every driver-scale graph is below the
    //      2²¹ adaptive threshold, so without this gate the long-id
    //      branch — the one every 100 TB run actually takes — would be
    //      spec-pinned but never DuckDB-oracled. Identical oracle SQL;
    //      value-identical to its string-branch twin by the
    //      branch-equality contract
    "connected_components_dict" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 20 < 15)
      val e = d.select(
        lpad(col("doc_id").cast("string"), 12, "0").as("src"),
        lpad((col("doc_id") + 1).cast("string"), 12, "0").as("dst"))
      graft.operators.Graph.connectedComponentsMin(e, "src", "dst",
          dictThreshold = 1L)
        .orderBy("node")
    }),
    // ---- HyperBall ANF over a doc-id lattice (edges +1 and +3, ids
    //      < 3000): per-node estimated out-ball sizes at depths 1..3
    //      from propagated deterministic-FNV register banks, plus the
    //      derived approximate harmonic — the SCALE PATH past exact
    //      bounded BFS (state = one 64-byte bank per node at ANY depth,
    //      never reachable pairs). Register merge ≡ ball union, so the
    //      oracle replays every estimate bit-for-bit from unrolled
    //      exact reachability
    "anf_hyperball" -> ((s, dir) => {
      graft.operators.Graph.anfHyperBall(anfLatticeEdges(s, dir), "src", "dst",
          maxDepth = 3, m = 64)
        .orderBy("node")
    }),
    // ---- the ANF headline reduction: estimated reachable-pair counts
    //      N(t) per depth, each level's ppm share of N(3), and the 90%
    //      effective diameter; everything after the per-node table is
    //      metadata-sized (≤ maxDepth rows)
    "anf_effective_diameter" -> ((s, dir) => {
      val anf = graft.operators.Graph.anfHyperBall(anfLatticeEdges(s, dir),
        "src", "dst", maxDepth = 3, m = 64)
      graft.operators.Graph.effectiveDiameterFromAnf(anf, maxDepth = 3)
    }),
    // ---- deterministic uniform random walks on the same lattice: the
    //      graph-embedding corpus generator (DeepWalk) — 2 walks × 4
    //      steps per node, per-step entropy FNV-derived from (start,
    //      walk, seed, step) so the oracle replays every pick; walks
    //      terminate at dead ends (the lattice boundary)
    "random_walks" -> ((s, dir) => {
      graft.operators.Graph.randomWalks(anfLatticeEdges(s, dir), "src", "dst",
          steps = 4, walksPerNode = 2)
        .orderBy("start", "walk", "step")
    }),
    // ---- one-row structural profile of the lattice enriched with
    //      backward edges (doc % 5 == 0 → doc−1, so reciprocity is
    //      nonzero): size, reciprocity, dangling share, degree
    //      extremes, and rank-based degree assortativity riding the
    //      proven no-pair-join rank-correlation machinery
    "graph_profile" -> ((s, dir) => {
      val e = profileLatticeEdges(s, dir)
        .select(col("a").cast("string").as("src"), col("b").cast("string").as("dst"))
      graft.operators.Graph.graphProfile(e, "src", "dst")
    }),
    // ---- the STREAMING face of graph_profile: the versioned state is
    //      the distinct directed edge set; three batches (one replayed
    //      — the version guard must no-op) accumulate the same lattice
    //      and the final batch's committed one-row profile equals the
    //      batch operator on the full edge list, which the oracle
    //      recomputes
    "graph_profile_stream" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val e = Materialize.local(profileLatticeEdges(s, dir))
      val work = java.nio.file.Files
        .createTempDirectory("graft-gprof-stream").toString
      def step(pred: Column, b: Long): Unit =
        StreamingOps.applyGraphProfileBatch(s, e.filter(pred), b, "a", "b",
          s"$work/state", s"$work/out", Some(8)) // bucketed committed store
      step(col("a") < 1000, 0L)
      step(col("a") >= 1000 && col("a") < 2000, 1L)
      step(col("a") >= 1000 && col("a") < 2000, 1L) // replay: must no-op
      step(col("a") >= 2000, 2L)
      s.read.parquet(s"$work/out/batch=2")
    }),
    // ---- second-order biased walks on the same lattice: node2vec
    //      p = 4, q = 0.25 (the outward-exploring configuration) in
    //      exact integer weights; every weighted pick replays in the
    //      oracle's step-unrolled cumulative ladder
    "node2vec_walks" -> ((s, dir) => {
      graft.operators.Graph.node2vecWalks(anfLatticeEdges(s, dir), "src", "dst",
          steps = 4, walksPerNode = 2, pPpm = 4000000L, qPpm = 250000L)
        .orderBy("start", "walk", "step")
    }),
    // ---- bounded k-truss over the triangle-rich lattice (+1/+2/+3
    //      edges): 3 peeling rounds at k = 4 drop every edge in fewer
    //      than 2 triangles, recomputing support as the graph shrinks;
    //      final support describes the OUTPUT subgraph
    "ktruss_edges" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 3000)
      val ids = d.select(col("doc_id").as("b"))
      val e = d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .unionByName(d.select(col("doc_id").as("a"), (col("doc_id") + 2).as("b")))
        .unionByName(d.select(col("doc_id").as("a"), (col("doc_id") + 3).as("b")))
        .join(ids, Seq("b"), "left_semi")
        .select(col("a").cast("string").as("src"), col("b").cast("string").as("dst"))
      graft.operators.Graph.kTrussBounded(e, "src", "dst", k = 4, rounds = 3)
        .orderBy("u", "v")
    }),
    // ---- the walk corpus reduced to what an embedding trainer eats:
    //      skip-gram (center, context) co-occurrence counts within a
    //      2-step window — one constant-fan-out self-join collapsing
    //      straight into a map-side-combined count
    "walk_skipgram_pairs" -> ((s, dir) => {
      val walks = graft.operators.Graph.randomWalks(anfLatticeEdges(s, dir),
        "src", "dst", steps = 4, walksPerNode = 2)
      graft.operators.Graph.skipGramPairs(walks, window = 2)
        .orderBy("center", "context")
    }),
  )

  def oracles: Map[String, String] = Map(
    // 3 unrolled power-iteration rounds in pure BIGINT floor division
    "pagerank_sources" -> pagerankOracleSql(iterations = 3, dampingPpm = 850000L),
    // peel rounds unrolled; see kcoreOracleSql
    "kcore_peel" -> kcoreOracleSql(k = 2, rounds = 3),
    // seeded power iteration unrolled; see pprOracleSql
    "personalized_pagerank" ->
      pprOracleSql(iterations = 3, dampingPpm = 850000L, seed = "src0"),
    // BFS levels unrolled; see harmonicOracleSql
    "harmonic_centrality" -> harmonicOracleSql(maxDepth = 3),
    // walk rounds unrolled; see katzOracleSql
    "katz_centrality" -> katzOracleSql(rounds = 3, alphaPpm = 100000L),
    // canonical undirected edges, node-ordered triple join counts each
    // triangle once; per-node counts via the three-corner union
    "triangle_counts" ->
      """WITH d AS (
        | SELECT doc_id, source FROM documents
        |), e0 AS (
        | SELECT a.source AS s1, b.source AS s2
        | FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        | WHERE a.source <> b.source
        |), ce AS (
        | SELECT DISTINCT least(s1, s2) AS u, greatest(s1, s2) AS v FROM e0
        |), nodes AS (
        | SELECT DISTINCT n FROM (SELECT u AS n FROM ce UNION ALL SELECT v FROM ce)
        |), deg AS (
        | SELECT n, CAST(count(*) AS BIGINT) AS dg
        | FROM (SELECT u AS n FROM ce UNION ALL SELECT v AS n FROM ce) GROUP BY 1
        |), tri AS (
        | SELECT a.u AS x, a.v AS y, b.v AS z
        | FROM ce a JOIN ce b ON b.u = a.v JOIN ce c ON c.u = a.u AND c.v = b.v
        |), pn AS (
        | SELECT n, CAST(count(*) AS BIGINT) AS t
        | FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        | GROUP BY 1
        |)
        |SELECT nodes.n AS node, deg.dg AS degree,
        | CAST(coalesce(pn.t, 0) AS BIGINT) AS triangles,
        | CASE WHEN deg.dg >= 2
        |  THEN CAST(2 * coalesce(pn.t, 0) * 1000000 // (deg.dg * (deg.dg - 1)) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS clustering_ppm
        |FROM nodes JOIN deg ON deg.n = nodes.n LEFT JOIN pn ON pn.n = nodes.n
        |ORDER BY node""".stripMargin,
    // chain graph ⇒ the min id within distance 2 has a closed form:
    // label(v) = max(chain_start, v − 2); chain_start = v − (v % 10)
    // (every chain runs k0..k0+3 off the doc_id % 10 < 3 edge rule)
    "label_propagation" ->
      """WITH ids AS (
        | SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id % 10 < 3
        |), nodes AS (
        | SELECT DISTINCT v FROM (SELECT i AS v FROM ids UNION ALL SELECT i + 1 FROM ids)
        |)
        |SELECT lpad(CAST(v AS VARCHAR), 12, '0') AS node,
        | lpad(CAST(greatest(v - (v % 10), v - 2) AS VARCHAR), 12, '0') AS label
        |FROM nodes ORDER BY node""".stripMargin,
    // the converged labeling is the per-component minimum — a closed
    // form on the 20-block chain fixture (block k = ids 20k..20k+15,
    // min 20k); convergence makes the schedule irrelevant, so no
    // round-unrolling is needed
    "connected_components" ->
      """WITH ids AS (
        | SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id % 20 < 15
        |), nodes AS (
        | SELECT DISTINCT v FROM (SELECT i AS v FROM ids UNION ALL SELECT i + 1 FROM ids)
        |)
        |SELECT lpad(CAST(v AS VARCHAR), 12, '0') AS node,
        | lpad(CAST((v // 20) * 20 AS VARCHAR), 12, '0') AS label
        |FROM nodes ORDER BY node""".stripMargin,
    // the dict branch must be value-identical to the string branch —
    // same oracle verbatim
    "connected_components_dict" ->
      """WITH ids AS (
        | SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id % 20 < 15
        |), nodes AS (
        | SELECT DISTINCT v FROM (SELECT i AS v FROM ids UNION ALL SELECT i + 1 FROM ids)
        |)
        |SELECT lpad(CAST(v AS VARCHAR), 12, '0') AS node,
        | lpad(CAST((v // 20) * 20 AS VARCHAR), 12, '0') AS label
        |FROM nodes ORDER BY node""".stripMargin,
    // exact reachability unrolled, registers + estimate replayed
    // bit-for-bit; see anfHyperBallOracleSql
    "anf_hyperball" -> anfHyperBallOracleSql(maxDepth = 3, m = 64),
    // level sums + shares + min-t over the same chain
    "anf_effective_diameter" -> anfEffDiameterOracleSql(maxDepth = 3, m = 64),
    // step-unrolled walk replay; see randomWalksOracleSql
    "random_walks" -> randomWalksOracleSql(steps = 4, walksPerNode = 2, seed = ""),
    // weighted-ladder walk replay; see node2vecOracleSql
    "node2vec_walks" -> node2vecOracleSql(steps = 4, walksPerNode = 2,
      pPpm = 4000000L, qPpm = 250000L, seed = ""),
    // structural summary replay: degrees, reciprocity self-join, and a
    // brute-force rank/inversion assortativity (oracle-scale only —
    // the OPERATOR counts inversions without a pair join)
    "graph_profile" -> graphProfileOracleSql,
    // the accumulated stream state IS the full edge set, so the final
    // batch's committed profile replays with the batch oracle verbatim
    "graph_profile_stream" -> graphProfileOracleSql,
    // peeling rounds unrolled; see ktrussOracleSql
    "ktruss_edges" -> ktrussOracleSql(k = 4, rounds = 3),
    // the walk replay piped through the window pair join
    "walk_skipgram_pairs" ->
      s"""WITH wk AS (${randomWalksOracleSql(steps = 4, walksPerNode = 2, seed = "")})
         |SELECT a.node AS center, b.node AS context,
         | CAST(count(*) AS BIGINT) AS cnt
         |FROM wk a JOIN wk b ON b.start = a.start AND b.walk = a.walk
         | AND b.step <> a.step AND abs(a.step - b.step) <= 2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the three proven centrality chains joined as subqueries
    "pipeline_centrality_prior" ->
      s"""SELECT pr.node, pr.rank_ppb, hc.harmonic_ppm, kz.katz_e6,
         | CAST(pr.rank_ppb // 1000 + hc.harmonic_ppm + kz.katz_e6 AS BIGINT) AS prior_e6
         |FROM (${pagerankOracleSql(iterations = 3, dampingPpm = 850000L)}) pr
         |JOIN (${harmonicOracleSql(maxDepth = 3)}) hc ON hc.node = pr.node
         |JOIN (${katzOracleSql(rounds = 3, alphaPpm = 100000L)}) kz ON kz.node = pr.node
         |ORDER BY pr.node""".stripMargin,
  )
}
