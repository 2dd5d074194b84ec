package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import org.apache.spark.sql.types.{DecimalType, LongType}

/**
 * Link-graph centrality for web-corpus curation. Crawl pipelines rank
 * pages/domains by link centrality (Common Crawl publishes harmonic
 * and PageRank centrality per domain; curation uses it as a quality
 * prior) — this is that computation in Spark-join form, made
 * ENGINE-REPRODUCIBLE the same way the drift/retrieval families are:
 * all arithmetic in scaled BIGINT with floor division, a fixed
 * iteration count, no doubles anywhere.
 *
 * ONE INPUT PROLOGUE (whole iterative family): each operator
 * normalizes its edge list (its own output semantics: directed or
 * canonical, distinct or not, self-loops kept or dropped) and hands it
 * to [[GraphIds]], which materializes it, derives and counts the node
 * set, gates the id dictionary and encodes/decodes ids. Every
 * materialization in this file is [[Materialize.local]], so the
 * planner sees each intermediate's stored size.
 *
 * LABEL COMPRESSION: every iterative operator shuffles its node-id
 * frame once per round, so at scale the id WIDTH multiplies into
 * O(rounds) shuffles. At or above [[Graph.GraphDictThreshold]] nodes,
 * [[GraphIds]] dictionary-encodes node strings ONCE to dense longs
 * ([[orderPreservingIdDict]] — order-preserving, so long-min ≡
 * string-min and MIN-label semantics survive), the rounds iterate over
 * 8-byte longs only, and the output translates back at the end. Below
 * the threshold the strings iterate as-is: the dict's fixed stages
 * (build + encode/decode joins) cost more than the string bytes they
 * remove when the whole label table is a few MB — the adaptive trade
 * [[Profile.rankCorrelationByGroup]] established with its rank-window
 * threshold.
 */
object Graph {

  /** Node count at or above which the iterative operators dictionary-
    * encode ids to dense longs before iterating. Below it a label table
    * is tens of MB and the dict's ~4 fixed stages dominate (measured:
    * +3 s on a 10⁴-node sf0.1 gate); above it, id width × O(rounds)
    * iterated shuffles dominate and 8-byte longs beat arbitrary-width
    * strings. Exposed per-operator via the `dictThreshold` parameter
    * (specs force each branch with 1 / Long.MaxValue).
    */
  val GraphDictThreshold: Long = 1L << 21

  /** The graph-input prologue every iterative operator shares, computed
    * once per call:
    *
    *  - `strings`: the caller's normalized STRING edge frame,
    *    materialized (a lazy upstream never runs twice); its
    *    materialization's row count bounds the node count for free
    *    ([[Materialize.localWithRows]]);
    *  - `nodeStrings`: the node set `(_v STRING)` over both endpoint
    *    columns, materialized, and its count `n`, the materialization's
    *    row count;
    *  - the dictionary gate: at `n ≥ dictThreshold` the
    *    order-preserving long dictionary (materialized — encode and
    *    decode both read it), and `edges` are the encoded edges,
    *    materialized; below it `edges` is `strings` and ids stay
    *    strings. A node bound under the threshold (or a `Long.MaxValue`
    *    threshold) decides the gate without counting;
    *  - `nodes`: the node set `(_v)` in the rounds' id type.
    *
    * [[GraphIds.apply]] takes an edge list and materializes its node
    * set up front (the operators built on it all read `nodes`);
    * [[GraphIds.symmetric]] takes a symmetric adjacency, whose `_s`
    * column already holds every node, and builds the node set only if
    * the dictionary gate needs it.
    *
    * [[encode]] and [[decode]] are the identity and a plain rename
    * when there is no dictionary, so an operator is written once for
    * both branches.
    */
  private[graft] final class GraphIds private (
      strings: DataFrame,
      nodeSet: => (DataFrame, Long),
      nodeBound: Long,
      dictThreshold: Long,
      endpointCols: Seq[String]
  ) {
    private lazy val nodeSetRows = nodeSet

    lazy val nodeStrings: DataFrame = nodeSetRows._1

    lazy val n: Long = nodeSetRows._2

    private val dict: Option[DataFrame] =
      if (dictThreshold < Long.MaxValue && nodeBound >= dictThreshold && n >= dictThreshold)
        Some(Materialize.local(orderPreservingIdDict(nodeStrings)))
      else None

    val edges: DataFrame =
      dict.fold(strings)(_ => Materialize.local(encode(strings, endpointCols: _*)))

    lazy val nodes: DataFrame = dict.fold(nodeStrings)(_.select(col("_id").as("_v")))

    /** Inner-join-encode string id columns to dictionary longs. The
      * dict covers every node in the edge universe by construction, so
      * no rows drop; it is 1:1, so multiplicities are preserved.
      */
    def encode(df: DataFrame, cols: String*): DataFrame = dict.fold(df) { d =>
      cols.foldLeft(df) { (acc, c) =>
        acc.join(d.select(col("_v").as(c), col("_id").as(c + "_enc")), Seq(c))
          .drop(c).withColumnRenamed(c + "_enc", c)
      }
    }

    /** Translate id columns back to node strings: each `(idCol,
      * outName)` pair surfaces the string as `outName`. The caller
      * selects its output columns afterwards.
      */
    def decode(df: DataFrame, cols: (String, String)*): DataFrame =
      cols.foldLeft(df) { case (acc, (c, out)) =>
        dict.fold(acc.withColumnRenamed(c, out)) { d =>
          acc.join(d.select(col("_id").as(c), col("_v").as(out)), Seq(c))
        }
      }

    /** One node as a literal of the rounds' id type: its dict id (one
      * ≤1-row driver lookup), or the string itself. A node absent from
      * the graph matches nothing in either branch (-1 is outside the
      * dense range).
      */
    def idOf(node: String): Column = dict.fold(lit(node)) { d =>
      lit(d.filter(col("_v") === node).select("_id")
        .collect().headOption.map(_.getLong(0)).getOrElse(-1L))
    }
  }

  private[graft] object GraphIds {
    /** An edge list over `endpointA`/`endpointB`: each edge row brings
      * at most two nodes, so n ≤ 2·rows.
      */
    def apply(edges: DataFrame, endpointA: String, endpointB: String,
        dictThreshold: Long): GraphIds = {
      val (e, rows) = Materialize.localWithRows(edges)
      val nodes = Materialize.localWithRows(e.select(col(endpointA).as("_v"))
        .unionByName(e.select(col(endpointB).as("_v")))
        .distinct())
      new GraphIds(e, nodes, 2L * rows, dictThreshold, Seq(endpointA, endpointB))
    }

    /** A symmetric adjacency `(_s, _d)`: every node is some row's `_s`,
      * so n ≤ rows, and the node set is `_s`'s distinct values.
      */
    def symmetric(sym: DataFrame, dictThreshold: Long): GraphIds = {
      val (s, rows) = Materialize.localWithRows(sym)
      new GraphIds(s, Materialize.localWithRows(s.select(col("_s").as("_v")).distinct()),
        rows, dictThreshold, Seq("_s", "_d"))
    }
  }

  /** The edge list's endpoints as non-null strings `(a, b)` — the one
    * normalization every graph operator starts from.
    */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String,
      a: String = "_s", b: String = "_d"): DataFrame =
    edges.select(col(srcCol).cast("string").as(a), col(dstCol).cast("string").as(b))
      .filter(col(a).isNotNull && col(b).isNotNull)

  /** Canonical undirected pairs `(_u ≤ _v)` from an `(_s, _d)` frame:
    * direction and multi-edges collapse; self-loops stay unless the
    * caller filtered them.
    */
  private def undirected(e: DataFrame): DataFrame =
    e.select(least(col("_s"), col("_d")).as("_u"), greatest(col("_s"), col("_d")).as("_v"))
      .distinct()

  /** One PageRank contribution round — factored lazy so the longs-only
    * shuffle contract is spec-inspectable (the [[ccMinRound]]
    * precedent): edges join the current ranks and out-degrees on the
    * source, per-edge contributions map-side-combine per destination.
    * Returns `(_v, _in)`; the caller folds in the restart mass and
    * checkpoints (the loop's lineage-cut discipline).
    */
  private[graft] def contribRound(
      e: DataFrame,
      outdeg: DataFrame,
      ranks: DataFrame,
      dampingPpm: Long
  ): DataFrame =
    e.join(ranks.withColumnRenamed("_v", "_s"), Seq("_s"))
      .join(outdeg, Seq("_s"))
      .select(col("_d").as("_v"),
        expr(s"(_r * ${dampingPpm}L div 1000000L) div _od").as("_c"))
      .groupBy("_v").agg(sum(col("_c")).as("_in"))

  /** Integer-scaled PageRank over an edge list — `iterations` rounds of
    * the public power-iteration form, rank mass in parts-per-billion:
    *
    *   rank₀(v)   = 10⁹ div N
    *   contrib(e) = (rank(src)·d_ppm div 10⁶) div outdeg(src)   per EDGE
    *   rank'(v)   = (10⁹·(10⁶−d_ppm)) div (N·10⁶) + Σ contrib(e: e.dst=v)
    *
    * Multi-edges each contribute (a transition graph's natural
    * weighting); dangling mass (nodes with no out-edges) is DROPPED,
    * not redistributed — ranks then sum to < 10⁹, which is documented
    * and deterministic (the redistribution variant needs one extra
    * 1-row aggregate per round; add it when the use case needs
    * stochastic-matrix exactness). Every step is exact integer
    * arithmetic, so an oracle replays the ranks bit-for-bit by
    * unrolling the iterations.
    *
    * Scale shape: per round, ONE shuffle of the edge list joined to the
    * current ranks (ids + longs, never payloads) and a map-side-combined
    * sum per destination; a materialization cuts the growing iteration
    * lineage (every loop in this file does the same). Node and
    * out-degree tables build once. At ≥ `dictThreshold` nodes every
    * round shuffles 8-byte longs only (file-header label-compression
    * contract). Fixed small `iterations` (web-rank practice: a handful
    * of rounds already orders domains usefully); convergence detection
    * is deliberately not built in — a fixed count is reproducible, a
    * tolerance is not.
    *
    * Output: `(node STRING, rank_ppb BIGINT)`.
    */
  def pageRankScaled(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampingPpm: Long = 850000L,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(iterations >= 1, s"pageRankScaled: iterations must be >= 1, got $iterations")
    require(dampingPpm >= 0L && dampingPpm <= 1000000L,
      s"pageRankScaled: dampingPpm must be in [0, 1e6], got $dampingPpm")
    val ids = GraphIds(endpoints(edges, srcCol, dstCol), "_s", "_d", dictThreshold)
    val n = ids.n
    require(n > 0, "pageRankScaled: empty graph")
    // n·10⁶ would overflow Long past ~9.2e12 nodes (the unimaxBudgets
    // guard discipline); no real graph gets there, but fail loudly
    require(n <= Long.MaxValue / 1000000L,
      s"pageRankScaled: node count $n overflows the ppm product")
    powerIteration(ids, iterations, dampingPpm,
      initRank = lit(PpbScale / n),
      restart = lit((PpbScale * (1000000L - dampingPpm)) / (n * 1000000L)))
  }

  /** Rank mass in parts-per-billion. */
  private val PpbScale = 1000000000L

  /** The power-iteration loop both PageRanks share: ranks start at
    * `initRank`, and every round each node's rank is its `restart` mass
    * plus its [[contribRound]] inflow. Both columns read `_v`, the node
    * in the rounds' id type. Out-degrees build once; each round's ranks
    * are materialized (the loop's lineage cut).
    */
  private def powerIteration(
      ids: GraphIds,
      iterations: Int,
      dampingPpm: Long,
      initRank: Column,
      restart: Column
  ): DataFrame = {
    val e = ids.edges
    val outdeg = Materialize.local(e.groupBy("_s").agg(count(lit(1)).as("_od")))
    var ranks = ids.nodes.select(col("_v"), initRank.as("_r"))
    for (_ <- 0 until iterations) {
      val contrib = contribRound(e, outdeg, ranks, dampingPpm)
      ranks = Materialize.local(ids.nodes.join(contrib, Seq("_v"), "left")
        .select(col("_v"), (restart + coalesce(col("_in"), lit(0L))).as("_r")))
    }
    ids.decode(ranks, "_v" -> "node").select(col("node"), col("_r").as("rank_ppb"))
  }

  /** One bounded-BFS level — factored lazy for the longs-only spec pin:
    * the (u, w) pair frontier advances one hop along the edge list,
    * drops self-pairs, and anti-joins the visited pair set. The caller
    * checkpoints and tripwires.
    */
  private[graft] def harmonicLevelRound(
      frontier: DataFrame,
      e: DataFrame,
      visited: DataFrame
  ): DataFrame =
    frontier
      .join(e.withColumnRenamed("_s", "_w"), Seq("_w"))
      .select(col("_u"), col("_d").as("_w"))
      .filter(col("_u") =!= col("_w"))
      .distinct()
      .join(visited, Seq("_u", "_w"), "left_anti")

  /** Depth-bounded harmonic centrality over a directed edge list — the
    * other centrality Common Crawl publishes per domain. For each node
    * v, sums `10⁶ div d` over every node u ≠ v whose shortest directed
    * path u→v has length d ≤ `maxDepth`:
    *
    *   h_ppm(v) = Σ_{d=1..maxDepth} |{u : d(u,v) = d}| · (10⁶ div d)
    *
    * The depth bound is the published practice for web-scale harmonic
    * centrality (full all-pairs distances are quadratic; a small-d
    * truncation already orders domains usefully because 1/d decays) and
    * it makes the operator exactly replayable: BFS levels are set
    * algebra, `10⁶ div d` is integer, so an oracle unrolls the levels.
    * Self-distances are excluded (u ≠ v at every level, so a self-loop
    * contributes nothing). Multi-edges collapse (distance semantics).
    *
    * Scale shape: level d is ONE shuffle of the (u, v) pair frontier
    * joined to the edge list — ids only, never payloads — plus an
    * anti-join against the visited pair set; a materialization cuts the
    * per-level lineage (the [[pageRankScaled]] discipline). At
    * ≥ `dictThreshold` nodes the frontier pairs are PAIRS OF LONGS, not
    * pairs of strings — on this operator the dict pays off fastest
    * because the frontier is the node table SQUARED-ish, not the node
    * table. The pair frontier is the inherent cost of bounded-depth
    * BFS: it can grow toward n·(reachable-within-d) on dense graphs,
    * which is why `maxDepth` is a required explicit parameter and the
    * published truncations stay small — AND why every level carries a
    * frontier TRIPWIRE: after each level's checkpoint the pair count is
    * checked against `maxFrontierPairs`, so a dense graph fails loudly
    * with the remedy in the message instead of OOMing three levels
    * later (the [[graft.operators.Profile.chiSquareTerms]] refusal
    * convention). The count is free: the frontier is already
    * eagerly checkpointed each level. Output: `(node STRING,
    * harmonic_ppm BIGINT)`, one row per node in the edge universe (0
    * when nothing reaches the node within the bound).
    */
  def harmonicCentralityScaled(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDepth: Int,
      maxFrontierPairs: Long = 200000000L,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 8,
      s"harmonicCentralityScaled: maxDepth must be in [1, 8], got $maxDepth")
    require(maxFrontierPairs >= 1,
      s"harmonicCentralityScaled: maxFrontierPairs must be >= 1, got $maxFrontierPairs")
    def frontierTripwire(f: DataFrame, level: Int): Unit = {
      val fc = f.count()
      require(fc <= maxFrontierPairs,
        s"harmonicCentralityScaled: level-$level frontier holds $fc reachable " +
          s"(u,v) pairs > maxFrontierPairs=$maxFrontierPairs — the graph is too " +
          "dense for this depth. Lower maxDepth, shard the graph, or raise " +
          "maxFrontierPairs knowingly (memory/shuffle grow with the frontier).")
    }
    val ids = GraphIds(endpoints(edges, srcCol, dstCol).distinct(), "_s", "_d",
      dictThreshold)
    val e = ids.edges
    var frontier = Materialize.local(e.filter(col("_s") =!= col("_d"))
      .select(col("_s").as("_u"), col("_d").as("_w")))
    frontierTripwire(frontier, 1)
    var visited = frontier
    var contribs = Seq(frontier.groupBy(col("_w"))
      .agg((count(lit(1)) * lit(1000000L / 1)).as("_c")))
    for (d <- 2 to maxDepth) {
      frontier = Materialize.local(harmonicLevelRound(frontier, e, visited))
      frontierTripwire(frontier, d)
      visited = Materialize.local(visited.unionByName(frontier))
      contribs = contribs :+ frontier.groupBy(col("_w"))
        .agg((count(lit(1)) * lit(1000000L / d)).as("_c"))
    }
    val allContribs = contribs.reduce(_ unionByName _)
      .groupBy(col("_w")).agg(sum(col("_c")).as("_h"))
    val out = ids.nodes.join(allContribs.withColumnRenamed("_w", "_v"), Seq("_v"), "left")
      .select(col("_v"), coalesce(col("_h"), lit(0L)).as("harmonic_ppm"))
    ids.decode(out, "_v" -> "node").select(col("node"), col("harmonic_ppm"))
  }

  /** Personalized PageRank — [[pageRankScaled]] with the restart mass
    * concentrated on ONE seed node instead of spread uniformly: the
    * standard "related domains / similar pages" primitive (random walk
    * with restart). Same exact ppb integer arithmetic and the same
    * one-shuffle-per-round shape (and the same adaptive long encoding —
    * the seed translates to its dict id once, driver-side); dangling
    * mass drops identically.
    *
    *   rank₀(v)  = 10⁹·[v = seed]
    *   rank'(v)  = [v = seed]·(10⁹·(10⁶−d_ppm) div 10⁶) + Σ contrib(e: e.dst=v)
    *
    * Output: `(node STRING, rank_ppb BIGINT)`.
    */
  def personalizedPageRankScaled(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seed: String,
      iterations: Int,
      dampingPpm: Long = 850000L,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(iterations >= 1,
      s"personalizedPageRankScaled: iterations must be >= 1, got $iterations")
    require(dampingPpm >= 0L && dampingPpm <= 1000000L,
      s"personalizedPageRankScaled: dampingPpm must be in [0, 1e6], got $dampingPpm")
    val ids = GraphIds(endpoints(edges, srcCol, dstCol), "_s", "_d", dictThreshold)
    val isSeed = col("_v") === ids.idOf(seed)
    powerIteration(ids, iterations, dampingPpm,
      initRank = when(isSeed, lit(PpbScale)).otherwise(lit(0L)),
      restart = when(isSeed, lit(PpbScale * (1000000L - dampingPpm) / 1000000L))
        .otherwise(lit(0L)))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simplification of an edge list (direction dropped,
    * self-loops dropped, multi-edges collapsed) — the classic
    * link-farm / mirror-ring detector: organic web neighborhoods close
    * triangles at predictable rates, spam cliques and syndication rings
    * sit at the extremes, so curation uses the coefficient as another
    * per-domain prior next to [[pageRankScaled]].
    *
    *   clustering_ppm(v) = (2 · t(v) · 10⁶) div (deg(v) · (deg(v) − 1))
    *
    * with t(v) the number of triangles through v — exact integers end
    * to end (coefficient 0 when deg < 2).
    *
    * Scale shape: the standard degree-ordered orientation — each
    * undirected edge is directed from its (degree, node)-smaller
    * endpoint to the larger, which bounds every oriented out-list by
    * O(√m) on any graph — then ONE self-join of the oriented list on
    * the shared wedge center and ONE semi-join of the wedge back onto
    * the canonical edge set closes each triangle exactly once (at its
    * orientation-minimal vertex). Shuffles carry node-id pairs only —
    * and at ≥ `dictThreshold` nodes, pairs of 8-byte LONGS: the wedge
    * join is the widest shuffle in this file (O(Σ outdeg²) rows), so
    * halving-or-better its bytes is the family's biggest single win.
    * The orientation is computed on encoded ids; the dict is
    * order-preserving, so (degree, id)-orientation picks the same
    * edges either way and the result is branch-identical. This is the
    * join-algebra form of the node-iterator-++ algorithm
    * (Schank & Wagner 2005), the shape every distributed triangle
    * counter (including GraphX's `TriangleCount`) uses.
    *
    * Output: `(node STRING, degree BIGINT, triangles BIGINT,
    * clustering_ppm BIGINT)`, one row per node in the edge universe.
    */
  def triangleCountsScaled(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    // canonical undirected simple edges: (u < v), multi-edges collapsed;
    // the order-preserving dict keeps (_u < _v) on longs
    val ids = GraphIds(
      undirected(endpoints(edges, srcCol, dstCol).filter(col("_s") =!= col("_d"))),
      "_u", "_v", dictThreshold)
    val ce = ids.edges
    val deg = Materialize.local(
      ce.select(col("_u").as("_n")).unionByName(ce.select(col("_v").as("_n")))
        .groupBy("_n").agg(count(lit(1)).as("_deg")))
    val perNode = triangleList(ce, deg)
      .select(explode(array(col("_c"), col("_x"), col("_y"))).as("_n"))
      .groupBy("_n").agg(count(lit(1)).as("_t"))
    val out = ids.nodes.withColumnRenamed("_v", "_n")
      .join(deg, Seq("_n")).join(perNode, Seq("_n"), "left")
      .select(col("_n"), col("_deg").as("degree"),
        coalesce(col("_t"), lit(0L)).as("triangles"),
        when(col("_deg") >= 2,
          expr("(2 * coalesce(_t, 0L) * 1000000L) div (_deg * (_deg - 1))"))
          .otherwise(lit(0L)).as("clustering_ppm"))
    ids.decode(out, "_n" -> "node")
      .select(col("node"), col("degree"), col("triangles"), col("clustering_ppm"))
  }

  /** One k-core peel round — factored lazy for the longs-only spec pin:
    * the surviving symmetric adjacency drops every edge with an
    * endpoint below degree k. The caller checkpoints.
    */
  private[graft] def kCoreRound(sym: DataFrame, k: Int): DataFrame = {
    val keep = sym.groupBy("_s").agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") >= k)
      .select(col("_s").as("_k"))
    sym
      .join(keep.withColumnRenamed("_k", "_s"), Seq("_s"), "left_semi")
      .join(keep.withColumnRenamed("_k", "_d"), Seq("_d"), "left_semi")
  }

  /** Depth-bounded k-core peeling over the undirected simplification of
    * an edge list — the density filter of the graph-quality family:
    * the k-core (maximal subgraph with min degree ≥ k) separates
    * organically-linked hubs from pendant/chain spam structure, and
    * peeling DEPTH itself is a quality signal (how many rounds a node
    * survives). A FIXED `rounds` count keeps the operator replayable
    * (the [[labelPropagationMin]] trade): each round drops every node
    * whose current degree is below k, together with its edges; after
    * enough rounds the state is exactly the k-core, and after r rounds
    * it is the round-r peel state, which the oracle unrolls.
    *
    * Scale shape: round k is ONE degree aggregate over the surviving
    * symmetric adjacency (ids only — 8-byte longs at ≥ `dictThreshold`
    * nodes) + two semi-joins filtering edge endpoints against the keep
    * set, a materialization cutting the iteration lineage. Output:
    * `(node STRING, deg BIGINT)` — degrees WITHIN the surviving
    * subgraph after the last round; peeled and isolated nodes emit
    * nothing.
    */
  def kCoreBounded(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(k >= 1, s"kCoreBounded: k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 16,
      s"kCoreBounded: rounds must be in [1, 16], got $rounds")
    val ids = GraphIds(
      undirected(endpoints(edges, srcCol, dstCol).filter(col("_s") =!= col("_d"))),
      "_u", "_v", dictThreshold)
    val ce = ids.edges
    var sym = Materialize.local(ce.select(col("_u").as("_s"), col("_v").as("_d"))
      .unionByName(ce.select(col("_v").as("_s"), col("_u").as("_d"))))
    for (_ <- 0 until rounds) {
      sym = Materialize.local(kCoreRound(sym, k))
    }
    val out = sym.groupBy(col("_s")).agg(count(lit(1)).as("deg"))
    ids.decode(out, "_s" -> "node").select(col("node"), col("deg"))
  }

  /** One synchronous min-label round — factored lazy for the longs-only
    * spec pin: every node's next label is the `min` over its neighbors'
    * labels (the symmetric adjacency joined to the current labels on the
    * source) together with its own label, as ONE aggregate grouped by
    * node; the own-label rows ride the union, so isolated nodes keep
    * their label. The caller checkpoints.
    */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("_v", "_s"), Seq("_s"))
      .select(col("_d").as("_v"), col("_l"))
      .unionByName(labels.select(col("_v"), col("_l")))
      .groupBy(col("_v")).agg(min(col("_l")).as("_l"))

  /** Synchronous min-label propagation over the undirected
    * simplification of an edge list, a FIXED number of rounds — the
    * depth-bounded community/component labeling a curation pipeline
    * uses when full connected components ([[connectedComponentsMin]],
    * which [[Dedup.connectedComponents]] runs on dup pairs) is more
    * convergence than the use case needs: after r rounds every node
    * carries the minimum node id within undirected distance r, so
    * labels are exact, reproducible set algebra (and converge to
    * connected components once r reaches the graph diameter).
    *
    *   l₀(v) = v;  l_{k+1}(v) = min(l_k(v), min_{u ∈ N(v)} l_k(u))
    *
    * Scale shape: the symmetric adjacency — distinct `(_s, _d)` rows in
    * both directions, one `(v, v)` row for a self-loop — is
    * materialized ONCE, and its `_s` column is the node set, so no node
    * frame is built and no count runs below the dictionary threshold
    * (the checkpoint's row count bounds the node count). Round 1 is
    * one `min(least(_s, _d))` aggregate grouped by `_s`, with no join:
    * l₁(v) = min(v, min N(v)). Rounds 2..r are each one join of the
    * adjacency to the current labels plus ONE `min` aggregate per node
    * over neighbor labels ∪ own label ([[lpaRound]]; ids only,
    * map-side combined): three shuffles when both sides are large, and
    * a single shuffle when either side is under the session's
    * broadcast threshold — every materialization carries its stored
    * size ([[org.apache.spark.sql.graft.Materialize.local]]), so the
    * planner broadcasts the small side up front. So r rounds are r + 1
    * materializations. The checkpoint cuts the iteration lineage (the
    * [[pageRankScaled]] discipline). At ≥ `dictThreshold` nodes the
    * rounds carry 8-byte longs; the dict is ORDER-PRESERVING (long-min
    * ≡ string-min), so the min-label contract survives encoding
    * exactly — the [[connectedComponentsMin]] argument. Fixed `rounds`
    * keeps the operator replayable; convergence detection is
    * deliberately a non-goal (same trade as every operator in this
    * file).
    *
    * Output: `(node STRING, label STRING)` over the edge universe.
    */
  def labelPropagationMin(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"labelPropagationMin: rounds must be in [1, 16], got $rounds")
    // one pass over the edge list (a lazy upstream — the ER op's
    // verified pairs — runs once) emits both directions; a self-loop's
    // two copies collapse to the one (v, v) row that keeps a
    // self-loop-only node in the universe, and a (v, v) row is a no-op
    // for every min below
    val e = endpoints(edges, srcCol, dstCol)
    val ids = GraphIds.symmetric(
      e.select(explode(array(array(col("_s"), col("_d")), array(col("_d"), col("_s"))))
          .as("_p"))
        .select(col("_p")(0).as("_s"), col("_p")(1).as("_d"))
        .distinct(),
      dictThreshold)
    val sym = ids.edges
    var labels = Materialize.local(sym.groupBy(col("_s").as("_v"))
      .agg(min(least(col("_s"), col("_d"))).as("_l")))
    for (_ <- 1 until rounds) {
      labels = Materialize.local(lpaRound(sym, labels))
    }
    ids.decode(labels, "_v" -> "node", "_l" -> "label").select(col("node"), col("label"))
  }

  /** EXACT connected components — min-label propagation with POINTER
    * JUMPING, iterated TO CONVERGENCE: the guaranteed-exact complement
    * to [[labelPropagationMin]]'s fixed-round trade, for the callers
    * that need true components regardless of diameter (entity
    * resolution over long duplication chains, canonical-id assignment
    * where a missed merge is a correctness bug, not an approximation).
    *
    * Round k does three things: (a) ONE symmetric edge shuffle folds
    * neighbor minima in (ids only, map-side-combined `min`); (b) ONE
    * label-table self-join compresses paths — `l(v) ← l(l(v))` — which
    * HALVES every node's remaining hop distance to its component's
    * minimum, so convergence takes O(log diameter) rounds where plain
    * propagation needs the diameter itself; (c) one changed-label
    * count decides termination — cheap against the round's eager
    * checkpoint, and the reason the result is exact rather than
    * schedule-dependent. The fixpoint is provably "every node labeled
    * its component minimum": labels start at self, never leave the
    * component, never increase, and a fixpoint of the symmetric min
    * step forces label equality across every edge.
    *
    * Refuses loudly at `maxRounds` (the [[harmonicCentralityScaled]]
    * tripwire convention) — with jumping, 24 rounds cover diameters
    * beyond 10⁶, so hitting the cap means something is wrong with the
    * input, not the budget. Determinism: the converged labeling is a
    * pure property of the graph (the per-component minimum), so the
    * oracle never needs to replay the schedule.
    *
    * Label compression is ADAPTIVE (`dictThreshold`, the file-header
    * contract): at or above it, node strings dictionary-encode ONCE to
    * their order-preserving dense rank ([[orderPreservingIdDict]] —
    * long-min ≡ string-min, so the MIN contract survives), every round
    * shuffles 8-byte longs only ([[ccMinRound]], spec-pinned), and the
    * final table translates back. Below it the strings ride the same
    * [[ccMinRound]] directly — the dict's fixed stages cost more than
    * a few-MB label table's string bytes (measured +3 s at sf0.1).
    *
    * Output: `(node STRING, label STRING)` over the edge universe.
    */
  def connectedComponentsMin(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 24,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"connectedComponentsMin: maxRounds must be in [1, 64], got $maxRounds")
    val ids = GraphIds(endpoints(edges, srcCol, dstCol), "_s", "_d", dictThreshold)
    ids.decode(componentsMin(ids, maxRounds), "_v" -> "node", "_l" -> "label")
      .select(col("node"), col("label"))
  }

  /** The loop behind [[connectedComponentsMin]], over `ids` built on
    * `(_s, _d)` endpoints: `(_v, _l)` for every node, `_l` its
    * component's minimum in the ids' own type — the dictionary longs,
    * the strings, or whatever type the caller's endpoints carry when
    * it builds `ids` without a dictionary ([[Dedup.connectedComponents]]
    * hands it long ids, so its minimum is numeric). Runs [[ccMinRound]]
    * to convergence and refuses at `maxRounds` (in [1, 64]).
    */
  private[graft] def componentsMin(ids: GraphIds, maxRounds: Int = 24): DataFrame = {
    val symL = ids.edges.filter(col("_s") =!= col("_d"))
    val sym = Materialize.local(symL
      .unionByName(symL.select(col("_d").as("_s"), col("_s").as("_d")))
      .distinct())
    // a projection of the materialized node set: nothing to re-materialize
    var labels = ids.nodes.select(col("_v"), col("_v").as("_l"))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // checkpoint BEFORE the self-join (inside ccMinRound): the jump
      // reads prop twice (rows + the label→label lookup), and left
      // lazy the propagate join would execute twice per round
      val jumped = ccMinRound(sym, labels)
      val changed = jumped
        .join(labels.select(col("_v"), col("_l").as("_lp")), Seq("_v"))
        .filter(col("_l") =!= col("_lp")).count()
      labels = jumped
      converged = changed == 0L
      round += 1
    }
    require(converged,
      s"connectedComponentsMin: labels still moving after $maxRounds rounds — " +
        "with pointer jumping that indicates malformed input (e.g. unstable " +
        "ids), not an undersized budget; inspect the edge list or raise " +
        "maxRounds knowingly")
    labels
  }

  /** One propagate-and-jump round over encoded labels — factored so the
    * longs-only shuffle contract is spec-inspectable (works identically
    * on the small-input string branch: every step is type-agnostic min
    * algebra). Inputs must be checkpointed by the caller (the loop's
    * lineage-cut discipline); the propagate result checkpoints here
    * because the jump self-join reads it twice.
    */
  private[graft] def ccMinRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val fromNbr = sym
      .join(labels.select(col("_v").as("_s"), col("_l")), Seq("_s"))
      .groupBy(col("_d")).agg(min(col("_l")).as("_nl"))
      .select(col("_d").as("_v"), col("_nl"))
    val prop = Materialize.local(labels.join(fromNbr, Seq("_v"), "left")
      .select(col("_v"), least(col("_l"), coalesce(col("_nl"), col("_l"))).as("_l")))
    Materialize.local(prop
      .join(prop.select(col("_v").as("_l"), col("_l").as("_l2")), Seq("_l"), "left")
      .select(col("_v"), coalesce(col("_l2"), col("_l")).as("_l")))
  }

  /** Order-preserving dense ids for a distinct single-column `_v`
    * STRING frame: `(_v, _id)` with `_id` the 0-based rank of `_v` in
    * string order — long-min over ids ≡ string-min over values
    * ([[globalRank]] over `_v`).
    */
  private[graft] def orderPreservingIdDict(
      nodes: DataFrame,
      buckets: Int = 0 // 0 → the session's shuffle-partition count
  ): DataFrame = {
    // default to the session's shuffle parallelism: a fixed large bucket
    // count would CARRY its partitioning into every downstream round
    // (measured 256-task stages against a 32-partition session — a 5×
    // fixed-latency tax on every iteration at gate scale)
    val nb = if (buckets > 0) buckets
             else nodes.sparkSession.sessionState.conf.numShufflePartitions
    globalRank(nodes, nb, Seq("_v"), Seq("_v"), "orderPreservingIdDict")
      .withColumnRenamed("_rank", "_id")
  }

  /** The global 0-based rank `_rank` of `df`'s rows in `order` (a total
    * order: ties would rank arbitrarily), returned lazily with the
    * `keep` columns. The rank rides a range-sampled two-level prefix:
    * `repartitionByRange` splits the order into `buckets` sampled
    * ranges, each range sorts only its own slice, local positions come
    * from `monotonically_increasing_id` over the sorted slice
    * (materialized, which freezes partition ids and positions), and
    * per-slice (count, min-id) stats — at most `buckets` rows — prefix
    * into global offsets. No task sorts more than ~n/buckets rows, for
    * any key distribution. `op` names the caller in the tripwire.
    */
  private[graft] def globalRank(df: DataFrame, buckets: Int, order: Seq[String],
      keep: Seq[String], op: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val parted = Materialize.local(df
      .repartitionByRange(buckets, order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .select(keep.map(col) ++ Seq(spark_partition_id().as("_p"),
        monotonically_increasing_id().as("_mid")): _*))
    val stats = parted.groupBy(col("_p"))
      .agg(count(lit(1)).as("_c"), min(col("_mid")).as("_m0"),
        max(col("_mid")).as("_m1"))
      // TRIPWIRE: the offset arithmetic assumes the mono id increments by
      // exactly 1 per row within a partition. Spark only contracts
      // monotone-and-unique; if that ever changes, ranks would silently
      // corrupt — fail loudly instead (a free check in this aggregate)
      .withColumn("_consec", col("_m1") - col("_m0") + 1 === col("_c"))
      .withColumn("_off",
        coalesce(sum(col("_c")).over(w.orderBy("_p")
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select("_p", "_m0", "_off", "_consec")
    require(stats.filter(!col("_consec")).isEmpty,
      s"$op: monotonically_increasing_id was not consecutive within a " +
        "partition — the local-position arithmetic is invalid on this " +
        "Spark build; switch the local rank to a per-partition row_number " +
        "before trusting its output")
    parted
      .join(broadcast(stats), Seq("_p"))
      .select(keep.map(col) :+ (col("_off") + (col("_mid") - col("_m0"))).as("_rank"): _*)
  }

  /** One Katz walk round — factored lazy for the longs-only spec pin:
    * length-(k+1) walk counts per destination from the length-k counts.
    * The caller checkpoints.
    */
  private[graft] def walkRound(e: DataFrame, walks: DataFrame): DataFrame =
    e.join(walks.withColumnRenamed("_v", "_s"), Seq("_s"))
      .groupBy(col("_d"))
      .agg(sum(col("_w")).as("_w"))
      .select(col("_d").as("_v"), col("_w"))

  /** Truncated Katz centrality over a directed edge list — the third
    * classical link-quality prior (with [[pageRankScaled]] and
    * [[harmonicCentralityScaled]]): every walk INTO a node counts,
    * attenuated by length,
    *
    *   katz_e6(v) = Σ_{k=1..rounds} a_k · w_k(v)
    *
    * where `w_k(v)` is the number of length-k directed walks ending at
    * v (multi-edges are parallel walks, so they COUNT — the multigraph
    * A^k semantics, unlike the distance-based harmonic) and the
    * attenuation is exact integer ppm: `a_1 = alphaPpm`,
    * `a_k = (a_{k-1} · alphaPpm) div 10⁶`, computed driver-side. The
    * truncation replaces the spectral convergence condition
    * (α < 1/λ_max) with a fixed reproducible round count — the same
    * trade [[pageRankScaled]] makes against convergence detection.
    *
    * Scale shape: round k is ONE shuffle of the edge list joined to the
    * previous walk counts (ids + longs, never payloads — 8-byte long
    * ids at ≥ `dictThreshold` nodes) with map-side combine,
    * a materialization cutting the iteration lineage; the final
    * weighted sum runs in DECIMAL(38,0) and casts to BIGINT
    * ANSI-checked (walk counts grow like λ_max^k — at web-graph scale
    * with small `rounds` the attenuated sum fits int64 comfortably;
    * overflow fails loudly rather than wrapping).
    *
    * Output: `(node STRING, katz_e6 BIGINT)` over the edge-list node
    * universe (0 when nothing walks into the node within the bound).
    */
  def katzCentralityScaled(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      alphaPpm: Long = 100000L,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"katzCentralityScaled: rounds must be in [1, 8], got $rounds")
    require(alphaPpm > 0L && alphaPpm < 1000000L,
      s"katzCentralityScaled: alphaPpm must be in (0, 1e6), got $alphaPpm")
    val ids = GraphIds(endpoints(edges, srcCol, dstCol), "_s", "_d", dictThreshold)
    // attenuation ladder, driver-side exact integers
    val atten = Iterator.iterate(alphaPpm)(a => a * alphaPpm / 1000000L)
      .take(rounds).toSeq
    var walks = ids.nodes.select(col("_v"), lit(1L).as("_w")) // w_0 ≡ 1
    val d38 = DecimalType(38, 0)
    var contribs = Seq.empty[DataFrame]
    for (k <- 1 to rounds) {
      walks = Materialize.local(walkRound(ids.edges, walks))
      contribs = contribs :+ walks.select(col("_v"),
        (col("_w").cast(d38) * lit(atten(k - 1)).cast(d38)).as("_c"))
    }
    val total = contribs.reduce(_ unionByName _)
      .groupBy(col("_v")).agg(sum(col("_c")).as("_k"))
    val out = ids.nodes.join(total, Seq("_v"), "left")
      .select(col("_v"),
        coalesce(col("_k"), lit(0).cast(d38)).cast(LongType).as("katz_e6"))
    ids.decode(out, "_v" -> "node").select(col("node"), col("katz_e6"))
  }

  /** α_m·10⁶ for the ANF register count — the published HLL constants
    * (0.673 / 0.697 / 0.709 for m = 16/32/64, the asymptotic formula
    * above), floored; a driver literal shared with oracles (the
    * [[Profile.hllAlphaPpm1024]] discipline).
    */
  private[graft] def anfAlphaPpm(m: Int): Long = m match {
    case 16 => 673000L
    case 32 => 697000L
    case 64 => 709000L
    case _ => math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
  }

  /** The exact-integer ANF estimate numerator α_m·m²·2⁶² as a decimal
    * string — shared verbatim with the DuckDB oracle (HUGEINT there,
    * DECIMAL(38,0) here), so the two engines cannot disagree on the
    * fold.
    */
  private[graft] def anfNumLiteral(m: Int): String =
    (BigInt(anfAlphaPpm(m)) * BigInt(m.toLong * m) * (BigInt(1) << 62)).toString

  /** The raw-HLL estimate over a register BANK column `_regs`
    * (array<tinyint>, length m) as SQL text: the indicator Σ 2^(−M_j)
    * scales by 2⁶² into a pure integer (register M contributes
    * 2^(62−M); an empty slot is M = 0, i.e. 2⁶²), and
    *
    *   est = (α_m·m²·2⁶²) div (S · 10⁶)
    *
    * — all DECIMAL(38,0), integral-divided to BIGINT. Raw estimator
    * only (no small-range correction — ln() stays out of compared
    * surfaces by policy); on sets ≪ 2.5m the raw estimate sits at its
    * ~α·m floor (S ≈ m·2⁶² with nearly-all-empty registers), the bias
    * linear counting (`ball{t}_lc_est`) corrects — measured at m = 64 on
    * the gate lattice: exact balls of 3.0/6.0/8.9 members at depths
    * 1/2/3 read ~46/48/50 raw.
    */
  private[graft] def anfEstimateSql(m: Int): String =
    s"CAST(CAST('${anfNumLiteral(m)}' AS DECIMAL(38,0)) div " +
      "(aggregate(_regs, CAST(0 AS DECIMAL(38,0)), " +
      "(acc, r) -> acc + CAST(shiftleft(1L, 62 - CAST(r AS INT)) AS DECIMAL(38,0))) " +
      "* CAST(1000000 AS DECIMAL(38,0))) AS BIGINT)"

  /** The HLL linear-counting table lc(V) = round(m·ln(m/V)) for V ∈
    * [1, m] — the standard small-range correction (Flajolet et al.
    * 2007; the HyperLogLog paper applies it when the raw estimate is
    * ≤ 2.5m and any register is empty). `ln` is banned from compared
    * surfaces by policy, so the m transcendental evaluations happen
    * ONCE on the JVM (StrictMath, bit-identical everywhere) and both
    * engines read the SAME m-entry literal — the GateTables idf
    * discipline. Index V (1-based) = the corrected estimate when V
    * registers are empty; lc(m) = 0 (nothing seen).
    */
  private[graft] def anfLinearCountTable(m: Int): IndexedSeq[Long] =
    (1 to m).map(vv => math.round(m * StrictMath.log(m.toDouble / vv)))

  /** Initial ANF register banks, one per node: FNV-1a of the ORIGINAL
    * node string (never the dict id — the hash must be representation-
    * independent so the dict and string branches agree bit-for-bit),
    * bucket = low log₂m hash bits, ρ = leading-zero rank of the
    * remaining 64−log₂m bits, bank = m tinyints with ρ at the bucket.
    * Input `(_v STRING)`; output `(_v, _regs ARRAY<TINYINT>)`.
    */
  private[graft] def anfInitRegisters(nodes: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val log2m = java.lang.Integer.numberOfTrailingZeros(m)
    val h = ColumnBridge.column(graft.plans.FnvHash64(
      ColumnBridge.expression(concat(col("_v"), lit(":anf")))))
    nodes
      .select(col("_v"), pmod(h, lit(m.toLong)).as("_bkt"),
        shiftrightunsigned(h, log2m).as("_rem"))
      .withColumn("_rho", expr(Profile.hllRhoCaseSql("_rem", 64 - log2m)))
      .select(col("_v"),
        expr(s"transform(sequence(0, ${m - 1}), " +
          "i -> CAST(IF(i = _bkt, _rho, 0) AS TINYINT))").as("_regs"))
  }

  /** One HyperBall propagation round — factored lazy for the spec pins:
    * B_{t+1}(u) = {u} ∪ ⋃_{(u,w)∈E} B_t(w) lifts to register banks as
    * "max-merge my neighbors' banks into mine". Shape: join the edge
    * list to the state on the destination (the state side projects
    * `_n` AS the join key, so its hash partitioning carries through
    * the alias and the pre-partitioned edge side matches — no
    * exchange), `graft_elemmax`-aggregate the per-source neighbor
    * banks (map-side partial merge: one bank per node per input
    * partition regardless of in-degree — the round's ONE shuffle,
    * bounded by touched nodes), then fold them into the state with a
    * co-partitioned left join + elementwise `zip_with(greatest)`. The
    * state itself never re-shuffles after round 1: it stays hash-
    * partitioned by `_n` from round to round (the union+groupBy
    * alternative re-exchanges all n·m state bytes EVERY round). The
    * caller checkpoints.
    */
  private[graft] def anfRound(edgesByDst: DataFrame, state: DataFrame): DataFrame = {
    graft.plans.ElemMaxAggregate.register(state.sparkSession)
    val nbr = edgesByDst
      .join(state.select(col("_n").as("_dst"), col("_regs")), Seq("_dst"))
      .select(col("_src").as("_n"), col("_regs"))
      .groupBy(col("_n"))
      .agg(call_function("graft_elemmax", col("_regs")).as("_nregs"))
    state.join(nbr, Seq("_n"), "left")
      .select(col("_n"),
        coalesce(expr("zip_with(_regs, _nregs, (a, b) -> greatest(a, b))"),
          col("_regs")).as("_regs"))
  }

  /** HyperBall — the approximate neighborhood function (Boldi, Rosa &
    * Vigna 2011; Palmer et al.'s ANF, 2002): for every node u,
    * ESTIMATED out-ball sizes |B_t(u)| = |{v : dist(u→v) ≤ t}| for
    * t = 1..maxDepth from propagated HLL register banks, plus the
    * derived approximate harmonic centrality
    *
    *   h_ppm(u) = Σ_t (max(0, est_t − est_{t−1}) · 10⁶) div t,  est₀ = 1
    *
    * (feed REVERSED edges to approximate the incoming-path harmonic of
    * [[harmonicCentralityScaled]]). This is the SCALE PATH past exact
    * bounded BFS: the exact operator's frontier is the (u, v)
    * reachable-PAIR set — toward n·|ball| rows, the quadratic wall its
    * frontier tripwire refuses — while HyperBall's whole state is one
    * m-byte register bank per node, n·m bytes at ANY depth, because
    * ball-union lifts to element-wise register max. Per round: ONE
    * join of the edge list (pre-partitioned by destination, reused
    * every round) to the state, one map-side-combined
    * [[graft.plans.ElemMaxAggregate]] over the neighbor banks, and a
    * co-partitioned `zip_with(greatest)` fold into the state — the
    * state never re-shuffles after round 1 (see [[anfRound]]); at
    * ≥ `dictThreshold` nodes ids ride 8-byte dict longs. Registers
    * hash the ORIGINAL node strings, so both branches produce
    * identical banks.
    *
    * Everything is exact integer arithmetic over deterministic FNV
    * registers — register state at round t is a pure function of the
    * exact ball B_t(u) (max-merge ≡ set-union), so an external engine
    * replays every estimate bit-for-bit from unrolled reachability.
    * Accuracy is the raw-HLL ±1.04/√m on LARGE balls; tiny balls read
    * the estimator's ~α·m small-range floor, so each level ALSO emits
    * the standard linear-counting correction `ball{t}_lc_est`
    * ([[anfLinearCountTable]] — applied when raw ≤ 2.5m and any
    * register is empty, the Flajolet small-range rule; the raw column
    * stays for consumers that want the uncorrected estimator, and the
    * harmonic fold stays on the raw ladder so its telescoping deltas
    * keep one consistent estimator). Negative per-level deltas —
    * possible wherever estimates wobble — are clamped at 0 identically
    * on both engines.
    *
    * Output: `(node STRING, ball1_est..ball{maxDepth}_est BIGINT,
    * ball1_lc_est..ball{maxDepth}_lc_est BIGINT, harmonic_est_ppm
    * BIGINT)`, one row per node in the edge universe.
    */
  def anfHyperBall(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDepth: Int = 3,
      m: Int = 64,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 16,
      s"anfHyperBall: maxDepth must be in [1, 16], got $maxDepth")
    require(m >= 16 && m <= 1024 && Integer.bitCount(m) == 1,
      s"anfHyperBall: m must be a power of two in [16, 1024], got $m")
    val ids = GraphIds(
      endpoints(edges, srcCol, dstCol, "_src", "_dst")
        .filter(col("_src") =!= col("_dst")) // self-loops: u is in every B_t(u) already
        .distinct(),
      "_src", "_dst", dictThreshold)
    // the join side every round reuses: partitioned by destination once
    val eByDst = Materialize.local(ids.edges.repartition(col("_dst")))
    // registers hash the original strings, before any encoding
    var state = Materialize.local(
      ids.encode(anfInitRegisters(ids.nodeStrings, m), "_v").withColumnRenamed("_v", "_n"))
    var ests = Seq.empty[DataFrame]
    for (t <- 1 to maxDepth) {
      state = Materialize.local(anfRound(eByDst, state))
      ests = ests :+ state.select(col("_n"),
        expr(anfEstimateSql(m)).as(s"ball${t}_est"),
        expr("aggregate(_regs, 0L, (acc, r) -> acc + IF(r = 0, 1L, 0L))")
          .as(s"_vz$t"))
    }
    val joined = ests.reduce(_.join(_, Seq("_n")))
    val harmonic = (1 to maxDepth).map { t =>
      val prev = if (t == 1) "1L" else s"ball${t - 1}_est"
      s"(greatest(0L, ball${t}_est - $prev) * 1000000L) div ${t}L"
    }.mkString(" + ")
    // small-range correction off the shared literal table: raw ≤ 2.5m
    // with empty registers reads the estimator's ~α·m floor; linear
    // counting on the empty-register count V replaces it (raw kept —
    // both views are the HLL contract, pick per consumer)
    val lcCol = typedLit(anfLinearCountTable(m))
    def lc(t: Int) =
      when(col(s"ball${t}_est") * lit(10L) <= lit(25L * m) &&
          col(s"_vz$t") > lit(0L),
        element_at(lcCol, col(s"_vz$t").cast("int")))
      .otherwise(col(s"ball${t}_est"))
    val out = ids.nodes.withColumnRenamed("_v", "_n").join(joined, Seq("_n"))
      .withColumn("harmonic_est_ppm", expr(s"CAST($harmonic AS BIGINT)"))
    val cols = (1 to maxDepth).map(t => col(s"ball${t}_est")) ++
      (1 to maxDepth).map(t => lc(t).as(s"ball${t}_lc_est")) :+
      col("harmonic_est_ppm")
    ids.decode(out, "_n" -> "node").select(col("node") +: cols: _*)
  }

  /** The global neighborhood function and effective diameter off an
    * [[anfHyperBall]] per-node table: N(t) = Σ_u est|B_t(u)| (the
    * estimated count of reachable pairs within t), each level's share
    * of N(maxDepth) in ppm, and the EFFECTIVE DIAMETER — the smallest
    * t whose cumulative pair count reaches 90% of the deepest level's
    * (the HyperBall/ANF headline statistic; exact diameters are both
    * uncomputable at scale and dominated by one outlier path). Sums
    * run in DECIMAL(38,0) — int64 pair counts overflow past ~3·10⁹
    * nodes of mutual reach — and every derived column is integer
    * arithmetic, replayable externally. The BIGINT `npairs_est` output
    * column re-imposes the int64 ceiling, so its cast is tripwired: a
    * value past Long.MaxValue is a hard error naming the remedy (read
    * the decimal sums), never a silent non-ANSI null.
    *
    * All frames after the input aggregate are ≤ maxDepth rows
    * (metadata-sized; the broadcast joins are 1-row). Output:
    * `(t BIGINT, npairs_est BIGINT, share_ppm BIGINT,
    * eff_diameter BIGINT)`, one row per level.
    */
  def effectiveDiameterFromAnf(anf: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 16,
      s"effectiveDiameterFromAnf: maxDepth must be in [1, 16], got $maxDepth")
    val d38 = DecimalType(38, 0)
    val sums = anf.agg(
      sum(col("ball1_est").cast(d38)).as("b1"),
      (2 to maxDepth).map(t => sum(col(s"ball${t}_est").cast(d38)).as(s"b$t")): _*)
    val stackArgs = (1 to maxDepth).map(t => s"${t}L, b$t").mkString(", ")
    val levels = sums.select(
      expr(s"stack($maxDepth, $stackArgs) AS (t, _np)"))
    val tot = sums.select(col(s"b$maxDepth").as("_tot"))
    // two consumers: the rows and the min-t fold
    val shares = Materialize.local(levels.crossJoin(broadcast(tot))
      .select(col("t"), col("_np"),
        expr("(_np * CAST(1000000 AS DECIMAL(38,0))) div _tot").as("share_ppm")))
    val eff = shares.filter(col("share_ppm") >= 900000L)
      .agg(min(col("t")).as("eff_diameter"))
    // the DECIMAL(38,0) sums exist because int64 pair counts overflow
    // past ~3e9 mutually-reachable nodes; a bare non-ANSI cast back to
    // BIGINT would silently null at exactly that scale, so the cast is
    // tripwired — refuse loudly with the remedy (keep decimal) named
    val fitsInt64 = col("_np") <= lit(Long.MaxValue).cast(d38)
    val guardedNp = when(
      assert_true(fitsInt64, lit("effectiveDiameterFromAnf: npairs_est " +
        "exceeds int64 — re-run consuming the DECIMAL(38,0) sums " +
        "directly instead of the BIGINT output column")).isNull,
      col("_np").cast(LongType))
    shares.crossJoin(broadcast(eff))
      .select(col("t"), guardedNp.as("npairs_est"),
        col("share_ppm"), col("eff_diameter"))
      .orderBy("t")
  }

  /** Every triangle of a canonical edge list `(_u < _v)` exactly once,
    * as `(_c, _x, _y)` with `_x < _y`, given its degree table
    * `(_n, _deg)`: each edge is directed from its (degree, node)-smaller
    * endpoint to the larger (materialized — the wedge self-join reads
    * it twice), wedges form at the orientation-minimal vertex `_c`, and
    * a semi-join against the canonical edges closes them.
    */
  private def triangleList(ce: DataFrame, deg: DataFrame): DataFrame = {
    val uFirst = col("_du") < col("_dv") ||
      (col("_du") === col("_dv") && col("_u") < col("_v"))
    val oriented = Materialize.local(ce
      .join(deg.select(col("_n").as("_u"), col("_deg").as("_du")), Seq("_u"))
      .join(deg.select(col("_n").as("_v"), col("_deg").as("_dv")), Seq("_v"))
      .select(when(uFirst, col("_u")).otherwise(col("_v")).as("_lo"),
        when(uFirst, col("_v")).otherwise(col("_u")).as("_hi")))
    oriented.select(col("_lo").as("_c"), col("_hi").as("_x"))
      .join(oriented.select(col("_lo").as("_c"), col("_hi").as("_y")), Seq("_c"))
      .filter(col("_x") < col("_y"))
      .join(ce.select(col("_u").as("_x"), col("_v").as("_y")), Seq("_x", "_y"), "left_semi")
  }

  /** Triangle SUPPORT per canonical undirected edge — shared by every
    * [[kTrussBounded]] round: the degree-ordered orientation bounds
    * each oriented out-list by O(√m), [[triangleList]] finds each
    * triangle once (the [[triangleCountsScaled]] shape), and each
    * triangle credits its THREE edges (re-canonicalized
    * `least/greatest` — orientation order is degree order, not id
    * order). Output:
    * `(_u, _v, _sup BIGINT)` — edges with zero support are absent.
    */
  private[graft] def edgeSupport(ce: DataFrame): DataFrame = {
    val deg = ce.select(col("_u").as("_n")).unionByName(ce.select(col("_v").as("_n")))
      .groupBy("_n").agg(count(lit(1)).as("_deg"))
    triangleList(ce, deg)
      .select(explode(array(
        struct(least(col("_c"), col("_x")).as("_u"),
          greatest(col("_c"), col("_x")).as("_v")),
        struct(least(col("_c"), col("_y")).as("_u"),
          greatest(col("_c"), col("_y")).as("_v")),
        struct(col("_x").as("_u"), col("_y").as("_v")))).as("_e"))
      .select(col("_e._u").as("_u"), col("_e._v").as("_v"))
      .groupBy("_u", "_v").agg(count(lit(1)).as("_sup"))
  }

  /** Bounded k-truss (Cohen 2008) — the TRIANGLE-cohesion subgraph
    * k-core can't see: each peeling round recomputes per-edge triangle
    * support over the surviving edge set and drops every edge in fewer
    * than k−2 triangles (a k-truss edge needs k−2 co-triangle
    * neighbors). A star graph is a (k−1)-core at any hub degree but a
    * 2-truss only — community detection and spam-farm filtering use
    * exactly that separation. Fixed `rounds` (the [[kCoreBounded]]
    * bounded-rounds trade: reproducible and replayable, no convergence
    * detection — once stable, further rounds are no-ops), one final
    * support pass on the survivors so the reported counts describe the
    * OUTPUT subgraph, not the entry to the last filter.
    *
    * Scale shape: each round is the [[triangleCountsScaled]] wedge
    * machinery on the CURRENT edge set — degree-ordered orientation
    * keeps every oriented out-list O(√m), the wedge join is the wide
    * shuffle and it SHRINKS as edges peel; ids ride 8-byte dict longs
    * at ≥ `dictThreshold` nodes and the dict is order-preserving, so
    * the canonical (u < v) invariant and the orientation tie-break
    * pick identical edges on either branch. Multi-edges collapse,
    * self-loops drop.
    *
    * Output: `(u STRING, v STRING, support BIGINT)` — the edges
    * surviving `rounds` peels, with support over the output subgraph.
    */
  def kTrussBounded(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(k >= 3, s"kTrussBounded: k must be >= 3, got $k")
    require(rounds >= 1 && rounds <= 16,
      s"kTrussBounded: rounds must be in [1, 16], got $rounds")
    val ids = GraphIds(
      undirected(endpoints(edges, srcCol, dstCol).filter(col("_s") =!= col("_d"))),
      "_u", "_v", dictThreshold)
    var cur = ids.edges
    for (_ <- 0 until rounds) {
      val sup = edgeSupport(cur)
      cur = Materialize.local(cur.join(sup, Seq("_u", "_v"), "left")
        .filter(coalesce(col("_sup"), lit(0L)) >= (k - 2).toLong)
        .select(col("_u"), col("_v")))
    }
    val out = cur.join(edgeSupport(cur), Seq("_u", "_v"), "left")
      .select(col("_u"), col("_v"), coalesce(col("_sup"), lit(0L)).as("support"))
    ids.decode(out, "_u" -> "u", "_v" -> "v").select(col("u"), col("v"), col("support"))
  }

  /** One random-walk advance — factored lazy for the spec pins. TWO
    * equi-joins, deliberately: first the out-degree table (computes
    * the step's neighbor rank `_r` from the walk's precomputed
    * entropy), then the `(_s, _rank)`-keyed neighbor index — a
    * one-row match per walk. The single-join alternative (join the
    * full adjacency on `_s`, filter to the picked rank) generates
    * deg(cur) rows per walk inside the join — quadratic pain on hub
    * nodes, the exact skew a web graph guarantees. Walks at dead-end
    * nodes drop out via the inner joins (walk termination).
    */
  private[graft] def walkStep(
      cur: DataFrame,
      outdeg: DataFrame,
      nbrIdx: DataFrame,
      t: Int
  ): DataFrame =
    cur
      .join(outdeg.withColumnRenamed("_s", "_cur"), Seq("_cur"))
      .withColumn("_r", expr(s"shiftrightunsigned(element_at(_hs, $t), 1) % _od"))
      .drop("_od")
      .join(nbrIdx.select(col("_s").as("_cur"), col("_rank").as("_r"),
        col("_d").as("_nxt")), Seq("_cur", "_r"))
      .select(col("_start"), col("_k"), col("_hs"), col("_nxt").as("_cur"))

  /** Deterministic uniform random walks over a directed edge list —
    * the graph-embedding CORPUS GENERATOR (DeepWalk, Perozzi et al.
    * 2014; the walk corpus is what skip-gram training consumes):
    * `walksPerNode` walks of up to `steps` steps start at every node,
    * each step moving to a uniformly-pseudo-random out-neighbor.
    * Multi-edges collapse first (uniform over DISTINCT neighbors);
    * walks TERMINATE at dead-end nodes (rows stop, no self-padding).
    *
    * "Random" is deterministic and engine-replayable, the
    * [[anfHyperBall]] discipline: each walk precomputes its per-step
    * entropy h_t = FNV-1a(start ⊕ '#' ⊕ k ⊕ '#' ⊕ seed ⊕ '#' ⊕ t)
    * ONCE from the ORIGINAL start string (never the dict id), and
    * step t picks neighbor rank (h_t ≫ 1) mod outdeg(cur) — the
    * unsigned right shift canonicalizes the signed 64-bit hash to a
    * value both engines reduce identically under ANY modulus (a raw
    * signed-vs-unsigned mod only agrees on power-of-two moduli).
    * Neighbor ranks are the per-source `row_number` in destination
    * order; the dictionary is order-preserving, so ranks — and hence
    * whole walks — are identical on both branches (spec-pinned).
    *
    * Scale shape: the neighbor index and out-degree table build once
    * (one window over the edge list, partitioned by source — bounded
    * by real out-degrees); each step shuffles only the live walk
    * state — fixed-width rows: two longs, an int, and the 8·`steps`-
    * byte entropy array — through two equi-joins with NO degree
    * fan-out (see [[walkStep]]), and a materialization cuts the
    * lineage per step. At ≥ `dictThreshold` nodes ids ride 8-byte
    * dict longs; start/node strings translate back once at the end.
    *
    * Output: `(start STRING, walk BIGINT, step BIGINT, node STRING)`
    * — step 0 is the start node itself; one row per visited position.
    */
  def randomWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      steps: Int,
      walksPerNode: Int = 1,
      seed: String = "",
      dictThreshold: Long = GraphDictThreshold
  ): DataFrame = {
    require(steps >= 1 && steps <= 64,
      s"randomWalks: steps must be in [1, 64], got $steps")
    require(walksPerNode >= 1 && walksPerNode <= 1024,
      s"randomWalks: walksPerNode must be in [1, 1024], got $walksPerNode")
    require(!seed.contains("#"),
      s"randomWalks: seed must not contain '#' (the entropy separator), got '$seed'")
    val ids = walkGraph(edges, srcCol, dstCol, dictThreshold)
    val outdeg = Materialize.local(ids.edges.groupBy("_s").agg(count(lit(1)).as("_od")))
    walkCorpus(ids, steps, walksPerNode, seed, Seq("_cur"))(
      (cur, nbrIdx, t) => walkStep(cur, outdeg, nbrIdx, t))
  }

  /** The walk operators' graph: distinct directed edges with self-loops
    * dropped, matching anfHyperBall and the oracle's src <> dst edge CTE
    * — a loop is not a pickable neighbor.
    */
  private def walkGraph(edges: DataFrame, srcCol: String, dstCol: String,
      dictThreshold: Long): GraphIds =
    GraphIds(endpoints(edges, srcCol, dstCol).filter(col("_s") =!= col("_d")).distinct(),
      "_s", "_d", dictThreshold)

  /** The walk driver [[randomWalks]] and [[node2vecWalks]] share: per-walk
    * entropy from the ORIGINAL start strings (before any encoding), the
    * start frame `(_start, _k, _hs, <startAs…>)` with every `startAs`
    * column set to the start node, the neighbor index (rank in
    * destination order — the order-preserving dict gives identical
    * ranks on either branch; built once), `steps` materialized
    * applications of `step(cur, nbrIdx, t)`, and the decoded corpus
    * `(start, walk, step, node)`.
    */
  private def walkCorpus(
      ids: GraphIds,
      steps: Int,
      walksPerNode: Int,
      seed: String,
      startAs: Seq[String]
  )(step: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def h(t: Int) = ColumnBridge.column(graft.plans.FnvHash64(
      ColumnBridge.expression(concat_ws("#", col("_v"), col("_k"),
        lit(seed), lit(t.toString)))))
    val walks0 = ids.encode(ids.nodeStrings
      .select(col("_v"), explode(expr(s"sequence(0, ${walksPerNode - 1})")).as("_k"))
      .select(col("_v"), col("_k").cast("long").as("_k"),
        array((1 to steps).map(h): _*).as("_hs")), "_v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_s").orderBy("_d")
    val nbrIdx = Materialize.local(ids.edges
      .withColumn("_rank", (row_number().over(w) - 1).cast("long")))
    var cur = Materialize.local(walks0.select(
      Seq(col("_v").as("_start"), col("_k"), col("_hs")) ++ startAs.map(col("_v").as(_)): _*))
    var out = Seq(cur.select(col("_start"), col("_k"), lit(0L).as("_t"),
      col("_cur").as("_node")))
    for (t <- 1 to steps) {
      cur = Materialize.local(step(cur, nbrIdx, t))
      out = out :+ cur.select(col("_start"), col("_k"), lit(t.toLong).as("_t"),
        col("_cur").as("_node"))
    }
    ids.decode(out.reduce(_ unionByName _), "_start" -> "start", "_node" -> "node")
      .select(col("start"), col("_k").as("walk"), col("_t").as("step"), col("node"))
  }

  /** One node2vec advance — factored lazy for the spec pins. Unlike
    * [[walkStep]]'s rank pick, the p/q bias makes every out-neighbor's
    * weight depend on the walk's PREVIOUS node, so the deg(cur)
    * candidate fan-out is inherent to the semantics: candidates join
    * in (one equi-join), the distance-1 flag comes from a left join of
    * (prev, cand) against the edge set, and the pick is a weighted
    * cumulative ladder — two window sums over the per-walk candidate
    * partition (bounded by the max out-degree) selecting the row whose
    * [cum, cum+w) range contains (h_t ≫ 1) mod Σw.
    */
  private[graft] def node2vecStep(
      cur: DataFrame,
      nbrIdx: DataFrame,
      e: DataFrame,
      t: Int,
      wRet: Long,
      wIn: Long,
      wOut: Long,
      maxOutDegree: Long = Long.MaxValue
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_start", "_k").orderBy("_rank")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("_start", "_k")
    cur
      .join(nbrIdx.select(col("_s").as("_cur"), col("_rank"),
        col("_d").as("_cand")), Seq("_cur"))
      // hub tripwire, zero-action (the setsim hot-gram pattern): _rank is
      // already materialized on the index, so the guard rides the
      // candidate join itself — no extra exchange, no driver action. A
      // visited node whose out-degree exceeds the knob would put
      // deg(cur)-row window partitions × concurrent walks through one
      // task; refuse loudly with the remedy named instead of stalling.
      .filter(assert_true(col("_rank") < lit(maxOutDegree),
        lit(s"node2vecWalks: a visited node's out-degree exceeds " +
          s"maxOutDegree=$maxOutDegree — per-walk candidate windows are " +
          "deg(cur) rows by second-order semantics; raise maxOutDegree " +
          "deliberately, or pre-build per-edge alias tables (Grover & " +
          "Leskovec's trade) for hub-heavy graphs")).isNull)
      .join(e.select(col("_s").as("_prev"), col("_d").as("_cand"),
        lit(1).as("_d1")), Seq("_prev", "_cand"), "left")
      .withColumn("_w",
        when(col("_cand") === col("_prev"), lit(wRet))
          .when(col("_d1").isNotNull, lit(wIn))
          .otherwise(lit(wOut)))
      .withColumn("_cum", coalesce(sum(col("_w"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("_tot", sum(col("_w")).over(wAll))
      .withColumn("_r",
        expr(s"shiftrightunsigned(element_at(_hs, $t), 1) % _tot"))
      .filter(col("_r") >= col("_cum") && col("_r") < col("_cum") + col("_w"))
      .select(col("_start"), col("_k"), col("_hs"),
        col("_cur").as("_prev"), col("_cand").as("_cur"))
  }

  /** Second-order biased random walks (node2vec, Grover & Leskovec
    * 2016) — the p/q walk flavor embedding pipelines actually tune:
    * from (prev → cur), each out-neighbor x of cur weighs
    *
    *   α(x) = 1/p  if x = prev         (return)
    *          1    if edge prev → x     (stay close: distance 1)
    *          1/q  otherwise            (explore outward)
    *
    * in exact integer ppm (`wRet = 10¹² div pPpm`, `wIn = 10⁶`,
    * `wOut = 10¹² div qPpm`), and the step picks the neighbor whose
    * cumulative-weight range contains (h_t ≫ 1) mod Σα — the
    * [[randomWalks]] entropy discipline (h_t precomputed from the
    * ORIGINAL start string; the shift canonicalizes signed vs unsigned
    * mod), so every pick replays externally. The FIRST step runs
    * through the same machinery with prev = start and degrades to a
    * uniform pick by construction (x = prev is impossible without
    * self-loops, and every candidate is a neighbor of prev = cur, so
    * all weights are wIn). Distance-1 is directed-edge membership
    * (prev → x), the natural reading on a directed list. Multi-edges
    * collapse; dead ends terminate walks.
    *
    * Scale shape: [[walkStep]]'s no-fan-out trick is UNAVAILABLE here
    * by semantics — α depends on (prev, cur), so each step materializes
    * deg(cur) candidates per walk (the cost every exact node2vec
    * implementation pays; Grover & Leskovec pre-store alias tables per
    * EDGE, the same O(Σ deg) bytes shifted to build time). Each step
    * is two equi-joins plus two window sums over per-walk candidate
    * partitions — bounded by max out-degree, never the graph; state
    * stays fixed-width (two id longs + the entropy array), and the
    * dictionary rides ids at ≥ `dictThreshold` nodes. Because one
    * 10⁷-out-degree hub would put 10⁷-row window partitions ×
    * concurrent walks through single tasks, a zero-action tripwire on
    * the already-materialized `_rank` rides the candidate join and
    * refuses any VISITED node past `maxOutDegree` (default 2²²),
    * naming the alias-table remedy — the family's refusal convention.
    *
    * Output: `(start STRING, walk BIGINT, step BIGINT, node STRING)`.
    */
  def node2vecWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      steps: Int,
      walksPerNode: Int = 1,
      pPpm: Long = 1000000L,
      qPpm: Long = 1000000L,
      seed: String = "",
      dictThreshold: Long = GraphDictThreshold,
      maxOutDegree: Long = 1L << 22
  ): DataFrame = {
    require(steps >= 1 && steps <= 64,
      s"node2vecWalks: steps must be in [1, 64], got $steps")
    require(maxOutDegree >= 1L,
      s"node2vecWalks: maxOutDegree must be >= 1, got $maxOutDegree")
    require(walksPerNode >= 1 && walksPerNode <= 1024,
      s"node2vecWalks: walksPerNode must be in [1, 1024], got $walksPerNode")
    // upper bound keeps wRet = 10^12/pPpm and wOut = 10^12/qPpm >= 1, so a
    // candidate window's total weight can never integer-divide to 0 (a
    // zero _tot would '% 0' → null in Spark, silently killing the walk,
    // vs a division-by-zero ERROR in the oracle replay)
    require(pPpm >= 1L && pPpm <= 1000000000000L &&
      qPpm >= 1L && qPpm <= 1000000000000L,
      s"node2vecWalks: pPpm and qPpm must be in [1, 10^12], got ($pPpm, $qPpm)")
    require(!seed.contains("#"),
      s"node2vecWalks: seed must not contain '#' (the entropy separator), got '$seed'")
    val wRet = 1000000000000L / pPpm
    val wIn = 1000000L
    val wOut = 1000000000000L / qPpm
    val ids = walkGraph(edges, srcCol, dstCol, dictThreshold)
    walkCorpus(ids, steps, walksPerNode, seed, Seq("_prev", "_cur"))(
      (cur, nbrIdx, t) => node2vecStep(cur, nbrIdx, ids.edges, t, wRet, wIn, wOut, maxOutDegree))
  }

  /** One-row structural profile of a directed graph — the summary a
    * link-graph curation pipeline reads BEFORE running the expensive
    * centralities: size, reciprocity (how bidirectional the linking
    * is), dangling share, degree extremes, and degree ASSORTATIVITY —
    * the rank correlation between source out-degree and destination
    * in-degree over the edges, computed by composing
    * [[Profile.rankCorrelationByGroup]] (so the assortativity inherits
    * the no-pair-join inversion counting; the per-edge tiebreak id is
    * `src#dst`, making tied degrees — ubiquitous in regular regions —
    * a pinned deterministic order on any engine).
    *
    * Exact integers: `reciprocity_ppm = 10⁶·|E ∩ Eᵀ| div |E|`,
    * `dangling_nodes` = nodes with no out-edge, correlations in the
    * ±10⁶ e6 scale. Multi-edges collapse, self-loops drop.
    *
    * Scale shape: degree tables are ONE map-side-combined aggregate
    * each; reciprocity is a left-semi self-join on the (swapped) edge
    * key — edge-partitioned, no fan-out; every post-aggregate frame is
    * ONE row, cross-joined broadcast. Output: `(n_nodes, n_edges,
    * reciprocal_edges, reciprocity_ppm, dangling_nodes, max_outdeg,
    * max_indeg, assort_spearman_e6, assort_kendall_e6)`.
    */
  def graphProfile(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Materialize.local(
      endpoints(edges, srcCol, dstCol).filter(col("_s") =!= col("_d")).distinct())
    // nodes LOOKS single-consumer (the basics broadcast below), but the
    // isolated 7-run A/B kept the eager checkpoint: lazy measured 3.25 vs
    // 2.89 s (batch) and 12.61 vs 11.35 s (stream) — the materialized
    // one-partition node table beats re-deriving the union+distinct under
    // the broadcast build (r16 adjudication; earlier "lazy wins" reads
    // were confounded with other wave-1 changes)
    val nodes = Materialize.local(e.select(col("_s").as("_v"))
      .unionByName(e.select(col("_d").as("_v")))
      .distinct())
    val outdeg = Materialize.local(e.groupBy("_s").agg(count(lit(1)).as("_od")))
    val indeg = Materialize.local(e.groupBy("_d").agg(count(lit(1)).as("_id")))
    val recip = e.join(
        e.select(col("_d").as("_s"), col("_s").as("_d")), Seq("_s", "_d"), "left_semi")
      .agg(count(lit(1)).as("reciprocal_edges"))
    val basics = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(outdeg.agg(count(lit(1)).as("_nsrc"),
        max(col("_od")).as("max_outdeg"))))
      .crossJoin(broadcast(indeg.agg(max(col("_id")).as("max_indeg"))))
      .crossJoin(broadcast(recip))
    val perEdge = e
      .join(outdeg, Seq("_s")).join(indeg, Seq("_d"))
      .select(lit("g").as("_grp"), concat(col("_s"), lit("#"), col("_d")).as("_eid"),
        col("_od"), col("_id"))
    val rc = Profile.rankCorrelationByGroup(perEdge, "_grp", "_eid", "_od", "_id")
      .select(col("spearman_e6").as("assort_spearman_e6"),
        col("kendall_e6").as("assort_kendall_e6"))
    basics.crossJoin(broadcast(rc))
      .select(col("n_nodes"), col("n_edges"), col("reciprocal_edges"),
        expr("CAST(reciprocal_edges * 1000000L div n_edges AS BIGINT)")
          .as("reciprocity_ppm"),
        (col("n_nodes") - col("_nsrc")).as("dangling_nodes"),
        col("max_outdeg"), col("max_indeg"),
        col("assort_spearman_e6"), col("assort_kendall_e6"))
  }

  /** Skip-gram training pairs off a [[randomWalks]] corpus — the table
    * an embedding trainer actually consumes (DeepWalk/word2vec): for
    * every walk, every ordered (center, context) position pair within
    * `window` steps, aggregated to `(center, context, cnt)`. Both
    * directions appear (context before AND after the center), so cnt
    * is symmetric on an undirected co-occurrence reading.
    *
    * Scale shape: ONE equi-self-join of the walk table on the walk
    * identity — per-walk fan-out is a constant (≤ (steps+1)·2·window
    * pairs per walk, never data-dependent), and the pair stream
    * collapses immediately through a map-side-combined count per
    * (center, context): the shuffle carries distinct co-occurrence
    * pairs, not walk positions. No windows, no collect.
    *
    * Output: `(center STRING, context STRING, cnt BIGINT)`.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1 && window <= 64,
      s"skipGramPairs: window must be in [1, 64], got $window")
    val a = walks.select(col("start").as("_ws"), col("walk").as("_wk"),
      col("step").as("_i"), col("node").as("_c"))
    val b = walks.select(col("start").as("_ws"), col("walk").as("_wk"),
      col("step").as("_j"), col("node").as("_x"))
    a.join(b, Seq("_ws", "_wk"))
      .filter(col("_i") =!= col("_j") &&
        abs(col("_i") - col("_j")) <= window)
      .groupBy(col("_c").as("center"), col("_x").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Slot-midpoint logistic table in ppm — word2vec's precomputed
    * EXP_TABLE (Mikolov et al. 2013's public C implementation evaluates
    * σ only through a fixed lookup table; the training loop never calls
    * exp): σ(x) sampled at the midpoints of `slots` equal slots over
    * [−range, range], quantized to ×10⁶ longs. Evaluated ONCE on the
    * JVM (StrictMath — bit-identical across platforms) and fed as the
    * SAME literal array to the Spark plan and the oracle SQL, so no
    * engine-evaluated transcendental ever enters a compared surface
    * (the GateTables discipline).
    */
  def sigmoidTablePpm(slots: Int = 64, range: Int = 6): IndexedSeq[Long] =
    (0 until slots).map { i =>
      val x = -range + (i + 0.5) * (2.0 * range) / slots
      math.round(1000000.0 / (1.0 + StrictMath.exp(-x)))
    }

  /** Skip-gram-with-negative-sampling trainer over a labeled pair table
    * — the consumer that closes the embedding family's loop (walks →
    * [[skipGramPairs]] positives ∪ FNV negatives → THIS → serving
    * dot-product scores), the way the BPE and k-means families each
    * ship their trainer next to their serving path. `epochs` rounds of
    * FULL-BATCH gradient descent on the SGNS logistic objective
    * (Mikolov et al. 2013; Levy & Goldberg 2014 for what the objective
    * factorizes), with every quantity an exact scaled integer so the
    * whole training run replays bit-for-bit on any engine:
    *
    *  - embeddings are d-long arrays ×10⁶ (init: FNV of
    *    `node#dim#seed` → uniform in ±0.0625, the word2vec ±0.5/d
    *    scale at d=8);
    *  - σ comes from [[sigmoidTablePpm]] — the dot ×10¹² buckets into
    *    64 slots over ±6, exactly word2vec's table lookup;
    *  - gradient per pair: g_ppm = label·10⁶ − σ_ppm, step scale
    *    s = lrPpm · weight · g_ppm, per-dim delta
    *    (s · (v_i div 10³)) div 10⁹ — the div-10³ truncation drops
    *    sub-0.001 coordinate contributions (documented precision
    *    floor) and bounds every product inside int64
    *    (|s| ≤ 5·10¹⁴ × |v_i div 10³| ≤ 10⁴ < 2⁶³);
    *  - updates accumulate per node through the native `graft_elemsum`
    *    ([[graft.plans.ElemSumAggregate]] — map-side partial, the
    *    shuffle carries one d-array per node per partition, never one
    *    per pair), then apply under a ±10.0 coordinate clamp (word2vec
    *    trains unclamped; the clamp makes divergence impossible at any
    *    lr without changing converged runs).
    *
    * One TIED matrix (center and context share embeddings — the GloVe
    * symmetric reading; halves state and keeps serving one table).
    * Label must be 0/1 and weight in [1, 1000] — enforced by a
    * zero-action tripwire riding the epoch's own join (heavier pairs:
    * clamp or rescale upstream; the bound is what keeps s exact).
    *
    * Scale shape per epoch: two hash joins of the pair table against
    * the n·d-long embedding table, one map-side-combined elemsum, one
    * update join — no collect, no per-dim row explosion, no window.
    * State between epochs is exactly n·d longs, materialized so
    * the lineage never re-runs a prior epoch.
    *
    * Output: `(node STRING, emb ARRAY<BIGINT>)` ×10⁶.
    */
  def sgnsEpochs(
      pairs: DataFrame,
      dims: Int,
      epochs: Int,
      lrPpm: Long,
      seed: String = ""
  ): DataFrame = {
    require(dims >= 1 && dims <= 64,
      s"sgnsEpochs: dims must be in [1, 64], got $dims")
    require(epochs >= 1 && epochs <= 8,
      s"sgnsEpochs: epochs must be in [1, 8], got $epochs")
    require(lrPpm >= 1L && lrPpm <= 500000L,
      s"sgnsEpochs: lrPpm must be in [1, 500000], got $lrPpm")
    require(!seed.contains("#"),
      s"sgnsEpochs: seed must not contain '#' (the init separator), got '$seed'")
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = pairs.sparkSession
    graft.plans.ElemSumAggregate.register(spark)
    val p = Materialize.local(pairs
      .select(col("center").cast("string").as("center"),
        col("other").cast("string").as("other"),
        col("label").cast("long").as("label"),
        col("weight").cast("long").as("weight"))
      // a null id would pass the label/weight tripwire, enter the node
      // universe via distinct(), and emit a spurious node=NULL embedding
      .filter(col("center").isNotNull && col("other").isNotNull)
      .filter(assert_true(col("label").isin(0L, 1L) &&
        col("weight") >= 1L && col("weight") <= 1000L,
        lit("sgnsEpochs: label must be 0/1 and weight in [1, 1000] — " +
          "clamp or rescale heavier pairs upstream (the bound keeps the " +
          "step scale inside exact int64)")).isNull))
    val nodes = p.select(col("center").as("_v"))
      .unionByName(p.select(col("other").as("_v")))
      .distinct()
    def h(i: Int) = ColumnBridge.column(graft.plans.FnvHash64(
      ColumnBridge.expression(concat_ws("#", col("_v"), lit(i.toString),
        lit(seed)))))
    val initDims = (0 until dims).map(i =>
      shiftrightunsigned(h(i), 1) % lit(125001L) - lit(62500L))
    var emb = Materialize.local(
      nodes.select(col("_v").as("node"), array(initDims: _*).as("emb")))
    val tbl = sigmoidTablePpm()
    val tblCol = typedLit(tbl)
    val hi = 6000000000000L // the table's ±6.0 range in the ×10¹² dot scale
    val idxSql = s"CASE WHEN _dot <= ${-hi} THEN 0L " +
      s"WHEN _dot >= $hi THEN ${tbl.length - 1}L " +
      s"ELSE ((_dot + $hi) * ${tbl.length}L) div ${2 * hi} END"
    def deltaExpr(vecCol: String) = expr(
      s"transform($vecCol, vi -> (_s * (vi div 1000L)) div 1000000000L)")
    for (_ <- 1 to epochs) {
      // materialized: both delta sides read the scored pairs
      val scored = Materialize.local(p
        .join(emb.select(col("node").as("center"), col("emb").as("_u")),
          Seq("center"))
        .join(emb.select(col("node").as("other"), col("emb").as("_v")),
          Seq("other"))
        .withColumn("_dot", aggregate(zip_with(col("_u"), col("_v"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .withColumn("_sig", element_at(tblCol,
          (expr(idxSql) + lit(1L)).cast("int")))
        .withColumn("_s",
          lit(lrPpm) * col("weight") * (col("label") * lit(1000000L) - col("_sig"))))
      val deltas = scored.select(col("center").as("node"), deltaExpr("_v").as("_d"))
        .unionByName(
          scored.select(col("other").as("node"), deltaExpr("_u").as("_d")))
        .groupBy("node")
        .agg(call_function("graft_elemsum", col("_d")).as("_delta"))
      emb = Materialize.local(emb.join(deltas, Seq("node"), "left")
        .select(col("node"),
          when(col("_delta").isNull, col("emb"))
            .otherwise(zip_with(col("emb"), col("_delta"), (e, d) =>
              greatest(lit(-10000000L), least(lit(10000000L), e + d))))
            .as("emb")))
    }
    emb
  }
}
