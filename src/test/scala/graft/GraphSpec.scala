package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRankScaled: matches a hand-rolled integer reference; dangling mass drops") {
    // a -> b, a -> c, b -> c, c -> a, plus dangling sink d (a -> d)
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "d")
    ).toDF("src", "dst")
    val got = Graph.pageRankScaled(edges, "src", "dst", iterations = 3)
      .as[(String, Long)].collect().toMap

    // driver-side reference with the exact documented arithmetic
    val es = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "a" -> "d")
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val od = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val d = 850000L
    val base = (1000000000L * (1000000L - d)) / (n * 1000000L)
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 0 until 3) {
      val in = es.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        (r(s) * d / 1000000L) / od(s)
      }.sum).toMap
      r = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
    }
    assert(got == r, s"got=$got ref=$r")
    // dangling node d absorbs rank but emits none: total mass < 1e9
    assert(got.values.sum < 1000000000L)
    // multi-edges weight double: duplicating a->b must raise b's rank
    val multi = Graph.pageRankScaled(
        (edges.as[(String, String)].collect().toSeq :+ ("a", "b")).toDF("src", "dst"),
        "src", "dst", iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(multi("b") > got("b"), s"multi=$multi single=$got")
    intercept[IllegalArgumentException] {
      Graph.pageRankScaled(edges, "src", "dst", iterations = 0)
    }
  }

  test("harmonicCentralityScaled: hand-computed depth-bounded distances; self-loops and multi-edges collapse") {
    // chain a -> b -> c -> d, shortcut a -> c, self-loop b -> b,
    // duplicate edge a -> b (must not double-count)
    val edges = Seq(
      ("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "b")
    ).toDF("src", "dst")
    val got = Graph.harmonicCentralityScaled(edges, "src", "dst", maxDepth = 3)
      .as[(String, Long)].collect().toMap
    // distances: a->b=1, a->c=1 (shortcut), a->d=2, b->c=1, b->d=2, c->d=1
    // h(a)=0; h(b)=1e6 (from a); h(c)=2·1e6 (a,b at d=1);
    // h(d)=1e6 (c) + 2·(1e6 div 2) (a,b at d=2) = 2_000_000
    val exp = Map("a" -> 0L, "b" -> 1000000L, "c" -> 2000000L, "d" -> 2000000L)
    assert(got == exp, s"got=$got exp=$exp")
    // depth 1 truncates the d=2 contributions
    val got1 = Graph.harmonicCentralityScaled(edges, "src", "dst", maxDepth = 1)
      .as[(String, Long)].collect().toMap
    assert(got1 == Map("a" -> 0L, "b" -> 1000000L, "c" -> 2000000L, "d" -> 1000000L),
      got1.toString)
    // 1e6 div 3 = 333333 shows up at depth 3: extend the chain
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got3 = Graph.harmonicCentralityScaled(chain, "src", "dst", maxDepth = 3)
      .as[(String, Long)].collect().toMap
    assert(got3("d") == 1000000L + 500000L + 333333L, got3.toString)
    intercept[IllegalArgumentException] {
      Graph.harmonicCentralityScaled(edges, "src", "dst", maxDepth = 0)
    }
  }

  test("connectedComponentsMin: exact on long chains where bounded LPA under-merges; converges in O(log d); refusal pinned") {
    // one 16-node chain (diameter 15), one triangle, one isolated self-loop
    val chain = (0 until 15).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    val tri = Seq(("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("z9", "z9"))
    val edges = (chain ++ tri).toDF("src", "dst")
    val got = Graph.connectedComponentsMin(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    val expect = (0 to 15).map(i => f"c$i%02d" -> "c00").toMap ++
      Map("t1" -> "t1", "t2" -> "t1", "t3" -> "t1", "z9" -> "z9")
    assert(got == expect, s"got=$got")
    // bounded LPA at 4 rounds UNDER-merges the same chain — the gap
    // this operator exists to close
    val lpa4 = Graph.labelPropagationMin(edges, "src", "dst", rounds = 4)
      .as[(String, String)].collect().toMap
    assert(lpa4("c15") != "c00", lpa4.toString)
    // pointer jumping: diameter 15 must converge within ~log2 rounds +
    // slack — 6 rounds suffice where plain propagation needs 15
    val fast = Graph.connectedComponentsMin(edges, "src", "dst", maxRounds = 6)
      .as[(String, String)].collect().toMap
    assert(fast == expect)
    // the non-convergence refusal is loud and names the remedy
    val e = intercept[IllegalArgumentException] {
      Graph.connectedComponentsMin(edges, "src", "dst", maxRounds = 1)
    }
    assert(e.getMessage.contains("still moving"), e.getMessage)
  }

  test("connectedComponentsMin rounds shuffle longs only; the id dictionary is the order-preserving dense rank") {
    import org.apache.spark.sql.types.{LongType, IntegerType}
    import org.apache.spark.sql.functions._
    // dictionary: dense 0..n-1 ranks in string order (long-min ≡
    // string-min — the contract that lets MIN labels survive encoding)
    val nodes = Seq("kiwi", "apple", "plum", "banana").toDF("_v")
    val dict = Graph.orderPreservingIdDict(nodes, buckets = 2)
      .as[(String, Long)].collect().toMap
    assert(dict == Map("apple" -> 0L, "banana" -> 1L, "kiwi" -> 2L, "plum" -> 3L),
      dict.toString)
    // one propagate-and-jump round over encoded frames: every shuffle
    // exchange carries longs/ints only — node STRINGS never re-enter
    // the rounds (the label-compression contract)
    val sym = Seq((2L, 0L), (0L, 2L), (1L, 3L), (3L, 1L)).toDF("_s", "_d")
      .localCheckpoint()
    val labels = Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)).toDF("_v", "_l")
      .localCheckpoint()
    val round = Graph.ccMinRound(sym, labels)
    assert(round.schema.fields.forall(_.dataType == LongType),
      round.schema.treeString)
    // inspect the round's own plan BEFORE its checkpoint cuts lineage:
    // rebuild the same frames un-checkpointed for the plan probe
    val roundPlan = {
      val s2 = Seq((2L, 0L), (0L, 2L)).toDF("_s", "_d")
      val l2 = Seq((0L, 0L), (2L, 2L)).toDF("_v", "_l")
      val fromNbr = s2
        .join(l2.select(col("_v").as("_s"), col("_l")), Seq("_s"))
        .groupBy(col("_d")).agg(min(col("_l")).as("_nl"))
        .select(col("_d").as("_v"), col("_nl"))
      l2.join(fromNbr, Seq("_v"), "left")
        .select(col("_v"), least(col("_l"), coalesce(col("_nl"), col("_l"))).as("_l"))
    }
    val shuffles = shuffleExchanges(roundPlan)
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(_.output.forall(a =>
      a.dataType == LongType || a.dataType == IntegerType)),
      shuffles.map(_.output.map(o => (o.name, o.dataType)).mkString(","))
        .mkString("; "))
    // and the round arithmetic is right: 2's label drops to 0, 3's to 1
    assert(round.as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("harmonicCentralityScaled: frontier tripwire refuses a dense graph loudly instead of OOMing") {
    // K5 (complete digraph, 20 pairs at level 1) against a 10-pair cap:
    // the level-1 count trips before any deeper join is launched
    val k5 = (for { a <- 'a' to 'e'; b <- 'a' to 'e' if a != b }
      yield (a.toString, b.toString)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.harmonicCentralityScaled(k5, "src", "dst", maxDepth = 3,
        maxFrontierPairs = 10L)
    }
    assert(e.getMessage.contains("maxFrontierPairs"), e.getMessage)
    assert(e.getMessage.contains("Lower maxDepth"), e.getMessage)
    // same graph under the cap computes fine (everyone reaches everyone at d=1)
    val ok = Graph.harmonicCentralityScaled(k5, "src", "dst", maxDepth = 2,
        maxFrontierPairs = 100L)
      .as[(String, Long)].collect().toMap
    assert(ok.values.toSet == Set(4000000L), ok.toString)
  }

  test("personalizedPageRankScaled: restart mass sits on the seed; hand-rolled reference") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val got = Graph.personalizedPageRankScaled(edges, "src", "dst",
        seed = "a", iterations = 2)
      .as[(String, Long)].collect().toMap
    // driver reference with the documented arithmetic
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val nodes = Seq("a", "b", "c")
    val od = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val d = 850000L
    val base = 1000000000L * (1000000L - d) / 1000000L
    var r = nodes.map(v => v -> (if (v == "a") 1000000000L else 0L)).toMap
    for (_ <- 0 until 2) {
      val in = es.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        (r(s) * d / 1000000L) / od(s)
      }.sum).toMap
      r = nodes.map(v => v -> ((if (v == "a") base else 0L) + in.getOrElse(v, 0L))).toMap
    }
    assert(got == r, s"got=$got ref=$r")
    // the seed holds the restart mass: its rank dominates
    assert(got("a") > got("b") && got("a") > got("c"), got.toString)
    // a node unreachable from the seed decays toward zero
    val got2 = Graph.personalizedPageRankScaled(
        (Seq(("a", "b"), ("x", "y"))).toDF("src", "dst"), "src", "dst", "a", 3)
      .as[(String, Long)].collect().toMap
    assert(got2("x") == 0L && got2("y") == 0L, got2.toString)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRankScaled(edges, "src", "dst", "a", 0)
    }
  }

  test("triangleCountsScaled: hand-computed triangles, direction/multi-edge/self-loop collapse") {
    // triangle a-b-c, pendant d off a, square c-d? no: add c-e, e-a → second
    // triangle a-c-e; noise: duplicate b->a (reversed multi-edge), self-loop c->c
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("c", "c"),
      ("a", "d"), ("c", "e"), ("e", "a")
    ).toDF("src", "dst")
    val got = Graph.triangleCountsScaled(edges, "src", "dst")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // degrees (undirected simple): a=4 (b,c,d,e), b=2, c=3 (a,b,e), d=1, e=2
    // triangles: {a,b,c}, {a,c,e} → a:2, b:1, c:2, d:0, e:1
    // clustering_ppm: a: 2·2·1e6 div (4·3)=333333; b: 2·1e6 div 2=1000000;
    //                 c: 2·2·1e6 div (3·2)=666666; d: 0 (deg<2); e: 1000000
    val exp = Map(
      "a" -> ((4L, 2L, 333333L)), "b" -> ((2L, 1L, 1000000L)),
      "c" -> ((3L, 2L, 666666L)), "d" -> ((1L, 0L, 0L)), "e" -> ((2L, 1L, 1000000L)))
    assert(got == exp, s"got=$got exp=$exp")
    // triangle-free graph: all zero triangles
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val g2 = Graph.triangleCountsScaled(path, "src", "dst")
      .as[(String, Long, Long, Long)].collect()
    assert(g2.forall(_._3 == 0L), g2.mkString(","))
  }

  test("kCoreBounded: peeling rounds on a chain; triangle+pendant; converged core stable") {
    // chain a-b-c-d-e, k=2: r1 peels a,e; r2 peels b,d; r3 empties
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame, k: Int, r: Int) =
      Graph.kCoreBounded(df, "src", "dst", k, r)
        .as[(String, Long)].collect().toMap
    assert(run(chain, 2, 1) == Map("b" -> 1L, "c" -> 2L, "d" -> 1L), run(chain, 2, 1).toString)
    assert(run(chain, 2, 2).isEmpty, run(chain, 2, 2).toString)
    // triangle + pendant, k=2: pendant peels, triangle survives at deg 2
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("src", "dst")
    assert(run(tri, 2, 1) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L), run(tri, 2, 1).toString)
    // converged: extra rounds change nothing
    assert(run(tri, 2, 4) == run(tri, 2, 1))
    intercept[IllegalArgumentException] { Graph.kCoreBounded(tri, "src", "dst", 0, 1) }
    intercept[IllegalArgumentException] { Graph.kCoreBounded(tri, "src", "dst", 2, 0) }
  }

  test("labelPropagationMin: depth-bounded min labels; converges to components") {
    // two components: chain a-b-c-d and pair x-y (direction must not matter)
    val edges = Seq(("b", "a"), ("b", "c"), ("d", "c"), ("y", "x"))
      .toDF("src", "dst")
    def run(r: Int) = Graph.labelPropagationMin(edges, "src", "dst", r)
      .as[(String, String)].collect().toMap
    // round 1: a→a, b→a, c→b, d→c, x→x, y→x
    assert(run(1) == Map("a" -> "a", "b" -> "a", "c" -> "b", "d" -> "c",
      "x" -> "x", "y" -> "x"), run(1).toString)
    // round 2: c sees b's round-1 label "a"; d sees c's "b"
    assert(run(2) == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "b",
      "x" -> "x", "y" -> "x"), run(2).toString)
    // by round 3 (diameter) both components carry their min id
    assert(run(3) == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"), run(3).toString)
    intercept[IllegalArgumentException] {
      Graph.labelPropagationMin(edges, "src", "dst", 0)
    }
  }

  test("labelPropagationMin below the dictionary threshold: r rounds run r + 1 materialization jobs and no count job") {
    val edges = Seq(("b", "a"), ("b", "c"), ("d", "c"), ("y", "x"), ("z", "z"))
      .toDF("src", "dst")
    // call sites come from each job's SQL execution: one execution per
    // materialization ("local"/"localWithRows at Graph.scala:…", every
    // adaptive stage of it reports the same), and a count would report
    // "count at …" whatever thread its stages run on
    for (rounds <- 1 to 3) {
      val (_, all) = jobs(Graph.labelPropagationMin(edges, "src", "dst", rounds))
      val materializations = all.filter(_._2.matches("(local|localWithRows) at .*"))
        .flatMap(_._1).distinct
      assert(materializations.size == rounds + 1, s"rounds $rounds: $all")
      assert(!all.exists(_._2.startsWith("count at")), s"rounds $rounds: $all")
    }
    // the same call still labels correctly (z is a self-loop-only node)
    assert(Graph.labelPropagationMin(edges, "src", "dst", 2).as[(String, String)]
      .collect().toMap == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "b",
        "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("labelPropagationMin ≡ driver-side reference LPA on seeded random graphs (self-loops, isolated nodes, duplicate edges, dict path)") {
    // the reference: synchronous rounds over the undirected simple graph,
    // every edge endpoint a node (a self-loop-only node is isolated)
    def reference(edges: Seq[(String, String)], rounds: Int): Map[String, String] = {
      val e = edges.filter { case (a, b) => a != null && b != null }
      val nbrs = e.filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
      var labels = e.flatMap { case (a, b) => Seq(a, b) }.map(v => v -> v).toMap
      for (_ <- 0 until rounds) {
        val prev = labels
        labels = prev.map { case (v, l) =>
          v -> (l +: nbrs.getOrElse(v, Nil).map(prev)).min }
      }
      labels
    }
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(seed)
      // ids whose string order is unrelated to the graph structure
      val ids = rnd.shuffle((0 until 24).map(i => f"n$i%02d"))
      def id() = ids(rnd.nextInt(ids.size))
      val sparse = Seq.fill(14)((id(), id()))
      val selfLoops = Seq.fill(4) { val v = id(); (v, v) }
      val edges = sparse ++ selfLoops ++ sparse.take(5) ++
        sparse.take(3).map(_.swap) ++ Seq((id(), null: String), (null: String, id()))
      val df = edges.toDF("src", "dst")
      for (rounds <- 1 to 4; dict <- Seq(1L, Long.MaxValue)
           if dict == Long.MaxValue || rounds == 1 + seed % 4) {
        val got = Graph.labelPropagationMin(df, "src", "dst", rounds, dictThreshold = dict)
          .as[(String, String)].collect()
        val want = reference(edges, rounds)
        assert(got.length == want.size, s"seed $seed rounds $rounds dict $dict: duplicate nodes")
        assert(got.toMap == want, s"seed $seed rounds $rounds dict $dict")
      }
    }
  }

  test("iterative family: dict branch ≡ string branch on every operator (adaptive label compression)") {
    // one fixture with multi-edges, a self-loop, direction, two components,
    // and ids whose STRING order differs from insertion order — so an
    // order-breaking dictionary would corrupt the MIN-label operators
    val edges = Seq(
      ("kiwi", "apple"), ("kiwi", "apple"), ("apple", "plum"),
      ("plum", "kiwi"), ("banana", "plum"), ("plum", "plum"),
      ("zig", "zag"), ("zag", "zig")
    ).toDF("src", "dst")
    def pair(lo: org.apache.spark.sql.DataFrame,
             hi: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val a = rows(lo); val b = rows(hi)
      assert(a == b, s"$name: dict branch diverged\nstring=$b\ndict=$a")
      assert(a.nonEmpty, s"$name: fixture produced no rows")
    }
    import Graph._
    pair(pageRankScaled(edges, "src", "dst", 3, dictThreshold = 1L),
      pageRankScaled(edges, "src", "dst", 3, dictThreshold = Long.MaxValue), "pageRank")
    pair(harmonicCentralityScaled(edges, "src", "dst", 3, dictThreshold = 1L),
      harmonicCentralityScaled(edges, "src", "dst", 3, dictThreshold = Long.MaxValue),
      "harmonic")
    pair(personalizedPageRankScaled(edges, "src", "dst", "kiwi", 2, dictThreshold = 1L),
      personalizedPageRankScaled(edges, "src", "dst", "kiwi", 2,
        dictThreshold = Long.MaxValue), "ppr")
    // a seed absent from the graph matches nothing in either branch
    pair(personalizedPageRankScaled(edges, "src", "dst", "ghost", 2, dictThreshold = 1L),
      personalizedPageRankScaled(edges, "src", "dst", "ghost", 2,
        dictThreshold = Long.MaxValue), "ppr-absent-seed")
    pair(triangleCountsScaled(edges, "src", "dst", dictThreshold = 1L),
      triangleCountsScaled(edges, "src", "dst", dictThreshold = Long.MaxValue),
      "triangles")
    pair(kCoreBounded(edges, "src", "dst", 2, 2, dictThreshold = 1L),
      kCoreBounded(edges, "src", "dst", 2, 2, dictThreshold = Long.MaxValue), "kCore")
    pair(labelPropagationMin(edges, "src", "dst", 2, dictThreshold = 1L),
      labelPropagationMin(edges, "src", "dst", 2, dictThreshold = Long.MaxValue), "lpa")
    pair(connectedComponentsMin(edges, "src", "dst", dictThreshold = 1L),
      connectedComponentsMin(edges, "src", "dst", dictThreshold = Long.MaxValue), "cc")
    pair(katzCentralityScaled(edges, "src", "dst", 3, 500000L, dictThreshold = 1L),
      katzCentralityScaled(edges, "src", "dst", 3, 500000L,
        dictThreshold = Long.MaxValue), "katz")
  }

  test("factored iteration rounds shuffle longs only over encoded frames (the ccMinRound contract, whole family)") {
    import org.apache.spark.sql.types.{LongType, IntegerType}
    import org.apache.spark.sql.functions._
    def pinLongsOnly(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val shuffles = shuffleExchanges(df)
      assert(shuffles.nonEmpty, s"$name: expected at least one exchange")
      assert(shuffles.forall(_.output.forall(a =>
        a.dataType == LongType || a.dataType == IntegerType)),
        s"$name: " + shuffles.map(_.output.map(o => (o.name, o.dataType))
          .mkString(",")).mkString("; "))
    }
    // edge list 0→1, 1→2, 2→0 over encoded ids; state frames all longs
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("_s", "_d").localCheckpoint()
    val outdeg = e.groupBy("_s").agg(count(lit(1)).as("_od")).localCheckpoint()
    val ranks = Seq((0L, 900L), (1L, 600L), (2L, 300L)).toDF("_v", "_r")
      .localCheckpoint()
    val contrib = Graph.contribRound(e, outdeg, ranks, dampingPpm = 1000000L)
    pinLongsOnly(contrib, "contribRound")
    // α=1, outdeg=1 everywhere: contribution is the source's whole rank
    assert(contrib.as[(Long, Long)].collect().toMap ==
      Map(0L -> 300L, 1L -> 900L, 2L -> 600L))
    val walks = Seq((0L, 1L), (1L, 1L), (2L, 1L)).toDF("_v", "_w").localCheckpoint()
    val wr = Graph.walkRound(e, walks)
    pinLongsOnly(wr, "walkRound")
    assert(wr.as[(Long, Long)].collect().toMap == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    val sym = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("_s", "_d")
      .localCheckpoint()
    // round-1 labels of the path 0-1-2 (lpaRound takes a round k ≥ 1 labeling)
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 1L)).toDF("_v", "_l").localCheckpoint()
    val lr = Graph.lpaRound(sym, labels)
    pinLongsOnly(lr, "lpaRound")
    assert(lr.as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val kr = Graph.kCoreRound(sym, k = 2)
    pinLongsOnly(kr, "kCoreRound")
    // only node 1 has degree 2; no edge keeps BOTH endpoints → empty
    assert(kr.count() == 0L)
    val frontier = Seq((0L, 1L), (1L, 2L)).toDF("_u", "_w").localCheckpoint()
    val visited = frontier
    val hr = Graph.harmonicLevelRound(frontier, e, visited)
    pinLongsOnly(hr, "harmonicLevelRound")
    // 0 reaches 2 via 1 at depth 2; 1 reaches 0 via 2 at depth 2
    assert(hr.as[(Long, Long)].collect().toSet == Set((0L, 2L), (1L, 0L)))
  }

  test("katzCentralityScaled: walk counts with multi-edges, exact attenuation ladder") {
    // a -> b (×2, parallel walks), b -> c, c -> b (a 2-cycle feeding walks back)
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    // α = 0.5 → a1 = 500000, a2 = 250000, a3 = 125000
    // w1: b = 3 (2 from a, 1 from c), c = 1
    // w2: walks of length 2 ending at v = Σ_{e u→v} w1(u):
    //   b: from c (w1=1) = 1; c: from b (w1=3) = 3
    // w3: b: from c (w2=3) = 3; c: from b (w2=1) = 1
    // katz(b) = 3·5e5 + 1·25e4 + 3·125e3 = 2_125_000
    // katz(c) = 1·5e5 + 3·25e4 + 1·125e3 = 1_375_000; katz(a) = 0
    val got = Graph.katzCentralityScaled(edges, "src", "dst",
        rounds = 3, alphaPpm = 500000L)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "b" -> 2125000L, "c" -> 1375000L), got.toString)
    // truncation: one round keeps only the direct-edge term
    val g1 = Graph.katzCentralityScaled(edges, "src", "dst",
        rounds = 1, alphaPpm = 500000L)
      .as[(String, Long)].collect().toMap
    assert(g1 == Map("a" -> 0L, "b" -> 1500000L, "c" -> 500000L), g1.toString)
    // the attenuation ladder floors: α = 0.3 → a2 = 90000 - ish?
    // 300000·300000/1e6 = 90000 exactly; a3 = 27000
    val g3 = Graph.katzCentralityScaled(edges, "src", "dst",
        rounds = 3, alphaPpm = 300000L)
      .as[(String, Long)].collect().toMap
    assert(g3("b") == 3L * 300000L + 1L * 90000L + 3L * 27000L, g3.toString)
    intercept[IllegalArgumentException] {
      Graph.katzCentralityScaled(edges, "src", "dst", rounds = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.katzCentralityScaled(edges, "src", "dst", rounds = 2, alphaPpm = 1000000L)
    }
  }

  // ---- HyperBall ANF ------------------------------------------------

  /** FNV-1a 64 over UTF-8 bytes as an unsigned BigInt — the oracle's
    * replay arithmetic, re-derived independently in the test.
    */
  private def fnvU64(s: String): BigInt = {
    val mask = (BigInt(1) << 64) - 1
    var h = BigInt("14695981039346656037")
    for (b <- s.getBytes("UTF-8")) {
      h = ((h >> 8) << 8 | ((h & 0xff) ^ BigInt(b & 0xff))) * BigInt(1099511628211L) & mask
    }
    h
  }

  /** Driver-side ANF model from EXACT ball sets: registers, the scaled
    * integer estimate, the harmonic fold — the documented arithmetic,
    * independently of the Spark lineage.
    */
  private def anfModel(
      balls: Map[String, Seq[Set[String]]], m: Int): Map[String, (Seq[Long], Long)] = {
    val log2m = Integer.numberOfTrailingZeros(m)
    val width = 64 - log2m
    def reg(v: String): (Int, Int) = {
      val h = fnvU64(v + ":anf")
      val rem = h >> log2m
      val rho = if (rem == 0) width + 1 else width - rem.bitLength + 1
      ((h % m).toInt, rho)
    }
    val num = BigInt(Graph.anfNumLiteral(m))
    def est(ball: Set[String]): Long = {
      val regs = ball.toSeq.map(reg).groupBy(_._1).view.mapValues(_.map(_._2).max)
      val s = (0 until m).map(b => BigInt(1) << (62 - regs.getOrElse(b, 0))).sum
      (num / (s * 1000000)).toLong
    }
    balls.map { case (u, bs) =>
      val ests = bs.map(est)
      val harmonic = ests.zipWithIndex.map { case (e, i) =>
        val prev = if (i == 0) 1L else ests(i - 1)
        math.max(0L, e - prev) * 1000000L / (i + 1)
      }.sum
      u -> (ests.map(identity), harmonic)
    }
  }

  test("anfHyperBall: estimates equal the exact-ball register replay (hand model)") {
    // chain with a shortcut and a back edge: a->b->c->d, a->c, d->a;
    // self-loop b->b and duplicate a->b must not change any ball
    val edges = Seq(
      ("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
      ("d", "a"), ("b", "b")
    ).toDF("src", "dst")
    val es = Set("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c", "d" -> "a")
    val nodes = Set("a", "b", "c", "d")
    def step(s: Set[String]): Set[String] =
      s ++ es.collect { case (u, v) if s.contains(u) => v }
    val balls = nodes.map { u =>
      val b1 = step(Set(u)); val b2 = step(b1); val b3 = step(b2)
      u -> Seq(b1, b2, b3)
    }.toMap
    val exp = anfModel(balls, m = 64)
    val out = Graph.anfHyperBall(edges, "src", "dst", maxDepth = 3, m = 64)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    val got = out.map(r => r._1 -> ((Seq(r._2, r._3, r._4), r._8))).toMap
    assert(got == exp, s"got=$got\nexp=$exp")
    // register growth is monotone, so per-node estimates are too
    got.values.foreach { case (ests, _) =>
      assert(ests == ests.sorted, ests.toString)
    }
    // the linear-counting columns: every ball here is tiny (≤ 4 of
    // 2.5·64), so each corrected estimate is the table at the ball's
    // empty-register count — which for distinct-bucket hashes is the
    // EXACT ball size rounded through m·ln(m/(m−n))
    val lcTbl = Graph.anfLinearCountTable(64)
    val expLc = balls.map { case (u, bs) =>
      u -> bs.map { ball =>
        val buckets = ball.map(v => (fnvU64(v + ":anf") % 64).toInt).size
        lcTbl(64 - buckets - 1) // table is 1-based on V = empty count
      }
    }
    val gotLc = out.map(r => r._1 -> Seq(r._5, r._6, r._7)).toMap
    assert(gotLc == expLc, s"gotLc=$gotLc\nexpLc=$expLc")
    // small balls: the corrected estimate equals the true size here
    // (distinct buckets, n ≪ m) while the raw floor sits near α·m
    gotLc.foreach { case (u, lcs) =>
      assert(lcs.head == balls(u).head.size.toLong, s"$u: $lcs vs ${balls(u)}")
    }
    intercept[IllegalArgumentException] {
      Graph.anfHyperBall(edges, "src", "dst", maxDepth = 3, m = 48)
    }
  }

  test("anfHyperBall: dict branch ≡ string branch; banks hash original strings") {
    val edges = Seq(
      ("kiwi", "apple"), ("apple", "plum"), ("plum", "kiwi"),
      ("banana", "plum"), ("zig", "zag"), ("zag", "zig")
    ).toDF("src", "dst")
    val s = rows(Graph.anfHyperBall(edges, "src", "dst", 3, 64,
      dictThreshold = Long.MaxValue))
    val d = rows(Graph.anfHyperBall(edges, "src", "dst", 3, 64,
      dictThreshold = 1L))
    assert(s.nonEmpty && s == d, s"string=$s\ndict=$d")
  }

  test("anfRound shuffles long ids + byte banks only; elemmax merges map-side") {
    import org.apache.spark.sql.types.{LongType, IntegerType, ArrayType, ByteType}
    import org.apache.spark.sql.functions._
    graft.plans.ElemMaxAggregate.register(spark)
    val e = Seq((0L, 1L), (1L, 2L)).toDF("_src", "_dst").localCheckpoint()
    val bank = (b: Int, rho: Int) =>
      (0 until 8).map(i => if (i == b) rho.toByte else 0.toByte)
    val state = Seq((0L, bank(1, 3)), (1L, bank(2, 5)), (2L, bank(1, 7)))
      .toDF("_n", "_regs").localCheckpoint()
    val next = Graph.anfRound(e, state)
    // node 0 absorbs node 1's bank; node 1 absorbs node 2's; 2 keeps its own
    val m = next.as[(Long, Seq[Byte])].collect().toMap
    assert(m(0L) == bank(1, 3).zip(bank(2, 5)).map(p => p._1 max p._2))
    assert(m(1L) == bank(2, 5).zip(bank(1, 7)).map(p => p._1 max p._2))
    assert(m(2L) == bank(1, 7))
    // plan probe on un-checkpointed frames: exchanges carry longs/ints
    // and the m-byte banks — node STRINGS never enter a round
    val probe = {
      val e2 = Seq((0L, 1L)).toDF("_src", "_dst")
      val s2 = Seq((0L, bank(1, 3)), (1L, bank(2, 5))).toDF("_n", "_regs")
      Graph.anfRound(e2, s2)
    }
    val shuffles = shuffleExchanges(probe)
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(_.output.forall(a =>
      a.dataType == LongType || a.dataType == IntegerType ||
        a.dataType.isInstanceOf[ArrayType] &&
          a.dataType.asInstanceOf[ArrayType].elementType == ByteType ||
        a.dataType == org.apache.spark.sql.types.BinaryType)),
      shuffles.map(_.output.map(o => (o.name, o.dataType)).mkString(","))
        .mkString("; "))
    // partial (map-side) aggregation is planned: two aggregate stages
    val aggs = probe.queryExecution.executedPlan.toString()
    assert(aggs.contains("graft_elemmax"), aggs)
    // the state never re-shuffles inside a round: with edges hash-
    // partitioned by _dst and state by _n (both checkpointed, the
    // operator's actual loop shape), a round adds exactly ONE shuffle
    // exchange — the contrib aggregate's. The state⋈nbr fold join and
    // the edge⋈state join are alias-aware co-partitioned.
    val prePartProbe = {
      val e2 = Seq((0L, 1L)).toDF("_src", "_dst").repartition(col("_dst"))
        .localCheckpoint()
      val s2 = Seq((0L, bank(1, 3)), (1L, bank(2, 5))).toDF("_n", "_regs")
        .repartition(col("_n")).localCheckpoint()
      Graph.anfRound(e2, s2)
    }
    assert(shuffleExchanges(prePartProbe).size == 1,
      prePartProbe.queryExecution.executedPlan.toString())
  }

  test("graft_elemmax: cross-partition merge, null skip, length-mismatch refusal") {
    import org.apache.spark.sql.functions._
    graft.plans.ElemMaxAggregate.register(spark)
    val df = Seq(
      ("g", Some(Seq[Byte](1, 9, 0))), ("g", Some(Seq[Byte](4, 2, 0))),
      ("g", None), ("h", Some(Seq[Byte](0, 0, 7)))
    ).toDF("k", "_regs").repartition(4) // force merge across partials
    val got = df.groupBy("k")
      .agg(call_function("graft_elemmax", col("_regs")).as("r"))
      .as[(String, Seq[Byte])].collect().toMap
    assert(got("g") == Seq[Byte](4, 9, 0), got.toString)
    assert(got("h") == Seq[Byte](0, 0, 7), got.toString)
    // all-null group yields null
    val allNull = Seq(("n", Option.empty[Seq[Byte]])).toDF("k", "_regs")
      .groupBy("k").agg(call_function("graft_elemmax", col("_regs")).as("r"))
      .collect()
    assert(allNull.head.isNullAt(1))
    // banks from different m refuse loudly
    val bad = Seq(("g", Seq[Byte](1)), ("g", Seq[Byte](1, 2))).toDF("k", "_regs")
    val e = intercept[Exception] {
      bad.groupBy("k").agg(call_function("graft_elemmax", col("_regs"))).collect()
    }
    assert(e.getMessage != null && (e.getMessage.contains("different lengths") ||
      (e.getCause != null && e.getCause.getMessage.contains("different lengths"))),
      e.toString)
  }

  test("randomWalks: hand-replayed deterministic steps, dead-end termination, dict ≡ string, seed sensitivity") {
    // b has two neighbors (ranked c < d in string order), d is a dead
    // end, duplicate edge b->c must not bias the pick
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("b", "c"), ("b", "d"), ("c", "a")
    ).toDF("src", "dst")
    val es = Map("a" -> Seq("b"), "b" -> Seq("c", "d"), "c" -> Seq("a"))
    def replay(start: String, k: Long, seed: String, steps: Int): Seq[String] = {
      var cur = start
      var outw = Seq(start)
      var t = 1
      var dead = false
      while (t <= steps && !dead) {
        es.get(cur) match {
          case None => dead = true
          case Some(nbrs) =>
            val h = fnvU64(s"$start#$k#$seed#$t")
            cur = nbrs(((h >> 1) % nbrs.size).toInt)
            outw = outw :+ cur
            t += 1
        }
      }
      outw
    }
    val got = Graph.randomWalks(edges, "src", "dst", steps = 5, walksPerNode = 2)
      .as[(String, Long, Long, String)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    val exp = (for { v <- Seq("a", "b", "c", "d"); k <- 0 to 1 }
      yield (v, k.toLong) -> replay(v, k, "", 5)).toMap
    assert(got == exp, s"got=$got\nexp=$exp")
    // dead-end start: exactly the step-0 row
    assert(got(("d", 0L)) == Seq("d"))
    // a seed that provably flips at least one pick (found via the
    // driver model, so the assertion can never be fixture-lucky)
    val flipSeed = (1 to 100).map("s" + _).find { sd =>
      (for { v <- Seq("a", "b", "c", "d"); k <- 0 to 1 }
        yield (v, k.toLong) -> replay(v, k, sd, 5)).toMap != exp
    }.get
    val seeded = Graph.randomWalks(edges, "src", "dst", steps = 5,
        walksPerNode = 2, seed = flipSeed)
      .as[(String, Long, Long, String)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    val expSeeded = (for { v <- Seq("a", "b", "c", "d"); k <- 0 to 1 }
      yield (v, k.toLong) -> replay(v, k, flipSeed, 5)).toMap
    assert(seeded == expSeeded)
    assert(seeded != got, s"seed $flipSeed had no effect on any walk")
    // dict branch ≡ string branch (order-preserving ranks)
    val d1 = Graph.randomWalks(edges, "src", "dst", 5, 2, dictThreshold = 1L)
    assert(rows(d1.orderBy("start", "walk", "step")) ==
      rows(Graph.randomWalks(edges, "src", "dst", 5, 2,
        dictThreshold = Long.MaxValue).orderBy("start", "walk", "step")))
    intercept[IllegalArgumentException] {
      Graph.randomWalks(edges, "src", "dst", steps = 5, seed = "bad#seed")
    }
  }

  test("walkStep: fixed-width state, two equi-joins, no degree fan-out column leak") {
    import org.apache.spark.sql.types.{LongType, ArrayType}
    import org.apache.spark.sql.functions._
    // cur at node 10 with entropy picking rank (h >> 1) % 2 among {20, 21}
    val cur = Seq((1L, 0L, Seq(6L, 7L), 10L)).toDF("_start", "_k", "_hs", "_cur")
      .localCheckpoint()
    val outdeg = Seq((10L, 2L)).toDF("_s", "_od").localCheckpoint()
    val nbrIdx = Seq((10L, 0L, 20L), (10L, 1L, 21L)).toDF("_s", "_rank", "_d")
      .localCheckpoint()
    val nxt = Graph.walkStep(cur, outdeg, nbrIdx, t = 1)
    // h = 6: (6 >> 1) % 2 = 1 → neighbor 21
    assert(nxt.as[(Long, Long, Seq[Long], Long)].collect().toSeq ==
      Seq((1L, 0L, Seq(6L, 7L), 21L)))
    // t = 2 uses the second entropy: (7 >> 1) % 2 = 1 → still 21
    assert(Graph.walkStep(cur, outdeg, nbrIdx, t = 2)
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq ==
      Seq((1L, 0L, Seq(6L, 7L), 21L)))
    // state stays fixed-width: longs + the entropy array, nothing else
    assert(nxt.schema.fields.map(_.dataType).forall(dt =>
      dt == LongType || dt.isInstanceOf[ArrayType]), nxt.schema.treeString)
  }

  test("node2vecWalks: hand-replayed weighted picks, first-step uniform degrade, p/q bias direction, dict ≡ string") {
    // diamond with a return path: a->b, b->a (return), b->c, b->d,
    // a->c (so from (a -> b), candidate c is distance-1), c->a, d->a
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("b", "d"), ("a", "c"),
      ("c", "a"), ("d", "a")
    ).toDF("src", "dst")
    val es = Map(
      "a" -> Seq("b", "c"), "b" -> Seq("a", "c", "d"),
      "c" -> Seq("a"), "d" -> Seq("a"))
    val eset = Set("a" -> "b", "b" -> "a", "b" -> "c", "b" -> "d",
      "a" -> "c", "c" -> "a", "d" -> "a")
    def replay(start: String, k: Long, seed: String, steps: Int,
               pPpm: Long, qPpm: Long): Seq[String] = {
      val (wRet, wIn, wOut) = (1000000000000L / pPpm, 1000000L, 1000000000000L / qPpm)
      var prev = start; var cur = start
      var outw = Seq(start)
      var t = 1
      var dead = false
      while (t <= steps && !dead) {
        es.get(cur) match {
          case None => dead = true
          case Some(nbrs) =>
            val ws = nbrs.map(x =>
              if (x == prev) wRet
              else if (eset.contains(prev -> x)) wIn
              else wOut)
            val tot = ws.sum
            val r = ((fnvU64(s"$start#$k#$seed#$t") >> 1) % tot).toLong
            val cums = ws.scanLeft(0L)(_ + _)
            val pick = cums.zip(ws).indexWhere { case (c, wt) => r >= c && r < c + wt }
            prev = cur; cur = nbrs(pick)
            outw = outw :+ cur
            t += 1
        }
      }
      outw
    }
    def runAll(pPpm: Long, qPpm: Long, thr: Long = Long.MaxValue) =
      Graph.node2vecWalks(edges, "src", "dst", steps = 5, walksPerNode = 2,
          pPpm = pPpm, qPpm = qPpm, dictThreshold = thr)
        .as[(String, Long, Long, String)].collect()
        .groupBy(r => (r._1, r._2)).view
        .mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    // strong return bias (p tiny) and strong outward bias (q tiny)
    for ((p, q) <- Seq((1000000L, 1000000L), (10000L, 1000000L),
        (1000000L, 10000L), (4000000L, 250000L))) {
      val got = runAll(p, q)
      val exp = (for { v <- Seq("a", "b", "c", "d"); k <- 0 to 1 }
        yield (v, k.toLong) -> replay(v, k, "", 5, p, q)).toMap
      assert(got == exp, s"p=$p q=$q\ngot=$got\nexp=$exp")
    }
    // p = q = 1: every weight is wIn on step 1 BY CONSTRUCTION (no
    // self-loops, prev = cur), i.e. the uniform degrade — verify the
    // model agrees with a direct uniform-range pick on a branching node
    val h1 = fnvU64("b#0##1")
    val uniformPick = es("b")((((h1 >> 1) % (3L * 1000000L)) / 1000000L).toInt)
    assert(replay("b", 0L, "", 1, 1000000L, 1000000L) == Seq("b", uniformPick))
    // dict ≡ string on a biased configuration
    assert(runAll(10000L, 3000000L, thr = 1L) == runAll(10000L, 3000000L))
    intercept[IllegalArgumentException] {
      Graph.node2vecWalks(edges, "src", "dst", steps = 5, pPpm = 0L)
    }
  }

  test("skipGramPairs: hand-counted window pairs, cross-walk aggregation, symmetry") {
    val walks = Seq(
      ("a", 0L, 0L, "a"), ("a", 0L, 1L, "b"), ("a", 0L, 2L, "c"), ("a", 0L, 3L, "d"),
      ("z", 0L, 0L, "z"), ("z", 0L, 1L, "a")
    ).toDF("start", "walk", "step", "node")
    val got = Graph.skipGramPairs(walks, window = 2)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exp = Map(
      ("a", "b") -> 1L, ("a", "c") -> 1L, ("b", "a") -> 1L, ("b", "c") -> 1L,
      ("b", "d") -> 1L, ("c", "a") -> 1L, ("c", "b") -> 1L, ("c", "d") -> 1L,
      ("d", "b") -> 1L, ("d", "c") -> 1L, ("z", "a") -> 1L, ("a", "z") -> 1L)
    assert(got == exp, s"got=$got")
    // co-occurrence is symmetric by construction
    got.foreach { case ((c, x), n) => assert(got(((x, c))) == n) }
    // window 1 keeps only adjacent steps
    val w1 = Graph.skipGramPairs(walks, window = 1)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(w1 == Set(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("z", "a"), ("a", "z")), w1.toString)
    intercept[IllegalArgumentException] { Graph.skipGramPairs(walks, 0) }
  }

  test("kTrussBounded: K4 vs pendant triangle vs pendant edge; k separates what k-core can't") {
    // K4 on {a,b,c,d} + triangle {d,e,f} sharing d + pendant f->g;
    // direction/multi-edge noise must collapse
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d") if x < y }
      yield (x, y)
    val edges = (k4 ++ Seq(("e", "d"), ("e", "f"), ("d", "f"), ("f", "g"),
      ("a", "b"), ("g", "f"))).toDF("src", "dst")
    def run(k: Int) = Graph.kTrussBounded(edges, "src", "dst", k, rounds = 3)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // k=4: only K4 survives (each K4 edge sits in 2 triangles; the
    // pendant triangle's edges have support 1 and peel in round 1)
    assert(run(4) == k4.map(_ -> 2L).toMap, run(4).toString)
    // k=3: K4 + the pendant triangle survive; the pendant edge drops
    val exp3 = k4.map(_ -> 2L).toMap ++
      Map(("d", "e") -> 1L, ("e", "f") -> 1L, ("d", "f") -> 1L)
    assert(run(3) == exp3, run(3).toString)
    // k=5: nothing has support 3 — empty truss
    assert(run(5).isEmpty)
    // dict ≡ string branch
    val d1 = Graph.kTrussBounded(edges, "src", "dst", 3, 3, dictThreshold = 1L)
    assert(rows(d1.orderBy("u", "v")) ==
      rows(Graph.kTrussBounded(edges, "src", "dst", 3, 3,
        dictThreshold = Long.MaxValue).orderBy("u", "v")))
    intercept[IllegalArgumentException] {
      Graph.kTrussBounded(edges, "src", "dst", k = 2, rounds = 3)
    }
    // CASCADING peel needs the round structure: a triangle STRIP
    // 1-2-3, 2-3-4, 3-4-5 (k=4): outer edges peel first, then the
    // newly-exposed middle — 3 rounds drain it completely
    val strip = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("2", "4"), ("3", "4"),
      ("3", "5"), ("4", "5")).toDF("src", "dst")
    assert(Graph.kTrussBounded(strip, "src", "dst", 4, 3).count() == 0L)
    // ...but a single round leaves the not-yet-exposed core edges
    assert(Graph.kTrussBounded(strip, "src", "dst", 4, 1).count() > 0L)
  }

  test("graphProfile: hand-computed structural summary incl. rank assortativity") {
    // reciprocal pair a<->b, a 4-node chain tail, a self-loop and a
    // duplicate edge that must both vanish
    val edges = Seq(
      ("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"),
      ("a", "c"), ("c", "c")
    ).toDF("src", "dst")
    val got = Graph.graphProfile(edges, "src", "dst")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // edges {a>b, b>a, b>c, c>d, a>c}: outdeg a=2 b=2 c=1 (d dangling),
    // indeg b=1 a=1 c=2 d=1; reciprocity 2/5; per-edge (x=od(src),
    // y=id(dst)) with src#dst tiebreak gives rank pairs
    // (1,3)(2,1)(3,4)(4,2)(5,5): sum_d2=10 → spearman (120-60)/120;
    // inversions of [3,1,4,2,5] = 3 → kendall (20-12)/20
    assert(got == Seq((4L, 5L, 2L, 400000L, 1L, 2L, 2L, 500000L, 400000L)),
      got.toString)
  }

  test("effectiveDiameterFromAnf: monotone pair counts, terminal share = 1e6, min-t contract") {
    // directed path 0->1->...->5: N(t) grows every level through t=3
    val edges = (0 until 5).map(i => (i.toString, (i + 1).toString)).toDF("src", "dst")
    val anf = Graph.anfHyperBall(edges, "src", "dst", maxDepth = 3, m = 64)
      .localCheckpoint()
    val got = Graph.effectiveDiameterFromAnf(anf, maxDepth = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._2).toSeq == got.map(_._2).sorted.toSeq, got.mkString(","))
    assert(got.last._3 == 1000000L, got.mkString(","))
    val expEff = got.filter(_._3 >= 900000L).map(_._1).min
    assert(got.forall(_._4 == expEff), got.mkString(","))
  }

  test("effectiveDiameterFromAnf: int64-ceiling tripwire refuses instead of nulling") {
    // synthetic per-node table whose decimal sum exceeds Long.MaxValue:
    // the BIGINT output cast must be a hard error naming the remedy,
    // never a silent non-ANSI null
    val big = Seq(
      ("u", Long.MaxValue, Long.MaxValue),
      ("v", Long.MaxValue, Long.MaxValue),
      ("w", Long.MaxValue, Long.MaxValue)
    ).toDF("node", "ball1_est", "ball2_est")
    val e = intercept[Exception] {
      Graph.effectiveDiameterFromAnf(big, maxDepth = 2).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("exceeds int64"), e.toString)
  }

  test("randomWalks: self-loops are not pickable neighbors (sibling-operator and oracle consistency)") {
    // b carries a self-loop; with the loop dropped b's only neighbor is
    // c, so every walk through b must step to c deterministically and
    // the result equals the run on the loop-free edge set
    val looped = Seq(
      ("a", "b"), ("b", "b"), ("b", "c"), ("c", "c")
    ).toDF("src", "dst")
    val clean = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      rows(Graph.randomWalks(df, "src", "dst", steps = 4, walksPerNode = 2)
        .orderBy("start", "walk", "step"))
    val got = run(looped)
    // c becomes a dead end once its only (self) edge drops
    assert(got == run(clean), got.toString)
    assert(!got.exists(r => r(3) == "c" && r(2).asInstanceOf[Long] > 2L))
  }

  test("node2vecWalks: hub-degree tripwire refuses a visited hub; param bounds pinned") {
    // hub h has out-degree 5 > maxOutDegree = 4 and every walk from h
    // visits it at step 1's candidate join
    val hub = (1 to 5).map(i => ("h", s"x$i")).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.node2vecWalks(hub, "src", "dst", steps = 2, maxOutDegree = 4L)
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxOutDegree"), e.toString)
    assert(msg.contains("alias tables"), e.toString)
    // the same graph under the knob runs; a hub NEVER visited never trips
    assert(Graph.node2vecWalks(hub, "src", "dst", steps = 2,
      maxOutDegree = 5L).count() > 0L)
    val unvisited = hub.unionByName(Seq(("a", "b")).toDF("src", "dst"))
    // walks starting at x1..x5/b are dead ends; only h's walks see the
    // hub window — maxOutDegree = 4 still trips because h itself walks
    intercept[Exception] {
      Graph.node2vecWalks(unvisited, "src", "dst", steps = 2,
        maxOutDegree = 4L).collect()
    }
    // ppm params past 10^12 would integer-divide weights to 0 — refused
    intercept[IllegalArgumentException] {
      Graph.node2vecWalks(hub, "src", "dst", steps = 2, pPpm = 1000000000001L)
    }
    intercept[IllegalArgumentException] {
      Graph.node2vecWalks(hub, "src", "dst", steps = 2, qPpm = 1000000000001L)
    }
    intercept[IllegalArgumentException] {
      Graph.node2vecWalks(hub, "src", "dst", steps = 2, maxOutDegree = 0L)
    }
  }

  test("graft_elemsum: cross-partition merge, null-array skip, null-slot and length-mismatch and overflow refusals") {
    import org.apache.spark.sql.functions._
    graft.plans.ElemSumAggregate.register(spark)
    val df = Seq(
      ("g", Some(Seq(1L, -9L, 0L))), ("g", Some(Seq(4L, 2L, 0L))),
      ("g", None), ("h", Some(Seq(0L, 0L, 7L)))
    ).toDF("k", "_d").repartition(4)
    val got = df.groupBy("k")
      .agg(call_function("graft_elemsum", col("_d")).as("r"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got("g") == Seq(5L, -7L, 0L), got.toString)
    assert(got("h") == Seq(0L, 0L, 7L), got.toString)
    val allNull = Seq(("n", Option.empty[Seq[Long]])).toDF("k", "_d")
      .groupBy("k").agg(call_function("graft_elemsum", col("_d")))
      .collect()
    assert(allNull.head.isNullAt(1))
    def msgOf(e: Throwable): String = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    val badLen = intercept[Exception] {
      Seq(("g", Seq(1L)), ("g", Seq(1L, 2L))).toDF("k", "_d")
        .groupBy("k").agg(call_function("graft_elemsum", col("_d"))).collect()
    }
    assert(msgOf(badLen).contains("different lengths"), badLen.toString)
    val nullSlot = intercept[Exception] {
      Seq(("g", Seq(Some(1L), None))).toDF("k", "_d")
        .groupBy("k").agg(call_function("graft_elemsum", col("_d"))).collect()
    }
    assert(msgOf(nullSlot).contains("null slot"), nullSlot.toString)
    val over = intercept[Exception] {
      Seq(("g", Seq(Long.MaxValue)), ("g", Seq(1L))).toDF("k", "_d")
        .repartition(1)
        .groupBy("k").agg(call_function("graft_elemsum", col("_d"))).collect()
    }
    assert(msgOf(over).contains("overflow"), over.toString)
  }

  test("sgnsEpochs: one-pair epoch matches the hand-replayed integer arithmetic") {
    val pairs = Seq(("a", "b", 1L, 1L)).toDF("center", "other", "label", "weight")
    val tbl = Graph.sigmoidTablePpm()
    def init(n: String, i: Int): Long =
      ((fnvU64(s"$n#$i#s1") >> 1) % 125001L).toLong - 62500L
    val u0 = (0 until 2).map(i => init("a", i))
    val v0 = (0 until 2).map(i => init("b", i))
    val dot = u0.zip(v0).map { case (a, b) => a * b }.sum
    val hi = 6000000000000L
    val idx = if (dot <= -hi) 0 else if (dot >= hi) 63
      else (((dot + hi) * 64L) / (2L * hi)).toInt
    val s = 500000L * 1L * (1000000L - tbl(idx))
    def step(e: Seq[Long], o: Seq[Long]): Seq[Long] = e.zip(o).map {
      case (ei, oi) => math.max(-10000000L,
        math.min(10000000L, ei + (s * (oi / 1000L)) / 1000000000L))
    }
    val exp = Map("a" -> step(u0, v0), "b" -> step(v0, u0))
    val got = Graph.sgnsEpochs(pairs, dims = 2, epochs = 1,
        lrPpm = 500000L, seed = "s1")
      .as[(String, Seq[Long])].collect().toMap
    assert(got == exp, s"got=$got exp=$exp")
  }

  test("sgnsEpochs: trained embeddings separate planted clusters; tripwires and bounds refuse") {
    // two 3-cliques as positives, cross-cluster pairs as negatives
    val as = Seq("a1", "a2", "a3"); val bs = Seq("b1", "b2", "b3")
    def cliquePairs(ns: Seq[String]) = for {
      x <- ns; y <- ns if x != y
    } yield (x, y, 1L, 1L)
    val cross = for { x <- as; y <- bs } yield (x, y, 0L, 1L)
    val pairs = (cliquePairs(as) ++ cliquePairs(bs) ++ cross)
      .toDF("center", "other", "label", "weight")
    val emb = Graph.sgnsEpochs(pairs, dims = 8, epochs = 4, lrPpm = 250000L)
      .as[(String, Seq[Long])].collect().toMap
    def dot(x: String, y: String): Long =
      emb(x).zip(emb(y)).map { case (a, b) => a * b }.sum
    val within = (cliquePairs(as) ++ cliquePairs(bs)).map(p => dot(p._1, p._2))
    val across = cross.map(p => dot(p._1, p._2))
    assert(within.sum / within.size > across.sum / across.size,
      s"within=${within.sum / within.size} across=${across.sum / across.size}")
    // every trained coordinate respects the ±10.0 clamp
    assert(emb.values.flatten.forall(v => v.abs <= 10000000L))
    // tripwires: bad label / weight out of [1, 1000]
    for (bad <- Seq(("a", "b", 2L, 1L), ("a", "b", 1L, 0L),
        ("a", "b", 1L, 1001L))) {
      val e = intercept[Exception] {
        Graph.sgnsEpochs(Seq(bad).toDF("center", "other", "label", "weight"),
          dims = 2, epochs = 1, lrPpm = 1000L).collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("label must be 0/1"), e.toString)
    }
    // parameter bounds
    intercept[IllegalArgumentException](
      Graph.sgnsEpochs(pairs, dims = 0, epochs = 1, lrPpm = 1000L))
    intercept[IllegalArgumentException](
      Graph.sgnsEpochs(pairs, dims = 2, epochs = 9, lrPpm = 1000L))
    intercept[IllegalArgumentException](
      Graph.sgnsEpochs(pairs, dims = 2, epochs = 1, lrPpm = 500001L))
    intercept[IllegalArgumentException](
      Graph.sgnsEpochs(pairs, dims = 2, epochs = 1, lrPpm = 1000L, seed = "x#y"))
  }

  test("graft_elemmax: a null register slot is a hard error, not a silent rho 0") {
    import org.apache.spark.sql.functions._
    graft.plans.ElemMaxAggregate.register(spark)
    val df = Seq(("g", Seq(Some(1.toByte), None, Some(3.toByte))))
      .toDF("k", "_regs")
    val e = intercept[Exception] {
      df.groupBy("k").agg(call_function("graft_elemmax", col("_regs"))).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("null slot"), e.toString)
  }

  test("degenerate inputs, whole family: empty, all-null and self-loop-only edge lists on both dict branches") {
    import org.apache.spark.sql.DataFrame
    import Graph._
    val ops: Seq[(String, (DataFrame, Long) => DataFrame)] = Seq(
      "pageRank" -> ((e, thr) => pageRankScaled(e, "src", "dst", 2, dictThreshold = thr)),
      "ppr" -> ((e, thr) =>
        personalizedPageRankScaled(e, "src", "dst", "a", 2, dictThreshold = thr)),
      "harmonic" -> ((e, thr) =>
        harmonicCentralityScaled(e, "src", "dst", 2, dictThreshold = thr)),
      "triangles" -> ((e, thr) => triangleCountsScaled(e, "src", "dst", dictThreshold = thr)),
      "kCore" -> ((e, thr) => kCoreBounded(e, "src", "dst", 1, 2, dictThreshold = thr)),
      "lpa" -> ((e, thr) => labelPropagationMin(e, "src", "dst", 2, dictThreshold = thr)),
      "cc" -> ((e, thr) => connectedComponentsMin(e, "src", "dst", dictThreshold = thr)),
      "katz" -> ((e, thr) => katzCentralityScaled(e, "src", "dst", 2, dictThreshold = thr)),
      "anf" -> ((e, thr) => anfHyperBall(e, "src", "dst", 2, 16, dictThreshold = thr)),
      "kTruss" -> ((e, thr) => kTrussBounded(e, "src", "dst", 3, 1, dictThreshold = thr)),
      "walks" -> ((e, thr) => randomWalks(e, "src", "dst", 2, dictThreshold = thr)),
      "node2vec" -> ((e, thr) => node2vecWalks(e, "src", "dst", 2, dictThreshold = thr)),
      "profile" -> ((e, _) => graphProfile(e, "src", "dst")))
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val allNull = Seq[(String, String)]((null, null), ("a", null), (null, "b"))
      .toDF("src", "dst")
    val loops = Seq(("a", "a"), ("b", "b")).toDF("src", "dst")
    val onLoops: Map[String, Seq[Seq[Any]]] = Map(
      "pageRank" -> Seq(Seq("a", 500000000L), Seq("b", 500000000L)),
      "ppr" -> Seq(Seq("a", 1000000000L), Seq("b", 0L)),
      "harmonic" -> Seq(Seq("a", 0L), Seq("b", 0L)),
      "lpa" -> Seq(Seq("a", "a"), Seq("b", "b")),
      "cc" -> Seq(Seq("a", "a"), Seq("b", "b")),
      "katz" -> Seq(Seq("a", 110000L), Seq("b", 110000L))
    ).withDefaultValue(Seq.empty)
    for (thr <- Seq(1L, Long.MaxValue); (name, op) <- ops) {
      for ((input, label) <- Seq(empty -> "empty", allNull -> "all-null")) {
        if (name == "pageRank") {
          val e = intercept[IllegalArgumentException](op(input, thr))
          assert(e.getMessage.contains("empty graph"), s"$name $label thr=$thr: $e")
        } else {
          assert(rows(op(input, thr)).isEmpty, s"$name $label thr=$thr")
        }
      }
      assert(rows(op(loops, thr)) == onLoops(name), s"$name self-loops thr=$thr")
    }
  }
}
