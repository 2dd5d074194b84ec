package graft

import graft.operators.{Dedup, DuplicateCheck}
import graft.model.Route

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val doc = "the quick brown fox jumps over the lazy dog again and again today"
  private def docs = Seq(
    (1L, doc),
    (2L, doc + "!!"),            // exact dup after punctuation strip
    (3L, doc.replace("lazy", "sleepy")), // near dup
    (4L, "completely different content about spark query engines at scale")
  ).toDF("id", "text")

  test("exact dedup keeps first id per normalized fingerprint") {
    val kept = Dedup.exact(docs, "text", "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("exactGroups reports dup groups only") {
    val g = Dedup.exactGroups(docs, "text", "id").select("ids").as[Seq[Long]].collect()
    assert(g.toSeq == Seq(Seq(1L, 2L)))
  }

  test("minhash finds planted near-dups and not unrelated docs") {
    val pairs = Dedup.minHashDupPairs(docs, "text", "id", numHashes = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minHashDedup drops the larger id of each dup pair") {
    val kept = Dedup.minHashDedup(docs, "text", "id", 32, 16, 0.9).select("id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L))
  }

  test("simhash: identical normalized docs have identical signatures (hamming 0)") {
    val pairs = Dedup.simHashDupPairs(docs, "text", "id", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 0)
  }

  test("pipeline signature (collect_list + native SimHash64) equals per-row simHash") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // the old distributed signature path: explode + xxhash64 +
    // collect_list + one native SimHash64 pass — must be bit-identical to
    // the per-row convenience column (vote counting is order-independent)
    val viaPipeline = docs
      .select(col("id"), explode(array_distinct(TextFunctions.shingles(col("text"), 2))).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
      .groupBy("id").agg(collect_list(col("h")).as("hs"))
      .select(col("id"), Dedup.simHashFromHashes(col("hs")).as("sig"))
    val direct = docs.select(col("id"), Dedup.simHash(col("text"), 2).as("sig2"))
    assert(viaPipeline.join(direct, "id").filter(col("sig") =!= col("sig2")).isEmpty)
  }

  test("narrow native SimHashFromShingles equals the explode+collect_list pipeline") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // the NEW per-row signature (hash+vote in one native pass) must be
    // bit-identical on real data to the explode pipeline it replaced
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val viaPipeline = d
      .select(col("id"), explode(array_distinct(TextFunctions.shingles(col("text"), 2))).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
      .groupBy("id").agg(collect_list(col("h")).as("hs"))
      .select(col("id"), Dedup.simHashFromHashes(col("hs")).as("sig"))
    val narrow = d.select(col("id"),
      Dedup.simHashOfShingles(array_distinct(TextFunctions.shingles(col("text"), 2))).as("sig2"))
      .filter(col("sig2").isNotNull)
    // identical doc coverage (shingle-less docs dropped by both)...
    assert(narrow.count() == viaPipeline.count())
    // ...and identical signatures doc-for-doc
    assert(viaPipeline.join(narrow, "id").filter(col("sig") =!= col("sig2")).isEmpty)
  }

  test("narrow native MinHashSig pipeline equals the explode+min-agg pipeline") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val k = 16
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val viaAgg = d
      .select(col("id"), explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("g"))
      .groupBy("id")
      .agg(array((0 until k).map(i => min(xxhash64(col("g"), lit(i)))): _*).as("sig"))
    val narrow = d
      .select(col("id"), Dedup.minHashSignature(col("text"), k, 3).as("sig2"))
      .filter(col("sig2").isNotNull)
    assert(narrow.count() == viaAgg.count())
    assert(viaAgg.join(narrow, "id").filter(col("sig") =!= col("sig2")).isEmpty)
  }

  test("native signatureOverlap equals the zip_with+filter composition") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val sigs = d.select(col("id"), Dedup.minHashSignature(col("text"), 16, 3).as("sig"))
      .filter(col("sig").isNotNull).limit(50)
    val a = sigs.select(col("id").as("ia"), col("sig").as("sa"))
    val b = sigs.select(col("id").as("ib"), col("sig").as("sb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
    val viaHof = size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
    val mism = pairs
      .select(Dedup.signatureOverlap(col("sa"), col("sb")).as("nat"), viaHof.as("hof"))
      .filter(col("nat") =!= col("hof"))
    assert(mism.isEmpty)
  }

  test("ngram jaccard: exact value for identical docs; one-word swap scores below 1") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "id", n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 3L)) > 0.3 && m((1L, 3L)) < 1.0)
  }

  test("embedding near-dup: identical vectors pair at cosine 1") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 2.0f, 0.0f))
    ).toDF("id", "v")
    val pairs = Dedup.embeddingDupPairs(vecs, "v", "id", threshold = 0.99, bits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("editSimilarityPairs: exact arbiter on candidate pairs; empty texts equal") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fax"),   // 1 edit of 19 chars → 18/19 ≈ 0.947
      (3L, "completely different words here"),
      (4L, ""), (5L, "")
    ).toDF("id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.editSimilarityPairs(cands, docs, "text", "id", threshold = 0.9)
      .select("id_a", "id_b", "edit_sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out.keySet == Set((1L, 2L), (4L, 5L))) // (1,3) is dissimilar
    assert(math.abs(out((1L, 2L)) - (1.0 - 1.0 / 19.0)) < 1e-12)
    assert(out((4L, 5L)) == 1.0) // zero-length pair: defined equal, no NaN
  }

  test("semanticDupPairs: within-cluster cosine pairs; straddle trade documented") {
    // two well-separated directions; dups planted in each
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact copy of 1
      (3L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)),   // exact copy of 4
      (6L, Array(0.0f, 1.0f, 0.0f, 0.0f))    // lone direction
    ).toDF("id", "v")
    // one cluster = exhaustive within-cluster scan: pins the cosine
    // threshold semantics independent of seeding. cos(1,3) ≈ 0.99995
    val all = Dedup.semanticDupPairs(vecs, "v", "id",
        threshold = 0.99, numClusters = 1, iterations = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    val strict = Dedup.semanticDupPairs(vecs, "v", "id",
        threshold = 0.99999, numClusters = 1, iterations = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict == Set((1L, 2L), (4L, 5L))) // exact copies only
    // multi-cluster: EXACT copies share an argmax whatever the (hash-
    // random) seeds picked, so they are always found; nothing pairs
    // across orthogonal directions (threshold kills cross pairs even
    // when clustering lumps them together)
    val pairs = Dedup.semanticDupPairs(vecs, "v", "id",
        threshold = 0.99, numClusters = 3, iterations = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 5L)))
    val xdir = Set(1L, 2L, 3L)
    assert(pairs.forall { case (a, b) =>
      xdir.contains(a) == xdir.contains(b) })
  }

  test("paragraphDedup: first occurrence survives, blanks kept, hollow docs audit as empty") {
    import org.apache.spark.sql.functions._
    val boiler = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"unique opening here\n\n$boiler\n\nunique closing there"),
      (2L, s"$boiler\n\nsome genuine content"),
      (3L, s"$boiler"),                          // hollow after dedup
      (4L, s"one thing\n\n\n\nanother thing")    // blank paragraph preserved
    ).toDF("id", "text")
    val out = Dedup.paragraphDedup(df, "text", "id")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == s"unique opening here\n\n$boiler\n\nunique closing there")
    assert(out(2L) == "some genuine content")
    assert(out(3L) == "")
    assert(out(4L) == "one thing\n\n\n\nanother thing")
    // near-identical boilerplate (case/punct variants) dedups too
    val variant = Seq(
      (10L, "Subscribe to our newsletter!"),
      (11L, "subscribe to our newsletter")
    ).toDF("id", "text")
    val v = Dedup.paragraphDedup(variant, "text", "id")
      .as[(Long, String)].collect().toMap
    assert(v(10L) == "Subscribe to our newsletter!") // first kept VERBATIM
    assert(v(11L) == "")
  }

  test("boilerplateRemove: lines over the doc-count threshold vanish from EVERY doc") {
    val boiler = "all rights reserved"
    val docs = (1L to 6L).map(i => (i, s"body of document $i\n$boiler")) :+
      (7L, s"$boiler") :+                  // hollow after removal
      (8L, "rare line\n\nwith a blank")    // blank line preserved
    val df = docs.toDF("id", "text")
    val out = Dedup.boilerplateRemove(df, "text", "id", maxDocs = 5)
      .as[(Long, String)].collect().toMap
    (1L to 6L).foreach(i => assert(out(i) == s"body of document $i"))
    assert(out(7L) == "")
    assert(out(8L) == "rare line\n\nwith a blank")
    // under the threshold nothing is removed — even repeated lines
    val few = Seq((1L, "shared line\nown text a"), (2L, "shared line\nown text b"))
      .toDF("id", "text")
    val kept = Dedup.boilerplateRemove(few, "text", "id", maxDocs = 5)
      .as[(Long, String)].collect().toMap
    assert(kept(1L) == "shared line\nown text a")
    assert(kept(2L) == "shared line\nown text b")
    // normalization: case/punct variants count as the same line and are
    // ALL removed (no first-occurrence exemption, unlike paragraphDedup)
    val variants = (1L to 6L).map(i =>
      (i, s"keep me $i\n" + (if (i % 2 == 0) "Visit Our Site!" else "visit our site")))
      .toDF("id", "text")
    val v = Dedup.boilerplateRemove(variants, "text", "id", maxDocs = 5)
      .as[(Long, String)].collect().toMap
    (1L to 6L).foreach(i => assert(v(i) == s"keep me $i"))
  }

  test("winnowing: the MOSS guarantee — shared spans >= w+k-1 share a fingerprint") {
    import org.apache.spark.sql.functions._
    val k = 8; val w = 8
    // normalized-stable text (lowercase, single spaces, no punctuation)
    val sharedSpan = "this exact span of text is long enough to be caught by winnowing every time"
    val a = s"totally unrelated opening words then $sharedSpan and some trailing content"
    val b = s"different document start here $sharedSpan with another ending altogether"
    // no 8-char substring in common with a or b (short gibberish tokens;
    // a first draft used prose and was correctly paired via a single
    // shared 8-gram — "document" — which is exactly the guarantee)
    val c = "zq xv jk wp mn bt ld rg fy cs hw qa ze rt yu io pl km nb vc xs wd"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val fps = df.select(col("id"), Dedup.winnowFingerprints(col("text"), k, w).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    // guarantee: the shared span exceeds w+k-1 chars, so a and b intersect
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    // density sanity: selected count is bounded by the window count
    assert(fps(1L).size <= a.length - k + 1)
    // identical text -> identical sets; short text -> empty
    val edge = Seq((10L, a), (11L, a), (12L, "tiny")).toDF("id", "text")
      .select(col("id"), Dedup.winnowFingerprints(col("text"), k, w).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(edge(10L) == edge(11L))
    assert(edge(12L).isEmpty)
    // overlap pairs: (a, b) found via their shared span; c pairs with no one
    val pairs = Dedup.winnowOverlapPairs(df, "text", "id", k, w, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("null-signature docs generate ZERO candidate rows (no seed-constant hot bucket)") {
    import org.apache.spark.sql.functions._
    // m shingle-less docs (NULL text → null signature; empty STRINGS get
    // a real [""] shingle and are genuine exact dups) used to share the
    // constant-seed bucket in EVERY band — m²/2 joined rows materialized
    // before the verify filter. The null-guard in the band-key arrays
    // must drop them at the explode: zero candidates, not m².
    val empties = (1L to 40L).map(i => (i, null: String)) :+ (100L, doc) :+ (101L, doc)
    val df = empties.toDF("id", "text")
    // candidate rows BEFORE the verify filter: band join + id ordering only
    val sigs = df.select(col("id"),
      Dedup.minHashSignature(col("text"), 32, 3).as("sig"))
    val banded = sigs.select(col("id"),
      explode(Dedup.lshBandKeys(col("sig"), 16, 2)).as("bk"))
    val cands = banded.select(col("bk"), col("id").as("id_a"))
      .join(banded.select(col("bk"), col("id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
    // only the two real docs meet; none of the 40 empties appears at all
    assert(cands.filter(col("id_a") <= 40L || col("id_b") <= 40L).isEmpty)
    // end-to-end both paths: real dups still found, empties produce nothing
    val mh = Dedup.minHashDupPairs(df, "text", "id", 32, 16, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh == Set((100L, 101L)))
    val sh = Dedup.simHashDupPairs(df, "text", "id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh == Set((100L, 101L)))
  }

  test("embedding SRP buckets: native SrpBucket equals the posexplode+aggregate form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.VectorFunctions
    // embeddingDupPairs now rides the native pass; pin bit-parity with
    // the aggregate shape it replaced (same xxhash64(i, p, seed) sign
    // chain, same left-to-right accumulation) on real embeddings
    val bits = 8; val seed = 42
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val viaAgg = emb
      .select(col("id"), posexplode(col("v")).as(Seq("i", "x")))
      .select(col("id"), col("i"), col("x").cast(DoubleType).as("x"))
      .groupBy("id")
      .agg((0 until bits).map { p =>
        val signed = when(
          pmod(xxhash64(col("i"), lit(p), lit(seed)), lit(2L)) === 0, col("x"))
          .otherwise(-col("x"))
        when(sum(signed) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce(_ + _).as("bucket"))
    val native = emb.select(col("id"),
      VectorFunctions.srpBucket(col("v"), bits, seed).as("bucket2"))
    assert(native.count() == viaAgg.count())
    assert(viaAgg.join(native, "id").filter(col("bucket") =!= col("bucket2")).isEmpty)
  }

  test("winnow containment: identical docs score 1.0; a contained quote scores ~1 while shared count stays small") {
    import org.apache.spark.sql.functions._
    val k = 8; val w = 8
    val quote = "the five boxing wizards jump quickly over the crooked fence tonight"
    val filler = (1 to 40).map(i => s"unrelated sentence number $i about completely different things").mkString(" ")
    val df = Seq(
      (1L, quote),                      // the short quote
      (2L, s"$filler $quote $filler"),  // long doc CONTAINING the quote
      (3L, quote)                       // identical twin of 1
    ).toDF("id", "text")
    val pairs = Dedup.winnowOverlapPairs(df, "text", "id", k, w, minShared = 1)
      .as[(Long, Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    // identical docs: same fingerprint set -> containment exactly 1.0
    assert(pairs((1L, 3L))._2 == 1.0)
    // contained quote: the quote's fingerprints all appear in the long
    // doc (MOSS selection is positional-window-local over the same
    // substring... minus boundary windows), so containment is high even
    // though shared is a tiny fraction of the long doc's fingerprints
    val (shared12, cont12) = pairs((1L, 2L))
    assert(cont12 >= 0.5, s"containment $cont12")
    // while the symmetric view is diluted: the long doc has many more
    // fingerprints than are shared
    val nfLong = df.filter(col("id") === 2L)
      .select(size(Dedup.winnowFingerprints(col("text"), k, w))).as[Int].head()
    assert(shared12 < nfLong / 2, s"shared $shared12 vs long-doc fps $nfLong")
  }

  test("duplicate-check routes: existing key and intra-batch dups -> already-exists") {
    val incoming = Seq((1L, 1), (1L, 2), (2L, 1)).toDF("k", "seq")
    val existing = Seq(Tuple1(2L)).toDF("k")
    val out = DuplicateCheck.route(incoming, existing, Seq("k"), "seq")
      .select("k", "seq", Route.RouteCol).as[(Long, Int, String)].collect().toSet
    assert(out == Set(
      (1L, 1, Route.Success),
      (1L, 2, Route.AlreadyExists),
      (2L, 1, Route.AlreadyExists)))
  }

  test("connectedComponents: multi-hop chains merge to the min id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // a 31-node chain: pointer jumping converges to one component
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chained = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(chained.length == 31 && chained.toMap == (0L to 30L).map(_ -> 0L).toMap,
      chained.toSeq)
    // the minimum is numeric, not string ("10" < "9")
    val numeric = Dedup.connectedComponents(
        Seq((9L, 10L), (10L, 11L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(numeric == Map(9L -> 9L, 10L -> 9L, 11L -> 9L), numeric.toString)
    // a pair with a null id contributes no rows
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (3L, null))
      .toDF("id_a", "id_b")
    val nn = Dedup.connectedComponents(withNull).as[(Long, Long)].collect().toMap
    assert(nn == Map(1L -> 1L, 2L -> 1L), nn.toString)
  }

  test("dedupByComponents keeps cluster representatives and untouched rows") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByComponents(df, pairs, "id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("keepClusterRepresentatives: quality argmax with id tie-break, singletons untouched") {
    import spark.implicits._
    // cluster {1,2,3}: q = (5,9,9) -> id 2 (max q, tie to smaller id);
    // cluster {10,11}: q = (1,7)   -> id 11 (min-id policy would keep 10);
    // 99 is unclustered and passes through with its columns intact
    val df = Seq((1L, 5L, "a"), (2L, 9L, "b"), (3L, 9L, "c"),
      (10L, 1L, "d"), (11L, 7L, "e"), (99L, 0L, "f")).toDF("id", "q", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    val kept = Dedup.keepClusterRepresentatives(df, "id", comps, "q")
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(kept == Set((2L, "b"), (11L, "e"), (99L, "f")))
  }

  test("hot-bucket cap bounds the candidate space on boilerplate clusters") {
    import spark.implicits._
    // 30 identical docs (one boilerplate cluster) + 2 distinct dups
    val docs = ((0 until 30).map(i => (i.toLong, "the same boilerplate text body " * 3)) ++
      Seq((100L, "a unique pair of words here now"), (101L, "a unique pair of words here now")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minHashDupPairs(docs, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 1.0)
    // 30-doc cluster contributes 30*29/2 = 435 pairs + the planted pair
    assert(uncapped.count() == 436)
    val capped = Dedup.minHashDupPairs(docs, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 1.0, maxBucketSize = Some(10))
    // boilerplate buckets (30 members) are dropped from candidate
    // generation; the small-cluster pair survives through its own buckets
    assert(capped.as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet ==
      Set((100L, 101L)))
  }

  test("duplicatedWindowStats: cross-doc windows count, within-doc repeats alone don't, short/null texts behave") {
    val shared = "abcdefghij" * 4 // 40 normalized chars — one full window
    val docs = Seq(
      // doc 0 and 1 share a 40-char run at window-aligned positions
      (0L, shared + " unique tail zero zero zero zero zero"),
      (1L, shared + " other ending entirely different here"),
      // doc 2: internal repetition only — its window content appears
      // nowhere else, so no window is cross-doc duplicated
      (2L, "xyxyxyxyxy" * 8),
      // doc 3: short text (< window) — one whole-text window, unique
      (3L, "tiny"),
      // docs 4/5: identical SHORT texts — whole-text windows match
      (4L, "same short text"),
      (5L, "same short text"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedWindowStats(docs, "doc_id", "text",
        window = 40, stride = 20)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // docs 0/1: the stride lands windows at 0 and 20; position 0 is the
    // shared 40-char run in both docs → at least one dup window each
    assert(byId(0L)._3 >= 1 && byId(1L)._3 >= 1, out.toString)
    // internal-only repetition: no cross-doc dup
    assert(byId(2L)._3 == 0, byId(2L).toString)
    // short unique text: one window, zero dups
    assert(byId(3L) == ((3L, 1L, 0L, Some(0.0))), byId(3L).toString)
    // identical short texts: whole-text windows are cross-doc dups
    assert(byId(4L) == ((4L, 1L, 1L, Some(1.0))), byId(4L).toString)
    assert(byId(5L) == ((5L, 1L, 1L, Some(1.0))), byId(5L).toString)
    // null text: zero windows, no defined ratio
    assert(byId(6L) == ((6L, 0L, 0L, None)), byId(6L).toString)
    // brute force over exact window STRINGS equals the hashed pipeline
    val brute = {
      val norm = docs.select($"doc_id",
        graft.functions.TextFunctions.normalizeForFingerprint($"text").as("nt"))
        .as[(Long, String)].collect().filter(_._2 != null)
      val wins = norm.flatMap { case (id, nt) =>
        if (nt.length <= 40) Seq(id -> nt)
        else (0 to nt.length - 40 by 20).map(p => id -> nt.substring(p, p + 40))
      }
      val dupSet = wins.distinct.groupBy(_._2).filter(_._2.length > 1).keySet
      wins.groupBy(_._1).map { case (id, ws) =>
        id -> ((ws.length.toLong, ws.count(w => dupSet(w._2)).toLong))
      }
    }
    out.filter(_._2 > 0).foreach { case (id, nw, nd, _) =>
      assert(brute(id) == ((nw, nd)), s"doc $id: got ($nw,$nd) want ${brute(id)}")
    }
  }

  test("removeDuplicatedWindows: first occurrence survives, later spans cut, overlaps merge, short and within-doc dups handled") {
    val phrase = "p1 p2 p3 p4 p5 p6" // 6 tokens; window = 4
    val docs = Seq(
      (1L, s"unique one text $phrase"),            // keeper (smallest id)
      (2L, s"other words here $phrase tail bits"), // phrase span cut
      (3L, "tiny dup"), (4L, "tiny dup"),          // whole-text windows: id 4 cut fully
      (5L, "totally distinct content"),
      (6L, "x1 x2 x3 x4 x1 x2 x3 x4")              // WITHIN-doc repeat: 2nd copy cut
    ).toDF("id", "text")
    val out = Dedup.removeDuplicatedWindows(docs, "id", "text", window = 4)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, s"unique one text $phrase", 0L),
      // overlapping duplicated windows (starts 3,4,5) merge to one
      // 6-token excision — not three ragged 4-token holes
      (2L, "other words here tail bits", 6L),
      (3L, "tiny dup", 0L),
      (4L, "", 2L),
      (5L, "totally distinct content", 0L),
      (6L, "x1 x2 x3 x4", 4L)), out.toString)
  }

  test("softDedupWeights: cluster mass sums to ~1e6, singletons keep full weight") {
    import org.apache.spark.sql.functions._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // {1,2,3} one cluster
    val out = Dedup.softDedupWeights(docs, pairs, "id")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 333333L), (2L, 3L, 333333L), (3L, 3L, 333333L),
      (4L, 1L, 1000000L), (5L, 1L, 1000000L)), out.toString)
    // the 3-cluster's total mass is 999999 ≈ one doc's worth
    assert(out.filter(_._2 == 3L).map(_._3).sum == 999999L)
  }

  test("C4 clean composes into window removal: shared surviving lines dedup across docs") {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "junk line\nShared good sentence here okay.\n{"), // brace: page drop
      (2L, "junk line\nShared good sentence here okay."),    // pass, keeper
      (3L, "other junk\nShared good sentence here okay."),   // pass, deduped away
      (4L, "Another unique keeper line stays.")              // pass, untouched
    ).toDF("id", "text")
    val kept = TF.c4KeptLines($"text")
    val cleaned = docs.select($"id", array_join(kept, "\n").as("c"),
        TF.c4DocPass($"text", kept).as("p"))
      .filter($"p").select($"id", $"c")
    val out = Dedup.removeDuplicatedWindows(cleaned, "id", "c", window = 3)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (2L, "Shared good sentence here okay.", 0L),
      (3L, "", 5L),
      (4L, "Another unique keeper line stays.", 0L)), out.toString)
  }

  test("snapshot diff: added/removed/changed/unchanged by normalized content") {
    import graft.operators.Snapshot
    val old = Seq((1L, "Hello, world!"), (2L, "two two"), (3L, "three"))
      .toDF("id", "text")
    val neu = Seq((1L, "hello world"), (2L, "two TWO changed"), (4L, "four"))
      .toDF("id", "text")
    val out = Snapshot.diff(old, neu, "id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    // punctuation/case-only edits normalize away → unchanged
    assert(out == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")), out.toString)
  }

  test("clusterSizeHistogram: sizes from the component graph, singletons absent") {
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.clusterSizeHistogram(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((2L, 2L, 4L), (3L, 1L, 3L)), got.toString)
  }

  test("sourceOverlapMatrix: containment over the smaller side; zero-overlap pairs absent") {
    import org.apache.spark.sql.functions._
    val d = Seq(
      ("a", "w x y z"),       // 2-shingles at n=2: {w x, x y, y z}
      ("b", "w x y"),         // {w x, x y} ⊂ a → containment 1e6
      ("c", "p q r")          // disjoint → no row with a or b
    ).toDF("src", "t")
    val got = Dedup.sourceOverlapMatrix(d, "src", "t", n = 2)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 3L, 2L, 2L, 1000000L)), got.toString)
    // duplicate grams within a source collapse (distinct sets)
    val rep = Seq(("a", "m n"), ("a", "m n"), ("b", "m n")).toDF("src", "t")
    val g2 = Dedup.sourceOverlapMatrix(rep, "src", "t", n = 2)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(g2 == Seq(("a", "b", 1L, 1L, 1L, 1000000L)), g2.toString)
    intercept[IllegalArgumentException] {
      Dedup.sourceOverlapMatrix(d, "src", "t", n = 0)
    }
  }

  test("savingsReport: non-keeper docs and bytes counted; singletons cost nothing") {
    import org.apache.spark.sql.functions._
    // clusters {1,2,3} and {5,6}; singletons 4, 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (6L, 60L), (7L, 70L)
    ).toDF("id", "b")
    val got = Dedup.savingsReport(Dedup.connectedComponents(pairs),
        docs, "id", col("b"))
      .as[(Long, Long, Long, Long)].head()
    // keepers: 1 and 5; saved docs: 2,3,6 → 3 docs, 20+30+60 = 110 chars
    assert(got == ((7L, 280L, 3L, 110L)), got.toString)
    // no pairs at all → zero savings, totals intact
    val none = Dedup.savingsReport(
        Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b")),
        docs, "id", col("b"))
      .as[(Long, Long, Long, Long)].head()
    assert(none == ((7L, 280L, 0L, 0L)), none.toString)
  }

  test("prefixDupPairs: strict prefixes only, min-k contract, collisions verified away") {
    val d = Seq(
      (1L, "a b c d e f"),          // prefix of 2 and 3
      (2L, "a b c d e f g h"),      // prefix of 3
      (3L, "a b c d e f g h i j"),
      (4L, "a b c d e f"),          // EQUAL to 1 → excluded (exact's job)
      (5L, "a b c x y z"),          // shares only first 3 tokens → no pair at k=4
      (6L, "a b c"),                // under k tokens → never a dup
      (7L, "q r s t u v w")         // unrelated
    ).toDF("id", "t")
    val got = Dedup.prefixDupPairs(d, "t", "id", k = 4)
      .select("dup_id", "of_id", "dup_tokens", "of_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 6L, 8L), (1L, 3L, 6L, 10L), (2L, 3L, 8L, 10L),
      (4L, 2L, 6L, 8L), (4L, 3L, 6L, 10L)), got.toString)
    // hot-bucket cap drops oversized prefix buckets from candidate gen
    val capped = Dedup.prefixDupPairs(d, "t", "id", k = 4, maxBucketSize = Some(2))
      .collect()
    assert(capped.isEmpty, capped.mkString(","))
    intercept[IllegalArgumentException] {
      Dedup.prefixDupPairs(d, "t", "id", k = 0)
    }
  }

  test("suffixDupPairs: strict suffixes only, mirrors the prefix contract") {
    val d = Seq(
      (1L, "c d e f g h"),          // suffix of 2
      (2L, "a b c d e f g h"),
      (3L, "x y e f g h"),          // same last-4 anchor, NOT a suffix of 2
      (4L, "e f g h"),              // suffix of 1, 2, and 3
      (5L, "q r s t")               // unrelated
    ).toDF("id", "t")
    val got = Dedup.suffixDupPairs(d, "t", "id", k = 4)
      .select("dup_id", "of_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (4L, 1L), (4L, 2L), (4L, 3L)), got.toString)
  }

  test("containment pairs: token arrays move only under the candidate semi-join") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v")
    ).toDF("id", "t")
    val q = Dedup.prefixDupPairs(d, "t", "id", k = 4)
    val plan = q.queryExecution.executedPlan.toString
    // pass 2's candidate restriction is a BROADCAST LeftSemi — the full
    // corpus token arrays must never ride a shuffle to reach it
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    // the shuffle contract itself: every shuffle Exchange in the plan
    // carries only narrow columns — token ARRAYS never ride a shuffle
    // (they reach the pair join only via the candidate-restricted scan);
    // the candBuckets aggregate guarantees at least one Exchange exists,
    // so the forall is not vacuous
    val shuffles = shuffleExchanges(q)
    assert(shuffles.nonEmpty, plan)
    assert(shuffles.forall(_.output.forall(a =>
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])),
      shuffles.map(_.output.mkString(",")).mkString("; "))
    // pass 1 feasibility: a corpus whose shared-anchor docs all have
    // the SAME length yields an empty candidate set (strict containment
    // is impossible), so the pair scan has nothing to verify
    val uniform = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "a b c d x y")
    ).toDF("id", "t")
    assert(Dedup.prefixDupPairs(uniform, "t", "id", k = 4).count() == 0L)
  }

  test("setSimilarityJoinPairs: prefix filter loses nothing — equals the driver-side quadratic join") {
    import spark.implicits._
    // small vocab forces heavy shingle sharing (the prefix filter's
    // worst-ish case); planted exact clone + truncated copy
    val words = Seq("red", "blue", "green", "stone", "river", "cloud", "night", "day")
    val docs = (0 until 40).map { i =>
      val toks = (0 until 12).map(j => words((i * 7 + j * j + j) % words.size))
      (i.toLong, toks.mkString(" "))
    }
    val all = docs ++ Seq(
      (100L, docs(3)._2),
      (101L, docs(5)._2.split(" ").take(9).mkString(" ")))
    val df = all.toDF("id", "t")

    def brute(tPpm: Long): Set[(Long, Long, Long)] = {
      def sh(s: String): Set[String] = {
        val ts = s.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if (ts.size < 3) Set(ts.mkString(" "))
        else ts.sliding(3).map(_.mkString(" ")).toSet
      }
      (for {
        (ia, ta) <- all; (ib, tb) <- all if ia < ib
        a = sh(ta); b = sh(tb); i = (a & b).size.toLong
        u = a.size.toLong + b.size.toLong - i
        if i * 1000000L >= tPpm * u
      } yield (ia, ib, i * 1000000L / u)).toSet
    }
    for (tPpm <- Seq(300000L, 600000L, 900000L)) {
      val got = Dedup.setSimilarityJoinPairs(df, "id", "t", 3, tPpm)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == brute(tPpm), s"t=$tPpm got=${got.size} want=${brute(tPpm).size}")
    }
    // the planted pairs really are in the t=0.6 answer
    val got6 = Dedup.setSimilarityJoinPairs(df, "id", "t", 3, 600000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got6.exists(p => p._1 == 3L && p._2 == 100L && p._3 == 1000000L), got6.toString)
    assert(got6.exists(p => p._1 == 5L && p._2 == 101L), got6.toString)
    intercept[IllegalArgumentException] {
      Dedup.setSimilarityJoinPairs(df, "id", "t", 3, 0L)
    }
  }

  test("setSimilarityJoinPairs: hot-gram tripwire refuses a stop-gram blowup loudly; raising the bound admits it") {
    import spark.implicits._
    // STOP-GRAM fixture: short docs at a LOW threshold — prefixes cover
    // every gram, and the shared head shingle lands in all 12 prefixes,
    // so the candidate join would fan out quadratically on it
    val docs = (0 until 12).map(i => (i.toLong, s"the cat sat x$i y$i"))
    val df = docs.toDF("id", "t")
    // the zero-action tripwire raises from inside the candidate join's
    // own stage (assert_true), so the refusal surfaces as a Spark task
    // failure wrapping the message — walk the cause chain for it
    val e = intercept[Exception] {
      Dedup.setSimilarityJoinPairs(df, "id", "t", 3, 100000L,
        maxPrefixGramDf = 5L).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("maxPrefixGramDf"), msgs)
    assert(msgs.contains("thresholdPpm"), msgs) // remedy named
    // the same query with the bound raised knowingly still computes the
    // exact answer (the tripwire is a refusal, not a filter — no silent
    // recall loss)
    val got = Dedup.setSimilarityJoinPairs(df, "id", "t", 3, 100000L,
      maxPrefixGramDf = 12L).count()
    assert(got > 0L)
    // near-dup thresholds keep prefixes rare: the default bound admits
    // the same corpus untouched at t = 0.9
    Dedup.setSimilarityJoinPairs(df, "id", "t", 3, 900000L).collect()
  }

  test("sortedNeighborhoodPairs: window-adjacent fingerprint matches; distance beyond window misses") {
    import spark.implicits._
    // three exact dups of "alpha beta" (ids 1, 2, 9), one lookalike sort
    // key with different text, and noise that sorts far away
    val d = Seq(
      (1L, "alpha beta"),
      (2L, "Alpha,  BETA!"),          // normalizes identically
      (9L, "alpha beta"),
      (3L, "alpha betz different"),   // same early prefix, different text
      (4L, "zzz far away"),
      (5L, "mid range row")
    ).toDF("id", "t")
    val got = Dedup.sortedNeighborhoodPairs(d, "id", "t", keyLen = 8, window = 4)
      .as[(Long, Long)].collect().toSet
    // sort order by 8-char key then id: (1, 2, 9 share "alpha be"; 3 too),
    // so ranks cluster: all three dup pairs fall inside window 4
    assert(got == Set((1L, 2L), (1L, 9L), (2L, 9L)), got.toString)
    // window 2 (adjacent only): rank order is 1,2,3,9 — id 3 sits between
    // 2 and 9, so only the adjacent dup pair (1,2) survives
    val tight = Dedup.sortedNeighborhoodPairs(d, "id", "t", keyLen = 8, window = 2)
      .as[(Long, Long)].collect().toSet
    assert(tight == Set((1L, 2L)), tight.toString)
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(d, "id", "t", keyLen = 0, window = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(d, "id", "t", keyLen = 8, window = 1)
    }
  }

  test("sortedNeighborhoodPairs: range balancer bounds partition sizes on an h-heavy corpus; pairs are bucket-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the real-crawl skew shape: EVERY key starts "http" — first-char
    // bucketing would funnel all 800 rows into one task
    val docs = (0L until 800L).map { i =>
      val body = s"http example page number ${i / 2} content"
      // punctuation-only difference → identical normalized fingerprints:
      // 400 planted dup pairs, every sort key starting "http"
      (i, if (i % 2 == 0) body else body + "!!")
    }.toDF("id", "t")
    val got = Dedup.sortedNeighborhoodPairs(docs, "id", "t",
        keyLen = 24, window = 3, buckets = 8)
      .as[(Long, Long)].collect().toSet
    // ground truth: brute-force full sort + window over the same keys
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col("id"),
      graft.functions.TextFunctions.normalizeForFingerprint(col("t")).as("nt"))
      .select(col("id"), xxhash64(col("nt")).as("fp"),
        substring(col("nt"), 1, 24).as("bk"))
      .withColumn("pos", row_number().over(Window.orderBy(col("bk"), col("id"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val brute = (for {
      (ia, fa, pa) <- keyed; (ib, fb, pb) <- keyed
      if pb > pa && pb <= pa + 2 && fa == fb
    } yield (ia, ib)).toSet
    assert(got == brute, s"got ${got.size} pairs, brute ${brute.size}")
    assert(got.nonEmpty)
    // balance: with 8 range buckets over unique (key, id) composites no
    // bucket holds more than ~2x the even share, despite the shared
    // first char — the property the first-char design could not give
    val sizes = docs.select(col("id"),
        graft.functions.TextFunctions.normalizeForFingerprint(col("t")).as("nt"))
      .select(col("id"), substring(col("nt"), 1, 24).as("bk"))
      .repartitionByRange(8, col("bk"), col("id"))
      .groupBy(spark_partition_id().as("p")).count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.max <= 2 * 800 / 8,
      s"range buckets skewed: $sizes")
  }
}
