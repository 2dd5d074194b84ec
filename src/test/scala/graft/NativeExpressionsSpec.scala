package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TypedAttrs
import graft.plans.TopKAggregate

/** Unit coverage for the engine's native Catalyst expressions beyond the
  * plan-shape assertions: value semantics, null/malformed behavior, and
  * the partial/merge/serialize path of the bounded top-k aggregate.
  */
class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("JsonDoubleArraySum: values, empty, null elements, malformed, null input") {
    val df = Seq(
      ("[1.5,2.5]", 1), ("[]", 2), ("[1.5, null, 2]", 3),
      ("garbage", 4), ("[1,oops]", 5), (null: String, 6), ("  [ 1.25 ,2 ] ", 7)
    ).toDF("s", "id")
    val got = df.select(col("id"), TypedAttrs.doubleArraySum(col("s")).as("v"))
      .as[(Int, Option[Double])].collect().toMap
    assert(got(1).contains(4.0))
    assert(got(2).contains(0.0))
    assert(got(3).contains(3.5)) // null element contributes 0
    assert(got(4).isEmpty)       // not an array
    assert(got(5).isEmpty)       // malformed element nulls the WHOLE sum
    assert(got(6).isEmpty)
    assert(got(7).contains(3.25)) // whitespace tolerated
  }

  test("JsonLongArraySum: ints sum; a non-integral element nulls the sum") {
    val df = Seq(("[1,2,3]", 1), ("[1,2.5]", 2), ("[null,4]", 3)).toDF("s", "id")
    val got = df.select(col("id"), TypedAttrs.intArraySum(col("s")).as("v"))
      .as[(Int, Option[Long])].collect().toMap
    assert(got(1).contains(6L))
    assert(got(2).isEmpty) // reference casts to Integer and throws -> failure
    assert(got(3).contains(4L))
  }

  test("array sums stay inside whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("["), col("id"), lit("]")).as("s"))
    val q = df.select(TypedAttrs.doubleArraySum(col("s")).as("v"))
    assert(q.queryExecution.executedPlan.toString.contains("*(1)"),
      q.queryExecution.executedPlan.toString)
    assert(q.agg(sum("v")).as[Double].collect().head == 45.0)
  }

  test("JsonNumArraySum rejects non-JSON numeric spellings (strict RFC 8259)") {
    // Double.parseDouble is laxer than Jackson: these must all null the
    // sum (route to failure), not parse
    val bad = Seq("[Infinity]", "[-Infinity]", "[NaN]", "[1.5f]", "[1.5d]",
      "[+1]", "[.5]", "[1.]", "[0x1p3]", "[01]", "[1e]", "[e5]")
    val badGot = bad.toDF("s")
      .select(TypedAttrs.doubleArraySum(col("s")).as("v"))
      .as[Option[Double]].collect()
    assert(badGot.forall(_.isEmpty), bad.zip(badGot).toString)
    // valid JSON spellings still sum
    val good = Seq(("[1e5]", 100000.0), ("[-0.5e-2]", -0.005), ("[0.25,0.75]", 1.0),
      ("[0]", 0.0), ("[-0.5,0.5]", 0.0), ("[12e+1]", 120.0))
    val goodGot = good.map(_._1).toDF("s")
      .select(TypedAttrs.doubleArraySum(col("s")).as("v"))
      .as[Option[Double]].collect()
    good.zip(goodGot).foreach { case ((s, want), got) =>
      assert(got.contains(want), s"$s -> $got, want $want")
    }
    // long path: leading '+' now rejected too
    val lg = Seq("[+5]", "[5]").toDF("s")
      .select(TypedAttrs.intArraySum(col("s")).as("v")).as[Option[Long]].collect()
    assert(lg(0).isEmpty && lg(1).contains(5L))
  }

  test("MarkerCounts equals the composed filter/isin counts; shared tokens count in each set") {
    import graft.functions.TextFunctions
    val docs = Seq(
      "the cat and the dog is on la mesa",
      "la la land der die das und est",     // "la" is an es AND fr marker
      "", "   ", "no markers here at all",
      "THE UPPER case der"
    ).toDF("text")
    val sets = TextFunctions.LangMarkers.map(_._2)
    def ts = TextFunctions.tokens(lower(col("text")))
    val native = docs
      .select(TextFunctions.markerCounts(ts, sets).as("c"))
      .as[Seq[Int]].collect().toSeq
    val composed = docs
      .select(array(sets.map(s =>
        size(filter(ts, t => t.isin(s.map(lit): _*)))): _*).as("c"))
      .as[Seq[Int]].collect().toSeq
    assert(native == composed, s"native=$native composed=$composed")
    // and it stays inside whole-stage codegen (non-foldable source — a
    // literal table constant-folds to a LocalTableScan)
    val plan = spark.range(10)
      .select(concat(lit("the la der x"), col("id")).as("text"))
      .select(TextFunctions.markerCounts(
        TextFunctions.tokens(lower(col("text"))), sets).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("graft_topk: descending order, tie-break, k > group size, shuffle survival") {
    TopKAggregate.register(spark)
    // force a real exchange so partial buffers serialize/merge
    val df = spark.range(100).select(
      (col("id") % 3).as("g"),
      (col("id") % 10).cast(DoubleType).as("score"),
      col("id").as("nid"))
      .repartition(7)
    val top = df.groupBy("g")
      .agg(call_function("graft_topk",
        struct(col("score"), (-col("nid")).as("n")), lit(4)).as("t"))
      .select(col("g"), transform(col("t"),
        e => struct(e.getField("score"), (-e.getField("n")).as("nid"))).as("t"))
      .as[(Long, Seq[(Double, Long)])].collect().toMap
    // group 0: ids 0,3,...,99; scores id%10; max score 9 at ids 9,39,69,99
    assert(top(0L) == Seq((9.0, 9L), (9.0, 39L), (9.0, 69L), (9.0, 99L)))
    // k larger than distinct rows: a 2-row group returns 2
    val small = Seq((1L, 5.0, 10L), (1L, 3.0, 11L)).toDF("g", "score", "nid")
    val gotSmall = small.groupBy("g")
      .agg(call_function("graft_topk",
        struct(col("score"), (-col("nid")).as("n")), lit(4)).as("t"))
      .select(size(col("t"))).as[Int].collect()
    assert(gotSmall.toSeq == Seq(2))
  }

  test("NormalizeText equals the composed builtin chain on real docs and edge cases") {
    import graft.functions.TextFunctions
    val composed = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(translate(lower(c),
        "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~", ""), "\\s+", " "))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq(
      "", " ", "...", " . ", "a . b", "\tA.B\r\n C\f", "ÉLÄN—ok",
      "x ", "a  b   c", "[{}]!?", "é È ü ẞ", "多 言語 テキスト。",
      "mixed CASE with  punct!!! and\ttabs"
    ).toDF("text")
    for (df <- Seq(docs, edges)) {
      val bad = df.filter(
        !(TextFunctions.normalizeForFingerprint(col("text")) <=> composed(col("text"))))
      assert(bad.count() == 0,
        bad.select(col("text"), TextFunctions.normalizeForFingerprint(col("text")),
          composed(col("text"))).collect().take(3).mkString("\n"))
    }
  }

  test("WhitespaceTokens equals the composed split chain on real docs and edge cases") {
    import graft.functions.TextFunctions
    val composed = (c: org.apache.spark.sql.Column) =>
      filter(split(trim(c), "\\s+"), t => t =!= "")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq(
      "", " ", "a", " a ", "a b", "a  b", "\ta\r\nb\f c", "é ü ẞ",
      "多言語 テキスト", "trailing ", " leading"
    ).toDF("text")
    for (df <- Seq(docs, edges)) {
      val bad = df.filter(
        !(TextFunctions.tokens(col("text")) <=> composed(col("text"))))
      assert(bad.count() == 0,
        bad.select(col("text"), TextFunctions.tokens(col("text")),
          composed(col("text"))).collect().take(3).mkString("\n"))
    }
  }

  test("WordShingles equals the composed HOF chain on real docs and edge cases") {
    import graft.functions.TextFunctions
    def composed(ts: org.apache.spark.sql.Column, n: Int) =
      when(size(ts) < n, array(concat_ws(" ", ts)))
        .otherwise(transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextFunctions.tokens(col("text")).as("ts"))
    val edges = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "b", "c", "d"), Seq("é", "多", "x")).toDF("ts")
    for (df <- Seq(docs, edges); n <- Seq(1, 2, 3, 5)) {
      val bad = df.filter(
        !(TextFunctions.shinglesFromTokens(col("ts"), n) <=> composed(col("ts"), n)))
      assert(bad.count() == 0, s"n=$n: " +
        bad.select(col("ts"), TextFunctions.shinglesFromTokens(col("ts"), n),
          composed(col("ts"), n)).collect().take(3).mkString("\n"))
    }
  }

  test("PunctCount equals the regex-based count on real docs and edge cases") {
    val composed = (c: org.apache.spark.sql.Column) =>
      length(regexp_replace(c, "[^\\p{Punct}]", ""))
    val native = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.PunctCount(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq("", "...", "a.b,c", "é—ü", "多。言", "[{}]!?", "no punct here")
      .toDF("text")
    for (df <- Seq(docs, edges)) {
      val bad = df.filter(!(native(col("text")) <=> composed(col("text"))))
      assert(bad.count() == 0,
        bad.select(col("text"), native(col("text")), composed(col("text")))
          .collect().take(3).mkString("\n"))
    }
  }

  test("DotProduct is bitwise-equal to the composed fold on real embeddings and edges") {
    import graft.functions.VectorFunctions
    val composed = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, x) => acc + x)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 3).select(col("embedding").as("b"))))
    val bad = pairs.filter(
      !(VectorFunctions.dot(col("a"), col("b")) <=> composed(col("a"), col("b"))))
    assert(bad.count() == 0)
    // nulls and length mismatch -> null, matching zip_with's null padding
    val edges = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
      (Seq(1.0f), Seq(1.0f, 2.0f)),
      (Seq.empty[Float], Seq.empty[Float])
    ).toDF("a", "b")
    val got = edges.select(VectorFunctions.dot(col("a"), col("b")))
      .as[Option[Double]].collect().toSeq
    assert(got == Seq(Some(11.0), None, Some(0.0)))
  }

  test("MinHashSig and SimHash64 equal their composed forms bit-for-bit") {
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    // composed MinHash: k interpreted array_min(transform(...)) slots
    val sh = array_distinct(TextFunctions.shingles(col("text"), 3))
    val composedSig = array((0 until 16).map(i =>
      array_min(transform(sh, s => xxhash64(s, lit(i))))): _*)
    val badM = docs.filter(
      !(Dedup.minHashSignature(col("text"), 16) <=> composedSig))
    assert(badM.count() == 0,
      badM.select(Dedup.minHashSignature(col("text"), 16), composedSig)
        .collect().take(2).mkString("\n"))
    // composed SimHash: 64 interpreted vote folds (incl. null = -1 vote)
    val hs = transform(sh, s => xxhash64(s))
    val composedSim = (0 until 64).map { i =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val badS = docs.filter(
      !(Dedup.simHashFromHashes(hs) <=> composedSim))
    assert(badS.count() == 0)
    val withNull = Seq(Seq[java.lang.Long](5L, null, 7L)).toDF("hs")
    val gotNull = withNull.select(
      Dedup.simHashFromHashes(col("hs")),
      (0 until 64).map { i =>
        val vote = aggregate(col("hs"), lit(0L), (acc, h) =>
          acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce(_ + _)).as[(Long, Long)].collect().head
    assert(gotNull._1 == gotNull._2)
  }

  test("SrpBucket equals the composed per-plane fold bit-for-bit") {
    import graft.functions.VectorFunctions
    def composed(vec: org.apache.spark.sql.Column, bits: Int, seed: Int) = {
      val bitCols = (0 until bits).map { p =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => when(pmod(xxhash64(i, lit(p), lit(seed)), lit(2L)) === 0,
              x.cast(DoubleType)).otherwise(-x.cast(DoubleType))),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }
      bitCols.reduce(_ + _)
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("v"))
    val bad = emb.filter(
      !(VectorFunctions.srpBucket(col("v"), 12, 42) <=> composed(col("v"), 12, 42)))
    assert(bad.count() == 0)
    // edge parity: null element → every plane's fold nulls → bucket 0;
    // empty vector → null-padded zip → bucket 0; null vector → null
    val edges = Seq(
      Seq[java.lang.Float](1.0f, null, 2.0f),
      Seq.empty[java.lang.Float],
      null
    ).toDF("v")
    val got = edges.select(
      VectorFunctions.srpBucket(col("v"), 12, 42),
      composed(col("v"), 12, 42)).as[(Option[Long], Option[Long])].collect().toSeq
    assert(got.take(2).forall(p => p._1 == p._2), got.toString)
    assert(got.take(2).forall(_._1.contains(0L)))
    // documented divergence: composed three-valued logic "buckets" a NULL
    // vector at 0; the native expression propagates null (saner — a null
    // vector has no bucket)
    assert(got(2)._1.isEmpty && got(2)._2.contains(0L), got.toString)
  }

  test("graft_topk equals the row_number window on pseudo-random data") {
    import org.apache.spark.sql.expressions.Window
    TopKAggregate.register(spark)
    val df = spark.range(5000).select(
      (col("id") % 13).as("g"),
      (pmod(xxhash64(col("id")), lit(97L))).cast(DoubleType).as("score"),
      col("id").as("nid"))
      .repartition(11)
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("nid").asc)
    val viaWindow = df.withColumn("r", row_number().over(w)).filter(col("r") <= 7)
      .select("g", "score", "nid", "r")
      .as[(Long, Double, Long, Int)].collect().toSet
    val viaTopK = df.groupBy("g")
      .agg(call_function("graft_topk",
        struct(col("score"), (-col("nid")).as("n")), lit(7)).as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("g"), col("e.score"), (-col("e.n")).as("nid"),
        (col("p") + 1).cast("int").as("r"))
      .as[(Long, Double, Long, Int)].collect().toSet
    assert(viaTopK == viaWindow)
  }

  test("CjkTokenCount byte walk equals the String/codePointAt reference incl. supplementary planes") {
    import graft.plans.CjkTokenCount
    import org.apache.spark.unsafe.types.UTF8String
    // the pre-round-6 reference implementation: decode via String (one
    // allocation per row); the shipped byte walk must count identically
    def ref(s: String): Long = {
      var i = 0; var n = 0L; var inRun = false
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r'
        if (ws) inRun = false
        else if (CjkTokenCount.isCjk(cp)) { n += 1; inRun = false }
        else if (!inRun) { n += 1; inRun = true }
        i += Character.charCount(cp)
      }
      n
    }
    val cases = Seq(
      "", " ", "hello world", "你好世界", "abc漢字です test",
      "𠀀𠀁 ext-b", // U+20000 U+20001: 4-byte UTF-8, CJK Ext B
      "𠀀x𠀁", "é ü ẞ", "한국어 텍스트", "カタカナ ひらがな",
      "ab\fc", "混ぜ書きmixed漢字and한글", "😀 emoji 😀"
    )
    cases.foreach(s =>
      assert(CjkTokenCount.count(UTF8String.fromString(s)) == ref(s), s"'$s'"))
    // through the full expression path (codegen) too
    val df = cases.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
    val got = df.select(col("i"),
        graft.functions.TextFunctions.tokenCountCjk(col("s")).as("n"))
      .as[(Int, Long)].collect().toMap
    cases.zipWithIndex.foreach { case (s, i) => assert(got(i) == ref(s), s"'$s'") }
  }

  test("ScriptCounts equals per-class codepoint counts in one walk") {
    import graft.plans.ScriptCounts
    import org.apache.spark.unsafe.types.UTF8String
    def classCounts(s: String): (Long, Long, Long, Long) = {
      val cps = s.codePoints().toArray
      def ws(cp: Int) = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      def han(cp: Int) = (cp >= 0x3400 && cp <= 0x4DBF) ||
        (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0xF900 && cp <= 0xFAFF) ||
        (cp >= 0x20000 && cp <= 0x2FFFF)
      (cps.count(cp => !ws(cp)).toLong, cps.count(han).toLong,
        cps.count(cp => cp >= 0x3040 && cp <= 0x30FF).toLong,
        cps.count(cp => cp >= 0xAC00 && cp <= 0xD7AF).toLong)
    }
    val cases = Seq(
      "", " \t\n", "hello", "你好 world", "カナと漢字", "한국어 abc",
      "𠀀 ext-b", "これはにほんごのテキストです", "😀 emoji")
    cases.foreach { s =>
      val arr = ScriptCounts.count(UTF8String.fromString(s))
      val (nw, h, k, hg) = classCounts(s)
      assert(arr.getLong(0) == nw && arr.getLong(1) == h &&
        arr.getLong(2) == k && arr.getLong(3) == hg,
        s"'$s': got ${arr.array.mkString(",")}, want ($nw,$h,$k,$hg)")
    }
  }

  test("Quantize8 equals the composed min/max/transform chain on real embeddings and edges") {
    import graft.functions.VectorFunctions
    // the pre-native composed form, kept here as the reference semantics
    def composed(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val d = transform(vec, x => x.cast(DoubleType))
      val mn = array_min(d)
      val mx = array_max(d)
      struct(
        when(mx > mn,
          transform(d, x => round((x - mn) * lit(255.0) / (mx - mn)).cast(IntegerType)))
          .otherwise(transform(d, _ => lit(0))).as("q"),
        mn.as("offset"),
        when(mx > mn, (mx - mn) / lit(255.0)).otherwise(lit(0.0)).as("scale"))
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("v"))
    val edges = Seq(
      Seq(0.0f, 0.5f, -1.0f), Seq(3.25f), Seq.empty[Float],
      Seq(7.0f, 7.0f, 7.0f), Seq(-2.5f, 100.25f, 0.0f, -33.0f)
    ).toDF("v")
    val withNulls = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f)),
      (2L, Array[java.lang.Float](null, null))
    ).toDF("i", "v")
    for (df <- Seq(emb, edges, withNulls.select(col("v")))) {
      val bad = df.filter(
        !(VectorFunctions.quantize8(col("v")) <=> composed(col("v"))))
      assert(bad.count() == 0,
        bad.select(col("v"), VectorFunctions.quantize8(col("v")),
          composed(col("v"))).collect().take(3).mkString("\n"))
    }
  }

  test("QDot equals the dequantized dot up to affine regrouping; null on malformed pairs") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select(col("vec_id"), VectorFunctions.quantize8(col("embedding")).as("qv"))
    val pairs = emb.select(col("vec_id").as("ia"), col("qv").as("qa"))
      .join(emb.select(col("vec_id").as("ib"), col("qv").as("qb")),
        col("ia") < col("ib"))
    val out = pairs.select(
        VectorFunctions.quantizedDot(col("qa"), col("qb")).as("fast"),
        graft.functions.VectorFunctions.dot(
          VectorFunctions.dequantize8(col("qa")),
          VectorFunctions.dequantize8(col("qb"))).as("ref"))
      .as[(Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (fast, ref) =>
      // same value up to float regrouping of the affine expansion
      assert(math.abs(fast - ref) <= 1e-9 * (1.0 + math.abs(ref)), s"$fast vs $ref")
    }
    // dimension mismatch and null codes -> null, not a wrong number
    val a2 = Seq(Seq(1.0f, 2.0f)).toDF("v").select(VectorFunctions.quantize8(col("v")).as("q2"))
    val a3 = Seq(Seq(1.0f, 2.0f, 3.0f)).toDF("v").select(VectorFunctions.quantize8(col("v")).as("q3"))
    val mm = a2.crossJoin(a3)
      .select(VectorFunctions.quantizedDot(col("q2"), col("q3"))).collect()(0)
    assert(mm.isNullAt(0))
    val withNull = Seq(Tuple1(Array[java.lang.Float](1.0f, null, 3.0f))).toDF("v")
      .select(VectorFunctions.quantize8(col("v")).as("qn"))
    val nn = withNull.crossJoin(a3)
      .select(VectorFunctions.quantizedDot(col("qn"), col("q3"))).collect()(0)
    assert(nn.isNullAt(0))
  }

  test("CharShingles equals the composed substr chain incl. multibyte and supplementary chars") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.ColumnBridge
    def native(s: Column, n: Int): Column =
      ColumnBridge.column(graft.plans.CharShingles(ColumnBridge.expression(s), n))
    def composed(s: Column, n: Int): Column =
      when(length(s) <= n, array(s))
        .otherwise(transform(sequence(lit(1), length(s) - n + 1),
          i => s.substr(i, lit(n))))
    val cases = Seq(
      "",                        // empty: one empty shingle
      "ab",                      // shorter than n
      "abcde",                   // exactly n
      "abcdefgh",                // ascii
      "héllo wörld",             // 2-byte chars
      "中文字符串测试",            // 3-byte CJK
      "a😀b😁cdef" // 4-byte supplementary (emoji)
    ).toDF("s")
    val both = cases.select(
      native(col("s"), 5).as("nat"),
      composed(col("s"), 5).as("cmp"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (nat, cmp) => assert(nat == cmp, s"$nat != $cmp") }
  }

  test("NfcNormalize composes decomposed sequences; ASCII and precomposed pass through untouched") {
    import org.apache.spark.sql.graft.ColumnBridge
    def nfc(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.plans.NfcNormalize(ColumnBridge.expression(c)))
    // explicit escapes: a toolchain could silently precompose pasted text
    val dec = "decomposed e\u0301 a\u030A o\u0308"
    val pre = "decomposed \u00e9 \u00e5 \u00f6"
    val rows = Seq(
      "plain ascii",
      "precomposed \u00e9\u00e5\u00f6",
      dec,
      "mixed caf\u00e9 cafe\u0301",
      "" // empty
    ).toDF("s")
    val out = rows.select(col("s"), nfc(col("s")).as("n"))
      .as[(String, String)].collect().toMap
    out.foreach { case (s, n) =>
      assert(n == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC),
        s"mismatch for ${s.codePoints().toArray.toSeq}")
    }
    // composition really happened: 3 combining marks fold away
    assert(dec.length == pre.length + 3)
    assert(out(dec) == pre)
    // null passes through
    val nn = Seq[Option[String]](None).toDF("s").select(nfc(col("s"))).collect()(0)
    assert(nn.isNullAt(0))
  }

  test("strided CharShingles equals explode-then-filter on every stride incl. multibyte") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.ColumnBridge
    def native(s: Column, n: Int, stride: Int): Column =
      ColumnBridge.column(graft.plans.CharShingles(
        ColumnBridge.expression(s), n, stride))
    val cases = Seq(
      "",
      "ab",
      "abcde",
      "abcdefghijklmnop",
      "héllo wörld wändering", // 2-byte chars
      "中文字符串测试一二三四五六七八九十", // 3-byte CJK
      "a😀b😁cdefghij😂klm" // 4-byte supplementary
    ).toDF("s")
    for (n <- Seq(3, 5); stride <- Seq(1, 2, 3, 7)) {
      val both = cases.select(
        native(col("s"), n, stride).as("nat"),
        filter(transform(native(col("s"), n, 1),
          (x, i) => when(i % stride === 0, x)), _.isNotNull).as("flt"))
        .as[(Seq[String], Seq[String])].collect()
      both.foreach { case (nat, flt) =>
        assert(nat == flt, s"n=$n stride=$stride: $nat != $flt")
      }
    }
  }

  test("all native functions are SQL-callable once registered") {
    graft.plans.GraftExtensions.registerAll(spark)
    val row = spark.sql(
      """SELECT graft_geotile(CAST(51.5 AS DOUBLE), CAST(-0.1 AS DOUBLE), 4) AS tile,
        |       graft_json_double_sum('[1.5,2.5]') AS ds,
        |       graft_json_long_sum('[1,2,3]') AS ls,
        |       graft_normalize_text('  Hello,  WORLD! ') AS norm,
        |       graft_ws_tokens(' a  b ') AS toks,
        |       graft_word_shingles(array('a','b','c'), 2) AS sh,
        |       graft_char_shingles('abcd', 2) AS csh,
        |       graft_top_token_freq(array('a','b','a','a')) AS tf""".stripMargin)
      .collect().head
    assert(row.getString(0) == "4/7/5")
    assert(row.getDouble(1) == 4.0)
    assert(row.getLong(2) == 6L)
    assert(row.getString(3) == "hello world")
    assert(row.getSeq[String](4) == Seq("a", "b"))
    assert(row.getSeq[String](5) == Seq("a b", "b c"))
    assert(row.getSeq[String](6) == Seq("ab", "bc", "cd"))
    assert(row.getInt(7) == 3)
    assert(spark.sql("SELECT graft_array_inversions(array(3L, 1L, 2L))")
      .collect().head.getLong(0) == 2L)
    val agg = spark.sql(
      """SELECT graft_topk(struct(x, -id), 2) AS t FROM
        |  (SELECT explode(sequence(1, 9)) AS id, CAST(pmod(id * 7, 10) AS DOUBLE) AS x)
        |""".stripMargin).collect().head
    assert(agg.getSeq[org.apache.spark.sql.Row](0).length == 2)
  }

  test("graft_topk rejects non-struct input and non-positive k") {
    TopKAggregate.register(spark)
    val df = Seq((1, 2.0)).toDF("g", "x")
    intercept[Exception] {
      df.groupBy("g").agg(call_function("graft_topk", col("x"), lit(3))).collect()
    }
    intercept[Exception] {
      df.groupBy("g")
        .agg(call_function("graft_topk", struct(col("x")), lit(0))).collect()
    }
  }

  test("TokenWindowHashes: rolling equals the direct polynomial; equal token spans hash equal; short/empty shapes") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.plans.{FnvHash64, TokenWindowHashes}
    import org.apache.spark.unsafe.types.UTF8String
    val toks = Seq("ab", "cd", "ab", "cd", "ab", "x", "ab", "cd", "ab")
    val w = 3
    val df = Seq(Tuple1(toks)).toDF("t")
    val out = df.select(explode(ColumnBridge.column(TokenWindowHashes(
        ColumnBridge.expression(col("t")), w))).as("p"))
      .select(col("p.s"), col("p.h")).as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) == (0L until 7L))
    // direct O(n·w) reference: H = Σ h(tok)·B^(w-1-j), wrapping
    def th(s: String) = FnvHash64.hash(UTF8String.fromString(s))
    val direct = toks.sliding(w).map(
      _.foldLeft(0L)((acc, t) => acc * TokenWindowHashes.Base + th(t))).toSeq
    assert(out.map(_._2) == direct)
    // equality semantics: windows 0 and 6 are both (ab, cd, ab) — same
    // hash; neighbours differ
    assert(out(0)._2 == out(6)._2)
    assert(out(0)._2 != out(1)._2)
    // short array: one whole-array window at start 0; empty: none
    val short = Seq(Tuple1(Seq("only", "two"))).toDF("t")
      .select(ColumnBridge.column(TokenWindowHashes(
        ColumnBridge.expression(col("t")), w)).as("a"))
      .selectExpr("size(a)", "a[0].s").as[(Int, Long)].head()
    assert(short == ((1, 0L)))
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("t")
      .select(size(ColumnBridge.column(TokenWindowHashes(
        ColumnBridge.expression(col("t")), w)))).as[Int].head()
    assert(empty == 0)
  }

  test("MultiPatternCount: overlaps, nesting, distinct mode, null text, brute-force parity") {
    import graft.functions.TextFunctions
    val pats = Seq("he", "she", "hers", "aa")
    val df = Seq(
      (1, "ushers"), (2, "aaaa"), (3, "none at all... x"), (4, null: String),
      (5, "shehehers")
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.multiPatternHits(col("text"), pats).as("h"),
        TextFunctions.multiPatternDistinct(col("text"), pats).as("d"))
      .as[(Int, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // ushers: she@1, he@2, hers@2 → 3 hits, 3 rules
    assert(got(1) == ((Some(3L), Some(3L))), got(1).toString)
    // aaaa: aa@0,1,2 (overlaps count) → 3 hits, 1 rule
    assert(got(2) == ((Some(3L), Some(1L))), got(2).toString)
    assert(got(3) == ((Some(0L), Some(0L))), got(3).toString)
    assert(got(4) == ((None, None)), got(4).toString)
    // shehehers: she@0, he@1,3,5, hers@5 → 5 hits, 3 rules
    assert(got(5) == ((Some(5L), Some(3L))), got(5).toString)

    // brute-force parity on dense binary strings (every substring
    // position checked driver-side)
    val bpats = Seq("ab", "ba", "aab", "bb", "aba")
    def brute(s: String): (Long, Long) = {
      val per = bpats.map(p =>
        (0 to s.length - p.length).count(i => s.regionMatches(i, p, 0, p.length)))
      (per.map(_.toLong).sum, per.count(_ > 0).toLong)
    }
    val strs = (0 until 64).map(n =>
      (0 until 6).map(b => if (((n >> b) & 1) == 0) 'a' else 'b').mkString)
    val bg = strs.toDF("text").select(col("text"),
        TextFunctions.multiPatternHits(col("text"), bpats).as("h"),
        TextFunctions.multiPatternDistinct(col("text"), bpats).as("d"))
      .as[(String, Long, Long)].collect()
    bg.foreach { case (s, h, d) =>
      assert((h, d) == brute(s), s"$s: got ($h,$d) want ${brute(s)}")
    }

    intercept[IllegalArgumentException] {
      TextFunctions.multiPatternHits(col("text"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextFunctions.multiPatternHits(col("text"), Seq("a", "a"))
    }
  }

  test("ConfusableSkeleton: TR39-subset homoglyphs map, zero-widths strip, ASCII passes through") {
    import graft.functions.TextFunctions
    val rows = Seq(
      (1, "plain ascii stays"),
      (2, "p\u0430y p\u0430l"),                   // Cyrillic \u0430
      (3, "z\u200Bero\u200C wid\u200Dth\u2060\uFEFF\u00AD gone"),
      (4, "\uFF48\uFF45\uFF4C\uFF4C\uFF4F"),       // fullwidth hello
      (5, "nb\u00A0sp"),                          // NBSP \u2192 space
      (6, "\u039Fmicron \u03BDu"),               // Greek \u039F, \u03BD
      (7, null: String),
      (8, "caf\u00E9 \u00FCnchanged")            // non-confusable kept
    ).toDF("id", "text")
    val got = rows.select(col("id"),
        TextFunctions.confusableSkeleton(col("text")).as("sk"))
      .as[(Int, Option[String])].collect().toMap
    assert(got(1).contains("plain ascii stays"))
    assert(got(2).contains("pay pal"), got(2).toString)
    assert(got(3).contains("zero width gone"), got(3).toString)
    assert(got(4).contains("hello"), got(4).toString)
    assert(got(5).contains("nb sp"), got(5).toString)
    assert(got(6).contains("Omicron vu"), got(6).toString)
    assert(got(7).isEmpty)
    assert(got(8).contains("caf\u00E9 \u00FCnchanged"), got(8).toString)
  }

  test("UnigramSegmentWord: Viterbi beats greedy, tie prefers fewer pieces, unk fallback, length guard") {
    import graft.functions.TextFunctions
    val pieces = Seq("cust" -> 900L, "omer" -> 900L, "custom" -> 1500L,
      "er" -> 400L, "tab" -> 500L, "le" -> 300L)
    val got = Seq("customer", "table", "xyz").toDF("w")
      .select(col("w"),
        TextFunctions.unigramSegmentStats(col("w"), pieces, 1000L).as("st"))
      .as[(String, Seq[Long])].collect().toMap
    // greedy longest-from-start would take custom+er = 1900; Viterbi
    // finds cust+omer = 1800
    assert(got("customer") == Seq(1800L, 2L), got("customer").toString)
    assert(got("table") == Seq(800L, 2L), got("table").toString)
    assert(got("xyz") == Seq(3000L, 3L), got("xyz").toString)
    // cost tie broken toward FEWER pieces (packed objective)
    val tie = Seq("ab").toDF("w")
      .select(TextFunctions.unigramSegmentStats(col("w"),
        Seq("a" -> 5L, "b" -> 5L, "ab" -> 10L), 99L).as("st"))
      .as[Seq[Long]].collect().head
    assert(tie == Seq(10L, 1L), tie.toString)
    // over-long words refuse loudly (the oracle's unrolled depth)
    val e = intercept[Exception] {
      Seq("a" * 16).toDF("w")
        .select(TextFunctions.unigramSegmentStats(col("w"), pieces, 1000L))
        .collect()
    }
    assert(e.getMessage != null)
    intercept[IllegalArgumentException] {
      TextFunctions.unigramSegmentStats(col("w"), Seq.empty, 1000L)
    }
  }

  test("every native expression survives whole-stage codegen with fallback disabled") {
    // spark.sql.codegen.fallback=false turns a Janino compile error into
    // a thrown exception instead of a SILENT interpreted fallback — the
    // failure mode round 9 caught on TokenWindowHashes, whose companion
    // helper was named `eval` and therefore got no static forwarder
    // (the case class inherits Expression.eval), breaking the generated
    // Java for every plan that used it while all results stayed right.
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
    import graft.operators.Dedup
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = Seq(
        (1L, "the quick brown fox jumps over the lazy dog",
         "https://user:pw@www.example.co.uk:8443/a?b#c",
         Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, -1.0f, 2.0f), "[1,2,3]"),
        (2L, "pack my box with five dozen 你好 jugs",
         "http://sub.test.github.io/x",
         Seq(-1.0f, 0.0f, 1.0f), Seq(2.0f, 2.0f, 2.0f), "[4.5]")
      ).toDF("id", "text", "url", "va", "vb", "js")
      val out = df.select(
        TF.tokens($"text").as("toks"),
        TF.tokenCountCjk($"text").as("cjk"),
        TF.tokenCountSubword($"text", Seq("the", "qu", "##ick")).as("sub"),
        TF.normalizeForFingerprint($"text").as("norm"),
        TF.nfcNormalize($"text").as("nfc"),
        TF.charShingles($"text", 3, 2).as("csh"),
        TF.shingles($"text", 2).as("wsh"),
        TF.maxTokenFreq($"text").as("mtf"),
        TF.multiPatternHits($"text", Seq("the", "qu", "ck bro")).as("mph"),
        TF.multiPatternDistinct($"text", Seq("the", "zzz")).as("mpd"),
        TF.confusableSkeleton($"text").as("skel"),
        graft.functions.LayoutFunctions.hilbertKey($"id", $"id" + 1L, 16).as("hk"),
        TF.unigramSegmentStats(substring($"text", 1, 10),
          Seq("the" -> 10L, "qu" -> 20L), 1000L).as("useg"),
        TF.punctRatio($"text").as("pr"),
        TF.langId($"text").as("lang"),
        Dedup.minHashSignature($"text", 16).as("mh"),
        Dedup.simHash($"text").as("sh64"),
        Dedup.winnowFingerprints($"text").as("wfp"),
        ColumnBridge.column(graft.plans.TokenWindowHashes(
          ColumnBridge.expression(TF.tokens($"text")), 3)).as("twh"),
        ColumnBridge.column(graft.plans.FnvHash64(
          ColumnBridge.expression($"text"))).as("fnv"),
        VF.dot($"va", $"vb").as("dp"),
        VF.quantize8($"va").as("q8"),
        VF.quantizedDot(VF.quantize8($"va"), VF.quantize8($"vb")).as("qd"),
        VF.srpBucket($"va", 4, 7).as("srp"),
        graft.functions.DomainFunctions.urlHost($"url").as("host"),
        graft.functions.DomainFunctions
          .registeredDomain($"url", Seq("co.uk", "github.io", "com")).as("dom"),
        graft.functions.TypedAttrs.doubleArraySum($"js").as("dsum"),
        TF.bpeTokenCount($"text", Seq("t" -> "h", "th" -> "e")).as("bpe"),
        ColumnBridge.column(graft.plans.GeoTile(
          ColumnBridge.expression(lit(51.5)),
          ColumnBridge.expression(lit(-0.1)),
          ColumnBridge.expression(lit(6)))).as("tile"),
        ColumnBridge.column(graft.plans.MinSqDistE6(
          ColumnBridge.expression(transform($"va",
            v => floor(v.cast("double") * 1000000d).cast("long"))),
          Seq(0L, 0L, 0L, 1000000L, 1000000L, 1000000L), 3)).as("msd"))
      val rows = out.collect()
      assert(rows.length == 2)
      // and the overlap/crossconcat pair expressions on derived columns
      val pairs = out.select(
        Dedup.signatureOverlap($"mh", $"mh").as("ov"),
        ColumnBridge.column(graft.plans.CrossConcat("p", "|", Seq(
          ColumnBridge.expression(array(lit("a"), lit("b"))),
          ColumnBridge.expression(array(lit("x")))))).as("cc"))
        .collect()
      assert(pairs.length == 2)
    }
  }

  test("ArrayInversions: strict merge-sort count — ties never count, nulls poison, codegen = eval") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.plans.ArrayInversions
    def inv(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(ArrayInversions(ColumnBridge.expression(c)))
    val df = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),        // sorted → 0
      (2L, Seq(4L, 3L, 2L, 1L)),        // reversed → 6
      (3L, Seq(2L, 2L, 2L)),            // all ties → 0 (strict)
      (4L, Seq(3L, 1L, 3L, 1L)),        // pairs: (3,1)x2 + (3,1) → 3, ties (3,3)/(1,1) free
      (5L, Seq(5L)),                    // singleton → 0
      (6L, Seq.empty[Long])             // empty → 0
    ).toDF("id", "a")
    val got = df.select(col("id"), inv(col("a")).as("d"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 6L, 3L -> 0L, 4L -> 3L, 5L -> 0L, 6L -> 0L), got.toString)
    // null array and null element both null the count
    val nd = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, Seq(1L, null, 2L)))),
      StructType(Seq(StructField("id", LongType, false),
        StructField("a", ArrayType(LongType, true), true))))
    val gotN = nd.select(col("id"), inv(col("a")).as("d"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(gotN == Map(1L -> true, 2L -> true), gotN.toString)
    // kernel parity against brute force on a pseudo-random array
    val arr = (1 to 257).map(i => (i * 48271L) % 101L).toArray
    val brute = (for { i <- arr.indices; j <- i + 1 until arr.length
                       if arr(i) > arr(j) } yield 1).size.toLong
    assert(graft.plans.ArrayInversions.countLongs(arr.clone()) == brute)
  }
}
