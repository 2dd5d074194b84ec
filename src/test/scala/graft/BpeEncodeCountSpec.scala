package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** The native BPE-encode kernel (plans.BpeEncodeCount) vs the
  * replace-chain reference composition: identical by construction on
  * every input, including the string-level partial-symbol matches the
  * chain's `replace` semantics permit (suffix-of-left ⨯ prefix-of-right
  * bindings) — the kernel preserves the contract, it does not "fix" it.
  */
class BpeEncodeCountSpec extends SparkSpec {
  import spark.implicits._

  private val merges = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n", "e" -> "r",
    "er" -> "s", "o" -> "u", "ou" -> "t", "s" -> "t", "st" -> "r")

  private def both(texts: Seq[String], ms: Seq[(String, String)]) = {
    val df = texts.toDF("t")
    val native = df.select(TF.bpeTokenCount($"t", ms).as("n"))
      .as[Long].collect().toSeq
    val chain = df.select(TF.bpeTokenCountReplaceChain($"t", ms).as("n"))
      .as[Long].collect().toSeq
    (native, chain)
  }

  test("parity with the replace chain on representative corpora") {
    val texts = Seq(
      "the thermometer registers another southern outburst",
      "",
      "   ",
      "a",
      "inner stern trust outer south there",
      "THE CASE Folds Down",
      "repeated the the the ththth eee",
      "punctuation, stays; in-word: as-is!",
      "tab\tand\nnewline separatedwords",
      "abc abcabc aaa bbb tthhee")
    val (native, chain) = both(texts, merges)
    assert(native == chain, s"native=$native chain=$chain")
  }

  test("parity on the partial-symbol match the string replace permits") {
    // merges [(a,b),(b,c)] on "abc": chain gives "a b c" → "ab c" →
    // replace("b c"→"bc") matches the SUFFIX of "ab" → "abc", 1 token —
    // the documented string-level semantics, NOT symbol adjacency (2)
    val ms = Seq("a" -> "b", "b" -> "c")
    val (native, chain) = both(Seq("abc", "abcabc", "bca cab"), ms)
    assert(native == chain, s"native=$native chain=$chain")
    assert(native.head == 1L, native.toString)
  }

  test("surrogate pairs spell as whole code points (split(w, '') semantics)") {
    val emoji = new String(Character.toChars(0x1F600))
    // no merge applies: count = code points per word
    val (native, chain) = both(Seq(s"x${emoji}y $emoji$emoji"), Seq("q" -> "z"))
    assert(native == chain, s"native=$native chain=$chain")
    assert(native.head == 5L, native.toString)
  }

  test("null → 0, blank → 0, merges validated") {
    val df = Seq[Option[String]](None, Some(""), Some("  ")).toDF("t")
    val got = df.select(TF.bpeTokenCount($"t", merges).as("n"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 0L, 0L), got.toString)
    intercept[IllegalArgumentException] { TF.bpeTokenCount($"t", Seq.empty) }
    intercept[IllegalArgumentException] { TF.bpeTokenCount($"t", Seq("a b" -> "c")) }
  }

  test("production-size merge list (2k ranks) runs under codegen.fallback=false") {
    // the replace-chain tree cannot codegen at this depth (Janino method
    // limits) — the native kernel must, with the merge list riding the
    // expression as a reference object
    val big = (0 until 2000).map { i =>
      (s"s${i % 97}", s"t${(i * 31) % 89}")
    } ++ merges
    withConf("spark.sql.codegen.fallback" -> "false") {
      // non-foldable source (a literal table constant-folds to a
      // LocalTableScan before codegen ever runs)
      val df = spark.range(2).select(
        concat(lit("the southern stern outburst x"), col("id")).as("t"))
      val q = df.select(TF.bpeTokenCount($"t", big).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("*(1)"),
        q.queryExecution.executedPlan.toString)
      // the synthetic sN/tM merges never match real words — counts equal
      // the base-merge result
      val gotBig = q.as[Long].collect().toSeq
      val gotBase = df.select(TF.bpeTokenCount($"t", merges).as("n"))
        .as[Long].collect().toSeq
      assert(gotBig == gotBase, s"big=$gotBig base=$gotBase")
    }
  }

  test("SQL registration: graft_bpe_encode_count with literal merge pairs") {
    graft.plans.GraftExtensions.registerAll(spark)
    val n = spark.sql(
      "SELECT graft_bpe_encode_count(lower('the then'), 't', 'h', 'th', 'e') AS n")
      .as[Long].head()
    // "the" → t h e → th e → the (1); "then" → t h e n → th e n → the n (2)
    assert(n == 3L, n.toString)
  }
}
