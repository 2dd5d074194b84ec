package graft

import org.apache.spark.sql.functions._
import graft.operators.Decontamination

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "an entirely different body of training text material"),
    (3L, "we mention the lazy dog tonight in passing here too"), // shares a 3-gram with #1
    (4L, "short doc")
  ).toDF("doc_id", "text")

  test("contaminationFlags: docs sharing an n-gram with the probe set are flagged") {
    val probes = Seq("nothing matches here except the lazy dog tonight phrase").toDF("text")
    val out = Decontamination.contaminationFlags(docs, "text", "doc_id", probes, "text", n = 3)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(3L), out.toString)   // both contain "lazy dog tonight"
    assert(!out(2L) && !out(4L), out.toString)
  }

  test("decontaminate drops flagged docs and keeps the rest") {
    val probes = Seq("the lazy dog tonight").toDF("text")
    val kept = Decontamination.decontaminate(docs, "text", "doc_id", probes, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("empty probe corpus flags nothing") {
    val probes = Seq.empty[String].toDF("text")
    val out = Decontamination.contaminationFlags(docs, "text", "doc_id", probes, "text", n = 3)
      .select("contaminated").as[Boolean].collect()
    assert(out.forall(!_))
  }

  test("probe shingle set broadcasts (plan shape)") {
    val probes = Seq("the lazy dog tonight").toDF("text")
    val plan = Decontamination.contaminationFlags(docs, "text", "doc_id", probes, "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("oversized probe set takes the shuffle semi-join fallback, never the broadcast hint") {
    val probes = Seq("the lazy dog tonight phrase appears here").toDF("text")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // disable size-based auto-broadcast so the assertion isolates the
      // HINT: past the cap the plan must carry no forced broadcast (the
      // planner may still choose one from real stats — that's safe)
      val flagged = Decontamination.contaminationFlags(
        docs, "text", "doc_id", probes, "text", n = 3,
        maxBroadcastProbeHashes = 1L)
      assert(!flagged.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
      // and the fallback is still correct
      val out = flagged.select("doc_id", "contaminated")
        .as[(Long, Boolean)].collect().toMap
      assert(out(1L) && out(3L) && !out(2L) && !out(4L), out.toString)
    }
  }

  test("overlapStats grades partial contamination; flag equals ratio > 0") {
    val probes = Seq("the lazy dog tonight").toDF("text")
    val out = Decontamination.overlapStats(docs, "text", "doc_id", probes, "text", n = 3)
      .select("doc_id", "n_ngrams", "n_overlap", "overlap_ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc 1: 10 tokens → 8 distinct trigrams; probe contributes
    // exactly "the lazy dog" and "lazy dog tonight" → 2/8
    assert(out(1L)._2 == 8L && out(1L)._3 == 2L && out(1L)._4 == 0.25)
    // doc 3 shares the same two trigrams among its 8
    assert(out(3L)._3 == 2L && out(3L)._4 == 0.25)
    assert(out(2L)._3 == 0L && out(2L)._4 == 0.0)
    // short doc: one sub-n gram ("short doc"), no overlap
    assert(out(4L)._2 == 1L && out(4L)._3 == 0L)
    // consistency with the boolean operator
    val flags = Decontamination.contaminationFlags(
        docs, "text", "doc_id", probes, "text", n = 3)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    out.values.foreach { case (id, _, ov, _) => assert(flags(id) == (ov > 0L)) }
  }

  test("removeProbeOverlaps: matched spans cut case-blind, original case kept, clean docs untouched") {
    val probes = Seq("THE LAZY DOG tonight").toDF("text")
    val out = Decontamination.removeProbeOverlaps(
        docs, "doc_id", "text", probes, "text", window = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    // doc 1: lowercase windows [the lazy dog][lazy dog tonight] match →
    //   coverage tokens 6..9; the surviving text keeps ORIGINAL case
    assert(out(0) == ((1L, "the quick brown fox jumps over", 4L)), out(0).toString)
    // doc 2: no probe overlap — byte-identical
    assert(out(1) == ((2L, "an entirely different body of training text material", 0L)))
    // doc 3: same phrase mid-doc → interior cut, flanks survive
    assert(out(2) == ((3L, "we mention in passing here too", 4L)), out(2).toString)
    // doc 4: shorter than the window, no match
    assert(out(3) == ((4L, "short doc", 0L)))
    // the probe window set broadcasts (policy/benchmark metadata)
    val plan = Decontamination.removeProbeOverlaps(
        docs, "doc_id", "text", probes, "text", window = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("nearDupFlags: threshold gating, distinct-probe counting, duplicate probes collapse, clean docs absent") {
    import graft.operators.Decontamination
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val near = base.replace("tango", "zulu")           // one word differs
    val docs = Seq(
      (1L, base),                                      // exact probe copy
      (2L, near),                                      // near-dup of the probe
      (3L, "completely different text about unrelated things entirely " +
        "with many other words to shingle properly here today")
    ).toDF("doc_id", "text")
    val probes = Seq(base, base, near).toDF("text")    // duplicate probe text
    // threshold 1.0: only the exact copy survives
    val exact = Decontamination.nearDupFlags(docs, "text", "doc_id",
        probes, "text", numHashes = 32, bands = 8, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 1 and 2 are each an exact copy of a probe text (near is the
    // third probe); the unrelated doc never flags, and the duplicate
    // base probe counts ONCE (n_probe_hits = 1 at full agreement)
    assert(exact == Set((1L, 1L, 32L), (2L, 1L, 32L)), exact.toString)
    // moderate threshold: the near-dup flags too, the unrelated doc never
    val fuzzy = Decontamination.nearDupFlags(docs, "text", "doc_id",
        probes, "text", numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fuzzyIds = fuzzy.map(_._1)
    assert(fuzzyIds == Set(1L, 2L), fuzzy.toString)
    // doc 1 at threshold 0.5 sees BOTH distinct probe texts
    assert(fuzzy.find(_._1 == 1L).get._2 == 2L, fuzzy.toString)
    // the probe side broadcasts under the cap
    val plan = Decontamination.nearDupFlags(docs, "text", "doc_id",
        probes, "text", numHashes = 32, bands = 8, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
  }

  test("probeLeakReport: fully-leaked, partial, and novel probes grade correctly") {
    import graft.operators.Decontamination
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "w2 w3 w4 w5"),          // both its 3-grams present in doc 1
      (11L, "w4 w5 w6 x1 x2"),       // "w4 w5 w6" leaked, the two x-grams not
      (12L, "n1 n2 n3 n4")           // fully novel
    ).toDF("probe_id", "ptext")
    val m = Decontamination.probeLeakReport(docs, "text", probes,
        "probe_id", "ptext", n = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(10L) == ((2L, 2L, 1000000L)), m.toString)   // "w2 w3 w4","w3 w4 w5"
    assert(m(11L) == ((3L, 1L, 333333L)), m.toString)
    assert(m(12L) == ((2L, 0L, 0L)), m.toString)
  }
}
