package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize
import graft.engine.Partitioning
import graft.functions.TextFunctions._

/**
 * Benchmark decontamination — flag/remove training documents that share
 * word n-grams with an evaluation ("probe") corpus. The standard
 * public-pipeline step (GPT-3/Gopher/Llama papers all describe n-gram
 * overlap decontamination) and a natural companion to [[Dedup]]: same
 * shingle machinery, but the comparison set is external.
 *
 * Scale notes (100 TB): the probe side is benchmark data — tiny relative
 * to the corpus — so its distinct shingle-hash set is aggregated once and
 * BROADCAST; the corpus side is a narrow explode into a broadcast
 * left-semi join (no shuffle of corpus shingles, no pair materialization).
 * Shingle hashes are 8-byte xxhash64 values, never strings; a hash
 * collision can flag a clean doc at ~2⁻⁶⁴ per shingle pair — noise, and
 * conservative in the safe direction (over-removal).
 */
object Decontamination {

  /** Distinct 64-bit shingle hashes of a probe corpus (the broadcast-able
    * contamination reference set).
    */
  def probeShingleHashes(probes: DataFrame, textCol: String, n: Int): DataFrame =
    probes
      .select(explode(array_distinct(shingles(col(textCol), n))).as("_g"))
      .select(xxhash64(col("_g")).as("h"))
      .distinct()

  /** The probe-hash set, materialized and sized: `(hashes, count)`.
    * The broadcast-cap guard needs the count before the join; the
    * materialization's row count is it, so the probe tokenize + shingle
    * + distinct aggregation runs once. Materializing is safe by the
    * same argument the broadcast is: probe corpora are benchmark-sized.
    * A pipeline calling [[contaminationFlags]] and [[overlapStats]] on
    * the same probes can compute this once and pass it to both.
    */
  def materializedProbeHashes(
      probes: DataFrame, textCol: String, n: Int): (DataFrame, Long) =
    Materialize.localWithRows(probeShingleHashes(probes, textCol, n))

  /** Every document, plus a `contaminated` flag: true iff the doc shares
    * at least one word n-gram with the probe corpus.
    *
    * `maxBroadcastProbeHashes` guards the broadcast: the explicit
    * `broadcast()` hint overrides every planner size check, so a
    * pathologically large probe corpus (someone points "probes" at
    * another 100 TB corpus) would OOM the driver on collect. The probe
    * hash set is counted once — one cheap job over the PROBE side only,
    * never the corpus — and past the cap the semi-join falls back to a
    * plain shuffle semi-join (correct at any size; the corpus explode
    * then shuffles on the 8-byte hash). The default cap (10M hashes ≈
    * 80 MB of longs) stays comfortably inside executor/driver memory.
    */
  def contaminationFlags(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      probes: DataFrame,
      probeTextCol: String,
      n: Int = 8,
      maxBroadcastProbeHashes: Long = 10000000L,
      precomputedProbeHashes: Option[(DataFrame, Long)] = None
  ): DataFrame = {
    val (probeHashes, probeCount) = precomputedProbeHashes
      .getOrElse(materializedProbeHashes(probes, probeTextCol, n))
    val corpusShingles = Partitioning.spreadByKey(
        docs.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"), explode(array_distinct(shingles(col("_txt"), n))).as("_g"))
      .select(col("id"), xxhash64(col("_g")).as("h"))
    val probeSide =
      if (probeCount <= maxBroadcastProbeHashes) broadcast(probeHashes)
      else probeHashes
    val hits = corpusShingles
      .join(probeSide, Seq("h"), "left_semi")
      .select(col("id").as(idCol)).distinct()
      .withColumn("_hit", lit(true))
    docs.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("_hit"), lit(false)))
      .drop("_hit")
  }

  /** Per-PROBE leakage report — for each probe (benchmark) document,
    * how much of it already lives in the corpus: `(<probeIdCol>,
    * n_ngrams, n_leaked, leak_ppm BIGINT)` over the probe's DISTINCT
    * word n-grams. [[contaminationFlags]] answers "which corpus docs
    * to drop"; this answers "which eval items are compromised" — the
    * report an eval owner reads before trusting a benchmark number.
    *
    * Scale shape: INVERTED from the corpus-side screens. The probe
    * hash set broadcasts (same defensive cap) into the corpus scan,
    * which emits only MATCHED hashes — a set bounded by the PROBE
    * size, not the corpus — deduped and joined back probe-side; the
    * corpus never shuffles its shingles and nothing corpus-scale
    * aggregates. leak_ppm is exact integer (n_leaked·10⁶ div
    * n_ngrams; n_ngrams ≥ 1 by construction — every probe with text
    * yields at least the whole-text shingle).
    */
  def probeLeakReport(
      docs: DataFrame,
      textCol: String,
      probes: DataFrame,
      probeIdCol: String,
      probeTextCol: String,
      n: Int = 8,
      maxBroadcastProbeHashes: Long = 10000000L
  ): DataFrame = {
    val pg = probes.select(col(probeIdCol).as("_pid"),
        explode(array_distinct(shingles(col(probeTextCol), n))).as("_g"))
      .select(col("_pid"), xxhash64(col("_g")).as("_h"))
    val (pHashes, pCount) = Materialize.localWithRows(pg.select(col("_h")).distinct())
    val probeSide =
      if (pCount <= maxBroadcastProbeHashes) broadcast(pHashes) else pHashes
    val corpusHashes = docs
      .select(explode(array_distinct(shingles(col(textCol), n))).as("_g"))
      .select(xxhash64(col("_g")).as("_h"))
    val matched = corpusHashes.join(probeSide, Seq("_h"), "left_semi")
      .distinct()
      .withColumn("_hit", lit(true))
    pg.join(matched, Seq("_h"), "left")
      .groupBy(col("_pid"))
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
        sum(when(col("_hit"), 1L).otherwise(0L)).cast("long").as("n_leaked"))
      .select(col("_pid").as(probeIdCol), col("n_ngrams"), col("n_leaked"),
        expr("CAST(n_leaked * 1000000 div n_ngrams AS BIGINT)").as("leak_ppm"))
  }

  /** FUZZY cross-corpus decontamination: corpus documents that are
    * MinHash near-duplicates of any probe document — the near-dup
    * complement of [[contaminationFlags]]' exact n-gram membership
    * (a lightly paraphrased or truncated benchmark item shares few
    * exact 8-gram hashes but keeps a high Jaccard over character
    * shingles; both screens run in real curation). Returns only the
    * flagged docs: `(<idCol>, n_probe_hits BIGINT, max_overlap
    * BIGINT)` — distinct probes matched, and the best signature
    * agreement count (out of `numHashes`; the estimated Jaccard is
    * `max_overlap / numHashes`, left as an exact integer surface).
    *
    * Scale shape: both sides build narrow native MinHash signatures
    * (no shuffle); candidates come from the banded LSH key join, so
    * corpus docs only ever pair with probes sharing a band bucket.
    * The probe side is benchmark-sized and BROADCAST under the same
    * defensive cap as the n-gram screens (counted once on the probe
    * side only; past the cap the join falls back to a hash shuffle on
    * the band key — correct at any size). Per-pair verification is
    * the codegen'd signature-overlap count; per-doc reduction
    * combines map-side.
    */
  def nearDupFlags(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      probes: DataFrame,
      probeTextCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      maxBroadcastProbes: Long = 1000000L
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(threshold > 0.0 && threshold <= 1.0,
      s"nearDupFlags: threshold must be in (0, 1], got $threshold")
    val rowsPerBand = numHashes / bands
    // agreement bar: smallest overlap whose estimate reaches threshold
    val minOverlap = math.ceil(threshold * numHashes - 1e-9).toLong
    // probe identity = fingerprint of the normalized text (stable across
    // retries/layouts, unlike monotonically_increasing_id), deduped so a
    // benchmark item present twice counts once in n_probe_hits
    val (probeSigs, probeCount) = Materialize.localWithRows(probes
      .select(fingerprintXx(col(probeTextCol)).as("_pid"),
        Dedup.minHashSignature(col(probeTextCol), numHashes, shingleSize)
          .as("_psig"))
      .dropDuplicates("_pid")
      .select(col("_pid"), col("_psig"),
        explode(Dedup.lshBandKeys(col("_psig"), bands, rowsPerBand)).as("bk")))
    val probeSide =
      if (probeCount <= maxBroadcastProbes) broadcast(probeSigs)
      else probeSigs
    val corpusSigs = Partitioning.spreadByKey(
        docs.select(col(idCol).as("_id"), col(textCol).as("_txt")), col("_id"))
      .select(col("_id"),
        Dedup.minHashSignature(col("_txt"), numHashes, shingleSize).as("_sig"))
      .select(col("_id"), col("_sig"),
        explode(Dedup.lshBandKeys(col("_sig"), bands, rowsPerBand)).as("bk"))
    corpusSigs.join(probeSide, Seq("bk"))
      .select(col("_id"), col("_pid"),
        Dedup.signatureOverlap(col("_sig"), col("_psig")).cast("long")
          .as("_ov"))
      .filter(col("_ov") >= minOverlap)
      // a (doc, probe) pair seen through several bands counts once
      .groupBy(col("_id"), col("_pid")).agg(max(col("_ov")).as("_ov"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("long").as("n_probe_hits"),
        max(col("_ov")).as("max_overlap"))
      .withColumnRenamed("_id", idCol)
  }

  /** Per-document n-gram overlap ratio against the probe corpus — the
    * GRADED contamination/memorization signal ([[contaminationFlags]]'
    * boolean is `overlap_ratio > 0`): `(id, n_ngrams, n_overlap,
    * overlap_ratio)` over each doc's DISTINCT word n-grams. A partial
    * overlap that a binary flag can't distinguish (one shared idiom vs
    * a half-copied benchmark item) grades here, which is what a
    * threshold-based removal policy actually wants.
    *
    * Scale shape: identical to [[contaminationFlags]] — probe hashes
    * aggregate once and broadcast under the same cap (shuffle semi-ish
    * fallback above it), the corpus side is one narrow distinct-shingle
    * explode, and the LEFT join against the DISTINCT probe set can't
    * fan out; per-doc counts combine map-side. The ratio is one IEEE
    * division of exact longs — engine-reproducible.
    */
  def overlapStats(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      probes: DataFrame,
      probeTextCol: String,
      n: Int = 8,
      maxBroadcastProbeHashes: Long = 10000000L,
      precomputedProbeHashes: Option[(DataFrame, Long)] = None
  ): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val (probeHashes0, probeCount) = precomputedProbeHashes
      .getOrElse(materializedProbeHashes(probes, probeTextCol, n))
    val probeHashes = probeHashes0.withColumn("_hit", lit(1L))
    val corpusShingles = Partitioning.spreadByKey(
        docs.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"), explode(array_distinct(shingles(col("_txt"), n))).as("_g"))
      .select(col("id"), xxhash64(col("_g")).as("h"))
    val probeSide =
      if (probeCount <= maxBroadcastProbeHashes) broadcast(probeHashes)
      else probeHashes
    corpusShingles
      .join(probeSide, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_overlap"))
      .select(col("id").as(idCol),
        col("n_ngrams").cast("long").as("n_ngrams"),
        col("n_overlap").cast("long").as("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_ngrams").cast(DoubleType))
          .as("overlap_ratio"))
  }

  /** Drop contaminated documents (the apply step). */
  def decontaminate(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      probes: DataFrame,
      probeTextCol: String,
      n: Int = 8
  ): DataFrame =
    contaminationFlags(docs, textCol, idCol, probes, probeTextCol, n)
      .filter(!col("contaminated"))
      .drop("contaminated")

  /** SPAN-level decontamination — cut every `window`-token span that
    * matches a probe window, keeping the rest of the document (the
    * surgical alternative to [[decontaminate]]'s whole-doc drop when
    * benchmark text was quoted inside otherwise-good pages). Returns
    * `(idCol, clean, n_removed)`; overlapping matches merge by
    * position coverage like
    * [[graft.operators.Dedup.removeDuplicatedWindows]].
    *
    * Matching tokenizes LOWERCASED text (case-blind like the flag
    * path) but — unlike the flags, which hash fully normalized
    * shingles — keeps punctuation: normalization can delete whole
    * tokens (a pure-punctuation token normalizes away), and a removal
    * needs its match positions to align 1:1 with the original token
    * stream it cuts. Lowercasing preserves token boundaries exactly,
    * so the lowercase match span IS the original-case cut span.
    *
    * Scale shape: both sides run the one-pass rolling
    * [[graft.plans.TokenWindowHashes]]; the probe window set
    * aggregates once and broadcasts under the same cap as the flag
    * path (plain semi-join fallback above it); corpus windows leave
    * the row as 8-byte fingerprints; the rebuild is the narrow
    * index-coverage lambda.
    */
  def removeProbeOverlaps(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      probes: DataFrame,
      probeTextCol: String,
      window: Int = 13,
      maxBroadcastProbeWindows: Long = 10000000L
  ): DataFrame = {
    require(window > 0, s"removeProbeOverlaps: window must be positive, got $window")
    val base = docs.select(col(idCol).as("_id"),
      tokens(col(textCol)).as("_toks"),
      tokens(lower(col(textCol))).as("_ltoks"))
    val wins = Dedup.tokenWindowFingerprints(
      base.select(col("_id"), col("_ltoks").as("_toks")), window)
    val (probeFps, probeCount) = Materialize.localWithRows(
      Dedup.tokenWindowFingerprints(
          probes.select(lit(0L).as("_id"),
            tokens(lower(col(probeTextCol))).as("_toks")), window)
        .select(col("_h")).distinct())
    val probeSide =
      if (probeCount <= maxBroadcastProbeWindows) broadcast(probeFps)
      else probeFps
    val cuts = wins.join(probeSide, Seq("_h"), "left_semi")
      .select(col("_id"), col("_s"),
        least(col("_s") + lit(window.toLong), col("_n").cast("long")).as("_e"))
    Dedup.rebuildWithoutSpans(
      base.select(col("_id"), col("_toks")), cuts, idCol)
  }
}
