package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Partitioning
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.graft.Materialize

/**
 * Corpus deduplication for training-data pipelines, at five fidelity
 * levels: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
 *
 * Scale notes (100 TB):
 *  - exact: one hash-shuffle on a 64-bit fingerprint (not the full text —
 *    the shuffle carries 8 bytes + ids, not documents).
 *  - MinHash+LSH: signatures are computed narrowly (xxhash64 per shingle,
 *    codegen'd); candidate generation explodes BANDS rows per doc (small
 *    constant) and shuffles on the band hash — only docs sharing a band
 *    bucket ever meet, so the O(n²) pair space is never materialized.
 *  - SimHash: one 64-bit signature per doc; near-dup = bucket on
 *    rotated/banded bits.
 *  - embedding-cosine: SRP-LSH buckets bound the pair space the same way.
 *  - self-joins (bucket candidates, inverted index) reference their
 *    signature subtree twice. At scale the band join is an SMJ whose
 *    hash(bk) exchange sits above the signature projection and is
 *    ReusedExchange'd on the second branch — signatures compute ONCE.
 *    When AQE downgrades to a broadcast join (small corpora), the
 *    scan+repartition is still reused but the per-row signature runs
 *    once per branch; we deliberately do NOT pin the exchange with an
 *    explicit repartition(bk), because a user-origin shuffle disables
 *    AQE's OptimizeSkewedJoin partition splitting — and band-bucket
 *    skew is exactly where that mitigation matters.
 *  - n-gram Jaccard is the one EXACT pair op and is inherently
 *    output-bound: on a corpus with dup clusters of size k, every cluster
 *    contributes k²/2 true pairs, so no candidate scheme can make it
 *    subquadratic in cluster size. Measured at 10× (50k docs, 10-copy
 *    clusters): exact 2.9s / minhash 7.3s / simhash 4.9s scale ~linearly,
 *    ngram grows with the pair count (43s). PPJoin prefix filtering was
 *    tried and REJECTED: rarest-first prefixes don't shrink candidates
 *    when clusters share their rare shingles (the common dup shape), and
 *    the rank/collect/verify machinery cost 2.4× the codegen'd count-join
 *    it replaced. At 100 TB, use minHashDupPairs for discovery and
 *    reserve ngramJaccardPairs for bounded corpora / verification.
 */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on normalized content: keep the first doc (by `idCol`)
    * per fingerprint. Hash aggregate (min_by), not a window: a window
    * would sort every partition by fingerprint; the argmin needs no sort
    * and partial-aggregates map-side.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = xxhash64(normalizeForFingerprint(col(textCol)))
    val cols = df.columns.toSeq
    df.withColumn("_fp", fp)
      .groupBy("_fp")
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_row"))
      .select(cols.map(n => col(s"_row.$n").as(n)): _*)
  }

  /** Exact-dup groups: fingerprint → ids (for reporting/inspection). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        xxhash64(normalizeForFingerprint(col(textCol))).as("fp"),
        col(idCol)
      )
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n") > 1)

  /** Prefix-containment dup pairs — (dup_id, of_id, dup_tokens,
    * of_tokens) where the dup's WHOLE token sequence is a strict prefix
    * of the other doc's (truncated re-crawls, partially-streamed copies
    * — near-dup sketches under-weight these because the length gap
    * dilutes Jaccard). Detection contract: the dup must have at least
    * `k` tokens; candidates bucket on the xxhash64 of the first `k`
    * tokens joined by ' ' (injective over whitespace tokens), so a
    * prefix and its container always share a bucket and the pair space
    * is bucket-bounded, never O(n²). The verify step compares the dup's
    * space-joined tokens against the container's first-n_dup slice
    * exactly — hash collisions never reach the output. Equal-length
    * (identical) docs are excluded: that is [[exact]]'s job.
    *
    * Scale shape: one shuffle on the 8-byte prefix fingerprint; token
    * arrays ride the join the same way LSH signatures do (the exchange
    * under the self-join is reused — tokenization runs once). Hot
    * prefix buckets (boilerplate openings) go m² like any LSH bucket —
    * `maxBucketSize` is the same skew guard as [[minHashDupPairs]]'s.
    */
  /** Sorted-neighborhood candidate pairing (Hernández & Stolfo 1995 —
    * the classic entity-resolution blocking method, the ORDER-based
    * complement to LSH's hash-based blocking): rank every doc by a
    * short normalized sort key, pair docs within a rank window of
    * `window`, and keep the pairs whose full normalized-text
    * fingerprints agree. Where LSH needs a similarity threshold and
    * per-band tuning, sorted-neighborhood catches near-misses that
    * SORT together (shared prefixes, truncated copies, re-encoded
    * feeds) with one knob.
    *
    * Output: `(id_a, id_b)` — id_a ranked before id_b, verified
    * fingerprint-equal.
    *
    * Scale shape: the global rank over (sortKey, id) is
    * [[Graph.globalRank]]'s RANGE-SAMPLED two-level prefix over
    * `buckets` ranges (default: the session's shuffle-partition count;
    * ids are unique, so the composite key is a total
    * order and even a single dominant key prefix — the `h`-heavy http…
    * shape of real crawl corpora — splits across buckets instead of
    * funneling into one): no task sorts more than ~n/buckets rows, for
    * ANY key distribution. The pair output is bucket-invariant (positions
    * are the same global (sortKey, id) ranks either way). The windowed
    * self-join is `window−1` rank-shifted EQUI-joins in one explode —
    * shuffles carry (pos, id, 8-byte fingerprint), never text.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keyLen: Int,
      window: Int,
      buckets: Int = 0 // 0 → the session's shuffle-partition count
  ): DataFrame = {
    require(keyLen >= 1, s"sortedNeighborhoodPairs: keyLen must be >= 1, got $keyLen")
    require(window >= 2, s"sortedNeighborhoodPairs: window must be >= 2, got $window")
    require(buckets >= 0, s"sortedNeighborhoodPairs: buckets must be >= 0, got $buckets")
    // the rank frame's bucket count carries into every later stage (the
    // window join's), so it defaults to the session's shuffle
    // parallelism, as [[Graph.orderPreservingIdDict]] does
    val nb = if (buckets > 0) buckets
             else df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).as("_id"),
        normalizeForFingerprint(col(textCol)).as("_nt"))
      .select(col("_id"), xxhash64(col("_nt")).as("_fp"),
        substring(col("_nt"), 1, keyLen).as("_bk"))
    // positions are 1-based global (sortKey, id) ranks; two consumers
    // (both sides of the window join)
    val ranked = Materialize.local(
      Graph.globalRank(base, nb, Seq("_bk", "_id"), Seq("_id", "_fp"),
          "sortedNeighborhoodPairs")
        .select(col("_id"), col("_fp"), (col("_rank") + lit(1L)).as("_pos")))
    val left = ranked.select(col("_id").as("id_a"), col("_fp").as("_fpa"),
        col("_pos").as("_pa"),
        explode(sequence(lit(1L), lit((window - 1).toLong))).as("_d"))
      .select(col("id_a"), col("_fpa"), (col("_pa") + col("_d")).as("_pos"))
    left.join(ranked.select(col("_id").as("id_b"), col("_fp").as("_fpb"),
        col("_pos")), Seq("_pos"))
      .filter(col("_fpa") === col("_fpb"))
      .select(col("id_a"), col("id_b"))
  }

  /** EXACT set-similarity join with prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al. 2007, Xiao et al. 2008): every doc
    * pair whose distinct-shingle Jaccard meets `thresholdPpm`, with NO
    * approximation — the exact complement to [[minHashDupPairs]] when
    * the pipeline needs guaranteed recall at a hard threshold.
    *
    * The scale mechanism is the prefix-filter lemma: order each doc's
    * shingles by a GLOBAL rarest-first order (df asc, hash asc — a
    * total order); if J(a,b) ≥ t, the first `|x| − ⌈t·|x|⌉ + 1`
    * shingles of a and b must intersect. Candidate generation joins
    * the inverted index over PREFIX shingles only (a (1−t) fraction,
    * and the RAREST ones, so postings are short exactly where they are
    * probed), plus the standard length filter `t·max ≤ min`; the exact
    * intersection count then verifies candidates — full shingle sets
    * move only for the candidate set (the [[editSimilarityPairs]]
    * discipline). False negatives are impossible (the lemma), so the
    * result equals the quadratic join, which is what the oracle
    * recomputes directly.
    *
    * All comparisons are cross-multiplied integers; `jaccard_ppm` is
    * `|∩|·10⁶ div |∪|`. Output: `(id_a, id_b, jaccard_ppm)`, id_a < id_b.
    */
  def setSimilarityJoinPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      thresholdPpm: Long,
      maxPrefixGramDf: Long = 100000L
  ): DataFrame = {
    require(shingleSize >= 1,
      s"setSimilarityJoinPairs: shingleSize must be >= 1, got $shingleSize")
    require(thresholdPpm > 0L && thresholdPpm <= 1000000L,
      s"setSimilarityJoinPairs: thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    val ds = df.select(col(idCol).as("_id"),
        explode(array_distinct(shingles(col(textCol), shingleSize))).as("_s"))
      .select(col("_id"), xxhash64(col("_s")).as("_g"))
      .distinct()
    setSimPairsFromGrams(ds, thresholdPpm, maxPrefixGramDf)
  }

  /** Gram-level core of [[setSimilarityJoinPairs]]: exact threshold
    * Jaccard pairs over an `(_id, _g)` distinct-gram table (optionally
    * `(_id, _g, _new)` — see below). This is the seam the STREAMING
    * entity-resolution op shares: its committed store IS a gram table,
    * so the incremental join rides the identical prefix-filter plan
    * with zero text anywhere.
    *
    * When the input carries a `_new BOOLEAN` column — a per-doc flag,
    * the same on every gram row of a doc — candidate pairs are
    * restricted to those with AT LEAST ONE new side: the incremental
    * contract (old×old pairs were already resolved in the committed
    * labels, so recomputing them is pure waste); the filter sits on the
    * candidate join's output, before verification, so the
    * intersect/verify stage only ever sees incremental candidates.
    *
    * Plan shapes are chosen so that a steady ER batch asks Spark's
    * codegen cache for few distinct generated classes (every class not
    * cached is a recompile on the next batch): the prefix rows carry
    * size and new-flag packed in one long, `_szn = 2·_sz + _n`, so the
    * hot-gram window over them has the df window's input types and
    * shares its generated exchange, sort and window classes; both
    * windows and the running row count are `count(1)`s, which share one
    * set of aggregate projections.
    */
  private[graft] def setSimPairsFromGrams(
      grams: DataFrame,
      thresholdPpm: Long,
      maxPrefixGramDf: Long = 100000L
  ): DataFrame = {
    require(thresholdPpm > 0L && thresholdPpm <= 1000000L,
      s"setSimPairsFromGrams: thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    require(maxPrefixGramDf >= 1,
      s"setSimPairsFromGrams: maxPrefixGramDf must be >= 1, got $maxPrefixGramDf")
    val w = org.apache.spark.sql.expressions.Window
    val hasNew = grams.columns.contains("_new")
    // reused: prefix, verify
    val ds = Materialize.local(
      if (hasNew) grams.select(col("_id"), col("_g"), col("_new"))
      else grams.select(col("_id"), col("_g"), lit(true).as("_new")))
    // Materialized: both candidate-join sides read pref, and its window
    // chain is too much plan to compute twice (measured). `_szn` packs
    // the doc's size and new flag (see above)
    val pref = Materialize.local(prefixRows(ds, thresholdPpm)
      .select(col("_id"), col("_g"), (col("_sz") * 2L + col("_n").cast(LongType)).as("_szn")))
    // HOT-GRAM TRIPWIRE (the chiSquareTerms refusal convention), in its
    // ZERO-ACTION form: the candidate join below produces Σ_g pdf(g)²
    // pairs, where pdf is the gram's PREFIX posting length. The prefix
    // lemma keeps postings short for near-duplicate thresholds, but a
    // low threshold over short docs can put a stop-gram in many prefixes
    // and quadratically blow the join — refuse loudly with the remedy
    // instead of OOMing the cluster. The pdf rides a `count over
    // (partition by _g)` window on the join's LEFT side: the window
    // needs exactly the hash-by-_g distribution the join itself needs,
    // so it adds no extra exchange, and the `assert_true` filter
    // evaluates inside the join stage BEFORE a hot gram's quadratic
    // pairs emit — no separate aggregate, no driver round trip (the
    // eager form cost a groupBy+max+collect per call: ×3 in the ER
    // lifecycle and once per erResolve serving request).
    val prefKeyed = gramKeyed(pref)
    val cand = Materialize.local(prefKeyed
      .withColumn("_pdf", count(lit(1)).over(w.partitionBy("_g")))
      .filter(assert_true(col("_pdf") <= lit(maxPrefixGramDf),
        concat(lit("setSimPairsFromGrams: a prefix gram appears in "),
          col("_pdf").cast("string"),
          lit(s" doc prefixes > maxPrefixGramDf=$maxPrefixGramDf — the " +
            "candidate join would generate ~pdf² pairs for that gram. " +
            "Raise thresholdPpm (shorter prefixes), lengthen shingles " +
            "(rarer grams), or raise maxPrefixGramDf knowingly (shuffle " +
            "grows quadratically with it)."))).isNull)
      .select(col("_g"), col("_id").as("id_a"), col("_szn").as("_szna"))
      .join(prefKeyed.select(col("_g"), col("_id").as("id_b"), col("_szn").as("_sznb")), Seq("_g"))
      .select(col("id_a"), col("id_b"),
        shiftright(col("_szna"), 1).as("_sza"), shiftright(col("_sznb"), 1).as("_szb"),
        (col("_szna") % 2L === 1L || col("_sznb") % 2L === 1L).as("_n"))
      .filter(col("id_a") < col("id_b") && col("_n") &&
        lit(thresholdPpm) * greatest(col("_sza"), col("_szb")) <=
          lit(1000000L) * least(col("_sza"), col("_szb")))
      // sizes ride the candidate table (functionally dependent on the
      // ids, so the distinct's cardinality is unchanged) — the former
      // shape re-derived them at the end through a fresh aggregate over
      // ds and two joins against the verified pairs (r17, guide §2.4)
      .select("id_a", "id_b", "_sza", "_szb").distinct())
    // verify-join §3.2 prefilter: only candidate ids can survive the
    // equi-joins below, so the gram table entering them is semi-filtered
    // to the candidate id set first — at corpus scale the second join's
    // exchange then carries candidate grams, not the full gram table
    // (cand is materialized with its stored size and pair-bounded, so
    // the semi-join's build side broadcasts from the first plan)
    val dsCand = ds.join(candidateIds(cand), Seq("_id"), "left_semi")
    cand
      .join(dsCand.select(col("_id").as("id_a"), col("_g")), Seq("id_a"))
      .join(dsCand.select(col("_id").as("id_b"), col("_g")), Seq("id_b", "_g"))
      .groupBy("id_a", "id_b", "_sza", "_szb").agg(count(lit(1)).as("_i"))
      .filter(col("_i") * lit(1000000L) >=
        lit(thresholdPpm) * (col("_sza") + col("_szb") - col("_i")))
      .select(col("id_a"), col("id_b"),
        expr("CAST((_i * 1000000L) div (_sza + _szb - _i) AS BIGINT)").as("jaccard_ppm"))
  }

  /** The prefix rows `(_id, _g, _sz, _n)` of [[setSimPairsFromGrams]]'s
    * distinct-gram table `(_id, _g, _new)`: each doc's first
    * `|x| − ⌈t·|x|⌉ + 1` grams in the global (df, hash) order, with the
    * doc's size and whether it is new (`_new` is per doc, so the row's
    * own flag). Rows with a null column are dropped. Lazy, for the
    * plan-shape pin.
    *
    * Per-gram df and per-doc size are WINDOW functions on the exchanges
    * the prefix computation needs ANYWAY (hash by _g, then hash by _id
    * for the row number) — the former groupBy+join form paid two extra
    * aggregate passes over the grams and two joins for the identical
    * values (r17: two operations keyed the same way share one
    * exchange). `_sz` and `_r` share ONE window spec (partition by _id,
    * order by the prefix order), so they plan as one Window operator
    * over one sort; `_sz` counts the full frame, `_r` the frame up to
    * the current row (a row number, as a `count(1)`).
    */
  private[graft] def prefixRows(ds: DataFrame, thresholdPpm: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val wid = w.partitionBy("_id").orderBy(col("_df"), col("_g"))
    val widAll = wid.rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val widRun = wid.rowsBetween(w.unboundedPreceding, w.currentRow)
    gramKeyed(ds.select(col("_id"), col("_g"), col("_new").cast(LongType).as("_nw")))
      .withColumn("_df", count(lit(1)).over(w.partitionBy("_g")))
      .select(col("_id"), col("_g"), col("_nw"),
        count(lit(1)).over(widAll).as("_sz"),
        count(lit(1)).over(widRun).as("_r"))
      .filter(col("_r") <=
        col("_sz") - expr(s"(($thresholdPpm * _sz) + 999999L) div 1000000L") + lit(1L))
      .select(col("_id"), col("_g"), col("_sz"), (col("_nw") === 1L).as("_n"))
  }

  /** `df` without rows that have a null column: the df window and the
    * hot-gram window then see the same (non-null) input types. */
  private def gramKeyed(df: DataFrame): DataFrame =
    df.filter(df.columns.map(c => col(c).isNotNull).reduce(_ && _))

  /** The ids `(_id)` of a candidate-pair table `(id_a, id_b)`, both ids
    * of a pair emitted by one pass, for the verify join's semi-join
    * prefilter. Not deduplicated: a semi-join is set semantics already,
    * and a distinct would be one more shuffle (the store-side rule of
    * [[graft.streaming.StreamingOps.erResolve]]). Lazy, for the
    * plan-shape pin.
    */
  private[graft] def candidateIds(cand: DataFrame): DataFrame =
    cand.select(explode(array(col("id_a"), col("id_b"))).as("_id"))

  def prefixDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(k >= 1, s"prefixDupPairs: k must be positive, got $k")
    containmentDupPairs(df, textCol, idCol, k, maxBucketSize, fromEnd = false)
  }

  /** Suffix-containment dup pairs — the mirror of [[prefixDupPairs]]
    * for truncated HEADS (stream tails, pages whose boilerplate top was
    * stripped differently): the dup's whole token sequence is a strict
    * SUFFIX of the other doc's. Candidates bucket on the LAST-`k`-token
    * fingerprint; everything else (contract, verify, skew guard, scale
    * shape) is the prefix operator's.
    */
  def suffixDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(k >= 1, s"suffixDupPairs: k must be positive, got $k")
    containmentDupPairs(df, textCol, idCol, k, maxBucketSize, fromEnd = true)
  }

  /** Shared body of the prefix/suffix containment detectors: bucket on
    * the anchored k-token slice's fingerprint, verify the dup against
    * the container's same-anchored n_dup-token slice.
    *
    * Scale shape (two-pass candidate restriction): pass 1 shuffles only
    * `(_fp, _id, _ntok)` — 24 bytes/doc, never the text — and keeps the
    * buckets that can actually produce a strict-containment pair:
    * size > 1 (post cap) AND a strict length mix (a bucket whose docs
    * all share one length cannot satisfy `dup_tokens < of_tokens`).
    * Pass 2 broadcast-semi-joins those bucket fingerprints against the
    * corpus, so token arrays enter the self-join's exchange only for
    * candidate-bucket rows — the [[editSimilarityPairs]] discipline
    * (text moves ∝ candidates, not corpus). Candidate buckets are rare
    * by construction (anchored k-token collisions between DIFFERENT-
    * length docs), and boilerplate saturation is removed by the cap
    * before the mix test, so the broadcast side is a small fingerprint
    * set; tokenization runs twice (pass 1 + pass 2), the standard
    * recompute-over-cache trade at corpus scale.
    */
  private def containmentDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      maxBucketSize: Option[Int],
      fromEnd: Boolean
  ): DataFrame = {
    // anchored slice: first n tokens, or last n when fromEnd
    val anchored = (ts: Column, n: Column) =>
      if (fromEnd) slice(ts, -n.cast("int"), n.cast("int")) else slice(ts, lit(1), n.cast("int"))
    val toks = df.select(col(idCol).as("_id"), tokens(col(textCol)).as("_ts"))
      // _ntok, not _n: capBuckets' internal size column is _n and its
      // drop("_n") would take this one with it
      .withColumn("_ntok", size(col("_ts")).cast(LongType))
      .filter(col("_ntok") >= k)
      .withColumn("_fp", xxhash64(array_join(anchored(col("_ts"), lit(k)), " ")))
    // pass 1: narrow columns only — the cap and the pair-feasibility
    // test see (_fp, _id, _ntok), no token arrays
    val light = capBuckets(toks.select("_fp", "_id", "_ntok"),
      maxBucketSize, keyCol = "_fp")
    val candBuckets = light.groupBy("_fp")
      .agg(count(lit(1)).as("_bn"),
        min(col("_ntok")).as("_mnn"), max(col("_ntok")).as("_mxn"))
      .filter(col("_bn") > 1 && col("_mnn") < col("_mxn"))
      .select("_fp")
    // pass 2: token arrays are fetched ONLY for candidate-bucket rows
    // (cap consistency: candidates are already cap-filtered whole
    // buckets, so the semi-join reproduces pass 1's row set exactly)
    val keyed = toks.join(broadcast(candBuckets), Seq("_fp"), "left_semi")
    val a = keyed.select(col("_fp"), col("_id").as("dup_id"),
      col("_ts").as("_ta"), col("_ntok").as("dup_tokens"))
    val b = keyed.select(col("_fp"), col("_id").as("of_id"),
      col("_ts").as("_tb"), col("_ntok").as("of_tokens"))
    a.join(b, Seq("_fp"))
      .filter(col("dup_tokens") < col("of_tokens"))
      .filter(array_join(col("_ta"), " ") ===
        array_join(anchored(col("_tb"), col("dup_tokens")), " "))
      .select(col("dup_id"), col("of_id"), col("dup_tokens"), col("of_tokens"))
  }

  // -------------------------------------------------------------- MinHash

  /** MinHash signature: k permutations approximated as
    * hᵢ(s) = xxhash64(shingle, seed=i); signature[i] = min over shingles.
    * A native one-pass expression (graft.plans.MinHashSig) — the composed
    * k × array_min(transform(...)) chain re-walks the shingles k times
    * interpreted; equivalence is spec-pinned bit-for-bit. NULL for a doc
    * with no shingles (null/empty text).
    */
  def minHashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sh = array_distinct(shingles(text, shingleSize))
    ColumnBridge.column(
      graft.plans.MinHashSig(ColumnBridge.expression(sh), numHashes))
  }

  /** Count of equal signature slots — the MinHash similarity numerator.
    * Native codegen'd pass (graft.plans.SigOverlap); the zip_with+filter
    * composition it replaces is an interpreted HOF per candidate pair.
    */
  def signatureOverlap(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.SigOverlap(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** LSH band keys: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band. Two docs sharing any band key are candidates.
    *
    * A NULL signature (shingle-less doc) yields a NULL key array, so the
    * downstream explode emits ZERO candidate rows for it. Without the
    * guard, `xxhash64` of a null band slice is the constant seed — every
    * empty/short doc lands in the same bucket in EVERY band, and m such
    * docs materialize m²/2 joined rows before the verify filter drops
    * them (the hot-bucket pathology in its worst form: at 100 TB a
    * million empty docs is 10¹² rows). The guard lives INSIDE the
    * generator input — not a `Filter` on the signature, which predicate
    * pushdown would clone (signature tree and all) into the scan.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column = {
    val keys = (0 until bands).map { b =>
      // xxhash64 hashes array columns natively — no JSON serialization
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }
    when(signature.isNotNull, array(keys: _*))
  }

  /** Candidate near-dup pairs via MinHash+LSH, verified with the exact
    * signature-overlap estimate. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b, est_jaccard >= threshold.
    */
  def minHashDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    // the signature is a pure function of ONE document's shingles, so it
    // is computed per row by the native one-pass MinHashSig — fully
    // NARROW: no explode, no aggregation, no shuffled row per doc. (The
    // earlier explode + k codegen'd min()s shape existed because the
    // composed HOF form is interpreted; the native expression makes the
    // narrow shape the fast one too.)
    //
    // Deliberately NO `filter(sig.isNotNull)` here: predicate pushdown
    // substitutes the alias through the Project and clones the ENTIRE
    // signature tree into a scan-level filter — doubling the per-row
    // hash work. Null signatures (shingle-less docs) instead emit no
    // band keys at all (lshBandKeys null-guards its key array), so the
    // explode drops them with zero extra CPU and zero candidate rows.
    // decouple CPU parallelism from input split count when (and only
    // when) the scan under-parallelizes — see Partitioning.spreadByKey:
    // a no-op at real scale, a (id, text)-once shuffle on small files
    val sigs = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"),
        minHashSignature(col("_txt"), numHashes, shingleSize).as("sig"))
    val banded0 = sigs.select(
      col("id"), col("sig"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk")
    )
    val banded = capBuckets(banded0, maxBucketSize)
    val a = banded.select(col("bk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("bk"), col("id").as("id_b"), col("sig").as("sig_b"))
    // native codegen'd overlap count — one pass per candidate pair (the
    // zip_with+filter composition is interpreted, no codegen)
    val est = signatureOverlap(col("sig_a"), col("sig_b"))
      .cast(DoubleType) / lit(numHashes.toDouble)
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Hot-bucket cap — the LSH skew guard. A boilerplate cluster of m
    * near-identical docs puts all m in the same band bucket, and the
    * bucket self-join goes m²: at 100 TB one million-doc template cluster
    * is 10¹² candidate pairs. Production dedup caps the bucket size:
    * buckets larger than the cap are dropped from CANDIDATE GENERATION
    * (their members still pair through their other, more selective
    * bands, and a cluster that saturates every band is boilerplate you
    * detect with exactGroups/fingerprints, not pairwise). The size table
    * is an aggregate on the already-partitioned band keys — one reused
    * shuffle, no payloads. None = no cap, identical plan to before.
    */
  private def capBuckets(
      banded: DataFrame, maxBucketSize: Option[Int], keyCol: String = "bk"): DataFrame =
    maxBucketSize match {
      case None => banded
      case Some(cap) =>
        val sizes = banded.groupBy(keyCol).agg(count(lit(1)).as("_n"))
        banded.join(sizes.filter(col("_n") <= cap), Seq(keyCol)).drop("_n")
    }

  /** Dedup via MinHash: drop every doc that has a near-dup with a smaller
    * id (connected via at least one LSH candidate pair).
    */
  def minHashDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame = {
    val losers = minHashDupPairs(df, textCol, idCol, numHashes, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --------------------------------------------- dup-cluster components

  /** Connected components over a candidate-pair edge list — the
    * transitive closure a real dedup needs: "keep one doc per CLUSTER",
    * where near-dup pairs chain (a~b, b~c ⇒ {a,b,c}), not just one doc
    * per pair. Returns (id, comp) for every node appearing in a pair
    * with two non-null ids, comp = the minimum id reachable from the
    * node; a pair with a null id contributes no rows (the convention of
    * every [[Graph]] operator).
    *
    * Algorithm: [[Graph.connectedComponentsMin]]'s pointer-jumping loop
    * ([[Graph.componentsMin]]), O(log diameter) rounds, so a long dup
    * chain converges rather than running out of rounds. The ids iterate
    * uncast and without a dictionary, so `comp` is the minimum in the
    * ids' own type — numeric for long ids. Each round shuffles ids
    * only, never payloads. At 100 TB the pair list is output-bound (∝
    * actual duplication), so the iteration runs on a table orders of
    * magnitude smaller than the corpus.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("_s"), col("id_b").as("_d"))
      .filter(col("_s").isNotNull && col("_d").isNotNull)
    Graph.componentsMin(Graph.GraphIds(edges, "_s", "_d", dictThreshold = Long.MaxValue))
      .select(col("_v").as("id"), col("_l").as("comp"))
  }

  /** Cluster-aware dedup: keep every row not in any dup cluster plus the
    * minimum-id representative of each cluster.
    */
  def dedupByComponents(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster retention — the dedup APPLY step when "keep
    * the minimum id" ([[dedupByComponents]]) is the wrong policy: per
    * dup cluster keep the argmax of `(qualityCol, then smallest id)`
    * (the longest / highest-scoring copy survives, deterministically),
    * and every unclustered row passes through untouched.
    *
    * `components` is [[connectedComponents]] output `(id, comp)` — ids
    * only, so the membership join shuffles 16-byte rows against the
    * corpus; representative election is a two-phase `max(struct(quality,
    * -id))` partial aggregate over CLUSTERED rows only (cluster members
    * are the small minority in a deduplicated corpus, and the
    * unclustered majority skips the election join entirely via the
    * null-comp fast path).
    */
  def keepClusterRepresentatives(
      df: DataFrame,
      idCol: String,
      components: DataFrame,
      qualityCol: String
  ): DataFrame = {
    val comp = components.select(col("id").as(idCol), col("comp"))
    val joined = df.join(comp, Seq(idCol), "left")
    val clustered = joined.filter(col("comp").isNotNull)
    val reps = clustered
      .groupBy(col("comp"))
      .agg(max(struct(col(qualityCol).as("_q"), (-col(idCol)).as("_nid"))).as("_best"))
      .select(col("comp"), (-col("_best._nid")).as("_rep"))
    val keepers = clustered.join(reps, Seq("comp"))
      .filter(col(idCol) === col("_rep"))
      .drop("comp", "_rep")
    joined.filter(col("comp").isNull).drop("comp").unionByName(keepers)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word shingles: for each bit position, sum ±1
    * votes from each shingle's xxhash64; bit = 1 iff the vote is positive.
    * Routed through the native one-pass SimHashFromShingles (the
    * composed transform+xxhash64 chain is an interpreted HOF); the
    * shingle-less-doc convention of this convenience API (empty → 0L,
    * matching the historical composed fold) is preserved — codegen CSE
    * shares the shingle subtree between the guard and the signature.
    */
  def simHash(text: Column, shingleSize: Int = 2): Column = {
    val sh = array_distinct(shingles(text, shingleSize))
    when(size(sh) === 0, lit(0L)).otherwise(simHashOfShingles(sh))
  }

  /** SimHash from a shingle-hash array column. A native one-pass
    * expression (graft.plans.SimHash64) — the composed 64 interpreted
    * aggregate() folds re-walked the array 64 times per row; equivalence
    * (including the null-element −1 vote) is spec-pinned.
    */
  def simHashFromHashes(hs: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.SimHash64(ColumnBridge.expression(hs)))
  }

  /** SimHash straight from a shingle STRING array — hash + vote in one
    * native pass (graft.plans.SimHashFromShingles); bit-identical to
    * simHashFromHashes(transform(sh, xxhash64)) but with no interpreted
    * transform. NULL for an empty shingle array (doc dropped, matching
    * the explode pipeline's no-rows-no-group behavior).
    */
  def simHashOfShingles(sh: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.SimHashFromShingles(ColumnBridge.expression(sh)))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * blocks (any pair within Hamming distance 3 shares at least one exact
    * block — pigeonhole), bucket-join on blocks, verify with bit_count.
    */
  def simHashDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    // fully NARROW signature: one native hash+vote pass per row
    // (SimHashFromShingles) — no explode, no collect_list, no shuffled
    // bytes per shingle. (The earlier explode → xxhash64 → partial
    // collect_list → SimHash64 shape shuffled ~8 bytes per shingle per
    // doc only to reassemble values that were already colocated.)
    // Bit-for-bit equivalence with that form is pinned in DedupSpec.
    // No `filter(sig.isNotNull)`: pushdown would clone the signature
    // tree into the scan (see minHashDupPairs). Null-sig docs emit no
    // block rows at all (the null-guard wraps the explode INPUT): struct
    // comparison treats null block values as EQUAL, so without the guard
    // every shingle-less doc co-buckets with every other in all four
    // blocks — m²/2 joined rows before the hamming verify drops them.
    val sigs = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"),
        simHashOfShingles(array_distinct(shingles(col("_txt"), 2))).as("sig"))
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("blk"), shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("v"))
    }
    val banded = capBuckets(
      sigs.select(col("id"), col("sig"),
        explode(when(col("sig").isNotNull, array(blocks: _*))).as("bk")),
      maxBucketSize)
    val a = banded.select(col("bk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("bk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram Jaccard similarity between all candidate pairs produced
    * by a cheap blocking key (default: shared rare shingle). For bounded
    * corpora / verification of the MinHash estimate.
    */
  def jaccard(aTokens: Column, bTokens: Column): Column = {
    val inter = size(array_intersect(aTokens, bTokens))
    val uni = size(array_union(aTokens, bTokens))
    when(uni > 0, inter.cast(DoubleType) / uni.cast(DoubleType)).otherwise(lit(0.0))
  }

  /** Exact pairwise n-gram Jaccard over docs sharing at least one shingle
    * (inverted-index join — never a full cross product).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    val withSh = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"),
        tokens(normalizeForFingerprint(col("_txt"))).as("_ts"))
      .select(col("id"), array_distinct(shinglesFromTokens(col("_ts"), n)).as("sh"))
    // |A ∩ B| falls straight out of the inverted-index join: each shared
    // distinct shingle contributes exactly one joined row. The shuffle
    // carries (id, shingle) pairs and counts — never the arrays — and
    // |A ∪ B| = |A| + |B| − |A ∩ B|, so no pairwise array math at all.
    // shuffle 8-byte shingle hashes, not strings. 64-bit collisions can in
    // principle overcount the intersection by 1; at ~2⁻⁶⁴ per shingle pair
    // this is noise.
    //
    // Set sizes are deliberately computed as an AGGREGATE over the
    // exploded rows, not size(sh) carried through the join: a join-side
    // column derived directly from the tokenization tree lets constraint
    // inference (isnotnull) substitute the whole regex/shingle expression
    // into a scan-level filter — recomputing tokenization per doc at the
    // scan. Constraint substitution cannot cross an Aggregate. The
    // groupBy("id") also reuses inv's id-hash partitioning: no extra
    // shuffle, and AQE broadcasts the (id, n) side of the size joins.
    val inv = withSh
      .select(col("id"), explode(col("sh")).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
    val sizes = inv.groupBy("id").agg(count(lit(1)).as("n"))
    val a = inv.select(col("h"), col("id").as("id_a"))
    val b = inv.select(col("h"), col("id").as("id_b"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------- paragraph-level dedup (intra-corpus)

  /** Remove duplicated paragraphs across the corpus, keeping each
    * paragraph's FIRST occurrence (by (doc_id, position)) — the C4/
    * RefinedWeb span-dedup step: boilerplate paragraphs (nav text, legal
    * footers) repeat across thousands of documents that are NOT
    * whole-doc duplicates, so document-level dedup never sees them.
    *
    * Returns (idCol, cleaned text) for every input doc (docs reduced to
    * nothing keep an empty string — row count is preserved for auditing;
    * filter on `length > 0` to drop hollowed docs).
    *
    * Scale shape: paragraphs explode narrowly with their position; the
    * duplicate-detection aggregate shuffles (8-byte fingerprint, id,
    * pos) — never paragraph text; the keep-set (one row per SURVIVING
    * duplicated paragraph occurrence, typically tiny) joins back; and
    * reassembly groups the kept paragraphs per doc — the one text
    * shuffle, inherent to reordering (a doc's paragraphs must reunite).
    * Normalization is fingerprint-only: the OUTPUT text is the verbatim
    * paragraph, so cleaning is non-destructive.
    */
  def paragraphDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n\n"
  ): DataFrame = {
    val exploded = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"),
        posexplode(split(col("_txt"), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("pos", "para")))
      .withColumn("_nrm", normalizeForFingerprint(col("para")))
      .withColumn("fp", xxhash64(col("_nrm")))
    // first occurrence per fingerprint = min (id, pos); carried as a
    // hash-aggregated struct so the shuffle is one row per distinct fp
    val firsts = exploded
      .groupBy("fp")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("fp"), col("first.id").as("fid"), col("first.pos").as("fpos"))
    // blank paragraphs (normalize to "") are document STRUCTURE, not
    // repeatable content — always kept, never cross-doc deduped
    val kept = exploded
      .join(firsts, Seq("fp"))
      .filter(col("_nrm") === "" ||
        (col("id") === col("fid") && col("pos") === col("fpos")))
    kept
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")),
        sep).as("cleaned"))
      .join(df.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id").as(idCol), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Corpus-wide boilerplate-line removal (the CCNet/RefinedWeb cleanup
    * family): a non-blank line whose NORMALIZED form appears in more
    * than `maxDocs` distinct documents is removed from EVERY document
    * (unlike [[paragraphDedup]], which keeps the first occurrence —
    * boilerplate headers/footers/cookie banners carry no information in
    * any copy). Output: one row per input doc, `(idCol, cleaned)`; docs
    * hollowed to nothing come back as `""`.
    *
    * Scale shape: the ban-list aggregation shuffles `(fp, id)` pairs
    * (16 bytes, never line text) through an explicit two-phase
    * distinct-then-count, and the ban list itself — lines repeated
    * across > `maxDocs` docs — is tiny by construction, so AQE turns
    * the anti-join into a broadcast at runtime. Reassembly pays the one
    * inherent text shuffle (a doc's lines must reunite). Blank lines
    * (normalize to "") are document structure: never counted, never
    * banned, always kept.
    */
  def boilerplateRemove(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocs: Int,
      sep: String = "\n"
  ): DataFrame = {
    val exploded = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"),
        posexplode(split(col("_txt"), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("pos", "line")))
      .withColumn("_nrm", normalizeForFingerprint(col("line")))
      .withColumn("fp", xxhash64(col("_nrm")))
    // distinct docs per fingerprint, two-phase: the (fp, id) distinct
    // partial-aggregates map-side, then the count is a second narrow agg
    val banned = exploded
      .filter(col("_nrm") =!= "")
      .select("fp", "id").distinct()
      .groupBy("fp").count()
      .filter(col("count") > maxDocs)
      .select("fp")
    // blanks survive automatically: their fp never enters `banned`
    // (filtered above), and no non-blank line normalizes to ""
    val kept = exploded.join(banned, Seq("fp"), "left_anti")
    kept
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")),
        sep).as("cleaned"))
      .join(df.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id").as(idCol), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  // --------------------------------------- winnowing (partial overlap)

  /** Winnowing fingerprints of the normalized text (MOSS local
    * fingerprinting — graft.plans.Winnow): distinct selected k-gram
    * hashes with the guarantee that any shared normalized substring of
    * length ≥ w+k−1 shares a fingerprint. The primitive for PARTIAL
    * overlap (quotes, containment, boilerplate spans), where whole-doc
    * MinHash/SimHash sketches wash out.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 8): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.Winnow(
      ColumnBridge.expression(normalizeForFingerprint(text)), k, w))
  }

  /** Document pairs sharing ≥ `minShared` winnow fingerprints — the
    * overlap-detection join. Same inverted-index shape as
    * [[ngramJaccardPairs]]: fingerprints explode narrowly (density
    * ~2/(w+1) per char bounds the postings), the shuffle carries
    * (8-byte hash, id), the pair count is a codegen'd count join, and
    * `maxPostings` caps boilerplate fingerprints exactly like LSH
    * hot buckets. Output: (id_a, id_b, shared, containment) with
    * id_a < id_b; `containment` = shared / min(|fps_a|, |fps_b|), the
    * asymmetric-overlap signal a raw count can't give (a short quote
    * fully contained in a long doc shares FEW fingerprints but nearly
    * ALL of its own — containment ≈ 1 while any symmetric measure
    * vanishes with the length ratio). Set sizes are an AGGREGATE over
    * the exploded rows, not `size(...)` carried through the join
    * (constraint inference cannot cross an Aggregate — see
    * [[ngramJaccardPairs]]), and they are computed BEFORE the postings
    * cap so the denominator is the doc's true fingerprint count.
    */
  def winnowOverlapPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 8,
      minShared: Int = 2,
      maxPostings: Option[Int] = None
  ): DataFrame = {
    val fps = Partitioning.spreadByKey(
        df.select(col(idCol).as("id"), col(textCol).as("_txt")), col("id"))
      .select(col("id"), explode(winnowFingerprints(col("_txt"), k, w)).as("fp"))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("nf"))
    val posted = capBuckets(fps, maxPostings, "fp")
    val a = posted.select(col("fp"), col("id").as("id_a"))
    val b = posted.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("id").as("id_a"), col("nf").as("_na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nf").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast(DoubleType) /
          least(col("_na"), col("_nb")).cast(DoubleType)).as("containment"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup pairs, SRP-LSH bucketed: only vectors in
    * the same sign-projection bucket are compared (probe = exact cosine).
    *
    * `maxBucketSize` CAVEAT — unlike the MinHash/SimHash paths, each
    * vector here has exactly ONE bucket, so capping a hot bucket removes
    * its members from near-dup detection entirely (no other band to pair
    * through). A secondary projection would not rescue them: vectors
    * co-bucketed because they are near-identical stay co-bucketed under
    * ANY sign projection, so a genuinely hot bucket re-buckets hot. An
    * over-cap SRP bucket means embedding boilerplate — detect it by
    * bucket-size report / exact fingerprints, as with text boilerplate
    * (see capBuckets). Leave the cap off unless that trade is intended.
    */
  def embeddingDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      bits: Int = 12,
      seed: Int = 42,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    // bucket + norm in ONE narrow projection: the native SrpBucket pass
    // (cached ±1 sign matrix, same expression the ANN path uses —
    // Similarity.lshTopK) replaces the posexplode + per-plane aggregate
    // shape this path predated. Same xxhash64(i, p, seed) sign chain and
    // left-to-right accumulation as the aggregate form, so buckets are
    // bit-identical (spec-pinned); the norm is the native dot's single
    // codegen'd loop. No explode, no aggregation, no shuffle to build
    // the signature. Null/empty vectors are filtered up front — the
    // aggregate form dropped them implicitly (no exploded rows → no
    // group); a raw-column size filter is scan-pushable and cheap.
    val base = Partitioning.spreadByKey(
      df.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val bucketed0 = base.select(col("id"), col("v"),
      VectorFunctions.srpBucket(col("v"), bits, seed).as("bucket"),
      VectorFunctions.norm(col("v")).as("nrm"))
    val bucketed = capBuckets(bucketed0, maxBucketSize, "bucket")
    val a = bucketed.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val nn = col("n_a") * col("n_b")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        when(nn > 0.0, VectorFunctions.dot(col("v_a"), col("v_b")) / nn)
          .otherwise(lit(0.0)).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  /** Edit-similarity verification of candidate duplicate pairs — the
    * exact final arbiter run AFTER a sketch pass ([[minHashDupPairs]],
    * [[simHashDupPairs]], [[semanticDupPairs]]) has bounded the pair
    * space: `edit_sim = 1 − levenshtein(a, b) / max(len(a), len(b))`,
    * keeping pairs at or above `threshold`. Levenshtein is O(|a|·|b|)
    * PER PAIR — that is the point of running it last; never feed it a
    * raw self-join.
    *
    * Scale shape: two broadcast-eligible equi-joins rehydrate the pair
    * ids with text (the only text movement, proportional to the
    * candidate set, not the corpus), then the similarity is one narrow
    * codegen'd pass per pair. Output: `(id_a, id_b, edit_sim)`.
    */
  def editSimilarityPairs(
      pairs: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.9
  ): DataFrame = {
    val d = docs.select(col(idCol).as("_eid"), col(textCol).as("_etxt"))
    val sim = lit(1.0) - levenshtein(col("_ta"), col("_tb")).cast("double") /
      greatest(length(col("_ta")), length(col("_tb"))).cast("double")
    pairs
      .join(d, col("id_a") === col("_eid"))
      .withColumnRenamed("_etxt", "_ta").drop("_eid")
      .join(d, col("id_b") === col("_eid"))
      .withColumnRenamed("_etxt", "_tb").drop("_eid")
      .select(col("id_a"), col("id_b"),
        when(greatest(length(col("_ta")), length(col("_tb"))) === 0, lit(1.0))
          .otherwise(sim).as("edit_sim"))
      .filter(col("edit_sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * pairs via k-means clustering + WITHIN-cluster cosine pruning.
    * Clusters come from the same Lloyd pipeline the IVF index uses
    * ([[Similarity.seedCentroids]] + [[Similarity.refineCentroids]]);
    * assignment is the narrow native argmax (zero shuffles), and the
    * pair scan is a self-join on `centroid_id` — only same-cluster
    * vectors ever meet. Output: `(id_a, id_b, cosine)` with
    * `id_a < id_b` and `cosine >= threshold`.
    *
    * Scale shape: the pair space is Σ|cluster|² — the SemDeDup design
    * point. Size `numClusters` ∝ corpus so clusters stay bounded (the
    * paper runs ~100k clusters at web scale); the join shuffles vectors
    * on `centroid_id` once, inherent to meeting in a cluster. By
    * construction pairs STRADDLING a cluster boundary are missed — the
    * published recall trade; near-identical vectors (the dedup target)
    * share an argmax. For LSH-bucketed recall instead, use
    * [[embeddingDupPairs]]; compose either with [[dedupByComponents]]
    * to keep one representative per duplicate group.
    */
  def semanticDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      numClusters: Int = 64,
      iterations: Int = 1
  ): DataFrame = {
    val base = Partitioning.spreadByKey(
      df.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val cents = Similarity.refineCentroids(base, "id", "v",
      Similarity.seedCentroids(base, "id", "v", numClusters), iterations)
    val assigned = Similarity.assignToCentroids(base, "id", "v", cents)
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val a = assigned.select(col("centroid_id"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("centroid_id"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val nn = col("n_a") * col("n_b")
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        when(nn > 0.0, VectorFunctions.dot(col("v_a"), col("v_b")) / nn)
          .otherwise(lit(0.0)).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  /** Per-document duplicated-substring statistics — the windowed
    * approximation of suffix-array exact-substring dedup (public idea:
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": long verbatim cross-document substrings are the
    * memorization signal document-level dedup misses). Slides a
    * `window`-char frame at `stride` over the NORMALIZED text (the
    * exact-dedup normalization, [[TextFunctions.normalizeForFingerprint]])
    * and reports, per doc: total windows, windows whose content occurs
    * in ≥ 2 DISTINCT documents, and their ratio — the "copied mass"
    * score to gate removal/masking on. Text shorter than the window is
    * one whole-text window, so exact short duplicates still register.
    *
    * Scale shape: windows leave the row as 8-byte `xxhash64`
    * fingerprints (one narrow [[TextFunctions.charShingles]] walk +
    * stride filter; window TEXT never shuffles), the per-(doc, window)
    * histogram is map-side combined, the cross-doc test reduces the
    * HISTOGRAM (rows = distinct windows per doc), and the dup set
    * equi-joins back on the fingerprint. A 64-bit collision
    * (~n²/2⁶⁵ over distinct windows) counts one window pair as
    * duplicated; the suffix-array exactness this trades away needs
    * stride=1 and unbounded match extension — tune `stride` toward 1
    * when recall matters more than cost (cost ∝ len/stride per doc).
    */
  def duplicatedWindowStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 50,
      stride: Int = 25
  ): DataFrame = {
    require(window > 0, s"duplicatedWindowStats: window must be positive, got $window")
    require(stride > 0, s"duplicatedWindowStats: stride must be positive, got $stride")
    // stride-aware generator: every stride-th window is emitted
    // directly (no explode-then-filter — that form built ~stride×
    // wasted window strings per doc before dropping them)
    val sh = docs
      .select(col(idCol).as("_id"),
        explode(charShingles(col(textCol), window, stride)).as("_s"))
      .select(col("_id"), xxhash64(col("_s")).as("_h"))
    val perDoc = sh.groupBy("_id", "_h").agg(count(lit(1)).as("_c"))
    val dup = perDoc.groupBy("_h").agg(count(lit(1)).as("_d"))
      .filter(col("_d") > 1)
      .select(col("_h"), lit(true).as("_isdup"))
    val stats = perDoc.join(dup, Seq("_h"), "left")
      .groupBy("_id").agg(
        sum(col("_c")).as("_nw"),
        sum(when(col("_isdup"), col("_c")).otherwise(0L)).as("_nd"))
    docs.select(col(idCol).as("_id"))
      .join(stats, Seq("_id"), "left")
      .select(
        col("_id").as(idCol),
        coalesce(col("_nw"), lit(0L)).cast(LongType).as("n_windows"),
        coalesce(col("_nd"), lit(0L)).cast(LongType).as("n_dup_windows"),
        when(col("_nw") > 0L,
          col("_nd").cast(DoubleType) / col("_nw").cast(DoubleType))
          .as("dup_ratio"))
  }

  /** Duplicate-cluster SIZE histogram — the dedup health report
    * ("how much of the corpus is 2-copies vs 1000-copy boilerplate"):
    * `(cluster_size, n_clusters, n_docs)` over the connected dup
    * graph. Docs in no pair are singletons and do not appear (their
    * mass is `|df| − Σ n_docs`, driver arithmetic). Scale shape: the
    * [[connectedComponents]] every dedup path uses, then two
    * histogram-sized aggregations — nothing corpus-scale after the
    * pairs.
    */
  def clusterSizeHistogram(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast(LongType).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).cast(LongType).as("n_docs"))

  /** Dedup SAVINGS accounting — the capacity-planning face of
    * [[clusterSizeHistogram]]: if every dup cluster collapsed to its
    * keeper (min id, the library-wide keep rule), how many documents
    * and how many bytes/chars of payload disappear. One row:
    * `(n_docs, chars_total, n_dup_docs, chars_saved)` — all BIGINT,
    * where `chars_*` is whatever `bytes` measures (chars, UTF-8
    * bytes, token counts — caller's choice of cost model).
    *
    * Scale shape: the components table (clustered docs only) joins the
    * (id, size) projection — ids and longs, never payloads — and two
    * single-row aggregates crossJoin at the end (1-row broadcast).
    */
  def savingsReport(
      components: DataFrame, // (id, comp) — connectedComponents output
      docs: DataFrame,
      idCol: String,
      bytes: Column
  ): DataFrame = {
    val sized = docs.select(col(idCol).cast(LongType).as("id"),
      bytes.cast(LongType).as("_b"))
    val dupAgg = components.join(sized, Seq("id"))
      .agg(
        sum(when(col("id") =!= col("comp"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("id") =!= col("comp"), col("_b")).otherwise(0L)).as("chars_saved"))
    val totals = sized.agg(count(lit(1)).as("n_docs"),
      sum(col("_b")).as("chars_total"))
    totals.crossJoin(broadcast(dupAgg))
      .select(col("n_docs"), col("chars_total"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("chars_saved"), lit(0L)).as("chars_saved"))
  }

  /** Cross-SOURCE overlap matrix — mirror-feed detection at corpus
    * granularity (two crawls syndicating the same wire content show up
    * here long before doc-level dedup maps every pair): for every
    * source pair, the distinct word-n-gram sets' intersection and the
    * CONTAINMENT ratio `inter·10⁶ div min(|A|, |B|)` (containment, not
    * Jaccard — a small feed fully copied into a big one should score
    * 10⁶, which symmetric Jaccard would dilute). Output: one row per
    * unordered pair with `src_a < src_b`: `(src_a, src_b, n_a, n_b,
    * n_common, containment_ppm)`.
    *
    * Scale shape: ONE shingle pass to the distinct (source, fp) set;
    * sizes and the pair intersection ride the same 8-byte fingerprint
    * exchange (the 2⁻⁶⁴ collision argument); output is
    * sources²-bounded — group metadata. Text never shuffles. The
    * fp-level self-join fans out by each gram's source count —
    * bounded by #sources, not corpus size.
    */
  def sourceOverlapMatrix(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    require(n >= 1, s"sourceOverlapMatrix: n must be positive, got $n")
    // three consumers of one shingle pass
    val pf = Materialize.local(df
      .select(col(groupCol).cast("string").as("_g"),
        explode(array_distinct(shingles(col(textCol), n))).as("_s"))
      .filter(col("_g").isNotNull)
      .select(col("_g"), xxhash64(col("_s")).as("_fp"))
      .distinct())
    val sizes = pf.groupBy(col("_g")).agg(count(lit(1)).as("n"))
    val inter = pf.select(col("_fp"), col("_g").as("src_a"))
      .join(pf.select(col("_fp"), col("_g").as("src_b")), Seq("_fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("_g").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("_g").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("CAST(n_common * 1000000 div least(n_a, n_b) AS BIGINT)")
          .as("containment_ppm"))
  }

  /** Soft dedup — DOWN-WEIGHT near-duplicate clusters instead of
    * dropping them (the public soft-dedup practice: a k-copy cluster
    * should contribute about one document's gradient mass in
    * aggregate, not k× and not zero): every doc gets its
    * `cluster_size` (1 when un-clustered) and the exact integer
    * training weight `weight_e6 = 10⁶ div cluster_size`, so a cluster
    * totals ≈10⁶ regardless of k. Feed `weight_e6` to
    * [[Sampling.weightedSample]] or export it with the shard manifest.
    *
    * `pairs` is any dup-pair table ([[minHashDupPairs]],
    * [[simHashDupPairs]], exact-fingerprint self-join …); components
    * come from [[connectedComponents]]. Scale: components/sizes carry
    * ids only; the join back to `df` is on the id — full rows never
    * shuffle twice.
    */
  def softDedupWeights(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String
  ): DataFrame = {
    val comps = connectedComponents(pairs)
    val sizes = comps.groupBy("comp").agg(count(lit(1)).as("_n"))
    val weights = comps.join(sizes, Seq("comp"))
      .select(col("id").as(idCol), col("_n"))
    df.select(col(idCol))
      .join(weights, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(1L)).cast(LongType).as("cluster_size"),
        expr("CAST(1000000 div coalesce(_n, 1) AS BIGINT)").as("weight_e6"))
  }

  /** Cross-document exact-substring REMOVAL — the transform twin of
    * [[duplicatedWindowStats]] (that one measures, this one repairs;
    * public idea: Lee et al. 2022's suffix-array dedup, approximated
    * with fixed token windows the way Spark can express it): every
    * `window`-token span whose content occurs anywhere else in the
    * corpus is cut from all but its FIRST occurrence (smallest
    * (id, start) — within-doc repeats cut too), and each doc's text is
    * rebuilt from the surviving tokens. Overlapping duplicated windows
    * merge through position coverage, so a duplicated run longer than
    * `window` is excised wholesale, not window-by-window. Docs shorter
    * than the window form one whole-text window — exact short
    * duplicates still dedup. Output keeps `idCol` and adds `clean`
    * (tokens re-joined with single spaces — the library's documented
    * whitespace normalization) and `n_removed` (tokens cut).
    *
    * Scale shape: windows leave the row as (id, start, 8-byte rolling
    * fingerprint) — window TEXT never shuffles; the fingerprints come
    * from ONE [[graft.plans.TokenWindowHashes]] pass (each token
    * hashed once, consecutive windows roll in O(1) — O(tokens) per
    * doc, not the O(tokens × window) a rebuild-the-window-string form
    * pays); the keeper election is one min-struct aggregate on the
    * fingerprint; only DUPLICATED occurrences (the rare case) flow
    * onward, collapse to per-doc cut lists, and join back for a
    * narrow per-row rebuild (an index-coverage lambda over the token
    * array — O(tokens × cuts) per doc, bounded by the doc's own
    * duplication). The cheaper screen is running
    * [[duplicatedWindowStats]] first and feeding only
    * high-`dup_ratio` docs here. A 64-bit collision cuts a
    * non-duplicated span (~n²/2⁶⁵ over distinct windows).
    */
  def removeDuplicatedWindows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 50
  ): DataFrame = {
    require(window > 0, s"removeDuplicatedWindows: window must be positive, got $window")
    val base = docs.select(col(idCol).as("_id"),
      tokens(col(textCol)).as("_toks"))
    val wins = tokenWindowFingerprints(base, window)
    rebuildWithoutSpans(base, nonKeeperSpans(wins, window), idCol)
  }

  /** The sliding-window fingerprints of a `(_id, _toks)` frame:
    * `(_id, _n, _s, _h)` — one [[graft.plans.TokenWindowHashes]] pass
    * per doc (see [[removeDuplicatedWindows]]'s scale notes). Shared
    * with the streaming window dedup, which cuts against a persistent
    * fingerprint store as well as in-batch keepers.
    */
  private[graft] def tokenWindowFingerprints(
      base: DataFrame, window: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val winHashes = ColumnBridge.column(graft.plans.TokenWindowHashes(
      ColumnBridge.expression(col("_toks")), window))
    base
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col("_id"), col("_n"), explode(winHashes).as("_w"))
      .select(col("_id"), col("_n"),
        col("_w.s").as("_s"), col("_w.h").as("_h"))
  }

  /** Cut spans `(_id, _s, _e)` for every duplicated-window occurrence
    * EXCEPT the corpus-wide keeper (min (id, start) per fingerprint);
    * only duplicated fingerprints (count > 1) leave the aggregate.
    */
  private[graft] def nonKeeperSpans(
      wins: DataFrame, window: Int): DataFrame = {
    val keep = wins.groupBy("_h").agg(
        min(struct(col("_id"), col("_s"))).as("_k"),
        count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .select(col("_h"), col("_k._id").as("_kid"), col("_k._s").as("_ks"))
    wins.join(keep, Seq("_h"))
      .filter(!(col("_id") === col("_kid") && col("_s") === col("_ks")))
      .select(col("_id"), col("_s"),
        least(col("_s") + lit(window.toLong), col("_n").cast(LongType)).as("_e"))
  }

  /** Rebuild each doc of `base` (`_id`, `_toks`) without the tokens any
    * `cuts` span `(_id, _s, _e)` covers: `(idCol, clean, n_removed)`.
    * Overlapping spans merge through the per-position coverage test.
    */
  private[graft] def rebuildWithoutSpans(
      base: DataFrame, cuts: DataFrame, idCol: String): DataFrame = {
    val ranges = cuts.groupBy("_id")
      .agg(collect_list(struct(col("_s"), col("_e"))).as("_cuts"))
    base.join(ranges, Seq("_id"), "left")
      .withColumn("_kept",
        when(col("_cuts").isNull, col("_toks")).otherwise(
          filter(col("_toks"), (_, i) =>
            !exists(col("_cuts"), r =>
              r.getField("_s") <= i.cast(LongType) &&
                i.cast(LongType) < r.getField("_e")))))
      .select(
        col("_id").as(idCol),
        array_join(col("_kept"), " ").as("clean"),
        (size(col("_toks")) - size(col("_kept"))).cast(LongType)
          .as("n_removed"))
  }
}
