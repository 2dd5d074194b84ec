package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.model._
import graft.functions.{DomainFunctions, TypedAttrs, TextFunctions, VectorFunctions}
import graft.operators._
import graft.GateTables
import graft.SparkEntry._

/** RefSurface gate registry — mechanically extracted from
  * SparkEntry (round-16 registry split, verdict Next #7); every entry
  * and oracle is verbatim. SparkEntry remains the single driver
  * contract: it concatenates the family maps. */
// scalastyle:off
private[graft] object RefSurfaceGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- bulk path: JSON array column → one row per document with
    //      _doc_idx (PartialUpdateMongo.java:210-239)
    "json_bulk_explode" -> ((s, dir) => {
      // a 1/5 sample keeps the full parse→explode path gated without the
      // (Spark-builtin) Jackson loop dominating the bench
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0)
      val arr = concat(
        lit("[{\"ln\":"), col("l_linenumber"),
        lit(",\"f\":\""), col("l_returnflag"),
        lit("\"},{\"ln\":"), col("l_linenumber") + 100,
        lit(",\"f\":\""), col("l_linestatus"), lit("\"}]"))
      val df = li.select(col("l_orderkey"), col("l_linenumber").as("seq"), arr.as("docs"))
      graft.sources.SourcesSinks.explodeJsonArray(df, "docs", StructType(Seq(
        StructField("ln", IntegerType), StructField("f", StringType))))
        .select(col("l_orderkey"), col("seq"), col("_doc_idx"),
          col("_doc.ln").as("ln"), col("_doc.f").as("f"))
        .orderBy("l_orderkey", "seq", "_doc_idx")
    }),
    // ---- charset-aware whole-record text scan (SURVEY §2.2: configurable
    //      decode charset): latin-1 bytes with a non-ASCII char round-trip.
    //      Content carries spaces, commas, and double quotes to pin the
    //      WHOLE-record contract (no delimiter split, no quote handling)
    "text_scan_charset" -> ((s, dir) => {
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_latin1_scan.txt")
      val lines = (0 until 200).map(i => s"""reg é "qu,ote" $i""")
      java.nio.file.Files.write(out,
        lines.mkString("\n").getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
      graft.sources.SourcesSinks.readTextRecords(s, out.toString, "ISO-8859-1")
        .orderBy("content")
    }),
    // ---- bin sink single-mode round-trip: bin-<name>.json filenames +
    //      mime metadata (DataBinningProcessor.java:272-291), written and
    //      read back through the JSON record sink
    "bin_sink_roundtrip" -> ((s, dir) => {
      val bins = Binning.binAndCount(events(s, dir), Seq(LiteralBinner("type", "event_type")))
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_bin_sink").toString
      graft.sources.SourcesSinks.writeBinRecords(bins, out)
      s.read.schema(StructType(Seq(
          StructField("name", StringType), StructField("count", LongType),
          StructField("filename", StringType), StructField("mime_type", StringType))))
        .json(out)
        .orderBy("name")
    }),
    // ---- tabular CSV sink → declared-schema source roundtrip: the
    //      crawl-manifest interchange path; the label column embeds
    //      delimiter and quote characters so RFC 4180 quoting is what
    //      the gate actually exercises
    "csv_roundtrip" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"),
          concat(col("source"), lit(",\"tricky\" value")).as("label"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val out = java.nio.file.Files
        .createTempDirectory("graft-csv-gate").toString
      graft.sources.SourcesSinks.writeCsvRecords(d, out)
      graft.sources.SourcesSinks.readCsvRecords(s, out, StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("label", StringType), StructField("n_tokens", LongType))))
        .orderBy("doc_id")
    }),
    // ---- ORC sink → source roundtrip: the second columnar
    //      interchange format Spark ships natively (an exchange path
    //      for engines that can't take parquet); the oracle recomputes
    //      the written columns straight from the parquet source, so
    //      the roundtrip must be value-exact
    "orc_roundtrip" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val out = java.nio.file.Files
        .createTempDirectory("graft-orc-gate").toString
      d.write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("doc_id")
    }),
    // ---- single-doc JSON record read (Document.parse analogue,
    //      PartialUpdateMongo.java:241): jsonl fixture → typed columns
    "json_records_read" -> ((s, dir) => {
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_jsonl_read.jsonl")
      val lines = (0 until 300).map(i => s"""{"i":$i,"name":"n-$i","score":$i.5}""")
      java.nio.file.Files.write(out,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.sources.SourcesSinks.readJsonRecords(s, out.toString, StructType(Seq(
          StructField("i", LongType),
          StructField("name", StringType),
          StructField("score", DoubleType))))
        .orderBy("i")
    }),
    // ---- select-all fallback: an EMPTY typed projection passes the whole
    //      attribute map through (BetterAttributesToJSON.java:221-223);
    //      serialized via to_json so both engines hash a plain string
    "typed_projection_selectall" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val withAttrs = c.select(
        col("c_custkey"),
        map(lit("name"), col("c_name"),
          lit("key"), col("c_custkey").cast(StringType)).as("attributes"))
      TypedAttrs.project(withAttrs, "attributes", TypedProjection(),
          passthrough = Seq("c_custkey"))
        .select(col("c_custkey"), to_json(col("attributes")).as("attrs_json"),
          col(Route.RouteCol), col(Route.ErrorCol))
        .orderBy("c_custkey")
    }),
    // ---- typed projection (BetterAttributesToJSON, SURVEY §2 rows 6-10)
    "typed_projection" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val withAttrs = c.select(
        col("c_custkey"),
        map(
          lit("name"), col("c_name"),
          lit("key"), col("c_custkey").cast(StringType),
          lit("bal"), col("c_acctbal").cast(StringType),
          lit("active"), when(col("c_custkey") % 2 === 0, "true").otherwise("no")
        ).as("attributes")
      )
      TypedAttrs.project(
        withAttrs,
        "attributes",
        TypedProjection(
          strings = Seq("name", "nickname"),
          booleans = Seq("active"),
          ints = Seq("key"),
          doubles = Seq("bal")
        ),
        passthrough = Seq("c_custkey")
      ).orderBy("c_custkey")
    }),
    // ---- epoch-millis → ISO-8601 $date string (BetterAttributesToJSON.java:271-293)
    "epoch_iso" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.select(
        col("event_id"),
        unix_millis(col("ts")).as("epoch_ms"),
        TypedAttrs.isoMillis(
          TypedAttrs.epochMillisAttr(unix_millis(col("ts")).cast(StringType))
        ).as("iso")
      ).orderBy("event_id")
    }),
    // ---- array-sum folds (BetterAttributesToJSON.java:295-335).
    //      BENCH NOTE: most of this gate's wall time is the FIXTURE — the
    //      per-row concat() building the JSON array strings the operator
    //      then parses (decimal→string casts dominate; measured by timing
    //      the fixture select alone). The operator itself (native
    //      JsonNumArraySum) is ~3× faster than the from_json form per its
    //      introducing commit; the fixture is kept inline because the
    //      driver tables carry no pre-built JSON attribute column.
    "attr_array_sums" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val withAttrs = li.select(
        col("l_orderkey"),
        col("l_linenumber"),
        map(
          lit("readings"),
          concat(lit("["), col("l_quantity").cast(StringType), lit(","),
            col("l_tax").cast(StringType), lit("]")),
          lit("hits"),
          concat(lit("["), col("l_linenumber").cast(StringType), lit(",2]"))
        ).as("attributes")
      )
      withAttrs.select(
        col("l_orderkey"),
        col("l_linenumber"),
        TypedAttrs.doubleArraySum(element_at(col("attributes"), "readings")).as("rsum"),
        TypedAttrs.intArraySum(element_at(col("attributes"), "hits")).as("hsum")
      ).orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- binning: literal (DataBinningProcessor.java:165-169 + count agg)
    "bin_literal" -> ((s, dir) => {
      Binning.binAndCount(events(s, dir), Seq(LiteralBinner("type", "event_type")))
        .orderBy("name")
    }),
    // ---- binning: date hierarchy (DataBinningProcessor.java:151-164)
    "bin_date" -> ((s, dir) => {
      Binning.binAndCount(events(s, dir), Seq(DateBinner("time", "ts", DateGranularity.DAY)))
        .orderBy("name")
    }),
    // ---- binning: full date hierarchy down to MIN (granularity default
    //      for invalid configs, DataBinningProcessor.java:154-159)
    "bin_date_min" -> ((s, dir) => {
      Binning.binAndCount(events(s, dir), Seq(DateBinner("t", "ts", DateGranularity.MIN)))
        .orderBy("name")
    }),
    // ---- binning: numeric hierarchy (DataBinningProcessor.java:170-178)
    "bin_numeric" -> ((s, dir) => {
      Binning.binAndCount(events(s, dir), Seq(NumericBinner("val", "value", 2)))
        .orderBy("name")
    }),
    // ---- binning: geo tiles (DataBinningProcessor.java:179-197)
    "bin_geotile" -> ((s, dir) => {
      Binning.binAndCount(withGeo(events(s, dir)), Seq(GeoTileBinner("geo", "lat", "lon", 3)))
        .orderBy("name")
    }),
    // ---- binning: merged cross-product (DataBinningProcessor.java:198-214)
    "bin_merged" -> ((s, dir) => {
      Binning.binAndCount(
        events(s, dir),
        Seq(
          DateBinner("time", "ts", DateGranularity.DAY),
          LiteralBinner("type", "event_type"),
          MergedBinner("daytype", Seq("time", "type"))
        )
      ).orderBy("name")
    }),
    // ---- security marking parse (ConvertSecurityMarkingAndAttrListIntoJson.java:179-280)
    "security_classification" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val marked = c.select(
        col("c_custkey"),
        when(col("c_custkey") % 4 === 0, "A_CMPA_XX")
          .when(col("c_custkey") % 4 === 1, "BRAVO_CMPB")
          .when(col("c_custkey") % 4 === 2, "C_DCA_YY")
          .otherwise("JUNKX").as("marking")
      )
      val cls = SecurityMarking.classification(col("marking"), securityCfg)
      marked.select(
        col("c_custkey"),
        col("marking"),
        array_join(cls.getField("levels"), ",").as("levels"),
        array_join(cls.getField("compartments"), ",").as("compartments"),
        array_join(cls.getField("releasabilities"), ",").as("releasabilities"),
        array_join(cls.getField("disseminationControls"), ",").as("dissem")
      ).orderBy("c_custkey")
    }),
    // ---- merge: collapse batch per key ($set last-wins / $inc / $addToSet $each)
    //      (PartialUpdateMongo.java:301-425)
    "merge_collapse" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_returnflag").as("status"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
        col("l_linestatus").as("tag")
      )
      val spec = MergeSpec(
        keyFields = Seq("l_orderkey"),
        fields = Seq(
          MergeFieldSpec("status", MergeOp.Set),
          MergeFieldSpec("qty", MergeOp.Inc),
          MergeFieldSpec("tag", MergeOp.AddToSet)
        )
      )
      Merge.collapseIncoming(li, spec, "l_linenumber")
        .select(
          col("l_orderkey"),
          col("status"),
          col("qty").cast(DoubleType).as("qty"),
          array_join(array_sort(col("tag")), ",").as("tags")
        )
        .orderBy("l_orderkey")
    }),
    // ---- merge: full upsert into state (bulk unordered upsert,
    //      PartialUpdateMongo.java:431-453)
    "merge_upsert" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        lit(0).cast(DecimalType(18, 2)).as("qty")
      )
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_returnflag").as("o_orderstatus"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
        col("l_linenumber").as("seq")
      )
      val spec = MergeSpec(
        keyFields = Seq("o_orderkey"),
        fields = Seq(
          MergeFieldSpec("o_orderstatus", MergeOp.Set),
          MergeFieldSpec("qty", MergeOp.Inc)
        )
      )
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(
          col("o_orderkey"),
          col("o_orderstatus"),
          col("qty").cast(DoubleType).as("qty")
        )
        .orderBy("o_orderkey")
    }),
    // ---- merge: modified-count routing (PartialUpdateMongo.java:253-275)
    "merge_routes" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_returnflag").as("o_orderstatus"),
        col("l_linenumber").as("seq")
      )
      val spec = MergeSpec(
        keyFields = Seq("o_orderkey"),
        fields = Seq(MergeFieldSpec("o_orderstatus", MergeOp.Set))
      )
      Merge.upsertBatch(state, incoming, spec, "seq").routes
        .orderBy("o_orderkey")
    }),
    // ---- driver-hash type probes (round-9 verdict #1): the round-8
    //      3-in-1 probe proved the driver's hashing diverges on SOME of
    //      {DECIMAL, DOUBLE, BIGINT} output columns but could not name
    //      WHICH — split into one single-value-column probe per type so
    //      a driver red names its column. Same literal rows on both
    //      engines. The _dec probe ran RED for rounds 10-16 (rows and
    //      schema green, hash red — the driver hashes raw DECIMAL
    //      columns divergently); round-16 verdict #1 adjudicated the
    //      divergence as permanent driver behavior and asked the probe
    //      closed, so the compared surface is now the CANONICAL
    //      pinned-scale rendering: both engines cast the identical
    //      DECIMAL(38,6) literal to its scale-6 string ('1.250000',
    //      '-0.333333', '100.000001' — verified byte-identical between
    //      Spark's Decimal.toString and DuckDB's VARCHAR cast). The
    //      decimal arithmetic stays on both sides; only the
    //      hash-compared type changed. History: `git show
    //      c2f17e0:README.md`, "driver DECIMAL hashing".
    "decimal_probe_dec" -> ((s, dir) =>
      s.sql(
        """SELECT i, CAST(dec_val AS STRING) AS dec_val FROM VALUES
          | (0L, CAST('1.250000'   AS DECIMAL(38,6))),
          | (1L, CAST('-0.333333'  AS DECIMAL(38,6))),
          | (2L, CAST('100.000001' AS DECIMAL(38,6)))
          | AS t(i, dec_val)
          |ORDER BY i""".stripMargin)),
    "decimal_probe_int" -> ((s, dir) =>
      s.sql(
        """SELECT i, int_e6 FROM VALUES
          | (0L, 1250000L), (1L, -333333L), (2L, 100000001L)
          | AS t(i, int_e6)
          |ORDER BY i""".stripMargin)),
    "decimal_probe_dbl" -> ((s, dir) =>
      s.sql(
        """SELECT i, dbl_val FROM VALUES
          | (0L, CAST(1.25 AS DOUBLE)),
          | (1L, CAST(-0.333333 AS DOUBLE)),
          | (2L, CAST(100.000001 AS DOUBLE))
          | AS t(i, dbl_val)
          |ORDER BY i""".stripMargin)),
    // ---- driver-hash HUGEINT probe (round-10): the round-9 reds
    //      (domain_token_quota / token_quota_stream) emitted an uncast
    //      DuckDB window `sum(...)` — HUGEINT (int128) — in the oracle
    //      while the Spark side emitted BIGINT; the green sibling
    //      unimax_quota_stream CAST the identical sum to BIGINT. The
    //      probe ran RED by design for rounds 10-16, pinning that the
    //      driver's hasher serializes HUGEINT differently from int64;
    //      round-16 verdict #1 adjudicated the class and asked the
    //      probe closed, so the oracle side now applies the SAME
    //      canonicalization every production gate uses (explicit
    //      CAST(sum(...) AS BIGINT)). The Spark side is unchanged.
    //      History: `git show c2f17e0:README.md`, "driver HUGEINT
    //      hashing".
    "hugeint_probe" -> ((s, dir) =>
      s.sql(
        """SELECT g, sum(v) AS sum_v FROM VALUES
          | (0L, 10L), (0L, 32L), (1L, 7L), (1L, 600L), (2L, 1L)
          | AS t(g, v)
          |GROUP BY g ORDER BY g""".stripMargin)),
    // ---- partitioned sink roundtrip: Hive-style partition layout is the
    //      at-scale routing sink (one directory per route/stratum, later
    //      reads prune partitions — pruning plan-spec'd in PlanShapeSpec)
    "partitioned_sink_roundtrip" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val out = java.nio.file.Files.createTempDirectory("graft-partsink").toString
      d.write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    }),
    // ---- JSON-path extraction over the event props column: codegen'd
    //      get_json_object + grouped integer aggregates
    "props_extract_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"),
          max(col("k")).as("k_max"))
        .orderBy("event_type")
    }),
    // ---- binning: multiple-output mode — one row per record with its
    //      bounded bin array (DataBinningProcessor.java:292-306)
    "bins_per_record" -> ((s, dir) => {
      val ev = events(s, dir)
      Binning.binsPerRecord(ev, Seq(
        DateBinner("time", "ts", DateGranularity.DAY),
        LiteralBinner("type", "event_type")), "event_id")
        .select(
          col("event_id"),
          array_join(transform(col("bins"), b => b.getField("name")), "|").as("bin_names"),
          size(col("bins")).cast(LongType).as("n_bins"))
        .orderBy("event_id")
    }),
    // ---- merge: nested parent.child $set (PartialUpdateMongo.java:537-589)
    "merge_nested" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"),
        struct(col("o_orderstatus").as("status"), col("o_totalprice").as("total")).as("info"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_returnflag").as("info.status"),
        col("l_linenumber").as("seq"))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(MergeFieldSpec("info.status", MergeOp.Set)))
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(
          col("o_orderkey"),
          col("info.status").as("status"),
          col("info.total").as("total"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: $addToSet $each scalar-array union
    //      (PartialUpdateMongo.java:331-340,399-409)
    "merge_addtoset_each" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"), array(col("o_orderstatus")).as("codes"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        array(col("l_returnflag"), col("l_linestatus")).as("codes"),
        col("l_linenumber").as("seq"))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(MergeFieldSpec("codes", MergeOp.AddToSet)))
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(col("o_orderkey"), array_join(array_sort(col("codes")), ",").as("codes"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: $addToSet $each object-array union with
    //      fixTimestampsInside on *time* long keys
    //      (PartialUpdateMongo.java:319-330,386-398,646-672)
    "merge_addtoset_structs" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"),
        array(struct(col("o_orderstatus").as("tag"),
          timestamp_millis(col("o_orderkey") * 1000).as("etime"))).as("evts"))
      val raw = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        array(struct(col("l_returnflag").as("tag"),
          (col("l_linenumber") * 1000L).cast(LongType).as("etime"))).as("evts"),
        col("l_linenumber").as("seq"))
      // fixTimestampsInside: keys matched by the *time* heuristic get their
      // epoch-millis longs normalized to timestamps before the set-union
      val elemType = raw.schema("evts").dataType
        .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      val incoming = raw.withColumn("evts",
        Merge.normalizeTimestamps(col("evts"), Merge.timeLikeKeys(elemType)))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(MergeFieldSpec("evts", MergeOp.AddToSet)))
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(col("o_orderkey"),
          array_join(array_sort(transform(col("evts"), x =>
            concat_ws("@", x.getField("tag"),
              unix_millis(x.getField("etime")).cast(StringType)))), ",").as("evts"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: $addToSet parent.child array via withField
    //      (PartialUpdateMongo.java:604-636,710-734)
    "merge_addtoset_nested" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"),
        struct(array(col("o_orderstatus")).as("tags"),
          col("o_totalprice").as("total")).as("info"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        array(col("l_returnflag"), col("l_linestatus")).as("info.tags"),
        col("l_linenumber").as("seq"))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(MergeFieldSpec("info.tags", MergeOp.AddToSet)))
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(col("o_orderkey"),
          array_join(array_sort(col("info.tags")), ",").as("tags"),
          col("info.total").as("total"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: '*' whole-doc mode — the op applies to every non-key
    //      incoming column (PartialUpdateMongo.java:304-305)
    "merge_star" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_returnflag").as("o_orderstatus"),
        col("l_partkey").as("ref"),
        col("l_linenumber").as("seq"))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(MergeFieldSpec("*", MergeOp.Set)))
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(col("o_orderkey"), col("o_orderstatus"), col("ref"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: $currentDate through the time seam — matched/inserted
    //      keys get "now" (a literal here, so the op is deterministic and
    //      oracle-able), untouched state keeps its timestamp
    //      (PartialUpdateMongo.java:313-314,378-381)
    "merge_currentdate" -> ((s, dir) => {
      val state = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        timestamp_millis(lit(0L)).as("touched"))
      val incoming = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_returnflag").as("o_orderstatus"),
        col("l_linenumber").as("seq"))
      val spec = MergeSpec(Seq("o_orderkey"), Seq(
        MergeFieldSpec("o_orderstatus", MergeOp.Set),
        MergeFieldSpec("touched", MergeOp.CurrentDate)))
      Merge.upsertBatch(state, incoming, spec, "seq",
          now = lit("2026-01-02 03:04:05").cast(TimestampType)).state
        .select(col("o_orderkey"), col("o_orderstatus"),
          unix_millis(col("touched")).as("touched_ms"))
        .orderBy("o_orderkey")
    }),
    // ---- merge: single-update mode — one state row per key is updated,
    //      deterministically the lexicographic minimum over orderable
    //      columns; content-identical copies of that row update together
    //      (bag semantics — see Merge.markEligible)
    //      (updateOne vs updateMany, PartialUpdateMongo.java:456-487)
    "merge_single" -> ((s, dir) => {
      val state = t(s, dir, "lineitem").select(
        col("l_orderkey").as("k"),
        col("l_linenumber").cast(LongType).as("line"),
        col("l_returnflag").as("status"))
      val incoming = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        .withColumn("seq", lit(0))
      val spec = MergeSpec(Seq("k"), Seq(MergeFieldSpec("status", MergeOp.Set)),
        updateMany = false)
      Merge.upsertBatch(state, incoming, spec, "seq").state
        .select(col("k"), col("line"), col("status"))
        .orderBy("k", "line", "status")
    }),
  )

  def oracles: Map[String, String] = Map(
    "json_bulk_explode" ->
      """SELECT l_orderkey, l_linenumber AS seq, CAST(0 AS INTEGER) AS _doc_idx,
        | l_linenumber AS ln, l_returnflag AS f FROM lineitem WHERE l_orderkey % 5 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, CAST(1 AS INTEGER),
        | l_linenumber + 100, l_linestatus FROM lineitem WHERE l_orderkey % 5 = 0
        |ORDER BY l_orderkey, seq, _doc_idx""".stripMargin,
    "text_scan_charset" ->
      """SELECT 'reg é "qu,ote" ' || CAST(range AS VARCHAR) AS content
        |FROM range(200) ORDER BY content""".stripMargin,
    "bin_sink_roundtrip" ->
      """SELECT 'type.' || event_type AS name, CAST(COUNT(*) AS BIGINT) AS count,
        | 'bin-type.' || event_type || '.json' AS filename,
        | 'application/json' AS mime_type
        |FROM events GROUP BY event_type ORDER BY name""".stripMargin,
    "json_records_read" ->
      """SELECT range AS i, 'n-' || CAST(range AS VARCHAR) AS name,
        | range + 0.5 AS score
        |FROM range(300) ORDER BY i""".stripMargin,
    "typed_projection_selectall" ->
      """SELECT c_custkey,
        | '{"name":"' || c_name || '","key":"' || CAST(c_custkey AS VARCHAR) || '"}' AS attrs_json,
        | 'success' AS _route,
        | CAST(NULL AS VARCHAR) AS _error
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "typed_projection" ->
      """SELECT c_custkey,
        | c_name AS name,
        | '' AS nickname,
        | (c_custkey % 2 = 0) AS active,
        | CAST(c_custkey AS INTEGER) AS key,
        | c_acctbal AS bal,
        | 'success' AS _route,
        | CAST(NULL AS VARCHAR) AS _error
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "epoch_iso" ->
      """SELECT event_id,
        | epoch_ms(ts) AS epoch_ms,
        | strftime(make_timestamp(epoch_ms(ts) * 1000), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "attr_array_sums" ->
      """SELECT l_orderkey, l_linenumber,
        | l_quantity + l_tax AS rsum,
        | CAST(l_linenumber + 2 AS BIGINT) AS hsum
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "bin_literal" ->
      """SELECT 'type.' || event_type AS name, CAST(COUNT(*) AS BIGINT) AS count
        |FROM events GROUP BY 1 ORDER BY name""".stripMargin,
    "bin_date" ->
      """SELECT name, CAST(COUNT(*) AS BIGINT) AS count FROM (
        | SELECT 'time.' || strftime(ts, '%Y') AS name FROM events
        | UNION ALL SELECT 'time.' || strftime(ts, '%Y-%m') FROM events
        | UNION ALL SELECT 'time.' || strftime(ts, '%Y-%m-%d') FROM events
        |) GROUP BY name ORDER BY name""".stripMargin,
    "bin_date_min" ->
      """SELECT name, CAST(COUNT(*) AS BIGINT) AS count FROM (
        | SELECT 't.' || strftime(ts, '%Y') AS name FROM events
        | UNION ALL SELECT 't.' || strftime(ts, '%Y-%m') FROM events
        | UNION ALL SELECT 't.' || strftime(ts, '%Y-%m-%d') FROM events
        | UNION ALL SELECT 't.' || strftime(ts, '%Y-%m-%d-%H') FROM events
        | UNION ALL SELECT 't.' || strftime(ts, '%Y-%m-%d-%H-%M') FROM events
        |) GROUP BY name ORDER BY name""".stripMargin,
    "bin_numeric" ->
      """SELECT name, CAST(COUNT(*) AS BIGINT) AS count FROM (
        | SELECT 'val.L0.' || CAST(CAST(FLOOR(value / 1) AS BIGINT) * 1 AS VARCHAR) AS name FROM events
        | UNION ALL SELECT 'val.L1.' || CAST(CAST(FLOOR(value / 10) AS BIGINT) * 10 AS VARCHAR) FROM events
        | UNION ALL SELECT 'val.L2.' || CAST(CAST(FLOOR(value / 100) AS BIGINT) * 100 AS VARCHAR) FROM events
        |) GROUP BY name ORDER BY name""".stripMargin,
    "bin_geotile" -> {
      val arms = (0 to 3).map { z =>
        s"SELECT 'geo.' || ${tileSql(z)} AS name FROM events"
      }.mkString("\n UNION ALL ")
      s"""SELECT name, CAST(COUNT(*) AS BIGINT) AS count FROM (
         | $arms
         |) GROUP BY name ORDER BY name""".stripMargin
    },
    "bin_merged" ->
      """SELECT name, CAST(COUNT(*) AS BIGINT) AS count FROM (
        | SELECT 'time.' || strftime(ts, '%Y') AS name FROM events
        | UNION ALL SELECT 'time.' || strftime(ts, '%Y-%m') FROM events
        | UNION ALL SELECT 'time.' || strftime(ts, '%Y-%m-%d') FROM events
        | UNION ALL SELECT 'type.' || event_type FROM events
        | UNION ALL SELECT 'daytype.time.' || strftime(ts, '%Y') || '|type.' || event_type FROM events
        | UNION ALL SELECT 'daytype.time.' || strftime(ts, '%Y-%m') || '|type.' || event_type FROM events
        | UNION ALL SELECT 'daytype.time.' || strftime(ts, '%Y-%m-%d') || '|type.' || event_type FROM events
        |) GROUP BY name ORDER BY name""".stripMargin,
    "security_classification" ->
      """SELECT c_custkey,
        | CASE c_custkey % 4 WHEN 0 THEN 'A_CMPA_XX' WHEN 1 THEN 'BRAVO_CMPB'
        |                    WHEN 2 THEN 'C_DCA_YY' ELSE 'JUNKX' END AS marking,
        | CASE c_custkey % 4 WHEN 0 THEN 'ALPHA' WHEN 1 THEN 'BRAVO'
        |                    WHEN 2 THEN 'CHARLIE' ELSE '' END AS levels,
        | CASE c_custkey % 4 WHEN 0 THEN 'CMPA' ELSE '' END AS compartments,
        | CASE c_custkey % 4 WHEN 0 THEN 'XX' WHEN 2 THEN 'YY' ELSE '' END AS releasabilities,
        | CASE c_custkey % 4 WHEN 0 THEN 'DCB' WHEN 2 THEN 'DCA' ELSE '' END AS dissem
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "merge_collapse" ->
      """SELECT l_orderkey,
        | arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        | array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS tags
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "merge_upsert" ->
      """SELECT COALESCE(o.o_orderkey, i.o_orderkey) AS o_orderkey,
        | COALESCE(i.status, o.o_orderstatus) AS o_orderstatus,
        | CAST(COALESCE(i.qty, 0) AS DOUBLE) AS qty
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS o_orderkey,
        |        arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status,
        |        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "merge_routes" ->
      """SELECT i.o_orderkey AS o_orderkey,
        | CASE WHEN o.o_orderkey IS NULL THEN 'success'
        |      WHEN i.status IS DISTINCT FROM o.o_orderstatus THEN 'success'
        |      ELSE 'success-unmodified' END AS _route
        |FROM (
        | SELECT l_orderkey AS o_orderkey, arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status
        | FROM lineitem GROUP BY 1
        |) i
        |LEFT JOIN orders o ON i.o_orderkey = o.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    // the driver-hash type probes: identical literal rows on both
    // sides, one value column per probe so a driver red names its type.
    // _dec canonicalized round 17 (r16 verdict #1): the compared column
    // is the pinned scale-6 STRING rendering of the DECIMAL(38,6)
    // literal on BOTH engines (raw DECIMAL columns hash divergently at
    // the driver — adjudicated permanent, rounds 10-16)
    "decimal_probe_dec" ->
      """SELECT CAST(i AS BIGINT) AS i,
        | CAST(CAST(dec_val AS DECIMAL(38,6)) AS VARCHAR) AS dec_val
        |FROM (VALUES
        | (0, CAST('1.250000'   AS DECIMAL(38,6))),
        | (1, CAST('-0.333333'  AS DECIMAL(38,6))),
        | (2, CAST('100.000001' AS DECIMAL(38,6)))
        |) AS v(i, dec_val)
        |ORDER BY i""".stripMargin,
    "decimal_probe_int" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(int_e6 AS BIGINT) AS int_e6
        |FROM (VALUES (0, 1250000), (1, -333333), (2, 100000001)
        |) AS v(i, int_e6)
        |ORDER BY i""".stripMargin,
    "decimal_probe_dbl" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(dbl_val AS DOUBLE) AS dbl_val
        |FROM (VALUES
        | (0, CAST(1.25 AS DOUBLE)),
        | (1, CAST(-0.333333 AS DOUBLE)),
        | (2, CAST(100.000001 AS DOUBLE))
        |) AS v(i, dbl_val)
        |ORDER BY i""".stripMargin,
    // the driver-hash HUGEINT probe, canonicalized round 17 (r16
    // verdict #1): the uncast DuckDB sum() (HUGEINT) hashed divergently
    // at the driver for rounds 10-16 — adjudicated permanent; the sum
    // now carries the same explicit BIGINT cast every production
    // oracle uses (the authoring rule this probe used to enforce)
    "hugeint_probe" ->
      """SELECT CAST(g AS BIGINT) AS g, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM (VALUES (0, 10), (0, 32), (1, 7), (1, 600), (2, 1)
        |) AS v(g, v)
        |GROUP BY g ORDER BY g""".stripMargin,
    "partitioned_sink_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // json_extract mirrors get_json_object on plain integer fields;
    // integer sums are exact in both engines
    "props_extract_agg" ->
      """WITH e AS (
        | SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
        |)
        |SELECT event_type, CAST(count(k) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS k_sum, CAST(max(k) AS BIGINT) AS k_max
        |FROM e GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "bins_per_record" ->
      """SELECT event_id,
        | 'time.' || strftime(ts, '%Y') || '|time.' || strftime(ts, '%Y-%m')
        |   || '|time.' || strftime(ts, '%Y-%m-%d') || '|type.' || event_type AS bin_names,
        | CAST(4 AS BIGINT) AS n_bins
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "merge_nested" ->
      """SELECT COALESCE(o.o_orderkey, i.k) AS o_orderkey,
        | COALESCE(i.status, o.o_orderstatus) AS status,
        | o.o_totalprice AS total
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS k,
        |        arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    "merge_addtoset_each" ->
      """SELECT COALESCE(o.o_orderkey, i.k) AS o_orderkey,
        | array_to_string(list_sort(list_distinct(list_concat(
        |   CASE WHEN o.o_orderkey IS NOT NULL THEN [o.o_orderstatus] ELSE [] END,
        |   CASE WHEN i.k IS NOT NULL THEN i.vals ELSE [] END))), ',') AS codes
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS k,
        |        list_distinct(flatten(list([l_returnflag, l_linestatus]))) AS vals
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    "merge_addtoset_structs" ->
      """SELECT COALESCE(o.o_orderkey, i.k) AS o_orderkey,
        | array_to_string(list_sort(list_distinct(list_concat(
        |   CASE WHEN o.o_orderkey IS NOT NULL
        |        THEN [o.o_orderstatus || '@' || CAST(o.o_orderkey * 1000 AS VARCHAR)] ELSE [] END,
        |   CASE WHEN i.k IS NOT NULL THEN i.vals ELSE [] END))), ',') AS evts
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS k,
        |        list_distinct(list(l_returnflag || '@' || CAST(l_linenumber * 1000 AS VARCHAR))) AS vals
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    "merge_addtoset_nested" ->
      """SELECT COALESCE(o.o_orderkey, i.k) AS o_orderkey,
        | array_to_string(list_sort(list_distinct(list_concat(
        |   CASE WHEN o.o_orderkey IS NOT NULL THEN [o.o_orderstatus] ELSE [] END,
        |   CASE WHEN i.k IS NOT NULL THEN i.vals ELSE [] END))), ',') AS tags,
        | o.o_totalprice AS total
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS k,
        |        list_distinct(flatten(list([l_returnflag, l_linestatus]))) AS vals
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    "merge_star" ->
      """SELECT COALESCE(o.o_orderkey, i.k) AS o_orderkey,
        | COALESCE(i.status, o.o_orderstatus) AS o_orderstatus,
        | i.ref AS ref
        |FROM orders o
        |FULL OUTER JOIN (
        | SELECT l_orderkey AS k,
        |        arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status,
        |        arg_max(l_partkey, printf('%012d|%020d', l_linenumber, l_partkey)) AS ref
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    "merge_currentdate" ->
      """SELECT o.o_orderkey AS o_orderkey,
        | COALESCE(i.status, o.o_orderstatus) AS o_orderstatus,
        | CASE WHEN i.k IS NOT NULL
        |      THEN epoch_ms(TIMESTAMP '2026-01-02 03:04:05') ELSE 0 END AS touched_ms
        |FROM orders o
        |LEFT JOIN (
        | SELECT l_orderkey AS k,
        |        arg_max(l_returnflag, printf('%012d|%s', l_linenumber, l_returnflag)) AS status
        | FROM lineitem GROUP BY 1
        |) i ON o.o_orderkey = i.k
        |ORDER BY o_orderkey""".stripMargin,
    // eligibility = the lexicographic-minimum state row per key; rows
    // FULLY identical to that minimum update together (a DataFrame is a
    // bag — content-identical copies carry no identity to split a tie on,
    // unlike Mongo documents with _id). tie key mirrors Spark's struct
    // ordering via zero-padded printf
    "merge_single" ->
      """WITH st AS (
        | SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT) AS line, l_returnflag AS status,
        |        printf('%020d|%s', l_linenumber, l_returnflag) AS tie,
        |        min(printf('%020d|%s', l_linenumber, l_returnflag))
        |          OVER (PARTITION BY l_orderkey) AS mintie
        | FROM lineitem
        |), i AS (
        | SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
        |)
        |SELECT s.k AS k, s.line AS line,
        | CASE WHEN s.tie = s.mintie THEN COALESCE(i.status, s.status) ELSE s.status END AS status
        |FROM st s LEFT JOIN i ON s.k = i.k
        |UNION ALL
        |SELECT i.k, CAST(NULL AS BIGINT) AS line, i.status
        |FROM i LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l ON i.k = l.l_orderkey
        |WHERE l.l_orderkey IS NULL
        |ORDER BY k, line, status""".stripMargin,
    // roundtrip identity straight from parquet (the csv_roundtrip
    // convention): ORC carries the values losslessly or the hash reds
    "orc_roundtrip" ->
      """SELECT doc_id, source, n_chars,
        | CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    // roundtrip identity: the oracle recomputes the written columns
    // straight from parquet
    "csv_roundtrip" ->
      """SELECT doc_id, source,
        | source || ',"tricky" value' AS label,
        | CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
  )
}
