package graft

import org.apache.spark.sql.functions._
import graft.model.SecurityConfig
import graft.operators.SecurityMarking

/** ConvertSecurityMarkingAndAttrListIntoJson semantics (SURVEY §7.5 #6-#8). */
class SecurityMarkingSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SecurityConfig(
    levelsToConvertTo = Seq("ALPHA", "BRAVO", "CHARLIE"),
    levelsCanReceive = Seq("ALPHA", "BRAVO", "CHARLIE"),
    abbreviatedLevelsCanReceive = Seq("A", "B", "C"),
    compartments = Seq("CMPA", "CMPB"),
    disseminationControls = Seq("DCA", "DCB"),
    releasabilities = Seq("XX", "YY"),
    delim = "_")

  private def parse(markings: String*) = {
    val cls = SecurityMarking.classification(col("m"), cfg)
    markings.toDF("m").select(
      cls.getField("levels").as("lv"),
      cls.getField("compartments").as("cp"),
      cls.getField("releasabilities").as("rl"),
      cls.getField("disseminationControls").as("dc")
    ).as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
  }

  test("level matched by FIRST CHARACTER of the extracted group") {
    val Array(abbrev, full, none) = parse("A_CMPA", "BRAVO_XX", "JUNKX")
    assert(abbrev._1 == Seq("ALPHA"))  // 'A' -> ALPHA
    assert(full._1 == Seq("BRAVO"))
    assert(none._1 == Seq(""))         // no match -> 1-element [""]
  }

  test("compartments require the delimiter on BOTH sides") {
    val Array(both, trailing) = parse("A_CMPA_XX", "A_CMPA")
    assert(both._2 == Seq("CMPA"))
    assert(trailing._2 == Seq.empty) // no trailing delim -> not matched
  }

  test("releasabilities require only the leading delimiter") {
    val Array(r) = parse("A_CMPA_XX")
    assert(r._3 == Seq("XX"))
  }

  test("dissemination fallback injects disseminationControls(1) when rels present") {
    val Array(direct, fallback, neither) = parse("A_DCA", "A_XX", "A_ZZZ")
    assert(direct._4 == Seq("DCA"))
    assert(fallback._4 == Seq("DCB")) // hardcoded SECOND element
    assert(neither._4 == Seq.empty)
  }

  test("dissem fallback guard: single-element config cannot index 1") {
    val cfg1 = cfg.copy(disseminationControls = Seq("DCA"))
    val out = Seq("A_XX").toDF("m")
      .select(SecurityMarking.disseminationControls(col("m"), cfg1).as("dc"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq.empty)
  }

  test("classification keeps the filter form's struct type and runs no higher-order function; list order is config order") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.types._
    // the type the `filter(lit(list), …)` form produced
    val list = ArrayType(StringType, containsNull = true)
    val expected = StructType(Seq(
      StructField("levels", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("compartments", list, nullable = false),
      StructField("releasabilities", list, nullable = false),
      StructField("disseminationControls", list, nullable = false)))
    for (c <- Seq(cfg, cfg.copy(compartments = Nil, releasabilities = Nil,
        disseminationControls = Nil))) {
      val df = Seq("A_CMPB_CMPA_YY_XX").toDF("m")
        .select(SecurityMarking.classification(col("m"), c).as("c"))
      assert(df.schema("c").dataType == expected && !df.schema("c").nullable, df.schema)
      val hof = df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case h: HigherOrderFunction => h })
      assert(hof.isEmpty, hof)
    }
    val Array(r) = parse("A_CMPB_CMPA_YY_XX_DCB_DCA")
    assert(r._2 == Seq("CMPA", "CMPB") && r._3 == Seq("XX", "YY") && r._4 == Seq("DCA", "DCB"))
  }

  test("blank marking is a HARD error, not a failure route") {
    val e = intercept[Exception] { parse("  ") }
    assert(e.getMessage.toLowerCase.contains("blank"))
  }
}
