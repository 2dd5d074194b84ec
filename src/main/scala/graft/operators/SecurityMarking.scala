package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.SecurityConfig

/**
 * Security-marking parser — Spark re-expression of the reference's
 * ConvertSecurityMarkingAndAttrListIntoJson (lines 179-280 for the four
 * extractors, 297-419 for assembly).
 *
 * All config is folded into literal expressions at plan time (the config
 * arrays are small, user-supplied constants), so every extractor is a
 * narrow codegen'd string expression — no UDFs, no shuffle.
 *
 * Fidelity (SURVEY §7.5):
 *  - level match: full-regex `(<abbrevs|levels>)[A-Za-z<delim>]+`, then map
 *    group(1) to the FIRST official level sharing its FIRST CHARACTER
 *    (:192-199). No match → level "" (still emitted as a 1-element list,
 *    :203-206).
 *  - compartments: marking contains `<delim><comp><delim>` (:237-241)
 *  - releasabilities: contains `<delim><rel>` — end-of-string means no
 *    trailing delimiter is required (:249-253)
 *  - dissemination: bare contains `<dissem>` (:264-268); if none matched
 *    and the marking bare-contains ANY releasability, inject
 *    `disseminationControls[1]` — the hardcoded second element (:268-277).
 *  - blank marking → hard error, not a failure route (:414-417; only
 *    IOException is caught at :452) → `raise_error` here.
 */
object SecurityMarking {

  /** Regex the reference builds at :209-231: alternation of abbreviations
    * then levels, suffixed `[A-Za-z<delim>]+`. Java `matches()` anchors the
    * whole string, so we anchor explicitly for `rlike`/`regexp_extract`.
    */
  def classificationRegex(cfg: SecurityConfig): String = {
    val alts = (cfg.abbreviatedLevelsCanReceive ++ cfg.levelsCanReceive)
      .map(java.util.regex.Pattern.quote)
      .mkString("|")
    s"^($alts)[A-Za-z${java.util.regex.Pattern.quote(cfg.delim)}]+$$"
  }

  /** 1-element list: [official level] or [""] (:179-207). */
  def levels(raw: Column, cfg: SecurityConfig): Column = {
    val extracted = regexp_extract(raw, classificationRegex(cfg), 1)
    // first official level whose first char == extracted's first char
    val official = cfg.levelsToConvertTo.foldRight(lit("")) { (lvl, els) =>
      when(substring(extracted, 1, 1) === lvl.substring(0, 1), lit(lvl))
        .otherwise(els)
    }
    array(when(extracted === "", lit("")).otherwise(official))
  }

  /** The names, in list order, for which `hit` holds: the config list
    * is a plan-time constant, so it unrolls into one codegen'd
    * `flatten(array(when(hit, [name]) …))` instead of a `filter` lambda,
    * which Spark evaluates interpreted on every row. Typed as the
    * `filter(lit(list), …)` it replaces: a non-null string list.
    */
  private def hits(names: Seq[String])(hit: String => Column): Column = {
    val none = typedLit(Array.empty[String])
    if (names.isEmpty) none
    else flatten(array(names.map(n => when(hit(n), array(lit(n))).otherwise(none)): _*))
      .cast(ArrayType(StringType, containsNull = true))
  }

  def compartments(raw: Column, cfg: SecurityConfig): Column =
    hits(cfg.compartments)(c => raw.contains(lit(cfg.delim + c + cfg.delim)))

  def releasabilities(raw: Column, cfg: SecurityConfig): Column =
    hits(cfg.releasabilities)(r => raw.contains(lit(cfg.delim + r)))

  def disseminationControls(raw: Column, cfg: SecurityConfig): Column = {
    val direct = hits(cfg.disseminationControls)(d => raw.contains(lit(d)))
    // fallback: bare contains of any releasability (no delimiter, :271)
    val anyRel = cfg.releasabilities
      .map(r => raw.contains(lit(r)))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val fallback =
      if (cfg.disseminationControls.length > 1)
        when(anyRel, array(lit(cfg.disseminationControls(1))))
          .otherwise(array().cast(ArrayType(StringType)))
      else array().cast(ArrayType(StringType)) // index guard, SURVEY §7.5 #6
    when(size(direct) > 0, direct).otherwise(fallback)
  }

  /** Full classification struct (Classification.java:18-24). Blank marking
    * raises (hard failure, :414-417).
    */
  def classification(raw: Column, cfg: SecurityConfig): Column = {
    val guarded = when(
      raw.isNull || trim(raw) === "",
      raise_error(lit("raw security marking was blank"))
    ).otherwise(raw)
    struct(
      levels(guarded, cfg).as("levels"),
      compartments(guarded, cfg).as("compartments"),
      releasabilities(guarded, cfg).as("releasabilities"),
      disseminationControls(guarded, cfg).as("disseminationControls")
    )
  }
}
