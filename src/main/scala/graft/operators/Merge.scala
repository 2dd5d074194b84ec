package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._

/**
 * Keyed partial merge/upsert — the Spark re-expression of the reference's
 * PartialUpdateMongo (PartialUpdateMongo.java:282-496). Mongo was the
 * reference's state store; here state is any DataFrame (a Delta/parquet
 * table at scale) and a whole micro-batch of updates is applied as ONE
 * join — the batch analogue of the reference's unordered bulk write
 * (`ordered(false)`, PartialUpdateMongo.java:451).
 *
 * Op semantics (PartialUpdateMongo.java:301-425):
 *  - $set         last-write-wins field replace
 *  - $addToSet    set-insert (scalar) / set-union ($each arrays), i.e.
 *                 array_distinct(array_union(...)) — idempotent
 *  - $inc         arithmetic add
 *  - $currentDate server-now timestamp
 *
 * Scale notes: incoming updates are first COLLAPSED per key (partial
 * aggregation — $inc sums, $set keeps last, $addToSet unions), so the
 * state join sees at most one row per key regardless of update skew.
 * The join itself is a standard equi-join Catalyst can plan as broadcast
 * (small update batch — the common case) or shuffle with AQE skew
 * handling. No driver-side loops, no per-record round trips.
 */
object Merge {

  /** Reference a possibly-dotted FLAT column name literally (backticks):
    * the reference's update payload carries `parent.child` as a flat JSON
    * key (PartialUpdateMongo.java:537-543); only the STATE side is nested.
    */
  private def fcol(n: String): Column = col(s"`$n`")

  /** Collapse a batch of incoming updates to one row per key, respecting
    * per-op semantics. `orderCol` defines "last" for $set (the reference
    * applies updates in FlowFile arrival order; a batch needs an explicit
    * order column, e.g. a sequence number or event time).
    */
  /** Expand the reference's `propertyName = "*"` whole-doc mode
    * (PartialUpdateMongo.java:304-305): the operation applies to every
    * non-key incoming column.
    */
  private def expandStar(spec: MergeSpec, incoming: DataFrame): MergeSpec =
    if (!spec.fields.exists(_.propertyName == "*")) spec
    else {
      val starOps = spec.fields.filter(_.propertyName == "*").map(_.op)
      require(starOps.size == 1 && spec.fields.size == 1,
        "'*' whole-doc mode cannot be combined with per-field specs")
      val cols = incoming.columns.toSeq
        .filterNot(spec.keyFields.contains)
      spec.copy(fields = cols.map(MergeFieldSpec(_, starOps.head)))
    }

  def collapseIncoming(
      incoming: DataFrame,
      spec0: MergeSpec,
      orderCol: String
  ): DataFrame = {
    val spec = expandStar(spec0, incoming.drop(orderCol))
    val aggs = spec.fields.map { f =>
      val c = fcol(f.propertyName)
      f.op match {
        // tie-break on the value itself so "last" is deterministic even
        // when the order column has duplicates within a key
        case MergeOp.Set => max_by(c, struct(col(orderCol), c)).as(f.propertyName)
        case MergeOp.Inc => sum(c).as(f.propertyName)
        case MergeOp.AddToSet =>
          incoming.schema(f.propertyName).dataType match {
            case _: ArrayType => // $each: union all arrays
              array_distinct(flatten(collect_list(c))).as(f.propertyName)
            case _ => collect_set(c).as(f.propertyName)
          }
        case MergeOp.CurrentDate =>
          // value is produced at merge time; keep a placeholder
          first(lit(true)).as(f.propertyName)
      }
    }
    if (spec.keyFields.isEmpty) incoming.agg(aggs.head, aggs.tail: _*)
    else incoming.groupBy(spec.keyFields.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Normalize epoch-millis longs to timestamps inside array-of-struct
    * elements for the given keys — the reference's `fixTimestampsInside`
    * applies this to any struct key whose lowercased name contains "time"
    * (PartialUpdateMongo.java:646-672); we take the key list explicitly
    * (configurable key-pattern per SURVEY §7.5 #4) and cast safely.
    */
  def normalizeTimestamps(arr: Column, timeKeys: Seq[String]): Column =
    timeKeys.foldLeft(arr) { (a, k) =>
      transform(a, x => x.withField(k, timestamp_millis(x.getField(k).cast(LongType))))
    }

  /** Keys for the reference's lowercase-contains-"time" heuristic. */
  def timeLikeKeys(elementType: StructType): Seq[String] =
    elementType.fields.collect {
      case f if f.name.toLowerCase.contains("time") && f.dataType == LongType => f.name
    }.toSeq

  /** Result of a merge: the new state plus per-key routing info
    * (`_route` = success | success-unmodified per modified-count,
    * PartialUpdateMongo.java:253-275).
    */
  final case class MergeResult(state: DataFrame, routes: DataFrame)

  /** Single-mode eligibility: flag one state row per key (`_upd_eligible`)
    * as the update target. The reference's updateOne takes whatever Mongo
    * matches first; we pin a DETERMINISTIC row — the lexicographic
    * minimum over the ORDERABLE state columns (MAP-typed columns cannot
    * be sorted — RowOrdering.isOrderable — and are excluded; rows
    * identical on every orderable column are indistinguishable in any
    * total order and update together). Lexicographic, not a hash pick,
    * so external systems (and the DuckDB oracle) can reproduce the choice.
    *
    * Shape: an ARGMIN AGGREGATE + key join, not a window. The window form
    * shuffled the ENTIRE state payload and sorted every partition by all
    * columns per merge; the argmin partial-aggregates map-side, so the
    * exchange carries one (key, min-tie) row per key per partition and
    * the join side is metadata-sized. (Struct min buffers are not
    * hash-aggregable, so Spark plans SortAggregate — the residual cost is
    * a LOCAL sort of each partition's projected tie columns by group key,
    * the same shape as the collapse stage's max_by; no full-state payload
    * shuffle-and-sort remains.) PlanShapeSpec pins the no-Window shape
    * and the two-phase partial aggregation.
    */
  private[graft] def markEligible(state: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val orderable = state.schema.fields
      .filter(f => RowOrdering.isOrderable(f.dataType)).map(_.name).toSeq
    val tie = struct(orderable.map(col): _*)
    val mins = state.groupBy(keys.map(col): _*).agg(min(tie).as("_min_tie"))
    state.join(mins, keys, "left")
      .withColumn("_upd_eligible", tie <=> col("_min_tie"))
      .drop("_min_tie")
  }

  /** Apply one collapsed update batch to `state`. Full-outer join on the
    * key fields; upsert inserts unmatched incoming rows
    * (UpdateOneModel(upsert=true), PartialUpdateMongo.java:445-449).
    * `updateMany=false` restricts the update to one state row per key
    * (`updateOne`, PartialUpdateMongo.java:471) via a sort-free argmin
    * over the orderable state columns.
    */
  def merge(
      state: DataFrame,
      collapsed: DataFrame,
      spec0: MergeSpec,
      now: Column = current_timestamp()
  ): MergeResult = {
    val spec = expandStar(spec0, collapsed)
    require(spec.keyFields.nonEmpty, "merge requires key fields (empty = match-all; use crossJoin explicitly)")
    val keys = spec.keyFields
    val upd = spec.fields.map(_.propertyName)

    val st0 =
      if (spec.updateMany) state.withColumn("_upd_eligible", lit(true))
      else markEligible(state, keys)

    val inc = collapsed.select(
      keys.map(col) ++ upd.map(n => fcol(n).as(s"_in_$n")): _*
    ).withColumn("_in_present", lit(true))

    val joined = st0.join(inc, keys, "full_outer")

    val stateCols = state.columns.toSeq
    val eligible = coalesce(col("_upd_eligible"), lit(false))
    val matched = col("_in_present").isNotNull && eligible
    val inserted = col("_upd_eligible").isNull // no state row for this key

    // state-side value of a field: dotted names address a nested struct
    // child (the reference's exactly-2-segment parent.child,
    // PartialUpdateMongo.java:537-543); flat names a top-level column
    def stateValue(f: MergeFieldSpec): Column = f.segments match {
      case Array(parent, child) if stateCols.contains(parent) =>
        col(parent).getField(child)
      case Array(n) if stateCols.contains(n) => col(n)
      case _ => lit(null)
    }

    val fieldExprs: Map[String, Column] = spec.fields.map { f =>
      val n = f.propertyName
      val stV = stateValue(f)
      val inV = fcol(s"_in_$n")
      val merged = f.op match {
        case MergeOp.Set => when(inV.isNotNull, inV).otherwise(stV)
        case MergeOp.Inc =>
          coalesce(stV, lit(0L)) + coalesce(inV, lit(0L))
        case MergeOp.AddToSet =>
          // merge at the ELEMENT-NULLABLE array type: a stored array
          // re-read from parquet admits null elements and cannot cast to
          // an incoming `containsNull = false` type
          val arrType = collapsed.schema(n).dataType match {
            case at: ArrayType => at.copy(containsNull = true)
            case other => other
          }
          array_distinct(
            concat(
              coalesce(stV.cast(arrType), array().cast(arrType)),
              coalesce(inV, array().cast(arrType))
            )
          )
        // `now` is a seam (default = server now, the reference semantics,
        // PartialUpdateMongo.java:378-381): a literal makes the op
        // deterministic for replay/tests/oracles
        case MergeOp.CurrentDate => now
      }
      n -> when(matched || inserted, merged).otherwise(stV)
    }.toMap

    val flatNames = spec.fields.filter(_.segments.length == 1).map(_.propertyName)
    val byParent = spec.fields.filter(_.segments.length == 2).groupBy(_.segments(0))
    def freshStruct(children: Seq[MergeFieldSpec]): Column =
      struct(children.map(f => fieldExprs(f.propertyName).as(f.segments(1))): _*)
    // null-parent replacement matching the EXISTING parent's full shape:
    // merged children take their merged value, siblings null — must be
    // type-identical to the withField branch
    def freshStructLike(pt: StructType, children: Seq[MergeFieldSpec]): Column = {
      val existing = pt.fields.map { fld =>
        children.find(_.segments(1) == fld.name)
          .map(f => fieldExprs(f.propertyName))
          .getOrElse(lit(null).cast(fld.dataType))
          .as(fld.name)
      }
      val added = children.filterNot(f => pt.fieldNames.contains(f.segments(1)))
        .map(f => fieldExprs(f.propertyName).as(f.segments(1)))
      struct(existing.toIndexedSeq ++ added: _*)
    }

    val outCols = stateCols.map { n =>
      if (flatNames.contains(n)) fieldExprs(n).as(n)
      else byParent.get(n) match {
        case Some(children) =>
          // null parent (inserted row / null struct) cannot take withField
          val pt = state.schema(n).dataType.asInstanceOf[StructType]
          val updatedStruct = children.foldLeft(col(n)) { (st, f) =>
            st.withField(f.segments(1), fieldExprs(f.propertyName))
          }
          when(col(n).isNull, freshStructLike(pt, children))
            .otherwise(updatedStruct).as(n)
        case None => col(n).as(n)
      }
    } ++ flatNames.filterNot(stateCols.contains).map(n => fieldExprs(n).as(n)) ++
      byParent.keys.toSeq.filterNot(stateCols.contains).sorted
        .map(p => freshStruct(byParent(p)).as(p))

    // modified-count routing: matched + any field value actually changed
    val changed = spec.fields.map { f =>
      f.op match {
        case MergeOp.CurrentDate => lit(true)
        case _ => !(fieldExprs(f.propertyName) <=> stateValue(f))
      }
    }.reduceOption(_ || _).getOrElse(lit(false))

    val route =
      when(inserted || (matched && changed), Route.Success)
        .otherwise(when(matched, Route.SuccessUnmodified).otherwise(Route.Success))

    val routes = joined
      .filter(col("_in_present").isNotNull)
      .select(keys.map(col) :+ route.as(Route.RouteCol): _*)

    val newState = joined.select(outCols: _*)
    MergeResult(newState, routes)
  }

  /** Convenience: collapse + merge in one call. */
  def upsertBatch(
      state: DataFrame,
      incoming: DataFrame,
      spec: MergeSpec,
      orderCol: String,
      now: Column = current_timestamp()
  ): MergeResult = merge(state, collapseIncoming(incoming, spec, orderCol), spec, now)
}
