package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.util.Utils

/**
 * The one way graft materializes an intermediate: every checkpoint in
 * the library goes through [[local]] or [[localWithRows]]. Three rules,
 * each stated once here:
 *
 *  1. An already-materialized frame is returned as is. A frame is
 *     materialized when its optimized plan is a `LocalRelation`, or a
 *     `LogicalRDD` over a checkpointed RDD that carries its row count
 *     (every frame this object returns). The optimizer has removed a
 *     no-op projection by then, so `df.select(df.columns.map(col): _*)`
 *     of a materialized frame is materialized too. Callers therefore
 *     materialize what they read twice without asking whether their
 *     input already was.
 *  2. The row count comes from the checkpoint job. [[localWithRows]]
 *     counts each partition's rows while it stores them, so a caller
 *     that needs `count()` or `isEmpty` of the frame it just
 *     materialized reads the count here and runs no job.
 *  3. Only a frame with two or more consumers is materialized. A frame
 *     read once is computed once anyway; checkpointing it adds a job.
 *
 * A materialization also tells the planner its size. A bare
 * `localCheckpoint()` frame's statistics are the optimizer's estimate
 * for the plan that produced it. Without column statistics that
 * estimate multiplies input sizes across a join and keeps the input
 * size across an aggregate or a filter, so it can be far from the bytes
 * actually stored. Here `sizeInBytes` is the bytes the blocks occupy,
 * so Spark's own `spark.sql.autoBroadcastJoinThreshold` decides each
 * later join against the frame from its real size; no setting of its
 * own. An empty result comes back as an empty local relation, which the
 * optimizer folds out of the joins, unions and grouped aggregates over
 * it at planning time.
 */
object Materialize {

  /** [[localWithRows]] without the row count. */
  def local(df: DataFrame): DataFrame = localWithRows(df)._1

  /** Eagerly local-checkpoint `df` (one job; blocks live in executor
    * storage and the lineage is cut) and return it with its row count,
    * or return `df` itself with its known count when it is already
    * materialized. The checkpoint's output partitioning and constraints
    * are kept.
    */
  def localWithRows(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    qe.optimizedPlan match {
      case l: LocalRelation => return (df, l.data.size.toLong)
      case r: LogicalRDD if r.rdd.isCheckpointed && r.stats.rowCount.isDefined =>
        return (df, r.stats.rowCount.get.toLong)
      case _ =>
    }
    // the body of Dataset's eager local checkpoint, under the same SQL
    // execution, keeping the job's per-partition counts; a plan with no
    // partitions runs no job
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows =
        if (rdd.partitions.isEmpty) 0L
        else session.sparkContext
          .runJob(rdd, (it: Iterator[InternalRow]) => Utils.getIteratorSize(it)).sum
      (rdd, rows)
    }
    val r = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val plan =
      if (rdd.partitions.isEmpty) LocalRelation(r.output)
      else {
        val master = SparkEnv.get.blockManager.master
        val stored = rdd.partitions.iterator.map { p =>
          master.getBlockStatus(RDDBlockId(rdd.id, p.index), false)
            .valuesIterator.map(s => s.memSize + s.diskSize).sum
        }.sum
        r.copy()(session,
          Some(Statistics(sizeInBytes = BigInt(stored), rowCount = Some(BigInt(rows)))),
          Some(r.constraints))
      }
    (classic.Dataset.ofRows(session, plan), rows)
  }
}
