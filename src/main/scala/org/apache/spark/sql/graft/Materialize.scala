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
 * Materialization that tells the planner its size. A `localCheckpoint()`
 * frame is a `LogicalRDD` whose statistics are the optimizer's estimate
 * for the plan that produced it. Without column statistics that estimate
 * multiplies input sizes across a join and keeps the input size across
 * an aggregate or a filter, so it can be far above the rows actually
 * stored: later joins against the frame plan as sort-merge joins, and
 * only adaptive execution, after shuffling both sides, may switch one to
 * a broadcast. [[local]] checkpoints the frame
 * and replaces that estimate with the bytes its blocks actually occupy,
 * so Spark's own `spark.sql.autoBroadcastJoinThreshold` plans a small
 * intermediate as a broadcast join up front and a large one keeps its
 * sort-merge join. No new setting: the session's threshold decides.
 */
object Materialize {

  /** Eagerly local-checkpoint `df` (one job, the `localCheckpoint()`
    * contract: blocks live in executor storage, lineage is cut) and
    * return it with `sizeInBytes` = the stored block bytes, memory plus
    * disk, as the block manager master recorded them when the
    * checkpoint job stored the blocks (synchronously, so the size is
    * known once the job returns). The checkpoint's output partitioning
    * and constraints are kept. A checkpoint with no partitions at all —
    * adaptive execution proved the result empty — comes back as an
    * empty local relation, so the optimizer folds the joins, unions
    * and grouped aggregates over it at planning time and they run no
    * jobs.
    */
  def local(df: DataFrame): DataFrame = localWithRows(df)._1

  /** [[local]], plus the frame's row count. The checkpoint job counts
    * each partition's rows while it stores them (Spark's eager
    * `localCheckpoint()` runs the same per-partition count and drops
    * it), so the count costs no job of its own: a caller that needs a
    * size bound — [[graft.operators.Graph]]'s dictionary gate — reads it
    * here instead of running `count()` over the stored frame.
    */
  def localWithRows(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    // the body of `Dataset.localCheckpoint(eager = true)`, under the same
    // SQL execution, keeping the job's result; a plan with no partitions
    // runs no job
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
        r.copy()(session, Some(Statistics(sizeInBytes = BigInt(stored))),
          Some(r.constraints))
      }
    (classic.Dataset.ofRows(session, plan), rows)
  }
}
