package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt runs suites in one forked
  * JVM; a session per suite would dominate test time). It is the
  * [[GraftSession]] every main runs, at 4 cores and 4 shuffle partitions.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import org.apache.spark.sql.DataFrame

  /** Collect a DataFrame to a sorted Seq of row-value lists for stable
    * comparison.
    */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Run `body` with the given session confs set, then restore each key's
    * previous value, or unset it if it had none.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Shuffle Exchange nodes of a query's physical plan, unwrapping the
    * AQE root (AdaptiveSparkPlanExec reports no children to `collect`,
    * so a naive collect over executedPlan is VACUOUSLY empty; its
    * `inputPlan` predates EnsureRequirements and has no Exchanges yet —
    * `initialPlan` is the first plan that does).
    */
  def shuffleExchanges(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    root.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
  }
}
