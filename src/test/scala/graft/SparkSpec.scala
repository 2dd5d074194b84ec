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

  /** `body`'s result and, in order, each job it ran as (the SQL
    * execution it belongs to, its call site). A job that belongs to a SQL
    * execution reports the execution's call site (`count at …`,
    * `isEmpty at …`, `local at …` or `localWithRows at …`): adaptive
    * execution runs a query's stages on pool threads whose own call
    * sites name no caller (their stage names read
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:…`).
    * Other jobs report their final stage's name. The jobs are selected
    * by a job tag, which, unlike a job group, leaves the call sites in
    * place.
    */
  def jobs[T](body: => T): (T, Seq[(Option[Long], String)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val tag = "graft-spec-jobs"
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(",").contains(tag)))
          started.add((prop("spark.sql.execution.id").map(_.toLong),
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      org.apache.spark.sql.graft.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq.map { case (id, stage) =>
        (id, id.flatMap(i => Option(executions.get(i))).getOrElse(stage)) })
    } finally sc.removeSparkListener(listener)
  }

  /** [[jobs]]' call sites only. */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val (out, js) = jobs(body)
    (out, js.map(_._2))
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
