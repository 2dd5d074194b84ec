package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.SparkInternals

/** Spark work done under one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var rowsWritten = 0L
  var planningMs = 0.0
  val jobCallSites = mutable.Map.empty[String, Long]
}

/** Attributes jobs, stages, tasks and query planning time to the job
  * group they ran under; every task also counts toward the session-wide
  * executor run time.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val execPlanningMs = mutable.Map.empty[Long, Double]
  private var runMsAll = 0L

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      val c = counters(g)
      c.jobs += 1
      // a job's call site is its final stage's name
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
      c.jobCallSites(site) = c.jobCallSites.getOrElse(site, 0L) + 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      counters(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMsAll += m.executorRunTime
      stageGroup.get(e.stageId).foreach { g =>
        val c = counters(g)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup(s.executionId) = g)
      case s: SparkListenerSQLExecutionEnd =>
        SparkInternals.planningMs(s).foreach(ms => execPlanningMs(s.executionId) = ms)
      case _ =>
    }
  }

  /** Executor run time of every task seen so far, in ms. */
  def executorRunMs: Long = synchronized(runMsAll)

  /** Counters of one group; call after the listener bus has drained. */
  def get(group: String): Counters = synchronized {
    val c = groups.getOrElse(group, new Counters)
    c.planningMs = execGroup.collect {
      case (id, g) if g == group => execPlanningMs.getOrElse(id, 0.0)
    }.sum
    c
  }
}

/** One traced call. `parent` is the op span (-1 for an op span itself). */
final case class Span(
    id: Int, parent: Int, name: String, pass: String, op: Int,
    startNs: Long, endNs: Long, rowsOut: Long)

/** Wraps each call into a graft layer. Untraced, every method is the
  * identity. Traced, each call runs under its own job group, lazy layer
  * outputs are materialized one at a time (persist + count) so a span
  * holds only its own layer's work, and spans stay in memory until the
  * run ends.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  /** Spans are recorded only while enabled; the listener, once
    * registered, counts executor time for the whole session.
    */
  var enabled = false
  val listener: GroupListener = new GroupListener
  if (listen) spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var opSpan = -1
  private var pass = ""
  private var opIndex = -1
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  private def group(id: Int) = s"span-$id"

  /** Run one op, a batch commit, as the parent span. */
  def op[T](passName: String, i: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      opSpan = id; pass = passName; opIndex = i
      spark.sparkContext.setJobGroup(group(id), s"$passName op $i")
      val t0 = System.nanoTime()
      try body
      finally {
        persisted.foreach(_.unpersist(blocking = true))
        persisted.clear()
        spans += Span(id, -1, "op", pass, i, t0, System.nanoTime(), 0L)
        spark.sparkContext.clearJobGroup()
        opSpan = -1
      }
    }

  private def span[T](name: String)(body: => T)(rows: T => Long): T = {
    val id = nextId; nextId += 1
    spark.sparkContext.setJobGroup(group(id), name)
    val t0 = System.nanoTime()
    val out = try body finally spark.sparkContext.setJobGroup(group(opSpan), "op")
    val t1 = System.nanoTime()
    spans += Span(id, opSpan, name, pass, opIndex, t0, t1, rows(out))
    out
  }

  /** A call that does its work when made (a write, a commit, a collect). */
  def action[T](name: String)(body: => T)(rows: T => Long = (_: T) => 0L): T =
    if (!enabled) body else span(name)(body)(rows)

  /** A call that returns a lazy DataFrame; traced, it is materialized here. */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else {
      var n = 0L
      val d = span(name) {
        val p = df.persist()
        n = p.count()
        persisted += p
        p
      }(_ => n)
      d
    }

  /** Run `body` outside any span (probes taken between spans). */
  def probe[T](body: => T): T = {
    spark.sparkContext.setJobGroup("probe", "probe")
    try body
    finally
      if (opSpan >= 0) spark.sparkContext.setJobGroup(group(opSpan), "op")
      else spark.sparkContext.clearJobGroup()
  }

  def drain(): Unit = SparkInternals.drainListenerBus(spark.sparkContext)

  def counters(s: Span): Counters = listener.get(group(s.id))
}
