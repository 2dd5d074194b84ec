package org.apache.spark.sql.graftbench

import scala.jdk.CollectionConverters._
import org.apache.spark.{ContextCleaner, SparkContext}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark reads; all are package-private to
  * Spark, hence this package.
  */
object SparkInternals {
  /** Block until every listener event posted so far has been handled. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of a finished SQL execution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)

  private val cleanerRefs = {
    val f = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
    f.setAccessible(true)
    f
  }

  /** Block until Spark's cleaner has finished the clean-up of every
    * dataset, broadcast and shuffle that a GC so far found unreachable;
    * true if some clean-up was still to start. The cleaner drops a weak
    * reference from its buffer and cleans up under its own lock, and a
    * full GC clears the references of unreachable objects before it
    * returns, so after a full GC this does not depend on thread timing.
    */
  def awaitCleaner(sc: SparkContext): Boolean = sc.cleaner.exists { c =>
    val refs = cleanerRefs.get(c).asInstanceOf[java.util.Set[_ <: java.lang.ref.Reference[_]]]
    def pending = refs.asScala.count(_.get == null)
    val had = pending > 0
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (pending > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    c.synchronized(())
    had
  }
}
