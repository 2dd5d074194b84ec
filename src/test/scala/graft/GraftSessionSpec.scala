package graft

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** The spec session is the benched and verified one ([[GraftSession]]),
  * so specs see the optimizer config the mains run.
  */
class GraftSessionSpec extends SparkSpec {

  test("explode over a split column: the optimized plan infers no filter from the generator") {
    // InferFiltersFromGenerate would add size(split(text, ' ')) > 0
    // under the Generate, the split cloned into a filter over the scan;
    // GraftSession excludes that rule
    val words = spark.range(3)
      .select(concat(lit("a b "), col("id").cast("string")).as("text"))
      .withColumn("toks", split(col("text"), " "))
      .select(explode(col("toks")).as("w"))
    val plan = words.queryExecution.optimizedPlan
    assert(plan.collect { case f: Filter => f }.isEmpty, plan.toString)
    assert(words.count() == 9L)
  }
}
