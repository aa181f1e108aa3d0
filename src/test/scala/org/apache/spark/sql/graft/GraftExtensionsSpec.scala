package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** The config-based extension entry point must inject the as-of
  * merge-join strategy, with the rest of `GraftStrategies.all` — verified
  * against a real SparkSessionExtensions instance — and the sliding-sum
  * strategy, verified end to end in a
  * session built on the shared SparkContext with `spark.sql.extensions`
  * set. Lives in the sql package tree because `buildPlannerStrategies` is
  * private[sql] (and `SparkContext.conf` private[spark]). */
class GraftExtensionsSpec extends graft.SparkTestBase {

  it should "inject the as-of merge-join planner strategy" in {
    val ext = new SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val strategies = ext.buildPlannerStrategies(spark)
    strategies should contain(AsOfMergeStrategy)
    strategies should contain theSameElementsAs GraftStrategies.all
  }

  it should "plan a plain-Spark bounded count as SlidingSumExec under spark.sql.extensions" in {
    // the extension list is read from the SparkContext's conf when a
    // session is built, so set it there for this one build only
    val sc = spark.sparkContext
    sc.conf.set("spark.sql.extensions", "graft.GraftExtensions")
    val deployed = try org.apache.spark.sql.classic.SparkSession.builder().sparkContext(sc).create()
      finally {
        sc.conf.remove("spark.sql.extensions")
        org.apache.spark.sql.classic.SparkSession.setActiveSession(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
        org.apache.spark.sql.classic.SparkSession.setDefaultSession(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      }
    deployed.experimental.extraStrategies shouldBe empty
    val df = deployed.range(0, 50).select((F.col("id") % 3).as("k"), F.col("id").as("t"))
      .withColumn("n", F.count(F.lit(1))
        .over(Window.partitionBy("k").orderBy("t").rangeBetween(-6L, 0L)))
    df.queryExecution.executedPlan.collect { case s: SlidingSumExec => s } should have size 1
    // frame [t-6, t] within t's residue class mod 3: t-6, t-3 and t
    df.orderBy("t").collect().map(_.getLong(2)).toSeq shouldBe
      (0 until 50).map(t => math.min(t / 3, 2) + 1L)
  }
}
