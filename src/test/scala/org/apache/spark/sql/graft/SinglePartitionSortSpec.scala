package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}

/** A small global sort runs no range-bound sampling job. Jobs are counted
  * with a listener over one job group, with adaptive execution on, in a
  * session with graft's strategies and in a plain one. Lives in the sql
  * package tree because `SparkContext.listenerBus` is private[spark]. */
class SinglePartitionSortSpec extends graft.SparkTestBase {

  private def adaptiveSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  /** The rows `df` collects and the number of jobs that took. */
  private def collectCountingJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group) {
          jobs.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val rows = df.collect().toSeq
      sc.listenerBus.waitUntilEmpty()
      (rows, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  it should "run one job fewer than Spark for a small shuffle and orderBy" in {
    def query(s: SparkSession): DataFrame =
      s.range(0, 1000).groupBy((F.col("id") % 10).as("k")).count().orderBy(F.col("k").desc)
    val graftSession = adaptiveSession()
    GraftStrategies.ensureRegistered(graftSession)
    val (plainRows, plainJobs) = collectCountingJobs(query(adaptiveSession()))
    val (rows, jobs) = collectCountingJobs(query(graftSession))
    rows shouldBe plainRows
    rows.map(_.getLong(0)) shouldBe (9L to 0L by -1L)
    jobs shouldBe plainJobs - 1
  }
}
