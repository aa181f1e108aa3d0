package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs and SQL executions a registry row runs while its
  * DataFrame is built, before any action on it: a build that runs a job
  * pays a whole extra round of planning and scheduling on every call. Runs
  * with adaptive execution on, as the mains do. Lives in the sql package
  * tree because `SparkContext.listenerBus` is private[spark]. */
class BuildJobsSpec extends graft.SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  /** (jobs, SQL executions) started while `name`'s DataFrame is built. */
  private def buildWork(name: String): (Int, Int) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      graft.SparkEntry.queries(name)(s, dir)
      sc.listenerBus.waitUntilEmpty()
      (jobs.get, executions.get)
    } finally sc.removeSparkListener(listener)
  }

  // the benchmark's `core` rows other than doc_bigram_lp
  Seq("left_join_asof", "left_join_asof_merge", "summarize_windows_past",
      "summarize_intervals_bb", "ema_ewma_core", "dedup_minhash_lsh", "c4_clean")
    .foreach { name =>
      "a registry row" should s"run no job while $name builds" in {
        buildWork(name) shouldBe ((0, 0))
      }
    }

  it should "run one SQL execution, the model fetch, while doc_bigram_lp builds" in {
    buildWork("doc_bigram_lp")._2 shouldBe 1
  }
}
