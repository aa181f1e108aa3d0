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

  /** The jobs and SQL executions a row runs while it is built, and why. */
  private case class Work(jobs: Range, executions: Int, why: String)
  private object Work {
    def apply(jobs: Int, executions: Int, why: String): Work =
      Work(jobs to jobs, executions, why)
  }

  /** Every registry row whose build runs work; every other row runs none.
    * The rows whose connected components come from `Dedup.dupClusters`
    * vary from run to run (each over a range of up to 2 jobs in five
    * runs; their SQL executions do not), so their jobs are pinned to a
    * range. */
  private val buildJobs: Map[String, Work] = Map(
    "ann_ivf_topk" -> Work(2, 1, "sqrtCells collects the row count and centroid seeds"),
    "ann_ivfpq_qscale" -> Work(5, 3, "sqrtCells' collect and pqTrain's codebook collects"),
    "ann_ivfpq_topk" -> Work(5, 3, "sqrtCells' collect and pqTrain's codebook collects"),
    "bm25_topk" -> Work(1, 1, "the row collects its 8 query strings"),
    "bpe_merges" -> Work(2, 1, "wordFreqs collects the word table for the driver-side merge loop"),
    "cluster_quota" -> Work(11, 4, "kmeansCells' Lloyd loop and quotaPerStratum's certification passes"),
    "csv_roundtrip" -> Work(3, 3, "the CSV write and fromCSV's schema inference"),
    "dedup_against_bloom" -> Work(4, 2, "the Bloom filter's key count and aggregate are collected"),
    "dedup_clusters" -> Work(17 to 21, 2, "dupClusters materializes one label-propagation round per job"),
    "dedup_keep_best" -> Work(17 to 21, 2, "dupClusters materializes one label-propagation round per job"),
    "dedup_keep_docs" -> Work(17 to 21, 2, "dupClusters materializes one label-propagation round per job"),
    "doc_bigram_lp" -> Work(4, 1, "the bigram model is fetched in one collect"),
    "doc_bpe_count" -> Work(2, 1, "wordFreqs collects the word table for the driver-side merge loop"),
    "doc_oov" -> Work(2, 1, "the row collects its top-50 vocabulary"),
    "doc_unigram_lp" -> Work(3, 1, "the unigram model is fetched in one collect"),
    "dsir_select" -> Work(10, 4, "dsirModel collects its token totals and top-V counts"),
    "dsir_weights" -> Work(10, 4, "dsirModel collects its token totals and top-V counts"),
    "ema_rows_es_current_core" -> Work(3, 1, "per-partition key-run states are collected for the driver stitch"),
    "ema_rows_ewma_legacy" -> Work(3, 1, "per-partition key-run states are collected for the driver stitch"),
    "emb_dedup_keep" -> Work(18 to 22, 3, "sqrtCells' collect and dupClusters' label-propagation rounds"),
    "emb_near_dup" -> Work(2, 1, "sqrtCells collects the row count and centroid seeds"),
    "hybrid_topk" -> Work(1, 1, "the row collects its 8 query strings"),
    "ivf_train_assign" -> Work(5, 3, "kmeansCells' seed collect and Lloyd loop"),
    "jsonl_roundtrip" -> Work(1, 1, "the JSONL write"),
    "nb_score" -> Work(4, 2, "nbTrain collects the label and bucket counts"),
    "pagerank_domains" -> Work(23, 2, "PageRank materializes each round's rank vector"),
    "pipeline_e2e" -> Work(32 to 35, 5, "the composed pipeline's dedup rounds and stage collects"),
    "pq_encode" -> Work(3, 2, "pqTrain's codebook collects"),
    "pq_topk" -> Work(3, 2, "pqTrain's codebook collects"),
    "repartition_validate" -> Work(3, 0, "validate scans the range-partitioned layout"),
    "sample_quota" -> Work(5, 1, "quotaPerStratum's certification passes"),
    "sample_temperature" -> Work(4, 2, "the row's count and temperatureRates' stratum counts"),
    "select_budget" -> Work(7, 3, "selectTopByBudget's range-refinement loop"),
    "shuffle_positions" -> Work(2, 1, "zipWithIndex's partition-size job"),
    "skew_ema_rows_ewma" -> Work(3, 1, "per-partition key-run states are collected for the driver stitch"),
    "time_partitioned_roundtrip" -> Work(1, 1, "the store write"),
    "url_domain_cap" -> Work(6, 1, "quotaPerStratum's certification passes")
  )

  graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    buildJobs.get(name) match {
      case None =>
        "a registry row" should s"run no job while $name builds" in {
          buildWork(name) shouldBe ((0, 0))
        }
      case Some(Work(jobs, executions, why)) =>
        val n = if (jobs.size == 1) s"${jobs.start}" else s"${jobs.start}-${jobs.end}"
        "a registry row" should
          s"run $n jobs and $executions SQL executions while $name builds ($why)" in {
          val (j, e) = buildWork(name)
          jobs should contain (j)
          e shouldBe executions
        }
    }
  }

  it should "run one SQL execution, the model fetch, while doc_bigram_lp builds" in {
    buildWork("doc_bigram_lp")._2 shouldBe 1
  }

  "the build-work table" should "name only registry rows" in {
    buildJobs.keySet -- graft.SparkEntry.queries.keySet shouldBe empty
  }
}
