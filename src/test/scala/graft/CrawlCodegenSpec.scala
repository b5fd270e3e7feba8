package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.site.PhashOutlinks

/** A steady-state crawl round compiles no new code and runs no more Spark
  * jobs than its stages need. Every stage's plan is the same from round to
  * round, so Spark's compiled-class cache serves all of them; a per-commit
  * value inlined into a plan (a snapshot id as a literal column, say)
  * would compile fresh copies of its stages — row serializers included —
  * on every commit.
  */
class CrawlCodegenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val UpdateRound = "graft.spec.updateRound"

  /** Compile count after each of rounds 1-4, and the Spark jobs each
    * round's `Crawl.update` started. */
  private lazy val crawled: (Seq[Long], Seq[Int]) = {
    // a small, dense universe with a tight fetch list: already in round 2
    // discovered links hit known pages that were not generated, so the
    // bloom-positive store merge runs non-empty (adaptive execution plans
    // an empty branch differently, and that first plan is new code)
    val nPages = 30L
    val nHosts = 3
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 4,
      fetcherServerDelayMs = 100, topN = 2, filterSeenNewPages = true)
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)
    val crawl = new Crawl(spark, SparkTestBase.tmpDir("codegen"), images, conf,
      PhashOutlinks(nPages, nHosts, degree = 4))
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sc = spark.sparkContext
    // jobs inherit the submitting thread's local properties, so a job
    // started inside `update` carries its round
    val updateJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        Option(job.properties).flatMap(p => Option(p.getProperty(UpdateRound)))
          .foreach(updateJobs.add)
    }
    sc.addSparkListener(listener)
    try {
      crawl.inject(Seq(ImageSynth.urlOf(0, nHosts), ImageSynth.urlOf(1, nHosts)))
      // Crawl.run's stage order, compacting every second round: round 2
      // runs every plan a later round runs, compaction included
      val after = (1 to 4).map { r =>
        crawl.generate(r)
        crawl.fetchAndParse(r)
        sc.setLocalProperty(UpdateRound, r.toString)
        try crawl.update(r) finally sc.setLocalProperty(UpdateRound, null)
        if (r % 2 == 0) crawl.table.compact(spark, r)
        compiles
      }
      assert(crawl.table.snapshots.count(_.stage == "compact") == 2)
      ListenerDrain(sc)
      val rounds = updateJobs.asScala.toSeq
      (after, (1 to 4).map(r => rounds.count(_ == r.toString)))
    } finally sc.removeSparkListener(listener)
  }

  test("rounds after the second compile no new code (seen bank on, compaction firing)") {
    val after = crawled._1
    assert(after(3) == after(1),
      s"compile count after rounds 1-4: ${after.mkString(" -> ")}")
  }

  test("a steady-state update runs at most 3 Spark jobs: key aggregate, write, bank catch-up") {
    val jobs = crawled._2
    assert(jobs.drop(2).forall(_ <= 3), s"Spark jobs per update in rounds 1-4: ${jobs.mkString(", ")}")
  }
}
