package graftbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.crawl.CrawlConfig
import graft.images.ImageSynth
import graft.refsim.Universe
import graft.site.{FetchEnv, OutlinkSource, RobotsRule}

/** Page-to-host layout of a synthetic universe with heavy-tailed host sizes:
  * host h owns the contiguous page-index range [hostEnds(h-1), hostEnds(h)),
  * sizes follow a seeded Zipf-like law, and host names are a seeded
  * permutation so size does not follow the name. */
final case class Layout(nPages: Long, hostEnds: Array[Long], hostIds: Array[Int]) {

  def hostOf(i: Long): Int = {
    var lo = 0
    var hi = hostEnds.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (hostEnds(mid) > i) hi = mid else lo = mid + 1
    }
    hostIds(lo)
  }

  def urlOf(i: Long): String = s"http://host-${hostOf(i)}.example/page-$i.html"

  def contains(url: String): Boolean =
    ImageSynth.pageIndexOf(url).exists(i => i >= 0 && i < nPages && url == urlOf(i))
}

object Layout {
  def apply(nPages: Long, nHosts: Int, seed: Long): Layout = {
    val rnd = new Random(seed)
    val weights = Array.tabulate(nHosts)(h => (0.5 + rnd.nextDouble()) / math.pow(h + 1, 1.1))
    val total = weights.sum
    val sizes = weights.map(w => math.max(1L, (nPages * w / total).toLong))
    // give the rounding remainder to the largest host; never leave a host empty
    sizes(0) += nPages - sizes.sum
    require(sizes(0) >= 1, s"$nHosts hosts cannot share $nPages pages")
    val ends = sizes.scanLeft(0L)(_ + _).tail
    Layout(nPages, ends, rnd.shuffle((0 until nHosts).toVector).toArray)
  }
}

/** Outlinks derived from the decoded payload (its phash), mapped onto the
  * layout — the benchmark's analogue of graft.site.PhashOutlinks. */
final case class LayoutOutlinks(layout: Layout, degree: Int) extends OutlinkSource {
  override def outlinks(url: String, phash: Long): Seq[(String, String)] = {
    var v = phash
    (0 until degree).map { k =>
      v = v * 6364136223846793005L + 1442695040888963407L
      layout.urlOf(math.floorMod(v >>> 17, layout.nPages)) -> s"anchor-$k"
    }
  }
}

/** The layout as a RefSim universe (24x24 payloads, RefSim's default). */
final case class LayoutUniverse(layout: Layout) extends Universe {
  override def contains(url: String): Boolean = layout.contains(url)
}

/** One crawl workload's shape. Everything derived from the seed lives in
  * [[CrawlInputs]]. */
final case class CrawlShape(
    pages: Long,
    pagesPerHost: Int,
    imageSide: Int,
    degree: Int,
    seedUrls: Int,
    rounds: Int,
    compactEvery: Int, // Crawl.run's compaction period
    conf: CrawlConfig)

object CrawlShape {
  /** Fetch-list partitions are part of the workload (they set topN and the
    * fetch order), so they are fixed rather than taken from the host. */
  val Partitions = 4

  /** A continuous crawl: a few seed URLs grow the frontier through
    * payload-derived outlinks while every fetched page is due again each
    * round (fetch interval 0), so each fetch list mixes re-fetches (new
    * version rows) with discoveries, capped per partition by topN. 64x64
    * PNG payloads, robots rules and heavy-tailed hosts load fetch and
    * parse; the URL-seen bank filters discoveries. From round 2 on every
    * round fetches the full topN; Crawl.run's compaction fires in the last
    * round. */
  val crawl: CrawlShape = CrawlShape(pages = 2000, pagesPerHost = 40, imageSide = 64,
    degree = 8, seedUrls = 200, rounds = 4, compactEvery = 4,
    conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = Partitions, topN = 200,
      storingContent = false, filterSeenNewPages = true, seenBloomPartitions = 8))
}

/** Seeded inputs of one crawl: universe layout, seed URLs and FetchEnv
  * (robots rules with Crawl-Delay or disallow, redirects, transient errors). */
final case class CrawlInputs(shape: CrawlShape, layout: Layout, seeds: Seq[String],
    env: FetchEnv) {
  def source: OutlinkSource = LayoutOutlinks(layout, shape.degree)
}

object CrawlInputs {
  def apply(shape: CrawlShape, seed: Long): CrawlInputs = {
    val rnd = new Random(seed * 1000003L + shape.pages)
    val nHosts = math.max(4, (shape.pages / shape.pagesPerHost).toInt)
    val layout = Layout(shape.pages, nHosts, rnd.nextLong())
    val seeds = Seq.fill(shape.seedUrls)(layout.urlOf(math.floorMod(rnd.nextLong(), shape.pages)))
      .distinct
    // ~12% of hosts carry robots rules: a Crawl-Delay (one in eight of them
    // above fetcher.max.crawl.delay, so the whole host is denied), a
    // disallowed path prefix, or both with an Allow override
    val robots = (0 until nHosts).filter(_ => rnd.nextDouble() < 0.12).map { h =>
      val host = s"host-$h.example"
      val delay =
        if (rnd.nextInt(8) == 0) 60000L else (1 + rnd.nextInt(10)).toLong * 1000L
      val rule = rnd.nextInt(3) match {
        case 0 => RobotsRule(host, crawlDelayMs = delay)
        case 1 => RobotsRule(host, disallow = Seq(s"/page-${1 + rnd.nextInt(9)}"))
        case _ =>
          val d = 1 + rnd.nextInt(9)
          RobotsRule(host, disallow = Seq(s"/page-$d"), allow = Seq(s"/page-${d}0"),
            crawlDelayMs = delay)
      }
      host -> rule
    }.toMap
    def someUrls(share: Double): Seq[String] =
      (0 until math.max(1, (shape.pages * share).toInt))
        .map(_ => layout.urlOf(math.floorMod(rnd.nextLong(), shape.pages)))
    val redirects = someUrls(0.005).map { u =>
      u -> (layout.urlOf(math.floorMod(rnd.nextLong(), shape.pages)), rnd.nextBoolean())
    }.toMap
    val transient = someUrls(0.005).toSet -- redirects.keySet
    CrawlInputs(shape, layout, seeds, FetchEnv(robots, redirects, transient))
  }
}

/** The images table of a universe, written once per (workload, seed) and
  * bucketed by image_id like the engine's production layout. */
object Corpus {
  val Buckets = 4

  def write(spark: SparkSession, dir: String, layout: Layout, side: Int): Unit = {
    if (new java.io.File(dir, "_SUCCESS").exists()) return
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val l = layout
    val table = s"graftbench_build_${math.abs(dir.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.range(0, layout.nPages, 1, Buckets * 2)
      .map(i => ImageSynth.rowForUrl(l.urlOf(i), side, side))
      .repartition(Buckets, col("image_id"))
      .write.bucketBy(Buckets, "image_id")
      .option("path", dir)
      .mode("overwrite")
      .saveAsTable(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Re-register the bucketed files under `name` (the in-memory catalog
    * forgets tables across sessions; bucket ids live in the file names). */
  def register(spark: SparkSession, name: String, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name
         |(image_id string, bytes binary, w int, h int, fmt string,
         | caption string, phash bigint)
         |USING parquet
         |CLUSTERED BY (image_id) INTO $Buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
  }
}
