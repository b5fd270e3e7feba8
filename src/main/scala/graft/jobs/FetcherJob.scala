package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.crawl.CrawlConfig
import graft.images.ImageSynth.ImageRow
import graft.model._
import graft.site.FetchEnv
import graft.url.{UrlPartitioner, UrlUtil}

/** The fetch stage over the synthetic image universe.
  *
  * Reference shape (SURVEY.md E1-E7): scan rows with GENERATE_MARK ==
  * batchId, shuffle by host with a randomized map key to break host runs,
  * then per-reducer politeness queues issue HTTP fetches; outcomes map to
  * CrawlStatus (FetcherReducer.java:516-566), redirects record outlinks and
  * a representative url (handleRedirect:586-616).
  *
  * Spark-first mapping: salted repartition on hash(host) ^ round breaks
  * hot-host pinning; a deterministic per-url pseudo-random sort key replaces
  * the reference's `random(65536)` map key (determinism, SURVEY.md §7.5
  * risk 2); politeness runs on a virtual clock inside `mapPartitions`; and
  * the actual payload "fetch" is a *join* of the (small) fetchlist against
  * the (huge) images table on image_id = uuid3(url) — Catalyst plans the
  * join, no driver-side lookups. Robots rules are a broadcast-sized
  * dimension checked before scheduling, like the reference's in-JVM robots
  * cache (D1).
  */
object FetcherJob {

  private final class IntPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int =
      key.asInstanceOf[(Int, Long, String)]._1
  }

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic replacement for FetcherMapper's random shuffle key. */
  def arrivalKey(url: String, round: Int): Long = mix64(url.hashCode.toLong ^ (round.toLong << 32))

  /** Fetch decision per scheduled item, before content attach. Pure,
    * shared with refsim. */
  def decide(page: WebPage, env: FetchEnv, conf: CrawlConfig): (Int, Int, WebPage) = {
    // returns (crawlStatus, protocolCode, page-with-redirect-effects)
    val host = UrlUtil.getHost(page.url).toLowerCase
    val rules = env.robotsFor(host)
    if (!rules.isAllowed(page.url))
      return (CrawlStatus.GONE, ProtocolStatusCodes.ROBOTS_DENIED, page)
    if (rules.crawlDelayMs > conf.fetcherMaxCrawlDelayMs && conf.fetcherMaxCrawlDelayMs >= 0)
      return (CrawlStatus.GONE, ProtocolStatusCodes.ROBOTS_DENIED, page)
    if (env.transientErrors.contains(page.url))
      return (CrawlStatus.RETRY, ProtocolStatusCodes.EXCEPTION, page)
    env.redirects.get(page.url) match {
      case Some((newUrl0, temp)) =>
        val code = if (temp) CrawlStatus.REDIR_TEMP else CrawlStatus.REDIR_PERM
        val pcode = if (temp) ProtocolStatusCodes.TEMP_MOVED else ProtocolStatusCodes.MOVED
        // handleRedirect: normalize+filter newUrl, record outlink + repr url
        val newUrl = graft.url.UrlNormalizers.normalize(newUrl0, graft.url.UrlNormalizers.ScopeFetcher)
        if (newUrl == null || newUrl == page.url) (code, pcode, page)
        else {
          val repr0 = if (page.reprUrl == null) page.url else page.reprUrl
          val repr = UrlUtil.chooseRepr(repr0, newUrl, temp)
          val p = page.copy(
            outlinks = page.outlinks + (newUrl -> ""),
            metadata = page.metadata + (FetcherJobKeys.RedirectDiscovered -> "y"),
            reprUrl = repr)
          (code, pcode, p)
        }
      case None =>
        (CrawlStatus.FETCHED, ProtocolStatusCodes.SUCCESS, page)
    }
  }

  /** A robots-denied fetch finishes "asap": it does not hold the host gate. */
  private def consumesDelay(statusAndCode: (Int, Int)): Boolean =
    statusAndCode._2 != ProtocolStatusCodes.ROBOTS_DENIED

  /** fetcher.throughput.threshold kill-switch on the virtual clock
    * (reference FetcherReducer.java:796-856: every 5 s compute pages/sec;
    * below threshold bumps a streak counter, above resets it; a streak
    * LONGER than `seqMax` empties the queues — dropped items stay due).
    * Virtual analogue: close 5-virtual-second windows as items stream out
    * of the scheduler; once killed, the remaining schedule is dropped. */
  def throughputKill[T](it: Iterator[PolitenessScheduler.Scheduled[T]],
      thresholdPages: Int, seqMax: Int,
      windowMs: Long = 5000L): Iterator[PolitenessScheduler.Scheduled[T]] = {
    if (thresholdPages < 0) return it
    val b = it.buffered
    new Iterator[PolitenessScheduler.Scheduled[T]] {
      private var killed = false
      private var windowEnd = windowMs
      private var count = 0L
      private var streak = 0
      override def hasNext: Boolean = {
        if (killed || !b.hasNext) return false
        while (!killed && b.head.virtualTimeMs >= windowEnd) {
          val rate = count * 1000.0 / windowMs
          if (rate < thresholdPages) {
            streak += 1
            if (streak > seqMax) killed = true
          } else streak = 0
          count = 0
          windowEnd += windowMs
        }
        !killed
      }
      override def next(): PolitenessScheduler.Scheduled[T] = {
        if (!hasNext) throw new NoSuchElementException
        count += 1
        b.next()
      }
    }
  }

  /** Per-queue politeness gate (reference FetchItemQueue.setEndTime:219-224):
    * with fetcher.threads.per.queue > 1 the gate is fetcher.server.min.delay
    * regardless of crawl delay (multiple connections per host are allowed,
    * only the minimum spacing applies — the virtual-clock reduction of the
    * multi-slot queue, where fetches take zero virtual time); otherwise the
    * robots Crawl-Delay override or fetcher.server.delay. */
  def queueDelayMs(qid: String, env: FetchEnv, conf: CrawlConfig): Long =
    if (conf.fetcherThreadsPerQueue > 1) conf.fetcherServerMinDelayMs
    else {
      val host = qid.substring(qid.indexOf("://") + 3)
      val override_ = env.robotsFor(host).crawlDelayMs
      if (override_ > 0) override_ else conf.fetcherServerDelayMs
    }

  def fetch(spark: SparkSession, generated: Dataset[WebPage], images: DataFrame,
      env: FetchEnv, conf: CrawlConfig, batchId: String, curTime: Long,
      round: Int): Dataset[WebPage] = {
    val scheduledDs = scheduleFetchlist(spark, generated, env, conf, batchId, curTime, round)
    attachPayloads(spark, scheduledDs, images)
  }

  /** Stage 1: select the batch, shuffle by salted host, schedule politeness
    * per partition; returns fetch outcomes WITHOUT payloads. */
  def scheduleFetchlist(spark: SparkSession, generated: Dataset[WebPage],
      env: FetchEnv, conf: CrawlConfig, batchId: String, curTime: Long,
      round: Int): Dataset[WebPage] = {
    import spark.implicits._
    val c = conf
    val e = env
    val t = curTime
    val r = round
    val n = conf.numPartitions

    // filtered on the RDD side: a typed Dataset filter decodes each page to
    // test it, and `.rdd` would then decode the kept rows a second time
    val batch = generated.rdd.filter(_.markers.get(Marks.GENERATE).contains(batchId))

    // salted host partitioning + deterministic arrival shuffle within
    // partitions (Kryo RDD shuffle — measured faster than a Dataset
    // exchange for map-heavy WebPage rows, see GeneratorJob.generate)
    val keyed = batch.map { p =>
      val pid = UrlPartitioner.getPartition(p.url, n, seed = r, mode = c.partitionMode)
      ((pid, arrivalKey(p.url, r), p.url), p)
    }
    implicit val ord: Ordering[(Int, Long, String)] = Ordering.Tuple3[Int, Long, String]
    val arrived = keyed.repartitionAndSortWithinPartitions(new IntPartitioner(n))

    val scheduled = arrived.mapPartitionsWithIndex { (idx, it) =>
      val items = it.map { case (_, p) =>
        val decision = decide(p, e, c)
        (PolitenessScheduler.queueIdOf(p.url), (p, decision))
      }
      val delayFor: String => Long = qid => queueDelayMs(qid, e, c)
      val sched = PolitenessScheduler
        .schedule[(WebPage, (Int, Int, WebPage))](items, delayFor,
          item => consumesDelay((item._2._1, item._2._2)))
      // fetcher.throughput.threshold kill-switch (E5)
      throughputKill(sched, c.fetcherThroughputThresholdPages, c.fetcherThroughputThresholdSeq)
        // fetcher.timelimit analogue (E5): over-time items are dropped from
        // the round (queues emptied); they stay generated and become due
        // again next round (FetcherReducer.java:369-374 semantics)
        .filter(sch => c.fetcherTimelimitMs < 0 || sch.virtualTimeMs < c.fetcherTimelimitMs)
        .map { sch =>
          val (orig, (status, pcode, effected)) = sch.payload
          val genMark = orig.markers.getOrElse(Marks.GENERATE, batchId)
          Marks.put(effected, Marks.FETCH, genMark).copy(
            status = status,
            prevFetchTime = orig.fetchTime,
            fetchTime = t + sch.virtualTimeMs,
            protocolStatus = ProtocolStatus(pcode, Seq.empty, 0L),
            srcPartition = idx,
            round = r,
            // fetch-order lineage for the ordering-parity check
            metadata = effected.metadata + (FetcherJobKeys.FetchSeq -> sch.seq.toString))
        }
    }
    spark.createDataset(scheduled)
  }

  /** Stage 2: payload attach.
    * ONE left-outer shuffled-hash join, hash built on the
    // hinted fetchlist side (LeftOuter + BuildLeft SHJ) — the huge payload
    // side streams through unsorted and unspilled, with the images table
    // bucketed by image_id (the production layout, see Bench) only the
    // fetchlist shuffles. Misses (404s) fall out of the same pass as null
    // right sides — no second consumption of the scheduled fetchlist (a
    // matched/missing/others 3-branch plan re-ran the whole
    // shuffle+politeness pipeline once per branch: Dataset exchanges are
    // not implicitly reused across union branches the way RDD shuffle
    // files were).
    //
    // NOTE the right side must stay FLAT (plain image columns, not a
    // joinWith struct): for outer joins joinWith wraps each side in a
    // struct, and a struct-projection hides the bucketed scan's
    // hashpartitioning(image_id) from EnsureRequirements — Spark then
    // shuffles the whole payload side (measured: 15 GB shuffle write on a
    // 50k fetchlist). With the flat DataFrame join the bucketed side's
    // partitioning is recognized and only the fetchlist shuffles. */
  def attachPayloads(spark: SparkSession, scheduledDs: Dataset[WebPage],
      images: DataFrame): Dataset[WebPage] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val withId = scheduledDs.map(p => (UrlUtil.uuid3(p.url), p))
      .toDF("image_id", "page").hint("shuffle_hash")
    withId.join(images, Seq("image_id"), "left_outer")
      .select(col("page").as("_1"), col("bytes").as("_2"),
        col("fmt").as("_3"), col("caption").as("_4"))
      .as[(WebPage, Array[Byte], String, String)]
      .map { case (page, bytes, fmt, caption) =>
        if (page.status != CrawlStatus.FETCHED) page // robots/redirect/retry rows ride along
        else if (bytes == null)
          page.copy(status = CrawlStatus.GONE,
            protocolStatus = ProtocolStatus(ProtocolStatusCodes.NOTFOUND, Seq.empty, 0L))
        else
          // content always attaches here so the inline parse can decode it;
          // when fetcher.store.content=false the parse stage strips it
          // before the table write (reference: FetcherReducer.output:640-652)
          page.copy(
            content = bytes,
            contentType = s"image/$fmt",
            baseUrl = page.url,
            metadata = page.metadata + ("caption" -> caption))
      }
  }
}

object FetcherJobKeys {
  /** metadata key marking a redirect discovery (FetcherJob.REDIRECT_DISCOVERED). */
  val RedirectDiscovered = "_rs_"
  /** metadata key carrying the within-partition fetch sequence number. */
  val FetchSeq = "_fseq_"
}
