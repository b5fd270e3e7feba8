package graft.jobs

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.crawl.CrawlConfig
import graft.model.{Marks, WebPage}
import graft.schedule.FetchSchedule
import graft.score.ScoringFilter
import graft.url.{RegexUrlFilter, UrlNormalizers, UrlPartitioner, UrlUtil}

/** The generate stage: select the fetchlist for a round.
  *
  * Reference shape (SURVEY.md C1-C4): map side filters (distance, normalize,
  * url-filter, shouldFetch) emit SelectorEntry(url, fetchTime, score); the
  * shuffle partitions by salted host hash and sorts by score desc; the
  * reducer applies per-reducer topN, per-host/domain caps and per-url dedup,
  * re-keys already-fetched rows into new version rows, and stamps
  * GENERATE_MARK = batchId.
  *
  * Spark mapping: `repartitionAndSortWithinPartitions` with a composite key
  * (partition, -score, url) — the exact MR shuffle contract (external sort,
  * streaming reducer, no in-memory buffering of a partition), followed by a
  * `mapPartitionsWithIndex` reducer. AQE must not touch this stage: the
  * partition index is part of the normative ordering, so we pin partitioning
  * with an explicit Partitioner rather than letting Catalyst re-plan it.
  * (A Catalyst-native variant with per-pid-run reduction was built and
  * measured slower — see generate's shuffle-choice note.)
  */
object GeneratorJob {

  /** Map-side candidate: selection url (normalized) + adjusted page. Pure,
    * shared with refsim. Returns None when the row is filtered out. */
  def candidate(page: WebPage, conf: CrawlConfig, curTime: Long,
      filter: RegexUrlFilter, schedule: FetchSchedule,
      opic: ScoringFilter): Option[(String, WebPage)] = {
    if (conf.generateMaxDistance > -1) {
      page.markers.get(Marks.DISTANCE).foreach { d =>
        if (d.toInt > conf.generateMaxDistance) return None
      }
    }
    var url = page.url
    if (conf.generateNormalise) {
      url = UrlNormalizers.normalize(url, UrlNormalizers.ScopeGenerateHostCount)
      if (url == null) return None
    }
    if (conf.generateFilter && filter.filter(url) == null) return None
    val (ok, adjusted) = schedule.shouldFetch(page, curTime)
    if (!ok) return None
    val score = opic.generatorSortValue(adjusted, adjusted.score)
    Some((url, adjusted.copy(score = score)))
  }

  /** Streaming reducer over one sorted partition (GeneratorReducer.java:59-120):
    * per-partition topN, per-host/domain cap, per-url dedup, version re-key.
    * Pure, shared with refsim (which runs it per simulated partition).
    */
  def reducePartition(partitionIdx: Int, rows: Iterator[(String, WebPage)],
      conf: CrawlConfig, batchId: String, round: Int): Iterator[WebPage] = {
    val generated = scala.collection.mutable.HashSet.empty[String]
    val hostCount = scala.collection.mutable.HashMap.empty[String, Int]
    var count = 0L
    rows.flatMap { case (selUrl, page) =>
      if (conf.topN != 0 && count >= conf.topN) None
      else if (generated.contains(selUrl)) None // already generated this round
      else {
        val capKey =
          if (conf.generateMaxCount <= 0) null
          else if (conf.generateCountMode == "domain") UrlUtil.getDomainName(selUrl)
          else UrlUtil.getHost(selUrl)
        val capped = capKey != null && hostCount.getOrElse(capKey, 0) >= conf.generateMaxCount
        if (capped) None
        else {
          if (capKey != null) hostCount.update(capKey, hostCount.getOrElse(capKey, 0) + 1)
          generated += selUrl
          count += 1
          // a fetched row gets a fresh version key; the new version row is a
          // schedule/score carrier — content stays with the fetched row
          val rekeyed =
            if (page.markers.contains(Marks.FETCH)) {
              page.copy(key = UrlUtil.versionKey(page.url, round),
                content = null, text = null)
            } else page
          Some(Marks.put(rekeyed, Marks.GENERATE, batchId)
            .copy(batchId = batchId, round = round, srcPartition = partitionIdx))
        }
      }
    }
  }

  /** Shuffle key: sorts within a partition by score desc then url asc
    * (SelectorEntry.compareTo ties, GeneratorJob.java:105-114), then
    * fetchTime desc — so among equal-score versions of one url the LATEST
    * version is deterministically the one generated (the reference leaves
    * this to reducer iteration order; we pin it, SURVEY.md §7.5 risk 1). */
  case class SelKey(partition: Int, score: Float, url: String, fetchTime: Long)

  implicit val selKeyOrdering: Ordering[SelKey] =
    Ordering.by((k: SelKey) => (k.partition, -k.score, k.url, -k.fetchTime))

  private final class PidPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[SelKey].partition
  }

  /** Shuffle choice, MEASURED (round 2): a Catalyst-native
    * `repartition(n, pid)` + `sortWithinPartitions` + per-pid-run reducer
    * was built and benchmarked at 1.2M pages — 13.6 s vs 8.5 s for this
    * Kryo RDD shuffle. WebPage rows are map-heavy (markers/metadata/
    * outlinks/inlinks/headers), and the encoder's object<->InternalRow map
    * conversions on both sides of the exchange cost more than Kryo's
    * straight field writes. The RDD path also keeps the MR contract
    * literal: partition-by-pid + external sort + streaming reducer. */
  def generate(spark: SparkSession, frontier: Dataset[WebPage], conf: CrawlConfig,
      curTime: Long, batchId: String, round: Int): Dataset[WebPage] = {
    import spark.implicits._
    val filter = if (conf.useDefaultUrlFilter) RegexUrlFilter.default else RegexUrlFilter.acceptAll
    val schedule = FetchSchedule(conf)
    val opic = ScoringFilter(conf)
    val c = conf
    val t = curTime
    val b = batchId
    val r = round
    val n = conf.numPartitions

    // leave the Dataset before the map side: a typed flatMap would encode
    // each (url, page) candidate into a row only for `.rdd` to decode it
    val candidates = frontier.rdd.flatMap(p => candidate(p, c, t, filter, schedule, opic))

    // salted host-hash partitioning; seed = round so hosts move between
    // rounds (URLPartitioner seed semantics)
    val keyed = candidates.map { case (selUrl, page0) =>
      // strip payload bytes BEFORE the exchange: a fetched row selected for
      // refetch becomes a content-free version carrier in the reducer
      // anyway (rekey branch below), so shipping its content/text through
      // the shuffle is pure waste — at fetcher.store.content=true scale
      // that is the corpus riding the generate exchange
      val page =
        if (page0.markers.contains(Marks.FETCH) &&
          (page0.content != null || page0.text != null))
          page0.copy(content = null, text = null)
        else page0
      val pid = UrlPartitioner.getPartition(selUrl, n, seed = r, mode = c.partitionMode,
        normalizer = u => {
          val v = UrlNormalizers.normalize(u, UrlNormalizers.ScopePartition)
          if (v == null) u else v
        })
      (SelKey(pid, page.score, selUrl, page.fetchTime), (selUrl, page))
    }
    val sorted = keyed.repartitionAndSortWithinPartitions(new PidPartitioner(n))
    val out = sorted.mapPartitionsWithIndex { (idx, it) =>
      reducePartition(idx, it.map(_._2), c, b, r)
    }
    spark.createDataset(out)
  }
}
