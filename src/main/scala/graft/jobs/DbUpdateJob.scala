package graft.jobs

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.crawl.CrawlConfig
import graft.model._
import graft.schedule.FetchSchedule
import graft.score.{ScoreDatum, ScoringFilter}
import graft.seen.BloomSeen
import graft.url.{Signatures, UrlUtil}

/** The updatedb stage: merge fetch/parse results back into the frontier and
  * create rows for newly discovered URLs.
  *
  * Reference shape (SURVEY.md C5-C7, D2-D3): the mapper emits, per batch
  * row, the page itself (shuffle score = Float.MAX so it sorts first) plus
  * one ScoreDatum per outlink carrying OPIC cash; the shuffle partitions by
  * url only and sorts (url, score desc) with a grouping comparator on url
  * (UrlWithScore.java:125-195); the reducer picks the latest page version,
  * applies the status machine + fetch schedule, rebuilds inlinks (stops
  * reading at the 10k cap — keeping the top-scored inlinks thanks to the
  * sort), recomputes min-distance+1, adds inlinked cash to the score, and
  * creates new UNFETCHED pages for unseen targets
  * (DbUpdateMapper.java:51-98, DbUpdateReducer.java:57-228).
  *
  * Spark mapping: `repartitionAndSortWithinPartitions` on a composite key
  * (url, -score, src) — the exact partition-by-url + secondary-sort contract
  * (external sort, no per-group buffering) — followed by a streaming
  * consecutive-url grouper. Cash distribution happens map-side before the
  * single shuffle. New-page creation writes key = uuid3(url), which the
  * snapshot table's latest-key-wins view resolves exactly like the
  * reference store's put().
  */
object DbUpdateJob {

  /** Tagged union shuffled to the reducer (reference: NutchWritable). */
  case class UpdateMsg(
      url: String,
      isPage: Boolean,
      page: WebPage = null,
      score: Float = 0f,
      srcUrl: String = null,
      anchor: String = null,
      fetchTime: Long = 0L,
      distance: Int = Int.MaxValue)

  /** Map side: page msg + scored outlink msgs (DbUpdateMapper.map). Pure,
    * shared with refsim. */
  def mapPage(page: WebPage, opic: ScoringFilter): Seq[UpdateMsg] = {
    if (!page.markers.contains(Marks.GENERATE)) return Seq.empty
    val depth = page.markers.get(Marks.DISTANCE).map(_.toInt).getOrElse(Int.MaxValue)
    val data = page.outlinks.toSeq.sortBy(_._1).map { case (toUrl, anchor) =>
      ScoreDatum(0f, toUrl, anchor, page.fetchTime, depth)
    }
    val (scored, pageAfter) =
      opic.distributeScoreToOutlinks(page.url, page, data, page.outlinks.size)
    UpdateMsg(pageAfter.url, isPage = true, page = pageAfter) +:
      scored.map(sd => UpdateMsg(sd.url, isPage = false, score = sd.score,
        srcUrl = pageAfter.url, anchor = sd.anchor, fetchTime = sd.fetchTime,
        distance = sd.distance))
  }

  /** Per-partition budget for new-page creation — the reference's
    * `db.update.max.newpages` per-reducer cap (DbUpdateReducer.java:102-106;
    * the intent is a per-reducer ceiling on frontier growth so a link-farm
    * host cannot explode the store in one update). max = 0 means unlimited. */
  final class NewPageBudget(val max: Long) extends Serializable {
    private var used = 0L
    def tryAcquire(): Boolean =
      if (max != 0 && used >= max) false else { used += 1; true }
  }

  /** Reduce side for one url group, fed in (score desc) order
    * (DbUpdateReducer.reduce). Pure, shared with refsim. Returns None when
    * additions are disallowed (or the new-page budget is exhausted) and the
    * url is new. May leave the iterator partially consumed (the reference
    * breaks at the inlink cap). */
  def reduceUrl(url: String, msgs: Iterator[UpdateMsg], conf: CrawlConfig,
      curTime: Long, round: Int,
      newPages: NewPageBudget = new NewPageBudget(0)): Option[WebPage] = {
    val schedule = FetchSchedule(conf)
    val opic = ScoringFilter(conf)

    var page: WebPage = null
    val inlinked = scala.collection.mutable.LinkedHashMap.empty[String, ScoreDatum]
    var capped = false
    while (msgs.hasNext && !capped) {
      val m = msgs.next()
      if (m.isPage) {
        if (page == null || page.fetchTime < m.page.fetchTime) page = m.page
      } else {
        val keep = inlinked.get(m.srcUrl).forall(_.fetchTime < m.fetchTime)
        if (keep)
          inlinked.update(m.srcUrl,
            ScoreDatum(m.score, m.srcUrl, m.anchor, m.fetchTime, m.distance))
        if (inlinked.size >= conf.maxInlinks) capped = true
      }
    }
    // insertion order == score-desc order, thanks to the secondary sort
    val inlinks = inlinked.values.toSeq

    if (page == null) {
      if (!conf.additionsAllowed) return None
      if (!newPages.tryAcquire()) return None
      var p = WebPage(url = url, key = UrlUtil.uuid3(url), status = CrawlStatus.UNFETCHED)
      p = schedule.initializeSchedule(p, curTime)
      p = opic.initialScore(p)
      page = p
    } else {
      page.status match {
        case CrawlStatus.FETCHED | CrawlStatus.REDIR_TEMP | CrawlStatus.REDIR_PERM |
            CrawlStatus.NOTMODIFIED =>
          var modified = ModifiedState.UNKNOWN
          if (page.status == CrawlStatus.NOTMODIFIED) modified = ModifiedState.NOTMODIFIED
          if (page.prevSignature != null && page.signature != null) {
            modified =
              if (Signatures.compare(page.prevSignature, page.signature) != 0)
                ModifiedState.MODIFIED
              else ModifiedState.NOTMODIFIED
          }
          val fetchTime = page.fetchTime
          val prevFetchTime = page.prevFetchTime
          var modifiedTime = page.modifiedTime
          var prevModifiedTime = page.prevModifiedTime
          page.headers.get("Last-Modified").foreach { lm =>
            try {
              modifiedTime = java.time.ZonedDateTime
                .parse(lm, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
                .toInstant.toEpochMilli
              prevModifiedTime = page.modifiedTime
            } catch { case _: Exception => }
          }
          page = schedule.setFetchSchedule(page, prevFetchTime, prevModifiedTime,
            fetchTime, modifiedTime, modified)
          if (conf.fetchIntervalMax < page.fetchInterval)
            page = schedule.forceRefetch(page, curTime, asap = false)
        case CrawlStatus.RETRY =>
          page = schedule.setPageRetrySchedule(page, 0L, page.prevModifiedTime, page.fetchTime)
          page =
            if (page.retriesSinceFetch < conf.retryMax)
              page.copy(status = CrawlStatus.UNFETCHED)
            else page.copy(status = CrawlStatus.GONE)
        case CrawlStatus.GONE =>
          page = schedule.setPageGoneSchedule(page, 0L, page.prevModifiedTime, page.fetchTime)
        case _ =>
      }
    }

    // rebuild inlinks from this round's messages
    page = page.copy(inlinks = inlinks.map(sd => sd.url -> sd.anchor).toMap)

    // distance = smallest inlink distance + 1, if it improves
    val smallest = inlinks.iterator.map(_.distance).minOption.getOrElse(Int.MaxValue)
    if (smallest != Int.MaxValue) {
      val oldDist = page.markers.get(Marks.DISTANCE).map(_.toInt).getOrElse(Int.MaxValue)
      val newDist = smallest + 1
      if (newDist < oldDist)
        page = Marks.put(page, Marks.DISTANCE, newDist.toString)
    }

    page = opic.updateScore(page, inlinks)

    if (page.metadata.contains(FetcherJobKeys.RedirectDiscovered))
      page = page.copy(metadata = page.metadata - FetcherJobKeys.RedirectDiscovered)

    page.markers.get(Marks.PARSE).foreach { parseMark =>
      page = Marks.put(page, Marks.UPDATEDB, parseMark)
    }
    Some(page.copy(round = round))
  }

  /** Streaming consecutive-url grouper over a (url, score desc)-sorted
    * partition — the MR grouping-comparator equivalent. */
  private def reducePartition(it: Iterator[UpdateMsg], conf: CrawlConfig,
      curTime: Long, round: Int): Iterator[WebPage] = {
    val b = it.buffered
    val newPages = new NewPageBudget(conf.maxNewPages)
    new Iterator[Option[WebPage]] {
      override def hasNext: Boolean = b.hasNext
      override def next(): Option[WebPage] = {
        val url = b.head.url
        val group = new Iterator[UpdateMsg] {
          override def hasNext: Boolean = b.hasNext && b.head.url == url
          override def next(): UpdateMsg = b.next()
        }
        val res = reduceUrl(url, group, conf, curTime, round, newPages)
        while (group.hasNext) group.next() // drain past the inlink cap
        res
      }
    }.flatten
  }

  /** Shuffle key: partition on url; sort (url asc, score desc, src asc).
    * Page messages carry Float.MaxValue so they group first.
    * (A Catalyst Dataset exchange was measured slower here — see
    * GeneratorJob.generate's shuffle-choice note.) */
  case class UpdKey(url: String, score: Float, src: String)

  implicit val updKeyOrdering: Ordering[UpdKey] =
    Ordering.by((k: UpdKey) => (k.url, -k.score, k.src))

  private final class UrlOnlyPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int =
      (key.asInstanceOf[UpdKey].url.hashCode & Int.MaxValue) % n
  }

  def update(spark: SparkSession, batchRows: Dataset[WebPage], conf: CrawlConfig,
      curTime: Long, round: Int): Dataset[WebPage] = {
    import spark.implicits._
    val opic = ScoringFilter(conf)
    val c = conf
    val t = curTime
    val r = round
    // `.rdd` before the map side, so the UpdateMsgs (each page message
    // carrying a whole WebPage) are never encoded into rows and back
    val keyed = batchRows.rdd.flatMap(p => mapPage(p, opic)).map { m =>
      (UpdKey(m.url, if (m.isPage) Float.MaxValue else m.score,
        if (m.srcUrl == null) "" else m.srcUrl), m)
    }
    val sorted = keyed.repartitionAndSortWithinPartitions(
      new UrlOnlyPartitioner(conf.numPartitions))
    spark.createDataset(sorted.mapPartitions(it => reducePartition(it.map(_._2), c, t, r)))
  }

  /** Counters for the bloom-gated merge, exposed so callers (and tests) can
    * observe that the store join saw only the bloom-positive slice.
    * Filled on the driver from the exact counts the positive-key aggregate
    * returns (NOT by incrementing inside filter closures, which Spark
    * re-executes on stage retry and once per action over an unpersisted
    * plan — the round-2 accumulator-accuracy finding), so the values are
    * stable under retries. */
  final case class SeenMergeMetrics(
      candidates: org.apache.spark.util.LongAccumulator,
      bloomPositives: org.apache.spark.util.LongAccumulator)

  object SeenMergeMetrics {
    def apply(spark: SparkSession): SeenMergeMetrics = SeenMergeMetrics(
      spark.sparkContext.longAccumulator("seenMerge.candidates"),
      spark.sparkContext.longAccumulator("seenMerge.bloomPositives"))
  }

  /** Rows produced by the reduce's new-page branch carry no pipeline marks. */
  private def isDiscovered(p: WebPage): Boolean =
    !p.markers.contains(Marks.GENERATE) && !p.markers.contains(Marks.INJECT)

  /** Exact candidate and bloom-positive counts plus the positive keys, built
    * by one aggregate. `keys` turns None once it holds more than `cap`
    * keys, so no task and not the driver ever hold more keys than the
    * broadcast that would carry them. */
  private final class PositiveKeys(cap: Long) extends Serializable {
    var candidates = 0L
    var positives = 0L
    var keys: Option[scala.collection.mutable.HashSet[String]] =
      Some(scala.collection.mutable.HashSet.empty)

    def add(key: String, positive: Boolean): PositiveKeys = {
      candidates += 1
      if (positive) {
        positives += 1
        keys.foreach(_ += key)
        bound()
      }
      this
    }

    def merge(o: PositiveKeys): PositiveKeys = {
      candidates += o.candidates
      positives += o.positives
      keys = for (a <- keys; b <- o.keys) yield a ++= b
      bound()
      this
    }

    private def bound(): Unit = if (keys.exists(_.size > cap)) keys = None
  }

  /** Fold a bloom-positive discovered page into the store's newest version
    * of its key: `cand` was built as initialScore(1.0) + updateScore
    * (inlinked), so its inlink cash is `cand.score - 1`; score and cash
    * accumulate by the OPIC update rule, distance and inlinks improve, and
    * every other field (schedule state first) stays the stored row's. */
  private def mergeInto(old: WebPage, cand: WebPage): WebPage = {
    val newScore = old.score + (cand.score - 1.0f)
    val oldDist = old.markers.get(Marks.DISTANCE).map(_.toInt).getOrElse(Int.MaxValue)
    val candDist = cand.markers.get(Marks.DISTANCE).map(_.toInt).getOrElse(Int.MaxValue)
    val withDist =
      if (candDist < oldDist) Marks.put(old, Marks.DISTANCE, candDist.toString) else old
    withDist.copy(score = newScore, cash = old.cash + newScore,
      inlinks = old.inlinks ++ cand.inlinks)
  }

  /** Scale path for discovered-URL handling (SURVEY.md C10/D3, north_rule):
    * at 10^10 frontier scale, "is this outlink new?" must not rescan the
    * store. The partitioned bloom bank prefilters candidates; only
    * bloom-positives meet the store. False positives can never drop URLs
    * (the store match is exact), and false negatives don't exist (bloom
    * property).
    *
    * Semantics upgrade over the reference: Nutch's reducer REPLACES an
    * existing-but-not-generated row with a fresh page when an inlink
    * arrives (same-key Gora put), losing its schedule state and score
    * history. Here the candidate's inlinked cash MERGES into the existing
    * row ([[mergeInto]]) — state-preserving. The byte-faithful behavior
    * remains the default (filterSeenNewPages = false).
    *
    * `store` is the RAW multi-version snapshot frame (columns = WebPage +
    * `snapshot_id`), not a resolved view: latest-key-wins is resolved per
    * positive key, after pruning, so no round materializes the full
    * latest-per-key window. The plan:
    *  1. one bounded aggregate over `updated` counts the candidates and
    *     collects the bloom-positive keys, or gives up on the set past
    *     `broadcastMaxKeys` (when the caller persists `updated`, this job
    *     also runs its shuffle and fills the cache);
    *  2. the store is filtered by membership in a broadcast of that set —
    *     one narrow scan, the putIfAbsent point-probe analogue;
    *  3. one cogroup of the positives with the pruned store rows takes
    *     each key's newest version and merges into it; a miss (a bloom
    *     false positive) stays a new page. Past the cap the same cogroup
    *     runs against the whole store, which then shuffles once;
    *  4. the other rows join the merged ones narrowly, coalesced to
    *     `updated`'s partition count, so a write runs one task per
    *     partition. */
  def mergeSeenNewPagesOverStore(spark: SparkSession, updated: Dataset[WebPage],
      seen: BloomSeen, store: org.apache.spark.sql.DataFrame,
      metrics: Option[SeenMergeMetrics] = None,
      broadcastMaxKeys: Long = 5000000L): Dataset[WebPage] = {
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.functions.{col, struct, udf}
    import spark.implicits._
    val sc = spark.sparkContext
    val b = sc.broadcast(seen)
    val rows = updated.rdd
    val n = rows.getNumPartitions
    val positive = (p: WebPage) => isDiscovered(p) && b.value.mightContain(p.key)
    val found = rows.treeAggregate(new PositiveKeys(broadcastMaxKeys))(
      (acc, p) => if (isDiscovered(p)) acc.add(p.key, b.value.mightContain(p.key)) else acc,
      _ merge _)
    metrics.foreach { m =>
      m.candidates.add(found.candidates)
      m.bloomPositives.add(found.positives)
    }
    val rest = rows.filter(p => !positive(p))
    if (found.positives == 0) return spark.createDataset(rest)

    val probed = found.keys.fold(store) { keys =>
      val kb = sc.broadcast(keys)
      val known = udf((k: String) => kb.value.contains(k))
      store.where(known(col("key")))
    }
    val pageCols = implicitly[Encoder[WebPage]].schema.map(f => col(f.name))
    val versions = probed
      .select(col("snapshot_id").as("_1"), struct(pageCols: _*).as("_2"))
      .as[(Long, WebPage)].rdd
      .map { case (sid, p) => (p.key, (sid, p)) }
    val merged = rows.filter(positive).map(p => (p.key, p))
      .cogroup(versions, new org.apache.spark.HashPartitioner(n))
      .flatMap { case (_, (cands, olds)) =>
        val newest = olds.reduceOption((x, y) => if (y._1 > x._1) y else x).map(_._2)
        cands.map(c => newest.fold(c)(mergeInto(_, c)))
      }
    spark.createDataset(rest.union(merged).coalesce(n))
  }
}
