package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.model.{Marks, WebPage}
import graft.site.MapOutlinks

/** The bloom-gated discovered-URL merge (scale path): an inlink to an
  * existing-but-not-generated page must MERGE into its row instead of
  * replacing it with a fresh one (the reference's same-key put would reset
  * schedule state and score history).
  */
class SeenMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("existing non-generated page keeps identity and accumulates cash when linked") {
    val a = "http://m.test/a.html"
    val b = "http://m.test/b.html"
    // A links to B every round; generate.max.distance=0 keeps B (dist 1)
    // out of every fetchlist, so its row only ever receives inlink cash
    val edges = Map(a -> Seq(b -> ""))
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 2,
      fetcherServerDelayMs = 10, generateMaxDistance = 0, filterSeenNewPages = true)
    val dir = SparkTestBase.tmpDir("seen-merge")
    val images = Seq(a, b).map(u => ImageSynth.rowForUrl(u, 16, 16)).toDF()
    val crawl = new Crawl(spark, dir, images, conf, MapOutlinks(edges))

    // seed A with a high score so it stays the per-partition top-1 pick
    crawl.inject(Seq(s"$a\tnutch.score=100"))
    def rows: Map[String, WebPage] =
      crawl.table.currentView(spark).drop("snapshot_id").as[WebPage]
        .collect().groupBy(_.url).map { case (u, vs) => u -> vs.maxBy(_.fetchTime) }

    crawl.generate(1); crawl.fetchAndParse(1); crawl.update(1)

    // the raw update-stage delta (not the deduping currentView) must emit
    // each key exactly once — a bloom-negative new page must not flow
    // through both the definitely-new branch and the store join
    val sid1 = crawl.table.snapshotFor(1, "update").get
    val deltaKeys = crawl.table.readSnapshot(spark, sid1)
      .drop("snapshot_id").as[WebPage].collect().map(_.key).toSeq
    assert(deltaKeys.length == deltaKeys.distinct.length,
      s"duplicate keys in update delta: ${deltaKeys.diff(deltaKeys.distinct)}")

    val b1 = rows(b)
    assert(b1.score > 1.0f) // created new with inlink cash
    assert(b1.markers.get(Marks.DISTANCE).contains("1"))
    val fetchTime1 = b1.fetchTime

    crawl.generate(2); crawl.fetchAndParse(2); crawl.update(2)
    val b2 = rows(b)
    // merged, not replaced: score accumulated beyond a fresh page's
    assert(b2.score > b1.score, s"score should accumulate: ${b1.score} -> ${b2.score}")
    // schedule state preserved (a fresh replace would reset fetchTime to curTime(2))
    assert(b2.fetchTime == fetchTime1, "existing schedule state must survive the merge")
    assert(b2.inlinks.contains(a))
    // only A was ever fetched
    assert(rows(a).status == graft.model.CrawlStatus.FETCHED)
    assert(b2.status == graft.model.CrawlStatus.UNFETCHED)
  }

  test("store-probe merge resolves latest-key-wins AFTER pruning (multi-version store frame)") {
    import graft.jobs.DbUpdateJob
    import graft.seen.BloomSeen
    import org.apache.spark.sql.functions.{col, lit}
    // the same key across two snapshots: the merge must fold into the
    // NEWER version (snapshot_id 7), not the stale one
    val vOld = WebPage(key = "k1", url = "http://h.test/e1", score = 2.0f, cash = 1.0f)
    val vNew = WebPage(key = "k1", url = "http://h.test/e1", score = 9.0f, cash = 3.0f)
    val other = WebPage(key = "k2", url = "http://h.test/e2", score = 5.0f)
    val store = spark.createDataset(Seq(vOld, other)).toDF().withColumn("snapshot_id", lit(3L))
      .unionByName(spark.createDataset(Seq(vNew)).toDF().withColumn("snapshot_id", lit(7L)))
    val seen = BloomSeen.empty(numParts = 4, expectedItems = 1000, fpp = 0.01)
    seen.add("k1"); seen.add("k2")
    val cand = WebPage(key = "k1", url = "http://h.test/e1", score = 1.5f)
    val updated = spark.createDataset(Seq(cand))
    val out = DbUpdateJob.mergeSeenNewPagesOverStore(spark, updated, seen, store).collect()
    assert(out.length == 1)
    // merged into vNew: score = 9.0 + (1.5 - 1.0) = 9.5, cash = 3.0 + 9.5
    assert(math.abs(out.head.score - 9.5f) < 1e-6, s"merged into the wrong version: ${out.head.score}")
    assert(math.abs(out.head.cash - 12.5f) < 1e-6)
  }

  test("store join sees only the bloom-positive candidate slice, once each") {
    import graft.jobs.DbUpdateJob
    import graft.seen.BloomSeen
    import org.apache.spark.sql.functions.lit
    val existing = (1 to 5).map(i =>
      WebPage(key = s"k$i", url = s"http://h.test/e$i", score = 2.0f, cash = 1.0f))
    val seen = BloomSeen.empty(numParts = 4, expectedItems = 1000, fpp = 0.01)
    existing.foreach(p => seen.add(p.key))
    // candidates: 3 keys already in the store + 50 brand-new ones
    val candSeen = (1 to 3).map(i =>
      WebPage(key = s"k$i", url = s"http://h.test/e$i", score = 1.5f))
    val candNew = (1 to 50).map(i =>
      WebPage(key = s"n$i", url = s"http://h.test/n$i", score = 1.5f))
    val batch = Seq(WebPage(key = "g1", url = "http://h.test/g1",
      markers = Map(Marks.GENERATE -> "b-1")))
    val updated = spark.createDataset(batch ++ candSeen ++ candNew)
    val metrics = DbUpdateJob.SeenMergeMetrics(spark)
    val store = spark.createDataset(existing).toDF().withColumn("snapshot_id", lit(1L))
    val out = DbUpdateJob.mergeSeenNewPagesOverStore(spark, updated, seen, store,
      Some(metrics)).collect()

    // exactly one output row per input key, nothing lost, nothing doubled
    val keys = out.map(_.key).toSeq
    assert(keys.length == keys.distinct.length,
      s"duplicated keys: ${keys.diff(keys.distinct)}")
    assert(keys.sorted == (batch ++ candSeen ++ candNew).map(_.key).sorted)

    // the store join's input was exactly the bloom-positive slice
    val expectedPositives = (candSeen ++ candNew).count(p => seen.mightContain(p.key))
    assert(metrics.candidates.value == (candSeen.size + candNew.size).toLong)
    assert(metrics.bloomPositives.value == expectedPositives.toLong)
    // sanity: the prefilter actually filtered (some negatives existed)
    assert(expectedPositives < candSeen.size + candNew.size)

    // a bloom-positive store hit merged state-preservingly
    val m = out.find(_.key == "k1").get
    assert(math.abs(m.score - 2.5f) < 1e-6, s"score merged wrong: ${m.score}")
    assert(m.cash > 1.0f)
  }

  test("past the positive-key cap the merge falls back to the whole store, row for row") {
    import graft.jobs.DbUpdateJob
    import graft.seen.BloomSeen
    import org.apache.spark.sql.functions.lit
    val vOld = WebPage(key = "k1", url = "http://h.test/e1", score = 2.0f, cash = 1.0f)
    val vNew = WebPage(key = "k1", url = "http://h.test/e1", score = 9.0f, cash = 3.0f,
      fetchTime = 42L)
    val other = WebPage(key = "k2", url = "http://h.test/e2", score = 5.0f)
    val store = spark.createDataset(Seq(vOld, other)).toDF().withColumn("snapshot_id", lit(3L))
      .unionByName(spark.createDataset(Seq(vNew)).toDF().withColumn("snapshot_id", lit(7L)))
    val seen = BloomSeen.empty(numParts = 4, expectedItems = 1000, fpp = 0.01)
    // "fp" is in the bank but not in the store: a bloom false positive
    Seq("k1", "k2", "fp").foreach(seen.add)
    assert(!seen.mightContain("neg"))
    val discovered = Seq("k1", "fp", "neg").map(k =>
      WebPage(key = k, url = s"http://h.test/$k", score = 1.5f,
        markers = Map(Marks.DISTANCE -> "1")))
    val batch = Seq(
      WebPage(key = "g1", url = "http://h.test/g1", markers = Map(Marks.GENERATE -> "b-1")),
      WebPage(key = "i1", url = "http://h.test/i1", markers = Map(Marks.INJECT -> "y")))
    val updated = spark.createDataset(batch ++ discovered).repartition(3)
    def run(cap: Long): (Seq[WebPage], Long, Long) = {
      val m = DbUpdateJob.SeenMergeMetrics(spark)
      val out = DbUpdateJob.mergeSeenNewPagesOverStore(spark, updated, seen, store, Some(m),
        broadcastMaxKeys = cap).collect().toSeq.sortBy(_.key)
      (out, m.candidates.value, m.bloomPositives.value)
    }
    val (pruned, candidates, positives) = run(5000000L)
    val (fallback, candidates0, positives0) = run(0L)
    assert(fallback == pruned)
    assert((candidates, positives) == ((3L, 2L)))
    assert((candidates0, positives0) == ((candidates, positives)))
    val byKey = pruned.map(p => p.key -> p).toMap
    assert(byKey.keySet == Set("g1", "i1", "k1", "fp", "neg"))
    // the newest version (snapshot 7) won, its schedule state kept
    assert(math.abs(byKey("k1").score - 9.5f) < 1e-6, s"merged wrong: ${byKey("k1").score}")
    assert(byKey("k1").fetchTime == 42L)
    assert(byKey("k1").markers.get(Marks.DISTANCE).contains("1"))
    // the false positive and the bloom negative stay new pages, untouched
    assert(byKey("fp") == discovered(1))
    assert(byKey("neg") == discovered(2))
    assert(byKey("g1") == batch.head && byKey("i1") == batch(1))
  }
}
