package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.jobs._
import graft.model.{Marks, WebPage}
import graft.seen.BloomSeen
import graft.site.{FetchEnv, OutlinkSource}
import graft.table.SnapshotTable

case class RoundStats(
    round: Int,
    generated: Long,
    fetched: Long,
    gone: Long,
    redirected: Long,
    retried: Long,
    updated: Long,
    newPages: Long)

/** The crawl-round driver: inject once, then per round
  * generate -> fetch(+inline parse) -> updatedb, each stage committing a
  * snapshot to the frontier table — the dnutch/bin-crawl loop
  * (src/main/bin/dnutch:70-96, NutchSite.crawl:158-180) with the MR jobs
  * replaced by Catalyst-planned Dataset transformations (SURVEY.md §3.1).
  *
  * Determinism: batch ids are derived from the round number (the reference
  * uses a Random int, GeneratorJob.java:253-255), and each round's logical
  * "now" advances by a fixed step from a fixed base — every run over the
  * same seeds produces byte-identical frontier state.
  *
  * Resume: stages are idempotent reads of the previous snapshot; after a
  * crash, `run` consults the table HEAD's (round, stage) and continues with
  * the first missing stage (snapshot-based checkpoint resume, north_rule).
  */
final class Crawl(
    spark: SparkSession,
    tablePath: String,
    images: DataFrame,
    conf: CrawlConfig,
    source: OutlinkSource,
    env: FetchEnv = FetchEnv(),
    baseTime: Long = 1700000000000L,
    roundStepMs: Long = 86400L * 1000L) {

  import spark.implicits._

  val table = new SnapshotTable(tablePath)

  def batchIdOf(round: Int): String = s"batch-$round"
  def curTimeOf(round: Int): Long = baseTime + round.toLong * roundStepMs

  private val stageOrder = Map("inject" -> 0, "generate" -> 1, "fetch" -> 2, "update" -> 3,
    "compact" -> 3)

  private def view: Dataset[WebPage] =
    table.currentView(spark).drop("snapshot_id").as[WebPage]

  def inject(seeds: Seq[String]): Long = {
    val rows = InjectorJob.inject(spark, seeds.toDS(), conf, baseTime)
    table.append(rows.toDF(), 0, "inject")
  }

  def generate(round: Int): Long = {
    val out = GeneratorJob.generate(spark, view, conf, curTimeOf(round), batchIdOf(round), round)
    table.append(out.toDF(), round, "generate")
  }

  /** The generate stage committed exactly this round's fetchlist as its
    * delta snapshot, so fetch reads that delta directly — no full-table
    * scan, no key-resolution window (the reference's batch-id pushdown
    * filter A3, done one better: the delta IS the batch). */
  def fetchAndParse(round: Int): Long = {
    val batchId = batchIdOf(round)
    val sid = table.snapshotFor(round, "generate")
      .getOrElse(throw new IllegalStateException(s"generate snapshot missing for round $round"))
    val generated = table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage]
    val fetched = FetcherJob.fetch(spark, generated, images, env, conf, batchId,
      curTimeOf(round), round)
    val parsed = ParserJob.parse(spark, fetched, conf, source, batchId)
    table.append(parsed.toDF(), round, "fetch")
  }

  /** updatedb's cohort is exactly the fetch stage's delta snapshot. */
  def update(round: Int): Long = {
    val sid = table.snapshotFor(round, "fetch")
      .getOrElse(throw new IllegalStateException(s"fetch snapshot missing for round $round"))
    val batch = table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage]
    val updated = DbUpdateJob.update(spark, batch, conf, curTimeOf(round), round)
    if (conf.filterSeenNewPages) {
      // scale path: the partitioned bloom bank prefilters discovered urls;
      // bloom-positives probe the store and merge state-preservingly
      // (DbUpdateJob.mergeSeenNewPagesOverStore). The bank is MAINTAINED,
      // not rebuilt: one full build ever (or a checkpoint load on resume),
      // then O(delta) adds per round — the reference never rescans either
      // (putIfAbsent probes the store, FrontierJob.java:62-71). The store
      // side is the RAW multi-version frame: latest-key-wins resolution
      // happens after pruning to the positive keys, so no full
      // latest-per-key window materializes per round.
      // The merge reads `updated` three times: its positive-key aggregate,
      // then the pass-through rows and the positives of the write. Persist
      // it so the update shuffle and reduce run once, inside the aggregate
      // job, and the write reads the cache.
      val u = updated.persist(StorageLevel.MEMORY_AND_DISK)
      val seen = ensureSeenBank()
      val merged = DbUpdateJob.mergeSeenNewPagesOverStore(spark, u, seen,
        table.readAll(spark))
      val id = table.append(merged.toDF(), round, "update")
      // fold this round's new keys (generate and update deltas, one add)
      // into the bank and checkpoint it next to the snapshot, so a
      // restarted crawl loads instead of rebuilding
      catchUpSeenBank(seen)
      checkpointSeenBank(seen)
      u.unpersist()
      id
    } else {
      table.append(updated.toDF(), round, "update")
    }
  }

  // ---- URL-seen bank maintenance (SURVEY.md C10; VERDICT r2 weak item) ----

  /** Observability for tests/metrics: how many one-time full builds and
    * incremental delta-add batches this driver instance has performed. */
  @volatile var seenFullBuilds: Int = 0
  @volatile var seenDeltaAddBatches: Int = 0

  private var seenBank: Option[BloomSeen] = None
  /** Highest snapshot id whose keys are folded into the bank. */
  private var seenStateId: Long = 0L

  private def seenBankPath = s"$tablePath/_seen/bank"
  private def seenStatePath = s"$tablePath/_seen/STATE"
  private val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(hadoopConf)

  /** The seen bank for this crawl: in-memory if already held, else the
    * checkpoint next to the table, else ONE distributed build over the
    * store's raw key column (`readAll`, no view resolution — extra version
    * keys only cost bloom bits). A loaded or built bank is caught up to the
    * table HEAD by folding the delta snapshots committed since its state
    * id; a held bank is not: `update` folds the round's generate and update
    * deltas together after its commit. That leaves the round's generate
    * delta out of the bank during the merge, which cannot change a probe:
    * the only keys generate adds are version keys `uuid3(url + "#v" +
    * round)`, while discovered pages probe `uuid3(url)` of URLs normalized
    * without a `#` fragment — and bloom positives are confirmed by the
    * exact store join anyway. */
  private def ensureSeenBank(): BloomSeen = seenBank.getOrElse {
    val bank = loadSeenBank().getOrElse(buildSeenBank())
    catchUpSeenBank(bank)
    seenBank = Some(bank)
    bank
  }

  /** The checkpointed bank, or None when absent OR unreadable: a crashed
    * checkpoint (missing file, truncated bytes, garbage STATE) must degrade
    * to the one-time rebuild below — a probe structure is always
    * recoverable from the store, so no corruption may wedge the crawl. */
  private def loadSeenBank(): Option[BloomSeen] = {
    val fs = fsOf(seenStatePath)
    val statePath = new org.apache.hadoop.fs.Path(seenStatePath)
    if (!fs.exists(statePath)) None
    else try {
      val in = fs.open(statePath)
      val state = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      // versioned bank written by checkpointSeenBank; the unversioned path
      // is the pre-versioning checkpoint layout, still loadable
      val versioned = s"$seenBankPath.$state"
      val path =
        if (fs.exists(new org.apache.hadoop.fs.Path(versioned))) versioned
        else seenBankPath
      val b = BloomSeen.load(path, hadoopConf)
      seenStateId = state
      Some(b)
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  private def buildSeenBank(): BloomSeen = {
    val keys = table.readAll(spark).select(table.keyCol).as[String]
    val count = keys.count()
    val expected =
      if (conf.seenBloomCapacity > 0) conf.seenBloomCapacity
      else math.max(1000L, count * 8)
    val b = BloomSeen.build(keys.rdd, conf.seenBloomPartitions, expected,
      conf.seenBloomFpp)
    seenFullBuilds += 1
    seenStateId = table.head.getOrElse(0L)
    b
  }

  /** Fold the keys of every inject/generate/update delta committed after
    * the bank's state id (fetch deltas re-write generate's keys; compact
    * rewrites existing keys — both carry nothing new). One O(delta) add. */
  private def catchUpSeenBank(bank: BloomSeen): Unit = {
    val stages = Set("inject", "generate", "update")
    val missing = table.snapshots.filter(s => s.id > seenStateId && stages(s.stage))
    if (missing.nonEmpty) {
      val keys = missing.map(s => table.readSnapshot(spark, s.id))
        .reduce(_.unionByName(_)).select(table.keyCol).as[String]
      BloomSeen.addAll(bank, keys.rdd)
      seenDeltaAddBatches += 1
      seenStateId = missing.map(_.id).max
    }
  }

  /** Versioned checkpoint: the bank is written to a FRESH `bank.<stateId>`
    * file and only then referenced by the atomically-swapped STATE, so a
    * crash at any point leaves the previously-referenced pair intact (the
    * in-place overwrite this replaces could truncate the only copy of the
    * bank mid-write). Superseded bank files are collected after the swap;
    * a crash inside the brief STATE delete→rename window just degrades the
    * next resume to the rebuild path via loadSeenBank's None. */
  private def checkpointSeenBank(bank: BloomSeen): Unit = {
    val fs = fsOf(seenStatePath)
    BloomSeen.save(bank, s"$seenBankPath.$seenStateId", hadoopConf)
    val tmp = new org.apache.hadoop.fs.Path(s"$tablePath/_seen/.STATE.tmp")
    val out = fs.create(tmp, true)
    try out.write(seenStateId.toString.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(seenStatePath)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    val keep = s"bank.$seenStateId"
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$tablePath/_seen")).foreach { st =>
      val name = st.getPath.getName
      if (name != keep && (name == "bank" || name.startsWith("bank.")))
        fs.delete(st.getPath, false)
    }
  }

  /** Run the crawl for `depth` rounds, resuming from whatever the table has
    * already completed. Returns per-round stats (cheap counts off the
    * committed snapshots) when `collectStats`.
    *
    * Compaction runs every `compactEvery` rounds BY DEFAULT (0 disables):
    * the latest-key-wins view is a window over every delta since the last
    * base snapshot, so at 10^10 rows an uncompacted table makes each
    * generate round re-merge the whole history — bounding the delta chain
    * is the default, not an option the caller must remember. */
  def run(depth: Int, seeds: Seq[String], collectStats: Boolean = true,
      compactEvery: Int = 8): Seq[RoundStats] = {
    // resume from the last CRAWL stage: foreign snapshots (an offline
    // "linkrank" rescore, say) are skipped by the parent-chain walk — they
    // carry no evidence about this loop's progress, and treating one as
    // "round done" would silently drop the round's remaining fetch/update
    val done: Option[(Int, String)] =
      if (table.exists) table.lastCompletedOf(stageOrder.keySet) else None
    def completed(round: Int, stage: String): Boolean = done.exists { case (r, s) =>
      r > round || (r == round && stageOrder(s) >= stageOrder(stage))
    }
    if (!completed(0, "inject")) inject(seeds)
    (1 to depth).map { round =>
      if (!completed(round, "generate")) generate(round)
      if (!completed(round, "fetch")) fetchAndParse(round)
      if (!completed(round, "update")) update(round)
      if (compactEvery > 0 && round % compactEvery == 0 &&
        !done.exists { case (r, _) => r > round }) table.compact(spark, round)
      if (collectStats) statsOf(round) else RoundStats(round, 0, 0, 0, 0, 0, 0, 0)
    }
  }

  /** Per-round stats off the committed DELTA snapshots — they ARE the
    * round's cohorts: the update delta holds exactly the post-merge batch
    * rows plus the round's new pages, so no latest-key-wins window over the
    * whole table history is needed (the round-2 `statsOf` resolved the full
    * view per round: a per-round full-table scan at 10^10 rows). Falls back
    * to the resolved view only when a delta snapshot is missing (stats over
    * a foreign/compacted table). */
  def statsOf(round: Int): RoundStats = {
    import graft.model.CrawlStatus
    val batchId = batchIdOf(round)
    val rows = table.snapshotFor(round, "update") match {
      case Some(uid) => table.readSnapshot(spark, uid).drop("snapshot_id").as[WebPage]
      case None => view
    }
    val upd = rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val batch = upd.filter(_.markers.get(Marks.GENERATE).contains(batchId))
      val byStatus = batch.groupByKey(_.status).count().collect().toMap
      val generated = byStatus.values.sum
      val updatedRows = upd.filter(p => p.markers.get(Marks.UPDATEDB).contains(batchId))
      val newPages = upd.filter(p => p.round == round &&
        !p.markers.contains(Marks.GENERATE) && !p.markers.contains(Marks.INJECT))
      RoundStats(round,
        generated = generated,
        fetched = byStatus.getOrElse(CrawlStatus.FETCHED, 0L) +
          byStatus.getOrElse(CrawlStatus.NOTMODIFIED, 0L),
        gone = byStatus.getOrElse(CrawlStatus.GONE, 0L),
        redirected = byStatus.getOrElse(CrawlStatus.REDIR_TEMP, 0L) +
          byStatus.getOrElse(CrawlStatus.REDIR_PERM, 0L),
        retried = byStatus.getOrElse(CrawlStatus.RETRY, 0L) +
          byStatus.getOrElse(CrawlStatus.UNFETCHED, 0L),
        updated = updatedRows.count(),
        newPages = newPages.count())
    } finally upd.unpersist()
  }
}
