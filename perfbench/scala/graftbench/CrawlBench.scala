package graftbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.crawl.Crawl
import graft.jobs.{DbUpdateJob, FetcherJob, FetcherJobKeys, GeneratorJob, ParserJob}
import graft.model.{CrawlStatus, Marks, WebPage}
import graft.refsim.RefSim
import graft.seen.BloomSeen
import graft.table.SnapshotTable

/** What a crawl produced, compared run to run: per-round generated,
  * fetch-attempt and fetched counts, live URLs, and order-insensitive
  * hashes of the URL-seen set and of the fetch order (round, srcPartition,
  * _fseq_, url). A fetch attempt is a fetch-list page that went through
  * the fetcher, whatever the outcome (fetched, robots-denied, redirect,
  * retry or gone). */
final case class CrawlDigest(generated: Seq[Long], attempts: Seq[Long], fetched: Seq[Long],
    liveUrls: Long, seen: String, fetchOrder: String) {
  def json: String = Json.obj(Seq(
    "generated" -> Json.arr(generated.map(_.toString)),
    "attempts" -> Json.arr(attempts.map(_.toString)),
    "fetched" -> Json.arr(fetched.map(_.toString)),
    "live_urls" -> liveUrls.toString,
    "seen" -> Json.str(seen),
    "fetch_order" -> Json.str(fetchOrder)))
}

/** Seconds of one round: all of it, its fetchAndParse and its update. */
final case class RoundTime(wallS: Double, fetchS: Double, updateS: Double)

/** A finished crawl: its rounds' times, what it produced, the rows its
  * update stages committed and its table's bytes on disk. */
final case class CrawlRun(rounds: Seq[RoundTime], digest: CrawlDigest, updateRows: Long,
    tableBytes: Long) {
  def json: String = Json.obj(Seq(
    "rounds" -> Json.arr(rounds.zip(digest.attempts).map { case (t, n) =>
      Json.obj(Seq("wall_s" -> Json.num(t.wallS), "fetch_s" -> Json.num(t.fetchS),
        "update_s" -> Json.num(t.updateS), "items" -> n.toString))
    }),
    "digest" -> digest.json,
    "update_rows" -> updateRows.toString,
    "table_bytes" -> tableBytes.toString))
}

/** The traced crawl: its wall time (all rounds), digest and table bytes. */
final case class TracedCrawl(wallS: Double, digest: CrawlDigest, tableBytes: Long) {
  def json: String = Json.obj(Seq("wall_s" -> Json.num(wallS), "digest" -> digest.json))
}

object CrawlBench {

  private def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def hashSum(cols: org.apache.spark.sql.Column*) =
    sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Crawl.run's call sequence: inject, then per round generate,
    * fetchAndParse, update, and compaction every `compactEvery` rounds.
    * Returns the crawl and each round's times (inject is not timed). */
  def crawl(spark: SparkSession, tableDir: String, images: DataFrame, in: CrawlInputs,
      compactEvery: Int, afterRound: () => Unit = () => ()): (Crawl, Seq[RoundTime]) = {
    val crawl = new Crawl(spark, tableDir, images, in.shape.conf, in.source, in.env)
    crawl.inject(in.seeds)
    val times = (1 to in.shape.rounds).map { r =>
      val t0 = System.nanoTime()
      crawl.generate(r)
      val tf = System.nanoTime()
      crawl.fetchAndParse(r)
      val tu = System.nanoTime()
      crawl.update(r)
      val te = System.nanoTime()
      if (r % compactEvery == 0) crawl.table.compact(spark, r)
      val time = RoundTime(secondsOf(t0), (tu - tf) / 1e9, (te - tu) / 1e9)
      afterRound()
      time
    }
    (crawl, times)
  }

  /** The timed crawl on a fresh table, then its digest (untimed). */
  def timed(spark: SparkSession, tableDir: String, images: DataFrame,
      in: CrawlInputs, afterRound: () => Unit): CrawlRun = {
    val (crawl, times) =
      this.crawl(spark, tableDir, images, in, in.shape.compactEvery, afterRound)
    val (digest, updateRows) = digestOf(spark, crawl.table, in.shape.rounds)
    CrawlRun(times, digest, updateRows, dirBytes(new java.io.File(tableDir)))
  }

  /** Digest of a finished crawl from its committed snapshots; also returns
    * the rows committed by the update stages. Keys derive from the URL, so
    * the distinct URLs of all row versions are the current view's. */
  def digestOf(spark: SparkSession, table: SnapshotTable,
      rounds: Int): (CrawlDigest, Long) = {
    val stageOf = (1 to rounds).flatMap { r =>
      Seq("generate", "fetch", "update").map(st => table.snapshotFor(r, st).get -> (r, st))
    }.toMap
    val okStatus = col("status").isin(CrawlStatus.FETCHED, CrawlStatus.NOTMODIFIED)
    val perSnapshot = stageOf.keys.toSeq.map(table.readSnapshot(spark, _))
      .reduce(_.unionByName(_))
      .groupBy(col("snapshot_id"))
      .agg(count(lit(1)), sum(when(okStatus, 1L).otherwise(0L)),
        hashSum(col("round"), col("srcPartition"),
          col("metadata").getItem(FetcherJobKeys.FetchSeq), col("url")))
      .collect().map(row => stageOf(row.getLong(0)) -> row).toMap
    val urls = table.readAll(spark).select(col("url")).distinct()
      .agg(count(lit(1)), hashSum(col("url"))).head()
    val rs = 1 to rounds
    def of(stage: String) = rs.map(r => perSnapshot((r, stage)))
    (CrawlDigest(
      generated = of("generate").map(_.getLong(1)),
      attempts = of("fetch").map(_.getLong(1)),
      fetched = of("fetch").map(_.getLong(2)),
      liveUrls = urls.getLong(0),
      seen = s"${urls.getLong(0)}:${urls.getDecimal(1)}",
      fetchOrder = s"${of("fetch").map(_.getLong(1)).sum}:" +
        of("fetch").map(_.getDecimal(3)).reduce(_ add _)),
      of("update").map(_.getLong(1)).sum)
  }

  /** Per-layer counters of a traced crawl beyond the span totals. */
  final class Counters {
    var scheduled = 0L
    var scheduledFetched = 0L
    var candidates = 0L
    var bloomPositives = 0L
    var confirmed = 0L
    var bankBytes = 0L
    var keysFolded = 0L
  }

  /** The traced crawl: the layer functions Crawl calls, in Crawl's order,
    * each under its own job group and materialized before the next, so
    * layer spans do not overlap. The URL-seen bank is maintained like
    * Crawl's (one build, then catch-up adds and a checkpoint per round). */
  def traced(spark: SparkSession, tableDir: String, images: DataFrame, in: CrawlInputs,
      tr: Tracer): (TracedCrawl, Counters) = {
    import spark.implicits._
    val shape = in.shape
    val conf = shape.conf
    require(conf.filterSeenNewPages, "the traced crawl follows Crawl.update's seen-bank path")
    val source = in.source
    val crawl = new Crawl(spark, tableDir, images, conf, source, in.env)
    val table = crawl.table
    val c = new Counters
    val hadoopConf = new org.apache.hadoop.conf.Configuration()
    var bank: Option[BloomSeen] = None
    var bankState = 0L
    val bankStages = Set("inject", "generate", "update")

    def persisted[T](ds: Dataset[T]): Dataset[T] = ds.persist(StorageLevel.MEMORY_AND_DISK)
    def catchUp(b: BloomSeen): Unit = {
      val missing = table.snapshots.filter(s => s.id > bankState && bankStages(s.stage))
      if (missing.nonEmpty) {
        val keys = missing.map(s => table.readSnapshot(spark, s.id))
          .reduce(_.unionByName(_)).select(table.keyCol).as[String]
        BloomSeen.addAll(b, keys.rdd)
        bankState = missing.map(_.id).max
      }
    }
    def ensureBank(): BloomSeen = {
      val b = bank.getOrElse {
        val keys = table.readAll(spark).select(table.keyCol).as[String]
        val n = keys.count()
        val expected =
          if (conf.seenBloomCapacity > 0) conf.seenBloomCapacity else math.max(1000L, n * 8)
        val built = BloomSeen.build(keys.rdd, conf.seenBloomPartitions, expected,
          conf.seenBloomFpp)
        bankState = table.head.getOrElse(0L)
        bank = Some(built)
        built
      }
      catchUp(b)
      b
    }
    def newKeysSinceBank(): Long =
      table.snapshots.filter(s => s.id > bankState && bankStages(s.stage))
        .map(s => table.readSnapshot(spark, s.id).count()).sum

    crawl.inject(in.seeds)
    val t0 = System.nanoTime()
    tr.scope("crawl") {
      (1 to shape.rounds).foreach { r =>
        tr.scope(s"round-$r") {
          val batchId = crawl.batchIdOf(r)
          val now = crawl.curTimeOf(r)

          val view = tr.layer("table.view")(
            persisted(table.currentView(spark).drop("snapshot_id").as[WebPage]))(_.count())
          val gen = tr.layer("generate")(
            persisted(GeneratorJob.generate(spark, view, conf, now, batchId, r)))(_.count())
          val genN = gen.count()
          val genId = tr.layer("table.append")(table.append(gen.toDF(), r, "generate"))(_ => genN)
          view.unpersist(); gen.unpersist()

          val generated = table.readSnapshot(spark, genId).drop("snapshot_id").as[WebPage]
          val sched = tr.layer("fetch.schedule")(persisted(FetcherJob.scheduleFetchlist(
            spark, generated, in.env, conf, batchId, now, r)))(_.count())
          c.scheduled += sched.count()
          c.scheduledFetched += sched.filter(_.status == CrawlStatus.FETCHED).count()
          val payload = tr.layer("fetch.payload")(
            persisted(FetcherJob.attachPayloads(spark, sched, images)))(_.count())
          val parsed = tr.layer("parse")(
            persisted(ParserJob.parse(spark, payload, conf, source, batchId)))(_.count())
          val parsedN = parsed.count()
          val fetchId = tr.layer("table.append")(table.append(parsed.toDF(), r, "fetch"))(_ => parsedN)
          sched.unpersist(); payload.unpersist(); parsed.unpersist()

          val batch = table.readSnapshot(spark, fetchId).drop("snapshot_id").as[WebPage]
          val upd = tr.layer("update")(
            persisted(DbUpdateJob.update(spark, batch, conf, now, r)))(_.count())
          c.keysFolded += newKeysSinceBank()
          val b = tr.layer("seen.bank")(ensureBank())(_ => 0L)
          val metrics = DbUpdateJob.SeenMergeMetrics(spark)
          val merged = tr.layer("seen.merge")(persisted(DbUpdateJob.mergeSeenNewPagesOverStore(
            spark, upd, b, table.readAll(spark), Some(metrics))))(_.count())
          c.candidates += metrics.candidates.value
          c.bloomPositives += metrics.bloomPositives.value
          c.confirmed += confirmedHits(spark, upd, b, table)
          val n = merged.count()
          tr.layer("table.append")(table.append(merged.toDF(), r, "update"))(_ => n)
          merged.unpersist()
          c.keysFolded += newKeysSinceBank()
          tr.layer("seen.bank") {
            catchUp(b)
            BloomSeen.save(b, s"$tableDir/_seen/bank.$bankState", hadoopConf)
          }(_ => 0L)
          c.bankBytes = b.parts.map(_.numBits / 8).sum
          upd.unpersist()
          if (r % shape.compactEvery == 0)
            tr.layer("table.compact")(table.compact(spark, r))(_ =>
              table.readSnapshot(spark, table.head.get).count())
        }
      }
    }
    val wall = secondsOf(t0)
    tr.rowsOut("seen.bank") = c.keysFolded
    (TracedCrawl(wall, digestOf(spark, table, shape.rounds)._1,
      dirBytes(new java.io.File(tableDir))), c)
  }

  /** Bloom-positive discovered pages whose key the store really holds. */
  private def confirmedHits(spark: SparkSession, upd: Dataset[WebPage], bank: BloomSeen,
      table: SnapshotTable): Long = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(bank)
    val positives = upd
      .filter(p => !p.markers.contains(Marks.GENERATE) && !p.markers.contains(Marks.INJECT))
      .filter(p => b.value.mightContain(p.key))
      .select(col("key"))
    val n = positives.join(table.readAll(spark).select(col("key")).distinct(), Seq("key"),
      "left_semi").count()
    b.destroy()
    n
  }

  /** RefSim's view of a crawl: per round the fetch outcomes as
    * "url status" in (partition, fetch sequence) order, and the final
    * URL-seen set. */
  final case class Reference(rounds: Seq[Seq[String]], seen: Seq[String])

  /** RefSim over the whole `in` crawl. RefSim replaces a re-linked existing
    * page where the seen-bank merge keeps it, so with filterSeenNewPages the
    * two can differ from round 3's fetch list on; `in` must then stop at
    * round 2. */
  def reference(in: CrawlInputs): Reference = {
    require(!in.shape.conf.filterSeenNewPages || in.shape.rounds <= 2,
      "RefSim does not model the seen-bank merge past round 2")
    val sim = new RefSim(in.shape.conf, LayoutUniverse(in.layout), in.source, in.env)
    sim.inject(in.seeds)
    val rounds = (1 to in.shape.rounds).map { r =>
      sim.generate(r)
      val fetched = sim.fetchAndParse(r)
        .sortBy(p => (p.srcPartition, p.metadata(FetcherJobKeys.FetchSeq).toInt))
        .map(p => s"${p.url} ${p.status}")
      sim.update(r)
      fetched
    }
    Reference(rounds, sim.seenUrls.toSeq.sorted)
  }

  /** Compare a finished engine crawl of `rounds` rounds with RefSim's;
    * one (check, ok, detail) per round's fetch outcomes and one for the
    * URL-seen set. */
  def compareWith(spark: SparkSession, table: SnapshotTable,
      ref: Reference): Seq[(String, Boolean, String)] = {
    def differ(what: String, a: Seq[String], b: Seq[String]): String =
      if (a == b) ""
      else {
        val i = a.zip(b).indexWhere { case (x, y) => x != y }
        val at = if (i < 0) math.min(a.size, b.size) else i
        s"$what: engine ${a.size} vs refsim ${b.size}, first difference at $at: " +
          s"${a.lift(at).getOrElse("-")} vs ${b.lift(at).getOrElse("-")}"
      }
    val orders = ref.rounds.zipWithIndex.map { case (want, i) =>
      val r = i + 1
      val got = table.readSnapshot(spark, table.snapshotFor(r, "fetch").get)
        .select(col("srcPartition"),
          col("metadata").getItem(FetcherJobKeys.FetchSeq).cast("int").as("seq"),
          concat_ws(" ", col("url"), col("status")))
        .orderBy("srcPartition", "seq").collect().map(_.getString(2)).toSeq
      val d = differ(s"round $r fetch outcomes", got, want)
      (s"refsim.fetch_order.round$r", d.isEmpty, d)
    }
    val seen = table.readAll(spark).select("url").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val d = differ("seen set", seen, ref.seen)
    orders :+ (("refsim.seen_set", d.isEmpty, d))
  }
}
