package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up (several times), check outputs
  * against the reference, then either time repetitions for `seconds` or run
  * the traced repetition. Writes one JSON document to `--out`; perfbench's
  * run.py turns it into the command's result line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cpus: Int, out: String, data: String)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cpus").toInt, m("out"), m.getOrElse("data", ""))
  }

  val CrawlLayers = Seq("table.view", "generate", "fetch.schedule", "fetch.payload", "parse",
    "update", "seen.merge", "seen.bank", "table.append", "table.compact")
  val CrawlRatios = Seq("table.view.rows_read_per_live_row", "generate.selected_ratio",
    "fetch.schedule.fetched_ratio", "seen.merge.bloom_positive_ratio",
    "seen.merge.confirmed_ratio", "seen.bank.bytes", "table.append.bytes_per_row",
    "table.bytes_per_page")

  def session(a: Args): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrationRequired", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // query rows travel as JSON; keep null columns so every row has them
      .config("spark.sql.jsonGenerator.ignoreNullFields", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation occupancy right after a full collection, in MB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
      p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured"))
    }
    old.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum /
      (1024.0 * 1024.0)
  }

  private def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9


  /** Set up `Setups` times (session start, input registration, warm-up)
    * and keep the last session; returns it with each set-up's seconds.
    * `prepare(session, k)` returns the seconds of its work that is not
    * set-up (input synthesis and output checks in the first set-up). */
  private def setUp(a: Args, prepare: (SparkSession, Int) => Double)
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val excluded = prepare(spark, k)
      phase(s"setup-$k")
      secondsOf(t0) - excluded
    }
    (spark, times)
  }

  private def timing(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    secondsOf(t0)
  }

  private def check(name: String, ok: Boolean, detail: String): String =
    Json.obj(Seq("name" -> Json.str(name), "ok" -> ok.toString, "detail" -> Json.str(detail)))

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def queryMetrics(tr: Option[Tracer]): Seq[(String, Double)] =
    AnalyticsBench.Headline.flatMap { q =>
      val name = s"query.$q"
      Seq(s"$name.wall_s" -> tr.flatMap(_.wall.get(name)).getOrElse(0.0),
        s"$name.shuffle_write_mb" ->
          tr.map(_.totals(name).shuffleWrite / (1024.0 * 1024.0)).getOrElse(0.0))
    }

  /** Wall-clock milestones of the run (seconds since JVM start), reported
    * alongside the result so a slow phase is visible. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - jvmStart) / 1e3

  def main(argv: Array[String]): Unit = {
    phase("main")
    val a = parse(argv)
    new File(a.work).mkdirs()
    val doc = a.workload match {
      case "crawl" => runCrawl(a)
      case "analytics" => runAnalytics(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("end")
    val withPhases = doc.stripSuffix("}") +
      ",\"phases\":" + Json.obj(phases.map { case (k, v) => k -> Json.num(v) }) + "}"
    java.nio.file.Files.writeString(new File(a.out).toPath, withPhases)
  }

  // ------------------------------------------------------------------ crawl

  /** The warm-up crawl: one round of the workload's shape on a reduced
    * universe with 24x24 payloads. */
  private def reduced(in: CrawlInputs, seed: Long): CrawlInputs = {
    val s = in.shape
    CrawlInputs(s.copy(pages = s.pages / 8, imageSide = 24, rounds = 1), seed)
  }

  def runCrawl(a: Args): String = {
    val in = CrawlInputs(CrawlShape.crawl, a.seed)
    val warm = reduced(in, a.seed)
    def corpusOf(c: CrawlInputs) = s"${a.work}/corpus/${a.seed}/" +
      s"${c.shape.pages}x${c.shape.imageSide}-${c.layout.hostEnds.toSeq.hashCode}"
    val tables = new File(s"${a.work}/tables")
    FileUtils.deleteQuietly(tables)
    val reference = CrawlBench.reference(warm)

    // set-up: session start, input registration, and a one-round warm-up
    // crawl that also compacts. The first set-up also builds the inputs
    // (once per workload and seed; not counted as set-up time) and compares
    // its warm-up crawl with RefSim.
    var checks = Seq.empty[String]
    val (spark, setupS) = setUp(a, { (s, k) =>
      val inputs = if (k > 0) 0.0 else timing {
        Corpus.write(s, corpusOf(in), in.layout, in.shape.imageSide)
        Corpus.write(s, corpusOf(warm), warm.layout, warm.shape.imageSide)
        phase("inputs")
      }
      Corpus.register(s, "graftbench_images", corpusOf(in))
      Corpus.register(s, "graftbench_warm_images", corpusOf(warm))
      val dir = s"$tables/warm-$k"
      val (crawl, _) = CrawlBench.crawl(s, dir, s.table("graftbench_warm_images"),
        warm, compactEvery = 1)
      if (k == 0)
        checks = CrawlBench.compareWith(s, crawl.table, reference)
          .map { case (n, ok, d) => check(n, ok, d) }
      FileUtils.deleteQuietly(new File(dir))
      inputs
    })
    val images = spark.table("graftbench_images")

    // measurement: one crawl of the workload's rounds, each round one
    // repetition; a full collection after each round gives the heap sample
    val heap = mutable.ArrayBuffer.empty[Double]
    val run = CrawlBench.timed(spark, s"$tables/timed", images, in,
      afterRound = () => heap += oldGenAfterGcMb())
    FileUtils.deleteQuietly(new File(s"$tables/timed"))
    phase("timed")
    var traced = "null"
    if (a.trace) {
      val tr = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")
      val (t, c) = CrawlBench.traced(spark, s"$tables/traced", images, in, tr)
      def rows(layer: String): Double = tr.rowsOut.getOrElse(layer, 0L).toDouble
      val ratios = Seq(
        ratio(tr.totals("table.view").recordsRead, rows("table.view")),
        ratio(rows("generate"), rows("table.view")),
        ratio(c.scheduledFetched, c.scheduled),
        ratio(c.bloomPositives, c.candidates),
        ratio(c.confirmed, c.bloomPositives),
        c.bankBytes.toDouble,
        ratio(tr.totals("table.append").bytesWritten, tr.totals("table.append").recordsWritten),
        ratio(t.tableBytes, t.digest.liveUrls))
      val perLayer = CrawlLayers.flatMap(tr.layerMetrics) ++ CrawlRatios.zip(ratios) ++
        queryMetrics(None)
      java.nio.file.Files.writeString(new File(s"${a.work}/spans.json").toPath, tr.spansJson)
      tr.close()
      FileUtils.deleteQuietly(new File(s"$tables/traced"))
      traced = Json.obj(Seq(
        "run" -> t.json,
        "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.str(s"${a.work}/spans.json")))
    }
    spark.stop()
    FileUtils.deleteQuietly(tables)
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "timed" -> run.json,
      "heap_mb" -> Json.arr(heap.map(Json.num)),
      "checks" -> Json.arr(checks),
      "traced" -> traced))
  }

  // -------------------------------------------------------------- analytics

  def runAnalytics(a: Args): String = {
    // set-up: session start, input registration (every table's files and
    // schema) and one warm-up pass over the 15 queries, run concurrently.
    // The first set-up's pass also writes its rows for the oracle check;
    // every pass's digests must equal that pass's.
    val outDir = s"${a.work}/analytics-out"
    FileUtils.deleteQuietly(new File(outDir))
    val warmups = mutable.ArrayBuffer.empty[Seq[(String, Double, String)]]
    val (spark, setupTimes) = setUp(a, { (s, k) =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { t =>
        s.read.parquet(s"${a.data}/$t.parquet").schema
      }
      warmups += AnalyticsBench.warmPass(s, a.data, a.cpus, if (k == 0) Some(outDir) else None)
      0.0
    })
    java.nio.file.Files.writeString(new File(s"$outDir/oracle_sql.json").toPath,
      Json.obj(AnalyticsBench.oracleSql.map { case (k, v) => k -> Json.str(v) }))

    def digests(p: Seq[(String, Double, String)]): String =
      Json.obj(p.map { case (n, _, d) => n -> Json.str(d) })
    def passJson(p: Seq[(String, Double, String)]): String = Json.obj(Seq(
      "wall_s" -> Json.num(p.map(_._2).sum),
      "items" -> p.size.toString,
      "queries" -> Json.obj(p.map { case (n, s, _) => n -> Json.num(s) }),
      "digest" -> digests(p)))

    val reps = mutable.ArrayBuffer.empty[String]
    val heap = mutable.ArrayBuffer.empty[Double]
    var traced = ""
    if (!a.trace) {
      // passes for `seconds`, and at least two: the first pass after
      // set-up still runs slower
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      do {
        reps += passJson(AnalyticsBench.pass(spark, a.data))
        heap += oldGenAfterGcMb()
        phase(s"rep-${reps.size - 1}")
      } while (reps.size < 2 || System.nanoTime() < deadline)
    } else {
      // the untraced pass the traced one must reproduce
      reps += passJson(AnalyticsBench.pass(spark, a.data))
      heap += oldGenAfterGcMb()
      val tr = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")
      val t0 = System.nanoTime()
      val tracedDigests = AnalyticsBench.traced(spark, a.data, tr)
      val wall = secondsOf(t0)
      val perLayer = CrawlLayers.flatMap(tr.layerMetrics) ++ CrawlRatios.map(_ -> 0.0) ++
        queryMetrics(Some(tr))
      java.nio.file.Files.writeString(new File(s"${a.work}/spans.json").toPath, tr.spansJson)
      tr.close()
      traced = Json.obj(Seq(
        "run" -> Json.obj(Seq(
          "wall_s" -> Json.num(wall),
          "items" -> tracedDigests.size.toString,
          "digest" -> Json.obj(tracedDigests.map { case (n, d) => n -> Json.str(d) }))),
        "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.str(s"${a.work}/spans.json")))
    }
    spark.stop()
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "setup_s" -> Json.arr(setupTimes.map(Json.num)),
      "warmups" -> Json.arr(warmups.map(digests)),
      "capture_dir" -> Json.str(outDir),
      "reps" -> Json.arr(reps),
      "heap_mb" -> Json.arr(heap.map(Json.num)),
      "checks" -> "[]",
      "traced" -> (if (traced.isEmpty) "null" else traced)))
  }
}
