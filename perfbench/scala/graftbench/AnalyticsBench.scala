package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries

/** The 15 headline queries (graft.Bench's list) over seeded tables. */
object AnalyticsBench {

  val Headline: Seq[String] = Seq(
    "q_scan_filter_agg", "q_generate_topk", "q_update_merge", "q_opic_propagate",
    "q_dim_join", "q_union_cogroup", "q_anti_join", "q_window_events",
    "q_dedup_exact", "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
    "q_dedup_simhash", "q_text_quality", "q_embed_cosine_topk", "q_embed_lsh_ann")

  /** Row count and an order-insensitive hash of the rows' JSON (a sum of
    * 64-bit row hashes). */
  def digestOf(rows: Array[String]): String = {
    var sum = 0L
    rows.foreach { r =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(r, 0x1b873593)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(r, 0x5bd1e995)
      sum += (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    s"${rows.length}:$sum"
  }

  /** Runs one query to completion: every row, every column, to the driver. */
  def rowsOf(df: DataFrame): Array[String] = df.toJSON.collect()

  /** Runs one query to completion, optionally writing its rows as JSON
    * lines to `dumpDir/<query>.json`; returns (query, seconds, digest). */
  private def runQuery(spark: SparkSession, dir: String, name: String,
      dumpDir: Option[String]): (String, Double, String) = {
    val t0 = System.nanoTime()
    val rows = rowsOf(Queries.all(name)(spark, dir))
    val secs = (System.nanoTime() - t0) / 1e9
    dumpDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, s"$name.json"),
        rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    (name, secs, digestOf(rows))
  }

  /** One timed pass, one query after another. Operators persist
    * intermediates, so the cache is cleared between queries. */
  def pass(spark: SparkSession, dir: String): Seq[(String, Double, String)] =
    Headline.map { name =>
      val r = runQuery(spark, dir, name, None)
      spark.catalog.clearCache()
      r
    }

  /** The warm-up pass: every query once, `threads` at a time (warming code
    * paths needs each plan run, not a sequential schedule). */
  def warmPass(spark: SparkSession, dir: String, threads: Int,
      dumpDir: Option[String]): Seq[(String, Double, String)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(Headline)(n => Future(runQuery(spark, dir, n, dumpDir))),
      Duration.Inf)
    finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }

  /** A pass with each query under its own job group `query.<name>`. */
  def traced(spark: SparkSession, dir: String, tr: Tracer): Seq[(String, String)] =
    tr.scope("pass") {
      Headline.map { name =>
        val rows = tr.layer(s"query.$name")(rowsOf(Queries.all(name)(spark, dir)))(_.length)
        spark.catalog.clearCache()
        name -> digestOf(rows)
      }
    }

  def oracleSql: Seq[(String, String)] = Headline.map(n => n -> Queries.oracles(n))
}
