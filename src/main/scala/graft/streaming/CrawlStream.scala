package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.table.SnapshotTable

/** Structured Streaming over the crawl table.
  *
  * The reference is pure batch (SURVEY.md §G) — rounds are driven by shell
  * loops. The snapshot table's append-only layout makes it a natural file
  * stream source, so live monitoring comes for free: each stage commit
  * appends a new `data/sid=N/` directory which `readStream.parquet` picks
  * up as a micro-batch. This powers a readdb-stats-style live dashboard
  * without touching the crawl loop (an optional observer, per SURVEY's
  * "note foreachBatch as the round driver but do not build on it").
  */
object CrawlStream {

  /** Stream of newly committed frontier rows (one micro-batch per snapshot
    * append, roughly), with `snapshot_id` taken from the `sid=` directory as
    * in SnapshotTable's reads. The schema is read once from the committed
    * files, as the file source needs a fixed one. */
  def frontierStream(spark: SparkSession, tablePath: String): DataFrame = {
    import SnapshotTable.{Lineage, PartitionCol}
    val data = s"$tablePath/data"
    val rows = spark.read.parquet(data).schema
      .filterNot(f => f.name == PartitionCol || f.name == Lineage)
    spark.readStream
      .schema(StructType(rows).add(PartitionCol, LongType))
      .option("basePath", data)
      .option("maxFilesPerTrigger", "64")
      .parquet(s"$data/$PartitionCol=*")
      .withColumnRenamed(PartitionCol, Lineage)
  }

  /** Running per-status counts over all rows ever committed — the streaming
    * readdb -stats (complete-mode aggregation). */
  def statusCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("status")).agg(count(lit(1)).as("cnt"))

  /** Per-round fetch throughput: rows fetched per (round, srcPartition) —
    * the live metrics feed (north_rule: per-partition lineage + metrics). */
  def roundPartitionCounts(rows: DataFrame): DataFrame =
    rows.where(col("status") =!= 0)
      .groupBy(col("round"), col("srcPartition"))
      .agg(count(lit(1)).as("rows"), max(col("fetchTime")).as("max_fetch_time"))

  /** Event-time windowed fetch rate with a watermark: tumbling windows over
    * fetchTime (the crawl's event time), late rows beyond the watermark
    * dropped — the standard streaming-aggregation shape (SURVEY.md §G),
    * usable in append mode because the watermark closes windows. */
  def windowedFetchRate(rows: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    rows.where(col("status") =!= 0)
      .withColumn("event_time", (col("fetchTime") / 1000).cast("timestamp"))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("status"))
      .agg(count(lit(1)).as("fetched"))

  /** Per-host crawl health snapshot maintained by custom state. */
  case class HostHealth(
      host: String,
      fetched: Long,
      gone: Long,
      retries: Long,
      lastFetchTime: Long,
      consecutiveErrors: Int)

  /** Stateful per-host monitor via mapGroupsWithState: tracks per-host
    * totals and a consecutive-error streak (the signal a production crawl
    * uses to back off or quarantine a host — the streaming analogue of the
    * reference's per-queue exception counter, FetcherReducer.java:477-503).
    * Updates stream out per micro-batch (update mode); a production
    * deployment would add GroupStateTimeout to expire idle hosts (left off
    * here: processing-time timeouts make the query self-triggering, which
    * never quiesces under test harnesses' processAllAvailable). */
  def hostHealthStream(spark: SparkSession, rows: DataFrame): Dataset[HostHealth] = {
    import spark.implicits._
    import graft.model.CrawlStatus
    rows.select(col("url"), col("status"), col("fetchTime"))
      .as[(String, Int, Long)]
      .groupByKey { case (url, _, _) => graft.url.UrlUtil.getHost(url).toLowerCase }
      .mapGroupsWithState[HostHealth, HostHealth](GroupStateTimeout.NoTimeout) {
        case (host, batch, state: GroupState[HostHealth]) =>
          val prev = state.getOption.getOrElse(HostHealth(host, 0, 0, 0, 0L, 0))
          var fetched = prev.fetched
          var gone = prev.gone
          var retries = prev.retries
          var last = prev.lastFetchTime
          var streak = prev.consecutiveErrors
          batch.foreach { case (_, status, ft) =>
            status match {
              case CrawlStatus.FETCHED | CrawlStatus.NOTMODIFIED =>
                fetched += 1; streak = 0
              case CrawlStatus.GONE => gone += 1; streak += 1
              case CrawlStatus.RETRY => retries += 1; streak += 1
              case _ =>
            }
            if (ft > last) last = ft
          }
          val next = HostHealth(host, fetched, gone, retries, last, streak)
          state.update(next)
          next
      }
  }

  /** Start a complete-mode in-memory sink for tests/dashboards. */
  def startMemorySink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .start()

  /** Update-mode sink for stateful streams (mapGroupsWithState emits
    * per-key updates, not a complete table). */
  def startUpdateSink[T](ds: Dataset[T], name: String): StreamingQuery =
    ds.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Update())
      .start()
}
