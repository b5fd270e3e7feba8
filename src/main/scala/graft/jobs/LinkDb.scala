package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.crawl.CrawlConfig
import graft.model.WebPage
import graft.schedule.FetchSchedule
import graft.score.ScoringFilter
import graft.url.UrlUtil

/** One edge of the link graph (reference: src/main/gora/link.avsc — key,
  * score, distance, batchId, in, out; anchor added because the page table
  * stores it per-edge and anchor-text indexing needs it).
  */
case class LinkEdge(
    key: String,
    in: String,
    out: String,
    anchor: String,
    score: Float,
    distance: Int,
    batchId: String)

/** The materialized link/edge table plus the FrontierJob analogue
  * (reference: crawl/FrontierJob.java:43-110 — scan the Link store, create
  * a bare frontier row per `out` URL via putIfAbsent).
  *
  * Spark shape: edge extraction is one explode over the page table's
  * outlinks map (narrow, no shuffle); frontier seeding is the D3 anti-join
  * (new keys only) + per-key dedup — putIfAbsent without a mutable store.
  * At 10^10 scale the anti-join is the same shuffle the updatedb stage
  * already pays, and the edge table gives users a queryable link graph
  * (inlink counts, anchor text, graph analytics) without touching the
  * frontier table.
  */
object LinkDb {

  /** Materialize the edge stream from parsed pages: one row per outlink.
    * `key` is the target's storage key so edge rows co-partition with the
    * frontier table on the same join column. */
  def edges(spark: SparkSession, pages: Dataset[WebPage]): Dataset[LinkEdge] = {
    import spark.implicits._
    pages.flatMap { p =>
      val dist = p.markers.get(graft.model.Marks.DISTANCE).map(_.toInt).getOrElse(0)
      p.outlinks.iterator.map { case (toUrl, anchor) =>
        LinkEdge(
          key = UrlUtil.uuid3(toUrl),
          in = p.url,
          out = toUrl,
          anchor = anchor,
          score = p.score,
          distance = dist,
          batchId = p.batchId)
      }
    }
  }

  /** Per-target inlink aggregates over the edge table (anchor-text /
    * graph-analytics query surface). Unsorted, like every op in the
    * family: a 10^10-edge caller must not pay a global sort it didn't ask
    * for — presentation layers (Queries.q_linkdb_inlinks) add their own. */
  def inlinkStats(edges: Dataset[LinkEdge]): DataFrame =
    edges.groupBy(col("out"))
      .agg(
        count(lit(1)).as("n_inlinks"),
        countDistinct(col("in")).as("n_sources"),
        round(sum(col("score")), 3).as("inbound_score"),
        min(col("distance")).as("min_distance"))

  /** The offline link-analysis job whose output `LinkAnalysisScoring`
    * consumes (reference: plugin/scoring-link/.../LinkAnalysisScoringFilter
    * .java reads a page score "produced by a link analysis job" that Nutch
    * 2.2 itself never shipped — this closes that loop): damped PageRank
    * over the edge table, with dangling-mass redistribution so Σrank = 1 is
    * invariant every iteration.
    *
    * Scale shape (the part that matters at 10^10 edges): the EDGE table —
    * the only table at corpus scale — is shuffled exactly once, into a
    * per-src contribution-weight table persisted hash-partitioned on `src`;
    * every iteration then re-shuffles only the node-sized rank table onto
    * that fixed partitioning (EnsureRequirements sees the persisted
    * hashpartitioning and plans a one-sided exchange, the FetcherJob
    * bucketed-join pattern). The dangling mass is a one-row aggregate
    * cross-joined back in — it stays in the plan, never a per-iteration
    * driver collect.
    *
    * Lineage discipline: each iteration's plan references the previous
    * rank table TWICE (the dangling-mass branch and the contribution
    * branch), so persist+count alone is not enough — the cached data would
    * be reused but the LOGICAL plan would double every iteration and the
    * analyzer would do 2^k work by iteration k (measured: a 10-iteration
    * run wedged for >20 min on a 9-node graph). Every iteration therefore
    * ends in a true lineage cut: `checkpoint()` when the session has a
    * checkpoint dir (the fault-tolerant cluster path), `localCheckpoint()`
    * otherwise — either way the next plan starts from a constant-size
    * LogicalRDD leaf.
    *
    * Multi-edges collapse (`distinct`) — rank flows along the simple graph,
    * the convention of the classic formulation. Returns (url, rank),
    * unsorted and unrounded: deterministic ordering/rounding is the query
    * layer's job (the no-orderBy-tail API rule). The returned frame is
    * checkpoint-materialized (its parents are already unpersisted and
    * would otherwise be recomputed from scratch); `unpersist()` it when
    * done — storage is reclaimed by the ContextCleaner regardless.
    */
  def linkRank(spark: SparkSession, rawEdges: DataFrame,
      srcCol: String = "in", dstCol: String = "out",
      iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // the deduped edge table feeds three consumers (outdeg, weighted,
    // nodes) — persist it so the corpus-scale distinct shuffle runs once,
    // then release it as soon as its two derived tables are materialized
    val edges = rawEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    // weight = 1/outdeg rides each edge, hash-partitioned once on src
    val weighted = edges.join(outdeg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("odeg")).as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node table with its dangling flag (no outgoing edges)
    val nodes = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct()
      .join(outdeg.select(col("src").as("url"), lit(false).as("nd")), Seq("url"), "left_outer")
      .select(col("url"), coalesce(col("nd"), lit(true)).as("dangling"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    weighted.count()
    edges.unpersist()
    // eager lineage cut per iteration (graft.ops.Lineage: reliable
    // checkpoint on a cluster, local checkpoint otherwise) — the next
    // iteration always builds on a constant-size LogicalRDD leaf
    def cut(df: DataFrame): DataFrame = graft.ops.Lineage.cut(df)
    var ranks = cut(nodes.withColumn("rank", lit(1.0 / n)))
    for (_ <- 1 to iterations) {
      val dm = ranks.where(col("dangling"))
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = ranks.join(weighted, ranks("url") === weighted("src"))
        .groupBy(col("dst").as("url"))
        .agg(sum(col("rank") * col("w")).as("contrib"))
      val next = cut(nodes.join(contribs, Seq("url"), "left_outer")
        .crossJoin(broadcast(dm))
        .select(col("url"), col("dangling"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("rank")))
      ranks.unpersist()
      ranks = next
    }
    nodes.unpersist()
    weighted.unpersist()
    ranks.select(col("url"), col("rank"))
  }

  /** Fold link-analysis ranks into the frontier's score field — the write-
    * back half of the offline job (after this, a crawl configured with
    * `scoringFilterClass=link` generates by these ranks: generatorSortValue
    * = score x initSort, LinkAnalysisScoringFilter.java:72-75). Pages the
    * analysis never saw keep their current score (the reference updater
    * only touches keys present in its output). One key-shuffle, fully
    * columnar — a typed joinWith+map here would drag every page (payload
    * bytes included) through an encoder round-trip and out of whole-stage
    * codegen; the coalesce keeps the update inside Tungsten rows. */
  def applyRanks(spark: SparkSession, pages: Dataset[WebPage],
      ranks: DataFrame): Dataset[WebPage] = {
    import spark.implicits._
    val r = ranks.select(col("url").as("_r_url"), col("rank").cast("float").as("_r_rank"))
    pages.toDF()
      .join(r, col("url") === col("_r_url"), "left_outer")
      .withColumn("score", coalesce(col("_r_rank"), col("score")))
      .drop("_r_url", "_r_rank")
      .as[WebPage]
  }

  /** FrontierJob: create a bare UNFETCHED frontier row for every edge
    * target not already in the store — putIfAbsent semantics via an
    * anti-join on key. Pass the crawl's seen bank as `seen` to front the
    * join at scale (the DbUpdateJob.mergeSeenNewPagesOverStore shape):
    * bloom-NEGATIVE targets are definitely new (no false negatives) and
    * skip the store join entirely; only the bloom-positive maybe-set pays
    * the exact confirm, and that confirm broadcasts the pruned probe keys
    * into a left-semi scan of the store — the store side is ONE narrow
    * pass, never an Exchange/distinct of the full 10^10-row key set.
    * Returns only the NEW rows, ready to append as a snapshot.
    *
    * PRECONDITION on `seen`: the bank must cover EVERY key present in
    * `existing` (bloom filters have no false negatives only for keys that
    * were actually added). A bank built before the latest store append
    * silently classifies the uncovered keys as definitely-new and emits
    * duplicate UNFETCHED rows for them. The crawl loop maintains this
    * invariant (the bank is rebuilt/delta-added before frontier jobs run);
    * standalone callers must pass the bank generation that matches the
    * `existing` snapshot they read — when in doubt, pass None and pay the
    * exact anti-join. */
  def frontier(spark: SparkSession, edges: Dataset[LinkEdge],
      existing: Dataset[WebPage], conf: CrawlConfig, curTime: Long,
      round: Int = 0, seen: Option[graft.seen.SeenFilter] = None,
      broadcastMaxKeys: Long = 5000000L): Dataset[WebPage] = {
    import spark.implicits._
    val schedule = FetchSchedule(conf)
    val opic = ScoringFilter(conf)
    // one candidate per key: keep the closest-to-seed edge (the
    // reference's putIfAbsent keeps whichever arrives first; (distance,
    // out) is the deterministic choice). Columnar min-over-struct, not a
    // typed mapGroups: struct ordering IS the (distance, out) tie-break,
    // the aggregation partial-aggregates map-side, and only (key,
    // distance, out) ride the exchange — a mapGroups would shuffle whole
    // LinkEdge rows (anchor text included) with no combiner.
    val targets = edges.toDF()
      .select(col("key"), col("distance"), col("out"))
      .groupBy(col("key"))
      .agg(min(struct(col("distance"), col("out"))).as("b"))
      .select(col("key"), col("b.out").as("url"))
    // no .distinct() on the store key column in either branch: anti/semi
    // join semantics are insensitive to right-side duplicates, and the
    // distinct was a full-store Exchange paid for nothing
    val existingKeys = existing.select(col("key"))
    val candidates = targets.toDF("key", "url")
    val fresh = seen match {
      case Some(bank) =>
        val probe = graft.functions.SeenMightContain.mightContain(
          spark, col("key"), bank)
        // the maybe-set (bloom fpp x candidates + true hits) broadcasts
        // into a left-semi scan of the store so the store never shuffles
        // (the mergeSeenNewPagesOverStore shape), then confirms with a
        // delta x delta anti-join. GATED on the maybe-set's actual count
        // (one extra pass over the candidate aggregate — the bound
        // DbUpdateJob.mergeSeenNewPagesOverStore puts on its positive-key
        // set): in a dense web graph,
        // true hits (links to already-known pages) can DOMINATE a round's
        // candidates, so "delta-sized" is not a given — above the
        // threshold both broadcasts would exceed broadcast capacity /
        // OOM the driver, where the plain shuffled anti-join below
        // degrades gracefully at any size.
        // materialized once, so the count gate and both joins below read
        // one run of the edge aggregate and bloom probe; an eager local
        // checkpoint is a persist whose blocks are released together with
        // the returned plan, which no unpersist here could outlive
        val positives = candidates.filter(probe).localCheckpoint()
        if (positives.count() <= broadcastMaxKeys) {
          val prunedStoreKeys = existingKeys.join(
            broadcast(positives.select(col("key"))), Seq("key"), "left_semi")
          // the confirm is delta x (≤ delta): broadcast it too, so neither
          // join of the seen path ever plans a store-keyed exchange
          candidates.filter(!probe).unionByName(
            positives.join(broadcast(prunedStoreKeys), Seq("key"), "left_anti"))
        } else {
          candidates.join(existingKeys, Seq("key"), "left_anti")
        }
      case None =>
        candidates.join(existingKeys, Seq("key"), "left_anti")
    }
    fresh.as[(String, String)]
      .map { case (key, url) =>
        var p = WebPage(url = url, key = key,
          status = graft.model.CrawlStatus.UNFETCHED, round = round)
        p = schedule.initializeSchedule(p, curTime)
        opic.initialScore(p)
      }
  }
}
