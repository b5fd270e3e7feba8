package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Iceberg-style snapshot table over plain Parquet.
  *
  * No Iceberg jar ships in /opt/spark/jars (offline build), so this thin
  * layer supplies the pieces the engine needs from it: append-only
  * snapshots with manifests, snapshot-isolation reads, latest-key-wins
  * upsert-on-read, compaction, and snapshot-based checkpoint resume
  * (north_rule: "append results ... to Iceberg with per-partition lineage
  * columns and snapshot-based checkpoint resume"). It replaces the
  * reference's mutable Gora/HBase webpage store (upsert A5 of SURVEY.md §2).
  * All metadata IO goes through the Hadoop FileSystem API, so the layout
  * works identically on file://, hdfs:// or s3a:// paths.
  *
  * Layout:
  * {{{
  *   <path>/data/sid=<id>/part-*.parquet   one directory per snapshot
  *   <path>/snapshots/<id>.json            manifest: id, parent, round, stage, base
  *   <path>/HEAD                           hint: last committed id (atomic rename)
  * }}}
  *
  * A "base" snapshot is a compaction result: reads only consider snapshots
  * from the newest base at-or-before the read snapshot onward. Every read
  * exposes the lineage column `snapshot_id` (LongType); the current view
  * resolves duplicate keys by latest snapshot_id — exactly the put-wins
  * semantics of the reference store.
  *
  * `snapshot_id` is not stored in the files: reads take it from the
  * `sid=<id>` directory as a partition value (as Iceberg keeps identity
  * partition values in metadata, not per row). No per-commit value may
  * enter a write plan: Spark inlines primitive literals into the generated
  * Java source of a whole-stage-codegen stage, and its compiled-class cache
  * is keyed by that source, so a `lit(id)` column would compile a fresh
  * copy of the whole stage — row serializer included — on every commit and
  * run it cold. Tables written when the files still carried the column
  * read the same rows: the directory value wins, and the two are equal.
  *
  * The committed head is the highest manifest id; HEAD is only a hint, so a
  * lost or stale HEAD can neither reuse an id (and overwrite a snapshot's
  * data) nor hide committed history.
  *
  * All snapshots of a table share one row schema. The handle keeps the one
  * it last wrote (a fresh handle infers it once, on first read) and passes
  * it to every read, so a read plans without a footer-scanning job.
  */
final class SnapshotTable(val path: String, val keyCol: String = "key",
    hadoopConf: Configuration = new Configuration()) {

  case class Snapshot(id: Long, parent: Long, round: Int, stage: String, base: Boolean)

  private val root = new Path(path)
  private def fs: FileSystem = root.getFileSystem(hadoopConf)
  private def snapshotsDir = new Path(root, "snapshots")
  private def dataRoot = new Path(root, "data")
  private def dataDir(id: Long) = new Path(dataRoot, s"${SnapshotTable.PartitionCol}=$id")
  private def headFile = new Path(root, "HEAD")

  /** Row schema without the lineage column; see the class doc. */
  @volatile private var rowSchema: Option[StructType] = None

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def exists: Boolean = fs.exists(snapshotsDir)

  /** Ids of the committed manifests: one listing of `snapshots/`. */
  private def manifestIds: Seq[Long] =
    if (!fs.exists(snapshotsDir)) Seq.empty
    else fs.listStatus(snapshotsDir).toSeq.map(_.getPath.getName)
      .collect { case SnapshotTable.ManifestName(id) => id.toLong }

  /** Manifests this handle has parsed. A manifest is written once, at
    * commit, so each is read at most once per handle; the listing still
    * runs per call, so snapshots committed through another handle show. */
  private val parsed = scala.collection.concurrent.TrieMap.empty[Long, Snapshot]

  def snapshots: Seq[Snapshot] =
    manifestIds.sorted.map(id => parsed.getOrElseUpdate(id,
      parseManifest(readString(new Path(snapshotsDir, s"$id.json")))))

  /** The committed head: the highest manifest id, from the manifest file
    * names (one listing, no manifest reads). */
  def head: Option[Long] = manifestIds.maxOption

  def headSnapshot: Option[Snapshot] = snapshots.lastOption

  /** Append a snapshot; returns its id. A `snapshot_id` column of `df` is
    * dropped: the snapshot's directory carries its id. The manifest write
    * is the commit for single-writer crawl rounds (a crash before it leaves
    * an orphan data dir that is never referenced); HEAD follows as a hint.
    */
  def append(df: DataFrame, round: Int, stage: String, base: Boolean = false): Long = {
    val parent = head.getOrElse(0L)
    val id = parent + 1
    val rows = df.drop(SnapshotTable.Lineage)
    rows.write.mode("overwrite").parquet(dataDir(id).toString)
    rowSchema = Some(rows.schema)
    fs.mkdirs(snapshotsDir)
    writeString(new Path(snapshotsDir, s"$id.json"),
      s"""{"id":$id,"parent":$parent,"round":$round,"stage":"$stage","base":$base}""")
    parsed(id) = Snapshot(id, parent, round, stage, base)
    val tmp = new Path(root, ".HEAD.tmp")
    writeString(tmp, id.toString)
    fs.delete(headFile, false)
    fs.rename(tmp, headFile)
    id
  }

  private def parseManifest(s: String): Snapshot = {
    def field(name: String): String = {
      val re = ("\"" + name + "\":\\s*(\"[^\"]*\"|[^,}]*)").r
      re.findFirstMatchIn(s).map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse("")
    }
    Snapshot(field("id").toLong, field("parent").toLong, field("round").toInt,
      field("stage"), field("base").toBoolean)
  }

  /** Snapshot ids contributing to a read at `atId`: newest base <= atId,
    * then every snapshot after it up to atId. */
  private def chainFor(atId: Long): Seq[Long] = {
    val all = snapshots.filter(_.id <= atId)
    val lastBase = all.filter(_.base).map(_.id).maxOption.getOrElse(0L)
    all.map(_.id).filter(_ >= lastBase)
  }

  /** All row versions visible at a snapshot (multi-version scan — the shape
    * generate/stats read, SURVEY.md §1.4). */
  def readAt(spark: SparkSession, atId: Long): DataFrame = {
    val ids = chainFor(atId)
    if (ids.isEmpty) throw new IllegalStateException(s"empty table at $path")
    scan(spark, ids)
  }

  /** Just the rows written by one snapshot (a stage's delta). */
  def readSnapshot(spark: SparkSession, id: Long): DataFrame = scan(spark, Seq(id))

  /** The rows of the given snapshots with `snapshot_id` taken from their
    * `sid=` directories. A stored `snapshot_id` column (older layout) is
    * left unread: the known schema does not name it. */
  private def scan(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    val dirs = ids.map(dataDir(_).toString)
    val schema = rowSchema.getOrElse {
      val inferred = StructType(
        spark.read.parquet(dirs.last).schema.filterNot(_.name == SnapshotTable.Lineage))
      rowSchema = Some(inferred)
      inferred
    }
    spark.read.schema(schema.add(SnapshotTable.PartitionCol, LongType))
      .option("basePath", dataRoot.toString)
      .parquet(dirs: _*)
      .withColumnRenamed(SnapshotTable.PartitionCol, SnapshotTable.Lineage)
  }

  /** The snapshot id of a given (round, stage) commit, if present. */
  def snapshotFor(round: Int, stage: String): Option[Long] =
    snapshots.find(s => s.round == round && s.stage == stage).map(_.id)

  def readAll(spark: SparkSession): DataFrame =
    readAt(spark, head.getOrElse(throw new IllegalStateException(s"no HEAD at $path")))

  /** Latest-key-wins resolution = the reference store's put/upsert
    * semantics: for each key only the most recent write survives. */
  def currentView(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(SnapshotTable.Lineage).desc)
    readAll(spark)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Rewrite the resolved view as a single base snapshot, bounding the
    * number of deltas a read must merge — the Iceberg rewrite/compact
    * analogue; run every k rounds at scale. */
  def compact(spark: SparkSession, round: Int): Long = {
    val resolved = currentView(spark).drop(SnapshotTable.Lineage).cache()
    resolved.count() // materialize before the new snapshot dir is written
    val id = append(resolved, round, "compact", base = true)
    resolved.unpersist()
    id
  }

  /** Highest completed round+stage, for checkpoint resume. */
  def lastCompleted: Option[(Int, String)] = headSnapshot.map(s => (s.round, s.stage))

  /** Like [[lastCompleted]], but restricted to the stages the caller's
    * resume logic understands: walks the parent chain from HEAD past any
    * foreign snapshot (e.g. an offline "linkrank" rescore appended between
    * crawl rounds). Treating a foreign head as "round done" would silently
    * skip the round's remaining crawl stages on resume. */
  def lastCompletedOf(known: Set[String]): Option[(Int, String)] = {
    val byId = snapshots.map(s => s.id -> s).toMap
    Iterator.iterate(headSnapshot)(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).flatten
      .find(s => known.contains(s.stage))
      .map(s => (s.round, s.stage))
  }

  /** Drop the whole table (reference: DbCleanerJob store.deleteSchema, A10).
    * Ids restart at 1 afterwards, so the parsed manifests go too. */
  def drop(): Unit = {
    fs.delete(root, true)
    parsed.clear()
  }
}

object SnapshotTable {
  /** The lineage column every read exposes. */
  val Lineage = "snapshot_id"
  /** The partition directory key that stores it: `data/sid=<id>/`. */
  val PartitionCol = "sid"
  private val ManifestName = """(\d+)\.json""".r
}
