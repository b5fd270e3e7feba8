package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.table.SnapshotTable

class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("append / head / readAt / currentView / compact / resume metadata") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("snaptable")
    val t = new SnapshotTable(dir)

    val s1 = t.append(Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("key", "v", "r"), 1, "inject")
    assert(s1 == 1L)
    assert(t.head.contains(1L))

    val s2 = t.append(Seq(("k2", "b2", 2), ("k3", "c", 2)).toDF("key", "v", "r"), 2, "update")
    assert(s2 == 2L)

    // multi-version scan sees all rows
    assert(t.readAll(spark).count() == 4)
    // snapshot isolation: reading at s1 ignores s2
    assert(t.readAt(spark, s1).count() == 2)

    // latest-key-wins view: k2 resolved to the s2 write
    val view = t.currentView(spark).select("key", "v").as[(String, String)].collect().toMap
    assert(view == Map("k1" -> "a", "k2" -> "b2", "k3" -> "c"))

    // compact rewrites the resolved view as a base snapshot
    val s3 = t.compact(spark, 2)
    assert(t.readAll(spark).count() == 3)
    val view2 = t.currentView(spark).select("key", "v").as[(String, String)].collect().toMap
    assert(view2 == view)

    // resume metadata
    assert(t.lastCompleted.contains((2, "compact")))
    assert(t.snapshots.map(_.id) == Seq(1L, 2L, 3L))
    assert(t.snapshots.find(_.id == s3).exists(_.base))

    // a fresh handle over the same path sees the same state (restart)
    val t2 = new SnapshotTable(dir)
    assert(t2.head.contains(3L))
    assert(t2.currentView(spark).count() == 3)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select("key", "v", "r", "snapshot_id").collect().map(_.mkString("|")).toSeq.sorted

  private def threeSnapshots(t: SnapshotTable): Unit = {
    import spark.implicits._
    t.append(Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("key", "v", "r"), 0, "inject")
    t.append(Seq(("k2", "b2", 2)).toDF("key", "v", "r"), 1, "generate")
    t.append(Seq(("k3", "c", 3)).toDF("key", "v", "r"), 1, "update")
  }

  test("snapshot_id is the committed id, as LongType, from the sid= directory") {
    val dir = SparkTestBase.tmpDir("snaplineage")
    val t = new SnapshotTable(dir)
    threeSnapshots(t)
    // the files carry no lineage column: the directory is its only source
    val stored = spark.read.parquet(s"$dir/data/sid=2").columns
    assert(!stored.contains("snapshot_id"), stored.mkString(","))
    def ids(df: DataFrame): Seq[Long] = {
      assert(df.schema("snapshot_id").dataType == LongType, df.schema)
      df.select(col("snapshot_id")).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(ids(t.readAt(spark, 2L)) == Seq(1L, 1L, 2L))
    assert(ids(t.readSnapshot(spark, 3L)) == Seq(3L))
    assert(ids(t.currentView(spark)) == Seq(1L, 2L, 3L))
    // appending a frame that still has the column: the new directory wins
    val again = t.append(t.readSnapshot(spark, 1L), 2, "update")
    assert(ids(t.readSnapshot(spark, again)) == Seq(again, again))
  }

  test("a table written with a stored snapshot_id column reads identical rows and ids") {
    import spark.implicits._
    val batches = Seq(
      Seq(("k1", "a", 1), ("k2", "b", 1)),
      Seq(("k2", "b2", 2), ("k3", "c", 2)))
    val fresh = new SnapshotTable(SparkTestBase.tmpDir("snapnew"))
    batches.zipWithIndex.foreach { case (b, i) =>
      fresh.append(b.toDF("key", "v", "r"), i + 1, "update")
    }
    // the earlier layout: the id stored as a column in every file
    val oldDir = SparkTestBase.tmpDir("snapold")
    batches.zipWithIndex.foreach { case (b, i) =>
      val id = i + 1L
      b.toDF("key", "v", "r").withColumn("snapshot_id", lit(id))
        .write.parquet(s"$oldDir/data/sid=$id")
      val manifest = new java.io.File(s"$oldDir/snapshots/$id.json")
      manifest.getParentFile.mkdirs()
      java.nio.file.Files.writeString(manifest.toPath,
        s"""{"id":$id,"parent":${id - 1},"round":$id,"stage":"update","base":false}""")
    }
    java.nio.file.Files.writeString(new java.io.File(s"$oldDir/HEAD").toPath, "2")
    val old = new SnapshotTable(oldDir)
    assert(old.readAll(spark).columns.toSeq == fresh.readAll(spark).columns.toSeq)
    assert(rowsOf(old.readAll(spark)) == rowsOf(fresh.readAll(spark)))
    assert(rowsOf(old.readSnapshot(spark, 2L)) == rowsOf(fresh.readSnapshot(spark, 2L)))
    assert(rowsOf(old.currentView(spark)) == rowsOf(fresh.currentView(spark)))
    // and it keeps growing in the new layout under the same handle
    old.append(Seq(("k4", "d", 3)).toDF("key", "v", "r"), 3, "update")
    assert(rowsOf(old.readAll(spark)).last == "k4|d|3|3")
    assert(old.currentView(spark).count() == 4)
  }

  test("a fresh handle reads the same rows and schema as the writing handle") {
    val dir = SparkTestBase.tmpDir("snapfresh")
    val writer = new SnapshotTable(dir)
    threeSnapshots(writer)
    val reader = new SnapshotTable(dir)
    assert(reader.readAll(spark).schema == writer.readAll(spark).schema)
    assert(rowsOf(reader.readAll(spark)) == rowsOf(writer.readAll(spark)))
    assert(rowsOf(reader.readSnapshot(spark, 2L)) == rowsOf(writer.readSnapshot(spark, 2L)))
    assert(rowsOf(reader.currentView(spark)) == rowsOf(writer.currentView(spark)))
  }

  test("a lost HEAD neither reuses an id nor hides history") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("snaphead")
    val t = new SnapshotTable(dir)
    threeSnapshots(t)
    val known = Set("inject", "generate", "update")
    val resumeAt = t.lastCompletedOf(known)
    assert(resumeAt.contains((1, "update")))
    val rowsBefore = rowsOf(t.readAll(spark))
    // a crash between HEAD's delete and its rename leaves no HEAD
    assert(new java.io.File(s"$dir/HEAD").delete())
    assert(t.head.contains(3L))
    assert(t.lastCompletedOf(known) == resumeAt)
    val id = t.append(Seq(("k9", "z", 9)).toDF("key", "v", "r"), 1, "linkrank")
    assert(id == 4L)
    assert(t.snapshots.find(_.id == id).map(_.parent).contains(3L))
    assert(rowsOf(t.readAll(spark)) == (rowsBefore :+ "k9|z|9|4").sorted)
    assert(t.lastCompletedOf(known) == resumeAt)
    // HEAD is written again as a hint
    assert(new java.io.File(s"$dir/HEAD").exists())
  }

  test("each handle parses a manifest once and still sees other handles' commits") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("snapmanifests")
    val writer = new SnapshotTable(dir)
    threeSnapshots(writer)
    val reader = new SnapshotTable(dir)
    assert(reader.snapshots.map(s => (s.id, s.stage)) ==
      Seq((1L, "inject"), (2L, "generate"), (3L, "update")))
    // a parsed manifest is not read again: the reader keeps its parse
    // even when the file under it turns unreadable
    java.nio.file.Files.writeString(new java.io.File(s"$dir/snapshots/1.json").toPath, "{")
    assert(reader.snapshots.head.stage == "inject")
    // a snapshot committed through another handle shows on the next call
    val id = writer.append(Seq(("k4", "d", 4)).toDF("key", "v", "r"), 2, "generate")
    assert(reader.snapshots.last == reader.Snapshot(id, 3L, 2, "generate", base = false))
    assert(reader.snapshotFor(2, "generate").contains(id))
    assert(reader.lastCompleted.contains((2, "generate")))
    assert(rowsOf(reader.readAll(spark)).last == s"k4|d|4|$id")
  }
}
