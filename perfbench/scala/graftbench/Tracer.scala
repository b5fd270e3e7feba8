package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics of one layer, summed over every task of every job run under
  * the layer's job group. */
final class LayerTotals {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  /** task durations per stage, for the skew ratio */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the stage with the most task time. */
  def skew: Double = {
    val busiest = stageTasks.values.filter(_.size >= 2).maxByOption(_.sum)
    busiest.map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2)
      s.last.toDouble / math.max(1L, med)
    }.getOrElse(1.0)
  }
}

/** Rolls TaskMetrics up per layer, keyed by the job group the benchmark sets
  * around each layer call. Jobs outside any benchmark group are ignored. */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val totals = mutable.LinkedHashMap.empty[String, LayerTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach(g => e.stageIds.foreach(stageGroup.update(_, g)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new LayerTotals)
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
      t.recordsWritten += m.outputMetrics.recordsWritten
      t.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}

final case class Span(name: String, start: Long, end: Long, parent: Option[Int], runId: String)

/** Spans at the layer boundaries, kept in memory and written when the run
  * ends. Layer calls are sequential and materialize their output, so spans
  * of one level never overlap. */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new LayerListener
  sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** wall seconds and output rows per layer */
  val wall = mutable.LinkedHashMap.empty[String, Double]
  val rowsOut = mutable.LinkedHashMap.empty[String, Long]
  private var open: List[Int] = Nil

  private def now: Long = System.nanoTime()

  /** A non-layer span (the run, a round) enclosing layer spans. */
  def scope[T](name: String)(f: => T): T = {
    val idx = spans.size
    spans += Span(name, now, 0L, open.headOption, runId)
    open = idx :: open
    try f finally {
      open = open.tail
      spans(idx) = spans(idx).copy(end = now)
    }
  }

  /** Runs one layer call under its job group; `rows` materializes the
    * layer's output and returns its row count. */
  def layer[T](name: String)(f: => T)(rows: T => Long): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = now
    val out = try {
      val r = f
      rowsOut(name) = rowsOut.getOrElse(name, 0L) + rows(r)
      r
    } finally sc.clearJobGroup()
    val t1 = now
    spans += Span(name, t0, t1, open.headOption, runId)
    wall(name) = wall.getOrElse(name, 0.0) + (t1 - t0) / 1e9
    out
  }

  def totals(name: String): LayerTotals = {
    org.apache.spark.graftbench.ListenerDrain(sc)
    listener.synchronized(listener.totals.getOrElse(name, new LayerTotals))
  }

  def close(): Unit = sc.removeSparkListener(listener)

  /** One layer's per-layer metrics, 0 for a layer that did not run. */
  def layerMetrics(name: String): Seq[(String, Double)] = {
    val t = totals(name)
    val mb = 1024.0 * 1024.0
    Seq(
      "wall_s" -> wall.getOrElse(name, 0.0),
      "cpu_s" -> t.cpuNs / 1e9,
      "gc_s" -> t.gcMs / 1e3,
      "shuffle_write_mb" -> t.shuffleWrite / mb,
      "shuffle_read_mb" -> t.shuffleRead / mb,
      "spill_mb" -> t.spill / mb,
      "task_skew" -> (if (wall.contains(name)) t.skew else 0.0),
      "rows_out" -> rowsOut.getOrElse(name, 0L).toDouble
    ).map { case (k, v) => s"$name.$k" -> v }
  }

  def spansJson: String = spans.zipWithIndex.map { case (s, i) =>
    val parent = s.parent.map(_.toString).getOrElse("null")
    s"""{"id":$i,"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":$parent,"run_id":${Json.str(s.runId)}}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
