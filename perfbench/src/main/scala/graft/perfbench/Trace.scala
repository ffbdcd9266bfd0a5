package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine's layers, kept in
  * memory and written out when the run ends. Only the single client
  * thread records spans, so a stack gives each span its parent.
  * Disabled, [[span]] is a plain call.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Drops what set-up and warm-up recorded: only measured rounds count. */
  def reset(): Unit = spans.clear()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, t1)
      }
    }

  /** Self time per layer in ms: each span's duration minus the part its
    * child spans cover (children never overlap: one client thread).
    */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
}

/** Spark listener totals for one operation window: what the scheduler
  * ran while the operation was in flight (single client thread, so
  * every job in the window belongs to it).
  */
final case class SparkWindow(
    jobs: Long, stages: Long, tasks: Long, shuffleWriteBytes: Long,
    inputBytes: Long, gcMs: Long, taskBusyMs: Long, taskCoveredMs: Long,
    wallMs: Double)

final class SparkCounters(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, shuffleWrite, input, gc = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      input += m.inputMetrics.bytesRead
      gc += m.jvmGCTime
    }
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; input = 0; gc = 0
    intervals.clear()
  }

  /** Runs `body` as one operation window and returns its totals. */
  def window[T](body: => T): (T, SparkWindow) = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    reset()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallMs = (System.nanoTime() - n0) / 1e6
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized {
      val clipped = intervals.toSeq.map { case (a, b) => (math.max(a, t0), b) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      val busy = clipped.map { case (a, b) => b - a }.sum
      (out, SparkWindow(jobs, stages, tasks, shuffleWrite, input, gc, busy,
        covered, wallMs))
    }
  }
}

/** Steal share of `/proc/stat` ticks between two readings (read only). */
object Host {
  def cpuTicks(): Option[Array[Long]] =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      Some(line.trim.split("\\s+").drop(1).map(_.toLong))
    } catch { case _: Throwable => None }

  def stealShare(a: Option[Array[Long]], b: Option[Array[Long]]): Double =
    (for (x <- a; y <- b) yield {
      val d = y.zip(x).map { case (p, q) => p - q }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    }).getOrElse(0.0)
}
