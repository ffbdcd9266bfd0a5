package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload's life inside the benchmark process: `setup` builds a
  * fresh copy of its inputs and initial state under `dir` (timed several
  * times, the last copy stays live), then `round` runs one fixed round
  * of operations against the live copy until the run's time is up.
  */
trait Workload {
  def setupReps: Int
  def warmupRounds: Int
  /** Rounds every run completes however fast it goes; `stored_mb` is read
    * after them, so it measures space and not speed.
    */
  def fixedRounds: Int
  def setup(rep: Int, dir: String): Unit
  /** Untimed warm-up on the live copy, before any warm-up round. */
  def warmup(): Unit = ()
  def round(i: Int): Unit
  /** Everything the workload wrote (data, logs, checkpoints, sidecars). */
  def storedDirs: Seq[String]
  /** Per-layer metrics of the traced run. */
  def traceMetrics: Map[String, Double] = Map.empty
  /** Outputs for the external checkers. */
  def checkData: Map[String, Any]
}

/** Times operations and, in the traced run, wraps each one in a span and
  * a Spark listener window.
  */
final class Recorder(val tracer: Tracer, val counters: Option[SparkCounters]) {
  var measuring = false
  var attempted = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val windows = mutable.Map.empty[String, mutable.ArrayBuffer[SparkWindow]]
  val logReads = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def sample(key: String, ms: Double): Unit =
    if (measuring) samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ms

  /** One benchmark operation: `role` is `write` or `read`. */
  def op[T](role: String, kind: String)(body: => T): T = {
    if (measuring) attempted += 1
    val lr0 = graft.table.Versioned.logReads.get()
    val t0 = System.nanoTime()
    val (out, win) = counters match {
      case Some(c) =>
        val (o, w) = c.window(tracer.span("bench", s"$role.$kind")(body))
        (o, Some(w))
      case None => (body, None)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      sample(s"$role.$kind", ms)
      win.foreach(w => windows.getOrElseUpdate(role, mutable.ArrayBuffer.empty) += w)
      logReads(role) += graft.table.Versioned.logReads.get() - lr0
      counts(s"ops.$role") += 1
    }
    out
  }

  /** A timed call into one layer (a span in the traced run). */
  def layer[T](layer: String, name: String, metric: String = null)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span(layer, name)(body)
    if (metric != null) sample(metric, (System.nanoTime() - t0) / 1e6)
    out
  }
}

object Main {

  private def usage(): Nothing = {
    System.err.println("usage: Main --workload <lake_refresh|corpus_curation> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage())
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val out = opt("out")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(traced)
    val counters =
      if (traced) {
        val c = new SparkCounters(spark.sparkContext)
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
    val rec = new Recorder(tracer, counters)
    def workloadNamed(name: String): Workload = name match {
      case "lake_refresh" => new LakeWorkload(spark, seed, rec)
      case "corpus_curation" => new CorpusWorkload(spark, seed, rec)
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    if (workload == "classes") {
      // one set-up and one round of every workload: loads the classes a
      // run uses, for the class-data-sharing archive run.py builds
      Seq("lake_refresh", "corpus_curation").foreach { name =>
        val wl = workloadNamed(name)
        wl.setup(0, s"$work/data/$name")
        wl.warmup()
        wl.round(0)
      }
      spark.stop()
      return
    }
    val wl = workloadNamed(workload)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS)
    try {
      val setupS = (0 until wl.setupReps).map { r =>
        val s0 = System.nanoTime()
        wl.setup(r, s"$work/data/s$r")
        val s = (System.nanoTime() - s0) / 1e9
        // earlier copies only served the timing: drop them
        if (r > 0) deleteRecursively(new File(s"$work/data/s${r - 1}"))
        s
      }
      result("setup_reps_s") = setupS

      // a full collection before every round, so no round pays for the
      // garbage of the one before it
      def round(i: Int): Unit = { System.gc(); wl.round(i) }
      wl.warmup()
      (0 until wl.warmupRounds).foreach(round)
      rec.measuring = true
      tracer.reset()
      val ticks0 = Host.cpuTicks()
      val m0 = System.nanoTime()
      var i = wl.warmupRounds
      var stored = 0L
      while (i - wl.warmupRounds < wl.fixedRounds ||
          (System.nanoTime() - m0) / 1e9 < seconds) {
        round(i)
        i += 1
        if (i - wl.warmupRounds == wl.fixedRounds) stored = wl.storedDirs.map(dirBytes).sum
      }
      rec.measuring = false
      val measuredS = (System.nanoTime() - m0) / 1e9
      result("measured_s") = measuredS
      result("rounds") = i - wl.warmupRounds
      result("warmup_rounds") = wl.warmupRounds
      result("attempted") = rec.attempted
      result("failed") = 0L
      result("stored_bytes") = stored
      result("samples") = rec.samples.map { case (k, v) => k -> v.toSeq }
      if (traced) {
        val steal = Host.stealShare(ticks0, Host.cpuTicks())
        val spark = rec.windows.flatMap { case (role, ws) =>
          val n = ws.size.toDouble
          val wall = ws.map(_.wallMs).sum
          Seq(
            s"spark.$role.jobs" -> ws.map(_.jobs).sum / n,
            s"spark.$role.stages" -> ws.map(_.stages).sum / n,
            s"spark.$role.tasks" -> ws.map(_.tasks).sum / n,
            s"spark.$role.shuffle_write_mb" -> ws.map(_.shuffleWriteBytes).sum / n / 1e6,
            s"spark.$role.input_mb" -> ws.map(_.inputBytes).sum / n / 1e6,
            s"spark.$role.gc_ms" -> ws.map(_.gcMs).sum / n,
            s"spark.$role.slot_busy_share" -> ws.map(_.taskBusyMs).sum / (cores * wall),
            s"spark.$role.driver_only_ms" ->
              ws.map(w => math.max(0.0, w.wallMs - w.taskCoveredMs)).sum / n)
        }
        val rounds = (i - wl.warmupRounds).toDouble
        val self = tracer.selfMsByLayer.map { case (l, ms) => s"self.${l}_ms" -> ms / rounds }
        result("trace") = Map(
          "metrics" -> (wl.traceMetrics ++ spark ++ self ++ Map(
            "host.steal" -> steal, "host.nproc" -> cores.toDouble)),
          "log_reads" -> rec.logReads.toMap,
          "ops" -> rec.counts.toMap)
        Json.write(s"$work/spans.json", tracer.records)
      }
      result("check") = wl.checkData
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
        result("attempted") = math.max(rec.attempted, 1L)
        result("failed") = 1L
    }
    Json.write(out, result)
    spark.stop()
  }

  def dirBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try {
        var total = 0L
        s.forEach(p => if (Files.isRegularFile(p)) total += Files.size(p))
        total
      } finally s.close()
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => quote(n.toPlainString)
    case n: BigDecimal => quote(n.bigDecimal.toPlainString)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v) + "\n")

  /** A collected row as JSON-ready values: dates and decimals as strings. */
  def row(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toString
    case other => other
  }
}
