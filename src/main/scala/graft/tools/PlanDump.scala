package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * named declared queries to `<outDir>/<name>_<tag>.txt`, and
  * optionally time the noop-sink action (guide §1.4) so the plan and
  * an isolated wall number land together.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1 q2 ...]
  * (no names = every declared query). SPARK_GRAFT_CPUS as in Bench.
  * Building a composite query's DataFrame executes its fixture work
  * (commits, streams) exactly as Bench does before its measured action;
  * the dumped plan is the plan of the RESULT frame — for scan/join/agg
  * queries that is the whole query, for composite fixtures it is the
  * read-back side.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // experiment passthrough: SPARK_GRAFT_CONF="k=v;k=v" for A/B-ing
    // session confs without recompiling
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = graft.LocalSession(cpus, extra)
    new java.io.File(outDir).mkdirs()
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    // per-stage wall/shuffle attribution for the measured window
    // (guide §1.1: decide WHERE the time goes before changing anything)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b)
          .getOrElse(-1L)
        val m = i.taskMetrics
        stageLog.add(
          f"stage ${i.stageId}%4d ${ms}%6d ms ${i.numTasks}%4d tasks " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8d KB " +
            f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KB " +
            f"in=${m.inputMetrics.bytesRead / 1024}%8d KB  [${i.name.take(90)}]")
        ()
      }
    })
    // a drain that times out leaves a marker in the stage log: the
    // attribution after it may miss late stages, the run goes on
    def drain(): Unit =
      if (!org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(spark.sparkContext))
        stageLog.add("-- listener bus drain timed out --")
    names.foreach { name =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      stageLog.clear()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tBuilt = System.nanoTime()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // fixture-build stages vs measured-noop stages are different
        // questions; drain the async bus so the marker lands between them
        drain()
        stageLog.add(s"-- build/measure boundary ($name) --")
        df.write.format("noop").mode("overwrite").save()
        val tDone = System.nanoTime()
        val hdr =
          f"-- $name @ $sfDir cpus=$cpus  build=${(tBuilt - t0) / 1e9}%.3fs" +
            f" noop=${(tDone - tBuilt) / 1e9}%.3fs total=${(tDone - t0) / 1e9}%.3fs%n"
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), hdr + plan)
        val stages = {
          // drain, not sleep: the fixed 200 ms nap raced late-completing
          // stages out of the attribution
          drain()
          import scala.jdk.CollectionConverters._
          stageLog.asScala.mkString("\n")
        }
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.stages.txt"),
          hdr + stages + "\n")
        println(hdr.trim)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
