package graft.tools

import org.apache.spark.sql.functions._

import graft.table.Versioned

/** Optimization-round probe: the wall cost of the engine's COMMIT
  * primitives in isolation (append / merge / updateWhere / CDF read on
  * a scratch table), so fixture-heavy query timings can be decomposed
  * into "operator work" vs "per-commit floor". Prints one line per
  * primitive; scratch tables live in java.io.tmpdir and are deleted by
  * the OS tmp reaper.
  *
  * Usage: SPARK_GRAFT_CPUS=N sbt "runMain graft.tools.MicroBench"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect() // warm

    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })

    def timed(name: String, n: Int)(body: Int => Unit): Unit = {
      val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
      val t0 = System.nanoTime()
      (1 to n).foreach(body)
      val ms = (System.nanoTime() - t0) / (n * 1e6)
      println(f"[microbench] $name: $ms%.1f ms/op over $n ops — " +
        f"${(jobs.get - j0) * 1.0 / n}%.1f jobs ${(stages.get - s0) * 1.0 / n}%.1f stages " +
        f"${(tasks.get - k0) * 1.0 / n}%.1f tasks per op")
    }

    val base = java.nio.file.Files.createTempDirectory("graft-micro").toString
    val df = spark.range(1000).selectExpr("id", "id % 7 as k", "cast(id as string) as s")
    val df1 = df.coalesce(1)
    timed("raw write.parquet 32-part", 10)(i =>
      df.write.parquet(s"$base/raw$i"))
    timed("raw write.parquet 1-part", 10)(i =>
      df1.write.parquet(s"$base/raw1p$i"))
    Versioned.append(df, s"$base/t") // birth
    timed("append(1k rows, 32 parts)", 20)(_ => Versioned.append(df, s"$base/t"))
    Versioned.append(df1, s"$base/t1")
    timed("append(1k rows, 1 part)", 20)(_ => Versioned.append(df1, s"$base/t1"))
    val dfShuffled = df.groupBy("k").agg(sum("id").as("id2"))
    timed("write shuffle-derived (AQE)", 10)(i =>
      dfShuffled.write.parquet(s"$base/rawsh$i"))
    println("[microbench] shuffle-derived files/write: " +
      new java.io.File(s"$base/rawsh1").list().count(_.endsWith(".parquet")))
    timed("updateWhere(k=3)", 5)(i =>
      Versioned.updateWhere(spark, s"$base/t", col("k") === 3,
        Map("id" -> (col("id") + 1))))
    timed("cdf read 2 rewrites", 3) { _ =>
      val head = Versioned.currentVersion(spark, s"$base/t").get
      Versioned.changesWithType(spark, s"$base/t", head - 2, head).count()
      ()
    }
    spark.stop()
  }
}
