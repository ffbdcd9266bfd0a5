package graft.tools

import org.apache.spark.sql.functions._

import graft.table.Versioned

/** Backfill-sized MERGE measurement: the size gate on touched-file
  * discovery ([[Versioned.MergeKeyBroadcastMaxBytes]]) was proven at
  * fixture scale by MergeScaleSpec; this measures the SHUFFLE-path
  * merge — the decision a multi-GB key set takes at 100 TB — against a
  * genuinely large source (the full sf1 events table) and a seeded
  * versioned target, alongside the default-gate run of the same merge
  * for comparison. Numbers are recorded in BASELINE.md ("Backfill
  * MERGE at sf1").
  *
  * Shape: target = events with even event_id (half the table, many
  * files); source = ALL events with a bumped value column → ~50%
  * MATCHED updates + ~50% NOT MATCHED inserts, every target file
  * touched — the worst realistic backfill. The shuffle run forbids the
  * planner from rescuing the discovery joins with its own broadcast
  * (`autoBroadcastJoinThreshold=-1`), so the measured plan is the true
  * shuffle semi/anti-join shape (Delta's `findTouchedFiles`).
  *
  * Usage: runMain graft.tools.MergeScale <sfDir>   (an sf1 dir from ScaleData)
  */
object MergeScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus)

    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "event_type", "value")
    val nSrc = events.count()

    def seedTarget(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_mergescale").toString
      Versioned.append(
        events.filter(col("event_id") % 2 === 0).repartition(32), dir)
      dir
    }
    val source = events.withColumn("value", col("value") + 1.0)

    def timed[T](body: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1000000L)
    }

    // shuffle path: the over-threshold decision, with the planner's own
    // broadcast rescue disabled so the semi/anti-joins really shuffle
    val shuffleDir = seedTarget()
    val b0 = Versioned.mergeKeyBroadcasts.get()
    val s0 = Versioned.mergeKeyShuffles.get()
    val prevGate = Versioned.MergeKeyBroadcastMaxBytes
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (_, shuffleMs) =
      try {
        Versioned.MergeKeyBroadcastMaxBytes = 0L
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        timed(Versioned.merge(spark, shuffleDir, source, Seq("event_id")))
      } finally {
        Versioned.MergeKeyBroadcastMaxBytes = prevGate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      }
    val shuffleFired = Versioned.mergeKeyShuffles.get() - s0
    val shuffleBroadcasts = Versioned.mergeKeyBroadcasts.get() - b0
    val nShuffle = Versioned.read(spark, shuffleDir).count()
    require(shuffleFired > 0 && shuffleBroadcasts == 0,
      "shuffle run must take the declined-broadcast path")
    require(nShuffle == nSrc, s"merge landed $nShuffle rows, expected $nSrc")

    // default gate: whatever the optimizer's size estimate decides for
    // this source (recorded, not asserted — the point of the gate is
    // that the decision follows the estimate)
    val defaultDir = seedTarget()
    val b1 = Versioned.mergeKeyBroadcasts.get()
    val s1 = Versioned.mergeKeyShuffles.get()
    val (_, defaultMs) = timed(
      Versioned.merge(spark, defaultDir, source, Seq("event_id")))
    val defaultDecision =
      if (Versioned.mergeKeyBroadcasts.get() > b1) "broadcast" else "shuffle"
    val defaultFired = (Versioned.mergeKeyBroadcasts.get() - b1) +
      (Versioned.mergeKeyShuffles.get() - s1)
    val nDefault = Versioned.read(spark, defaultDir).count()
    require(defaultFired > 0 && nDefault == nSrc)

    println(
      s"""{"bench":"merge-scale","sf_dir":"$sfDir","source_rows":$nSrc,
         |"target_rows":${nSrc / 2},
         |"shuffle_path":{"ms":$shuffleMs,"decisions":$shuffleFired},
         |"default_gate":{"ms":$defaultMs,"decision":"$defaultDecision"},
         |"result_rows":$nShuffle}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
