package graft.tools

import org.apache.spark.sql.functions._

/** Storage-partitioned-join measurement: the BucketSpjSpec proves the
  * PLAN (zero shuffles) at fixture scale; this measures the WALL-CLOCK
  * consequence at a real size — two co-bucketed versioned tables built
  * from the events table, joined on the bucket key three ways:
  *
  *   1. shuffle     — V2 bucketing disabled: the baseline SortMergeJoin
  *                    shuffling + sorting BOTH sides (what every
  *                    unbucketed engine pays);
  *   2. spj         — V2 bucketing enabled: KeyGroupedPartitioning
  *                    join, no exchange on either side;
  *   3. spj-agg     — bucket-keyed GROUP BY: partial+final aggregate
  *                    fused on the scan vs the baseline's exchange.
  *
  * Broadcast is disabled throughout (both sides are fact-sized by
  * construction — the shape SPJ exists for). Numbers recorded in
  * BASELINE.md ("Storage-partitioned join at sf1").
  *
  * Usage: runMain graft.tools.SpjScale <sfDir>   (an sf1 dir from ScaleData)
  */
object SpjScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt
    val spark = graft.LocalSession(cpus)

    // SPARK_GRAFT_MULT=k replicates the events table k× under shifted
    // ids — the local shuffle cost scales with rows, so the ratio at
    // bigger k is the honest trend line toward cluster scale
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "1").toInt
    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("v"))
    val events =
      if (mult == 1) base
      else base.crossJoin(
          spark.range(mult).select(col("id").as("__rep")))
        .select((col("event_id") * mult + col("__rep")).as("event_id"),
          col("user_id"), col("v"))

    val wh = java.nio.file.Files.createTempDirectory("graft_spjscale").toString
    val cat = "spjscale"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.a (event_id BIGINT, user_id BIGINT, " +
      s"v BIGINT) PARTITIONED BY (bucket($buckets, event_id))")
    spark.sql(s"CREATE TABLE $cat.db.b (event_id BIGINT, w BIGINT) " +
      s"PARTITIONED BY (bucket($buckets, event_id))")
    events.createOrReplaceTempView("spjscale_src")
    spark.sql(s"INSERT INTO $cat.db.a SELECT event_id, user_id, v FROM spjscale_src")
    spark.sql(s"INSERT INTO $cat.db.b SELECT event_id, v * 3 AS w FROM spjscale_src")
    val n = spark.sql(s"SELECT count(*) FROM $cat.db.a").head().getLong(0)
    println(s"[spj-scale] rows per side: $n, buckets: $buckets")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def timed(tag: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[spj-scale] $tag%-12s $sec%8.2f s  (result $r)")
      r
    }

    val joinSql = s"SELECT count(*) AS n, sum(a.v + b.w) AS s " +
      s"FROM $cat.db.a a JOIN $cat.db.b b ON a.event_id = b.event_id"
    val aggSql = s"SELECT count(*) FROM (SELECT event_id, sum(v) " +
      s"FROM $cat.db.a GROUP BY event_id)"

    def run(tag: String, bucketing: Boolean): Unit = {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", bucketing.toString)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.graft.preserveDataGrouping", bucketing.toString)
      // warm + verify both modes agree
      val j = timed(s"$tag-join")(spark.sql(joinSql).head().getLong(1))
      val g = timed(s"$tag-agg")(spark.sql(aggSql).head().getLong(0))
      val _ = (j, g)
    }

    run("shuffle", bucketing = false)
    run("spj", bucketing = true)
    // second pass each to shake warmup
    run("shuffle2", bucketing = false)
    run("spj2", bucketing = true)

    // SKEW leg: a big side concentrating SPARK_GRAFT_SKEW_PCT (default
    // 80%) of rows on ONE hot key against a small dim, three ways —
    // the fully-clustered SPJ serializes the hot bucket onto one task;
    // the partially-clustered path (one task per big-side split, small
    // side replicated) is the fix this measures.
    val skewPct = sys.env.getOrElse("SPARK_GRAFT_SKEW_PCT", "80").toInt
    spark.sql(s"CREATE TABLE $cat.db.skew (k BIGINT, v BIGINT) " +
      s"PARTITIONED BY (bucket($buckets, k))")
    spark.sql(s"CREATE TABLE $cat.db.dim (k BIGINT, w BIGINT) " +
      s"PARTITIONED BY (bucket($buckets, k))")
    events.selectExpr(
        s"CAST(CASE WHEN event_id % 100 < $skewPct THEN 7 " +
          s"ELSE user_id % 9973 END AS BIGINT) AS k", "v")
      .createOrReplaceTempView("spjscale_skew_src")
    // several commits: the hot bucket is multi-file, so the partially-
    // clustered path has real splits to fan out over
    (1 to 4).foreach(_ => spark.sql(
      s"INSERT INTO $cat.db.skew SELECT k, v FROM spjscale_skew_src " +
        "WHERE k IS NOT NULL"))
    spark.sql(s"INSERT INTO $cat.db.dim " +
      "SELECT k, CAST(k * 3 AS BIGINT) AS w FROM " +
      "(SELECT DISTINCT k FROM spjscale_skew_src)")
    val skewSql = s"SELECT count(*) AS n, sum(s.v + d.w) AS t " +
      s"FROM $cat.db.skew s JOIN $cat.db.dim d ON s.k = d.k"
    def runSkew(tag: String, bucketing: Boolean, partial: Boolean): Unit = {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", bucketing.toString)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.graft.preserveDataGrouping", bucketing.toString)
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        partial.toString)
      timed(s"$tag-skewjoin")(spark.sql(skewSql).head().getLong(1))
      ()
    }
    runSkew("shuffle", bucketing = false, partial = false)
    runSkew("spj-full", bucketing = true, partial = false)
    runSkew("spj-partial", bucketing = true, partial = true)
    runSkew("shuffle2", bucketing = false, partial = false)
    runSkew("spj-full2", bucketing = true, partial = false)
    runSkew("spj-partial2", bucketing = true, partial = true)

    spark.stop()
  }
}
