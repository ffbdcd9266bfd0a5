package graft

import org.apache.spark.sql.functions._

import graft.table.Versioned

/** Batch entry points to versioned tables WITHOUT graft imports: the
  * DSv2 `spark.read.format("graft-versioned")` reader (current head,
  * `versionAsOf`, `timestampAsOf`) and the pure-SQL relation
  * `` `graft-versioned`.`/dir` `` with `VERSION AS OF` / `TIMESTAMP AS
  * OF` — the reference's `spark.read.format("delta").load(path)` and
  * `delta.`/path`` shapes (02_bronze_to_silver.py:394-398).
  */
class SqlTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def threeVersions(): String = {
    val dir = tmpDir("sqltt")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)     // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)                // v2
    Versioned.overwrite(Seq((9L, "z")).toDF("id", "s"), dir)             // v3
    dir
  }

  test("format reader: head, versionAsOf, timestampAsOf") {
    val dir = threeVersions()
    def fmt = spark.read.format("graft-versioned")
    assert(fmt.load(dir).as[(Long, String)].collect().toSet == Set((9L, "z")))
    assert(fmt.option("versionAsOf", 1).load(dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(fmt.option("versionAsOf", 2).load(dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val t2 = Versioned.commitTimestampAt(spark, dir, 2L)
    assert(fmt.option("timestampAsOf", t2.toString).load(dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException](
      fmt.option("versionAsOf", 7).load(dir).collect())
  }

  test("format reader plans the NATIVE parquet scan with pushdown on DV-free snapshots") {
    val dir = threeVersions()
    val q = spark.read.format("graft-versioned").option("versionAsOf", 2).load(dir)
      .filter(col("id") > 1L).select("s")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("ParquetScan"),
      s"expected the native DSv2 parquet batch scan, got:\n$physical")
    assert(physical.contains("PushedFilters: [GreaterThan(id,1)]"),
      s"filter must reach the parquet scan:\n$physical")
    assert(q.as[String].collect().toSet == Set("b", "c"))
  }

  test("format reader subtracts deletion vectors on MoR snapshots") {
    val dir = tmpDir("sqltt_dv")
    Versioned.append((1L to 20L).map(i => (i, s"r$i")).toDF("id", "s"), dir)
    Versioned.deleteWhere(spark, dir, col("id") % 5 === 0L)
    val got = spark.read.format("graft-versioned").load(dir)
      .select("id").as[Long].collect().toSet
    assert(got == (1L to 20L).filterNot(_ % 5 == 0).toSet)
    // column pruning pushes into the bridged inner plan
    val pruned = spark.read.format("graft-versioned").load(dir).select("s")
    assert(pruned.as[String].collect().length == 16)
  }

  test("SQL relation: bare head read, VERSION AS OF, TIMESTAMP AS OF") {
    val dir = threeVersions()
    assert(spark.sql(s"SELECT id, s FROM `graft-versioned`.`$dir`")
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    assert(spark.sql(
      s"SELECT id, s FROM `graft-versioned`.`$dir` VERSION AS OF 1 ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // SQL over two versions of the SAME table in one query
    val both = spark.sql(
      s"""SELECT v1.id FROM `graft-versioned`.`$dir` VERSION AS OF 1 v1
         |JOIN `graft-versioned`.`$dir` VERSION AS OF 2 v2 ON v1.id = v2.id
         |ORDER BY v1.id""".stripMargin).as[Long].collect().toSeq
    assert(both == Seq(1L, 2L))
    val t2 = Versioned.commitTimestampAt(spark, dir, 2L)
    val iso = java.time.Instant.ofEpochMilli(t2).toString.replace("T", " ").stripSuffix("Z")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM `graft-versioned`.`$dir` TIMESTAMP AS OF '$iso'")
      .as[Long].head() == 3L)
  }

  test("SQL relation inlines the snapshot plan — no relation boundary") {
    val dir = threeVersions()
    val q = spark.sql(
      s"SELECT s FROM `graft-versioned`.`$dir` VERSION AS OF 2 WHERE id > 1")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("FileScan parquet") || physical.contains("BatchScan"),
      s"expected a native parquet scan:\n$physical")
    assert(physical.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"filter must reach the parquet scan:\n$physical")
    assert(q.as[String].collect().toSet == Set("b", "c"))
  }

  test("streaming source and sink still route through the V1 path") {
    // the provider now also implements TableProvider; Spark must keep
    // falling back to the proven V1 streaming source/sink because the
    // batch table advertises neither MICRO_BATCH_READ nor STREAMING_WRITE
    val src = tmpDir("sqltt_src")
    val dst = tmpDir("sqltt_dst")
    val ckpt = tmpDir("sqltt_ckpt")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src)
    val q = spark.readStream.format("graft-versioned")
      .option("startingVersion", 0).load(src)
      .writeStream.format("graft-versioned")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(Versioned.read(spark, dst).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
  }

  test("batch readChangeFeed: window diff, birth default, bad versions refuse") {
    val dir = tmpDir("sqltt_cdf")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)   // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)              // v2
    Versioned.updateWhere(spark, dir, col("id") === 2L,
      Map("s" -> org.apache.spark.sql.functions.lit("B")))             // v3
    Versioned.deleteWhere(spark, dir, col("id") === 1L)                // v4
    def cdf = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
    // window (2, 4]: the UPDATE commit recorded pairing keys, so its
    // rows arrive as the update pair, each tagged with its commit
    assert(cdf.option("startingVersion", 2).load(dir)
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)]
      .collect().toSet ==
      Set((2L, "b", "update_preimage", 3L), (2L, "B", "update_postimage", 3L),
        (1L, "a", "delete", 4L)))
    // explicit endingVersion bounds the diff
    assert(cdf.option("startingVersion", 1).option("endingVersion", 2).load(dir)
      .select("id", "_change_type").as[(Long, String)].collect().toSet ==
      Set((3L, "insert")))
    // ABSENT startingVersion = initial-snapshot mode: head snapshot as
    // inserts tagged with the head version
    assert(cdf.load(dir).select("_change_type", "_commit_version").distinct()
      .as[(String, Long)].collect().toSeq == Seq(("insert", 4L)))
    // EXPLICIT startingVersion 0 = the real per-commit feed from the
    // table's birth (Delta's batch convention): v1's rows as inserts
    // tagged 1, then each commit's changes at its own version
    assert(cdf.option("startingVersion", 0).load(dir)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 2L),
        (2L, "update_preimage", 3L), (2L, "update_postimage", 3L),
        (1L, "delete", 4L)))
    intercept[Exception](cdf.option("startingVersion", 9).load(dir).collect())
  }

  test("explicit startingVersion 0 refuses once the birth commit is vacuumed") {
    val dir = tmpDir("sqltt_cdf0_vac")
    (1 to 6).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), dir))
    Versioned.vacuum(spark, dir, keepVersions = 2)
    // DataFrameReader is mutable — fresh reader per case
    def cdf = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
    val e = intercept[IllegalArgumentException] {
      cdf.option("startingVersion", 0).load(dir)
    }
    assert(e.getMessage.contains("vacuumed"))
    // snapshot mode (absent start) still serves the head as inserts
    assert(cdf.load(dir).count() == 6L)
  }

  test("batch CDF pairs a MERGE commit's rows on its recorded keys") {
    val dir = tmpDir("sqltt_cdf_merge")
    Versioned.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), dir)  // v1
    // merge: k=1 updated (pairs), k=2 matched-stale (no rows), k=9
    // inserted (genuine insert, NOT an update pair despite same commit)
    Versioned.merge(spark, dir,
      Seq((1L, 11L), (9L, 90L)).toDF("k", "v"), Seq("k"))         // v2
    assert(Versioned.pairKeysAt(spark, dir, 2L) == Seq("k"))
    val out = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .load(dir)
      .select("k", "v", "_change_type").as[(Long, Long, String)]
      .collect().toSet
    assert(out == Set(
      (1L, 10L, "update_preimage"), (1L, 11L, "update_postimage"),
      (9L, 90L, "insert")), s"got $out")
  }
}
