package graft

import org.apache.spark.sql.functions.col

import graft.table.Versioned

/** Per-file Bloom indexes (Databricks BLOOMFILTER INDEX analog): the
  * equality-probe data-skipping complement of zone maps — a
  * random-distributed high-cardinality key spans every file's zone
  * range, but a bloom rules files out per value. False positives and
  * unstatted files only WIDEN the scan; the residual predicate and DV
  * subtraction keep rows exact.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  /** 4 files, ids partitioned by range so each value lives in exactly
    * one file — the pruning assertion substrate.
    */
  private def mkTable(prefix: String): String = {
    val dir = tmpDir(prefix)
    (0 to 3).foreach { p =>
      Versioned.append(
        (1L to 25L).map(i => (p * 25L + i, s"k-${p * 25L + i}"))
          .toDF("id", "key").coalesce(1), dir)
    }
    assert(Versioned.filesAt(spark, dir, 4L).size == 4)
    dir
  }

  test("a bloom build prunes equality probes to a strict file subset, rows exact") {
    val dir = mkTable("bl_basic")
    val v = Versioned.buildBloom(spark, dir, Seq("key"), fpp = 0.01,
      itemsPerFile = 1000L)
    assert(v == 4L)
    val all = Versioned.filesAt(spark, dir, 4L)
    val pruned = Versioned.bloomPrunedFiles(spark, dir, 4L, "key", "k-30")
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"bloom must rule out files for a single-file value: $pruned")
    assert(Versioned.readWhereEquals(spark, dir, 4L, "key", "k-30")
      .as[(Long, String)].collect().toSeq == Seq((30L, "k-30")))
    // a value in NO file: with 100 keys/file at fpp 1% the probe
    // deterministically (fixed data, fixed hash) prunes everything
    assert(Versioned.readWhereEquals(spark, dir, 4L, "key", "absent").count() == 0)
  }

  test("files appended after the build are never pruned (no stats widens, never loses)") {
    val dir = mkTable("bl_fresh")
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L) // at v4
    Versioned.append(Seq((999L, "fresh")).toDF("id", "key").coalesce(1), dir) // v5
    val pruned = Versioned.bloomPrunedFiles(spark, dir, 5L, "key", "fresh")
    // the fresh file has no entry in the v4 build → must stay in
    assert(Versioned.readWhereEquals(spark, dir, 5L, "key", "fresh")
      .as[(Long, String)].collect().toSeq == Seq((999L, "fresh")))
    assert(pruned.exists(f => !Versioned.filesAt(spark, dir, 4L).contains(f)),
      "the un-statted fresh file must survive pruning")
  }

  test("time travel BEFORE the build still prunes exactly (entries keyed by immutable files)") {
    val dir = mkTable("bl_tt")
    Versioned.append(Seq((999L, "late")).toDF("id", "key").coalesce(1), dir) // v5
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L) // at v5
    // reading v4 (pre-build): v4's files are all statted in the v5
    // build... but the build is AT v5 > v4 — latestPointerAt(4) finds
    // nothing → no pruning, full correctness
    assert(Versioned.bloomPrunedFiles(spark, dir, 4L, "key", "k-30").size ==
      Versioned.filesAt(spark, dir, 4L).size)
    // at v5 the build applies
    assert(Versioned.bloomPrunedFiles(spark, dir, 5L, "key", "k-30").size < 5)
  }

  test("DV-deleted rows never resurface through a bloom-pruned read") {
    val dir = mkTable("bl_dv")
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L) // at v4
    Versioned.deleteWhere(spark, dir, col("id") === 30L) // v5: DV
    // the bloom (built from raw bytes) still routes to the file; the
    // DV subtraction must erase the row
    assert(Versioned.readWhereEquals(spark, dir, 5L, "key", "k-30").count() == 0)
    assert(Versioned.readWhereEquals(spark, dir, 5L, "key", "k-31").count() == 1)
  }

  test("renamed columns keep pruning through physical names") {
    val dir = mkTable("bl_rename")
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L)
    Versioned.renameColumn(spark, dir, "key", "label") // v5: logical rename
    val v = Versioned.currentVersion(spark, dir).get
    assert(Versioned.readWhereEquals(spark, dir, v, "label", "k-30")
      .select("id").as[Long].collect().toSeq == Seq(30L))
    assert(Versioned.bloomPrunedFiles(spark, dir, v, "label", "k-30").size < 4)
  }

  test("the DSv2 read path consults the bloom index for pushed equality probes") {
    val dir = mkTable("bl_dsv2")
    def filesOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match {
              case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
                p.fileIndex.inputFiles.length
              case s => // runtime-filterable wrapper carries its live count
                """files=(\d+)""".r.findFirstMatchIn(s.description())
                  .map(_.group(1).toInt).getOrElse(Int.MaxValue)
            }
        }).sum
    def read = spark.read.format("graft-versioned").load(dir)
    // no index yet: the equality scan plans the full file set
    assert(filesOf(read.filter(col("key") === "k-30")) == 4)
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L)
    val prunedPlan = read.filter(col("key") === "k-30")
    assert(filesOf(prunedPlan) < 4,
      "a SQL equality probe must plan fewer files once a bloom exists")
    assert(prunedPlan.select("id").as[Long].collect().toSeq == Seq(30L))
    // conjunct with a second predicate: still prunes, rows exact
    val conj = read.filter(col("key") === "k-30" && col("id") > 0L)
    assert(filesOf(conj) < 4)
    assert(conj.count() == 1L)
    // a non-equality filter alone never consults the index
    assert(filesOf(read.filter(col("key") > "k-30")) == 4)
  }

  test("a probe literal of a narrower type than the column still finds its rows") {
    val dir = tmpDir("bl_type")
    // BIGINT column: xxhash64 hashes Int and Long representations of
    // the same number differently — the probe must hash at the
    // COLUMN's type or every file gets wrongly ruled out
    (0 to 3).foreach { p =>
      Versioned.append(
        (1L to 25L).map(i => (p * 25L + i, i)).toDF("id", "v").coalesce(1), dir)
    }
    Versioned.buildBloom(spark, dir, Seq("id"), itemsPerFile = 1000L)
    val hit = Versioned.readWhereEquals(spark, dir, 4L, "id", 30) // Int probe
    assert(hit.count() == 1L, "Int probe on a BIGINT column must not lose rows")
    assert(Versioned.bloomPrunedFiles(spark, dir, 4L, "id", 30).size < 4,
      "a representable narrower probe must still prune")
    // an unrepresentable probe never prunes (and the residual filter
    // keeps the result exact)
    assert(Versioned.bloomPrunedFiles(spark, dir, 4L, "id", "not-a-number")
      .size == 4)
  }

  test("incremental build stats only appended files; both eras prune after") {
    val dir = mkTable("bl_incr")
    Versioned.buildBloom(spark, dir, Seq("key"), itemsPerFile = 1000L) // at v4
    Versioned.append(Seq((999L, "fresh-a")).toDF("id", "key").coalesce(1), dir) // v5
    Versioned.append(Seq((998L, "fresh-b")).toDF("id", "key").coalesce(1), dir) // v6
    // pre-increment: fresh files are unprunable (no entries)
    assert(Versioned.bloomPrunedFiles(spark, dir, 6L, "key", "k-30").size == 3)
    val (v, statted) = Versioned.buildBloomIncremental(spark, dir)
    assert(v == 6L && statted == 2L,
      s"exactly the two appended files must stat (got $statted)")
    // old-era value: the original generation prunes, fresh files ruled out
    assert(Versioned.bloomPrunedFiles(spark, dir, 6L, "key", "k-30").size == 1)
    // fresh-era value: the new generation prunes the old files too
    assert(Versioned.bloomPrunedFiles(spark, dir, 6L, "key", "fresh-b").size == 1)
    assert(Versioned.readWhereEquals(spark, dir, 6L, "key", "fresh-b")
      .as[(Long, String)].collect().toSeq == Seq((998L, "fresh-b")))
    assert(Versioned.readWhereEquals(spark, dir, 6L, "key", "k-30")
      .as[(Long, String)].collect().toSeq == Seq((30L, "k-30")))
    // converged: a second increment stats nothing
    assert(Versioned.buildBloomIncremental(spark, dir)._2 == 0L)
    // and refuses on a never-indexed table
    val bare = tmpDir("bl_incr_bare")
    Versioned.append(Seq((1L, "x")).toDF("id", "key"), bare)
    val e = intercept[IllegalArgumentException] {
      Versioned.buildBloomIncremental(spark, bare)
    }
    assert(e.getMessage.contains("no bloom index"))
  }

  test("CALL system.bloom_incremental runs the increment by table name") {
    val cat = "blcat1"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("blwh1"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, key STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("CREATE BLOOMFILTER INDEX ON TABLE " +
      s"$cat.db.t FOR COLUMNS (key)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'c')")
    val r = spark.sql(
      s"CALL $cat.system.bloom_incremental(table => 'db.t')").collect().head
    assert(r.getLong(1) >= 1L, "the appended files must stat")
    assert(spark.sql(s"SELECT id FROM $cat.db.t WHERE key = 'c'")
      .as[Long].collect().toSeq == Seq(3L))
  }

  test("the DDL spelling builds the index; bad shapes refuse with the grammar named") {
    val dir = mkTable("bl_ddl")
    val rows = spark.sql(
      "CREATE BLOOMFILTER INDEX ON TABLE `graft-versioned`.`" + dir + "` " +
        "FOR COLUMNS (key) OPTIONS (fpp = 0.02, itemsPerFile = 500)").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L))
    assert(Versioned.bloomPrunedFiles(spark, dir, 4L, "key", "k-30").size < 4)
    val e = intercept[Exception] {
      spark.sql(s"CREATE BLOOMFILTER INDEX ON `graft-versioned`.`$dir`")
    }
    assert(e.getMessage.contains("BLOOMFILTER INDEX ON TABLE"))
    // unknown column refuses loudly
    val e2 = intercept[IllegalArgumentException] {
      Versioned.buildBloom(spark, dir, Seq("nope"))
    }
    assert(e2.getMessage.contains("no such column"))
  }
}
