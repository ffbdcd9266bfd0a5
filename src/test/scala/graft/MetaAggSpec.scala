package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min}

import graft.table.Versioned

/** Per-file row-count stats + metadata-only aggregates (Delta's
  * numRecords/OptimizeMetadataOnlyQuery analog): an unfiltered,
  * ungrouped COUNT(*)/MIN/MAX over a versioned DSv2 read answers from
  * the LOG alone — the plan is a LocalTableScan, no data file (not
  * even a footer) is opened. Coverage is never guessed: DVs, uncovered
  * files, timestamps (stats truncate to seconds), and filters all fall
  * back to the real scan.
  */
class MetaAggSpec extends SparkSpec {
  import spark.implicits._

  private def dsv2(dir: String): DataFrame =
    spark.read.format("graft-versioned").load(dir)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def isMetaPlan(df: DataFrame): Boolean = {
    val p = planOf(df)
    p.contains("LocalTableScan") && !p.toLowerCase.contains("parquet")
  }

  test("unfiltered COUNT/MIN/MAX answer from the log as a LocalTableScan") {
    val dir = tmpDir("ma_basic")
    Versioned.append((1L to 100L).map(i => (i, s"s$i")).toDF("id", "s"), dir)
    Versioned.append((101L to 250L).map(i => (i, s"s$i")).toDF("id", "s"), dir)
    Versioned.writeZoneMaps(spark, dir, 2L, Seq("id"))
    val agg = dsv2(dir).agg(
      count(lit(1)).as("n"), min(col("id")).as("lo"), max(col("id")).as("hi"))
    assert(isMetaPlan(agg), s"expected log-only plan:\n${planOf(agg)}")
    val r = agg.head()
    assert(r.getLong(0) == 250L && r.getLong(1) == 1L && r.getLong(2) == 250L)
    // count alone needs no zone maps — row stats suffice
    val c = dsv2(dir).agg(count(lit(1)).as("n"))
    assert(isMetaPlan(c) && c.head().getLong(0) == 250L)
  }

  test("a WHERE clause falls back to the real scan, values exact") {
    val dir = tmpDir("ma_where")
    Versioned.append((1L to 50L).map(i => (i, i % 7)).toDF("id", "m"), dir)
    val agg = dsv2(dir).filter(col("m") === 3).agg(count(lit(1)).as("n"))
    assert(!isMetaPlan(agg), s"filtered agg must scan:\n${planOf(agg)}")
    assert(agg.head().getLong(0) == 7L)
  }

  test("COUNT(col) pushes only for non-nullable columns") {
    val dir = tmpDir("ma_countcol")
    Versioned.append(
      (1L to 40L).map(i => (i, if (i % 4 == 0) null else s"v$i"))
        .toDF("id", "s"), dir)
    // s is nullable → count(s) must scan (25% NULLs would be wrong)
    val cs = dsv2(dir).agg(count(col("s")).as("n"))
    assert(!isMetaPlan(cs), s"nullable count must scan:\n${planOf(cs)}")
    assert(cs.head().getLong(0) == 30L)
  }

  test("time travel counts resolve at the pinned snapshot") {
    val dir = tmpDir("ma_tt")
    Versioned.append((1L to 10L).toDF("id"), dir)
    Versioned.append((11L to 30L).toDF("id"), dir)
    val v1 = spark.read.format("graft-versioned").option("versionAsOf", 1)
      .load(dir).agg(count(lit(1)).as("n"))
    assert(isMetaPlan(v1) && v1.head().getLong(0) == 10L)
    assert(Versioned.metaRowCountAt(spark, dir, 1L).contains(10L))
    assert(Versioned.metaRowCountAt(spark, dir, 2L).contains(30L))
  }

  test("DV-bearing snapshots subtract cardinality in the API, never push min/max") {
    val dir = tmpDir("ma_dv")
    Versioned.append((1L to 100L).toDF("id").coalesce(1), dir)
    Versioned.writeZoneMaps(spark, dir, 1L, Seq("id"))
    val v = Versioned.deleteWhere(spark, dir, col("id") <= 10L).get
    assert(Versioned.metaRowCountAt(spark, dir, v).contains(90L),
      "metaRowCountAt must subtract DV cardinality")
    assert(Versioned.metaMinMaxLongAt(spark, dir, v, "id").isEmpty,
      "a DV could have deleted the extremum — min/max must refuse")
    // the DSv2 read routes through the V1 bridge (no push path) and
    // stays exact
    assert(dsv2(dir).count() == 90L)
  }

  test("legacy tables skip stats until system.analyze adopts them") {
    val dir = tmpDir("ma_legacy")
    Versioned.append((1L to 20L).toDF("id"), dir)
    // simulate a pre-feature table: drop every row sidecar + marker
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val log = Versioned.logPathOf(dir)
    f.listStatus(log).map(_.getPath)
      .filter(p => p.getName.endsWith(".rows.json") || p.getName == ".rowstats")
      .foreach(p => f.delete(p, false))
    // a routine append on a legacy table must NOT start statting
    Versioned.append((21L to 50L).toDF("id"), dir)
    assert(Versioned.metaRowCountAt(spark, dir, 2L).isEmpty,
      "legacy commit must not adopt the discipline silently")
    // hybrid count still exact (scans uncovered files only)
    assert(Versioned.rowCountAt(spark, dir, 2L) == 50L)
    // explicit adoption
    val (hv, statted) = Versioned.analyzeTable(spark, dir)
    assert(hv == 2L && statted > 0L)
    assert(Versioned.metaRowCountAt(spark, dir, 2L).contains(50L))
    // and the NEXT commit carries incrementally
    Versioned.append((51L to 60L).toDF("id"), dir)
    assert(Versioned.metaRowCountAt(spark, dir, 3L).contains(60L))
  }

  test("copy-on-write delete/optimize keep full coverage through the carry") {
    val dir = tmpDir("ma_cow")
    (0 until 4).foreach(b =>
      Versioned.append((b * 25L + 1 to b * 25L + 25).toDF("id").coalesce(1), dir))
    assert(Versioned.metaRowCountAt(spark, dir, 4L).contains(100L))
    val dv = Versioned.deleteWhere(spark, dir, col("id") > 90L).get
    assert(Versioned.metaRowCountAt(spark, dir, dv).contains(90L))
    val ov = Versioned.compact(spark, dir)
    assert(Versioned.metaRowCountAt(spark, dir, ov).contains(90L))
  }

  test("timestamp min/max never pushes (stats truncate to seconds)") {
    val dir = tmpDir("ma_ts")
    Versioned.append(
      Seq(("2026-01-01 00:00:00.123456", 1L), ("2026-01-02 09:30:00.654321", 2L))
        .toDF("raw", "id")
        .select(col("raw").cast("timestamp").as("ts"), col("id")), dir)
    Versioned.writeZoneMaps(spark, dir, 1L, Seq("ts", "id"))
    val agg = dsv2(dir).agg(min(col("ts")).as("lo"))
    assert(!isMetaPlan(agg), s"timestamp min must scan:\n${planOf(agg)}")
    assert(agg.head().getTimestamp(0).toString.contains("00:00:00.123456"))
  }

  test("date and decimal extremes map back through the stat domain exactly") {
    val dir = tmpDir("ma_typed")
    Versioned.append(
      Seq(("2026-02-01", "12.34"), ("2026-03-15", "99.01"), ("2026-01-20", "7.50"))
        .toDF("d", "amt")
        .select(col("d").cast("date").as("d"),
          col("amt").cast("decimal(10,2)").as("amt")), dir)
    Versioned.writeZoneMaps(spark, dir, 1L, Seq("d", "amt"))
    val agg = dsv2(dir).agg(
      min(col("d")).as("dlo"), max(col("d")).as("dhi"),
      min(col("amt")).as("alo"), max(col("amt")).as("ahi"))
    assert(isMetaPlan(agg), s"expected log-only plan:\n${planOf(agg)}")
    val r = agg.head()
    assert(r.getDate(0).toString == "2026-01-20" &&
      r.getDate(1).toString == "2026-03-15")
    assert(r.getDecimal(2).toString == "7.50" &&
      r.getDecimal(3).toString == "99.01")
  }

  test("all-NULL zone sentinels are min/max-neutral; empty tables count 0") {
    val dir = tmpDir("ma_null")
    Versioned.append(
      Seq[(java.lang.Long, Long)]((null, 1L), (null, 2L)).toDF("x", "id")
        .coalesce(1), dir)
    Versioned.append(
      Seq[(java.lang.Long, Long)]((5L, 3L), (9L, 4L)).toDF("x", "id")
        .coalesce(1), dir)
    Versioned.writeZoneMaps(spark, dir, 2L, Seq("x"))
    val agg = dsv2(dir).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    assert(isMetaPlan(agg), s"expected log-only plan:\n${planOf(agg)}")
    val r = agg.head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 9L)
    // every file all-NULL → SQL NULL, still from metadata
    val dir2 = tmpDir("ma_allnull")
    Versioned.append(
      Seq[(java.lang.Long, Long)]((null, 1L)).toDF("x", "id"), dir2)
    Versioned.writeZoneMaps(spark, dir2, 1L, Seq("x"))
    val agg2 = dsv2(dir2).agg(min(col("x")).as("lo"))
    assert(isMetaPlan(agg2) && agg2.head().isNullAt(0))
    // truncated-empty table: count 0 without a scan
    val dir3 = tmpDir("ma_empty")
    Versioned.append((1L to 5L).toDF("id"), dir3)
    Versioned.overwrite(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)), dir3)
    val agg3 = dsv2(dir3).agg(count(lit(1)).as("n"))
    assert(agg3.head().getLong(0) == 0L)
  }

  test("past the full-carry threshold commits write deltas, fulls at checkpoint cadence") {
    val dir = tmpDir("ma_delta")
    val saved = graft.table.RowStats.FullCarryMax
    graft.table.RowStats.FullCarryMax = 2
    try {
      (0 until 20).foreach(i =>
        Versioned.append(Seq((i.toLong, i.toLong)).toDF("id", "x")
          .coalesce(1), dir))
      // counts stay exact at EVERY version through the delta chain
      (1 to 20).foreach(v =>
        assert(Versioned.metaRowCountAt(spark, dir, v.toLong)
          .contains(v.toLong), s"wrong meta count at v$v"))
      def sidecar(v: Long): String = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          dir, "_graft_log", f"v$v%08d.rows.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      // past the threshold: per-commit sidecars are O(batch) DELTAS…
      assert(sidecar(10).startsWith("""{"full":false"""),
        s"v10 should be a delta: ${sidecar(10).take(80)}")
      assert("""\{"f":""".r.findAllIn(sidecar(10)).size == 1,
        "a delta records only what its commit statted")
      // …with the complete map at checkpoint cadence
      assert(sidecar(16).startsWith("""{"full":true"""))
      assert("""\{"f":""".r.findAllIn(sidecar(16)).size == 16)
      // vacuum re-anchors when a DELTA heads the retained window: the
      // chain it resolved through is gone, counts must survive
      Versioned.vacuum(spark, dir, keepVersions = 3)
      assert(Versioned.metaRowCountAt(spark, dir, 20L).contains(20L))
      assert(sidecar(18).startsWith("""{"full":true"""),
        "the oldest retained version must be re-anchored full")
      // the DSv2 log-only count path holds through the delta chain
      val agg = dsv2(dir).agg(count(lit(1)).as("n"))
      assert(isMetaPlan(agg) && agg.head().getLong(0) == 20L)
    } finally graft.table.RowStats.FullCarryMax = saved
  }

  test("unfiltered LIMIT plans over the minimal count-covered file subset") {
    val dir = tmpDir("ma_limit")
    (0 until 4).foreach(b =>
      Versioned.append((b * 25L + 1 to b * 25L + 25).toDF("id").coalesce(1), dir))
    def paths(df: DataFrame): Int =
      """InMemoryFileIndex\((\d+) paths\)""".r
        .findFirstMatchIn(planOf(df)).map(_.group(1).toInt)
        .getOrElse(fail(s"no file index in plan:\n${planOf(df)}"))
    val ds = dsv2(dir)
    val q = ds.limit(10)
    assert(paths(q) == 1, s"LIMIT 10 over 25-row files must plan 1 file:\n${planOf(q)}")
    assert(q.collect().length == 10)
    val q2 = ds.limit(30)
    assert(paths(q2) == 2)
    assert(q2.collect().length == 30)
    // a limit past the table reads everything and returns everything
    assert(ds.limit(1000).collect().length == 100)
    // filters refuse the push: matching rows may live in any file
    val f = ds.filter(col("id") > 90L).limit(5)
    assert(paths(f) == 4, s"filtered limit must scan all files:\n${planOf(f)}")
    assert(f.collect().length == 5)
  }

  test("analyzeTable backfills a 10^4-file legacy table in one bounded pass") {
    val dir = tmpDir("ma_scale")
    Versioned.append(Seq((0L, "seed")).toDF("id", "s").coalesce(1), dir) // v1
    val seedRel = Versioned.filesAt(spark, dir, 1L).head
    val seedBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, seedRel))
    val n = 10000
    val rels = (0 until n).map { i =>
      val rel = s"d-ma-$i/part-0.parquet"
      val p = java.nio.file.Paths.get(dir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, seedBytes)
      rel
    }
    val schema = Seq((0L, "")).toDF("id", "s").schema
    Versioned.addFiles(spark, dir, rels, knownSchema = Some(schema)) // v2
    // simulate a LEGACY table: drop every row-stats artifact, so the
    // whole snapshot is uncovered and ANALYZE must stat all 10^4+1
    // files — the adoption path this feature exists for. The fixed
    // O(1) path matching makes this one distributed footer pass; the
    // old per-row endsWith scan was O(n²) on the driver.
    val log = java.nio.file.Paths.get(dir, "_graft_log")
    java.nio.file.Files.list(log).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".rows.json") || name == ".rowstats")
        java.nio.file.Files.delete(p)
    }
    assert(Versioned.rowCountsAt(spark, dir, 2L).isEmpty, "fixture must be uncovered")
    val t0 = System.nanoTime()
    val (v, statted) = Versioned.analyzeTable(spark, dir)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(v == 2L && statted == (n + 1).toLong)
    assert(secs < 120.0, f"10^4-file analyze took $secs%.1f s — unbounded?")
    // coverage converges and the metadata count is exact (1 row/file)
    assert(Versioned.metaRowCountAt(spark, dir, 2L).contains((n + 1).toLong))
    assert(Versioned.analyzeTable(spark, dir)._2 == 0L)
  }

  test("SQL over a catalog table gets the same log-only count") {
    spark.conf.set("spark.sql.catalog.macat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.macat.warehouse", tmpDir("ma_wh"))
    spark.sql("CREATE TABLE macat.ma_t (id BIGINT)")
    spark.sql("INSERT INTO macat.ma_t SELECT explode(sequence(1, 77))")
    val df = spark.sql("SELECT count(*) AS n FROM macat.ma_t")
    assert(isMetaPlan(df), s"expected log-only plan:\n${planOf(df)}")
    assert(df.head().getLong(0) == 77L)
    // CALL system.analyze is a no-op on an on-discipline table but
    // must return the head and zero fresh files
    val a = spark.sql("CALL macat.system.analyze('ma_t')").head()
    assert(a.getLong(1) == 0L, s"expected no fresh stats: $a")
    // the ANALYZE TABLE spelling runs the same backfill
    val d = spark.sql("ANALYZE TABLE macat.ma_t COMPUTE STATISTICS").head()
    assert(d.getLong(1) == 0L, s"expected no fresh stats: $d")
    // FOR ALL COLUMNS is the CBO colstats pass (ColStatsSpec pins the
    // semantics); here just the routing: one column analyzed
    val c = spark.sql(
      "ANALYZE TABLE macat.ma_t COMPUTE STATISTICS FOR ALL COLUMNS").head()
    assert(c.getLong(1) == 1L, s"expected one analyzed column: $c")
  }
}
