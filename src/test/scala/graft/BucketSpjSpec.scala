package graft

import org.apache.spark.sql.functions._

import graft.table.Versioned

/** Storage-partitioned joins: the bucketed layout
  * (`graft.bucketBy = "col,n"` / `PARTITIONED BY (bucket(n, col))`),
  * the bucket-tagged write path, the scan's `KeyGroupedPartitioning`
  * report, and the planner outcome that justifies all of it — a join
  * of two co-bucketed tables with NO shuffle on either side.
  */
class BucketSpjSpec extends SparkSpec {

  private def freshCat(tag: String): (String, String) = {
    val cat = s"spjcat_$tag"
    val wh = tmpDir(s"spjwh_$tag")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    (cat, wh)
  }

  private def withSpj[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed append tags every file and keeps buckets pure") {
    val dir = tmpDir("spj_pure")
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 7).as("v"))
    Versioned.overwrite(df.limit(0), dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,8"))
    // overwrite drops the pre-declaration (empty, untagged) v1 file
    Versioned.overwrite(df, dir)
    val files = Versioned.filesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get)
    assert(files.nonEmpty && files.forall(f =>
      Versioned.bucketOfFile(f).exists(b => b >= 0 && b < 8)),
      s"every file must carry a bucket tag in [0, 8): $files")
    // purity: each row's pmod(hash(k), 8) equals its file's tag
    val withTag = Versioned.readAt(spark, dir,
        Versioned.currentVersion(spark, dir).get)
      .withColumn("f", input_file_name())
      .withColumn("expect", pmod(hash(col("k")), lit(8)))
    val impure = withTag.collect().filter { r =>
      val tag = Versioned.bucketOfFile(r.getAs[String]("f")).get
      tag != r.getAs[Int]("expect")
    }
    assert(impure.isEmpty, s"rows outside their file's bucket: ${impure.take(3).toSeq}")
    // row-count sidecar covered (WriteCounts path survives the rename)
    assert(Versioned.rowCountsAt(spark, dir,
      Versioned.currentVersion(spark, dir).get).exists(_.values.sum == 1000L))
  }

  test("co-bucketed join plans with zero shuffle; mismatched tables still shuffle") {
    val (cat, _) = freshCat("join")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, w BIGINT)") // unbucketed
    spark.range(0, 2000).selectExpr("id AS k", "id * 3 AS v")
      .createOrReplaceTempView("spj_src_a")
    spark.range(0, 2000).selectExpr("id AS k", "id * 5 AS w")
      .createOrReplaceTempView("spj_src_b")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_a")
    spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM spj_src_b")
    spark.sql(s"INSERT INTO $cat.db.c SELECT * FROM spj_src_b")
    withSpj {
      val j = spark.sql(s"SELECT sum(a.v + b.w) AS s FROM $cat.db.a a " +
        s"JOIN $cat.db.b b ON a.k = b.k")
      assert(j.head().getLong(0) == (0L until 2000L).map(i => i * 8).sum)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      // the same join against an unbucketed table must still shuffle
      val m = spark.sql(s"SELECT sum(a.v + c.w) AS s FROM $cat.db.a a " +
        s"JOIN $cat.db.c c ON a.k = c.k")
      assert(m.head().getLong(0) == (0L until 2000L).map(i => i * 8).sum)
      assert(m.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "bucketed-vs-unbucketed join must fall back to shuffle")
    }
  }

  test("rewrite outputs disable the report; rebucket restores it") {
    val (cat, wh) = freshCat("rebucket")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(0, 500).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("spj_src_r")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_r")
    spark.sql(s"INSERT INTO $cat.db.b SELECT k, v AS w FROM spj_src_r")
    val aDir = s"$wh/db/a"
    // a row-level UPDATE writes its new versions WITHOUT bucket tags
    // and soft-deletes the old ones with deletion vectors
    spark.sql(s"UPDATE $cat.db.a SET v = v + 1 WHERE k < 50")
    val head = Versioned.currentVersion(spark, aDir).get
    assert(Versioned.filesAt(spark, aDir, head)
      .exists(f => Versioned.bucketOfFile(f).isEmpty),
      "update must leave untagged rewrite outputs")
    withSpj {
      val q = s"SELECT sum(a.v + b.w) AS s FROM $cat.db.a a " +
        s"JOIN $cat.db.b b ON a.k = b.k"
      val expected = (0L until 500L).map(i => if (i < 50) 2 * i + 1 else 2 * i).sum
      val j1 = spark.sql(q)
      assert(j1.head().getLong(0) == expected)
      assert(j1.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "untagged files must disable the co-partitioning report")
      // rebucket rewrites ONLY the untagged and DV-carrying files and
      // re-tags them
      val dvd = Versioned.dvsAt(spark, aDir, head).keySet
      val drifted = Versioned.filesAt(spark, aDir, head)
        .filter(f => Versioned.bucketOfFile(f).isEmpty || dvd(Versioned.fileKey(f))).toSet
      assert(Versioned.rebucket(spark, aDir).isDefined)
      val after = Versioned.currentVersion(spark, aDir).get
      val files = Versioned.filesAt(spark, aDir, after)
      assert(files.forall(f => Versioned.bucketOfFile(f).isDefined))
      assert(Versioned.filesAt(spark, aDir, head).filterNot(drifted)
        .forall(files.contains), "tagged files must carry, not rewrite")
      assert(Versioned.rebucket(spark, aDir).isEmpty, "idempotent when tagged")
      val j2 = spark.sql(q)
      assert(j2.head().getLong(0) == expected)
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "rebucketed table must join shuffle-free again")
    }
  }

  test("groupBy on the bucket key aggregates with zero shuffle") {
    val (cat, _) = freshCat("agg")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.range(0, 2000).selectExpr("id % 100 AS k", "id AS v")
      .createOrReplaceTempView("spj_src_agg")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_agg")
    withSpj {
      val q = spark.sql(s"SELECT k, sum(v) AS s FROM $cat.db.a GROUP BY k")
      val out = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size == 100 &&
        out(0L) == (0L until 2000L by 100L).sum &&
        out(99L) == (99L until 2000L by 100L).sum)
      // KeyGroupedPartitioning satisfies the aggregation's clustered
      // distribution: partial+final aggregate fuse onto the scan
      assert(!q.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "bucket-keyed groupBy must not shuffle")
    }
  }

  test("declaration validates column and type; guards refuse nonsense") {
    val dir = tmpDir("spj_decl")
    Versioned.overwrite(
      spark.range(1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS d"), dir)
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "zz,8"))
    }
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "d,8"))
    }
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,0"))
    }
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k"))
    }
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,16"))
    assert(Versioned.bucketSpecAt(spark, dir,
      Versioned.currentVersion(spark, dir).get).contains((Seq("k"), 16)))
  }

  test("one side missing buckets still joins shuffle-free (pushPartValues)") {
    val (cat, _) = freshCat("partial")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(0, 400).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("spj_src_full")
    // b gets ONLY keys hashing to buckets {0, 1}: two of four bucket
    // partitions exist, so the two sides' partition VALUES mismatch
    // and Spark must fill the gaps (pushPartValues), not shuffle
    spark.range(0, 400).selectExpr("id AS k", "id AS w")
      .filter(pmod(hash(col("k")), lit(4)) < 2)
      .createOrReplaceTempView("spj_src_part")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_full")
    spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM spj_src_part")
    withSpj {
      val j = spark.sql(s"SELECT count(*) AS n, sum(a.v + b.w) AS s " +
        s"FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k")
      val expected = spark.range(0, 400)
        .filter(pmod(hash(col("id").cast("bigint")), lit(4)) < 2)
        .selectExpr("count(*) AS n", "sum(id + id) AS s").head()
      val got = j.head()
      assert(got.getLong(0) == expected.getLong(0) &&
        got.getLong(1) == expected.getLong(1))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "partial bucket coverage must not force a shuffle")
    }
  }

  test("CALL system.rebucket restores the layout by table name") {
    val (cat, wh) = freshCat("proc")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(0, 200).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("spj_src_p")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM spj_src_p")
    spark.sql(s"DELETE FROM $cat.db.t WHERE k = 7") // leaves a DV'd/untagged shape
    spark.sql(s"UPDATE $cat.db.t SET v = 0 WHERE k = 8")
    val dir = s"$wh/db/t"
    val v = spark.sql(s"CALL $cat.system.rebucket(table => 'db.t')")
      .collect().head.getLong(0)
    assert(v == Versioned.currentVersion(spark, dir).get)
    assert(Versioned.filesAt(spark, dir, v)
      .forall(f => Versioned.bucketOfFile(f).isDefined))
    // no-op second call answers the unchanged head
    assert(spark.sql(s"CALL $cat.system.rebucket(table => 'db.t')")
      .collect().head.getLong(0) == v)
  }

  test("point lookups on the bucket key open only that bucket's files") {
    val (cat, wh) = freshCat("point")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("spj_src_pt")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM spj_src_pt")
    def paths(q: String): Int = {
      val df = spark.sql(q)
      df.collect()
      """InMemoryFileIndex\((\d+) paths""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    }
    // equality: exactly one of the 8 bucket files plans
    assert(paths(s"SELECT v FROM $cat.db.t WHERE k = 17") == 1)
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 17")
      .head().getLong(0) == 34L)
    // IN across keys hashing to <= 3 buckets: at most 3 files plan
    val inPaths = paths(s"SELECT v FROM $cat.db.t WHERE k IN (1, 2, 3)")
    assert(inPaths >= 1 && inPaths <= 3, s"IN planned $inPaths files")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.db.t WHERE k IN (1, 2, 3)")
      .head().getLong(0) == 12L)
    // a rewrite's untagged file must stay in every point plan
    spark.sql(s"UPDATE $cat.db.t SET v = 99 WHERE k = 17")
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 17")
      .head().getLong(0) == 99L)
    val dir = s"$wh/db/t"
    assert(Versioned.filesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get)
      .exists(f => Versioned.bucketOfFile(f).isEmpty))
  }

  test("declared CLUSTER BY keys sort within buckets: zones stay tight") {
    val dir = tmpDir("spj_cluster")
    val df = spark.range(0, 8000)
      .selectExpr("id AS k", "id div 8 AS t", "id AS v")
    Versioned.overwrite(df.limit(0), dir)
    Versioned.setProperties(spark, dir, Map(
      Versioned.BucketByKey -> "k,4", Versioned.ClusterByKey -> "t"))
    Versioned.writeZoneMaps(spark, dir, 1L, Seq("t"))
    // force several files per bucket so within-bucket order matters
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    try {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "500")
      Versioned.append(df, dir)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val head = Versioned.currentVersion(spark, dir).get
    val all = Versioned.filesAt(spark, dir, head)
    assert(all.count(f => Versioned.bucketOfFile(f).isDefined) >= 8,
      s"expected multiple files per bucket, got ${all.size}")
    // a range slice on the cluster key must prune within buckets:
    // strictly fewer files than the table holds
    val pruned = Versioned.prunedFiles(spark, dir, head, "t", 0L, 99L)
    assert(pruned.size < all.size,
      s"zone pruning on the within-bucket sort key must bite: " +
        s"${pruned.size} of ${all.size}")
    // and the sliced read is exact
    assert(Versioned.readWhere(spark, dir, head, "t", 0L, 99L).count() == 800L)
  }

  test("composite bucket keys: co-partitioned join and point pruning") {
    val (cat, _) = freshCat("multi")
    spark.sql(s"CREATE TABLE $cat.db.a (k1 BIGINT, k2 BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k1, k2))")
    spark.sql(s"CREATE TABLE $cat.db.b (k1 BIGINT, k2 BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k1, k2))")
    spark.range(0, 1000)
      .selectExpr("id % 40 AS k1", "id % 25 AS k2", "id AS v")
      .createOrReplaceTempView("spj_src_m")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_m")
    spark.sql(s"INSERT INTO $cat.db.b SELECT k1, k2, v * 2 AS w FROM spj_src_m")
    withSpj {
      // joins: settled by experiment (round 16) — a scan reporting
      // KeyGroupedPartitioning(bucket(8, k1, k2)) from BOTH sides still
      // planned Exchange hashpartitioning(k1, k2) on both, because
      // KeyGroupedPartitioning.satisfies0 requires collectLeaves().size
      // == 1 per partition expression (bytecode-verified) and a
      // multi-arg transform has one leaf per key. So the scan must NOT
      // report: the join shuffles either way, and the report would cap
      // every non-join consumer at numBuckets tasks
      val j = spark.sql(s"SELECT count(*) AS n, sum(a.v * b.w) AS s " +
        s"FROM $cat.db.a a JOIN $cat.db.b b ON a.k1 = b.k1 AND a.k2 = b.k2")
      val exp = spark.sql(
        """SELECT count(*) AS n, sum(a.v * b.w) AS s FROM spj_src_m a
          |JOIN (SELECT k1, k2, v * 2 AS w FROM spj_src_m) b
          |ON a.k1 = b.k1 AND a.k2 = b.k2""".stripMargin).head()
      val got = j.head()
      assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1))
      // the planner gets NO co-partitioning claim from a composite
      // hash (one transform per key is all Spark can consume), so the
      // scan must NOT group splits per bucket — parallelism preserved
      assert(!j.queryExecution.executedPlan.toString.contains("GraftBucketKeyed"),
        "multi-column buckets must not report (useless grouping would " +
          "cap scan parallelism)")
      val g = spark.sql(
        s"SELECT k1, k2, sum(v) AS s FROM $cat.db.a GROUP BY k1, k2")
      assert(g.collect().length ==
        spark.sql("SELECT DISTINCT k1, k2 FROM spj_src_m").count().toInt)
      // composite point lookup prunes to one bucket's files
      val q = spark.sql(s"SELECT sum(v) AS s FROM $cat.db.a " +
        "WHERE k1 = 3 AND k2 = 18")
      val expPt = spark.sql(
        "SELECT sum(v) AS s FROM spj_src_m WHERE k1 = 3 AND k2 = 18").head()
      assert(q.head().getLong(0) == expPt.getLong(0))
      q.collect()
      val paths = """InMemoryFileIndex\((\d+) paths""".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
      assert(paths == 1, s"composite point lookup planned $paths files")
      // a probe on only ONE key column cannot bucket-prune (hash needs
      // all keys) but stays correct
      val half = spark.sql(s"SELECT count(*) AS n FROM $cat.db.a WHERE k1 = 3")
      assert(half.head().getLong(0) ==
        spark.sql("SELECT count(*) FROM spj_src_m WHERE k1 = 3").head().getLong(0))
    }
  }

  test("compaction and bare OPTIMIZE preserve the bucket layout; zorder refuses") {
    val (cat, wh) = freshCat("maint")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // several small appends: many small tagged files per bucket
    (0 until 3).foreach { i =>
      spark.range(i * 100, (i + 1) * 100).selectExpr("id AS k", "id AS v")
        .createOrReplaceTempView(s"spj_m_$i")
      spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM spj_m_$i")
    }
    val dir = s"$wh/db/t"
    // an UPDATE leaves an untagged rewrite tail
    spark.sql(s"UPDATE $cat.db.t SET v = -1 WHERE k = 5")
    val before = Versioned.currentVersion(spark, dir).get
    assert(Versioned.filesAt(spark, dir, before)
      .exists(f => Versioned.bucketOfFile(f).isEmpty))
    // bin-pack compaction must route THROUGH the bucketed writer:
    // fresh files tagged, never a cross-bucket merge stripping tags
    assert(Versioned.compactSmall(spark, dir).isDefined)
    val afterCompact = Versioned.currentVersion(spark, dir).get
    assert(Versioned.filesAt(spark, dir, afterCompact)
      .forall(f => Versioned.bucketOfFile(f).isDefined),
      "compaction on a bucketed table must re-tag everything it touches")
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $cat.db.t").head()
      .getLong(0) == 300L)
    // bare OPTIMIZE = within-bucket bin-pack + re-tag; ZORDER refuses
    spark.sql(s"UPDATE $cat.db.t SET v = -2 WHERE k = 7")
    spark.sql(s"OPTIMIZE $cat.db.t")
    val afterOpt = Versioned.currentVersion(spark, dir).get
    assert(Versioned.filesAt(spark, dir, afterOpt)
      .forall(f => Versioned.bucketOfFile(f).isDefined))
    intercept[Exception](spark.sql(s"OPTIMIZE $cat.db.t ZORDER BY (v)"))
    intercept[Exception](Versioned.optimizeClusterBy(spark, dir, Seq("v")))
  }

  test("compaction that cannot reduce the file count commits nothing") {
    val dir = tmpDir("spj_nogrow")
    val df = spark.range(0, 10).selectExpr("id AS k", "id AS v")
    Versioned.overwrite(df.limit(0), dir)
    // high bucket fan-out, tiny data: the ten ids scatter over several
    // of the 64 buckets, one file per non-empty bucket — "compaction"
    // routing them back through the bucketed writer reproduces the
    // same per-bucket files, a no-op that must not commit (and on an
    // even thinner spread could GROW the count)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,64"))
    Versioned.overwrite(df, dir)
    val head = Versioned.currentVersion(spark, dir).get
    val files = Versioned.filesAt(spark, dir, head)
    assert(files.size >= 2, s"fixture expects several bucket files: $files")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def onDisk: Int = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.endsWith(".parquet"))
    val diskBefore = onDisk
    assert(Versioned.compactSmall(spark, dir).isEmpty,
      "non-reducing compaction must decline")
    assert(Versioned.currentVersion(spark, dir).get == head,
      "declined compaction must not commit")
    // and no orphaned outputs left behind for vacuum to chase
    assert(onDisk == diskBefore,
      "declined compaction must clean its written outputs")
  }

  test("streaming sink micro-batches land bucketed (appendIdempotent route)") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("spj_st_src")
    val tgt = tmpDir("spj_st_tgt") + "/table"
    val ckpt = tmpDir("spj_st_ckpt")
    spark.range(0, 300).selectExpr("id AS k", "id AS v")
      .write.parquet(s"$src/part1")
    val schema = spark.read.parquet(s"$src/part1").schema
    // declare the layout before the first micro-batch arrives
    Versioned.overwrite(spark.range(0).selectExpr("id AS k", "id AS v"), tgt)
    Versioned.setProperties(spark, tgt, Map(Versioned.BucketByKey -> "k,4"))
    val q = spark.readStream.schema(schema).parquet(s"$src/*")
      .writeStream.format("graft-versioned")
      .option("path", tgt)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val head = Versioned.currentVersion(spark, tgt).get
    val tagged = Versioned.filesAt(spark, tgt, head)
      .filter(f => Versioned.bucketOfFile(f).isDefined)
    assert(tagged.nonEmpty, "stream batch must write bucket-tagged files")
    assert(Versioned.readAt(spark, tgt, head).count() == 300L)
  }

  test("overwrite under the declaration re-buckets the replacement snapshot") {
    val dir = tmpDir("spj_ow")
    Versioned.overwrite(
      spark.range(10).selectExpr("id AS k", "id AS v"), dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,4"))
    Versioned.overwrite(
      spark.range(100).selectExpr("id AS k", "id * 2 AS v"), dir)
    val head = Versioned.currentVersion(spark, dir).get
    val files = Versioned.filesAt(spark, dir, head)
    assert(files.nonEmpty && files.forall(f =>
      Versioned.bucketOfFile(f).exists(b => b >= 0 && b < 4)))
    assert(Versioned.readAt(spark, dir, head).agg(sum("v")).head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
  }

  test("join keys wider than the bucket key still plan shuffle-free (subset conf)") {
    // spark.sql.requireAllClusterKeysForCoPartition=false: a join on
    // (k, v) over tables bucketed by k alone is still co-partitioned on
    // the k component — clustering on k implies rows with equal (k, v)
    // share a bucket. The common fact-fact shape where the join carries
    // extra equality columns beyond the layout key.
    val (cat, _) = freshCat("widerkeys")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, v BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.range(0, 3000).selectExpr("id % 300 AS k", "id % 7 AS v", "id AS x")
      .createOrReplaceTempView("spj_wider_src")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_wider_src")
    spark.sql(s"INSERT INTO $cat.db.b SELECT k, v, x * 2 AS y FROM spj_wider_src")
    val q = s"SELECT sum(a.x + b.y) AS t FROM $cat.db.a a " +
      s"JOIN $cat.db.b b ON a.k = b.k AND a.v = b.v"
    val truth = spark.sql(q).head().getLong(0)
    withSpj {
      withConfs(
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
        val j = spark.sql(q)
        assert(j.head().getLong(0) == truth)
        assert(!j.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
          "wider-keyed join over co-bucketed tables must not shuffle")
      }
    }
  }

  test("one-side shuffle SPJ: only the unbucketed side moves (v2 bucketing shuffle)") {
    // SPARK-41413: under spark.sql.sources.v2.bucketing.shuffle.enabled,
    // a bucketed ⋈ unbucketed join shuffles ONLY the unbucketed side —
    // by the TABLE's own bucket function (GraftBucketBound.produceResult
    // evaluated executor-side) — instead of re-shuffling both sides. At
    // 100 TB this is the fact ⋈ fresh-stage join: the fact's layout is
    // reused, the small stage pays the only exchange.
    val (cat, _) = freshCat("oneside")
    spark.sql(s"CREATE TABLE $cat.db.fact (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.range(0, 4000).selectExpr("id % 500 AS k", "id AS v")
      .createOrReplaceTempView("spj_oneside_fact")
    spark.sql(s"INSERT INTO $cat.db.fact SELECT * FROM spj_oneside_fact")
    // unbucketed side as a REAL file scan (a local relation would
    // broadcast-fold); broadcast disabled below anyway
    val stageDir = tmpDir("spj_oneside_stage")
    spark.range(0, 500).selectExpr("id AS k", "id * 11 AS w")
      .write.mode("overwrite").parquet(stageDir)
    val truth = {
      val j = spark.sql(s"SELECT sum(f.v + s.w) AS t FROM $cat.db.fact f " +
        s"JOIN parquet.`$stageDir` s ON f.k = s.k")
      j.head().getLong(0)
    }
    withSpj {
      withConfs("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true") {
        val j = spark.sql(s"SELECT sum(f.v + s.w) AS t FROM $cat.db.fact f " +
          s"JOIN parquet.`$stageDir` s ON f.k = s.k")
        assert(j.head().getLong(0) == truth)
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("GraftBucketKeyed"),
          s"fact side must keep its bucket-keyed scan:\n$plan")
        // the join's ONLY exchange is the unbucketed side's, and it
        // shuffles by the TABLE's bucket function (the aggregate above
        // the join keeps its own SinglePartition exchange)
        assert(!plan.contains("Exchange hashpartitioning"),
          s"neither join side may re-shuffle by plain hash:\n$plan")
        val kgShuffles =
          "Exchange keygroupedpartitioning\\(transformexpression\\(GraftBucketBound"
            .r.findAllIn(plan).size
        assert(kgShuffles == 1,
          s"exactly the unbucketed side must shuffle by the bucket " +
            s"function (got $kgShuffles):\n$plan")
      }
    }
  }

  test("tags stay content-pure when the repartition is elided (pre-partitioned source)") {
    // regression: a source ALREADY hash-partitioned on the bucket key
    // (distinct/groupBy upstream, shuffle.partitions == numBuckets) lets
    // Spark elide the writer's repartition while AQE coalesces the
    // upstream exchange — one task then holds several buckets, and the
    // old part-index-derived tag LIED (observed: a 3-key dim written as
    // one file tagged gb00000, silently dropping 2 of 3 keys from a
    // storage-partitioned join)
    val (cat, wh) = freshCat("purity")
    spark.sql(s"CREATE TABLE $cat.db.big (uk BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, uk))")
    spark.sql(s"CREATE TABLE $cat.db.dim (uk BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, uk))")
    spark.range(0, 500)
      .selectExpr("CASE WHEN id % 5 < 4 THEN 7 ELSE id % 11 END AS uk",
        "id AS v")
      .createOrReplaceTempView("spj_pure_src")
    spark.sql(s"INSERT INTO $cat.db.big SELECT uk, v FROM spj_pure_src")
    // the hazardous shape: DISTINCT (hash-partitioned on uk) → INSERT
    spark.sql(s"INSERT INTO $cat.db.dim " +
      s"SELECT uk, uk * 7 AS w FROM (SELECT DISTINCT uk FROM spj_pure_src)")
    val dimDir = s"$wh/db/dim"
    val head = Versioned.currentVersion(spark, dimDir).get
    // purity: every row's pmod(hash(uk), 4) equals its file's tag
    val impure = Versioned.readAt(spark, dimDir, head)
      .withColumn("f", input_file_name())
      .withColumn("expect", pmod(hash(col("uk")), lit(4)))
      .collect().filter { r =>
        Versioned.bucketOfFile(r.getAs[String]("f")).get !=
          r.getAs[Int]("expect")
      }
    assert(impure.isEmpty,
      s"bucket tags must match row content: ${impure.mkString(", ")}")
    // and the SPJ join over it loses nothing vs the plain path
    val q = s"SELECT count(*) AS n FROM $cat.db.big b " +
      s"JOIN $cat.db.dim d ON b.uk = d.uk"
    val truth = spark.sql(q).head().getLong(0)
    withSpj {
      val j = spark.sql(q)
      assert(j.head().getLong(0) == truth,
        "SPJ join must see every key the plain join sees")
    }
  }

  test("string bucket keys: pure tags, point pruning, shuffle-free join") {
    val (cat, wh) = freshCat("strkey")
    spark.sql(s"CREATE TABLE $cat.db.a (s STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, s))")
    spark.sql(s"CREATE TABLE $cat.db.b (s STRING, w BIGINT) " +
      "PARTITIONED BY (bucket(4, s))")
    spark.range(0, 1000)
      .selectExpr("concat('key-', id % 97) AS s", "id AS v")
      .createOrReplaceTempView("spj_str_src")
    spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_str_src")
    spark.sql(s"INSERT INTO $cat.db.b SELECT s, v * 2 AS w FROM spj_str_src")
    val dirA = s"$wh/db/a"
    val head = Versioned.currentVersion(spark, dirA).get
    // purity: each row's pmod(hash(s), 4) equals its file's tag
    val impure = Versioned.readAt(spark, dirA, head)
      .withColumn("f", input_file_name())
      .withColumn("expect", pmod(hash(col("s")), lit(4)))
      .collect().filter { r =>
        Versioned.bucketOfFile(r.getAs[String]("f")).get !=
          r.getAs[Int]("expect")
      }
    assert(impure.isEmpty, s"string-key tags must be content-pure: " +
      s"${impure.take(3).mkString(", ")}")
    // point lookup on the string key opens only the probed bucket's file
    val q = spark.read.format("graft-versioned").load(dirA)
      .filter(col("s") === "key-42")
    q.collect()
    val planned = """InMemoryFileIndex\((\d+) paths""".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt)
    assert(planned.contains(1),
      s"string point lookup must open one bucket's file: $planned of 4")
    // and the co-bucketed join plans shuffle-free
    val truth = spark.sql(s"SELECT sum(a.v + b.w) AS t FROM $cat.db.a a " +
      s"JOIN $cat.db.b b ON a.s = b.s").head().getLong(0)
    withSpj {
      val j = spark.sql(s"SELECT sum(a.v + b.w) AS t FROM $cat.db.a a " +
        s"JOIN $cat.db.b b ON a.s = b.s")
      assert(j.head().getLong(0) == truth)
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "string-keyed co-bucketed join must not shuffle")
    }
  }

  test("maxRecordsPerFile splits within a bucket keep tags content-pure") {
    val dir = tmpDir("spj_maxrec")
    val df = spark.range(0, 500).selectExpr("7 AS k", "id AS v")
    Versioned.overwrite(df.limit(0), dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,4"))
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    try {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
      Versioned.overwrite(df, dir)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val head = Versioned.currentVersion(spark, dir).get
    val files = Versioned.filesAt(spark, dir, head)
    // one key → one bucket, split across several files by the cap;
    // every split carries the SAME content-true tag
    val expectBucket = graft.table.GraftBucketFunction
      .bucketOf(7L, org.apache.spark.sql.types.LongType, 4)
    assert(files.size >= 5, s"cap must split the bucket: $files")
    assert(files.forall(f =>
      Versioned.bucketOfFile(f).contains(expectBucket)),
      s"every split must carry bucket $expectBucket: $files")
    assert(Versioned.readAt(spark, dir, head).count() == 500L)
  }

  test("spec redeclaration over tagged files is refused until a full rewrite") {
    val dir = tmpDir("spj_redecl")
    val df = spark.range(0, 100).selectExpr("id AS k", "id AS v")
    Versioned.overwrite(df.limit(0), dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,8"))
    Versioned.overwrite(df, dir) // tagged under k,8
    // same spec is idempotent
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,8"))
    // different count / different key: stale .gb tags would be trusted
    // by pruning and SPJ under the new spec — must refuse
    intercept[IllegalStateException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,4"))
    }
    intercept[IllegalStateException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "v,8"))
    }
    // unset-then-redeclare is the same hazard (tags' spec unknowable)
    Versioned.unsetProperties(spark, dir, Seq(Versioned.BucketByKey))
    intercept[IllegalStateException] {
      Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,4"))
    }
    // a full rewrite with no spec declared emits untagged files; the
    // new declaration is then legal, and the next overwrite tags under it
    Versioned.overwrite(df, dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,4"))
    Versioned.overwrite(df, dir)
    val head = Versioned.currentVersion(spark, dir).get
    assert(Versioned.filesAt(spark, dir, head).forall(f =>
      Versioned.bucketOfFile(f).exists(b => b >= 0 && b < 4)))
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("report is gated on v2.bucketing: plain sessions keep split parallelism") {
    val (cat, _) = freshCat("gate")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(0, 400).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("spj_src_gate")
    // several commits so every bucket holds several files
    (1 to 5).foreach(_ =>
      spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spj_src_gate"))
    // force ~one split per file so parallelism is observable
    withConfs(
      "spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "16384") {
      // default session (preserveDataGrouping unset → false, even though
      // v2.bucketing defaults true in Spark 4): no bucket-keyed report,
      // one task per split — a plain scan's parallelism must NOT be
      // capped at numBuckets
      val off = spark.sql(s"SELECT k, v FROM $cat.db.a WHERE v >= 0")
      assert(!off.queryExecution.executedPlan.toString.contains("GraftBucketKeyed"),
        "without the preserve-grouping opt-in the scan must stay on the plain path")
      assert(off.queryExecution.toRdd.getNumPartitions > 4,
        "plain-path scan parallelism must exceed the bucket count")
      withSpj {
        val on = spark.sql(s"SELECT k, v FROM $cat.db.a WHERE v >= 0")
        assert(on.queryExecution.executedPlan.toString.contains("GraftBucketKeyed"),
          "with v2.bucketing the scan must report the bucket layout")
      }
    }
  }

  test("partially clustered distribution splits the hot bucket's splits") {
    val (cat, _) = freshCat("skew")
    spark.sql(s"CREATE TABLE $cat.db.big (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db.small (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // hot key 7 dominates; several commits → several files in its bucket
    spark.range(0, 30000)
      .selectExpr("CASE WHEN id % 10 < 9 THEN 7 ELSE id % 50 END AS k",
        "id AS v")
      .createOrReplaceTempView("spj_src_skew_big")
    (1 to 4).foreach(_ =>
      spark.sql(s"INSERT INTO $cat.db.big SELECT * FROM spj_src_skew_big"))
    spark.range(0, 50).selectExpr("id AS k", "id * 100 AS w")
      .createOrReplaceTempView("spj_src_skew_small")
    spark.sql(s"INSERT INTO $cat.db.small SELECT * FROM spj_src_skew_small")
    val q = s"SELECT b.k, b.v, s.w FROM $cat.db.big b " +
      s"JOIN $cat.db.small s ON b.k = s.k"
    // truth from the PLAIN path (no SPJ confs): an SPJ-vs-SPJ compare
    // would miss a bug that breaks both modes identically
    val expect =
      spark.sql(s"SELECT sum(v + w) AS t FROM ($q)").head().getLong(0)
    withSpj {
      withConfs(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.files.maxPartitionBytes" -> "16384",
        "spark.sql.files.openCostInBytes" -> "16384") {
        val j = spark.sql(q)
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"partially clustered SPJ must stay shuffle-free:\n$plan")
        // the hot bucket's splits must run as separate tasks instead of
        // serializing on one: join parallelism exceeds the bucket count
        val parts = j.queryExecution.toRdd.getNumPartitions
        assert(parts > 4,
          s"hot bucket must split across tasks, got $parts partitions")
        assert(spark.sql(s"SELECT sum(v + w) AS t FROM ($q)")
          .head().getLong(0) == expect, "skew path must not change the answer")
      }
    }
  }

  test("dynamic file pruning composes with the bucket-keyed scan via tag probes") {
    val dir = tmpDir("spj_dfp") + "/table"
    val df = spark.range(0, 800).selectExpr("id AS k", "id AS v")
    Versioned.overwrite(df.limit(0), dir)
    Versioned.setProperties(spark, dir, Map(Versioned.BucketByKey -> "k,8"))
    Versioned.overwrite(df, dir)
    // NO zone sidecars: the bucket key alone must advertise runtime
    // filterability, answered by the file-name tag probe
    val dimDir = tmpDir("spj_dfp_dim")
    spark.range(0, 800)
      .selectExpr("id AS d_k", "IF(id = 42, 'pick', 'skip') AS d_tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("d_tag") === "pick")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true") {
      val j = spark.read.format("graft-versioned").load(dir)
        .join(broadcast(dim), col("k") === col("d_k"))
      val rows = j.collect()
      assert(rows.map(_.getAs[Long]("v")).toSeq == Seq(42L))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a planted runtime filter on the bucketed fact:\n$plan")
      val live = """GraftBucketKeyed\(.*files=(\d+)""".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(live.isDefined, s"expected a bucket-keyed graft scan:\n$plan")
      assert(live.get == 1,
        s"one probed key must narrow the scan to its bucket's file: $live of 8")
    }
    // the DEFAULT path (no SPJ opt-in) gets the same tag-probe runtime
    // pruning through the plain runtime-filterable scan
    val j2 = spark.read.format("graft-versioned").load(dir)
      .join(broadcast(dim), col("k") === col("d_k"))
    assert(j2.collect().map(_.getAs[Long]("v")).toSeq == Seq(42L))
    val plan2 = j2.queryExecution.executedPlan.toString
    val live2 = """GraftRuntimeFilterable\(files=(\d+)""".r
      .findFirstMatchIn(plan2).map(_.group(1).toInt)
    assert(live2.contains(1),
      s"plain path must tag-prune to the probed bucket's file: $live2 of 8\n$plan2")
  }
}
