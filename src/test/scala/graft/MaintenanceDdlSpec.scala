package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** Delta's maintenance DDL statements over the delegating parser
  * (`GraftSqlParser`): RESTORE TABLE ... TO VERSION|TIMESTAMP AS OF,
  * OPTIMIZE [ZORDER BY], VACUUM [RETAIN n HOURS] [DRY RUN], and
  * DESC[RIBE] HISTORY — each a thin command onto the SAME committed
  * engine op the `CALL system.*` procedures run, addressable by
  * catalog name or the `graft-versioned`.`/dir` path form.
  */
class MaintenanceDdlSpec extends SparkSpec {

  import spark.implicits._

  private def pathId(dir: String): String = s"`graft-versioned`.`$dir`"

  test("RESTORE TABLE TO VERSION AS OF / TIMESTAMP AS OF commits the old snapshot") {
    val dir = tmpDir("ddl_restore")
    Versioned.append((1 to 5).map(i => (i, s"a$i")).toDF("id", "s"), dir) // v1
    Thread.sleep(3)
    Versioned.deleteWhere(spark, dir, col("id") <= 3)                    // v2
    val v = spark.sql(s"RESTORE TABLE ${pathId(dir)} TO VERSION AS OF 1")
      .as[Long].head()
    assert(v == 3L)
    assert(Versioned.read(spark, dir).count() == 5L)
    // timestamp form: v2's instant resolves to v2's content (2 rows)
    val ts2 = Versioned.commitTimestampAt(spark, dir, 2L)
    val v2 = spark.sql(
      s"RESTORE TABLE ${pathId(dir)} TO TIMESTAMP AS OF '$ts2'").as[Long].head()
    assert(v2 == 4L)
    assert(Versioned.read(spark, dir).count() == 2L)
  }

  test("OPTIMIZE bin-packs; OPTIMIZE ZORDER BY clusters; no-op returns the head") {
    val dir = tmpDir("ddl_opt")
    (1 to 4).foreach(i =>
      Versioned.append(Seq((i.toLong, i * 10L)).toDF("id", "x"), dir))
    val v = spark.sql(s"OPTIMIZE ${pathId(dir)}").as[Long].head()
    assert(v == 5L)
    assert(Versioned.opAt(spark, dir, 5L) == "compact-small")
    assert(Versioned.read(spark, dir).count() == 4L)
    // nothing left to compact: the statement is a no-op returning the head
    assert(spark.sql(s"OPTIMIZE ${pathId(dir)}").as[Long].head() == 5L)
    val vz = spark.sql(s"OPTIMIZE ${pathId(dir)} ZORDER BY (id, x)").as[Long].head()
    assert(vz == 6L)
    assert(Versioned.opAt(spark, dir, 6L) == "optimize")
    assert(Versioned.read(spark, dir).as[(Long, Long)].collect().toSet ==
      (1 to 4).map(i => (i.toLong, i * 10L)).toSet)
  }

  test("VACUUM RETAIN 0 HOURS sweeps old versions; DRY RUN only lists") {
    val dir = tmpDir("ddl_vac")
    (1 to 4).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), dir))
    Thread.sleep(5) // every commit must be older than the cutoff
    val dry = spark.sql(s"VACUUM ${pathId(dir)} RETAIN 0 HOURS DRY RUN")
    assert(dry.columns.toSeq == Seq("removed_path"))
    assert(dry.count() > 0)
    assert(Versioned.versions(spark, dir).size == 4) // nothing deleted
    val swept = spark.sql(s"VACUUM ${pathId(dir)} RETAIN 0 HOURS").count()
    assert(swept > 0)
    assert(Versioned.versions(spark, dir) == Seq(4L))
    assert(Versioned.read(spark, dir).count() == 4L)
  }

  test("DESCRIBE DETAIL summarizes the current snapshot; a table named detail delegates") {
    val dir = tmpDir("ddl_detail")
    Versioned.append((1L to 7L).toDF("id").withColumn("s", lit("x")), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 3L)                 // v2 (DV)
    Versioned.addConstraint(spark, dir, "pos_id", "id > 0")               // v3
    Versioned.setProperties(spark, dir,                                   // v4
      Map(Versioned.ClusterByKey -> "id"))
    val d = spark.sql(s"DESCRIBE DETAIL ${pathId(dir)}").collect()(0)
    assert(d.getAs[Long]("version") == 4L)
    assert(d.getAs[Long]("n_files") >= 1L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Long]("n_soft_deleted") == 1L)
    assert(d.getAs[Long]("num_rows") == 6L) // 7 appended − 1 soft-deleted
    assert(d.getAs[scala.collection.Seq[String]]("constraints").toSeq ==
      Seq("pos_id"))
    assert(d.getAs[String]("clustering") == "id")
    assert(d.getAs[String]("bucket_spec") == "")
    // Delta's shadowing rule: DESCRIBE of a table named `detail` delegates
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("detail")
    assert(spark.sql("DESCRIBE detail").count() > 0)
  }

  test("DESC HISTORY returns the log walk; plain DESCRIBE still delegates") {
    val dir = tmpDir("ddl_hist")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)
    val h = spark.sql(s"DESC HISTORY ${pathId(dir)}")
    assert(h.columns.toSeq == Seq("version", "op", "commit_ts", "n_files"))
    assert(h.select("version", "op").as[(Long, String)].collect().toSeq ==
      Seq((1L, "append"), (2L, "append")))
    assert(spark.sql(s"DESCRIBE HISTORY ${pathId(dir)}").count() == 2L)
    // LIMIT n reads only the newest n commits (Delta's history(limit))
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)
    assert(spark.sql(s"DESC HISTORY ${pathId(dir)} LIMIT 2")
      .select("version", "op").as[(Long, String)].collect().toSeq ==
      Seq((2L, "append"), (3L, "append")))
    // a LIMIT beyond the retained depth is the full walk, not an error
    assert(spark.sql(s"DESC HISTORY ${pathId(dir)} LIMIT 99").count() == 3L)
    // a table literally named `history` still DESCRIBEs as a table
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("history")
    assert(spark.sql("DESCRIBE history").count() > 0)
  }

  test("CONVERT TO GRAFT registers a flat parquet dir in place, zero copy") {
    val dir = tmpDir("ddl_conv")
    (1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val v = spark.sql(s"CONVERT TO GRAFT parquet.`$dir`").as[Long].head()
    assert(v == 1L)
    assert(Versioned.opAt(spark, dir, 1L) == "convert")
    // flat part-files moved (renamed, not copied) into a d-convert dir
    val files = Versioned.filesAt(spark, dir, 1L)
    assert(files.nonEmpty && files.forall(_.startsWith("d-convert-")))
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (1 to 20).map(i => (i.toLong, s"r$i")).toSet)
    // the converted table is a first-class versioned table: DML works
    Versioned.deleteWhere(spark, dir, col("id") <= 5)
    assert(Versioned.read(spark, dir).count() == 15L)
    Versioned.append(Seq((100L, "new")).toDF("id", "s"), dir)
    assert(Versioned.read(spark, dir).count() == 16L)
    // converting an existing table refuses
    val e = intercept[IllegalArgumentException](Versioned.convert(spark, dir))
    assert(e.getMessage.contains("already a versioned table"))
  }

  test("CONVERT keeps nested layouts in place; converts single-level hive; refuses strays") {
    val dir = tmpDir("ddl_conv_nest")
    (1 to 6).map(i => (i, i)).toDF("id", "x")
      .write.parquet(s"$dir/batch-a")
    (7 to 9).map(i => (i, i)).toDF("id", "x")
      .write.parquet(s"$dir/batch-b")
    Versioned.convert(spark, dir)
    val files = Versioned.filesAt(spark, dir, 1L)
    assert(files.forall(f => f.startsWith("batch-a/") || f.startsWith("batch-b/")),
      s"nested files must stay where they are, got $files")
    assert(Versioned.read(spark, dir).count() == 9L)

    // single-level hive layouts convert IN PLACE since the migration
    // bridge landed (HivePartitionSpec covers the full surface)
    val hive = tmpDir("ddl_conv_hive")
    (1 to 6).map(i => (i, i % 2)).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(hive)
    Versioned.convert(spark, hive)
    assert(Versioned.read(spark, hive).count() == 6L)
    assert(Versioned.read(spark, hive)
      .filter(col("p") === 1).count() == 3L)

    val stray = tmpDir("ddl_conv_stray")
    Seq((1, "a")).toDF("id", "s").write.mode("overwrite").parquet(stray)
    java.nio.file.Files.write(java.nio.file.Paths.get(stray, "notes.csv"),
      "id,s\n".getBytes)
    val e2 = intercept[IllegalArgumentException](Versioned.convert(spark, stray))
    assert(e2.getMessage.contains("non-parquet"))
  }

  test("malformed maintenance statements refuse with the grammar named") {
    val dir = tmpDir("ddl_bad")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Seq(
      s"OPTIMIZE ${pathId(dir)} WHERE id > 0",
      s"RESTORE TABLE ${pathId(dir)}",
      s"VACUUM ${pathId(dir)} RETAIN 5 DAYS",
      "VACUUM",
      "CONVERT TO GRAFT (SELECT 1)",
      "CONVERT TO DELTA parquet.`/tmp/x`"
    ).foreach { stmt =>
      val e = intercept[IllegalArgumentException](spark.sql(stmt))
      assert(e.getMessage.contains("supported grammar"), stmt)
    }
    // a non-graft identifier refuses at RUN time with the statement named
    val e = intercept[Exception](
      spark.sql("DESC HISTORY no_such_cat.ns.t").collect())
    assert(e.getMessage.contains("DESCRIBE HISTORY"))
  }
}
