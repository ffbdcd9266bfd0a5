package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.table.Versioned

/** CONVERT TO GRAFT over a hive-partitioned directory — the migration
  * bridge for a date-partitioned lake: files register IN PLACE (zero
  * bytes copied, the `col=val/` directory contract external readers
  * rely on intact), the partition column is marked in the committed
  * schema, and every read injects its value from the path
  * (`coalesce(stored, parsed)`). Appends and rewrites materialize the
  * column into engine-layout files, so DML, CDF, DVs, zone-map
  * pruning, vacuum, and OPTIMIZE all compose on the converted table.
  */
class HivePartitionSpec extends SparkSpec {

  import spark.implicits._

  /** A hive-partitioned parquet dir: day=<d>/part-*.parquet, the
    * partition column NOT stored in the files (Spark's partitionBy
    * contract — exactly what a pre-migration lake looks like).
    */
  private def hiveDir(prefix: String, days: Seq[Int] = Seq(1, 2, 3)): String = {
    val dir = tmpDir(prefix)
    days.flatMap(d => (1 to 10).map(i => (d, d * 100 + i, s"v$d-$i")))
      .toDF("day", "id", "s")
      .write.partitionBy("day").mode(SaveMode.Overwrite).parquet(dir)
    // drop Spark's _SUCCESS marker noise? convert ignores _-prefixed
    dir
  }

  test("convert registers a hive layout in place and reads inject path values") {
    val dir = hiveDir("hive_basic")
    val v = Versioned.convert(spark, dir)
    assert(v == 1L)
    val got = Versioned.read(spark, dir)
    assert(got.columns.toSet == Set("day", "id", "s"))
    assert(got.count() == 30)
    assert(got.filter(col("day") === 2).count() == 10)
    assert(got.filter(col("day") === 2).select("id").as[Int].collect().toSet ==
      (201 to 210).toSet)
    // files sit where they were: the directory contract is intact
    assert(Versioned.filesAt(spark, dir, 1L).forall(_.startsWith("day=")))
    // the marker is on the committed schema
    val sch = Versioned.schemaAt(spark, dir, 1L).get
    assert(sch("day").metadata.contains(Versioned.HivePartKey))
  }

  test("partition value type follows Spark's discovery (dates stay dates)") {
    val dir = tmpDir("hive_typed")
    Seq(("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"))
      .toDF("day", "id", "s")
      .withColumn("day", col("day").cast("date"))
      .write.partitionBy("day").mode(SaveMode.Overwrite).parquet(dir)
    Versioned.convert(spark, dir)
    val got = Versioned.read(spark, dir)
    assert(got.schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(got.filter(col("day") === lit("2024-01-02").cast("date"))
      .select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("appends materialize the column; mixed snapshots read exactly") {
    val dir = hiveDir("hive_append")
    Versioned.convert(spark, dir)
    Versioned.append(Seq((9, 901, "new-1"), (9, 902, "new-2")).toDF("day", "id", "s"), dir)
    val got = Versioned.read(spark, dir)
    assert(got.count() == 32)
    assert(got.filter(col("day") === 9).count() == 2)
    // old partitions still correct after the mixed read
    assert(got.filter(col("day") === 1).count() == 10)
    // appended files landed in engine layout, not hive dirs
    val fresh = Versioned.filesAt(spark, dir, 2L).filterNot(_.startsWith("day="))
    assert(fresh.nonEmpty && fresh.forall(_.startsWith("d-")))
  }

  test("addFiles registers a landed partition dir (the ongoing-migration pattern)") {
    val dir = hiveDir("hive_addfiles")
    Versioned.convert(spark, dir)
    // tomorrow's partition lands as plain files (no day column stored)
    val stage = tmpDir("hive_stage")
    Seq((401, "d4-a"), (402, "d4-b")).toDF("id", "s")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val f = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, "day=4")
    assert(dst.mkdirs())
    assert(f.renameTo(new java.io.File(dst, f.getName)))
    Versioned.addFiles(spark, dir, Seq(s"day=4/${f.getName}"))
    val got = Versioned.read(spark, dir)
    assert(got.count() == 32)
    assert(got.filter(col("day") === 4).select("id").as[Int].collect().toSet ==
      Set(401, 402))
  }

  test("DELETE rewrites touched hive files; untouched partitions keep their layout") {
    val dir = hiveDir("hive_delete")
    Versioned.convert(spark, dir)
    // most of day=2 goes, so each of its files is rewritten, not soft-deleted
    Versioned.deleteWhere(spark, dir, col("day") === 2 && col("id") > 202)
    val got = Versioned.read(spark, dir)
    assert(got.count() == 22)
    assert(got.filter(col("day") === 2).select("id").as[Int].collect().toSet ==
      Set(201, 202))
    // day=1 and day=3 still serve from their original hive files
    val files = Versioned.filesAt(spark, dir, 2L)
    assert(files.exists(_.startsWith("day=1/")))
    assert(files.exists(_.startsWith("day=3/")))
    assert(!files.exists(_.startsWith("day=2/")),
      "the touched partition's rows were rewritten into engine files")
  }

  test("MERGE upserts across converted and fresh rows") {
    val dir = hiveDir("hive_merge")
    Versioned.convert(spark, dir)
    val src = Seq((1, 101, "UPDATED"), (5, 501, "INSERTED")).toDF("day", "id", "s")
    Versioned.merge(spark, dir, src, Seq("id"))
    // discovery order puts the partition column last — select explicitly
    val got = Versioned.read(spark, dir).select("day", "id", "s")
      .as[(Int, Int, String)].collect()
      .map(r => r._2 -> ((r._1, r._3))).toMap
    assert(got.size == 31)
    assert(got(101) == ((1, "UPDATED")))
    assert(got(501) == ((5, "INSERTED")))
    assert(got(102) == ((1, "v1-2")), "untouched converted rows carry")
  }

  test("zone maps stat path values: pruning works on the partition column") {
    val dir = hiveDir("hive_zones")
    Versioned.convert(spark, dir)
    Versioned.writeZoneMap(spark, dir, 1L, "day")
    val pruned = Versioned.prunedFiles(spark, dir, 1L, "day", 2L, 2L)
    assert(pruned.nonEmpty && pruned.forall(_.startsWith("day=2/")),
      s"zone pruning must keep exactly day=2 files, got: $pruned")
    // and the bounded read is correct, not just smaller
    val got = Versioned.readWhere(spark, dir, 1L, "day", 2L, 2L)
    assert(got.count() == 10)
  }

  test("CDF attributes converted-table changes per commit") {
    val dir = hiveDir("hive_cdf")
    Versioned.convert(spark, dir)                                   // v1
    Versioned.deleteWhere(spark, dir, col("id") === 101)            // v2
    val ch = Versioned.changes(spark, dir, 1L, 2L)
    val types = ch.select("_change_type").as[String].collect().toSeq
    assert(types.count(_ == "delete") == 1)
    assert(ch.filter(col("_change_type") === "delete")
      .select("id").as[Int].collect().toSeq == Seq(101))
  }

  test("vacuum sweeps dead hive files per-file with an age guard") {
    val dir = hiveDir("hive_vacuum")
    Versioned.convert(spark, dir)
    Versioned.deleteWhere(spark, dir, col("day") === 2)             // v2: day=2 files dead
    // a freshly-landed, not-yet-registered file must survive (age guard)
    val young = new java.io.File(dir, "day=7")
    assert(young.mkdirs())
    Seq((701, "x")).toDF("id", "s").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(young.toString + "_tmp")
    val part = new java.io.File(young.toString + "_tmp").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(young, part.getName)))
    val removed = Versioned.vacuum(spark, dir, keepVersions = 1, tmpRetentionMs = 3600000L)
    assert(removed.exists(_.contains("day=2/")), s"dead day=2 files sweep: $removed")
    assert(new java.io.File(dir, s"day=7/${part.getName}").exists(),
      "young unregistered file survives the age guard")
    assert(!new java.io.File(dir, "day=2").exists(),
      "emptied partition dir is removed")
    assert(Versioned.read(spark, dir).count() == 20)
  }

  test("OPTIMIZE materializes the column and drops the marker (fast path restored)") {
    val dir = hiveDir("hive_optimize")
    Versioned.convert(spark, dir)
    val nv = Versioned.optimizeClusterBy(spark, dir, Seq("day"))
    val sch = Versioned.schemaAt(spark, dir, nv).get
    assert(!sch("day").metadata.contains(Versioned.HivePartKey))
    val got = Versioned.read(spark, dir)
    assert(got.count() == 30)
    assert(got.filter(col("day") === 3).count() == 10)
    assert(Versioned.filesAt(spark, dir, nv).forall(_.startsWith("d-")))
  }

  test("refusals: multi-level nesting, rename/drop of the partition column") {
    val deep = tmpDir("hive_deep")
    Seq((1, 2, 3, "x")).toDF("y", "m", "id", "s")
      .write.partitionBy("y", "m").mode(SaveMode.Overwrite).parquet(deep)
    val e = intercept[IllegalArgumentException](Versioned.convert(spark, deep))
    assert(e.getMessage.contains("multi-level") || e.getMessage.contains("mixed"))

    val dir = hiveDir("hive_guards")
    Versioned.convert(spark, dir)
    val r = intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, dir, "day", "dt"))
    assert(r.getMessage.contains("hive partition column"))
    val d = intercept[IllegalArgumentException](
      Versioned.dropColumn(spark, dir, "day"))
    assert(d.getMessage.contains("hive partition column"))
  }

  test("SQL surface: the converted table serves DSv2 reads with injected values") {
    val dir = hiveDir("hive_sql")
    spark.sql(s"CONVERT TO GRAFT parquet.`$dir`")
    val got = spark.read.format("graft-versioned").load(dir)
    assert(got.filter(col("day") === 3).count() == 10)
    assert(got.groupBy("day").count().count() == 3)
  }
}
