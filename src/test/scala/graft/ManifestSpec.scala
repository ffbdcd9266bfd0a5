package graft

import org.apache.spark.sql.functions.col

import graft.table.Versioned

/** `GENERATE symlink_format_manifest` (Delta's external-reader bridge):
  * the manifest must list exactly the current snapshot's data files as
  * absolute URIs an engine WITHOUT a log reader can consume as plain
  * parquet — and must refuse whenever raw parquet bytes differ from the
  * logical table (deletion vectors, column mapping).
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def readManifest(mf: String): Seq[String] = {
    val src = scala.io.Source.fromFile(new org.apache.hadoop.fs.Path(mf).toUri.getPath)
    try src.getLines().toSeq.map(identity) finally src.close()
  }

  test("the manifest lists exactly the snapshot's files, readable as plain parquet") {
    val dir = tmpDir("mf_plain")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) // v2
    val mfs = Versioned.generateManifest(spark, dir)
    assert(mfs.size == 1)
    val listed = readManifest(mfs.head)
    assert(listed.size == Versioned.filesAt(spark, dir, 2L).size)
    // the external-reader simulation: feed the listed URIs straight to
    // a parquet scan — content must equal the logical table
    assert(spark.read.parquet(listed: _*).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("re-generation republishes the NEW snapshot; staleness is the caller's contract") {
    val dir = tmpDir("mf_regen")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir) // v1
    val first = readManifest(Versioned.generateManifest(spark, dir).head)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir) // v2
    // the old manifest still serves v1's files (stale, not wrong) ...
    assert(spark.read.parquet(first: _*).count() == 1)
    // ... and re-running GENERATE publishes the current snapshot
    val second = readManifest(Versioned.generateManifest(spark, dir).head)
    assert(second.toSet != first.toSet && second.size == 2)
    assert(spark.read.parquet(second: _*).count() == 2)
  }

  test("deletion vectors refuse; REORG APPLY (PURGE) makes the table manifest-able again") {
    val dir = tmpDir("mf_dv")
    Versioned.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") <= 3L) // v2: DVs
    val e = intercept[IllegalArgumentException] {
      Versioned.generateManifest(spark, dir)
    }
    assert(e.getMessage.contains("REORG"))
    Versioned.reorgPurge(spark, dir) // materializes the DVs away
    val listed = readManifest(Versioned.generateManifest(spark, dir).head)
    assert(spark.read.parquet(listed: _*).count() == 7)
  }

  test("column mapping refuses (physical names would leak to external engines)") {
    val dir = tmpDir("mf_map")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir) // v1
    Versioned.renameColumn(spark, dir, "s", "label") // v2: logical≠physical
    val e = intercept[IllegalArgumentException] {
      Versioned.generateManifest(spark, dir)
    }
    assert(e.getMessage.contains("column mapping"))
  }

  test("the DDL spelling returns one row per manifest written") {
    val dir = tmpDir("mf_ddl")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val rows = spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE `graft-versioned`.`$dir`")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0).endsWith("manifest"))
    // unsupported GENERATE shapes refuse with the grammar named
    val e = intercept[Exception] {
      spark.sql(s"GENERATE other_manifest FOR TABLE `graft-versioned`.`$dir`")
    }
    assert(e.getMessage.contains("symlink_format_manifest"))
  }
}
