package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** [[Versioned.addFiles]] — the bulk-ingest primitive: commit parquet
  * files that already sit under the table root, no rewrite (Iceberg
  * add_files analog). One partitioned write job can land as many
  * micro-batch commits as it has partitions.
  */
class AddFilesSpec extends SparkSpec {

  import spark.implicits._

  private def stageOne(dir: String, sub: String, rows: Seq[(Int, String)]): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows.toDF("id", "s").coalesce(1).write.parquet(s"$dir/$sub")
    f.listStatus(new org.apache.hadoop.fs.Path(dir, sub)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).map(n => s"$sub/$n")
  }

  test("registers pre-written files as an append commit") {
    val dir = tmpDir("af_basic")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    val files = stageOne(dir, "d-bulk-1", Seq((2, "b"), (3, "c")))
    val v = Versioned.addFiles(spark, dir, files)
    assert(v == 2L)
    assert(Versioned.opAt(spark, dir, 2L) == "append")
    val got = Versioned.read(spark, dir).as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("an addFiles commit reads the head entry it planned against once") {
    val dir = tmpDir("af_reads")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    val schema = Some(Seq((0, "")).toDF("id", "s").schema)
    val reads = (2 to 4).map { i =>
      val files = stageOne(dir, s"d-bulk-r$i", Seq((i, "x")))
      val r0 = Versioned.logReads.get()
      assert(Versioned.addFiles(spark, dir, files, knownSchema = schema) == i.toLong)
      Versioned.logReads.get() - r0
    }
    // the head entry (planning and publish share it) and the new entry
    // (sidecar carry)
    assert(reads == Seq(2L, 2L, 2L), s"log reads per addFiles commit: $reads")
  }

  test("can create the table: first commit defines the schema from footers") {
    val dir = tmpDir("af_first")
    val files = stageOne(dir, "d-bulk-0", Seq((7, "x")))
    assert(Versioned.addFiles(spark, dir, files) == 1L)
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSeq == Seq((7, "x")))
  }

  test("knownSchema skips footer inference and still reads correctly") {
    val dir = tmpDir("af_known")
    val files = stageOne(dir, "d-bulk-2", Seq((9, "k")))
    Versioned.addFiles(spark, dir, files,
      knownSchema = Some(Seq((0, "")).toDF("id", "s").schema))
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSeq == Seq((9, "k")))
  }

  test("a file name holding a JSON delimiter commits and reads back from a fresh reader") {
    val dir = tmpDir("af_names")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    val Seq(staged) = stageOne(dir, "d-bulk", Seq((2, "b")))
    val odd = "d-bulk/sales,2024.parquet"
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .rename(new org.apache.hadoop.fs.Path(dir, staged), new org.apache.hadoop.fs.Path(dir, odd))
    assert(Versioned.addFiles(spark, dir, Seq(odd)) == 2L)
    // a fresh reader (memo cleared) resolves the file list from the log
    Versioned.clearFilesMemo()
    assert(Versioned.filesAt(spark, dir, 2L).contains(odd))
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
  }

  test("refuses nested, absolute, escaping, missing, and duplicate paths") {
    val dir = tmpDir("af_bad")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    val files = stageOne(dir, "d-bulk-3", Seq((2, "b")))
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, Seq("a/b/c.parquet"))
    }
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, Seq("/etc/passwd"))
    }
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, Seq("../other/x.parquet"))
    }
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, Seq("d-bulk-3/nope.parquet"))
    }
    Versioned.addFiles(spark, dir, files)
    // the same file again would double-count its rows
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, files)
    }
  }

  test("a duplicate WITHIN one batch is refused") {
    val dir = tmpDir("af_batchdup")
    val files = stageOne(dir, "d-bulk-6", Seq((1, "a")))
    // would list the file twice in the committed snapshot — double rows
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dir, files ++ files)
    }
    assert(Versioned.currentVersion(spark, dir).isEmpty)
  }

  test("commit refuses colliding file identities (clone reference vs local file)") {
    val src = tmpDir("af_key_src")
    val dst = tmpDir("af_key_dst")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), src)
    Versioned.cloneTable(spark, src, dst) // dst references src's file absolutely
    // land a LOCAL file under the clone's root with the same
    // <subdir>/<file> name as the cloned reference: its fileKey (last
    // two segments) collides — DV lookups and CDF attribution would
    // cross-apply between the two with no error, so the commit refuses
    val rel = Versioned.filesAt(spark, src, 1L).head
    val from = java.nio.file.Paths.get(src, rel)
    val to = java.nio.file.Paths.get(dst, rel)
    java.nio.file.Files.createDirectories(to.getParent)
    java.nio.file.Files.copy(from, to)
    intercept[IllegalArgumentException] {
      Versioned.addFiles(spark, dst, Seq(rel))
    }
    // the clone is undamaged
    assert(Versioned.read(spark, dst).count() == 1L)
  }

  test("schema is enforced like append: mismatch refused, mergeSchema widens") {
    val dir = tmpDir("af_schema")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    val wide = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((2, "b", 9L)).toDF("id", "s", "extra").coalesce(1)
      .write.parquet(s"$dir/d-bulk-w")
    val files = wide.listStatus(new org.apache.hadoop.fs.Path(dir, "d-bulk-w")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).map(n => s"d-bulk-w/$n")
    intercept[Exception] { Versioned.addFiles(spark, dir, files) }
    Versioned.addFiles(spark, dir, files, mergeSchema = true)
    val got = Versioned.read(spark, dir)
      .select("id", "s", "extra").as[(Int, String, Option[Long])].collect().toSet
    assert(got == Set((1, "a", None), (2, "b", Some(9L))))
  }

  test("registered files participate in rewrites, CDF, and time travel like written ones") {
    val dir = tmpDir("af_rewrite")
    Versioned.append(Seq((1, "keep")).toDF("id", "s"), dir)
    val files = stageOne(dir, "d-bulk-4", Seq((2, "kill"), (3, "keep")))
    Versioned.addFiles(spark, dir, files) // v2
    Versioned.deleteWhere(spark, dir, col("s") === "kill") // v3
    assert(Versioned.read(spark, dir).as[(Int, String)].collect().toSet ==
      Set((1, "keep"), (3, "keep")))
    assert(Versioned.readAt(spark, dir, 2L).as[(Int, String)].collect().toSet ==
      Set((1, "keep"), (2, "kill"), (3, "keep")))
    val feed = Versioned.changesWithType(spark, dir, 1L, 3L)
      .select("id", "_change_type", "_commit_version")
      .as[(Int, String, Long)].collect().toSet
    assert(feed == Set((2, "insert", 2L), (3, "insert", 2L), (2, "delete", 3L)))
  }

  test("constraints validate the registered rows before the commit publishes") {
    val dir = tmpDir("af_cons")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    Versioned.addConstraint(spark, dir, "pos_id", "id > 0")
    val files = stageOne(dir, "d-bulk-5", Seq((-5, "bad")))
    intercept[Exception] { Versioned.addFiles(spark, dir, files) }
    // the refused commit must not have landed
    assert(Versioned.currentVersion(spark, dir).contains(3L) ||
      Versioned.currentVersion(spark, dir).contains(2L))
    assert(Versioned.read(spark, dir).count() == 1L)
  }
}
