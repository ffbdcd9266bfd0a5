package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** FSCK REPAIR TABLE ([[Versioned.fsckRepair]]): out-of-band file
  * loss is acknowledged by a logged, row-mutating commit that drops
  * the dead references — reads work again, streams/change feeds
  * refuse to pretend the lost rows were observable.
  */
class FsckSpec extends SparkSpec {

  import spark.implicits._

  /** Physically deletes the data file holding `where`-matching rows. */
  private def killFileOf(dir: String, where: org.apache.spark.sql.Column): String = {
    val v = Versioned.currentVersion(spark, dir).get
    val rel = Versioned.read(spark, dir).filter(where)
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0)).head
    val p = new org.apache.hadoop.fs.Path(rel)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
    rel
  }

  test("repair drops dead references; reads work again; loss is logged") {
    val dir = tmpDir("fsck_basic")
    Versioned.append(Seq((1L, "a"), (2L, "a")).toDF("id", "k").coalesce(1), dir)
    Versioned.append(Seq((3L, "b"), (4L, "b")).toDF("id", "k").coalesce(1), dir)
    killFileOf(dir, col("k") === "a")
    // the wounded table fails to read
    intercept[Exception] { Versioned.read(spark, dir).count() }
    // DRY RUN lists the missing file without committing
    val v0 = Versioned.currentVersion(spark, dir).get
    val dry = Versioned.fsckRepair(spark, dir, dryRun = true)
    assert(dry.size == 1)
    assert(Versioned.currentVersion(spark, dir).get == v0)
    // the repair commits exactly one version and names the same file
    val missing = Versioned.fsckRepair(spark, dir)
    assert(missing == dry)
    assert(Versioned.currentVersion(spark, dir).get == v0 + 1)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((3L, "b"), (4L, "b")))
    // idempotent: nothing left to repair
    assert(Versioned.fsckRepair(spark, dir).isEmpty)
    // history before the loss still time-travels for SURVIVING files:
    // the pre-repair snapshot is gone-file-poisoned by definition, but
    // the repair commit itself reads clean
    assert(Versioned.readAt(spark, dir, v0 + 1).count() == 2)
  }

  test("DVs riding a missing file retire with its reference") {
    val dir = tmpDir("fsck_dv")
    Versioned.append(Seq((1L, "a"), (2L, "a")).toDF("id", "k").coalesce(1), dir)
    Versioned.append(Seq((3L, "b")).toDF("id", "k").coalesce(1), dir)
    // soft-delete one row of the 'a' file, then kill that file
    Versioned.deleteWhere(spark, dir, col("id") === 2L)
    killFileOf(dir, col("k") === "a")
    Versioned.fsckRepair(spark, dir)
    val head = Versioned.currentVersion(spark, dir).get
    assert(Versioned.dvsAt(spark, dir, head).isEmpty,
      "the dead file's DV must not survive its reference")
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((3L, "b")))
  }

  test("change-feed windows spanning the loss refuse with the repair named") {
    val dir = tmpDir("fsck_cdf")
    Versioned.append(Seq((1L, "a")).toDF("id", "k").coalesce(1), dir)
    Versioned.append(Seq((2L, "b")).toDF("id", "k").coalesce(1), dir)
    val v0 = Versioned.currentVersion(spark, dir).get
    killFileOf(dir, col("k") === "a")
    Versioned.fsckRepair(spark, dir)
    val head = Versioned.currentVersion(spark, dir).get
    val e = intercept[IllegalStateException] {
      Versioned.changes(spark, dir, v0 - 1, head).collect()
    }
    assert(e.getMessage.contains("fsck"), e.getMessage)
    // a window starting AFTER the repair serves normally
    Versioned.append(Seq((5L, "c")).toDF("id", "k").coalesce(1), dir)
    val post = Versioned.changes(spark, dir, head,
      Versioned.currentVersion(spark, dir).get)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(post == Set(("insert", 5L)))
  }

  test("SQL: FSCK REPAIR TABLE with DRY RUN over the path form") {
    val dir = tmpDir("fsck_sql")
    Versioned.append(Seq((1L, "a")).toDF("id", "k").coalesce(1), dir)
    Versioned.append(Seq((2L, "b")).toDF("id", "k").coalesce(1), dir)
    killFileOf(dir, col("k") === "a")
    val dry = spark.sql(s"FSCK REPAIR TABLE `graft-versioned`.`$dir` DRY RUN")
      .collect().map(_.getString(0))
    assert(dry.length == 1)
    val fixed = spark.sql(s"FSCK REPAIR TABLE `graft-versioned`.`$dir`")
      .collect().map(_.getString(0))
    assert(fixed.sameElements(dry))
    assert(Versioned.read(spark, dir).count() == 1)
    // malformed FSCK refuses with the grammar named
    val e = intercept[Exception] {
      spark.sql("FSCK TABLE whatever")
    }
    assert(e.getMessage.contains("FSCK REPAIR TABLE"))
  }
}
