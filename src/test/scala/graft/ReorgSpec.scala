package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** REORG TABLE ... APPLY (PURGE) — Delta's physical-cleanup rewrite
  * ([[Versioned.reorgPurge]] + the DDL spelling): exactly the files
  * whose bytes drifted from the logical snapshot are rewritten — files
  * carrying deletion vectors (soft-deleted rows materialized away) and
  * files written before the latest DROP COLUMN (retired physical
  * columns purged) — while clean files keep their identity untouched.
  * The commit is row-preserving maintenance: streams skip it, CDF
  * windows spanning it contribute nothing for it, history still
  * time-travels.
  */
class ReorgSpec extends SparkSpec {

  import spark.implicits._

  private def pathId(dir: String): String = s"`graft-versioned`.`$dir`"

  test("purge rewrites only DV-carrying files and drops their DVs") {
    val dir = tmpDir("reorg_dv")
    Versioned.append((1 to 6).map(i => (i.toLong, s"a$i")).toDF("id", "s"), dir) // v1
    Versioned.append((7 to 9).map(i => (i.toLong, s"a$i")).toDF("id", "s"), dir) // v2
    val v1Files = Versioned.filesAt(spark, dir, 1L).toSet
    val v2Only = Versioned.filesAt(spark, dir, 2L).toSet -- v1Files
    // soft-delete rows that live only in v1's files
    assert(Versioned.deleteWhere(spark, dir, col("id") <= 2).contains(3L))
    assert(Versioned.dvsAt(spark, dir, 3L).nonEmpty)
    val v = Versioned.reorgPurge(spark, dir)
    assert(v.contains(4L))
    assert(Versioned.opAt(spark, dir, 4L) == "reorg")
    val after = Versioned.filesAt(spark, dir, 4L).toSet
    // clean files (v2's, DV-free) keep their identity; DV'd files are gone
    assert(v2Only.subsetOf(after))
    assert(Versioned.dvsAt(spark, dir, 4L).isEmpty)
    // logical content unchanged by the purge
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (3 to 9).map(i => (i.toLong, s"a$i")).toSet)
    // prior versions still time-travel (pre-delete content intact)
    assert(Versioned.readAt(spark, dir, 2L).count() == 9L)
    // nothing left to purge: no-op, no commit
    assert(Versioned.reorgPurge(spark, dir).isEmpty)
  }

  test("purge rewrites pre-DROP-COLUMN files only; retired bytes leave disk") {
    val dir = tmpDir("reorg_drop")
    Versioned.append(
      (1 to 4).map(i => (i.toLong, s"secret$i", s"s$i")).toDF("id", "secret", "s"),
      dir)                                                                  // v1
    Versioned.dropColumn(spark, dir, "secret")                              // v2
    Versioned.append((5 to 6).map(i => (i.toLong, s"s$i")).toDF("id", "s"), dir) // v3
    val stale = Versioned.filesAt(spark, dir, 1L).toSet
    val clean = Versioned.filesAt(spark, dir, 3L).toSet -- stale
    // the metadata-only drop left the column's bytes in v1's files
    assert(stale.forall(rel =>
      spark.read.parquet(Versioned.dataPathStr(dir, rel)).columns.contains("secret")))
    val v = Versioned.reorgPurge(spark, dir)
    assert(v.contains(4L))
    val after = Versioned.filesAt(spark, dir, 4L).toSet
    assert(clean.subsetOf(after))          // post-drop files untouched
    assert((after & stale).isEmpty)        // pre-drop files rewritten
    // the fresh files store only the current physical schema
    assert((after -- clean).forall(rel =>
      !spark.read.parquet(Versioned.dataPathStr(dir, rel)).columns.contains("secret")))
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, s"s$i")).toSet)
    // v1 still time-travels WITH the column (files pre-purge retained)
    assert(Versioned.readAt(spark, dir, 1L).columns.contains("secret"))
    assert(Versioned.reorgPurge(spark, dir).isEmpty)
  }

  test("purge on a vacuumed history stops at the retained window, never throws") {
    val dir = tmpDir("reorg_vac")
    Versioned.append(
      (1 to 4).map(i => (i.toLong, s"secret$i", s"s$i")).toDF("id", "secret", "s"),
      dir)                                                                  // v1
    Versioned.dropColumn(spark, dir, "secret")                              // v2
    Versioned.append((5 to 6).map(i => (i.toLong, s"s$i")).toDF("id", "s"), dir) // v3
    // truncate history below the drop: the droppedphys set already
    // exists at the oldest retained version, so the backward walk has
    // no growth point to find — it must stop at the window's edge and
    // fall back to "uncovered files are purge candidates"
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val v = Versioned.reorgPurge(spark, dir)
    assert(v.nonEmpty, "vacuumed-history purge must rewrite, not throw")
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, s"s$i")).toSet)
    // every surviving file now stores only the current physical schema
    assert(Versioned.filesAt(spark, dir, v.get).forall(rel =>
      !spark.read.parquet(Versioned.dataPathStr(dir, rel)).columns
        .contains("secret")))
    // and the purge converges: a second run finds nothing stale
    assert(Versioned.reorgPurge(spark, dir).isEmpty)
  }

  test("reorg classifies as skippable maintenance for streams and CDF") {
    val dir = tmpDir("reorg_class")
    Versioned.append((1 to 5).map(i => (i.toLong, i * 10L)).toDF("id", "x").coalesce(1), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 1L)                        // v2
    Versioned.reorgPurge(spark, dir)                                              // v3
    Versioned.append(Seq((6L, 60L)).toDF("id", "x"), dir)                         // v4
    // the (v2, v3] window holds only the reorg: row-preserving, and the
    // multiset diff across it is empty
    Versioned.windowShape(spark, dir, 2L, 3L) match {
      case Versioned.WindowShape.RowPreserving => ()
      case other => fail(s"reorg-only window classified $other")
    }
    assert(Versioned.changes(spark, dir, 2L, 3L).isEmpty)
    // a stream reading past the reorg sees only the append's rows
    assert(Versioned.streamBatch(spark, dir, 2L, 4L).count() == 1L)
  }

  test("REORG TABLE ... APPLY (PURGE) DDL; malformed REORG refused loudly") {
    val dir = tmpDir("reorg_ddl")
    Versioned.append((1 to 4).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 2L)                       // v2
    val v = spark.sql(s"REORG TABLE ${pathId(dir)} APPLY (PURGE)").as[Long].head()
    assert(v == 3L)
    assert(Versioned.opAt(spark, dir, 3L) == "reorg")
    assert(Versioned.dvsAt(spark, dir, 3L).isEmpty)
    // no-op REORG succeeds returning the head, like Delta's
    assert(spark.sql(s"REORG TABLE ${pathId(dir)} APPLY (PURGE)").as[Long].head() == 3L)
    // an unsupported APPLY clause is refused with the grammar named,
    // not delegated to Spark's parser
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"REORG TABLE ${pathId(dir)} APPLY (ZORDER)")
    }
    assert(e.getMessage.contains("REORG TABLE t APPLY (PURGE)"))
  }
}
