package graft

import org.apache.spark.sql.functions._

import graft.ops.Upsert
import graft.ops.Upsert.MergeClause.{Delete, Insert, Update}
import graft.table.Versioned

/** The full Delta MERGE action grammar — matched DELETE, multiple
  * conditional matched clauses, conditional INSERT, NOT MATCHED BY
  * SOURCE UPDATE/DELETE — at both layers: the row engine
  * ([[Upsert.mergeFull]]) and the log-committing table operation
  * ([[Versioned.mergeFull]]) with its widened touched-file discovery
  * and the by-source extension of the commuting conflict rule.
  */
class MergeFullSpec extends SparkSpec {
  import spark.implicits._

  private def tgt = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
    .toDF("k", "name", "ver")
  private def src = Seq(
    (1L, "A", 99L),    // matched, newer
    (2L, "stale", 1L), // matched, stale
    (5L, "e", 50L),    // unmatched, passes insert cond
    (6L, "f", 5L))     // unmatched, fails insert cond
    .toDF("k", "name", "ver")

  test("row engine: clause order is first-match-wins across all three slots") {
    val out = Upsert.mergeFull(
      tgt, src, Seq("k"),
      matched = Seq(
        Update(Some(Upsert.scol("ver") > Upsert.tcol("ver"))),
        Delete(None)),
      notMatched = Seq(Insert(Some(Upsert.scol("ver") >= 50))),
      notMatchedBySource = Seq(
        Delete(Some(Upsert.tcol("ver") >= 40)),
        Update(None, Map("name" -> upper(Upsert.tcol("name"))))))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, "A", 99L),  // matched clause 1: source newer -> update all
      // 2: matched, stale -> clause 2 DELETE
      (3L, "C", 30L),  // target-only, ver < 40 -> by-source UPDATE
      // 4: target-only, ver 40 -> by-source DELETE
      (5L, "e", 50L)), // conditional insert passes; 6 fails -> dropped
      s"got $out")
  }

  test("row engine: no clauses anywhere = identity on the target") {
    val out = Upsert.mergeFull(tgt, src, Seq("k"),
      matched = Nil, notMatched = Nil, notMatchedBySource = Nil)
    assert(out.orderBy("k").collect().toSeq == tgt.orderBy("k").collect().toSeq)
  }

  test("row engine: NULL conditions do not apply (SQL three-valued logic)") {
    val t = Seq((1L, Option(5L)), (2L, None: Option[Long])).toDF("k", "v")
    val s = Seq((1L, Option(7L)), (2L, Option(9L))).toDF("k", "v")
    // cond t.v > 0 is NULL for k=2 -> clause does not apply, row kept as-is
    val out = Upsert.mergeFull(t, s, Seq("k"),
      matched = Seq(Delete(Some(Upsert.tcol("v") > 0))),
      notMatched = Nil)
      .orderBy("k").collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(out == Seq((2L, -1L)))
  }

  test("row engine: validation rejects ill-formed slots") {
    intercept[IllegalArgumentException] { // insert in matched slot
      Upsert.mergeFull(tgt, src, Seq("k"), matched = Seq(Insert(None)))
    }
    intercept[IllegalArgumentException] { // dead unconditional non-last
      Upsert.mergeFull(tgt, src, Seq("k"),
        matched = Seq(Update(None), Delete(None)))
    }
    intercept[IllegalArgumentException] { // key assignment
      Upsert.mergeFull(tgt, src, Seq("k"),
        matched = Seq(Update(None, Map("k" -> lit(0L)))))
    }
    intercept[IllegalArgumentException] { // by-source update without SET
      Upsert.mergeFull(tgt, src, Seq("k"),
        notMatchedBySource = Seq(Update(None, Map.empty)))
    }
    intercept[IllegalArgumentException] { // unknown SET column
      Upsert.mergeFull(tgt, src, Seq("k"),
        matched = Seq(Update(None, Map("nope" -> lit(0L)))))
    }
  }

  test("legacy merge() equals mergeFull with the classic clause mapping") {
    val cond = Upsert.scol("ver") > Upsert.tcol("ver")
    val legacy = Upsert.merge(tgt, src, Seq("k"), updateWhen = cond)
    val full = Upsert.mergeFull(tgt, src, Seq("k"),
      matched = Seq(Update(Some(cond))), notMatched = Seq(Insert(None)))
    assert(legacy.orderBy("k").collect().toSeq
      == full.orderBy("k").collect().toSeq)
  }

  test("table op: full grammar commits through the log, DV-aware") {
    val dir = tmpDir("mergefull")
    Versioned.append(tgt.filter(col("k") % 2 === 0), dir) // v1
    Versioned.append(tgt.filter(col("k") % 2 === 1), dir) // v2
    // soft-delete k=4 -> it must NOT be visible to by-source clauses
    Versioned.deleteWhere(spark, dir, col("k") === 4L)  // v3
    Versioned.mergeFull(spark, dir, src, Seq("k"),
      matched = Seq(
        Update(Some(Upsert.scol("ver") > Upsert.tcol("ver"))),
        Delete(None)),
      notMatched = Seq(Insert(Some(Upsert.scol("ver") >= 50))),
      notMatchedBySource = Seq(Delete(Some(Upsert.tcol("ver") >= 30))))
    val rows = Versioned.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // 1 updated, 2 matched-deleted, 3 by-source-deleted (ver 30),
    // 4 was already soft-deleted, 5 inserted, 6 failed the insert cond
    assert(rows == Seq((1L, "A", 99L), (5L, "e", 50L)), s"got $rows")
  }

  test("table op: selective by-source conditions keep the file footprint tight") {
    val dir = tmpDir("mergefull_fp")
    // three disjoint key-range files; source matches nothing
    Versioned.append(Seq((1L, 10L)).toDF("k", "v"), dir)
    Versioned.append(Seq((100L, 10L)).toDF("k", "v"), dir)
    Versioned.append(Seq((200L, 10L)).toDF("k", "v"), dir)
    val before = Versioned.filesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get).toSet
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    Versioned.mergeFull(spark, dir, empty, Seq("k"),
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(Delete(Some(Upsert.tcol("k") >= 200))))
    val after = Versioned.filesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get).toSet
    // only the k=200 file was rewritten (its replacement is empty);
    // the other two carried verbatim
    assert((before -- after).size == 1, s"rewrote ${before -- after}")
    assert((before intersect after).size == 2, s"carried ${before intersect after}")
    assert(Versioned.read(spark, dir).select("k").as[Long].collect().toSet
      == Set(1L, 100L))
  }

  test("conflict matrix: a concurrent append of by-source-affected rows forces a re-plan") {
    val dir = tmpDir("mergefull_race")
    Versioned.append(Seq((1L, "keep", 100L)).toDF("k", "name", "ver"), dir) // v1
    val source = Seq((1L, "KEEP", 200L)).toDF("k", "name", "ver")
    // the injected append lands unmatched rows (k=7,8 with low ver)
    // BETWEEN the merge's read and its commit: the by-source DELETE's
    // read set ("no unmatched row with ver < 50 exists outside my
    // touched files") is invalidated, the commute check must refuse,
    // and the re-planned merge must delete the appended rows too
    val store = new InjectBeforeFirstPublish(() =>
      Versioned.append(
        Seq((7L, "late", 1L), (8L, "late", 2L)).toDF("k", "name", "ver"), dir))
    Versioned.withLogStore(store) {
      Versioned.mergeFull(spark, dir, source, Seq("k"),
        matched = Seq(Update(None)),
        notMatched = Seq(Insert(None)),
        notMatchedBySource = Seq(Delete(Some(Upsert.tcol("ver") < 50))))
    }
    val rows = Versioned.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // serializable as append THEN merge: k=1 updated, 7 and 8 deleted
    assert(rows == Seq((1L, "KEEP", 200L)), s"got $rows")
    // and the race really happened: append's commit + the re-planned
    // merge's commit (the injected append took the version the merge
    // first reserved)
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L, 3L))
  }

  test("conflict matrix: a disjoint concurrent append still commutes") {
    val dir = tmpDir("mergefull_commute")
    Versioned.append(Seq((1L, "x", 100L)).toDF("k", "name", "ver"), dir) // v1
    val source = Seq((1L, "X", 200L)).toDF("k", "name", "ver")
    // the injected rows have ver >= 50: the by-source DELETE's
    // condition provably cannot hold on them, so the merge may commute
    // past the append without re-planning (rows survive)
    val store = new InjectBeforeFirstPublish(() =>
      Versioned.append(Seq((9L, "hi", 90L)).toDF("k", "name", "ver"), dir))
    Versioned.withLogStore(store) {
      Versioned.mergeFull(spark, dir, source, Seq("k"),
        matched = Seq(Update(None)),
        notMatched = Seq(Insert(None)),
        notMatchedBySource = Seq(Delete(Some(Upsert.tcol("ver") < 50))))
    }
    val rows = Versioned.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "X", 200L), (9L, "hi", 90L)), s"got $rows")
  }
}
