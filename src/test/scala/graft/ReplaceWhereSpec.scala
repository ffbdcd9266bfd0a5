package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** Atomic selective overwrite ([[Versioned.replaceWhere]], Delta's
  * `replaceWhere` / DSv2 `writeTo(t).overwrite(cond)`): one commit
  * deletes the matching slice and inserts the source, at the
  * matched-file footprint, with Delta's source-inside-the-slice
  * discipline enforced up front.
  */
class ReplaceWhereSpec extends SparkSpec {

  import spark.implicits._

  private def freshCat(tag: String): String = {
    val cat = s"rwcat_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"rwwh_$tag"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  test("a predicate over a GENERATED column the source omits still validates") {
    val dir = tmpDir("rw_gen")
    Versioned.overwrite(
      Seq((1L, 10L, 20L), (2L, 30L, 60L)).toDF("id", "amount", "total"), dir)
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))
    // the source rightly omits `total` (generated); the containment
    // check must see its COMPUTED value, not an aligned NULL
    val v = Versioned.replaceWhere(spark, dir,
      Seq((9L, 10L)).toDF("id", "amount"), col("total") === 20L)
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((9L, 10L, 20L), (2L, 30L, 60L)))
    // and a source row OUTSIDE the generated-column slice still refuses
    val e = intercept[IllegalArgumentException] {
      Versioned.replaceWhere(spark, dir,
        Seq((8L, 50L)).toDF("id", "amount"), col("total") === 20L)
    }
    assert(e.getMessage.contains("violate the predicate"))
    assert(Versioned.currentVersion(spark, dir).contains(v))
  }

  test("replaces the matching slice, keeps the rest, in ONE commit") {
    val dir = tmpDir("rw_basic")
    Versioned.overwrite(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "k", "v"), dir)
    val v0 = Versioned.currentVersion(spark, dir).get
    val v = Versioned.replaceWhere(spark, dir,
      Seq((9L, "a", 99L)).toDF("id", "k", "v"), col("k") === "a")
    assert(v == v0 + 1, "exactly one commit")
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((9L, "a", 99L), (3L, "b", 30L)))
    // time travel still serves the pre-replace slice
    assert(Versioned.readAt(spark, dir, v0).count() == 3)
  }

  test("untouched files carry verbatim (matched-file footprint)") {
    val dir = tmpDir("rw_files")
    // two appends → at least two distinct file sets by slice
    Versioned.overwrite(Seq((1L, "a", 10L)).toDF("id", "k", "v"), dir)
    Versioned.append(Seq((2L, "b", 20L)).toDF("id", "k", "v"), dir)
    val before = Versioned.filesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get)
    val v = Versioned.replaceWhere(spark, dir,
      Seq((9L, "a", 99L)).toDF("id", "k", "v"), col("k") === "a")
    val after = Versioned.filesAt(spark, dir, v).toSet
    // the 'b' file (no matching row) must survive under its identity
    val kept = before.toSet.intersect(after)
    assert(kept.nonEmpty, s"no file carried: before=$before after=$after")
    assert(Versioned.read(spark, dir).filter(col("k") === "b").count() == 1)
  }

  test("source rows outside the predicate are refused before any write") {
    val dir = tmpDir("rw_viol")
    Versioned.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "k", "v"), dir)
    val v0 = Versioned.currentVersion(spark, dir).get
    val e = intercept[IllegalArgumentException] {
      Versioned.replaceWhere(spark, dir,
        Seq((9L, "b", 99L)).toDF("id", "k", "v"), col("k") === "a")
    }
    assert(e.getMessage.contains("violate the predicate"))
    assert(Versioned.currentVersion(spark, dir).get == v0, "no commit landed")
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("soft-deleted rows neither match nor resurrect") {
    val dir = tmpDir("rw_dv")
    Versioned.overwrite(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "k", "v"), dir)
    // MoR delete leaves a DV on the one data file
    Versioned.deleteWhere(spark, dir, col("id") === 3L)
    Versioned.replaceWhere(spark, dir,
      Seq((9L, "a", 99L)).toDF("id", "k", "v"), col("k") === "a")
    // id=3 (soft-deleted, k=b) must NOT come back through the remainder
    // rewrite of its carrier file
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((9L, "a", 99L)))
  }

  test("empty match is a pure insert; empty source is a delete-where") {
    val dir = tmpDir("rw_edge")
    Versioned.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "k", "v"), dir)
    // no row matches k='c' → the commit is just the insert
    Versioned.replaceWhere(spark, dir,
      Seq((9L, "c", 99L)).toDF("id", "k", "v"), col("k") === "c")
    assert(Versioned.read(spark, dir).count() == 3)
    // empty source → the slice is deleted
    Versioned.replaceWhere(spark, dir,
      Seq.empty[(Long, String, Long)].toDF("id", "k", "v"), col("k") === "c")
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("DSv2 writeTo(t).overwrite(cond) routes to the selective overwrite") {
    val cat = freshCat("dsv2")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, k STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1,'a',10), (2,'a',20), (3,'b',30)")
    Seq((9L, "a", 99L)).toDF("id", "k", "v")
      .writeTo(s"$cat.db.t").overwrite(col("k") === "a")
    assert(spark.table(s"$cat.db.t").as[(Long, String, Long)].collect().toSet ==
      Set((9L, "a", 99L), (3L, "b", 30L)))
    // INSERT OVERWRITE (AlwaysTrue) is still the full overwrite
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES (7,'z',70)")
    assert(spark.table(s"$cat.db.t").as[(Long, String, Long)].collect().toSet ==
      Set((7L, "z", 70L)))
  }

  test("change feed represents the replace as deletes + inserts; streams stop") {
    val dir = tmpDir("rw_cdf")
    Versioned.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "k", "v"), dir)
    val v0 = Versioned.currentVersion(spark, dir).get
    val v = Versioned.replaceWhere(spark, dir,
      Seq((9L, "a", 99L)).toDF("id", "k", "v"), col("k") === "a")
    val ch = Versioned.changes(spark, dir, v0, v)
      .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    assert(ch == Set(("delete", 1L), ("insert", 9L)),
      s"replace must diff as delete+insert, got $ch")
  }

  test("GENERATED column computes over an omitting source; schema drift refused") {
    val dir = tmpDir("rw_gen")
    Versioned.overwrite(Seq((1L, 10L, 20L), (2L, 31L, 62L))
      .toDF("id", "amount", "total"), dir)
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))
    // source omits the generated column → computed; remainder carries
    Versioned.replaceWhere(spark, dir,
      Seq((9L, 50L)).toDF("id", "amount"), col("id") >= 2L)
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 20L), (9L, 50L, 100L)))
    // a non-generated omission refuses
    val e = intercept[IllegalArgumentException] {
      Versioned.replaceWhere(spark, dir,
        Seq(11L).toDF("id"), col("id") >= 11L)
    }
    assert(e.getMessage.contains("omits table columns"))
    // an extra column refuses (never evolves schema)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.replaceWhere(spark, dir,
        Seq((12L, 1L, 2L, "x")).toDF("id", "amount", "total", "extra"),
        col("id") >= 12L)
    }
    assert(e2.getMessage.contains("columns the table lacks"))
  }
}
