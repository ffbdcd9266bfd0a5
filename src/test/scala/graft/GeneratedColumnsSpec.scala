package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** GENERATED columns (Delta's `GENERATED ALWAYS AS (expr)` analog):
  * declared as `graft.generated.<col>` table properties (directly, or
  * lifted out of CREATE TABLE's field metadata by GraftCatalog), the
  * contract is enforced on every write path — appends compute the
  * column when the batch omits it and validate it when supplied;
  * merges and updates REGENERATE it over their rewrite output; an
  * explicit UPDATE SET on it refuses; DROP/RENAME of the column or a
  * dependency refuses while the declaration stands.
  */
class GeneratedColumnsSpec extends SparkSpec {

  import spark.implicits._

  test("declaration validates: existence, resolution, no self-reference, data") {
    val dir = tmpDir("gen_decl")
    Versioned.append(
      Seq((1L, 10L, 20L)).toDF("id", "amount", "total"), dir)          // v1
    // unknown column refuses
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir,
        Map("graft.generated.nope" -> "amount * 2"))
    }
    // self-referential expression refuses (the probe resolves without
    // the column)
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir,
        Map("graft.generated.total" -> "total"))
    }
    // data contradicting the declaration refuses
    intercept[IllegalArgumentException] {
      Versioned.setProperties(spark, dir,
        Map("graft.generated.total" -> "amount * 3"))
    }
    // a declaration the snapshot satisfies commits
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))                    // v2
    assert(Versioned.generatedAt(spark, dir, 2L) ==
      Map("total" -> "amount * 2"))
  }

  test("append computes the omitted column and validates a supplied one") {
    val dir = tmpDir("gen_append")
    Versioned.append(
      Seq((1L, 10L, 20L)).toDF("id", "amount", "total"), dir)          // v1
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))                    // v2
    // batch omits the column → computed (typed to the committed schema)
    Versioned.append(Seq((2L, 7L)).toDF("id", "amount"), dir)          // v3
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 20L), (2L, 7L, 14L)))
    // correct supplied values pass
    Versioned.append(
      Seq((3L, 5L, 10L)).toDF("id", "amount", "total"), dir)           // v4
    // wrong supplied values refuse, naming the generated check
    val e = intercept[IllegalArgumentException] {
      Versioned.append(Seq((4L, 5L, 11L)).toDF("id", "amount", "total"), dir)
    }
    assert(e.getMessage.contains("generated_total"))
    assert(Versioned.read(spark, dir).count() == 3L)
  }

  test("merge regenerates: updates recompute, omitted-source inserts compute") {
    val dir = tmpDir("gen_merge")
    Versioned.append(
      Seq((1L, 10L, 20L), (2L, 3L, 6L)).toDF("id", "amount", "total"), dir) // v1
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))                    // v2
    // the source carries NO total column at all: matched row's amount
    // changes (total must follow), unmatched row inserts (total must
    // be computed, not NULL-padded)
    Versioned.merge(spark, dir,
      Seq((2L, 100L), (9L, 4L)).toDF("id", "amount"), Seq("id"))       // v3
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 20L), (2L, 100L, 200L), (9L, 4L, 8L)))
  }

  test("UPDATE regenerates dependencies; SET on the generated column refuses") {
    val dir = tmpDir("gen_update")
    Versioned.append(
      Seq((1L, 10L, 20L), (2L, 3L, 6L)).toDF("id", "amount", "total"), dir) // v1
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))                    // v2
    Versioned.updateWhere(spark, dir, col("id") === 1L,
      Map("amount" -> lit(50L)))                                       // v3
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 50L, 100L), (2L, 3L, 6L)))
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("id") === 2L,
        Map("total" -> lit(999L)))
    }
    assert(e.getMessage.contains("GENERATED"))
    // the MoR update path enforces and regenerates identically
    Versioned.updateWhere(spark, dir, col("id") === 2L,
      Map("amount" -> lit(8L)))                                        // v4
    assert(Versioned.read(spark, dir).as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 50L, 100L), (2L, 8L, 16L)))
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("id") === 1L,
        Map("total" -> lit(0L)))
    }
  }

  test("DROP/RENAME of the column or a dependency refuses until UNSET") {
    val dir = tmpDir("gen_drop")
    Versioned.append(
      Seq((1L, 10L, 20L, "x")).toDF("id", "amount", "total", "tag"), dir) // v1
    Versioned.setProperties(spark, dir,
      Map("graft.generated.total" -> "amount * 2"))                    // v2
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "amount")                       // dependency
    }
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "total")                        // the column
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "amount", "amt")
    }
    Versioned.dropColumn(spark, dir, "tag")                            // unrelated: fine
    Versioned.unsetProperties(spark, dir, Seq("graft.generated.total"))
    Versioned.dropColumn(spark, dir, "total")                          // detached: fine
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "amount"))
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS lands in the property; DDL lifecycle") {
    val cat = "gencat"
    val wh = tmpDir("gen_cat_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, amount BIGINT, " +
      "total BIGINT GENERATED ALWAYS AS (amount * 2)) " +
      "TBLPROPERTIES ('tier' = 'silver')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t")
      .as[(String, String)].collect().toMap
    assert(props.get("graft.generated.total").contains("amount * 2"))
    assert(props.get("tier").contains("silver"))
    // a full-row INSERT with the correct value passes; a wrong one refuses
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10, 20)")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 10, 21)")
    }
    def mentions(t: Throwable, s0: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(s0)) ||
        mentions(t.getCause, s0))
    assert(mentions(e, "generated_total"))
    assert(spark.sql(s"SELECT id, amount, total FROM $cat.db.t")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 10L, 20L)))
  }
}
