package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** TBLPROPERTIES — log-carried table properties
  * ([[Versioned.setProperties]]/`unsetProperties`/`propertiesAt`), the
  * SET/UNSET/SHOW DDL on both the catalog and path spellings, and the
  * engine knobs that honor them per table: `graft.checkpointInterval`
  * (full-list cadence), `graft.mergeKeyBroadcastMaxBytes` (merge
  * discovery gate), `graft.vacuum.retainHours` (VACUUM's default).
  */
class TblPropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def pathId(dir: String): String = s"`graft-versioned`.`$dir`"

  test("set/unset lifecycle: carried, per-snapshot, validated") {
    val dir = tmpDir("props_api")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)                // v1
    val v2 = Versioned.setProperties(spark, dir,
      Map("owner" -> "ml-data", "graft.vacuum.retainHours" -> "12"))
    assert(v2 == 2L && Versioned.opAt(spark, dir, 2L) == "set-properties")
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)                // v3
    assert(Versioned.propertiesAt(spark, dir, 3L) ==
      Map("owner" -> "ml-data", "graft.vacuum.retainHours" -> "12"))
    // per-snapshot: v1 time-travels property-free
    assert(Versioned.propertiesAt(spark, dir, 1L).isEmpty)
    Versioned.unsetProperties(spark, dir, Seq("owner"))                  // v4
    assert(Versioned.propertiesAt(spark, dir, 4L) ==
      Map("graft.vacuum.retainHours" -> "12"))
    // unknown key refuses without IF EXISTS; tolerated with it
    val e = intercept[IllegalArgumentException] {
      Versioned.unsetProperties(spark, dir, Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
    Versioned.unsetProperties(spark, dir, Seq("nope"), ifExists = true)  // v5
    // keys are arbitrary strings too, a log field's name included
    val kv = Versioned.setProperties(spark, dir, Map("dvs" -> "x", "bad key" -> "y"))
    assert(Versioned.propertiesAt(spark, dir, kv) ==
      Map("graft.vacuum.retainHours" -> "12", "dvs" -> "x", "bad key" -> "y"))
    assert(Versioned.dvsAt(spark, dir, kv).isEmpty)
    Versioned.unsetProperties(spark, dir, Seq("dvs", "bad key"))
    // values round-trip arbitrary strings (b64 in the log)
    Versioned.setProperties(spark, dir, Map("note" -> "a,b\": {c}\nd"))
    assert(Versioned.propertiesAt(spark, dir,
      Versioned.currentVersion(spark, dir).get)("note") == "a,b\": {c}\nd")
  }

  test("a property key holding a colon keeps the table readable and writable") {
    val dir = tmpDir("props_colon")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val v = Versioned.setProperties(spark, dir, Map("owner:team" -> "x"))
    assert(Versioned.propertiesAt(spark, dir, v) == Map("owner:team" -> "x"))
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)
    assert(Versioned.propertiesAt(spark, dir, v + 1) == Map("owner:team" -> "x"))
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("property commits classify as skippable metadata for streams and CDF") {
    val dir = tmpDir("props_class")
    Versioned.append(Seq((1L, 1L)).toDF("id", "x"), dir)                 // v1
    Versioned.setProperties(spark, dir, Map("k" -> "v"))                 // v2
    Versioned.append(Seq((2L, 2L)).toDF("id", "x"), dir)                 // v3
    // a stream reading (1, 3] sees only the append's row
    assert(Versioned.streamBatch(spark, dir, 1L, 3L).count() == 1L)
    // the multiset diff across the property commit is empty
    assert(Versioned.changes(spark, dir, 1L, 2L).isEmpty)
    Versioned.windowShape(spark, dir, 1L, 2L) match {
      case Versioned.WindowShape.AppendOnly => ()
      case other => fail(s"property-only window classified $other")
    }
  }

  test("path-form DDL: SET / SHOW / UNSET; VACUUM honors the retention property") {
    val dir = tmpDir("props_ddl")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)                // v1
    val v = spark.sql(s"ALTER TABLE ${pathId(dir)} SET TBLPROPERTIES " +
      "('owner' = 'pipeline', 'graft.vacuum.retainHours' = '0')").as[Long].head()
    assert(v == 2L)
    val shown = spark.sql(s"SHOW TBLPROPERTIES ${pathId(dir)}")
      .as[(String, String)].collect().toMap
    assert(shown ==
      Map("owner" -> "pipeline", "graft.vacuum.retainHours" -> "0"))
    assert(spark.sql(s"SHOW TBLPROPERTIES ${pathId(dir)} ('owner')")
      .as[(String, String)].collect().toSeq == Seq(("owner", "pipeline")))
    // an absent key lists no rows
    assert(spark.sql(s"SHOW TBLPROPERTIES ${pathId(dir)} ('absent')").isEmpty)
    // VACUUM with no RETAIN clause takes the table's property (0 h):
    // the overwritten v1 file sweeps; the default 168 h would keep it
    Versioned.overwrite(Seq((9L, "z")).toDF("id", "s"), dir)             // v3
    Thread.sleep(5)
    assert(spark.sql(s"VACUUM ${pathId(dir)}").count() > 0,
      "VACUUM must honor graft.vacuum.retainHours = 0")
    spark.sql(
      s"ALTER TABLE ${pathId(dir)} UNSET TBLPROPERTIES IF EXISTS ('nope', 'owner')")
    assert(!spark.sql(s"SHOW TBLPROPERTIES ${pathId(dir)}")
      .as[(String, String)].collect().toMap.contains("owner"))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${pathId(dir)} UNSET TBLPROPERTIES ('missing')")
    }
    assert(e.getMessage.contains("missing"))
  }

  test("catalog-form DDL routes through GraftCatalog.alterTable") {
    val cat = "tpropcat"
    val wh = tmpDir("props_cat_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a')")
    // 'owner'/'location'/... are keys Spark's own grammar reserves for
    // catalog tables — the reservation happens before the catalog sees
    // the change, so free-form keys here use unreserved names
    spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
      "('team' = 'gold-team', 'tier' = 'gold')")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t")
      .as[(String, String)].collect().toMap
    assert(shown.get("team").contains("gold-team") &&
      shown.get("tier").contains("gold"))
    spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('tier')")
    val after = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t")
      .as[(String, String)].collect().toMap
    assert(after.get("team").contains("gold-team") && !after.contains("tier"))
    // the content is untouched by property churn
    assert(spark.sql(s"SELECT id, s FROM $cat.db.t").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a")))
  }

  test("graft.checkpointInterval property tightens the full-list cadence") {
    val dir = tmpDir("props_ckpt")
    Versioned.append(Seq((0L, "seed")).toDF("id", "s"), dir)             // v1
    Versioned.setProperties(spark, dir,
      Map("graft.checkpointInterval" -> "4"))                            // v2
    (1 to 9).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), dir))    // v3..v11
    val head = Versioned.currentVersion(spark, dir).get
    assert(head == 11L)
    // with the default interval (16) the only full-list entry in an
    // 11-commit history is v1 — a cold resolution walks ~11 entries;
    // with the property (4) the nearest checkpoint is at most 3 back
    Versioned.clearFilesMemo()
    val r0 = Versioned.logReads.get()
    val files = Versioned.filesAt(spark, dir, head)
    val reads = Versioned.logReads.get() - r0
    assert(files.size == 10)
    assert(reads <= 6,
      s"filesAt opened $reads log entries — graft.checkpointInterval=4 not honored")
  }

  test("graft.mergeKeyBroadcastMaxBytes=0 forces the shuffle discovery path") {
    val dir = tmpDir("props_gate")
    Versioned.append(
      (1 to 50).map(i => (i.toLong, i.toLong)).toDF("id", "x"), dir)     // v1
    Versioned.setProperties(spark, dir,
      Map("graft.mergeKeyBroadcastMaxBytes" -> "0"))                     // v2
    val src = (40 to 60).map(i => (i.toLong, i * 10L)).toDF("id", "x")
    val s0 = Versioned.mergeKeyShuffles.get()
    Versioned.merge(spark, dir, src, Seq("id"))                          // v3
    assert(Versioned.mergeKeyShuffles.get() - s0 >= 1L,
      "per-table gate must decline the key-set broadcast")
    assert(Versioned.read(spark, dir).as[(Long, Long)].collect().toMap ==
      ((1 to 39).map(i => i.toLong -> i.toLong) ++
        (40 to 60).map(i => i.toLong -> (i * 10L))).toMap)
  }
}
