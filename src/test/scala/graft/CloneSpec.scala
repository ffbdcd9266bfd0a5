package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._

/** Shallow CLONE ([[Versioned.cloneTable]]): a zero-copy table fork —
  * the clone's v1 references the source snapshot's files by absolute
  * path; mutations on either side never leak to the other; vacuum on
  * either side cannot delete files the other references.
  */
class CloneSpec extends SparkSpec {

  import spark.implicits._

  private def dataDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("d-"))
      .map(_.getName)

  test("clone reads the source snapshot without copying any data") {
    val src = tmpDir("cl_src")
    val dst = tmpDir("cl_dst")
    Versioned.append((1 to 10).map(i => (i, s"r$i")).toDF("id", "s"), src)
    Versioned.append((11 to 20).map(i => (i, s"r$i")).toDF("id", "s"), src)
    Versioned.cloneTable(spark, src, dst)
    assert(dataDirs(dst).isEmpty, "clone must copy no data files")
    assert(Versioned.read(spark, dst).as[(Int, String)].collect().toSet ==
      (1 to 20).map(i => (i, s"r$i")).toSet)
    assert(Versioned.opAt(spark, dst, 1L) == "clone")
  }

  test("mutating the clone never touches the source, and vice versa") {
    val src = tmpDir("cl_mut_src")
    val dst = tmpDir("cl_mut_dst")
    Versioned.append((1 to 6).map(i => (i, i * 10)).toDF("id", "x"), src)
    Versioned.cloneTable(spark, src, dst)
    // clone mutations: append + row-level update + delete
    Versioned.append(Seq((7, 70)).toDF("id", "x"), dst)
    Versioned.updateWhere(spark, dst, col("id") === 2, Map("x" -> lit(999)))
    Versioned.deleteWhere(spark, dst, col("id") === 5)
    assert(Versioned.read(spark, dst).as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 999), (3, 30), (4, 40), (6, 60), (7, 70)))
    // source untouched
    assert(Versioned.read(spark, src).as[(Int, Int)].collect().toSet ==
      (1 to 6).map(i => (i, i * 10)).toSet)
    // source mutations stay out of the clone (snapshot isolation)
    Versioned.append(Seq((100, 1000)).toDF("id", "x"), src)
    assert(!Versioned.read(spark, dst).as[(Int, Int)].collect().contains((100, 1000)))
  }

  test("vacuum on the source cannot delete files the clone references") {
    val src = tmpDir("cl_vac_src")
    val dst = tmpDir("cl_vac_dst")
    Versioned.append((1 to 8).map(i => (i, s"v$i")).toDF("id", "s"), src)
    Versioned.cloneTable(spark, src, dst)
    // rewrite the source completely, then vacuum to ONE version: the
    // cloned files fall out of every retained source snapshot
    Versioned.overwrite((100 to 102).map(i => (i, s"n$i")).toDF("id", "s"), src)
    Versioned.vacuum(spark, src, keepVersions = 1)
    // without the pin the cloned files would now be gone; with it the
    // clone still reads its full snapshot
    assert(Versioned.read(spark, dst).as[(Int, String)].collect().toSet ==
      (1 to 8).map(i => (i, s"v$i")).toSet)
  }

  test("versionAsOf clones a time-travel snapshot; its pin survives source vacuum") {
    val src = tmpDir("cl_asof_src")
    val dst = tmpDir("cl_asof_dst")
    Versioned.append((1 to 8).map(i => (i, s"v$i")).toDF("id", "s"), src) // v1
    Versioned.updateWhere(spark, src, col("id") === 2, Map("s" -> lit("X"))) // v2
    Versioned.overwrite((100 to 102).map(i => (i, s"n$i")).toDF("id", "s"), src) // v3
    // fork YESTERDAY'S table: the clone reads v1, not the head
    Versioned.cloneTable(spark, src, dst, versionAsOf = Some(1L))
    assert(Versioned.read(spark, dst).as[(Int, String)].collect().toSet ==
      (1 to 8).map(i => (i, s"v$i")).toSet)
    // the pin records v1 and protects ITS files: after the source is
    // vacuumed to one retained version, the clone still reads v1 whole
    Versioned.vacuum(spark, src, keepVersions = 1)
    assert(Versioned.read(spark, dst).as[(Int, String)].collect().toSet ==
      (1 to 8).map(i => (i, s"v$i")).toSet)
    assert(Versioned.listPins(spark, src).exists(_._2 == 1L))
    // a version outside the retained window refuses loudly
    val dst2 = tmpDir("cl_asof_dst2")
    val e = intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, dst2, versionAsOf = Some(1L))
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("vacuum on the clone cannot delete source files") {
    val src = tmpDir("cl_vc_src")
    val dst = tmpDir("cl_vc_dst")
    Versioned.append((1 to 5).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.cloneTable(spark, src, dst)
    Versioned.append(Seq((6, 6)).toDF("id", "x"), dst)
    Versioned.append(Seq((7, 7)).toDF("id", "x"), dst)
    Versioned.vacuum(spark, dst, keepVersions = 1)
    assert(Versioned.read(spark, src).count() == 5L)
    assert(Versioned.read(spark, dst).count() == 7L)
  }

  test("deletion vectors carry: soft-deleted source rows stay invisible in the clone") {
    val src = tmpDir("cl_dv_src")
    val dst = tmpDir("cl_dv_dst")
    Versioned.append((1 to 10).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.deleteWhere(spark, src, col("id") === 4)
    Versioned.cloneTable(spark, src, dst)
    assert(Versioned.read(spark, dst).select("id").as[Int].collect().toSet ==
      (1 to 10).toSet - 4)
  }

  test("CHECK constraints carry: the clone enforces them on its own writes") {
    val src = tmpDir("cl_cons_src")
    val dst = tmpDir("cl_cons_dst")
    Versioned.append(Seq((1, 5)).toDF("id", "x"), src)
    Versioned.addConstraint(spark, src, "pos_x", "x > 0")
    Versioned.cloneTable(spark, src, dst)
    intercept[Exception] {
      Versioned.append(Seq((2, -1)).toDF("id", "x"), dst)
    }
    Versioned.append(Seq((2, 1)).toDF("id", "x"), dst)
    assert(Versioned.read(spark, dst).count() == 2L)
  }

  test("column mapping carries: a renamed source column reads logically in the clone") {
    val src = tmpDir("cl_map_src")
    val dst = tmpDir("cl_map_dst")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), src)
    Versioned.renameColumn(spark, src, "s", "label")
    Versioned.cloneTable(spark, src, dst)
    assert(Versioned.read(spark, dst).columns.toSeq == Seq("id", "label"))
    assert(Versioned.read(spark, dst).select("label").as[String].collect().toSeq ==
      Seq("a"))
  }

  test("compaction localizes the clone: no foreign references remain after") {
    val src = tmpDir("cl_loc_src")
    val dst = tmpDir("cl_loc_dst")
    Versioned.append((1 to 4).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.append((5 to 8).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.cloneTable(spark, src, dst)
    Versioned.compactSmall(spark, dst, smallBytes = 1L << 30)
    val head = Versioned.currentVersion(spark, dst).get
    val files = Versioned.filesAt(spark, dst, head)
    assert(files.forall(f => !f.startsWith("/")), s"still foreign: $files")
    // and the source can now vacuum freely even without the pin rule
    assert(Versioned.read(spark, dst).count() == 8L)
  }

  test("the change feed over a clone starts at its birth snapshot") {
    val src = tmpDir("cl_cdf_src")
    val dst = tmpDir("cl_cdf_dst")
    Versioned.append((1 to 3).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.cloneTable(spark, src, dst)
    Versioned.append(Seq((4, 4)).toDF("id", "x"), dst)
    val feed = Versioned.changesWithType(spark, dst, 0L, 2L)
      .select("id", "_change_type", "_commit_version")
      .as[(Int, String, Long)].collect().toSet
    assert(feed == Set((1, "insert", 1L), (2, "insert", 1L), (3, "insert", 1L),
      (4, "insert", 2L)))
  }

  test("pins are listable and releasable; release re-arms vacuum") {
    val src = tmpDir("cl_pin_src")
    val dst = tmpDir("cl_pin_dst")
    Versioned.append((1 to 6).map(i => (i, i)).toDF("id", "x"), src)
    Versioned.cloneTable(spark, src, dst)
    val pins = Versioned.listPins(spark, src)
    assert(pins.size == 1)
    val (name, pinnedV, nFiles) = pins.head
    assert(pinnedV == 1L && nFiles > 0)
    // rewrite + vacuum: pinned files survive
    Versioned.overwrite(Seq((9, 9)).toDF("id", "x"), src)
    Versioned.vacuum(spark, src, keepVersions = 1)
    assert(Versioned.read(spark, dst).count() == 6L)
    // release the pin (clone decommissioned) → next vacuum sweeps
    Versioned.removePin(spark, src, name)
    assert(Versioned.listPins(spark, src).isEmpty)
    // tmpRetention 0: the now-unreferenced dirs are swept immediately
    // (the default 1h age guard would otherwise defer them)
    Versioned.vacuum(spark, src, keepVersions = 1, tmpRetentionMs = 0L)
    intercept[Exception] { Versioned.read(spark, dst).count() }
    // the source itself is unaffected throughout
    assert(Versioned.read(spark, src).as[(Int, Int)].collect().toSeq == Seq((9, 9)))
  }

  test("age-based vacuum keeps the in-window suffix plus the head") {
    val dir = tmpDir("vr_age")
    (1 to 5).foreach { i =>
      Versioned.append(Seq((i, i)).toDF("id", "x"), dir)
      Thread.sleep(3)
    }
    // a huge window keeps everything (dry run proves zero deletions)
    assert(Versioned.vacuumRetain(spark, dir, retainMs = 86400000L,
      dryRun = true).isEmpty)
    // a zero window keeps only the head version's files; older log
    // entries truncate (appends share files, so only entries go)
    Versioned.vacuumRetain(spark, dir, retainMs = 0L, tmpRetentionMs = 0L)
    assert(Versioned.versions(spark, dir) == Seq(5L))
    assert(Versioned.read(spark, dir).count() == 5L)
  }

  test("cloning onto an existing table is refused") {
    val src = tmpDir("cl_ref_src")
    val dst = tmpDir("cl_ref_dst")
    Versioned.append(Seq((1, 1)).toDF("id", "x"), src)
    Versioned.append(Seq((2, 2)).toDF("id", "x"), dst)
    intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, dst)
    }
  }

  test("clone fails loudly when a pinned FILE is gone, even if its dir survives") {
    val src = tmpDir("cl_gone_src")
    // two part files in ONE data dir — vacuum's per-file sweep deletes
    // dead files inside dirs that still hold live ones, so a dir-level
    // re-verification would pass while a referenced file is gone
    Versioned.append(
      (1 to 8).map(i => (i, s"g$i")).toDF("id", "s").repartition(2), src)
    val rels = Versioned.filesAt(spark, src, 1L)
    assert(rels.size >= 2 && rels.map(_.split("/")(0)).distinct.size == 1)
    val victim = java.nio.file.Paths.get(src, rels.head)
    java.nio.file.Files.delete(victim)
    val ex = intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, tmpDir("cl_gone_dst"))
    }
    assert(ex.getMessage.contains("vanished"))
  }

  test("deep clone copies the bytes: local references, no source pin") {
    val src = tmpDir("cl_deep_src")
    val dst = tmpDir("cl_deep_dst")
    Versioned.append((1 to 10).map(i => (i, s"r$i")).toDF("id", "s"), src)
    Versioned.append((11 to 20).map(i => (i, s"r$i")).toDF("id", "s"), src)
    val v = Versioned.cloneTable(spark, src, dst, deep = true)
    assert(v == 1L)
    assert(Versioned.opAt(spark, dst, 1L) == "clone-deep")
    // every reference is LOCAL (relative) and the copied bytes exist
    val rels = Versioned.filesAt(spark, dst, 1L)
    assert(rels.nonEmpty && rels.forall(r =>
      !r.startsWith("/") && !r.contains("://") &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(dst, r))))
    assert(Versioned.read(spark, dst).as[(Int, String)].collect().toSet ==
      (1 to 20).map(i => (i, s"r$i")).toSet)
    // deep clone writes NO pin: the source owes it nothing
    assert(Versioned.listPins(spark, src).isEmpty)
    // the ultimate independence test — mutate the source, vacuum it to
    // the bone; the clone still reads its own bytes
    Versioned.overwrite(Seq((99, "z")).toDF("id", "s"), src)
    Thread.sleep(5)
    Versioned.vacuumRetain(spark, src, 0L)
    assert(Versioned.read(spark, dst).count() == 20L)
  }

  test("deep clone carries DVs and time-travel version; DDL forms work") {
    val src = tmpDir("cl_deep2_src")
    Versioned.append((1 to 8).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1), src) // v1
    Versioned.deleteWhere(spark, src, col("id") <= 2L)                        // v2 (DVs)
    Versioned.append(Seq((9L, "r9")).toDF("id", "s"), src)                       // v3
    // deep clone of v2: DV-filtered content at that snapshot
    val dst = tmpDir("cl_deep2_dst")
    Versioned.cloneTable(spark, src, dst, versionAsOf = Some(2L), deep = true)
    assert(Versioned.read(spark, dst).as[(Long, String)].collect().toSet ==
      (3 to 8).map(i => (i.toLong, s"r$i")).toSet)
    assert(Versioned.dvsAt(spark, dst, 1L).nonEmpty) // carried, file identity preserved
    // bare CLONE DDL = deep (Delta's default); DEEP CLONE spelling too
    val dst2 = tmpDir("cl_deep2_ddl")
    val vd = spark.sql(
      s"CREATE TABLE `graft-versioned`.`$dst2` CLONE `graft-versioned`.`$src`")
      .as[Long].head()
    assert(vd == 1L && Versioned.opAt(spark, dst2, 1L) == "clone-deep")
    assert(Versioned.read(spark, dst2).count() == 7L)
    val dst3 = tmpDir("cl_deep2_ddl2")
    spark.sql(
      s"CREATE TABLE `graft-versioned`.`$dst3` DEEP CLONE `graft-versioned`.`$src` " +
        "VERSION AS OF 1")
    assert(Versioned.read(spark, dst3).count() == 8L)
    assert(Versioned.listPins(spark, src).isEmpty)
  }
}
