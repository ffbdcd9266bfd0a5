package graft

import org.apache.spark.sql.functions._

import graft.ops.Upsert
import graft.table.Versioned

/** Versioned-table contracts: time travel across appends and
  * overwrites, snapshot isolation from uncommitted data, vacuum
  * retention, and log-resolved (not listing-resolved) reads.
  */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String, v: Long): Set[(Long, String)] =
    Versioned.readAt(spark, dir, v).as[(Long, String)].collect().toSet

  test("append commits accumulate; readAt reproduces every version") {
    val dir = tmpDir("vt_append")
    val v1 = Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    val v2 = Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)
    assert((v1, v2) == (1L, 2L))
    assert(rows(dir, v1) == Set((1L, "a"), (2L, "b")))
    assert(rows(dir, v2) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Versioned.read(spark, dir).count() == 3)
  }

  test("overwrite starts a new snapshot but pre-overwrite versions still time-travel") {
    val dir = tmpDir("vt_over")
    Versioned.append(Seq((1L, "old")).toDF("id", "s"), dir)
    val v2 = Versioned.overwrite(Seq((9L, "new")).toDF("id", "s"), dir)
    assert(rows(dir, 1L) == Set((1L, "old")), "history must survive overwrite")
    assert(rows(dir, v2) == Set((9L, "new")))
  }

  test("uncommitted data files are invisible to readers") {
    val dir = tmpDir("vt_crash")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // simulate a crashed commit: data lands, log entry never published
    Seq((666L, "ghost")).toDF("id", "s").write.parquet(s"$dir/d-deadbeef")
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a")), "snapshot reads must resolve files from the log only")
  }

  test("vacuum drops old versions' files and failed-commit debris, keeps retained window") {
    val dir = tmpDir("vt_vac")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.overwrite(Seq((2L, "b")).toDF("id", "s"), dir)
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)
    Seq((666L, "ghost")).toDF("id", "s").write.parquet(s"$dir/d-debris")
    // a YOUNG log-unknown dir may be an in-flight commit's fresh output
    // — the default retention spares it (the in-flight guard)
    Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(new java.io.File(s"$dir/d-debris").isDirectory,
      "young log-unknown debris may be an in-flight commit — must survive")
    // past the retention age it is failed-commit debris and sweeps
    Versioned.vacuum(spark, dir, keepVersions = 2, tmpRetentionMs = -1000L)

    assert(Versioned.versions(spark, dir) == Seq(2L, 3L))
    assert(rows(dir, 3L) == Set((2L, "b"), (3L, "c")))
    assert(rows(dir, 2L) == Set((2L, "b")))
    intercept[IllegalArgumentException] { Versioned.readAt(spark, dir, 1L) }
    // v1's exclusive files and the debris directory are gone from disk
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!left.contains("d-debris"), s"debris not swept: $left")
    // only data dirs referenced by retained snapshots survive
    val liveDirs = Seq(2L, 3L).flatMap(v =>
      Versioned.filesAt(spark, dir, v)).map(_.split("/")(0)).toSet
    assert(left.filter(_.startsWith("d-")) == liveDirs,
      s"unreferenced data dirs must be swept: left=$left live=$liveDirs")
  }

  test("compact coalesces the current snapshot without changing rows or history") {
    val dir = tmpDir("vt_comp")
    (1 to 5).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(3), dir))
    val before = Versioned.read(spark, dir).as[(Long, String)].collect().toSet
    val nFilesBefore = Versioned.filesAt(spark, dir, 5L).size
    val vc = Versioned.compact(spark, dir)
    val after = Versioned.readAt(spark, dir, vc).as[(Long, String)].collect().toSet
    assert(after == before)
    assert(Versioned.filesAt(spark, dir, vc).size < nFilesBefore)
    assert(rows(dir, 3L).size == 3, "pre-compaction history still travels")
  }

  test("an empty snapshot keeps the schema: changes/readWhere/compact survive it") {
    val dir = tmpDir("vt_empty")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val v2 = Versioned.overwrite(
      Seq((1L, "a")).toDF("id", "s").filter(col("id") < 0L), dir) // writes no files
    assert(Versioned.readAt(spark, dir, v2).schema.fieldNames.toSeq == Seq("id", "s"))
    assert(Versioned.readAt(spark, dir, v2).isEmpty)
    // CDF across the empty version: everything from v1 shows as deleted
    val ch = Versioned.changes(spark, dir, 1L, v2)
      .as[(Long, String, String)].collect().toSeq
    assert(ch == Seq((1L, "a", "delete")))
    // compacting an empty snapshot commits another (schema-bearing) empty one
    val vc = Versioned.compact(spark, dir)
    assert(Versioned.readAt(spark, dir, vc).schema.fieldNames.nonEmpty)
    // zoned range scan of the empty version returns an empty, typed frame
    assert(Versioned.readWhere(spark, dir, v2, "id", 0L, 10L).isEmpty)
  }

  test("writeZoneMap marks an all-null zone column with an empty-range sentinel") {
    val dir = tmpDir("vt_nullzone")
    val v = Versioned.append(
      Seq((Option.empty[java.lang.Long], "x"), (None, "y"))
        .toDF("id", "s"), dir)
    Versioned.writeZoneMap(spark, dir, v, "id") // must not NPE
    // the sentinel SKIPS the file on bounded range scans — exact, since
    // NULL never satisfies the residual range predicate — while marking
    // it statted so carry passes don't re-stat it on every commit
    assert(Versioned.prunedFiles(spark, dir, v, "id", 0L, 1L).isEmpty,
      "an all-NULL zoned file can never match a bounded range")
    assert(Versioned.readWhere(spark, dir, v, "id", 0L, 1L).isEmpty)
    // files with NO stats at all (never statted) remain unskippable —
    // pinned at the prune primitive, where the None branch lives
    assert(graft.table.ZoneMaps.prune(
      Seq("a", "b"), Seq(("a", 0L, 10L)), 20L, 30L) == Seq("b"),
      "a file absent from the zones must never be pruned")
    // and the sentinel skips exactly on bounded ranges, keeps on full
    assert(graft.table.ZoneMaps.prune(
      Seq("a"), Seq(("a", Long.MaxValue, Long.MinValue)), 0L, 10L).isEmpty)
    val fresh = Versioned.append(Seq((Option.empty[java.lang.Long], "z")).toDF("id", "s"), dir)
    assert(Versioned.readWhere(spark, dir, fresh, "id", 0L, 1L).isEmpty)
    assert(Versioned.read(spark, dir).count() == 3)
  }

  test("zone map prunes files by range from the log alone; results stay exact") {
    val dir = tmpDir("vt_zones")
    // three appends with DISJOINT id ranges → three file sets with
    // non-overlapping zones
    Versioned.append((0L until 100L).map(i => (i, s"a$i")).toDF("id", "s"), dir)
    Versioned.append((100L until 200L).map(i => (i, s"b$i")).toDF("id", "s"), dir)
    val v = Versioned.append((200L until 300L).map(i => (i, s"c$i")).toDF("id", "s"), dir)
    Versioned.writeZoneMap(spark, dir, v, "id")

    val all = Versioned.filesAt(spark, dir, v)
    val pruned = Versioned.prunedFiles(spark, dir, v, "id", 120L, 150L)
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"zones must prune: kept ${pruned.size} of ${all.size}")

    val got = Versioned.readWhere(spark, dir, v, "id", 120L, 150L)
      .as[(Long, String)].collect().toSet
    assert(got == (120L to 150L).map(i => (i, s"b$i")).toSet)
    // a predicate on an un-zoned column range prunes nothing
    assert(Versioned.prunedFiles(spark, dir, v, "other", 0L, 1L) == all)
    // an empty-range scan reads zero files but keeps the schema
    assert(Versioned.readWhere(spark, dir, v, "id", 5000L, 6000L).isEmpty)
  }

  test("zone sidecars survive appends and compaction without a full re-stat") {
    val dir = tmpDir("vt_zone_carry")
    Versioned.append((0L until 100L).map(i => (i, s"a$i")).toDF("id", "s"), dir)
    Versioned.writeZoneMap(spark, dir, 1L, "id")
    // an append must CARRY the sidecar (stats for fresh files only) —
    // without the carry every append silently disables data skipping
    val v2 = Versioned.append(
      (1000L until 1100L).map(i => (i, s"b$i")).toDF("id", "s"), dir)
    val all2 = Versioned.filesAt(spark, dir, v2)
    val pruned2 = Versioned.prunedFiles(spark, dir, v2, "id", 0L, 50L)
    assert(pruned2.nonEmpty && pruned2.size < all2.size,
      s"append dropped the zone sidecar: kept ${pruned2.size}/${all2.size}")
    assert(Versioned.readWhere(spark, dir, v2, "id", 1000L, 1010L).count() == 11)
    // compaction rewrites the table; the sidecar must follow the output
    val v3 = Versioned.compact(spark, dir)
    val all3 = Versioned.filesAt(spark, dir, v3)
    assert(Versioned.readWhere(spark, dir, v3, "id", 0L, 50L).count() == 51)
    val zp = new java.io.File(s"$dir/_graft_log/" + f"v$v3%08d.zones.json")
    assert(zp.isFile, "compact must republish zone stats for its output")
  }

  test("vacuum sweeps dropped versions' zone maps with their log entries") {
    val dir = tmpDir("vt_zonevac")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.writeZoneMap(spark, dir, 1L, "id")
    Versioned.overwrite(Seq((2L, "b")).toDF("id", "s"), dir)
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val logFiles = new java.io.File(s"$dir/_graft_log").listFiles().map(_.getName).toSet
    assert(!logFiles.exists(_.contains("00000001")), s"v1 artifacts remain: $logFiles")
  }

  test("changes() emits inserts and deletes between snapshots with multiset semantics") {
    val dir = tmpDir("vt_cdf")
    Versioned.append(Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "s"), dir)
    // v2 drops ONE of the duplicate (2,b) rows and adds (3,c)
    Versioned.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), dir)
    val got = Versioned.changes(spark, dir, 1L, 2L)
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(got == Seq((2L, "b", "delete"), (3L, "c", "insert")),
      s"multiset diff expected, got $got")
  }

  test("changes() survives user columns named __cdf_w/__cdf_d") {
    // the signed-count diff uses internal weight/delta columns; a user
    // table that happens to carry those names must not be clobbered
    // (r16 ADVICE finding — fresh names are derived from the schema)
    val dir = tmpDir("vt_cdf_resv")
    Versioned.append(
      Seq((1L, 10L, 20L), (2L, 11L, 21L)).toDF("id", "__cdf_w", "__cdf_d"), dir)
    Versioned.overwrite(
      Seq((1L, 10L, 20L), (3L, 12L, 22L)).toDF("id", "__cdf_w", "__cdf_d"), dir)
    val got = Versioned.changes(spark, dir, 1L, 2L)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    assert(got == Seq((2L, 11L, 21L, "delete"), (3L, 12L, 22L, "insert")),
      s"diff over reserved-name user columns expected, got $got")
  }

  test("zValue interleaves bits and matches a reference Scala Morton encoder") {
    def mortonRef(x: Long, y: Long): Long = {
      var z = 0L
      (0 until 31).foreach { i =>
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    // known vectors: z(3,1)=0b0111, z(1,3)=0b1011
    val pts = Seq((3L, 1L), (1L, 3L), (0L, 0L)) ++
      (1 to 200).map(i => (((i * 2654435761L) >>> 33), ((i * 40503L) >>> 17)))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == mortonRef(x, y), s"zValue($x, $y) = $z, want ${mortonRef(x, y)}")
      assert(z >= 0, "31-bit domain must yield a non-negative z")
    }
    assert(got.take(2).map(_._3).toSeq == Seq(7L, 11L))
  }

  test("z-order clustering makes BOTH columns prunable from the log") {
    val dir = tmpDir("vt_zorder")
    // 64×64 grid appended in hash-shuffled order: natural file layout
    // has no locality in either column
    val pts = (0L until 4096L).map(i => (i * 2654435761L % 4096L))
      .distinct.map(c => (c / 64L, c % 64L))
    pts.grouped(1024).foreach(chunk =>
      Versioned.append(chunk.toDF("x", "y").repartition(4), dir))
    val v0 = Versioned.currentVersion(spark, dir).get
    Versioned.writeZoneMaps(spark, dir, v0, Seq("x", "y"))
    val before = Versioned.filesAt(spark, dir, v0)
    assert(Versioned.prunedFiles(spark, dir, v0, "x", 0L, 7L).size == before.size,
      "shuffled layout must NOT prune (test setup sanity)")

    val v = Versioned.compactClustered(spark, dir, "x", "y", targetFiles = 8)
    val all = Versioned.filesAt(spark, dir, v)
    val px = Versioned.prunedFiles(spark, dir, v, "x", 0L, 7L)
    val py = Versioned.prunedFiles(spark, dir, v, "y", 0L, 7L)
    assert(px.size < all.size, s"x-range must prune: ${px.size} of ${all.size}")
    assert(py.size < all.size, s"y-range must prune: ${py.size} of ${all.size}")

    // results stay exact on both dimensions
    val gotX = Versioned.readWhere(spark, dir, v, "x", 0L, 7L)
      .as[(Long, Long)].collect().toSet
    assert(gotX == pts.filter(_._1 <= 7L).toSet)
    val gotY = Versioned.readWhere(spark, dir, v, "y", 0L, 7L)
      .as[(Long, Long)].collect().toSet
    assert(gotY == pts.filter(_._2 <= 7L).toSet)
  }

  test("a commit losing the version race fails loudly instead of overwriting") {
    val dir = tmpDir("vt_race")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // interleave at the atomicity point: a concurrent committer
    // publishes v2 after this writer computed its version but before
    // its rename (RawLocalFileSystem renames OVERWRITE, so without the
    // explicit exists-check the loser would silently vanish the
    // winner's log entry)
    val log = new java.io.File(s"$dir/_graft_log")
    val winner = new java.io.File(log, "v00000002.json")
    val json = """{"version":2,"op":"append","schema":"","files":[]}"""
    java.nio.file.Files.write(winner.toPath, json.getBytes)
    val loserTmp = new java.io.File(log, ".v2.tmp")
    java.nio.file.Files.write(loserTmp.toPath, "loser".getBytes)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ex = intercept[IllegalStateException] {
      Versioned.publishOnce(f,
        new org.apache.hadoop.fs.Path(loserTmp.getPath),
        new org.apache.hadoop.fs.Path(winner.getPath))
    }
    assert(ex.getMessage.contains("race"))
    // exactly one v2 survives — the winner's, byte-identical — and the
    // loser's temp is swept
    assert(new String(java.nio.file.Files.readAllBytes(winner.toPath)) == json,
      "the winner's commit must not be overwritten")
    assert(!loserTmp.exists(), "the losing committer's temp file must be deleted")
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
  }

  test("snapshot isolation: a frame planned at version N is unaffected by later commits") {
    val dir = tmpDir("vt_iso")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val atV1 = Versioned.readAt(spark, dir, 1L)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)
    Versioned.overwrite(Seq((3L, "c")).toDF("id", "s"), dir)
    assert(atV1.as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("concurrent appenders all commit; no version or row is lost") {
    val dir = tmpDir("vt_concurrent")
    Versioned.append(Seq((0L, "seed")).toDF("id", "s"), dir)
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            Versioned.append(Seq((i.toLong, s"w$i")).toDF("id", "s"), dir)
        })
      }
      val versions = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      // optimistic retry serialized the racers onto distinct versions
      assert(versions.toSet.size == n, s"collided versions: $versions")
    } finally pool.shutdown()
    assert(Versioned.currentVersion(spark, dir).contains(1L + n))
    assert(Versioned.read(spark, dir).count() == 1L + n,
      "a lost commit race dropped an appender's rows")
  }

  test("deleteWhere rewrites only matching files; history and schema survive") {
    val dir = tmpDir("vt_delete")
    // two appends → two data-file sets; the delete matches only the second
    Versioned.append(Seq((1L, "keep"), (2L, "keep")).toDF("id", "s"), dir)
    // one file, two of its three rows deleted: past half, so copy-on-write
    Versioned.append(Seq((3L, "keep"), (4L, "drop"), (5L, "drop")).toDF("id", "s")
      .coalesce(1), dir)
    val beforeFiles = Versioned.filesAt(spark, dir, 2L)

    import org.apache.spark.sql.functions.col
    val v = Versioned.deleteWhere(spark, dir, col("s") === "drop")
    assert(v.contains(3L))
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "keep"), (2L, "keep"), (3L, "keep")))
    // copy-on-write: the untouched first append's files carry verbatim
    val afterFiles = Versioned.filesAt(spark, dir, 3L)
    val firstAppend = Versioned.filesAt(spark, dir, 1L)
    assert(firstAppend.forall(afterFiles.contains),
      "files without matches must not be rewritten")
    assert(!beforeFiles.forall(afterFiles.contains), "the matched file must be replaced")
    assert(Versioned.dvsAt(spark, dir, 3L).isEmpty, "a rewritten file carries no DV")
    // time travel still sees the pre-delete rows
    assert(Versioned.readAt(spark, dir, 2L).count() == 5)
    // NULL predicate rows are kept (SQL DELETE semantics), and a
    // no-match delete commits nothing
    assert(Versioned.deleteWhere(spark, dir, col("s") === "absent").isEmpty)
    assert(Versioned.currentVersion(spark, dir).contains(3L))
  }

  test("updateWhere applies SET only where cond is true, keeping column types") {
    val dir = tmpDir("vt_update")
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "n"), dir)
    Versioned.append(Seq((3L, "b", 30L)).toDF("id", "s", "n"), dir)
    import org.apache.spark.sql.functions.{col, lit}
    val v = Versioned.updateWhere(spark, dir, col("s") === "b",
      Map("n" -> (col("n") + lit(1)), "s" -> lit("B")))
    assert(v.contains(3L))
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "B", 21L), (3L, "B", 31L)))
    assert(Versioned.read(spark, dir).schema.json ==
      Versioned.readAt(spark, dir, 2L).schema.json, "UPDATE must not drift the schema")
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("s") === "B", Map("nope" -> lit(1)))
    }
  }

  test("delete with a zone hint opens only zone-matched files and carries the sidecar") {
    val dir = tmpDir("vt_delete_zones")
    Versioned.append((1L to 10L).map(i => (i, s"r$i")).toDF("k", "s"), dir)
    Versioned.append((11L to 20L).map(i => (i, s"r$i")).toDF("k", "s"), dir)
    Versioned.writeZoneMap(spark, dir, 2L, "k")
    import org.apache.spark.sql.functions.col
    // hint implied by cond: k between 15 and 16 → only the second file set
    val v = Versioned.deleteWhere(spark, dir, col("k").between(15L, 16L),
      zoneHint = Some(("k", 15L, 16L)))
    assert(v.contains(3L))
    assert(Versioned.read(spark, dir).count() == 18)
    val firstAppend = Versioned.filesAt(spark, dir, 1L)
    val after = Versioned.filesAt(spark, dir, 3L)
    assert(firstAppend.forall(after.contains))
    // the carried sidecar still prunes: a scan of [1, 5] opens only
    // the untouched first file set
    val pruned = Versioned.prunedFiles(spark, dir, 3L, "k", 1L, 5L)
    assert(pruned.nonEmpty && pruned.toSet.subsetOf(firstAppend.toSet),
      s"zone carry lost data skipping: $pruned")
    assert(Versioned.readWhere(spark, dir, 3L, "k", 1L, 5L).count() == 5)
  }

  test("a rewrite pinned to a stale version fails instead of dropping concurrent commits") {
    val dir = tmpDir("vt_pinned")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val planned = Versioned.currentVersion(spark, dir).get
    // a concurrent append lands between plan and commit
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)
    val ex = intercept[Versioned.CommitRace] {
      Versioned.commitPinned(spark, dir, planned, "overwrite",
        Versioned.read(spark, dir).schema.json, Seq.empty)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // both appends survive; no snapshot was published by the failed rewrite
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("restore republishes an old version's files as the new head, keeping history") {
    val dir = tmpDir("vt_restore")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)            // v2
    val v3 = Versioned.restore(spark, dir, 1L)
    assert(v3 == 3L)
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    // the rolled-back version still time-travels
    assert(Versioned.readAt(spark, dir, 2L).count() == 3)
    // CDF across the restore shows exactly the rows it removed
    val ch = Versioned.changes(spark, dir, 2L, 3L)
    assert(ch.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq == Seq(3L))
    assert(ch.filter(col("_change_type") === "insert").isEmpty)
  }

  test("a read subtracts a small DV set as a filter and a large one as a join, alike") {
    val dir = tmpDir("vt_dv_forms")
    Versioned.append(spark.range(20000).toDF("id").coalesce(2), dir) // v1
    def ids = Versioned.read(spark, dir).as[Long].collect().toSet
    // 20 positions: under the filter bound
    Versioned.deleteWhere(spark, dir, col("id") % 1000 === 7L)
    assert(ids == (0L until 20000L).filterNot(_ % 1000 == 7).toSet)
    // +5,000 positions: past it, the broadcast anti-join (a quarter of
    // each file, so both keep their place under deletion vectors)
    Versioned.deleteWhere(spark, dir, col("id") % 4 === 0L)
    val live = (0L until 20000L).filterNot(i => i % 1000 == 7 || i % 4 == 0).toSet
    assert(Versioned.dvsAt(spark, dir, 3L).values.map(_.size).sum > 4096)
    assert(ids == live)
    // the change feed reads the newly soft-deleted rows by position
    assert(Versioned.changes(spark, dir, 2L, 3L).select("id").as[Long].collect().toSet ==
      (0L until 20000L).filter(i => i % 4 == 0 && i % 1000 != 7).toSet)
  }

  test("merge-on-read DELETE: same files, rows gone, compact purges the DVs") {
    val dir = tmpDir("vt_dv")
    // one file per append, each left at least half live by the deletes
    Versioned.append(Seq((1L, "a"), (2L, "drop"), (3L, "c"), (6L, "f"), (7L, "g"))
      .toDF("id", "s").coalesce(1), dir)                                           // v1
    Versioned.append(Seq((4L, "drop"), (8L, "h")).toDF("id", "s").coalesce(1), dir) // v2
    val before = Versioned.filesAt(spark, dir, 2L)

    val v = Versioned.deleteWhere(spark, dir, col("s") === "drop")
    assert(v.contains(3L))
    // merge-on-read: NO file was rewritten — the commit is log-sized
    assert(Versioned.filesAt(spark, dir, 3L) == before)
    assert(Versioned.dvsAt(spark, dir, 3L).values.map(_.size).sum == 2)
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 6L, 7L, 8L))
    // time travel still sees the soft-deleted rows
    assert(Versioned.readAt(spark, dir, 2L).count() == 7)
    // CDF across the MoR delete reports exactly the removed rows
    val ch = Versioned.changes(spark, dir, 2L, 3L)
    assert(ch.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // a second MoR delete merges into the carried DV set
    assert(Versioned.deleteWhere(spark, dir, col("id") === 1L).contains(4L))
    assert(Versioned.filesAt(spark, dir, 4L) == before)
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 6L, 7L, 8L))
    // an append carries the DVs — soft-deleted rows stay deleted
    Versioned.append(Seq((5L, "e")).toDF("id", "s"), dir) // v5
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 5L, 6L, 7L, 8L))
    // no-match MoR delete commits nothing
    assert(Versioned.deleteWhere(spark, dir, col("s") === "absent").isEmpty)
    // compact materializes the subtraction and purges the DVs (REORG)
    val cv = Versioned.compact(spark, dir)
    assert(Versioned.dvsAt(spark, dir, cv).isEmpty)
    assert(Versioned.readAt(spark, dir, cv).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 5L, 6L, 7L, 8L))
  }

  test("copy-on-write rewrites after a MoR delete do not resurrect soft-deleted rows") {
    val dir = tmpDir("vt_dv_cow")
    Versioned.append(
      Seq((1L, "x"), (2L, "soft"), (3L, "hard")).toDF("id", "s"), dir)  // v1, one file
    assert(Versioned.deleteWhere(spark, dir, col("s") === "soft").contains(2L))
    // the CoW delete rewrites the file the soft-deleted row lives in;
    // the rewritten file must NOT bring that row back
    assert(Versioned.deleteWhere(spark, dir, col("s") === "hard").contains(3L))
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().toSeq ==
      Seq(1L))
    // restore to the MoR-delete version brings back ITS deletion state
    val rv = Versioned.restore(spark, dir, 2L)
    assert(Versioned.readAt(spark, dir, rv).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
  }

  test("MoR delete with a zone hint scans only zone-matched files and keeps pruning") {
    val dir = tmpDir("vt_dv_zones")
    Versioned.append(
      spark.range(0, 100).withColumn("k", col("id")).repartitionByRange(4, col("k")),
      dir)
    Versioned.writeZoneMap(spark, dir, 1L, "k")
    val v = Versioned.deleteWhere(spark, dir, col("k").between(10L, 12L),
      zoneHint = Some(("k", 10L, 12L)))
    assert(v.contains(2L))
    assert(Versioned.read(spark, dir).count() == 97)
    // the zone sidecar carried: range reads still prune files
    assert(Versioned.prunedFiles(spark, dir, 2L, "k", 50L, 60L).size <
      Versioned.filesAt(spark, dir, 2L).size)
    // and the pruned read path also honors the DVs
    assert(Versioned.readWhere(spark, dir, 2L, "k", 0L, 20L).count() == 18)
  }

  test("merge-on-read UPDATE soft-deletes the old row and appends the new copy") {
    val dir = tmpDir("vt_dv_update")
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "n")
      .coalesce(1), dir)                                    // one file, half updated
    val before = Versioned.filesAt(spark, dir, 1L)
    val v = Versioned.updateWhere(spark, dir, col("s") === "b",
      Map("n" -> (col("n") + 5)))
    assert(v.contains(2L))
    // original files untouched; fresh updated-copies files added
    val after = Versioned.filesAt(spark, dir, 2L)
    assert(before.forall(after.contains) && after.size > before.size)
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 25L)))
    // time travel sees the pre-update value; unknown SET column refused
    assert(Versioned.readAt(spark, dir, 1L)
      .filter(col("id") === 2L).select("n").as[Long].head() == 20L)
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("id") === 1L, Map("nope" -> lit(1)))
    }
    // compact materializes: DVs purged, values preserved
    val cv = Versioned.compact(spark, dir)
    assert(Versioned.dvsAt(spark, dir, cv).isEmpty)
    assert(Versioned.readAt(spark, dir, cv).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 25L)))
  }

  test("restore to a pre-evolution version narrows the head contract") {
    val dir = tmpDir("vt_restore_schema")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)                    // v1 narrow
    Versioned.append(Seq((2L, "b", 5.0)).toDF("id", "s", "score"), dir,
      mergeSchema = true)                                                    // v2 wide
    Versioned.restore(spark, dir, 1L)                                        // v3 = v1
    // the head reads with the restored (narrow) schema…
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "s"))
    // …and enforces it: a wide append is again a schema mismatch
    val ex = intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, "c", 1.0)).toDF("id", "s", "score"), dir)
    }
    assert(ex.getMessage.contains("mergeSchema"))
    // CDF across the restore aligns the evolved column away cleanly
    val ch = Versioned.changes(spark, dir, 2L, 3L)
    assert(ch.filter(col("_change_type") === "delete").count() == 1)
  }

  test("restore carries the restored version's zone-map sidecar") {
    val dir = tmpDir("vt_restore_zones")
    Versioned.append(
      spark.range(0, 100).withColumn("k", col("id")).repartitionByRange(4, col("k")),
      dir)
    Versioned.writeZoneMap(spark, dir, 1L, "k")
    Versioned.overwrite(spark.range(0, 5).withColumn("k", col("id")), dir) // v2, no zones
    val v3 = Versioned.restore(spark, dir, 1L)
    val pruned = Versioned.prunedFiles(spark, dir, v3, "k", 10L, 20L)
    assert(pruned.size < Versioned.filesAt(spark, dir, v3).size,
      s"restored snapshot lost data skipping: $pruned")
    assert(Versioned.readWhere(spark, dir, v3, "k", 10L, 20L).count() == 11)
  }

  test("append enforces the head schema; a mismatched writer is refused") {
    val dir = tmpDir("vt_enforce")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val ex = intercept[IllegalArgumentException] {
      Versioned.append(Seq((2L, 9L)).toDF("id", "extra"), dir)
    }
    assert(ex.getMessage.contains("mergeSchema"))
    // a retype is refused even WITH mergeSchema
    val ex2 = intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, 7L)).toDF("id", "s"), dir, mergeSchema = true)
    }
    assert(ex2.getMessage.contains("RETYPE"))
    assert(Versioned.versions(spark, dir) == Seq(1L)) // nothing published
    // column ORDER alone is not a schema change
    Versioned.append(Seq(("b", 2L)).toDF("s", "id"), dir)
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "s"))
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("mergeSchema append widens the table; old files surface NULL for new columns") {
    val dir = tmpDir("vt_evolve")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)                    // v1
    Versioned.append(Seq((2L, "b", 3.5)).toDF("id", "s", "score"), dir,
      mergeSchema = true)                                                    // v2
    val now = Versioned.read(spark, dir)
    assert(now.columns.toSeq == Seq("id", "s", "score"))
    assert(now.filter(col("id") === 1L).select("score").first().isNullAt(0))
    assert(now.filter(col("id") === 2L).select("score").as[Double].head() == 3.5)
    // time travel keeps the version's OWN schema
    assert(Versioned.readAt(spark, dir, 1L).columns.toSeq == Seq("id", "s"))
    // CDF across the widening aligns columns instead of failing
    val ch = Versioned.changes(spark, dir, 1L, 2L)
    assert(ch.filter(col("_change_type") === "insert").count() == 1)
    assert(ch.filter(col("_change_type") === "delete").isEmpty)
    // a post-evolution narrow append (missing the new column) needs mergeSchema
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir, mergeSchema = true) // v3
    assert(Versioned.read(spark, dir).filter(col("id") === 4L)
      .select("score").first().isNullAt(0))
  }

  test("DELETE/UPDATE touching pre-evolution files keeps the widened schema") {
    val dir = tmpDir("vt_evolve_rewrite")
    Versioned.append(Seq((1L, "a"), (2L, "drop")).toDF("id", "s"), dir)      // v1, narrow
    Versioned.append(Seq((3L, "c", 9.0)).toDF("id", "s", "score"), dir,
      mergeSchema = true)                                                    // v2, wide
    // the delete matches only rows in the NARROW v1 file; the commit
    // must still publish the WIDE head schema, and the cond/set side
    // must be able to reference the widened column against those files
    val v = Versioned.deleteWhere(spark, dir,
      col("s") === "drop" && col("score").isNull)
    assert(v.contains(3L))
    val now = Versioned.read(spark, dir)
    assert(now.columns.toSeq == Seq("id", "s", "score"),
      "rewrite narrowed the evolved table schema")
    assert(now.as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (3L, "c", Some(9.0))))
    // UPDATE can SET the widened column on a pre-evolution row
    val v2 = Versioned.updateWhere(spark, dir, col("id") === 1L,
      Map("score" -> lit(1.25)))
    assert(v2.contains(4L))
    assert(Versioned.read(spark, dir).filter(col("id") === 1L)
      .select("score").as[Double].head() == 1.25)
  }

  test("MERGE updates matched rows, inserts new ones, rewrites matched files only") {
    val dir = tmpDir("vt_merge")
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "n"), dir) // v1
    Versioned.append(Seq((3L, "c", 30L)).toDF("id", "s", "n"), dir)                 // v2
    val firstAppend = Versioned.filesAt(spark, dir, 1L)
    // source touches only v2's file (key 3) and inserts key 4
    val src = Seq((3L, "C", 33L), (4L, "d", 40L)).toDF("id", "s", "n")
    val v = Versioned.merge(spark, dir, src, Seq("id"))
    assert(v == 3L)
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "C", 33L), (4L, "d", 40L)))
    // matched-files-only: the unmatched first append carries verbatim
    val after = Versioned.filesAt(spark, dir, v)
    assert(firstAppend.forall(after.contains),
      "files without matching keys must not be rewritten by MERGE")
    assert(!Versioned.filesAt(spark, dir, 2L).forall(after.contains),
      "the matched file must be replaced")
    // time travel still sees the pre-merge state
    assert(Versioned.readAt(spark, dir, 2L).as[(Long, String, Long)].collect().toSet
      .contains((3L, "c", 30L)))
  }

  test("MERGE honors updateWhen and setCols; schema-mismatched source is refused") {
    val dir = tmpDir("vt_merge_lww")
    Versioned.append(
      Seq((1L, "old", 5L), (2L, "old", 9L)).toDF("id", "s", "ver"), dir)
    // LWW: source wins only where its ver is strictly newer; only s is set
    val src = Seq((1L, "new", 7L), (2L, "new", 3L)).toDF("id", "s", "ver")
    Versioned.merge(spark, dir, src, Seq("id"),
      updateWhen = graft.ops.Upsert.scol("ver") > graft.ops.Upsert.tcol("ver"),
      setCols = Seq("s"))
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "new", 5L), (2L, "old", 9L)),
      "updateWhen=false rows must keep target values; setCols limits writes")
    // merge never evolves schema
    val ex = intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir,
        Seq((9L, "x")).toDF("id", "s"), Seq("id"))
    }
    assert(ex.getMessage.contains("mergeSchema"))
  }

  test("MERGE after a MoR delete: soft-deleted keys re-insert fresh, never resurrect") {
    val dir = tmpDir("vt_merge_dv")
    Versioned.append(
      Seq((1L, "keep", 1L), (2L, "soft", 2L)).toDF("id", "s", "n").coalesce(1), dir) // v1, one file
    assert(Versioned.deleteWhere(spark, dir, col("s") === "soft").contains(2L))
    val beforeFiles = Versioned.filesAt(spark, dir, 2L)
    // source re-presents the soft-deleted key 2 and adds key 3; neither
    // matches a LIVE row in the file, so the file is NOT touched and
    // both source rows INSERT
    val src = Seq((2L, "reborn", 22L), (3L, "new", 33L)).toDF("id", "s", "n")
    val v = Versioned.merge(spark, dir, src, Seq("id"))
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "keep", 1L), (2L, "reborn", 22L), (3L, "new", 33L)),
      "the soft-deleted (2, soft) row must not resurrect")
    assert(beforeFiles.forall(Versioned.filesAt(spark, dir, v).contains),
      "a file whose only matching rows are soft-deleted must not be rewritten")
    // the carried DV still suppresses the old row in the kept file
    assert(Versioned.dvsAt(spark, dir, v).values.map(_.size).sum == 1)
  }

  test("commuting rewrites: a blind append between plan and commit re-bases and lands") {
    val dir = tmpDir("vt_commute")
    Versioned.append(Seq((1L, "a"), (2L, "a")).toDF("id", "s"), dir)  // v1, files A
    Versioned.append(Seq((3L, "b"), (4L, "b")).toDF("id", "s"), dir)  // v2, files B
    val base = 2L
    val filesB = Versioned.filesAt(spark, dir, 2L)
      .filterNot(Versioned.filesAt(spark, dir, 1L).toSet)
    val schema = Versioned.read(spark, dir).schema.json
    // concurrent blind append lands AFTER the rewrite planned at v2
    Versioned.append(Seq((5L, "c")).toDF("id", "s"), dir)             // v3
    // rewrite planned at v2 removes files B entirely (fresh = none):
    // must re-base onto v3 and publish A + C
    val v = Versioned.commitRewriteCommuting(
      spark, dir, base, "delete", schema, touched = filesB, fresh = Seq.empty).get
    assert(v == 4L)
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5L), "the re-based rewrite must keep the concurrent append's rows")
  }

  test("commuting rewrites: overlapping rewrite, DV change, or schema change conflict") {
    val dir = tmpDir("vt_commute_conflict")
    Versioned.append(Seq((1L, "a"), (2L, "a")).toDF("id", "s"), dir)  // v1, files A
    Versioned.append(Seq((3L, "b"), (4L, "b")).toDF("id", "s"), dir)  // v2, files B
    val filesB = Versioned.filesAt(spark, dir, 2L)
      .filterNot(Versioned.filesAt(spark, dir, 1L).toSet)
    val schema = Versioned.read(spark, dir).schema.json
    // conflict 1: a concurrent rewrite REPLACED a touched file (compact
    // rewrites everything)
    Versioned.compact(spark, dir)                                      // v3
    intercept[Versioned.CommitRace] {
      Versioned.commitRewriteCommuting(
        spark, dir, 2L, "delete", schema, touched = filesB, fresh = Seq.empty)
    }
    // conflict 2: a concurrent MoR delete changed a touched file's DVs
    val dir2 = tmpDir("vt_commute_dv")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir2)  // v1, one file
    val files1 = Versioned.filesAt(spark, dir2, 1L)
    val schema2 = Versioned.read(spark, dir2).schema.json
    Versioned.deleteWhere(spark, dir2, col("id") === 2L)            // v2: DV on file
    intercept[Versioned.CommitRace] {
      Versioned.commitRewriteCommuting(
        spark, dir2, 1L, "delete", schema2, touched = files1, fresh = Seq.empty)
    }
    // conflict 3: a concurrent mergeSchema append widened the schema
    val dir3 = tmpDir("vt_commute_schema")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir3)             // v1, files A
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir3)             // v2, files B
    val files3 = Versioned.filesAt(spark, dir3, 2L)
      .filterNot(Versioned.filesAt(spark, dir3, 1L).toSet)
    val schema3 = Versioned.read(spark, dir3).schema.json
    Versioned.append(Seq((3L, "c", 1.0)).toDF("id", "s", "score"), dir3,
      mergeSchema = true)                                              // v3 widens
    intercept[Versioned.CommitRace] {
      Versioned.commitRewriteCommuting(
        spark, dir3, 2L, "delete", schema3, touched = files3, fresh = Seq.empty)
    }
    // conflict 4: the caller's operation-specific commuteCheck vetoes —
    // the hook MERGE uses to detect concurrently-appended source keys
    val dir4 = tmpDir("vt_commute_veto")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir4)             // v1
    val schema4 = Versioned.read(spark, dir4).schema.json
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir4)             // v2 concurrent
    intercept[Versioned.CommitRace] {
      Versioned.commitRewriteCommuting(spark, dir4, 1L, "merge", schema4,
        touched = Seq.empty, fresh = Seq.empty, commuteCheck = _ => false)
    }
  }

  test("zone carry and constraints tolerate narrow mergeSchema batches; sidecar self-heals") {
    val dir = tmpDir("vt_zone_narrow")
    Versioned.append(
      (0L until 50L).map(i => (i, s"a$i", i * 2)).toDF("id", "s", "n"), dir)
    Versioned.writeZoneMap(spark, dir, 1L, "n")
    Versioned.addConstraint(spark, dir, "n_even", "n % 2 = 0")
    // a narrow batch omitting the ZONED+CONSTRAINED column is legal
    // evolution: rows surface n = NULL (constraint passes per SQL
    // CHECK), the commit must not throw post-publish, and the fresh
    // file simply has no stats (unskippable) while carried stats hold
    val v = Versioned.append(
      Seq((900L, "narrow")).toDF("id", "s"), dir, mergeSchema = true)
    assert(Versioned.read(spark, dir).count() == 51)
    val pruned = Versioned.prunedFiles(spark, dir, v, "n", 0L, 10L)
    val all = Versioned.filesAt(spark, dir, v)
    assert(pruned.size < all.size,
      s"carried stats must still prune after a narrow append: ${pruned.size}/${all.size}")
    assert(Versioned.readWhere(spark, dir, v, "n", 0L, 10L).count() == 6)

    // self-heal: a missing predecessor sidecar (concurrent-append gap,
    // or deleted) is bridged by anchoring on the nearest zoned ancestor
    // and statting the gap's files
    val sidecar = new java.io.File(s"$dir/_graft_log/" + f"v$v%08d.zones.json")
    assert(sidecar.isFile)
    assert(sidecar.delete())
    val v2 = Versioned.append(
      (2000L until 2050L).map(i => (i, s"c$i", i * 2)).toDF("id", "s", "n"), dir)
    val pruned2 = Versioned.prunedFiles(spark, dir, v2, "n", 4000L, 4020L)
    assert(pruned2.nonEmpty && pruned2.size < Versioned.filesAt(spark, dir, v2).size,
      s"sidecar gap did not self-heal: ${pruned2.size}")
    assert(Versioned.readWhere(spark, dir, v2, "n", 0L, 10L).count() == 6)
  }

  test("CHECK constraints: registered in the log, enforced on every write path") {
    val dir = tmpDir("vt_constraints")
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "n"), dir)
    val cv = Versioned.addConstraint(spark, dir, "n_positive", "n > 0")
    assert(Versioned.constraintsAt(spark, dir, cv) == Map("n_positive" -> "n > 0"))
    assert(Versioned.opAt(spark, dir, cv) == "set-constraint")

    // a constraint the existing data violates is refused
    val ex0 = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "n_small", "n < 15")
    }
    assert(ex0.getMessage.contains("n_small"))
    // silent replacement of an existing constraint is refused
    assert(intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "n_positive", "n > -100")
    }.getMessage.contains("already exists"))
    // an overwrite (or restore) dropping the constrained column would
    // write-block the table — refused with guidance
    assert(intercept[IllegalArgumentException] {
      Versioned.overwrite(Seq((1L, "a")).toDF("id", "s"), dir)
    }.getMessage.contains("dropConstraint"))

    // appends: violating batch refused BEFORE any version is published
    val ex1 = intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, "c", -5L)).toDF("id", "s", "n"), dir)
    }
    assert(ex1.getMessage.contains("n_positive") && ex1.getMessage.contains("1 row"))
    assert(Versioned.currentVersion(spark, dir).contains(cv))
    // NULL passes — SQL CHECK semantics, not Quality.Rule's gate rule
    Versioned.append(
      Seq((3L, "c", Option.empty[java.lang.Long])).toDF("id", "s", "n"), dir)

    // UPDATE SET that breaks the contract is refused (CoW and MoR)
    val ex2 = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("id") === 1L, Map("n" -> lit(-1L)))
    }
    assert(ex2.getMessage.contains("n_positive"))
    val ex3 = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, col("id") === 1L, Map("n" -> lit(-1L)))
    }
    assert(ex3.getMessage.contains("n_positive"))

    // MERGE: violating source rows are refused
    val ex4 = intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir,
        Seq((9L, "z", -3L)).toDF("id", "s", "n"), Seq("id"))
    }
    assert(ex4.getMessage.contains("n_positive"))

    // the constraint carries through unrelated commits, then drops
    Versioned.compact(spark, dir)
    assert(Versioned.constraintsAt(spark, dir,
      Versioned.currentVersion(spark, dir).get).contains("n_positive"))
    Versioned.dropConstraint(spark, dir, "n_positive")
    Versioned.append(Seq((4L, "d", -9L)).toDF("id", "s", "n"), dir)
    assert(Versioned.read(spark, dir).filter(col("n") === -9L).count() == 1)

    // a constraint may carry any name, a log key's included: it
    // round-trips and leaves the snapshot's DVs alone
    Versioned.deleteWhere(spark, dir, col("id") === 4L)
    val dv = Versioned.addConstraint(spark, dir, "dvfile", "id > 0")
    assert(Versioned.constraintsAt(spark, dir, dv) == Map("dvfile" -> "id > 0"))
    assert(Versioned.dvsAt(spark, dir, dv) == Versioned.dvsAt(spark, dir, dv - 1))
    Versioned.clearFilesMemo()
    assert(Versioned.readAt(spark, dir, dv).filter(col("n") === -9L).isEmpty)
  }

  test("versioned MERGE equals the relational merge on randomized data") {
    // the log path adds row discovery, DVs, the copy-on-write fallback
    // and commit machinery on top of the relational merge — this pins that
    // none of it changes the ANSWER: five successive merges through the
    // log (LWW merges alternating with matched-DELETE and BY SOURCE
    // clauses, so DVs accumulate and files cross the half-live line)
    // each equal merging the previous snapshot relationally, and each
    // commit's change feed equals the diff of its two snapshots
    import Upsert.MergeClause.{Delete, Insert, Update}
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.as[(Long, String, Long)].collect().toSet
    val rnd = new scala.util.Random(20260813)
    var (sawSoftDelete, sawRewrite) = (false, false)
    (1 to 3).foreach { round =>
      val dir = tmpDir(s"vt_merge_prop$round")
      val target = (0 to 59).filter(_ => rnd.nextInt(5) > 0)
        .map(k => (k.toLong, s"t$k", rnd.nextInt(100).toLong))
      val tDf = target.toDF("id", "s", "ver")
      // random file split: three appends by id mod 3
      (0 to 2).foreach(m => Versioned.append(tDf.filter(col("id") % 3 === m), dir))
      (1 to 5).foreach { m =>
        val prev = Versioned.currentVersion(spark, dir).get
        val source = (0 to 79).filter(_ => rnd.nextInt(4) == 0)
          .map(k => (k.toLong, s"s${round}_${m}_$k", rnd.nextInt(100).toLong))
        val sDf = source.toDF("id", "s", "ver")
        val before = rowsOf(Versioned.readAt(spark, dir, prev))
        val lww = Upsert.scol("ver") > Upsert.tcol("ver")
        val (matched, notMatched, bySource) =
          if (m % 2 == 1) (Seq(Update(Some(lww))), Seq(Insert()), Nil)
          else (
            Seq(Delete(Some(Upsert.scol("ver") < 15)), Update(Some(lww))),
            Seq(Insert()),
            Seq(Delete(Some(Upsert.tcol("ver") % 11 === 0)),
              Update(Some(Upsert.tcol("ver") % 13 === 1),
                Map("s" -> concat(Upsert.tcol("s"), lit("!"))))))
        val v =
          if (m % 2 == 1) Versioned.merge(spark, dir, sDf, Seq("id"), updateWhen = lww)
          else Versioned.mergeFull(spark, dir, sDf, Seq("id"), matched, notMatched, bySource)
        val got = rowsOf(Versioned.read(spark, dir))
        // LWW steps check against the independent Upsert.lastWriterWins;
        // only the clause steps need Upsert.mergeFull as their reference
        val want = rowsOf(
          if (m % 2 == 1) Upsert.lastWriterWins(Versioned.readAt(spark, dir, prev), sDf,
            Seq("id"), "ver")
          else Upsert.mergeFull(Versioned.readAt(spark, dir, prev), sDf, Seq("id"),
            matched, notMatched, bySource))
        assert(got == want, s"round $round merge $m: log merge diverged from relational merge")
        // the per-commit feed pairs each key's old and new version
        val (dels, ins) = (before -- got, got -- before)
        val (delKeys, insKeys) = (dels.map(_._1), ins.map(_._1))
        val wantCdf =
          dels.map(r => (r, if (insKeys(r._1)) "update_preimage" else "delete")) ++
            ins.map(r => (r, if (delKeys(r._1)) "update_postimage" else "insert"))
        val gotCdf = Versioned.changesWithType(spark, dir, prev, v)
          .select("id", "s", "ver", "_change_type").as[(Long, String, Long, String)]
          .collect().map { case (id, s, ver, t) => ((id, s, ver), t) }
        assert(gotCdf.length == wantCdf.size && gotCdf.toSet == wantCdf,
          s"round $round merge $m: change feed differs from the snapshot diff")
        val (fPrev, fNow) = (Versioned.filesAt(spark, dir, prev), Versioned.filesAt(spark, dir, v))
        val (dvPrev, dvNow) = (Versioned.dvsAt(spark, dir, prev), Versioned.dvsAt(spark, dir, v))
        sawSoftDelete ||= fPrev.exists(f => fNow.contains(f) &&
          dvNow.getOrElse(Versioned.fileKey(f), Nil).size >
            dvPrev.getOrElse(Versioned.fileKey(f), Nil).size)
        sawRewrite ||= fPrev.exists(f => !fNow.contains(f) &&
          dvPrev.contains(Versioned.fileKey(f)))
      }
      // compaction materializes the merges' DVs: same content, no DVs
      val content = rowsOf(Versioned.read(spark, dir))
      val c = Versioned.compact(spark, dir)
      assert(Versioned.dvsAt(spark, dir, c).isEmpty, s"round $round: compact kept DVs")
      assert(rowsOf(Versioned.read(spark, dir)) == content)
    }
    assert(sawSoftDelete, "no merge soft-deleted rows in a file it kept")
    assert(sawRewrite, "no file with merge DVs crossed the half-live line")
  }

  test("MoR MERGE: a sparse merge keeps the file and soft-deletes exactly the changed rows") {
    val dir = tmpDir("vt_merge_mor")
    Versioned.append((1L to 10L).map(i => (i, s"t$i", 10L))
      .toDF("id", "s", "ver").coalesce(1), dir)                        // v1, one file
    val Seq(base) = Versioned.filesAt(spark, dir, 1L)
    val posOf = spark.read.parquet(Versioned.dataPathStr(dir, base))
      .select(col("id"), col("_metadata.row_index")).as[(Long, Long)].collect().toMap
    // 3 and 7 win LWW, 5 loses (keeps its position), 11 inserts
    val src = Seq((3L, "S3", 20L), (5L, "S5", 1L), (7L, "S7", 20L), (11L, "S11", 20L))
      .toDF("id", "s", "ver")
    val v = Versioned.merge(spark, dir, src, Seq("id"),
      updateWhen = Upsert.scol("ver") > Upsert.tcol("ver"))
    val after = Versioned.filesAt(spark, dir, v)
    assert(after.contains(base), "a sparsely changed file must stay in the snapshot")
    assert(Versioned.dvsAt(spark, dir, v).map { case (k, ps) => k -> ps.toSet } ==
      Map(Versioned.fileKey(base) -> Set(posOf(3L), posOf(7L))),
      "exactly the updated rows' positions must be soft-deleted")
    // the fresh files hold only the changed rows' new versions and the insert
    val fresh = after.filterNot(_ == base)
    assert(spark.read.parquet(fresh.map(Versioned.dataPathStr(dir, _)): _*)
      .as[(Long, String, Long)].collect().toSet ==
      Set((3L, "S3", 20L), (7L, "S7", 20L), (11L, "S11", 20L)))
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      ((1L to 10L).map(i => (i, s"t$i", 10L)).toSet --
        Set((3L, "t3", 10L), (7L, "t7", 10L)) ++
        Set((3L, "S3", 20L), (7L, "S7", 20L), (11L, "S11", 20L))))
  }

  test("MoR MERGE: a file left under half live is rewritten copy-on-write") {
    import Upsert.MergeClause.{Delete, Update}
    val dir = tmpDir("vt_merge_cow")
    Versioned.append((1L to 4L).map(i => (i, s"t$i")).toDF("id", "s").coalesce(1), dir)
    val Seq(base) = Versioned.filesAt(spark, dir, 1L)
    // 1 deleted, 2 and 3 updated: one of four rows would stay live
    val v = Versioned.mergeFull(spark, dir,
      Seq((1L, "gone"), (2L, "U2"), (3L, "U3")).toDF("id", "s"), Seq("id"),
      matched = Seq(Delete(Some(Upsert.scol("s") === "gone")), Update(None)),
      notMatched = Nil)
    assert(!Versioned.filesAt(spark, dir, v).contains(base),
      "a file left under half live must be replaced")
    assert(Versioned.dvsAt(spark, dir, v).isEmpty, "the replaced file's DVs retire with it")
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((2L, "U2"), (3L, "U3"), (4L, "t4")))
  }

  test("MoR MERGE racing a compaction or a MoR delete of its soft-deleted file re-plans") {
    import Upsert.MergeClause.Update
    def ids(dir: String) = Versioned.read(spark, dir).as[(Long, String)].collect().toSeq
    // (a) a compaction replaces the file between the merge's plan and
    // its commit: re-basing would keep the old row 3 in the compacted
    // file next to its new version
    val dir = tmpDir("vt_mor_race_compact")
    Versioned.append((1L to 8L).map(i => (i, s"t$i")).toDF("id", "s").coalesce(1), dir)
    Versioned.withLogStore(new InjectBeforeFirstPublish(() => {
      Versioned.compact(spark, dir); ()
    })) {
      Versioned.merge(spark, dir, Seq((3L, "U3")).toDF("id", "s"), Seq("id"))
    }
    assert(Versioned.opAt(spark, dir, 2L) == "optimize", "the race did not happen")
    assert(ids(dir).sorted == (1L to 8L).map(i => (i, if (i == 3L) "U3" else s"t$i")),
      s"got ${ids(dir).sorted}")
    // (b) a MoR delete of the very row the merge updates: re-basing
    // would publish the update and resurrect the deleted key
    val dir2 = tmpDir("vt_mor_race_dv")
    Versioned.append((1L to 8L).map(i => (i, s"t$i")).toDF("id", "s").coalesce(1), dir2)
    Versioned.withLogStore(new InjectBeforeFirstPublish(() => {
      Versioned.deleteWhere(spark, dir2, col("id") === 3L); ()
    })) {
      Versioned.mergeFull(spark, dir2, Seq((3L, "U3")).toDF("id", "s"), Seq("id"),
        matched = Seq(Update(None)), notMatched = Nil)
    }
    assert(Versioned.opAt(spark, dir2, 2L) == "delete", "the race did not happen")
    assert(ids(dir2).sorted == (1L to 8L).filterNot(_ == 3L).map(i => (i, s"t$i")),
      s"got ${ids(dir2).sorted}")
  }

  test("concurrent MERGEs inserting the same new key never duplicate it") {
    val dir = tmpDir("vt_merge_race")
    Versioned.append(Seq((1L, "a", 0L)).toDF("id", "s", "ver"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            Versioned.merge(spark, dir,
              Seq((42L, s"writer$i", i.toLong)).toDF("id", "s", "ver"), Seq("id"))
          }
        })
      }
      gate.countDown()
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // whichever merge lost the race re-planned: its insert became a
    // matched update, so the key exists exactly once
    val rows = Versioned.read(spark, dir).filter(col("id") === 42L).collect()
    assert(rows.length == 1,
      s"concurrent merges duplicated key 42: ${rows.toSeq}")
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("two concurrent disjoint-file deletes both land (threaded commute matrix)") {
    val dir = tmpDir("vt_commute_threads")
    Versioned.append((1L to 10L).map(i => (i, "a")).toDF("id", "s"), dir)   // files A
    Versioned.append((11L to 20L).map(i => (i, "b")).toDF("id", "s"), dir)  // files B
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call() = Versioned.deleteWhere(spark, dir, col("id") === 1L)
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call() = Versioned.deleteWhere(spark, dir, col("id") === 11L)
      })
      assert(fa.get(300, java.util.concurrent.TimeUnit.SECONDS).nonEmpty)
      assert(fb.get(300, java.util.concurrent.TimeUnit.SECONDS).nonEmpty)
    } finally pool.shutdown()
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      ((2L to 10L) ++ (12L to 20L)),
      "both disjoint-file deletes must apply — whichever committed second " +
        "must have re-based, not dropped the other or failed")
  }

  test("a DELETE/UPDATE leaving a file under half live rewrites it copy-on-write, with no DV") {
    val dir = tmpDir("vt_dv_cow_rule")
    Versioned.append((1L to 10L).map(i => (i, "x")).toDF("id", "s").coalesce(1), dir) // v1
    val Seq(base) = Versioned.filesAt(spark, dir, 1L)
    // 6 of 10 rows deleted: 4 would stay live → the file is rewritten
    assert(Versioned.deleteWhere(spark, dir, col("id") <= 6L).contains(2L))
    assert(!Versioned.filesAt(spark, dir, 2L).contains(base), "the file must be replaced")
    assert(Versioned.dvsAt(spark, dir, 2L).isEmpty, "a rewritten file carries no DV")
    assert(Versioned.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      (7L to 10L))
    // an UPDATE soft-deletes its old versions too: 3 of 4 changed → rewrite
    val Seq(rewritten) = Versioned.filesAt(spark, dir, 2L)
    assert(Versioned.updateWhere(spark, dir, col("id") <= 9L,
      Map("s" -> lit("y"))).contains(3L))
    assert(!Versioned.filesAt(spark, dir, 3L).contains(rewritten))
    assert(Versioned.dvsAt(spark, dir, 3L).isEmpty)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((7L, "y"), (8L, "y"), (9L, "y"), (10L, "x")))
  }

  test("a sparse UPDATE's change feed pairs its rows as update pre/postimages") {
    val dir = tmpDir("vt_dv_update_cdf")
    Versioned.append((1L to 10L).map(i => (i, "x", i * 10)).toDF("id", "s", "n")
      .coalesce(1), dir)                                                    // v1
    val Seq(base) = Versioned.filesAt(spark, dir, 1L)
    assert(Versioned.updateWhere(spark, dir, col("id") === 4L,
      Map("n" -> (col("n") + 1))).contains(2L))
    assert(Versioned.filesAt(spark, dir, 2L).contains(base) &&
      Versioned.dvsAt(spark, dir, 2L).values.map(_.size).sum == 1,
      "a sparse UPDATE soft-deletes its old row")
    val feed = Versioned.changesWithType(spark, dir, 1L, 2L)
      .select("id", "n", "_change_type").as[(Long, Long, String)].collect().toSet
    assert(feed == Set((4L, 40L, "update_preimage"), (4L, 41L, "update_postimage")))
  }

  test("a sparse DELETE or UPDATE racing a blind append re-bases and lands") {
    def race(dir: String)(mutate: => Option[Long]): Unit = {
      Versioned.append((1L to 8L).map(i => (i, "x")).toDF("id", "s").coalesce(1), dir)
      Versioned.withLogStore(new InjectBeforeFirstPublish(() => {
        Versioned.append(Seq((9L, "x")).toDF("id", "s"), dir); ()
      }))(assert(mutate.contains(3L)))
      assert(Versioned.opAt(spark, dir, 2L) == "append", "the race did not happen")
      assert(Versioned.dvsAt(spark, dir, 3L).values.map(_.size).sum == 1)
    }
    val del = tmpDir("vt_dv_race_delete")
    race(del)(Versioned.deleteWhere(spark, del, col("id") === 3L))
    assert(Versioned.read(spark, del).select("id").as[Long].collect().sorted.toSeq ==
      ((1L to 9L).filterNot(_ == 3L)))
    val upd = tmpDir("vt_dv_race_update")
    race(upd)(Versioned.updateWhere(spark, upd, col("id") === 3L, Map("s" -> lit("y"))))
    assert(Versioned.read(spark, upd).as[(Long, String)].collect().toSet ==
      (1L to 9L).map(i => (i, if (i == 3L) "y" else "x")).toSet)
  }

  test("oversized DV sets spill to a sidecar; commit JSON stays bounded across commits") {
    val dir = tmpDir("vt_dv_spill")
    // 3000 rows in one file: a DV of 1100 > inline max leaves it over half live
    val n = Versioned.DvInlineMax + 1976
    Versioned.append((1L to n.toLong).map(i => (i, "x")).toDF("id", "s").coalesce(1), dir)
    assert(Versioned.deleteWhere(spark, dir, col("id") <= 1100L).contains(2L))
    // every live row survives, every deleted row is gone
    assert(Versioned.read(spark, dir).count() == n - 1100L)
    assert(Versioned.dvsAt(spark, dir, 2L).values.map(_.size).sum == 1100)
    // subsequent commits carry the big DV map WITHOUT re-inlining it
    Versioned.append(Seq((9001L, "y")).toDF("id", "s"), dir)
    Versioned.append(Seq((9002L, "z")).toDF("id", "s"), dir)
    val log = new java.io.File(s"$dir/_graft_log")
    log.listFiles().filter(_.getName.matches("v\\d{8}\\.json")).foreach { f =>
      assert(f.length() < 4096,
        s"${f.getName} is ${f.length()} bytes — DV payload must spill to a " +
          "sidecar, not inline in every commit")
    }
    // the spilled DVs still apply at the head
    assert(Versioned.read(spark, dir).count() == n - 1100L + 2)
    assert(Versioned.dvsAt(spark, dir, 4L).values.map(_.size).sum == 1100)
    // compact purges them; the purged commit goes back to inline-free
    val cv = Versioned.compact(spark, dir)
    assert(Versioned.dvsAt(spark, dir, cv).isEmpty)
    assert(Versioned.readAt(spark, dir, cv).count() == n - 1100L + 2)
  }

  test("compactSmall bins only small files, materializes their DVs, keeps big files") {
    val dir = tmpDir("vt_compact_small")
    // one "big" file set and a trail of small single-row appends
    Versioned.append(
      (1L to 1000L).map(i => (i, s"row$i")).toDF("id", "s").coalesce(1), dir)
    (1 to 4).foreach(i =>
      Versioned.append(Seq((10000L + i, s"tail$i")).toDF("id", "s").coalesce(1), dir))
    val bigFiles = Versioned.filesAt(spark, dir, 1L)
    // soft-delete one row living in a SMALL file: the bin-pack must
    // materialize the DV, not resurrect the row
    Versioned.deleteWhere(spark, dir, col("id") === 10001L)
    val before = Versioned.read(spark, dir).count()

    // threshold sits between the tail files and the 1000-row file
    val smallBytes = new java.io.File(s"$dir/${bigFiles.head}").length()
    val v = Versioned.compactSmall(spark, dir, smallBytes = smallBytes)
    assert(v.nonEmpty)
    val after = Versioned.filesAt(spark, dir, v.get)
    assert(bigFiles.forall(after.contains), "already-compact files must not rewrite")
    assert(after.size == bigFiles.size + 1,
      s"4 small files must bin into 1, got ${after.size - bigFiles.size}")
    assert(Versioned.read(spark, dir).count() == before)
    assert(Versioned.read(spark, dir).filter(col("id") === 10001L).isEmpty,
      "the soft-deleted row must stay deleted through the bin-pack")
    assert(Versioned.dvsAt(spark, dir, v.get).isEmpty,
      "small-file DVs must be materialized and purged by the rewrite")
    // an already-binned table is a no-op
    assert(Versioned.compactSmall(spark, dir, smallBytes = smallBytes).isEmpty)
  }

  test("detail summarizes the head snapshot from the log and file metadata alone") {
    val dir = tmpDir("vt_detail")
    Versioned.append(Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "s", "n").coalesce(1), dir)
    Versioned.addConstraint(spark, dir, "n_positive", "n > 0")
    Versioned.deleteWhere(spark, dir, col("id") === 1L)
    val d = Versioned.detail(spark, dir).collect()(0)
    assert(d.getAs[Long]("version") == 3L)
    assert(d.getAs[Long]("n_files") == Versioned.filesAt(spark, dir, 3L).size)
    assert(d.getAs[Long]("size_bytes") > 0)
    assert(d.getAs[Long]("n_soft_deleted") == 1L)
    assert(d.getAs[Long]("num_rows") == 1L,
      "logical rows = physical counts minus DV cardinality, from the log")
    assert(d.getAs[scala.collection.Seq[String]]("constraints").toSeq == Seq("n_positive"))
    assert(d.getAs[Long]("commit_ts") > 0)
  }

  test("history lists every retained commit; readAsOf time-travels by wall clock") {
    val dir = tmpDir("vt_history")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Thread.sleep(25) // ms-granularity commit timestamps must separate
    val between = System.currentTimeMillis()
    Thread.sleep(25)
    Versioned.overwrite(Seq((2L, "b")).toDF("id", "s"), dir)
    Versioned.deleteWhere(spark, dir, col("id") === 2L)

    val h = Versioned.history(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(h.map(r => (r._1, r._2)) ==
      Seq((1L, "append"), (2L, "overwrite"), (3L, "delete")))
    assert(h.map(_._3).sorted == h.map(_._3), "commit_ts must be nondecreasing")

    // TIMESTAMP AS OF: an instant between v1 and v2 resolves to v1
    assert(Versioned.readAsOf(spark, dir, between)
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(Versioned.readAsOf(spark, dir, System.currentTimeMillis()).isEmpty,
      "asof now must see the delete-emptied head")
    val ex = intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, dir, 1L) // 1970: before the table existed
    }
    assert(ex.getMessage.contains("no version committed"))
  }

  test("concurrent replays of the same (appId, txnVersion) commit at most once") {
    val dir = tmpDir("vt_txn_race")
    Versioned.append(Seq((0L, "seed")).toDF("id", "s"), dir)
    val n = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = {
            gate.await()
            Versioned.appendIdempotent(
              Seq((9L, s"replay$i")).toDF("id", "s"), dir, "app", txnVersion = 7L)
          }
        })
      }
      gate.countDown() // release all replayers at once
      val results = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.count(_.nonEmpty) == 1,
        s"exactly one replay of (app, 7) may commit, got $results")
    } finally pool.shutdown()
    // the batch landed once: no duplicate rows, watermark recorded
    assert(Versioned.read(spark, dir).filter(col("id") === 9L).count() == 1)
    assert(Versioned.lastTxnVersion(spark, dir, "app").contains(7L))
    // a later replay after the fact is a cheap no-op
    assert(Versioned.appendIdempotent(
      Seq((9L, "late")).toDF("id", "s"), dir, "app", 7L).isEmpty)
  }

  test("vacuum sweeps stale commit tmps and orphaned DV sidecars, keeps referenced ones") {
    val dir = tmpDir("vt_vac_tmp")
    val n = Versioned.DvInlineMax + 1976
    Versioned.append((1L to n.toLong).map(i => (i, "x")).toDF("id", "s").coalesce(1), dir)
    Versioned.deleteWhere(spark, dir, col("id") <= 1100L) // v2 spills a DV sidecar
    val log = new java.io.File(s"$dir/_graft_log")
    val referenced = log.listFiles().map(_.getName)
      .filter(nm => nm.startsWith("dv-") && nm.endsWith(".json")).toSet
    assert(referenced.size == 1, s"expected one spilled sidecar, got $referenced")
    // debris: a crashed committer's tmp and an unreferenced sidecar
    java.nio.file.Files.write(
      new java.io.File(log, ".v9-deadbeef.tmp").toPath, "junk".getBytes)
    java.nio.file.Files.write(
      new java.io.File(log, "dv-orphan.json").toPath, """{"dvs":{}}""".getBytes)
    Versioned.vacuum(spark, dir, keepVersions = 2, tmpRetentionMs = -1000L)
    val left = log.listFiles().map(_.getName).toSet
    assert(!left.contains(".v9-deadbeef.tmp"), s"stale tmp not swept: $left")
    assert(!left.contains("dv-orphan.json"), s"orphan sidecar not swept: $left")
    assert(referenced.subsetOf(left), "the referenced DV sidecar must survive")
    assert(Versioned.read(spark, dir).count() == n - 1100L)
  }

  private def logEntry(dir: String, v: Long): java.io.File =
    new java.io.File(s"$dir/_graft_log/" + f"v$v%08d.json")

  test("log entries carry add/remove deltas; entry size stays O(batch) as appends accumulate") {
    val dir = tmpDir("vt_delta")
    (1 to 20).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1), dir))
    def entry(v: Long) = new String(
      java.nio.file.Files.readAllBytes(logEntry(dir, v).toPath), "UTF-8")
    // first version and every CheckpointInterval-th are checkpoints
    // (full list); everything else is a delta with no file list
    assert(entry(1L).contains("\"files\":["))
    assert(entry(16L).contains("\"files\":["))
    (2L to 20L).filterNot(_ == 16L).foreach { v =>
      assert(!entry(v).contains("\"files\":["), s"v$v should be a delta entry")
      assert(entry(v).contains("\"add\":["), s"v$v should carry an add action")
    }
    // the scale pin: a delta entry's size is O(files touched), not
    // O(table files) — v20 (19 files live) must not exceed v2's (1
    // file live) by more than noise (both add exactly one file)
    val v2 = logEntry(dir, 2L).length()
    val v20 = logEntry(dir, 20L).length()
    assert(v20 <= v2 + 64,
      s"delta entry grew with table size: v2=$v2 bytes, v20=$v20 bytes")
    // and reads still resolve exactly across the checkpoint + suffix
    assert(rows(dir, 20L) == (1 to 20).map(i => (i.toLong, s"r$i")).toSet)
    assert(rows(dir, 15L) == (1 to 15).map(i => (i.toLong, s"r$i")).toSet)
    assert(Versioned.filesAt(spark, dir, 20L).size == 20)
    // history's forward replay counts files per version without
    // re-walking the log per row
    val hist = Versioned.history(spark, dir)
      .select("version", "n_files").as[(Long, Long)].collect().toMap
    assert(hist(1L) == 1L && hist(16L) == 16L && hist(20L) == 20L)
  }

  test("vacuum of a delta chain checkpoints the oldest retained version; outside refuses loudly") {
    val dir = tmpDir("vt_vac_delta")
    (1 to 20).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1), dir))
    // oldest kept (v18) is a delta entry — vacuum must anchor it
    Versioned.vacuum(spark, dir, keepVersions = 3)
    assert(Versioned.versions(spark, dir) == Seq(18L, 19L, 20L))
    val ckpt = new java.io.File(s"$dir/_graft_log/" + f"v${18L}%08d.ckpt.json")
    assert(ckpt.exists(), "vacuum must publish a checkpoint sidecar for the oldest kept delta")
    // head reads and in-retention time travel still resolve
    assert(rows(dir, 20L) == (1 to 20).map(i => (i.toLong, s"r$i")).toSet)
    assert(rows(dir, 18L) == (1 to 18).map(i => (i.toLong, s"r$i")).toSet)
    assert(Versioned.history(spark, dir).count() == 3)
    // outside retention: loud refusal, not a broken walk
    intercept[IllegalArgumentException] { Versioned.readAt(spark, dir, 17L) }
    // a second vacuum drops the now-superfluous sidecars of dropped versions
    Versioned.append(Seq((21L, "r21")).toDF("id", "s").repartition(1), dir)
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(!ckpt.exists(), "dropped versions' checkpoint sidecars must be swept")
    assert(rows(dir, 21L) == (1 to 21).map(i => (i.toLong, s"r$i")).toSet)
  }

  test("vacuum dry run reports exactly the live run's deletion set, touching nothing") {
    val dir = tmpDir("vt_vac_dry")
    (1 to 5).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1), dir))
    def treeState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
      walk(new java.io.File(dir)).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = treeState()
    val planned = Versioned.vacuum(spark, dir, keepVersions = 2,
      tmpRetentionMs = 0L, dryRun = true)
    assert(planned.nonEmpty, "dropping 3 versions must plan deletions")
    assert(treeState() == before, "a dry run must not touch the table")
    assert(Versioned.versions(spark, dir) == (1L to 5L), "no log truncation")
    val real = Versioned.vacuum(spark, dir, keepVersions = 2, tmpRetentionMs = 0L)
    assert(real.toSet == planned.toSet,
      s"dry-run plan must equal the live deletion set:\n  planned ${planned.toSet}\n  real ${real.toSet}")
    assert(Versioned.versions(spark, dir) == Seq(4L, 5L))
    assert(rows(dir, 5L) == (1 to 5).map(i => (i.toLong, s"r$i")).toSet)
  }

  test("large checkpoints spill to columnar parquet sidecars; mixed-format log reads") {
    val dir = tmpDir("vt_ckpt_cols")
    val prevMax = Versioned.CkptInlineMax
    Versioned.CkptInlineMax = 4 // force the columnar path at fixture scale
    try {
      // 17 single-file appends: v1 checkpoints inline-eligible? no —
      // v1 has 1 file (≤ 4, inline); v16's checkpoint holds 16 files
      // (> 4) and must spill to a referenced parquet sidecar
      (1 to 17).foreach(i =>
        Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1), dir))
      def entry(v: Long) = new String(
        java.nio.file.Files.readAllBytes(logEntry(dir, v).toPath), "UTF-8")
      assert(entry(1L).contains("\"files\":["), "small checkpoint stays inline")
      assert(entry(16L).contains("\"ckptfile\":\"ckpt-"),
        "a checkpoint past CkptInlineMax must reference a columnar sidecar")
      assert(!entry(16L).contains("\"files\":["))
      // the entry itself stays O(1) however many files the table holds
      assert(logEntry(dir, 16L).length() < 1024,
        s"ckptfile entry should be tiny, got ${logEntry(dir, 16L).length()} bytes")
      // resolution across the columnar checkpoint + delta suffix is exact
      assert(rows(dir, 17L) == (1 to 17).map(i => (i.toLong, s"r$i")).toSet)
      assert(rows(dir, 16L) == (1 to 16).map(i => (i.toLong, s"r$i")).toSet)
      assert(Versioned.filesAt(spark, dir, 17L).size == 17)
      // history's forward replay and the streaming add-action read both
      // resolve through the sidecar
      val hist = Versioned.history(spark, dir)
        .select("version", "n_files").as[(Long, Long)].collect().toMap
      assert(hist(16L) == 16L && hist(17L) == 17L)
      assert(Versioned.streamBatch(spark, dir, 15L, 17L)
        .as[(Long, String)].collect().toSet == Set((16L, "r16"), (17L, "r17")))
      // vacuum anchors the oldest kept delta through the SAME columnar
      // path (full list > cap), retains the referenced sidecars, and
      // resolution survives the truncation
      Versioned.vacuum(spark, dir, keepVersions = 3, tmpRetentionMs = 0L)
      assert(Versioned.versions(spark, dir) == Seq(15L, 16L, 17L))
      val anchor = new java.io.File(s"$dir/_graft_log/" + f"v${15L}%08d.ckpt.json")
      assert(anchor.exists())
      assert(new String(java.nio.file.Files.readAllBytes(anchor.toPath), "UTF-8")
        .contains("\"ckptfile\":\"ckpt-"),
        "a large vacuum anchor must spill columnar too")
      assert(rows(dir, 15L) == (1 to 15).map(i => (i.toLong, s"r$i")).toSet)
      assert(rows(dir, 17L) == (1 to 17).map(i => (i.toLong, s"r$i")).toSet)
      // a fresh commit + aggressive vacuum sweeps sidecars of dropped
      // entries once unreferenced, while the live ones survive
      Versioned.append(Seq((18L, "r18")).toDF("id", "s").repartition(1), dir)
      Versioned.vacuum(spark, dir, keepVersions = 1, tmpRetentionMs = 0L)
      assert(rows(dir, 18L) == (1 to 18).map(i => (i.toLong, s"r$i")).toSet)
      val sidecars = new java.io.File(s"$dir/_graft_log").listFiles()
        .map(_.getName).filter(n => n.startsWith("ckpt-") && n.endsWith(".parquet"))
      assert(sidecars.length == 1,
        s"exactly the live anchor's sidecar should remain, got ${sidecars.toSeq}")
    } finally Versioned.CkptInlineMax = prevMax
  }

  test("a legacy full-list entry mid-log reads natively and anchors later deltas") {
    val dir = tmpDir("vt_legacy")
    Versioned.append(Seq((1L, "a")).toDF("id", "s").repartition(1), dir)
    // hand-craft a LEGACY v2: full file list, old key order, no actions
    val df = Seq((2L, "b")).toDF("id", "s").repartition(1)
    df.write.parquet(s"$dir/d-legacy")
    val part = new java.io.File(s"$dir/d-legacy").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val v1Files = Versioned.filesAt(spark, dir, 1L)
    val all = v1Files ++ part.map(p => s"d-legacy/$p")
    val b64 = java.util.Base64.getEncoder.encodeToString(df.schema.json.getBytes("UTF-8"))
    val legacy = s"""{"version":2,"op":"append","ts":${System.currentTimeMillis()},""" +
      s""""schema":"$b64","files":[${all.map("\"" + _ + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(logEntry(dir, 2L).toPath, legacy.getBytes("UTF-8"))
    // a new-code append lands a delta on top of the legacy entry
    Versioned.append(Seq((3L, "c")).toDF("id", "s").repartition(1), dir)
    assert(rows(dir, 2L) == Set((1L, "a"), (2L, "b")))
    assert(rows(dir, 3L) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new String(java.nio.file.Files.readAllBytes(logEntry(dir, 3L).toPath), "UTF-8")
      .contains("\"files\":["), "v3 should be a delta anchored on the legacy entry")
  }

  test("writer appIds named like log keys round-trip") {
    val dir = tmpDir("vt_appid")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val ts1 = Versioned.commitTimestampAt(spark, dir, 1L)
    assert(Versioned.appendIdempotent(Seq((2L, "b")).toDF("id", "s"), dir, "ts", 1L)
      .contains(2L))
    assert(Versioned.overwriteIdempotent(Seq((3L, "c")).toDF("id", "s"), dir, "files", 7L)
      .contains(3L))
    assert(Versioned.txnsAt(spark, dir, 3L) == Map("ts" -> 1L, "files" -> 7L))
    // the watermarks still make replays no-ops
    assert(Versioned.appendIdempotent(Seq((2L, "b")).toDF("id", "s"), dir, "ts", 1L).isEmpty)
    assert(Versioned.overwriteIdempotent(Seq((3L, "c")).toDF("id", "s"), dir, "files", 7L)
      .isEmpty)
    // neither masquerades as the commit time nor as the file list
    assert(Versioned.commitTimestampAt(spark, dir, 2L) >= ts1)
    Versioned.clearFilesMemo()
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("constraint validation of a differently-cased batch evaluates instead of going ambiguous") {
    val dir = tmpDir("vt_case")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.addConstraint(spark, dir, "pos_id", "id > 0")
    // batch presents ID/S: alignment must NOT append a duplicate null
    // 'id' (ambiguous reference); the append is then refused by schema
    // ENFORCEMENT with its clear message, not an AnalysisException
    val e = intercept[IllegalArgumentException] {
      Versioned.append(Seq((2L, "b")).toDF("ID", "S"), dir)
    }
    assert(e.getMessage.contains("schema mismatch"), s"got: ${e.getMessage}")
  }

  test("addedSince reads only add-action files; non-append windows refuse loudly") {
    val dir = tmpDir("vt_added")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) // v2
    Versioned.addConstraint(spark, dir, "posid", "id > 0") // v3: no file changes
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir) // v4
    assert(Versioned.addedSince(spark, dir, 1L, 4L)
      .as[(Long, String)].collect().toSet == Set((3L, "c"), (4L, "d")))
    assert(Versioned.addedSince(spark, dir, 4L, 4L).isEmpty)
    // a rewrite op in the window republishes old rows into fresh files —
    // an add-action read would misreport them as inserts, so it refuses
    Versioned.updateWhere(spark, dir, col("id") === 1L, Map("s" -> lit("A"))) // v5
    val e = intercept[IllegalArgumentException] {
      Versioned.addedSince(spark, dir, 4L, 5L)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("maintenance drops a column retyped since it was zoned instead of pruning everything") {
    val dir = tmpDir("vt_zone_retype")
    Versioned.append((1L to 50L).map(i => (i, i * 2L)).toDF("id", "n")
      .repartition(2), dir)                                          // v1
    Versioned.writeZoneMap(spark, dir, 1L, "n")
    // overwrite retypes n to STRING (appends refuse retypes; overwrite
    // replaces the table): the int zone stats are now meaningless
    Versioned.overwrite((1L to 50L).map(i => (i, s"x$i")).toDF("id", "n"), dir) // v2
    val v = Versioned.compact(spark, dir)                            // v3
    // every row still visible — the carry must NOT have re-statted the
    // string column into all-NULL empty-range sentinels
    assert(Versioned.readAt(spark, dir, v).count() == 50)
    // and pruning on the retyped column falls back to the full file
    // list (no stats), never to "prune everything"
    assert(Versioned.prunedFiles(spark, dir, v, "n", 0L, 1L).size ==
      Versioned.filesAt(spark, dir, v).size,
      "a retyped column must lose its zone stats, not keep bogus ones")
  }

  test("windowShape classifies append-only, maintenance, and mutating windows in one scan") {
    import Versioned.WindowShape
    val dir = tmpDir("vt_shape")
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir)            // v2
    Versioned.addConstraint(spark, dir, "posid", "id > 0")           // v3
    assert(Versioned.windowShape(spark, dir, 1L, 3L) == WindowShape.AppendOnly)
    Versioned.compact(spark, dir)                                    // v4: optimize
    assert(Versioned.windowShape(spark, dir, 1L, 4L) == WindowShape.RowPreserving)
    assert(Versioned.isRowPreservingWindow(spark, dir, 1L, 4L))
    assert(!Versioned.isAppendOnlyWindow(spark, dir, 1L, 4L))
    Versioned.deleteWhere(spark, dir, col("id") === 2L)              // v5: delete
    Versioned.windowShape(spark, dir, 1L, 5L) match {
      case WindowShape.RowMutating(ops) =>
        // only the MUTATING commits are reported — the optimize is not
        assert(ops == Seq(5L -> "delete"), s"got: $ops")
      case other => fail(s"expected RowMutating, got $other")
    }
    assert(!Versioned.isRowPreservingWindow(spark, dir, 1L, 5L))
    // a window past the mutation is clean again
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir)            // v6
    assert(Versioned.windowShape(spark, dir, 5L, 6L) == WindowShape.AppendOnly)
  }

  test("mergeIdempotent: watermark and merged rows land in one commit; replay is a no-op") {
    val dir = tmpDir("vt_midem")
    Versioned.append(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "ts"), dir)
    val src = Seq((2L, "B", 2L), (3L, "c", 2L)).toDF("id", "s", "ts")
    val v = Versioned.mergeIdempotent(spark, dir, src, Seq("id"), "job", 10L,
      updateWhen = Upsert.scol("ts") > Upsert.tcol("ts"))
    assert(v.nonEmpty)
    assert(Versioned.read(spark, dir).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 2L)))
    // crash-replay of the same refresh: refused at the log, no version
    assert(Versioned.mergeIdempotent(spark, dir, src, Seq("id"), "job", 10L).isEmpty)
    assert(Versioned.mergeIdempotent(spark, dir, src, Seq("id"), "job", 9L).isEmpty)
    assert(Versioned.currentVersion(spark, dir) == v)
    // a genuinely newer refresh applies
    assert(Versioned.mergeIdempotent(spark, dir, src, Seq("id"), "job", 11L,
      updateWhen = Upsert.scol("ts") > Upsert.tcol("ts")).nonEmpty)
    // an appId named like a log key is an ordinary watermark
    assert(Versioned.mergeIdempotent(spark, dir, src, Seq("id"), "dvs", 12L).nonEmpty)
    assert(Versioned.txnsAt(spark, dir, Versioned.currentVersion(spark, dir).get) ==
      Map("job" -> 11L, "dvs" -> 12L))
  }

  test("zone carry recovers across a sidecar gap wider than the bounded window") {
    val dir = tmpDir("vt_zone_gap")
    Versioned.append((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s").repartition(2), dir)
    Versioned.writeZoneMap(spark, dir, 1L, "id")
    // 10 constraint commits bump the version without touching files or
    // sidecars — the v1 sidecar falls out of the 8-version carry window
    (1 to 5).foreach { i =>
      Versioned.addConstraint(spark, dir, s"c$i", "id > 0")
      Versioned.dropConstraint(spark, dir, s"c$i")
    }
    assert(Versioned.currentVersion(spark, dir).contains(11L))
    val v = Versioned.append((101L to 110L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartition(1), dir)
    val sidecar = new java.io.File(s"$dir/_graft_log/" + f"v$v%08d.zones.json")
    assert(sidecar.exists(),
      "carry must fall back to the newest existing sidecar, not give up")
    // and the carried stats still prune: a range matching only the
    // fresh file opens fewer files than the snapshot references
    val pruned = Versioned.prunedFiles(spark, dir, v, "id", 101L, 110L)
    assert(pruned.size < Versioned.filesAt(spark, dir, v).size)
  }

  test("resolveFiles recovers via a checkpoint sidecar after ancestors are truncated") {
    // the interleaving a concurrent vacuum produces: ancestors of a
    // RETAINED version vanish, but the sidecar vacuum published first
    // is there — a (re)walk must resolve from it, and without it the
    // refusal must still be loud
    val dir = tmpDir("vt_race")
    (1 to 5).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1), dir))
    val v3Files = Versioned.filesAt(spark, dir, 3L)
    // truncate v1-v2 with NO sidecar: v5 exists but cannot resolve → loud.
    // A WARM driver would serve v5's memoized (immutable, still-correct)
    // list — the refusal contract is for COLD resolution, so drop the memo
    (1L to 2L).foreach(v => assert(logEntry(dir, v).delete()))
    Versioned.clearFilesMemo()
    val e = intercept[IllegalArgumentException] { Versioned.filesAt(spark, dir, 5L) }
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // vacuum's sidecar appears (post-commit state of v3) → same walk succeeds
    val ckpt = s"""{"files":[${v3Files.map("\"" + _ + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(
      new java.io.File(s"$dir/_graft_log/" + f"v${3L}%08d.ckpt.json").toPath,
      ckpt.getBytes("UTF-8"))
    assert(rows(dir, 5L) == (1 to 5).map(i => (i.toLong, s"r$i")).toSet)
    assert(rows(dir, 3L) == (1 to 3).map(i => (i.toLong, s"r$i")).toSet)
  }

  test("optimizeClusterBy sharpens zone pruning; content, DVs, and history unchanged") {
    val dir = tmpDir("vt_optimize")
    // two id-interleaved appends: every file spans the whole id domain,
    // so the zone map prunes nothing
    Versioned.append((1L to 100L).filter(_ % 2 == 0).map(i => (i, s"r$i"))
      .toDF("id", "s").repartition(2), dir)
    Versioned.append((1L to 100L).filter(_ % 2 == 1).map(i => (i, s"r$i"))
      .toDF("id", "s").repartition(2), dir)
    Versioned.deleteWhere(spark, dir, col("id") === 50L) // v3: live DV
    Versioned.writeZoneMap(spark, dir, 3L, "id")
    assert(Versioned.prunedFiles(spark, dir, 3L, "id", 10L, 15L).size ==
      Versioned.filesAt(spark, dir, 3L).size, "interleaved files should not prune")

    // cluster columns resolve case-insensitively to the committed
    // spelling, consistent with append alignment and constraints
    val v = Versioned.optimizeClusterBy(spark, dir, Seq("ID"), targetFiles = 4)
    val expected = (1L to 100L).filter(_ != 50L).map(i => (i, s"r$i")).toSet
    assert(rows(dir, v) == expected, "optimize must not change live rows")
    assert(Versioned.dvsAt(spark, dir, v).isEmpty,
      "materialized DVs must retire with the files that carried them")
    assert(Versioned.prunedFiles(spark, dir, v, "id", 10L, 15L).size <
      Versioned.filesAt(spark, dir, v).size, "clustered files must prune")
    // the pruned scan is also CORRECT, and pre-optimize versions travel
    assert(Versioned.readWhere(spark, dir, v, "id", 10L, 15L)
      .as[(Long, String)].collect().toSet ==
      expected.filter(r => r._1 >= 10L && r._1 <= 15L))
    assert(rows(dir, 2L) == (1L to 100L).map(i => (i, s"r$i")).toSet)
  }

  test("optimize keeps previously-zoned columns' data skipping (sidecar union)") {
    val dir = tmpDir("vt_opt_union")
    Versioned.append((1L to 100L).map(i => (i, i * 10L)).toDF("id", "ts")
      .repartition(2), dir)
    Versioned.writeZoneMap(spark, dir, 1L, "ts")
    val v = Versioned.optimizeClusterBy(spark, dir, Seq("id"), targetFiles = 4)
    // ts stats survived the rewrite: an out-of-domain ts range prunes to
    // ZERO files (a missing ts block would fall back to the full list)
    assert(Versioned.prunedFiles(spark, dir, v, "ts", 1000000L, 2000000L).isEmpty,
      "previously-zoned column lost its stats through optimize")
    // and the cluster column is zoned too
    assert(Versioned.prunedFiles(spark, dir, v, "id", 10L, 15L).size <
      Versioned.filesAt(spark, dir, v).size)
  }

  test("changes() opens only files the window added, removed, or DV-touched") {
    val dir = tmpDir("vt_cdf_prune")
    Versioned.append(Seq((1L, "a")).toDF("id", "s").repartition(1), dir) // v1
    Versioned.append(Seq((2L, "b"), (4L, "d")).toDF("id", "s").repartition(1), dir) // v2
    Versioned.append(Seq((3L, "c")).toDF("id", "s").repartition(1), dir) // v3
    val ch = Versioned.changes(spark, dir, 2L, 3L)
    assert(ch.as[(Long, String, String)].collect().toSet == Set((3L, "c", "insert")))
    // the two files shared by v2 and v3 cancel by construction — the
    // plan must not even open them
    val opened = ch.inputFiles.map(_.split("/").takeRight(2).mkString("/")).toSet
    val v2Files = Versioned.filesAt(spark, dir, 2L).toSet
    assert(opened.intersect(v2Files).isEmpty,
      s"unchanged files scanned: ${opened.intersect(v2Files)}")
    // a DV touch re-opens exactly that file: MoR delete of id=2
    Versioned.deleteWhere(spark, dir, col("id") === 2L) // v4
    val ch2 = Versioned.changes(spark, dir, 3L, 4L)
    assert(ch2.as[(Long, String, String)].collect().toSet == Set((2L, "b", "delete")))
    assert(ch2.inputFiles.map(_.split("/").takeRight(2).mkString("/")).toSet
      .subsetOf(v2Files), "only the DV-touched file should be opened")
  }
}
