package graft

import java.nio.charset.StandardCharsets

import graft.table.{ColStats, StrZones, Versioned}
import graft.table.LogCodec._
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[LogCodec]] — the one JSON codec of the `_graft_log` formats: it
  * reads a log an earlier build wrote to the same table state, writes
  * an entry whose strings need no escaping byte-for-byte as that build
  * did, and round-trips any string, delimiters and non-BMP characters
  * included. Plus the file-name cases that ride on it: names whose URI
  * spelling differs from the name, and names that look like globs.
  */
class LogCodecSpec extends SparkSpec {

  import spark.implicits._

  test("a log written by the previous build reads to the same snapshots, history and sidecars") {
    val dir = LogFixture.copy(tmpDir("lc_fixture"))
    Versioned.clearFilesMemo()
    val got = LogFixture.facts(spark, dir)
    val want = LogFixture.expected()
    assert(got.map(_._1) == want.map(_._1))
    val diff = got.zip(want).collect { case ((k, g), (_, w)) if g != w => s"$k:\n  got  $g\n  want $w" }
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("every entry and sidecar of the previous build's log re-encodes to its exact bytes") {
    val log = new java.io.File(s"${LogFixture.Root}/table/_graft_log")
    val kinds = log.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(".json"))
      .map { f =>
        val s = new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        val n = f.getName
        val (kind, again) =
          if (n.endsWith(".ckpt.json")) "anchor" -> encodeAnchor(decodeAnchor(s))
          else if (n.endsWith(".szones.json")) "szones" -> encodeStrZones(decodeStrZones(s))
          else if (n.endsWith(".zones.json")) "zones" -> encodeZones(decodeZones(s))
          else if (n.endsWith(".rows.json")) "rows" -> {
            val (full, counts) = decodeRowStats(s); encodeRowStats(counts, full) }
          else if (n.endsWith(".bloom.json")) "bloom" -> encodeBloomPointer(decodeBloomPointer(s))
          else if (n.startsWith("dv-")) "dv" -> encodeDvs(decodeDvs(s))
          else if (n.startsWith("pin-")) "pin" -> encodePin(decodePin(s))
          else if (n == "colstats.json") "colstats" -> {
            val Some((v, stats)) = decodeColStats(s); encodeColStats(v, stats) }
          else "entry" -> encode(decode(s))
        assert(again == s, s"$n re-encodes differently")
        kind
      }.toSet
    assert(kinds == Set("anchor", "szones", "zones", "rows", "bloom", "dv", "pin",
      "colstats", "entry"))
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong)).get)

  // JSON delimiters, escapes, controls, non-ASCII and a non-BMP
  // character (a surrogate pair in UTF-16)
  private val str: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(",", "\"", "[", "]", "{", "}", "\\", ":", "/", " ", "\n", "\t",
      "\u0000", "\u001f", "\u00e9", "\u2028", "\ud83d\ude00", "\"dvs\":{"))).map(_.mkString)
  private val strs = Gen.listOf(str)
  private def mapOf[A](g: Gen[A]) = Gen.mapOf(Gen.zip(str, g))
  private val longs = Gen.listOf(Gen.choose(0L, Long.MaxValue))

  private val entryGen: Gen[LogEntry] = for {
    version <- Gen.choose(1L, Long.MaxValue)
    op <- str
    ts <- Gen.option(Gen.choose(0L, Long.MaxValue))
    schema <- Gen.option(str)
    actions <- Gen.oneOf(strs.map(FullList(_)), str.map(CkptRef(_)),
      Gen.zip(strs, strs).map { case (a, r) => Delta(a, r) })
    txns <- mapOf(Gen.choose(0L, Long.MaxValue))
    constraints <- mapOf(str)
    props <- mapOf(str)
    spill <- Gen.oneOf(true, false)
    dvs <- mapOf(longs.map(_.sorted))
    dvFile <- str
    pairKeys <- strs
    droppedPhys <- strs
    features <- strs
    clustered <- Gen.option(Gen.listOf(Gen.choose(0, 5000)).map(_.distinct.sorted))
    copyInto <- strs
  } yield LogEntry(version, op, ts, schema, actions, txns, constraints, props,
    if (spill) Map.empty else dvs.filter(_._2.nonEmpty), Option.when(spill)(dvFile),
    pairKeys, droppedPhys, features, clustered, copyInto)

  test("random entries round-trip through the codec and UTF-8, delimiters and non-BMP included") {
    samples(entryGen, 200).foreach { e =>
      val bytes = encode(e).getBytes(StandardCharsets.UTF_8)
      assert(decode(new String(bytes, StandardCharsets.UTF_8)) == e, s"entry $e")
    }
  }

  test("random sidecars round-trip through the codec") {
    samples(Gen.zip(str, strs, Gen.choose(-1L, 99L), mapOf(longs.map(_.sorted))), 100)
      .foreach { case (s, xs, n, dvs) =>
        assert(decodePin(encodePin(Pin(n, xs))) == Pin(n, xs))
        assert(decodeDvs(encodeDvs(dvs)) == dvs)
        assert(decodeAnchor(encodeAnchor(FullList(xs))) == FullList(xs))
        assert(decodeAnchor(encodeAnchor(CkptRef(s))) == CkptRef(s))
        val p = BloomPointer(xs, Seq(s), 0.01, n)
        assert(decodeBloomPointer(encodeBloomPointer(p)) == p)
        val zones = Seq(s -> xs.map(f => (f, n, n + 1)))
        assert(decodeZones(encodeZones(zones)) == zones)
        assert(decodeBucketZones(encodeBucketZones(3, zones)) == (3, zones))
        val bounds = Seq(s -> xs.map(f => StrZones.Bound(f, Some(s), None)))
        assert(decodeStrZones(encodeStrZones(bounds)) == bounds)
        val counts = xs.map(_ -> n).toMap
        assert(decodeRowStats(encodeRowStats(counts, full = false)) == (false, counts))
        val stats = xs.map(_ -> ColStats.Stat(n, 0L, Some(n), None, None, Some(2L),
          Some(1.5), Some(Seq(ColStats.Bin(0.5, 1.0, n))))).toMap
        assert(decodeColStats(encodeColStats(n, stats)).contains((n, stats)))
      }
  }

  /** Writes `rows` as one parquet file named `name` under the table root. */
  private def stage(dir: String, name: String, rows: Seq[(Long, String)]): String = {
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_stage-${java.util.UUID.randomUUID()}"
    rows.toDF("id", "s").coalesce(1).write.parquet(tmp)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    f.mkdirs(new org.apache.hadoop.fs.Path(dir, name).getParent)
    assert(f.rename(part, new org.apache.hadoop.fs.Path(dir, name)))
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    name
  }

  test("DVs, MERGE and the change feed key files whose URI spelling differs from their name") {
    val dir = tmpDir("lc_names")
    Versioned.append(Seq((1L, "base")).toDF("id", "s").coalesce(1), dir)        // v1
    val names = Seq("sales 2024", "p%q", "a#b", "q\"x", "a+b")
    val staged = names.zipWithIndex.map { case (n, i) =>
      stage(dir, s"ext/$n.parquet", Seq(0L, 100L, 200L, 300L).map(o => (10L + i + o, n)))
    }
    assert(Versioned.addFiles(spark, dir, staged) == 2L)
    Versioned.deleteWhere(spark, dir, col("id").between(10L, 14L))            // v3
    assert(Versioned.dvsAt(spark, dir, 3L).keySet == staged.map(Versioned.fileKey).toSet)
    assert(Versioned.read(spark, dir).count() == 16)
    Versioned.merge(spark, dir, (110L to 114L).map(i => (i, "upd")).toDF("id", "s"),
      Seq("id"))                                                                // v4
    assert(staged.forall(Versioned.filesAt(spark, dir, 4L).contains),
      "a sparse merge keeps the files and soft-deletes the changed rows")
    assert(Versioned.dvsAt(spark, dir, 4L).values.map(_.size).toSet == Set(2))
    Versioned.clearFilesMemo()
    val rows = Versioned.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "base")) ++
      names.zipWithIndex.flatMap { case (n, i) =>
        Seq((110L + i, "upd"), (210L + i, n), (310L + i, n)) })
    val feed = Versioned.changesWithType(spark, dir, 1L, 4L)
      .groupBy("_change_type", "_commit_version").count()
      .as[(String, Long, Long)].collect().toSet
    assert(feed == Set(("insert", 2L, 20L), ("delete", 3L, 5L),
      ("update_preimage", 4L, 5L), ("update_postimage", 4L, 5L)))
    // the stat builders and a copy-on-write DELETE find them too
    Versioned.writeZoneMaps(spark, dir, 4L, Seq("id", "s"))
    assert(Versioned.prunedFiles(spark, dir, 4L, "id", 314L, 314L) == Seq(staged.last))
    assert(Versioned.deleteWhere(spark, dir, col("id") === 210L).contains(5L))
    assert(!Versioned.filesAt(spark, dir, 5L).contains(staged.head))
    assert(Versioned.read(spark, dir).count() == 15)
  }

  test("committed names are read literally, never expanded as globs") {
    val dir = tmpDir("lc_glob")
    Versioned.append((1L to 3L).map(i => (i, "base")).toDF("id", "s").coalesce(1), dir)
    val q = stage(dir, "ext/a?b.parquet", (10L to 12L).map(i => (i, "q")))
    val x = stage(dir, "ext/axb.parquet", (20L to 22L).map(i => (i, "x")))
    val b = stage(dir, "ext/a[1].parquet", (30L to 32L).map(i => (i, "b")))
    assert(Versioned.addFiles(spark, dir, Seq(q, x, b)) == 2L)
    Versioned.clearFilesMemo()
    assert(Versioned.read(spark, dir).count() == 12)
    // the stat builders read each committed file alone too
    Versioned.analyzeTable(spark, dir)
    assert(Versioned.rowCountsAt(spark, dir, 2L).map(_.filter(_._1.startsWith("ext/")))
      .contains(Map(q -> 3L, x -> 3L, b -> 3L)))
    Versioned.writeZoneMaps(spark, dir, 2L, Seq("id", "s"))
    assert(Versioned.prunedFiles(spark, dir, 2L, "id", 10L, 12L) == Seq(q))
    assert(Versioned.strPrunedFiles(spark, dir, 2L, "s", Some("x"), Some("x")) == Seq(x))
    Versioned.buildBloom(spark, dir, Seq("id"))
    assert(Versioned.bloomPrunedFiles(spark, dir, 2L, "id", 21L) == Seq(x))
  }
}
