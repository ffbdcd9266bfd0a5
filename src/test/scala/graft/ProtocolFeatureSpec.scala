package graft

import graft.table.Versioned
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The log's protocol stamp (Delta's protocol-action analog): commits
  * whose snapshot needs a non-base reader capability (deletion
  * vectors, columnar checkpoints, column mapping) record it as
  * `readerfeatures` in their entry; a reader that does not know a
  * stamped feature must refuse the table BY NAME on every path rather
  * than misread it — the failure mode this kills is a second
  * (older/foreign) reader resolving logical column names against
  * physical files on a mapped table and silently serving wrong data.
  */
class ProtocolFeatureSpec extends SparkSpec {

  import spark.implicits._

  private def entryJson(dir: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(dir, "_graft_log", f"v$v%08d.json")), StandardCharsets.UTF_8)

  private def inject(dir: String, v: Long, feature: String): Unit = {
    val p = Paths.get(dir, "_graft_log", f"v$v%08d.json")
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    Files.write(p, json.replaceFirst("\\{",
      s"""{"readerfeatures":["$feature"],""").getBytes(StandardCharsets.UTF_8))
  }

  test("plain tables carry no stamp and read unchanged") {
    val dir = tmpDir("proto_plain")
    Versioned.append(Seq((1, "a"), (2, "b")).toDF("id", "s"), dir)
    assert(!entryJson(dir, 1L).contains("readerfeatures"))
    assert(Versioned.read(spark, dir).count() == 2L)
  }

  test("a MoR delete stamps deletion-vectors; carried forward while DVs live") {
    val dir = tmpDir("proto_dv")
    Versioned.append((1 to 10).map(i => (i, s"r$i")).toDF("id", "s"), dir)
    Versioned.deleteWhere(spark, dir, col("id") === 3) // v2: writes DVs
    assert(entryJson(dir, 2L).contains("\"readerfeatures\":[\"deletion-vectors\"]"))
    Versioned.append(Seq((11, "x")).toDF("id", "s"), dir) // v3 carries the DVs
    assert(entryJson(dir, 3L).contains("deletion-vectors"))
  }

  test("a column-mapping commit stamps column-mapping") {
    val dir = tmpDir("proto_map")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    Versioned.renameColumn(spark, dir, "s", "label") // v2: mapped schema
    assert(entryJson(dir, 2L).contains("\"readerfeatures\":[\"column-mapping\"]"))
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "label"))
  }

  test("an unknown stamped feature fails every read path, naming the feature") {
    val dir = tmpDir("proto_unknown")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    Versioned.append(Seq((2, "b")).toDF("id", "s"), dir)
    inject(dir, 2L, "frobnicate")
    def refused(f: => Any): Unit = {
      val e = intercept[UnsupportedOperationException](f)
      assert(e.getMessage.contains("frobnicate"), e.getMessage)
    }
    refused(Versioned.read(spark, dir).count())
    refused(Versioned.readAt(spark, dir, 2L).count())
    refused(Versioned.changes(spark, dir, 1L, 2L).count())
    refused(Versioned.changesWithType(spark, dir, 1L, 2L).count())
    // writers must refuse too — a commit over a misread head corrupts
    refused(Versioned.append(Seq((3, "c")).toDF("id", "s"), dir))
    refused(Versioned.deleteWhere(spark, dir, col("id") === 1))
    // time travel BELOW the stamped entry still works: v1 is clean
    assert(Versioned.readAt(spark, dir, 1L).count() == 1L)
  }

  test("a known stamped feature is accepted") {
    val dir = tmpDir("proto_known")
    Versioned.append(Seq((1, "a")).toDF("id", "s"), dir)
    inject(dir, 1L, "deletion-vectors")
    assert(Versioned.read(spark, dir).count() == 1L)
  }
}
