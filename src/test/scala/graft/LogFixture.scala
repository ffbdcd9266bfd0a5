package graft

import graft.table.Versioned
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The observable state of a versioned table, as `key -> value` text
  * lines: per retained version its operation, commit time, files,
  * schema, constraints, properties, txn watermarks, DVs, pairing keys,
  * retired physical names and rows; then history, pins, COPY INTO
  * registry, change feeds, row counts, column stats and every sidecar's
  * pruning answer. Computed over the checked-in log fixture
  * (`src/test/resources/log-fixture`), it pins that a log written by an
  * earlier build reads to the same state today.
  */
object LogFixture {

  /** Where the fixture lives, relative to the project root. */
  val Root = "src/test/resources/log-fixture"

  def facts(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def add(k: String, v: Any): Unit = out += (k -> (v match {
      case xs: Iterable[_] => xs.mkString(",")
      case x => String.valueOf(x)
    }))
    // row sets as count + digest of the sorted rows: exact, and small
    // enough to check in
    def rows(df: DataFrame): String = {
      val rs = df.collect().map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rs.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      s"${rs.length} rows ${md.digest().map("%02x".format(_)).mkString}"
    }
    def sorted[A](m: Map[String, A]): Seq[String] =
      m.toSeq.sortBy(_._1).map { case (k, a) => s"$k=$a" }
    def attempt(k: String)(v: => Any): Unit =
      add(k, try v catch { case e: Exception => s"error:${e.getClass.getSimpleName}" })
    val vs = Versioned.versions(spark, dir)
    val head = vs.last
    add("versions", vs)
    vs.foreach { v =>
      add(s"v$v.op", Versioned.opAt(spark, dir, v))
      add(s"v$v.ts", Versioned.commitTimestampAt(spark, dir, v))
      add(s"v$v.files", Versioned.filesAt(spark, dir, v))
      add(s"v$v.schema", Versioned.schemaAt(spark, dir, v).map(_.json).getOrElse(""))
      add(s"v$v.constraints", sorted(Versioned.constraintsAt(spark, dir, v)))
      add(s"v$v.props", sorted(Versioned.propertiesAt(spark, dir, v)))
      add(s"v$v.txns", sorted(Versioned.txnsAt(spark, dir, v)))
      add(s"v$v.dvs", sorted(Versioned.dvsAt(spark, dir, v).map {
        case (f, is) => f -> is.mkString(" ") }))
      add(s"v$v.pairkeys", Versioned.pairKeysAt(spark, dir, v))
      add(s"v$v.droppedphys", Versioned.droppedPhysAt(spark, dir, v).toSeq.sorted)
      add(s"v$v.clustered", Versioned.clusteredKeysAt(spark, dir, v).toSeq.sorted)
      add(s"v$v.rows", rows(Versioned.readAt(spark, dir, v)))
    }
    add("history", rows(Versioned.history(spark, dir)))
    add("detail", rows(Versioned.detail(spark, dir)))
    add("pins", Versioned.listPins(spark, dir))
    add("copyinto", Versioned.copyIntoLoaded(spark, dir).toSeq.sorted)
    Seq((3L, 6L), (6L, 9L), (8L, head), (vs.head, head)).foreach { case (a, b) =>
      attempt(s"changesWithType($a,$b)")(rows(Versioned.changesWithType(spark, dir, a, b)))
      attempt(s"changes($a,$b)")(rows(Versioned.changes(spark, dir, a, b)))
    }
    attempt("streamBatch(8,9)")(rows(Versioned.streamBatch(spark, dir, 8, 9)))
    add("rowcounts", Versioned.rowCountsAt(spark, dir, head).map(sorted).getOrElse(Nil))
    add("colstats", Versioned.colStatsAt(spark, dir, head).map(sorted).getOrElse(Nil))
    add("skipping", Versioned.skippingColumnsAt(spark, dir, head).sorted)
    add("zones.id", Versioned.prunedFiles(spark, dir, head, "id", 2500L, 2600L).sorted)
    add("zones.id.in", Versioned.prunedFilesIn(spark, dir, head, "id", Seq(5000L, 7005L)).sorted)
    add("notnull.label", Versioned.notNullPrunedFiles(spark, dir, head, "label").sorted)
    add("szones.label", Versioned.strPrunedFiles(
      spark, dir, head, "label", Some("new"), Some("new")).sorted)
    add("bloom.id", Versioned.bloomPrunedFiles(spark, dir, head, "id", 5000L).sorted)
    out.result()
  }

  /** The checked-in table copied to a fresh directory (hidden marker
    * files included), so a spec reads it without touching the fixture.
    */
  def copy(to: String): String = {
    val src = java.nio.file.Paths.get(Root, "table")
    val dst = java.nio.file.Paths.get(to, "table")
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    dst.toString
  }

  def expected(): Seq[(String, String)] =
    scala.io.Source.fromFile(s"$Root/facts.tsv", "UTF-8").getLines()
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toSeq
}
