package graft.table

import org.apache.spark.sql.SparkSession

/** Shared per-file zone-map machinery: compute [lo, hi] column stats
  * for a file set and prune a file listing against a range predicate
  * (the sidecar format is [[LogCodec.encodeZones]]).
  *
  * Zone columns must be losslessly long-castable (integral types,
  * timestamps as epoch seconds) — one stats domain keeps the sidecar
  * format and the pruning comparison trivial and exact. Files ABSENT
  * from a column's zones (never statted) are never pruned: "no stats"
  * can only widen a scan, never lose rows. Files statted as all-NULL
  * carry an empty-range sentinel instead and ARE skipped on bounded
  * scans — exact, because NULL never satisfies the residual range
  * predicate that every zoned read applies.
  *
  * Both versioned tables ([[Versioned.writeZoneMaps]]) and bucketed
  * tables ([[Bucketed.writeZoneMaps]]) publish this format — the
  * data-skipping half of the Delta/Iceberg stats story (SURVEY.md §4).
  */
private[graft] object ZoneMaps {

  /** (file, lo, hi) triples for one zoned column. */
  type Zones = Seq[(String, Long, Long)]

  /** Per-file [lo, hi] of each column over `relFiles` (paths relative
    * to `base`), one footer-cheap aggregate pass covering every column
    * at once. Files where a column is all-null carry an EMPTY-range
    * sentinel (exact to skip on bounded scans; see below). Pass
    * `schema` to bind a table-level schema over the footers (files
    * written by a pre-widening batch then surface the zoned column as
    * NULL → sentinel, instead of failing column resolution); columns
    * absent even from the bound schema yield no stats for any file.
    */
  def compute(
      spark: SparkSession, base: String, relFiles: Seq[String],
      colsRequested: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      hive: Option[org.apache.spark.sql.types.StructField] = None): Map[String, Zones] = {
    import org.apache.spark.sql.functions.{coalesce, col, input_file_name, max, min, unix_date}
    require(colsRequested.nonEmpty, "at least one zone column")
    val cols = schema match {
      case Some(s) => colsRequested.filter(s.fieldNames.contains)
      case None => colsRequested
    }
    if (relFiles.isEmpty || cols.isEmpty)
      return colsRequested.map(_ -> Seq.empty[(String, Long, Long)]).toMap
    val scan0 = Versioned.readFiles(spark, base, schema, relFiles)
    // hive-converted files store the partition column in the PATH, not
    // the footer: stat the path-derived value (else every converted
    // file records the all-NULL sentinel and a zoned read on the
    // partition column would WRONGLY skip it)
    val scan = hive match {
      case Some(hf) if scan0.columns.contains(hf.name) =>
        scan0.withColumn(hf.name, coalesce(col(hf.name),
          Versioned.hivePathValue(hf.name, input_file_name(), hf.dataType)))
      case _ => scan0
    }
    // per-type long-domain stat expression: integral/timestamp via the
    // long cast (timestamps truncate to epoch SECONDS), dates as epoch
    // DAYS (Spark 4 refuses date→long casts), short decimals as their
    // UNSCALED value (×10^scale is exact decimal arithmetic within
    // precision ≤ 18, and the unscaled magnitude < 10^18 fits a long)
    def statCol(c: String): org.apache.spark.sql.Column =
      scan.schema.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DateType) =>
          unix_date(col(c)).cast("long")
        case Some(d: org.apache.spark.sql.types.DecimalType) =>
          (col(c) * scala.math.BigDecimal(10).pow(d.scale)).cast("long")
        case _ => col(c).cast("long")
      }
    val aggs = cols.flatMap(c =>
      Seq(min(statCol(c)).as(s"lo_$c"), max(statCol(c)).as(s"hi_$c")))
    val nameOf = Versioned.scannedName(base, relFiles)
    val stats = scan
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per file of one write — log-sized, not data-sized
      .map { r =>
        val rel = nameOf(r.getString(0)).getOrElse(
          throw new IllegalStateException(s"stats row for unknown file ${r.getString(0)}"))
        rel -> r
      }
    cols.zipWithIndex.map { case (c, i) =>
      val lo = 1 + 2 * i
      val hi = lo + 1
      c -> stats.toSeq
        .sortBy(_._1)
        .map { case (p, r) =>
          // statted-but-all-NULL: an EMPTY-range sentinel, not a
          // missing entry. Skipping such a file on any bounded range
          // scan is exact (NULL never satisfies the residual range
          // predicate), and recording it distinguishes "statted, no
          // values" from "never statted" — carry passes would
          // otherwise re-stat all-NULL files on every commit forever
          if (r.isNullAt(lo) || r.isNullAt(hi)) (p, Long.MaxValue, Long.MinValue)
          else (p, r.getLong(lo), r.getLong(hi))
        }
    }.toMap
  }

  /** The subset of `all` a `[lo, hi]` range scan must read: a file is
    * skipped only when its zone exists and provably misses the range.
    */
  def prune(all: Seq[String], zones: Zones, lo: Long, hi: Long): Seq[String] = {
    val byFile = zones.map(z => z._1 -> z).toMap
    all.filter { file =>
      byFile.get(file) match {
        case Some((_, zlo, zhi)) => zlo <= hi && lo <= zhi
        case None => true // file without stats can never be skipped
      }
    }
  }

  /** The subset of `all` an `IS NOT NULL` scan must read: drop files
    * statted as all-NULL (the EMPTY-range sentinel, zlo > zhi) — no
    * row in them can satisfy the predicate. Unstatted files and files
    * with any real value stay in.
    */
  def pruneNotNull(all: Seq[String], zones: Zones): Seq[String] = {
    val allNull = zones.collect { case (f, zlo, zhi) if zlo > zhi => f }.toSet
    all.filterNot(allNull.contains)
  }

  /** The subset of `all` an IN-list probe must read: the disjunctive
    * union of [[prune]] point probes against ONE parsed zone block — a
    * file is skipped only when its range provably misses EVERY point.
    * Sorting the points lets each file's verdict binary-search for the
    * first point ≥ its lo instead of scanning the list.
    */
  def pruneIn(all: Seq[String], zones: Zones, points: Seq[Long]): Seq[String] = {
    if (points.isEmpty) return all
    val sorted = points.distinct.sorted.toArray
    val byFile = zones.map(z => z._1 -> z).toMap
    all.filter { file =>
      byFile.get(file) match {
        case Some((_, zlo, zhi)) =>
          val i = {
            val p = java.util.Arrays.binarySearch(sorted, zlo)
            if (p >= 0) p else -(p + 1)
          }
          i < sorted.length && sorted(i) <= zhi
        case None => true
      }
    }
  }
}
