package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level per-column statistics for the cost-based optimizer —
  * the `ANALYZE TABLE ... FOR COLUMNS` half of the stats story (the
  * per-FILE half is ZoneMaps/RowStats, which serve data SKIPPING; this
  * serves ESTIMATION): distinct counts, null counts, min/max, and
  * string lengths, published once per explicit ANALYZE and reported
  * through the DSv2 scan's `Statistics.columnStats()`, where Spark's
  * `transformV2Stats` turns them into catalyst `ColumnStat`s and — with
  * `spark.sql.cbo.enabled` — the join-reorder/estimation machinery
  * consumes them. At 100 TB the join ORDER is the plan: a 3-way join
  * that builds the small intermediate first is the difference between
  * a broadcast chain and a cluster-wide spill.
  *
  * One distributed aggregation pass computes every requested column at
  * once: `approx_count_distinct` (Spark's HLL++, the same sketch
  * Spark's own ANALYZE uses), `count` (nulls by subtraction), min/max
  * in the column's CATALYST domain (integral/date as long, timestamps
  * as epoch MICROS — exact here, unlike the zone sidecar's truncated
  * seconds, because estimation wants the true endpoints), and
  * avg/max byte lengths for strings.
  *
  * Staleness contract (Spark/Hive's own): stats describe the snapshot
  * that was ANALYZEd and keep serving until the next ANALYZE; a scan
  * of an OLDER snapshot (time travel below the analyzed version) gets
  * none — estimates of data that did not exist yet would be wrong in
  * the misleading direction. Storage: ONE small JSON under the log dir
  * (`colstats.json`, tmp+rename like every sidecar), read once per
  * scan build.
  */
object ColStats {

  /** One equi-height histogram bin: value range (double domain, the
    * same domain catalyst's `HistogramBin` uses) and the approximate
    * distinct count inside it.
    */
  final case class Bin(lo: Double, hi: Double, ndv: Long)

  /** One column's published statistics. `min`/`max` are in the long
    * stat domain of [[longDomain]] types; None for strings/unsupported.
    * `hist` is the equi-height histogram (what Spark's own ANALYZE
    * builds under `spark.sql.statistics.histogram.enabled`): each bin
    * holds `histHeight` non-null rows, so a point/range predicate's
    * selectivity reads off the bins instead of assuming uniformity
    * between min and max — the difference between n/ndv and the truth
    * on a Zipfian key.
    */
  final case class Stat(
      ndv: Long, nulls: Long,
      min: Option[Long], max: Option[Long],
      avgLen: Option[Long], maxLen: Option[Long],
      histHeight: Option[Double] = None,
      hist: Option[Seq[Bin]] = None)

  /** Types whose min/max round-trip the long domain exactly. */
  def longDomain(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType => true
    case d: DecimalType if d.precision <= 18 => true
    case _ => false
  }

  /** The catalyst-facing value for a stored long under `dt` — what
    * `ColumnStatistics.min()/max()` must surface for Spark's
    * estimation arithmetic to read it in the column's own domain.
    */
  def catalystOf(x: Long, dt: DataType): Any = dt match {
    case ByteType => x.toByte
    case ShortType => x.toShort
    case IntegerType | DateType => x.toInt
    case LongType | TimestampType => x
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(BigDecimal(BigInt(x), d.scale),
        d.precision, d.scale)
    case other => throw new IllegalStateException(
      s"unreachable: $other passed longDomain")
  }

  /** One aggregation pass over `df` for `cols` (must exist in the
    * frame) plus two histogram passes ([[computeHistograms]]).
    * Timestamps stat as epoch micros, decimals as unscaled.
    */
  def compute(
      df: DataFrame, cols: Seq[String],
      numBins: Int = 254): Map[String, Stat] = {
    val schema = df.schema
    val aggs = cols.flatMap { c =>
      val dt = schema(schema.fieldIndex(c)).dataType
      val longCast: Option[String => org.apache.spark.sql.Column] = dt match {
        case TimestampType => Some(n => unix_micros(col(n)))
        // a bare CAST(date AS BIGINT) is illegal — epoch days is the
        // stat domain catalystOf reconstructs from
        case DateType => Some(n => unix_date(col(n)).cast("long"))
        case d: DecimalType if d.precision <= 18 =>
          Some(n => (col(n) * lit(BigDecimal(10).pow(d.scale))).cast("long"))
        case t if longDomain(t) => Some(n => col(n).cast("long"))
        case _ => None
      }
      Seq(
        approx_count_distinct(col(c)).as(s"__ndv_$c"),
        count(col(c)).as(s"__cnt_$c")) ++
        longCast.toSeq.flatMap(f => Seq(
          min(f(c)).as(s"__min_$c"), max(f(c)).as(s"__max_$c"))) ++
        (if (dt == StringType) Seq(
          avg(length(col(c))).as(s"__avglen_$c"),
          max(length(col(c))).as(s"__maxlen_$c"))
         else Nil)
    } :+ count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def get(n: String): Option[Long] =
      if (!row.schema.fieldNames.contains(n) || row.isNullAt(row.fieldIndex(n)))
        None
      else Some(row.getAs[Any](n) match {
        case l: Long => l
        case i: Int => i.toLong
        case d: Double => d.toLong
        case d: java.math.BigDecimal => d.longValue
        case o => o.toString.toLong
      })
    val n = row.getAs[Long]("__n")
    val hists = computeHistograms(df, cols, numBins)
    cols.map { c =>
      val cnt = get(s"__cnt_$c").getOrElse(0L)
      val hist = hists.get(c).filter(_ => cnt > 0)
      c -> Stat(
        ndv = get(s"__ndv_$c").getOrElse(0L),
        nulls = n - cnt,
        min = get(s"__min_$c"), max = get(s"__max_$c"),
        avgLen = get(s"__avglen_$c"), maxLen = get(s"__maxlen_$c"),
        histHeight = hist.map(_ => cnt.toDouble / numBins),
        hist = hist)
    }.toMap
  }

  /** Equi-height histograms for the [[longDomain]] subset of `cols` —
    * the exact construction Spark's own `ANALYZE TABLE` runs under
    * `spark.sql.statistics.histogram.enabled`, in two distributed
    * passes over `df`: (1) ONE aggregation computing every column's
    * `numBins+1` approximate percentiles (bin endpoints — equi-height
    * means equal ROW counts per bin, so heavy hitters collapse several
    * endpoints onto one value and a point predicate on them reads its
    * true mass off the repeated bins); (2) ONE aggregation computing
    * per-bin NDVs with Spark's `ApproxCountDistinctForIntervals` (an
    * HLL++ per interval, the same aggregate Spark's ANALYZE uses).
    * Columns with no non-null rows, and non-long-domain types, get no
    * histogram.
    */
  /** The double-domain projection of a column for histogram bins —
    * MUST agree with what catalyst's estimation reads off the SERVED
    * `ColumnStat` values (`EstimationUtils.toDouble` of the catalyst
    * min/max): dates in epoch DAYS, timestamps in epoch MICROS (not
    * the seconds a bare double cast gives), decimals at their actual
    * numeric value (not unscaled), integrals as themselves. A bare
    * `CAST(x AS DOUBLE)` is also simply illegal for DATE.
    */
  private def histDomain(
      c: String, dt: DataType): Option[org.apache.spark.sql.Column] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(col(c).cast("double"))
      case DateType => Some(unix_date(col(c)).cast("double"))
      case TimestampType => Some(unix_micros(col(c)).cast("double"))
      case d: DecimalType if d.precision <= 18 => Some(col(c).cast("double"))
      case _ => None
    }

  def computeHistograms(
      df: DataFrame, cols: Seq[String],
      numBins: Int): Map[String, Seq[Bin]] = {
    import org.apache.spark.sql.graft.Bridge
    val schema = df.schema
    val domains: Map[String, org.apache.spark.sql.Column] = cols.flatMap(c =>
      histDomain(c, schema(schema.fieldIndex(c)).dataType).map(c -> _)).toMap
    val histCols = cols.filter(domains.contains)
    if (histCols.isEmpty || numBins < 1) return Map.empty
    val qs = (0 to numBins).map(i => i.toDouble / numBins).toArray
    val pAggs = histCols.map(c => percentile_approx(
      domains(c), lit(qs),
      lit(org.apache.spark.sql.catalyst.expressions.aggregate
        .ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY))
      .as(s"__ep_$c"))
    val pRow = df.agg(pAggs.head, pAggs.tail: _*).head()
    val endpoints: Map[String, Array[Double]] = histCols.flatMap { c =>
      val i = pRow.fieldIndex(s"__ep_$c")
      if (pRow.isNullAt(i)) None
      else Some(c -> pRow.getSeq[Double](i).toArray)
    }.toMap
    if (endpoints.isEmpty) return Map.empty
    val live = histCols.filter(endpoints.contains)
    val nAggs = live.map { c =>
      Bridge.column(
        org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproxCountDistinctForIntervals(
            Bridge.expression(domains(c)),
            Bridge.expression(lit(endpoints(c))),
            0.05, 0, 0)
          .toAggregateExpression()).as(s"__ndvs_$c")
    }
    val nRow = df.agg(nAggs.head, nAggs.tail: _*).head()
    live.map { c =>
      val eps = endpoints(c)
      val ndvs = nRow.getSeq[Long](nRow.fieldIndex(s"__ndvs_$c"))
      c -> eps.sliding(2).zip(ndvs.iterator).map { case (Array(lo, hi), d) =>
        Bin(lo, hi, d)
      }.toSeq
    }.toMap
  }

  private def path(dir: String) = new Path(s"$dir/_graft_log/colstats.json")

  def write(
      spark: SparkSession, dir: String, v: Long,
      stats: Map[String, Stat]): Unit = {
    val f = path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = LogCodec.encodeColStats(v, stats)
    val tmp = new Path(s"$dir/_graft_log/.colstats.tmp")
    val out = f.create(tmp, true)
    out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    f.delete(path(dir), false)
    require(f.rename(tmp, path(dir)),
      s"colstats sidecar publish failed at $dir")
  }

  /** (analyzed version, per-column stats), or None if never analyzed. */
  def read(spark: SparkSession, dir: String): Option[(Long, Map[String, Stat])] = {
    val f = path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(path(dir))) return None
    val in = f.open(path(dir))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    LogCodec.decodeColStats(body)
  }
}
