package graft.table

import org.apache.spark.sql.SparkSession

/** Per-file min/max stats for STRING columns — the half of the
  * Delta/Iceberg stats story the long-domain zone maps ([[ZoneMaps]])
  * cannot express. Strings are the most common filter key at corpus
  * scale (ids, categories, url/path prefixes), and without per-file
  * bounds every string predicate scans every file.
  *
  * Bounds are TRUNCATED to [[PrefixLen]] code points, Iceberg's
  * `truncate(16/32)` discipline, because a stat sidecar must stay
  * O(bytes-per-file) even when the column holds documents:
  *
  *  - `lo` = prefix(min): prefix truncation is monotone under the
  *    UTF-8/code-point order Spark sorts strings by, so `prefix(min)`
  *    ≤ every value — a valid lower bound. (The stat pass aggregates
  *    `min(substring(col, 1, PrefixLen))` — equal to
  *    `prefix(min(col))` by monotonicity — so only prefixes ever
  *    travel to the driver, never document-sized values.)
  *  - `hi` = increment(prefix(max)): the last code point of the
  *    truncated max is bumped (with carry) to the next valid
  *    code point, making it ≥ every value whose prefix it was. A
  *    prefix that cannot be incremented (all chars at the ceiling)
  *    yields an UNBOUNDED upper end — the file simply never prunes on
  *    upper comparisons. Values that fit whole keep EXACT bounds.
  *
  * Pruning is sound exactly like zones: a file is skipped only when
  * its bounds PROVE no value can satisfy the predicate; absent files
  * ("no stats") never skip; all-NULL files carry an empty-range
  * sentinel and skip every bounded probe (NULL never satisfies the
  * residual predicate every pruned read still applies). The sidecar
  * format is [[LogCodec.encodeStrZones]].
  */
object StrZones {

  /** Truncation length in CODE POINTS (Iceberg's truncate(32)). */
  val PrefixLen = 32

  /** Per-file bound for one column: lo is always present when any
    * non-NULL value exists; hi is None when the truncated max could
    * not be incremented (unbounded above). The `sentinel` form — an
    * all-NULL file — is encoded as (None, None, statted = true).
    */
  final case class Bound(file: String, lo: Option[String], hi: Option[String])

  type Bounds = Seq[Bound]

  /** prefix(s) in code points — never splits a surrogate pair. */
  def prefix(s: String): String = {
    if (s.codePointCount(0, s.length) <= PrefixLen) s
    else s.substring(0, s.offsetByCodePoints(0, PrefixLen))
  }

  /** Was `s` truncated by [[prefix]]? */
  def truncated(s: String): Boolean = s.codePointCount(0, s.length) > PrefixLen

  /** Code-point order — the order Spark itself sorts strings by
    * (UTF8String compares UTF-8 bytes, which IS code-point order).
    * Java's `String.compareTo` compares UTF-16 units instead, which
    * disagrees for supplementary characters (surrogates sort below
    * [E000, FFFF]) — using it here would prune WRONG files.
    */
  def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def cpLe(a: String, b: String): Boolean = cpCompare(a, b) <= 0

  /** The least string strictly greater than every string with prefix
    * `p`, in CODE-POINT order: bump the last code point to the next
    * valid one, carrying left past code points at the ceiling; None
    * when every position is at the ceiling (unbounded — cannot be
    * represented). Mirrors Iceberg's `UnicodeUtil.truncateStringMax`.
    */
  def increment(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val c = cps(i)
      // bump past the surrogate gap; an unpaired surrogate in the
      // input (possible in malformed data) is treated as
      // un-incrementable at its position — carry left, never produce
      // a bound whose order vs UTF-8 bytes is ill-defined
      val next =
        if (c == 0xD7FF) 0xE000
        else if (c >= 0xD800 && c <= 0xDFFF) -1
        else if (c >= 0x10FFFF) -1
        else c + 1
      if (next > 0) {
        return Some(new String(cps.take(i) :+ next, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Per-file bounds of each string column over `relFiles`, one
    * aggregate pass covering every column at once; only
    * [[PrefixLen]]+1-code-point prefixes travel to the driver. The +1
    * char lets the driver detect truncation (a 33-long prefix means
    * the true max extends past the kept 32) without shipping values.
    */
  def compute(
      spark: SparkSession, base: String, relFiles: Seq[String],
      colsRequested: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Map[String, Bounds] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min, substring}
    require(colsRequested.nonEmpty, "at least one string zone column")
    val cols = schema match {
      case Some(s) => colsRequested.filter(s.fieldNames.contains)
      case None => colsRequested
    }
    if (relFiles.isEmpty || cols.isEmpty)
      return colsRequested.map(_ -> Seq.empty[Bound]).toMap
    val scan = Versioned.readFiles(spark, base, schema, relFiles)
    // substring counts CHARACTERS (UTF-16 units in Spark) — over-fetch
    // by a few to survive surrogate pairs, then re-truncate by code
    // point on the driver
    val fetch = PrefixLen * 2 + 2
    val aggs = cols.flatMap(c => Seq(
      min(substring(col(c), 1, fetch)).as(s"lo_$c"),
      max(substring(col(c), 1, fetch)).as(s"hi_$c")))
    val nameOf = Versioned.scannedName(base, relFiles)
    val stats = scan
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per file of one write — log-sized
      .map { r =>
        val rel = nameOf(r.getString(0)).getOrElse(
          throw new IllegalStateException(
            s"string-zone row for unknown file ${r.getString(0)}"))
        rel -> r
      }
    cols.zipWithIndex.map { case (c, i) =>
      val lo = 1 + 2 * i
      val hi = lo + 1
      c -> stats.toSeq.sortBy(_._1).map { case (p, r) =>
        if (r.isNullAt(lo) || r.isNullAt(hi)) Bound(p, None, None) // all-NULL sentinel
        else {
          val loP = prefix(r.getString(lo))
          val hiRaw = r.getString(hi)
          val hiB =
            if (!truncated(hiRaw)) Some(hiRaw) // exact
            else increment(prefix(hiRaw))      // bumped prefix or unbounded
          Bound(p, Some(loP), hiB)
        }
      }
    }.toMap
  }

  /** The subset of `all` a string predicate must read. `qLo`/`qHi` are
    * the query's must-hold closed bounds (either side open = None);
    * equality is `qLo = qHi = Some(v)`. A file is skipped only when
    * provably disjoint: its upper bound below `qLo`, or its lower
    * bound above `qHi`, or it is an all-NULL sentinel (NULL never
    * satisfies the residual comparison). Files without stats never
    * skip.
    */
  def prune(
      all: Seq[String], bounds: Bounds,
      qLo: Option[String], qHi: Option[String]): Seq[String] = {
    val byFile = bounds.map(b => b.file -> b).toMap
    all.filter { file =>
      byFile.get(file) match {
        case None => true // never statted — can never be skipped
        case Some(Bound(_, None, _)) => false // all-NULL sentinel
        case Some(Bound(_, Some(lo), hi)) =>
          val aboveLo = qHi.forall(q => cpLe(lo, q))
          // hi = None means unbounded above: never prune on the lower
          // query bound
          val belowHi = qLo.forall(q => hi.forall(h => cpLe(q, h)))
          aboveLo && belowHi
      }
    }
  }

  /** The subset of `all` an `IS NOT NULL` scan must read: drop files
    * statted as all-NULL (lo = None) — no row in them can satisfy the
    * predicate. Unstatted files and files with any real value stay in.
    */
  def pruneNotNull(all: Seq[String], bounds: Bounds): Seq[String] = {
    val allNull = bounds.collect { case Bound(f, None, _) => f }.toSet
    all.filterNot(allNull.contains)
  }

  /** The subset of `all` an IN-list probe must read: the disjunctive
    * union of [[prune]] equality probes against ONE parsed bounds
    * block — a file survives when at least one point sits inside its
    * [lo, hi] (hi = None is unbounded above, the truncation-overflow
    * sentinel). All-NULL files skip for any point list, like [[prune]].
    */
  def pruneIn(
      all: Seq[String], bounds: Bounds, points: Seq[String]): Seq[String] = {
    if (points.isEmpty) return all
    val byFile = bounds.map(b => b.file -> b).toMap
    all.filter { file =>
      byFile.get(file) match {
        case None => true
        case Some(Bound(_, None, _)) => false
        case Some(Bound(_, Some(lo), hi)) =>
          points.exists(p => cpLe(lo, p) && hi.forall(h => cpLe(p, h)))
      }
    }
  }
}
