package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-file row-count statistics — the `numRecords` half of the
  * Delta/Iceberg per-file stats story (zone maps are the min/max half,
  * [[ZoneMaps]]): a log sidecar `vNNNNNNNN.rows.json` records how many
  * rows each live data file holds, so `COUNT(*)` — and the planner's
  * row-count estimate — resolve from O(log) metadata instead of
  * opening data files. At 10⁶ files the difference is a handful of
  * log reads versus a million object-store GETs (even footer-only
  * aggregate pushdown pays one GET per file).
  *
  * Write discipline: counts are computed for FRESH files at commit
  * time (footer-cheap — see [[compute]]), kept files carry from the
  * resolved chain, and a carry gap (concurrent appenders racing)
  * self-heals by re-counting only the uncovered files. Small maps
  * (≤ [[FullCarryMax]]) publish the complete map per commit; past the
  * threshold commits publish O(batch) DELTAS with the complete map at
  * CheckpointInterval cadence — the log's own checkpoint shape, so a
  * 10⁶-file table never copies its whole count map per append
  * ([[Versioned.resolveRowCounts]] walks deltas to the nearest full).
  * Tables created before this feature existed adopt it via
  * `system.analyze` (one explicit O(snapshot) footer pass), not
  * silently — a legacy commit must not surprise-pay a table-sized
  * stat job.
  *
  * Counts are PHYSICAL rows per file: deletion vectors are not
  * subtracted here (their cardinality is log-known and applied by
  * [[Versioned.metaRowCountAt]]), and files absent from the sidecar
  * simply have unknown counts — like zones, "no stats" can only cost
  * metadata-answering, never correctness.
  */
private[graft] object RowStats {

  /** file → physical row count. */
  type Counts = Map[String, Long]

  /** Past this many files a count pass runs as a distributed job;
    * at or below it the driver reads the footers directly — a typical
    * commit adds a handful of files, and per-commit job-scheduling
    * overhead on every append would dominate the (tiny) footer reads.
    * Mutable only for tests to exercise the distributed branch at
    * fixture scale.
    */
  private[graft] var DriverFooterMax = 64

  /** Footers opened by [[compute]] (both branches) — the IO this
    * module exists to avoid on hot paths. Commit-time stats should
    * come free from the write job ([[WriteCounts]]); specs pin that by
    * asserting a zero delta here across an append.
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  /** Per-file row counts over `relFiles` (paths relative to `base`),
    * footer-cheap both ways: small batches read `parquet-hadoop`
    * footers on the driver (no Spark job on the commit hot path);
    * large sets (overwrite/rewrite/analyze of many files) group an
    * EMPTY projection by `input_file_name`, which makes the vectorized
    * reader emit batch row counts straight from footer metadata across
    * the cluster — no column pages are decoded either way. One result
    * entry per file of one write: log-sized.
    */
  def compute(
      spark: SparkSession, base: String, relFiles: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): Counts = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit}
    if (relFiles.isEmpty) return Map.empty
    footerReads.addAndGet(relFiles.size.toLong)
    if (relFiles.size <= DriverFooterMax) {
      val conf = spark.sessionState.newHadoopConf()
      relFiles.map { rel =>
        val p = new Path(Versioned.dataPathStr(base, rel))
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rel -> r.getRecordCount finally r.close()
      }.toMap
    } else {
      // path-keyed O(1) lookup: a linear `endsWith` scan per result
      // row would be O(n²) on the driver — ~10¹² comparisons at the
      // 10⁶-file ANALYZE this path exists for
      val nameOf = Versioned.scannedName(base, relFiles)
      val counted = Versioned.readFiles(spark, base, schema, relFiles)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val rel = nameOf(r.getString(0)).getOrElse(
            throw new IllegalStateException(
              s"row-count row for unknown file ${r.getString(0)}"))
          rel -> r.getLong(1)
        }.toMap
      // a zero-row parquet file contributes no group; without the
      // default its count would stay unknown forever (coverage never
      // completes, ANALYZE re-stats it every run without converging)
      relFiles.map(f => f -> counted.getOrElse(f, 0L)).toMap
    }
  }

  /** Entry-count threshold for the FULL-per-commit form: at or below
    * it every commit's sidecar carries the complete map (one read
    * resolves — today's small-table behavior); above it, commits write
    * DELTAS (only what they statted) and the complete map is published
    * every CheckpointInterval commits — the log's own checkpoint
    * discipline, keeping per-commit sidecar IO O(batch) instead of
    * O(snapshot) (a 10⁶-file table would otherwise copy ~60 MB of
    * counts on EVERY append). 1024 caps the full-copy form at ~64 KB
    * per commit while keeping one-read resolution for most tables;
    * the 10⁴-commit microbench (BASELINE.md) measured the build at
    * threshold 8192, so its per-commit cost upper-bounds this
    * config's. Mutable only for tests to exercise the delta chain at
    * fixture scale.
    */
  private[graft] var FullCarryMax: Int = 1024

  def sidecar(logDir: Path, v: Long): Path =
    new Path(logDir, f"v$v%08d.rows.json")

  /** Atomic publish of a version's sidecar (same tmp+rename shape as
    * the zone sidecar — readers only ever see complete files).
    */
  def publish(
      f: org.apache.hadoop.fs.FileSystem, logDir: Path, v: Long,
      counts: Counts, full: Boolean = true): Unit = {
    val tmp = new Path(logDir, s".v$v.rows.tmp")
    val out = f.create(tmp, true)
    try out.write(LogCodec.encodeRowStats(counts, full).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = sidecar(logDir, v)
    if (!f.rename(tmp, target)) {
      // a sidecar already present (re-analyze, racing carry): replace
      // it — a reader in the gap just falls back to scanning, never
      // reads wrong counts (files are immutable, entries only grow)
      if (!(f.exists(target) && f.delete(target, false) &&
          f.rename(tmp, target)))
        throw new IllegalStateException(s"row-stats publish for v$v failed")
    }
    val marker = new Path(logDir, ".rowstats")
    if (!f.exists(marker)) f.create(marker, true).close()
  }
}
