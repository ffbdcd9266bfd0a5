package graft.table

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.table.LogCodec.{CkptRef, Delta, FullList, LogEntry}

/** Log-backed versioned table: the Delta-transaction-log analog the
  * plain `Table` layer (write-temp + rename) deliberately omits.
  *
  * Layout:
  * {{{
  *   <dir>/_graft_log/v00000001.json   // checkpoint: full data-file list
  *   <dir>/_graft_log/v00000002.json   // delta: add/remove file actions
  *   <dir>/d-<uuid>/part-*.parquet     // immutable data-file sets
  * }}}
  *
  * Every commit writes a NEW data directory (files are never mutated or
  * renamed) and then publishes the next log entry via an atomic
  * temp-file rename. Entries carry INCREMENTAL file actions —
  * `"add"`/`"remove"` deltas against the predecessor — so commit
  * metadata costs O(files touched), not O(table file count): a 100 TB
  * table with a million live files pays a few hundred bytes per
  * append, not tens of megabytes. Every [[CheckpointInterval]]-th
  * version (and the first, and any commit whose file order a delta
  * replay cannot reproduce) is a CHECKPOINT entry carrying the full
  * reconstructed list, bounding read-side resolution: [[filesAt]]
  * reads the nearest checkpoint plus the delta suffix — at most
  * `CheckpointInterval` small files, never a log replay from v1
  * (Delta's `_last_checkpoint` + actions design). Readers resolve the
  * file list from the log, never from directory listing — which is
  * what makes this the scale shape: at 100 TB a recursive listing of
  * millions of data files is the slowest part of query planning, while
  * the log read is a bounded handful of small files. It also yields
  *
  *  - snapshot isolation: a reader planning against version N keeps a
  *    consistent file set however many commits land meanwhile;
  *  - time travel: `readAt(v)` reproduces any retained version —
  *    including pre-overwrite data, since overwrite only publishes a
  *    snapshot that stops referencing old files, it deletes nothing;
  *  - crash safety: data files written by a failed commit are invisible
  *    (no snapshot references them) and are swept by `vacuum`.
  *
  * Concurrency: commits are OPTIMISTIC. Every committer computes the
  * next version from the log head and publishes through an atomic
  * create-if-absent ([[publishOnce]]); losing a race raises
  * [[CommitRace]]. `append`/`overwrite` (and their idempotent forms)
  * retry automatically from the new head — their file sets are
  * independent of the snapshot they started from, so the retry is
  * sound. Commits that REWRITE data they read (compact, delete,
  * update) are pinned to the version they read and fail loudly on
  * conflict instead, exactly Delta's conflict rules. The publish
  * primitive is truly atomic on local filesystems (hard-link CAS) and
  * on HDFS-likes (rename refuses existing destinations); object-store
  * connectors without atomic namespace ops still need a lock service
  * or conditional-put in front of the log, as Delta needs on S3.
  *
  * Reference sites being emulated: Delta's `VERSION AS OF` /
  * `deltaTable.vacuum()` that the reference's storage format provides
  * implicitly (`01_bronze_csv_to_delta.py:49-56` writes, `02:394-398`
  * reads).
  *
  * == Why no hive-style `partitionBy` (a deliberate position) ==
  *
  * This engine's data-skipping story is CLUSTERING + ZONE MAPS
  * ([[optimizeClusterBy]] lays files out range-clustered;
  * [[writeZoneMaps]] publishes per-file [lo, hi] stats; [[readWhere]]
  * prunes from the log alone), not write-time partition directories.
  * That is a considered trade, the same one Databricks made when it
  * shipped liquid clustering as the successor to hive partitioning:
  *
  *  - Partition columns are a WRITE-TIME, hard-to-change contract: a
  *    wrong cardinality choice either explodes the file count (high-
  *    cardinality keys → millions of tiny files, the #1 operational
  *    failure of partitioned lakes at 100 TB) or prunes nothing
  *    (low-cardinality keys). Clustering is re-runnable maintenance —
  *    [[optimizeClusterBy]] can change the layout without rewriting
  *    the table contract or breaking readers.
  *  - Zone maps subsume partition pruning's read-side benefit: a
  *    range predicate consults O(log-sized) per-file stats instead of
  *    directory names, and works for EVERY long-castable column at
  *    once (multi-dimensional via [[compactClustered]]'s Z-order
  *    layout), not just the declared partition columns.
  *  - Partitioning's one residual advantage — dropping a whole
  *    partition as a metadata-only operation — is served here by
  *    [[deleteWhere]] with a `zoneHint`: clustered layouts make the
  *    matched-file set exactly the "partition", and the delete
  *    commit touches only those files.
  *
  * Streams and buckets cover the remaining classical uses: ingestion
  * time-bucketing falls out of append-per-batch file sets (the log IS
  * the time index — [[readAsOf]], [[changes]]), and join co-location
  * is `graft.table.Bucketed`'s hash layout.
  *
  * The one classical use the stance does NOT cover is MIGRATION: a
  * pre-existing date-partitioned lake should not need a 100 TB
  * rewrite to adopt the log. [[convert]] therefore registers a
  * single-level hive layout (`col=val/part.parquet`) IN PLACE — the
  * partition column is marked in the committed schema
  * ([[HivePartKey]]) and reads inject its value from the file path
  * (see the hive-layout section below), zone maps stat path values so
  * the partition column prunes like any zoned column, and every NEW
  * file the engine writes materializes the column into the data —
  * the table migrates toward the clustered layout one rewrite at a
  * time, with OPTIMIZE completing it in one step. The engine never
  * WRITES hive layout; the stance above is why.
  */
object Versioned {

  private val LogDir = "_graft_log"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(dir: String) = new Path(dir, LogDir)

  /** Canonical file identity: the last two path segments. Unique by
    * construction — both our `d-<uuid>/` dirs and Spark part-file
    * names embed UUIDs — and STABLE across the three spellings a file
    * has: the log's table-relative name, an absolute path (how a
    * shallow [[cloneTable]] references its source's files), and the
    * URI a scan reports via `input_file_name()`/`_metadata.file_path`.
    * Every DV-map lookup and file/version attribution keys on this,
    * never on the raw spelling.
    */
  def fileKey(path: String): String =
    path.split("/").takeRight(2).mkString("/")

  /** A log-recorded data-file name resolved to a readable path:
    * table-relative names live under the table root; absolute names
    * (shallow-cloned source files) pass through untouched. Public for
    * the DSv2 bridge, which builds its own file index from the log's
    * names.
    */
  def dataPathStr(dir: String, f: String): String =
    if (f.startsWith("/") || f.contains("://")) f else s"$dir/$f"

  private def dataPath(dir: String, f: String): Path =
    new Path(dataPathStr(dir, f))

  private def versionFile(dir: String, v: Long) =
    new Path(logPath(dir), f"v$v%08d.json")

  /** Checkpoint sidecar holding version `v`'s full file list — written
    * by [[vacuum]] before truncating the delta chain below `v`, so the
    * oldest retained version stays resolvable without its ancestors.
    */
  private def ckptFile(dir: String, v: Long) =
    new Path(logPath(dir), f"v$v%08d.ckpt.json")

  /** Every Nth version commits a checkpoint entry (full file list)
    * instead of an add/remove delta, bounding both the walk-back depth
    * of [[filesAt]] and how much log [[vacuum]] must retain.
    */
  private[graft] val CheckpointInterval = 16L

  /** All committed versions, ascending; empty for a non-table. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(logPath(dir))) Seq.empty
    else f.listStatus(logPath(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** Driver-side log/sidecar READ counter (monotone, process-wide) —
    * a test seam: specs snapshot it around a call to pin how many log
    * entries an operation opens (e.g. the wide-window CDF contract:
    * O(1) reads per in-window commit, not O(checkpoint-interval)).
    * Not part of any correctness path.
    */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reads a small log/sidecar file fully as UTF-8. */
  private def readFully(spark: SparkSession, dir: String, p: Path): String = {
    logReads.incrementAndGet()
    val in = fs(spark, dir).open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Max rewrite-commit diff branches a change-feed plan carries before
    * chunk-folding through a localCheckpoint barrier (see
    * [[changesWithType]]). Var only as a test seam — specs lower it to
    * drive the chunked path at fixture scale.
    */
  @volatile private[graft] var CdfRewriteChunk: Int = 32

  /** Ceiling (optimizer size estimate, bytes) under which MERGE's
    * touched-file discovery broadcasts the source's distinct key set.
    * Micro-batch upserts — the common merge shape — sit far below it
    * and keep the zero-shuffle probe; a backfill/initial-load MERGE
    * whose key set exceeds it must NOT be forced into a driver
    * broadcast (Spark's 8 GB broadcast-relation ceiling, driver OOM at
    * 100 TB) and instead runs the discovery joins as ordinary shuffle
    * semi/anti-joins — Delta's `findTouchedFiles` shape. Var only as a
    * test seam.
    */
  @volatile private[graft] var MergeKeyBroadcastMaxBytes: Long = 256L << 20

  /** Test seams: how many merges hinted the key-set broadcast vs fell
    * back to a shuffle join (the size gate's observable decision).
    */
  private[graft] val mergeKeyBroadcasts = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val mergeKeyShuffles = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reader features THIS build understands. A log entry stamped with
    * a feature outside this set was written by a newer (or different)
    * writer whose format this build cannot interpret safely — every
    * read path refuses it by name ([[entryAt]]) rather than
    * silently misreading (Delta's protocol-action contract).
    */
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("deletion-vectors", "columnar-checkpoint", "column-mapping")

  /** The decoded log entry of version `v`. A caller needing several
    * facts of one version reads its entry once and takes them all.
    */
  private def entryAt(spark: SparkSession, dir: String, v: Long): LogEntry = {
    val p = versionFile(dir, v)
    require(fs(spark, dir).exists(p),
      s"version $v does not exist (vacuumed or never committed) at $dir")
    val e = LogCodec.decode(readFully(spark, dir, p))
    // the one choke point every log-entry read passes through — scans,
    // time travel, CDF, commits (which read the head), vacuum: all of
    // them must refuse a feature they cannot interpret, because all of
    // them would corrupt or misread the table by guessing
    val unknown = e.readerFeatures.filterNot(SupportedReaderFeatures)
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"table at $dir (log entry v$v) requires reader feature(s) " +
          s"${unknown.mkString("[", ", ", "]")} that this build does not " +
          s"support (supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
          "upgrade the reader instead of bypassing this check")
    e
  }

  /** The head version with its decoded entry; None for a non-table. */
  private def headEntry(spark: SparkSession, dir: String): Option[(Long, LogEntry)] =
    currentVersion(spark, dir).map(v => v -> entryAt(spark, dir, v))

  /** Data files (table-relative paths) of snapshot `v`, resolved from
    * the nearest checkpoint at or below `v` plus the delta suffix —
    * at most [[CheckpointInterval]] log reads. Fails loudly when the
    * chain is broken (log truncated below the nearest checkpoint with
    * no `.ckpt.json` sidecar), never returns a partial list.
    */
  def filesAt(spark: SparkSession, dir: String, v: Long): Seq[String] =
    resolveFiles(spark, dir, v, None)

  /** Walk back from `v` to the nearest full file list (a checkpoint
    * entry, a legacy full-list entry, or a vacuum-written `.ckpt.json`
    * sidecar), then replay the add/remove deltas forward. `head`
    * lets callers that already read `v`'s entry skip one log read.
    *
    * A concurrent vacuum can truncate ancestors mid-walk AFTER this
    * walker checked for (and missed) the not-yet-published checkpoint
    * sidecar — vacuum publishes the sidecar before deleting, so as
    * long as `v` itself is still retained, a fresh walk resolves from
    * the sidecar. Hence the guarded retry: rethrow only when `v`'s own
    * entry is gone (genuinely outside the retained window).
    */
  /** Bounded driver-side memo of RESOLVED file lists, keyed (dir, v).
    * Safe because a committed version's file list is IMMUTABLE — the
    * log is append-only and vacuum only truncates whole entries (the
    * sidecar it publishes holds the same list this memo would). The
    * one way a key could go stale is a table DELETED and RE-CREATED at
    * the same path, so every hit re-validates against the version
    * file's (length, mtime) — one metadata op, no log read, no
    * sidecar scan. Four entries cover the hot pattern (a writer's
    * head + a reader's pinned snapshot) without holding many
    * multi-million-file lists on the driver.
    *
    * Why it exists: sequential commits re-resolve the predecessor's
    * list each time; past CkptInlineMax files that resolution reads
    * the checkpoint's columnar sidecar — a vectorized scan per
    * commit. Measured at 10⁴ commits × 10⁴ files (BASELINE.md
    * "Commit-count scale"): that re-read dominated the 325 ms/commit
    * average. The commit path PRIMES this memo with the list it just
    * published, making a commit stream's resolution O(delta).
    */
  private final case class FilesMemoEntry(
      len: Long, mtime: Long, files: Seq[String])
  private val FilesMemoMax = 4
  private val filesMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, FilesMemoEntry](8, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[String, FilesMemoEntry]): Boolean =
        size() > FilesMemoMax
    })

  private def memoKey(dir: String, v: Long): String = s"$dir@$v"

  /** Test seam: drops every memoized file list so a spec can pin the
    * COLD resolution path (e.g. the loud refusal on a truncated chain
    * — a warm driver would serve the memoized, still-correct list).
    */
  private[graft] def clearFilesMemo(): Unit = filesMemo.clear()

  private[graft] def primeFilesMemo(
      spark: SparkSession, dir: String, v: Long, files: Seq[String]): Unit =
    try {
      val st = fs(spark, dir).getFileStatus(versionFile(dir, v))
      filesMemo.put(memoKey(dir, v),
        FilesMemoEntry(st.getLen, st.getModificationTime, files))
      ()
    } catch { case _: java.io.IOException => () }

  private def resolveFiles(
      spark: SparkSession, dir: String, v: Long,
      head: Option[LogEntry]): Seq[String] = {
    val key = memoKey(dir, v)
    val st =
      try Some(fs(spark, dir).getFileStatus(versionFile(dir, v)))
      catch { case _: java.io.IOException => None }
    st.foreach { s =>
      val hit = filesMemo.get(key)
      if (hit != null && hit.len == s.getLen &&
          hit.mtime == s.getModificationTime)
        return hit.files
    }
    var attempt = 0
    while (true) {
      try {
        val out = resolveFilesOnce(
          spark, dir, v, if (attempt == 0) head else None)
        st.foreach(s => filesMemo.put(key,
          FilesMemoEntry(s.getLen, s.getModificationTime, out)))
        return out
      } catch {
        case _: Exception
            if attempt < 2 && fs(spark, dir).exists(versionFile(dir, v)) =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def resolveFilesOnce(
      spark: SparkSession, dir: String, v: Long,
      head: Option[LogEntry]): Seq[String] = {
    val f = fs(spark, dir)
    var deltas = List.empty[Delta]
    var cur = v
    var e = head.getOrElse(entryAt(spark, dir, cur))
    while (true) {
      e.actions match {
        case d: Delta =>
          // a vacuum-written sidecar holds cur's POST-commit state, so
          // cur's own delta is already folded in — check before pushing
          val ck = ckptFile(dir, cur)
          if (f.exists(ck))
            return replayDeltas(
              fullListOf(spark, dir,
                LogCodec.decodeAnchor(readFully(spark, dir, ck))).getOrElse(
                // published sidecars are complete by construction
                // (unique temps + atomic rename), so malformed means
                // corruption — loud, never a silently partial list
                throw new IllegalStateException(
                  s"checkpoint sidecar for v$cur at $dir is malformed — " +
                    "refusing to serve a partial file list")), deltas)
          deltas = d :: deltas
          cur -= 1
          require(cur >= 1 && f.exists(versionFile(dir, cur)),
            s"cannot resolve the file list of v$v at $dir: the log is " +
              s"truncated below v${cur + 1} with no checkpoint — the version " +
              "is outside the vacuum-retained window")
          e = entryAt(spark, dir, cur)
        case full => return replayDeltas(fullListOf(spark, dir, full).get, deltas)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Applies add/remove deltas (oldest first) to a base file list:
    * removed files drop (order of survivors preserved), added files
    * append — exactly how every commit path builds its new list.
    */
  private def replayDeltas(base: Seq[String], deltas: List[Delta]): Seq[String] =
    deltas.foldLeft(base) { (acc, d) =>
      val gone = d.remove.toSet
      acc.filterNot(gone) ++ d.add
    }

  /** Latest snapshot scan. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir")))

  /** The schema snapshot `v` committed; None for a pre-schema log
    * entry.
    */
  def schemaAt(spark: SparkSession, dir: String, v: Long):
      Option[org.apache.spark.sql.types.StructType] =
    schemaOf(entryAt(spark, dir, v))

  /** [[schemaAt]] over an already-read log entry. */
  private def schemaOf(e: LogEntry): Option[org.apache.spark.sql.types.StructType] =
    e.schema.map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Time-travel scan of snapshot `v` (Delta `VERSION AS OF v`). The
    * scan applies the schema the snapshot COMMITTED, not what the file
    * footers happen to agree on: after a mergeSchema append (schema
    * evolution), files written before the widening lack the new
    * columns and surface NULL there — the Delta/Iceberg read contract.
    * An empty snapshot still binds its schema for the same reason:
    * zero part files must not mean zero columns.
    */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val e = entryAt(spark, dir, v)
    readFileSubset(spark, dir, schemaOf(e),
      resolveFiles(spark, dir, v, Some(e)), dvsOf(spark, dir, e))
  }

  /** Reads a SUBSET of a snapshot's files under its committed schema,
    * with the snapshot's DVs restricted to that subset — the one
    * derivation behind [[readAt]], [[changes]]' per-side scan, and
    * [[addedSinceValidated]]. An empty subset yields an empty frame
    * that still carries the committed schema.
    */
  private def readFileSubset(
      spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String], dvs: Map[String, Seq[Long]]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.getOrElse(new org.apache.spark.sql.types.StructType()))
    else {
      val keys = files.map(fileKey).toSet
      applyDvs(spark, readRaw(spark, dir, schema, files),
        dvs.filter { case (f, _) => keys.contains(fileKey(f)) })
    }

  /** Deterministic admission order over snapshot `v`'s files — the
    * committed file list sorted by name. A committed version's list is
    * IMMUTABLE (append-only log; vacuum truncates whole entries), so a
    * streaming offset recorded as an INDEX into this order replays the
    * identical slice across checkpoint restarts. This is the
    * initial-snapshot chunking base for the source's
    * `maxFilesPerTrigger`/`maxBytesPerTrigger` (Delta's
    * `DeltaSourceOffset(reservoirVersion, index)` shape).
    */
  def snapshotFileOrder(spark: SparkSession, dir: String, v: Long): Seq[String] =
    filesAt(spark, dir, v).sorted

  /** Reads files `[fromIdx, untilIdx)` of [[snapshotFileOrder]] under
    * the snapshot's committed schema, with its DVs restricted to the
    * slice — one initial-snapshot micro-batch of the streaming source
    * under file/byte admission control. At 100 TB the unchunked first
    * batch IS the whole table; slicing by index keeps each micro-batch
    * at the operator's configured appetite while the union of slices
    * reproduces [[readAt]] exactly (disjoint cover of the same list,
    * same DV subtraction).
    */
  def readSnapshotSlice(
      spark: SparkSession, dir: String, v: Long,
      fromIdx: Long, untilIdx: Long): DataFrame = {
    val e = entryAt(spark, dir, v)
    val files = resolveFiles(spark, dir, v, Some(e)).sorted
      .slice(math.toIntExact(fromIdx), math.toIntExact(untilIdx))
    readFileSubset(spark, dir, schemaOf(e), files, dvsOf(spark, dir, e))
  }

  /** Per-file sizes aligned with [[snapshotFileOrder]] — the
    * `maxBytesPerTrigger` boundary input. The probe is DISTRIBUTED
    * (executors stat partitions of the list; a snapshot at 100 TB holds
    * ~10⁶ files and a driver-side HEAD loop would serialize stream
    * start) and runs ONCE per source instance: committed files are
    * immutable, so sizes never need re-probing. Chunk BOUNDARIES chosen
    * from these sizes need no cross-restart determinism — only the file
    * ORDER does (offsets carry indices, and each restart re-chunks
    * forward from the last committed index).
    */
  def snapshotFileSizes(spark: SparkSession, dir: String, v: Long): Seq[Long] = {
    val files = snapshotFileOrder(spark, dir, v)
    if (files.isEmpty) return Nil
    val conf = new org.apache.spark.sql.graft.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val dirStr = dir
    spark.sparkContext
      .parallelize(files.zipWithIndex, math.max(1, math.min(files.size, 64)))
      .mapPartitions { it =>
        val f = new Path(dirStr).getFileSystem(conf.value)
        it.map { case (rel, i) =>
          (i, f.getFileStatus(new Path(dataPathStr(dirStr, rel))).getLen)
        }
      }.collect().sortBy(_._1).map(_._2).toSeq
  }

  // ---- column mapping (Delta's columnMapping analog) -------------------
  //
  // A committed schema field may carry metadata key `graft.physical`:
  // the name the column is stored under inside data files. RENAME
  // COLUMN is then a log-sized commit (the logical name changes, the
  // physical stays the original forever), DROP COLUMN just removes the
  // field (readers never select the physical column again), and
  // re-adding a previously-dropped name assigns a fresh unique physical
  // (tracked via the commit-carried `droppedphys` set) so old files'
  // stale values can never resurface as the new column. Tables that
  // were never renamed have physical == logical everywhere and pay
  // nothing on any path. OPTIMIZE/compact rewrite the whole snapshot
  // under logical names, materializing renames away.

  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  /** True iff any field of `s` maps to a different physical name. */
  def hasColumnMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physicalName(f) != f.name)

  /** The file-side schema: fields under their physical names,
    * metadata stripped (so downstream aliases stay metadata-free).
    */
  private[graft] def physicalSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(physicalName(f), f.dataType, f.nullable)))

  /** logical → physical for one column; identity when unmapped. */
  private def physicalOf(
      schema: Option[org.apache.spark.sql.types.StructType], c: String): String =
    schema.flatMap(_.fields.find(_.name == c)).map(physicalName).getOrElse(c)

  /** A logical-named frame projected under `schema`'s physical names —
    * what every data-file WRITE against a mapped snapshot must pass
    * through (files always store physical names).
    */
  private def toPhysicalFrame(
      df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.filter(hasColumnMapping) match {
      case Some(s) =>
        import org.apache.spark.sql.functions.col
        val m = s.fields.map(f => f.name -> physicalName(f)).toMap
        df.select(df.columns.toSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
      case None => df
    }

  // ---- hive-layout migration bridge (path-valued partition column) ----
  //
  // A table CONVERTed from a single-level hive-partitioned directory
  // (`<col>=<val>/part-*.parquet`) keeps its files IN PLACE — zero
  // bytes copied, the directory contract external readers rely on
  // intact. Those files do not physically store the partition column;
  // its value lives in the path. The committed schema marks the field
  // with metadata key [[HivePartKey]], and [[readRaw]] injects the
  // value as `coalesce(stored, parsed-from-file-path)` — ONE scan
  // relation, so `_metadata` row positions (DVs), merge's touched-file
  // discovery, and the CDF diff all work unchanged. Files the engine
  // writes later (appends, merge/update/delete rewrites, OPTIMIZE)
  // land in `d-*` dirs with the column MATERIALIZED in the data, so a
  // converted table migrates toward the engine's zone-mapped layout
  // one rewrite at a time; `coalesce` prefers the stored value and the
  // path parse yields NULL outside `<col>=` dirs, so mixed snapshots
  // compose exactly. Pruning on the partition column is the normal
  // zone-map story — [[writeZoneMaps]] stats path values too (see
  // `ZoneMaps.compute`'s `hive` parameter), so CONVERT + one stat-only
  // sidecar gives partition pruning with zero rewrites.

  private[graft] val HivePartKey = "graft.hivepart"

  private[graft] def hiveFieldOf(
      s: Option[org.apache.spark.sql.types.StructType]):
      Option[org.apache.spark.sql.types.StructField] =
    s.flatMap(_.fields.find(_.metadata.contains(HivePartKey)))

  /** True iff the schema carries a hive-converted partition column
    * (whose values some files resolve from their paths) — such
    * snapshots need the injecting scan, not a bare parquet read.
    */
  def hasHivePartition(s: org.apache.spark.sql.types.StructType): Boolean =
    hiveFieldOf(Some(s)).isDefined

  /** The partition value a file path implies for hive column `name`:
    * parses `/<name>=<val>/`, decodes hive's percent-escapes, maps the
    * `__HIVE_DEFAULT_PARTITION__` sentinel (and paths with no such
    * segment — every engine-written `d-*` file) to NULL, and casts to
    * the column's committed type.
    */
  private[graft] def hivePathValue(
      name: String, fileCol: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, regexp_extract, url_decode, when}
    val raw = regexp_extract(
      fileCol, "/" + java.util.regex.Pattern.quote(name) + "=([^/]+)/", 1)
    when(raw === "" || raw === "__HIVE_DEFAULT_PARTITION__", lit(null))
      .otherwise(url_decode(raw))
      .cast(dt)
  }

  /** Injects the hive partition column over a scan of `files` (stored
    * value first, path value where the file predates conversion).
    * `fileCol` must resolve against `df` — `_metadata.file_path` on
    * snapshot scans, `input_file_name()` on plain reads.
    */
  private def injectHive(
      df: DataFrame, f: org.apache.spark.sql.types.StructField,
      fileCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val path = hivePathValue(f.name, fileCol, f.dataType)
    if (df.columns.contains(f.name))
      df.withColumn(f.name, coalesce(col(f.name), path))
    else df.withColumn(f.name, path)
  }

  /** A parquet scan of exactly the committed files `files` (names
    * relative to `base`): names are read literally, never expanded as
    * globs, so `a?b.parquet` or `a[1].parquet` reads that one file.
    * Glob metacharacters are escaped rather than globbing switched off:
    * with `DataSource.GLOB_PATHS_KEY` false, Spark 4.1 lists every path
    * of the read once more for each name that holds a metacharacter.
    */
  private[graft] def readFiles(
      spark: SparkSession, base: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame =
    schema.map(spark.read.schema).getOrElse(spark.read).parquet(files.map(f =>
      dataPathStr(base, f).flatMap(c =>
        if ("{}[]*?\\".indexOf(c) >= 0) s"\\$c" else c.toString)): _*)

  /** Maps the file URI a scan over `relFiles` reports for a row
    * (`input_file_name()`, `_metadata.file_path` — percent-encoded) back
    * to the committed name; None for a file outside `relFiles`.
    */
  private[graft] def scannedName(
      base: String, relFiles: Seq[String]): String => Option[String] = {
    val byPath = relFiles.map(rel => new Path(dataPathStr(base, rel)).toUri.getPath -> rel).toMap
    uri => byPath.get(new Path(new java.net.URI(uri)).toUri.getPath)
  }

  /** The [[fileKey]] of the file a scan row came from, for a scan over
    * (at least) `files`. `_metadata.file_path` and `input_file_name()`
    * report a file's URI, which percent-encodes a space, `"`, `#` and
    * `%` but not `+` — so SQL `url_decode`, which also turns `+` into a
    * space, cannot undo it. The URI's last two segments map back to the
    * committed keys through a literal map, built only when some name in
    * `files` is spelled differently in its URI.
    */
  private def scanFileKey(
      path: org.apache.spark.sql.Column, files: Iterable[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, substring_index, typedLit}
    val rel = substring_index(path, "/", -2)
    val respelled = files.iterator.map(fileKey)
      .map(k => fileKey(new Path(k).toUri.getRawPath) -> k)
      .filter { case (uri, k) => uri != k }.toMap
    if (respelled.isEmpty) rel
    else { val uriToKey = typedLit(respelled); coalesce(uriToKey(rel), rel) }
  }

  private def readRaw(
      spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame = {
    val base = schema match {
      case Some(s) if hasColumnMapping(s) =>
        // read under the PHYSICAL names the files store, then project
        // back to the logical names everything downstream uses. The
        // projection is name-only, so `_metadata` (row positions, file
        // paths) still resolves through it for the DV and discovery scans
        import org.apache.spark.sql.functions.col
        readFiles(spark, dir, Some(physicalSchema(s)), files)
          .select(s.fields.toSeq.map(f => col(physicalName(f)).as(f.name)): _*)
      case _ => readFiles(spark, dir, schema, files)
    }
    hiveFieldOf(schema) match {
      case Some(hf) =>
        // `_metadata` stays resolvable through this projection (same
        // propagation the mapped branch above relies on), so DV
        // application downstream is unaffected
        import org.apache.spark.sql.functions.col
        injectHive(base, hf, col("_metadata.file_path"))
      case None => base
    }
  }

  /** Subtracts a snapshot's deletion vectors from a raw file scan.
    * `_metadata.row_index` is the parquet reader's physical row
    * position — stable for immutable files, which ours are by
    * construction — and `_metadata.file_path` names the file. Up to
    * [[DvFilterMax]] positions the DVs are a filter on those two
    * columns, evaluated in the scan's own stage; past it, an anti-join
    * of (file, row position) against the broadcast DV set, which keeps
    * the plan small but costs a broadcast job per read (a 10k-row
    * table with 45 soft-deleted rows read in 198 ms through the
    * anti-join, 152 ms through the filter and 137 ms with no DVs,
    * `local[4]`). No DVs → the scan passes through untouched.
    */
  private def applyDvs(
      spark: SparkSession, df: DataFrame, dvs: Map[String, Seq[Long]]): DataFrame = {
    if (dvs.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col, concat_ws}
    import spark.implicits._
    val rel = scanFileKey(col("_metadata.file_path"), dvs.keys)
    val idx = col("_metadata.row_index")
    if (dvs.valuesIterator.map(_.size.toLong).sum <= DvFilterMax)
      // two flat hash-set probes: the file first, so rows of files
      // without DVs never build the (file, position) key
      return df.filter(!(rel.isin(dvs.keys.map(fileKey).toSeq: _*) &&
        concat_ws("#", rel, idx.cast("string")).isin(dvs.toSeq
          .flatMap { case (f, idxs) => idxs.map(i => s"${fileKey(f)}#$i") }: _*)))
    val dvDf = dvs.toSeq
      .flatMap { case (f, idxs) => idxs.map(i => (fileKey(f), i)) }
      .toDF("__dv_rel", "__dv_idx")
    val cols = df.columns.toSeq
    df
      .withColumn("__dv_rel", rel)
      .withColumn("__dv_idx", idx)
      .join(broadcast(dvDf), Seq("__dv_rel", "__dv_idx"), "left_anti")
      .select(cols.map(col): _*)
  }

  /** Deletion-vector positions up to which [[applyDvs]] filters instead
    * of joining: each position is one literal of the read's plan.
    */
  private val DvFilterMax = 4096L

  /** Max file-list entries inlined as JSON in a checkpoint entry (or
    * vacuum anchor sidecar); larger lists spill to a COLUMNAR parquet
    * sidecar the entry references. At 10⁶ files an inline checkpoint
    * is tens of MB of single-line JSON parsed per snapshot
    * resolution; the parquet form reads back with one vectorized
    * scan. Var (not val) only as a test seam — specs lower
    * it to force the columnar path at fixture scale.
    */
  @volatile private[graft] var CkptInlineMax: Int = 4096

  /** Writes `files` (order-preserving) as a columnar checkpoint sidecar
    * under the log dir and returns its name. Written BEFORE the
    * referencing entry publishes, like DV sidecars — a referenced
    * checkpoint always exists; orphans from failed commits are swept by
    * vacuum age-guarded.
    */
  private def writeCkptSidecar(
      spark: SparkSession, dir: String, files: Seq[String]): String = {
    import spark.implicits._
    val name = s"ckpt-${UUID.randomUUID().toString}.parquet"
    val tmpSub = s".$name.tmpdir"
    val f = fs(spark, dir)
    files.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("pos", "path")
      .coalesce(1).write.parquet(new Path(logPath(dir), tmpSub).toString)
    val part = f.listStatus(new Path(logPath(dir), tmpSub)).toSeq
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint sidecar write produced no parquet part under $tmpSub"))
    if (!f.rename(part, new Path(logPath(dir), name)))
      throw new IllegalStateException(s"checkpoint sidecar publish failed for $name")
    f.delete(new Path(logPath(dir), tmpSub), true)
    name
  }

  /** One vectorized scan of a columnar checkpoint sidecar, restoring
    * the committed file order via the explicit position column.
    */
  private def readCkptSidecar(
      spark: SparkSession, dir: String, name: String): Seq[String] =
    spark.read.parquet(new Path(logPath(dir), name).toString)
      .orderBy("pos").select("path")
      .collect().toSeq.map(_.getString(0))

  /** The full file list an entry (or anchor sidecar) carries — inline
    * or via its columnar checkpoint reference; None for a delta entry.
    * The one resolution point every full-list reader goes through, so
    * mixed-format logs (inline legacy + columnar new) read uniformly.
    */
  private def fullListOf(
      spark: SparkSession, dir: String, a: LogCodec.Actions): Option[Seq[String]] =
    a match {
      case FullList(files) => Some(files)
      case CkptRef(name) => Some(readCkptSidecar(spark, dir, name))
      case _: Delta => None
    }

  /** The operation that produced snapshot `v` (append, overwrite,
    * merge, delete, update, replacewhere, restore, set-constraint,
    * drop-constraint, optimize, compact-small — the last two are the
    * row-preserving maintenance class that [[windowShape]]
    * distinguishes from content changes). Logs written by earlier
    * builds may also hold delete-mor and update-mor, their
    * merge-on-read DELETE and UPDATE.
    */
  def opAt(spark: SparkSession, dir: String, v: Long): String =
    entryAt(spark, dir, v).op

  /** Wall-clock commit time of snapshot `v` (epoch millis,
    * nondecreasing in version order). Pre-ts log entries fall back to
    * the log file's modification time.
    */
  def commitTimestampAt(spark: SparkSession, dir: String, v: Long): Long =
    entryAt(spark, dir, v).ts.getOrElse(
      fs(spark, dir).getFileStatus(versionFile(dir, v)).getModificationTime)

  /** Commit history, oldest first — the DESCRIBE HISTORY analog: one
    * row per retained version with its operation, wall-clock commit
    * time, and referenced-file count. Log-sized: ONE log-file read per
    * version — file counts come from a single forward replay of the
    * add/remove actions (the oldest retained version anchors via
    * [[resolveFiles]], which a vacuum-written checkpoint sidecar
    * serves when the chain below it is truncated).
    */
  def history(spark: SparkSession, dir: String): DataFrame =
    historyWindow(spark, dir, Int.MaxValue)

  /** Newest-`limit` commit history (Delta's `history(limit)`): the
    * monitoring shape — "the last 10 commits of a year-old streaming
    * table" must not pay one log read per retained version. Reads the
    * `limit` window's entries plus ONE anchored resolution at its
    * oldest version ([[resolveFiles]]: nearest checkpoint + delta
    * suffix), so the cost is O(limit + CheckpointInterval) log reads
    * on a 10⁵-commit table, not O(10⁵). Rows are oldest-first within
    * the window, same ordering contract as the unbounded form.
    */
  def history(spark: SparkSession, dir: String, limit: Int): DataFrame = {
    require(limit >= 1, s"history limit must be positive: $limit")
    historyWindow(spark, dir, limit)
  }

  private def historyWindow(
      spark: SparkSession, dir: String, limit: Int): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, dir)
    val window = if (limit >= vs.size) vs else vs.takeRight(limit)
    var running: Seq[String] = Seq.empty
    window.zipWithIndex.map { case (v, i) =>
      val e = entryAt(spark, dir, v)
      running = e.actions match {
        case _ if i == 0 => resolveFiles(spark, dir, v, Some(e))
        case d: Delta => replayDeltas(running, List(d))
        case full => fullListOf(spark, dir, full).get
      }
      (v, e.op,
        e.ts.getOrElse(
          fs(spark, dir).getFileStatus(versionFile(dir, v)).getModificationTime),
        running.size.toLong)
    }.toDF("version", "op", "commit_ts", "n_files")
  }

  /** Table-level summary of the CURRENT snapshot (the DESCRIBE DETAIL
    * analog): head version, commit time, file count, total data bytes,
    * live soft-deleted positions, and the names of registered
    * constraints. One log read plus one metadata stat per referenced
    * file — no data opens.
    */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val e = entryAt(spark, dir, v)
    val files = resolveFiles(spark, dir, v, Some(e))
    val f = fs(spark, dir)
    val bytes = files.map(rel => f.getFileStatus(dataPath(dir, rel)).getLen).sum
    Seq((
      v,
      e.ts.getOrElse(
        f.getFileStatus(versionFile(dir, v)).getModificationTime),
      files.size.toLong,
      bytes,
      dvsOf(spark, dir, e).values.map(_.size.toLong).sum,
      // logical row count from the stats sidecar (DVs subtracted);
      // NULL on legacy/uncovered snapshots — never a scan from here
      metaRowCountAt(spark, dir, v),
      e.constraints.keys.toSeq.sorted,
      // declared layouts (Delta's partitionColumns/clusteringColumns
      // analog): CLUSTER BY columns and the hash-bucket spec
      clusterByAt(spark, dir, v).mkString(","),
      bucketSpecAt(spark, dir, v)
        .map { case (cols, n) => s"${cols.mkString(",")},$n" }.getOrElse("")
    )).toDF("version", "commit_ts", "n_files", "size_bytes",
      "n_soft_deleted", "num_rows", "constraints", "clustering", "bucket_spec")
  }

  /** Time travel by wall clock (Delta `TIMESTAMP AS OF`): reads the
    * newest snapshot committed at or before `tsMillis`. Fails loudly
    * when every retained version is newer (the requested instant
    * precedes the table, or vacuum dropped it).
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readAt(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** The newest version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` / `endingTimestamp` resolution rule. Fails
    * loudly when every retained version is newer.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val vs = versions(spark, dir).toIndexedSeq
    require(vs.nonEmpty, s"no committed versions at $dir")
    // commit timestamps are NONDECREASING in version order (the commit
    // path clamps each to its predecessor — the very invariant this
    // resolution depends on), so BINARY search: O(log N) log reads
    // where a linear filter paid one read per retained version — the
    // difference between 14 and 10,000 reads on a streamed bronze tier.
    // LEGACY GUARD: entries predating the 'ts' field resolve via file
    // mtime, which copies/restores can clobber non-monotonically. The
    // field has been written on every commit since it existed, so if
    // the OLDEST retained entry carries it the whole probed chain does;
    // otherwise fall back to the linear scan the bisection replaced
    // (same answer on any ordering: max version at-or-before).
    if (entryAt(spark, dir, vs.head).ts.isEmpty)
      return vs.filter(v => commitTimestampAt(spark, dir, v) <= tsMillis)
        .maxOption.getOrElse(throw new IllegalArgumentException(
          s"no version committed at or before $tsMillis at $dir — the oldest " +
            s"retained commit is ${commitTimestampAt(spark, dir, vs.head)}"))
    var lo = 0; var hi = vs.size - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTimestampAt(spark, dir, vs(mid)) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans >= 0) vs(ans)
    else throw new IllegalArgumentException(
      s"no version committed at or before $tsMillis at $dir — the oldest " +
        s"retained commit is ${commitTimestampAt(spark, dir, vs.head)}")
  }

  /** The OLDEST version committed at or after `tsMillis` — Delta's
    * `startingTimestamp` rule for change feeds (start at the first
    * commit inside the requested window). Fails loudly when every
    * retained version is older (nothing has happened since the
    * instant — Delta errors here too rather than silently serving an
    * empty feed forever).
    */
  def versionSince(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val vs = versions(spark, dir).toIndexedSeq
    require(vs.nonEmpty, s"no committed versions at $dir")
    // binary search over the nondecreasing commit timestamps, mirror of
    // [[versionAsOf]] — including its legacy-table linear fallback
    // (pre-'ts' entries resolve via clobber-able file mtimes)
    if (entryAt(spark, dir, vs.head).ts.isEmpty)
      return vs.filter(v => commitTimestampAt(spark, dir, v) >= tsMillis)
        .minOption.getOrElse(throw new IllegalArgumentException(
          s"no version committed at or after $tsMillis at $dir — the newest " +
            s"commit is ${commitTimestampAt(spark, dir, vs.last)}"))
    var lo = 0; var hi = vs.size - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTimestampAt(spark, dir, vs(mid)) >= tsMillis) { ans = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    if (ans >= 0) vs(ans)
    else throw new IllegalArgumentException(
      s"no version committed at or after $tsMillis at $dir — the newest " +
        s"commit is ${commitTimestampAt(spark, dir, vs.last)}")
  }

  /** Option-surface timestamp parsing: epoch millis, ISO instant
    * (`2026-08-14T12:00:00Z`), `yyyy-MM-dd[ HH:mm:ss[.S]]` (UTC — the
    * engine's session convention), matching the forms Delta's
    * timestamp options accept.
    */
  def parseTimestampMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: Exception =>
        try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        catch {
          case _: Exception =>
            java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC)
              .toInstant.toEpochMilli
        }
    }
  }

  /** Named CHECK constraints in force at snapshot `v` (constraint name
    * → SQL boolean expression), carried through every commit like txn
    * watermarks. SQL CHECK semantics: a row violates only when the
    * expression is strictly FALSE — NULL passes (unlike
    * [[graft.ops.Quality.Rule]], whose pipeline gates treat
    * unevaluable as dirty; a table constraint is the storage contract,
    * so it matches `ALTER TABLE ADD CONSTRAINT` exactly).
    */
  def constraintsAt(spark: SparkSession, dir: String, v: Long): Map[String, String] =
    entryAt(spark, dir, v).constraints

  private def headConstraints(spark: SparkSession, dir: String): Map[String, String] =
    currentVersion(spark, dir).map(constraintsAt(spark, dir, _)).getOrElse(Map.empty)

  /** Table properties carried by snapshot `v` — Delta's TBLPROPERTIES
    * analog: free-form key→value metadata committed to the log
    * ([[setProperties]]/[[unsetProperties]]) and carried through every
    * subsequent commit like constraints and txn watermarks, so time
    * travel shows each snapshot's own property set. Engine-recognized
    * keys override per-table behavior (the Delta
    * `delta.checkpointInterval`-style contract):
    *
    *  - `graft.checkpointInterval` — full-list (checkpoint) entry
    *    cadence for THIS table's commits (default [[CheckpointInterval]]);
    *  - `graft.mergeKeyBroadcastMaxBytes` — this table's MERGE
    *    touched-file-discovery broadcast gate (default
    *    [[MergeKeyBroadcastMaxBytes]]);
    *  - `graft.vacuum.retainHours` — the `VACUUM t` DDL's default
    *    retention when no RETAIN clause is given (default 168);
    *  - `graft.autoOptimize.autoCompact` (+ `.interval`, `.smallBytes`)
    *    — opportunistic post-append bin-packing every `interval`
    *    commits ([[maybeAutoCompact]]).
    */
  def propertiesAt(spark: SparkSession, dir: String, v: Long): Map[String, String] =
    entryAt(spark, dir, v).props

  /** This table's checkpoint cadence: the `graft.checkpointInterval`
    * property when set (and valid), else the engine default. Read from
    * the predecessor's already-parsed entry — no extra log read on the
    * commit path.
    */
  private def ckptIntervalOf(props: Map[String, String]): Long =
    props.get("graft.checkpointInterval")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0)
      .getOrElse(CheckpointInterval)

  /** Property-key prefix declaring a GENERATED column (Delta's
    * `GENERATED ALWAYS AS (expr)` analog): `graft.generated.<col>` =
    * the generation expression SQL over the table's OTHER columns.
    * [[setProperties]] validates the declaration (column exists, the
    * expression resolves without the column itself — no
    * self-reference — and the current snapshot already satisfies it);
    * [[append]]/COPY INTO COMPUTE the column when a batch omits it;
    * every write path VALIDATES supplied values against the expression
    * (null-safe equality, an implicit CHECK) — a merge or update whose
    * output would break the generation contract refuses loudly instead
    * of silently storing drift. `CREATE TABLE (… GENERATED ALWAYS AS
    * (expr))` through GraftCatalog lands here; `UNSET TBLPROPERTIES`
    * removes the contract.
    */
  val GeneratedPrefix = "graft.generated."

  /** Declared clustering keys (the liquid-clustering analog of
    * `CREATE TABLE ... CLUSTER BY (a, b)`): a comma-joined column list
    * carried as an ordinary table property. Declaring keys changes NO
    * data — it records the layout contract that bare `OPTIMIZE t`
    * maintains INCREMENTALLY ([[zorderIncremental]]: only files not
    * yet in the clustered generation rewrite, O(unclustered tail) per
    * run — the property is why OPTIMIZE on a 100 TB table stays a
    * nightly maintenance job instead of a full rewrite). Validated at
    * declaration: 1–4 existing zone-stat-typed columns, the same rule
    * the incremental clusterer enforces. `ALTER TABLE t CLUSTER BY
    * NONE` (property unset) drops the contract; explicit
    * `OPTIMIZE ... ZORDER BY` on a declared table refuses — one
    * layout authority at a time, Databricks' own rule.
    */
  val ClusterByKey = "graft.clusterBy"

  /** The declared clustering keys of snapshot `v` (empty: none). */
  def clusterByAt(spark: SparkSession, dir: String, v: Long): Seq[String] =
    propertiesAt(spark, dir, v).get(ClusterByKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Hash-bucket layout declaration (`"<col>,<numBuckets>"`) — the
    * storage-partitioned-join contract: every append/overwrite under
    * the declaration routes rows to files by
    * `pmod(murmur3(col, 42), n)` (Spark's own HashPartitioning
    * assignment, shared with [[GraftBucketFunction]]), the file name
    * carries its bucket id (`….gbNNNNN.parquet`), and the DSv2 scan of
    * a fully-tagged snapshot reports `KeyGroupedPartitioning` so a
    * join of two tables bucketed by the same key type and count plans
    * with ZERO shuffle on either side. Declared via CREATE TABLE
    * `PARTITIONED BY (bucket(n, col))` or SET TBLPROPERTIES; validated
    * at declaration ([[setProperties]]). Row-rewriting maintenance
    * (merge/compact/z-order) emits untagged files, which soundly
    * DISABLES the partitioning report until [[rebucket]] re-tags.
    */
  val BucketByKey = "graft.bucketBy"

  /** The declared bucket layout of snapshot `v`: (columns, numBuckets).
    * Multi-column keys hash with Spark's multi-expression murmur3 fold
    * (the `HashPartitioning([c1, c2], n)` assignment), so a composite
    * join key co-partitions exactly like a single one.
    */
  def bucketSpecAt(
      spark: SparkSession, dir: String, v: Long): Option[(Seq[String], Int)] =
    propertiesAt(spark, dir, v).get(BucketByKey).flatMap(parseBucketSpec)

  private[graft] def parseBucketSpec(s: String): Option[(Seq[String], Int)] = {
    val parts = s.split(",").map(_.trim)
    if (parts.length < 2) None
    else {
      val cols = parts.init.toSeq
      parts.last.toIntOption match {
        case Some(n) if n > 0 && cols.forall(_.nonEmpty) => Some((cols, n))
        case _ => None
      }
    }
  }

  private val BucketTag = raw".*\.gb(\d{5})\.parquet".r

  /** The bucket id a data file's name carries, if the file was written
    * by the bucketed path. Tag rides the NAME (not the log) so carries,
    * clones, and checkpoints preserve it for free.
    */
  def bucketOfFile(rel: String): Option[Int] = rel match {
    case BucketTag(b) => Some(b.toInt)
    case _ => None
  }

  /** The generated-column declarations of snapshot `v`: column →
    * generation expression SQL.
    */
  def generatedAt(spark: SparkSession, dir: String, v: Long): Map[String, String] =
    generatedOf(propertiesAt(spark, dir, v))

  private def generatedOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, e) if k.startsWith(GeneratedPrefix) =>
        k.stripPrefix(GeneratedPrefix) -> e
    }

  /** The implicit CHECKs a generated-column set imposes on every write:
    * stored value ≡ expression, null-safely.
    */
  private def generatedChecks(gen: Map[String, String]): Map[String, String] =
    gen.map { case (c, e) => s"generated_$c" -> s"`$c` <=> ($e)" }

  private def generatedChecksAt(
      spark: SparkSession, dir: String, v: Long): Map[String, String] =
    generatedChecks(generatedAt(spark, dir, v))

  /** The implicit CHECKs of a snapshot's generated and identity columns. */
  private def implicitChecks(props: Map[String, String]): Map[String, String] =
    generatedChecks(generatedOf(props)) ++ identityChecks(props)

  /** Recomputes declared GENERATED columns over a row-rewrite output —
    * the Delta rewrite contract: an UPDATE or MERGE changing a
    * generation dependency regenerates the column, and a MERGE INSERT
    * whose source omits it computes it (the aligned NULL is replaced by
    * the expression value). Deterministic expressions make this a
    * no-op on carried rows.
    */
  private def regenerated(props: Map[String, String], df: DataFrame): DataFrame = {
    val gen = generatedOf(props)
    if (gen.isEmpty) return df
    import org.apache.spark.sql.functions.expr
    val types = df.schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    gen.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
      types.get(c.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(t) => d.withColumn(c, expr(e).cast(t))
        case None => d
      }
    }
  }

  /** The implicit NOT NULL checks identity columns impose on rewrite
    * outputs (merge/update cannot manufacture unassigned rows).
    */
  private def identityChecks(props: Map[String, String]): Map[String, String] =
    props.keys.collect { case k if k.startsWith(IdentityPrefix) =>
      val c = k.stripPrefix(IdentityPrefix)
      s"identity_$c" -> s"`$c` IS NOT NULL"
    }.toMap

  /** Assigns identity values over a write batch (see [[IdentityPrefix]]):
    * rows presenting NULL in a declared identity column — and batches
    * omitting it entirely — take `hwm+step, hwm+2·step, …`
    * contiguously; `ALWAYS` columns refuse explicit non-NULL values
    * row-side via `raise_error` in the assignment expression. Returns
    * (assigned frame, per-column planned hwm for the publish-time
    * guard, hwm property updates to commit, frames to unpersist after
    * the commit). No identity declared → free no-op.
    */
  private def assignIdentity(
      spark: SparkSession, dir: String, head: Option[Long], df: DataFrame)
      : (DataFrame, Map[String, Long], Map[String, String], Seq[DataFrame]) = {
    val idents = head.map(identityAt(spark, dir, _)).getOrElse(Map.empty)
    if (idents.isEmpty) return (df, Map.empty, Map.empty, Nil)
    import org.apache.spark.sql.functions._
    val props = head.map(propertiesAt(spark, dir, _)).getOrElse(Map.empty)
    val hwm0 = idents.map { case (c, spec) =>
      c -> props.get(s"$IdentityHwmPrefix$c").map(_.toLong)
        .getOrElse(spec.start - spec.step)
    }
    // ONE cached pass indexes the rows — the batch lineage computes
    // once; the parquet write below reads the cache
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    val indexed = spark.createDataFrame(
      cached.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      cached.schema.add("__identity_idx",
        org.apache.spark.sql.types.LongType, nullable = false))
    val schema = head.flatMap(schemaAt(spark, dir, _))
    val assigned = idents.toSeq.sortBy(_._1).foldLeft(indexed) {
      case (d, (c, spec)) =>
        val t = schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .map(_.dataType).getOrElse(
            org.apache.spark.sql.types.LongType
              : org.apache.spark.sql.types.DataType)
        val value =
          (lit(hwm0(c)) + (col("__identity_idx") + 1L) * spec.step).cast(t)
        if (!d.columns.exists(_.equalsIgnoreCase(c))) d.withColumn(c, value)
        else {
          val kept =
            if (spec.allowExplicit) col(c)
            else raise_error(concat(
              lit(s"IDENTITY column $c is GENERATED ALWAYS — explicit " +
                "values are refused (found "),
              col(c).cast("string"),
              lit("); declare allowExplicit = true to opt in"))).cast(t)
          d.withColumn(c, when(col(c).isNull, value).otherwise(kept))
        }
    }.drop("__identity_idx")
    (assigned, hwm0,
      idents.map { case (c, spec) =>
        s"$IdentityHwmPrefix$c" -> (hwm0(c) + n * spec.step).toString },
      Seq(cached))
  }

  /** Refuses an explicit SET on a GENERATED column (Delta's UPDATE
    * contract — the value is the expression's, not the writer's).
    */
  private def requireNoGeneratedSet(
      spark: SparkSession, dir: String, base: Long,
      setKeys: Iterable[String], what: String): Unit = {
    val gen = generatedAt(spark, dir, base)
    val hit = setKeys.filter(k => gen.keys.exists(_.equalsIgnoreCase(k)))
    require(hit.isEmpty,
      s"$what cannot SET GENERATED column(s) ${hit.mkString(", ")} at $dir — " +
        "their values are computed from the generation expression; " +
        "UNSET the graft.generated.* property to detach the contract")
  }

  /** Computes generation expressions for declared columns a batch
    * OMITS (the Delta write contract); present columns pass through
    * and are validated instead.
    */
  private def withGenerated(
      df: DataFrame, gen: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    if (gen.isEmpty) return df
    import org.apache.spark.sql.functions.expr
    val have = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    gen.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
      if (have.contains(c.toLowerCase(java.util.Locale.ROOT))) d
      else {
        val typed = schema
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .map(f => expr(e).cast(f.dataType))
          .getOrElse(expr(e))
        d.withColumn(c, typed)
      }
    }
  }

  /** Property-key prefixes declaring an IDENTITY column (Delta's
    * `GENERATED {ALWAYS | BY DEFAULT} AS IDENTITY (START WITH s
    * INCREMENT BY st)`): `graft.identity.<col>` holds
    * `start=<s>;step=<st>;explicit=<bool>`, and the claimed
    * high-water mark lives beside it under `graft.identityhwm.<col>`,
    * moved TRANSACTIONALLY by every assigning commit — the hwm update
    * publishes in the same log entry as the data, and the commit
    * verifies at publish time that no concurrent writer claimed the
    * range (loud refusal, never colliding values).
    *
    * Write semantics ([[setIdentityColumn]] declares; the append path
    * assigns): a batch that omits the column — or presents NULL in it,
    * which is what a SQL `INSERT (other cols)` or the `DEFAULT`
    * keyword delivers — gets contiguous values `hwm+step, hwm+2·step,
    * …` (one extra pass over the PERSISTED batch to index rows; the
    * lineage is cached around it, so the batch computes once).
    * `ALWAYS` refuses explicit non-NULL values row-side
    * (`raise_error` inside the assignment expression — no extra scan);
    * `BY DEFAULT` keeps them (uniqueness against kept values is the
    * caller's risk, Delta's own documented trade). MERGE/UPDATE
    * outputs enforce `col IS NOT NULL` like an implicit CHECK.
    */
  val IdentityPrefix = "graft.identity."
  val IdentityHwmPrefix = "graft.identityhwm."

  final case class IdentitySpec(start: Long, step: Long, allowExplicit: Boolean)

  /** The identity-column declarations of snapshot `v`. */
  def identityAt(spark: SparkSession, dir: String, v: Long): Map[String, IdentitySpec] =
    propertiesAt(spark, dir, v).collect {
      case (k, s) if k.startsWith(IdentityPrefix) =>
        k.stripPrefix(IdentityPrefix) -> parseIdentitySpec(s)
    }

  private def parseIdentitySpec(s: String): IdentitySpec = {
    val m = s.split(';').map(_.split("=", 2))
      .collect { case Array(a, b) => a -> b }.toMap
    IdentitySpec(m("start").toLong, m("step").toLong,
      m.getOrElse("explicit", "false").toBoolean)
  }

  /** Declares `name` an IDENTITY column. On a populated table the
    * high-water mark starts past the existing extremum (declaring an
    * existing key column an identity continues from its values); on an
    * empty one the first assigned value is exactly `start`. Also
    * stamps a NULL column default so SQL INSERTs may simply omit the
    * column (the analyzer fills NULL; the write path assigns).
    */
  def setIdentityColumn(
      spark: SparkSession, dir: String, name: String,
      start: Long = 1L, step: Long = 1L,
      allowExplicit: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(step != 0L, "identity step must be nonzero")
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, head).getOrElse(
      throw new IllegalArgumentException(
        s"IDENTITY requires a schema-bearing snapshot at $dir"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $name at $dir (${schema.fieldNames.mkString(", ")})"))
    require(field.dataType == org.apache.spark.sql.types.LongType ||
      field.dataType == org.apache.spark.sql.types.IntegerType,
      s"IDENTITY column $name must be integral, got ${field.dataType.sql}")
    val extremum = Option(readAt(spark, dir, head)
      .agg((if (step > 0) max(col(name)) else min(col(name))).cast("long").as("x"))
      .head().get(0)).map(_.asInstanceOf[Long])
    // hwm such that the NEXT assigned value is `start` on an
    // empty/all-NULL table, or continues past the existing extremum
    val hwm0 = extremum match {
      case None => start - step
      case Some(x) =>
        if (step > 0) math.max(x, start - step) else math.min(x, start - step)
    }
    setProperties(spark, dir, Map(
      s"$IdentityPrefix$name" -> s"start=$start;step=$step;explicit=$allowExplicit",
      s"$IdentityHwmPrefix$name" -> hwm0.toString))
    // SQL INSERTs may omit the column: the analyzer fills NULL from
    // this default and the write path assigns
    setColumnDefault(spark, dir, name,
      Some(s"CAST(NULL AS ${field.dataType.sql})"))
  }

  /** Sets (or updates) table properties in one commit (Delta's
    * `ALTER TABLE ... SET TBLPROPERTIES`). Keys and values are
    * arbitrary strings. `graft.generated.*` keys additionally validate the
    * generated-column declaration against the CURRENT snapshot.
    * Metadata-only: no data files move, streams skip the commit, CDF
    * windows contribute nothing for it.
    */
  def setProperties(spark: SparkSession, dir: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one property")
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val gen = props.collect { case (k, e) if k.startsWith(GeneratedPrefix) =>
      k.stripPrefix(GeneratedPrefix) -> e }
    if (gen.nonEmpty) {
      val snapshot = readAt(spark, dir, base)
      gen.foreach { case (c, e) =>
        require(c.nonEmpty && snapshot.columns.exists(_.equalsIgnoreCase(c)),
          s"GENERATED column '$c' does not exist at $dir " +
            s"(${snapshot.columns.mkString(", ")})")
        // resolution probe WITHOUT the column: a self-referential
        // expression (trivially satisfiable, meaningless) fails here
        try snapshot.drop(c).selectExpr(e)
        catch { case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"generation expression for '$c' must resolve over the " +
              s"table's OTHER columns: $e (${ex.getMessage})")
        }
      }
      // existing rows must already satisfy the contract — declaring a
      // generation the data contradicts would poison every later write
      requireSatisfied(snapshot, generatedChecks(gen))
    }
    props.get(ClusterByKey).foreach { v =>
      // validate the clustering declaration NOW, not at the first
      // OPTIMIZE — a layout contract the maintainer cannot honor must
      // refuse at declaration (the zorderIncremental rules)
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty && cols.size <= 4,
        s"$ClusterByKey takes 1-4 comma-separated columns, got '$v'")
      val schema = schemaAt(spark, dir, base).getOrElse(
        readAt(spark, dir, base).schema)
      val byLower = schema.fieldNames
        .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
      cols.foreach { c =>
        val resolved = byLower.get(c.toLowerCase(java.util.Locale.ROOT))
        require(resolved.isDefined,
          s"clustering column absent from the snapshot schema: $c")
        require(zoneableType(schema(resolved.get).dataType) ||
          schema(resolved.get).dataType ==
            org.apache.spark.sql.types.StringType,
          s"clustering column must be zone-stat typed (integral/timestamp/" +
            s"date/short decimal/string): $c is ${schema(resolved.get).dataType}")
      }
    }
    props.get(BucketByKey).foreach { v =>
      // the bucketed-layout contract must be honorable by every later
      // write: columns present, key types the shared hash supports,
      // count a sane task fan-out
      val (cols, n) = parseBucketSpec(v).getOrElse(throw new IllegalArgumentException(
        s"$BucketByKey takes '<col>[,<col>…],<numBuckets>', got '$v'"))
      require(n >= 1 && n <= 65536,
        s"$BucketByKey numBuckets must be in [1, 65536], got $n")
      require(cols.size <= 4, s"$BucketByKey takes at most 4 key columns")
      val schema = schemaAt(spark, dir, base).getOrElse(
        readAt(spark, dir, base).schema)
      cols.foreach { c =>
        val field = schema.fields.find(
          _.name.equalsIgnoreCase(c)).getOrElse(throw new IllegalArgumentException(
          s"bucket column absent from the snapshot schema: $c"))
        require(GraftBucketFunction.supportedKeyType(field.dataType),
          s"bucket column must be integral/string/date/timestamp: " +
            s"$c is ${field.dataType.catalogString}")
      }
      // Redeclaring a DIFFERENT spec over a snapshot whose files already
      // carry .gbNNNNN tags would leave stale tags the scan trusts:
      // bucket-point pruning would silently drop files holding matching
      // rows, and when old tags fall in [0, newN) the SPJ report would
      // claim KeyGroupedPartitioning under the new spec while files are
      // grouped under the old — shuffle-free joins missing matches.
      // rebucket cannot repair that (it only rewrites UNTAGGED files),
      // so the only sound transition is through a full untagged rewrite.
      val prior = propertiesAt(spark, dir, base)
        .get(BucketByKey).flatMap(parseBucketSpec)
      val normNew = (cols.map(_.toLowerCase(java.util.Locale.ROOT)), n)
      // prior == None with tagged files present is the unset-then-
      // redeclare corner: the tags' spec is unknowable, same hazard.
      val changed = !prior.map { case (pc, pn) =>
        (pc.map(_.toLowerCase(java.util.Locale.ROOT)), pn)
      }.contains(normNew)
      if (changed && filesAt(spark, dir, base).exists(bucketOfFile(_).isDefined))
        throw new IllegalStateException(
          s"cannot change $BucketByKey while bucket-tagged files exist at " +
            s"head: tags written under the old spec would be trusted by " +
            s"pruning and storage-partitioned joins under the new one. " +
            s"Rewrite the table first (e.g. overwrite with the spec unset, " +
            s"or UNSET TBLPROPERTIES then OPTIMIZE) so no tagged file " +
            s"survives, then declare the new spec and rebucket.")
    }
    commitAttempt(spark, dir, "set-properties",
      _ => schemaAt(spark, dir, base)
        .map(_.json).getOrElse(new org.apache.spark.sql.types.StructType().json),
      None, identity, Some(base),
      propsFor = _ ++ props).get
  }

  /** Removes table properties (Delta's `ALTER TABLE ... UNSET
    * TBLPROPERTIES`). Unknown keys are refused unless `ifExists` —
    * Delta's convention.
    */
  def unsetProperties(
      spark: SparkSession, dir: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val have = propertiesAt(spark, dir, base)
    val missing = keys.filterNot(have.contains)
    require(ifExists || missing.isEmpty,
      s"no such table propert${if (missing.size == 1) "y" else "ies"} at " +
        s"$dir: ${missing.mkString(", ")} (use IF EXISTS to ignore)")
    commitAttempt(spark, dir, "unset-properties",
      _ => schemaAt(spark, dir, base)
        .map(_.json).getOrElse(new org.apache.spark.sql.types.StructType().json),
      None, identity, Some(base),
      propsFor = _ -- keys).get
  }

  /** Fails loudly when any row of `df` violates a constraint — one
    * aggregate pass over the batch for ALL constraints at once.
    */
  private def requireSatisfied(df: DataFrame, cons: Map[String, String]): Unit = {
    if (cons.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val ordered = cons.toSeq.sortBy(_._1)
    // outer coalesce: sum over an EMPTY batch is NULL, and an empty
    // batch (e.g. a DELETE that empties every touched file) violates
    // nothing
    val aggs = ordered.zipWithIndex.map { case ((_, sql), i) =>
      coalesce(
        sum(when(coalesce(not(expr(sql)), lit(false)), 1L).otherwise(0L)),
        lit(0L)).as(s"__c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    ordered.zipWithIndex.foreach { case ((name, sql), i) =>
      require(row.getLong(i) == 0,
        s"CHECK constraint '$name' ($sql) violated by ${row.getLong(i)} row(s) — " +
          "nothing was committed; fix the batch or dropConstraint first")
    }
  }

  /** Top-level column names a constraint expression references
    * (unresolved attribute heads, lowercased — Spark resolves
    * case-insensitively by default).
    */
  private def constraintRefs(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.distinct

  /** Refuses publishing `newSchema` while a live constraint references
    * a column it lacks: carried constraints would then fail resolution
    * on every subsequent write, silently write-blocking the table —
    * the trap Delta avoids by refusing to drop constrained columns.
    */
  private def requireConstrainedColsPresent(
      spark: SparkSession, cons: Map[String, String],
      newSchema: org.apache.spark.sql.types.StructType, what: String): Unit = {
    val have = newSchema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val broken = cons.toSeq.sortBy(_._1).flatMap { case (n, sql) =>
      constraintRefs(spark, sql).filterNot(have).map(c => s"'$n' references $c")
    }
    require(broken.isEmpty,
      s"$what would drop column(s) referenced by CHECK constraints " +
        s"(${broken.mkString("; ")}) — dropConstraint first")
  }

  /** Registers a named CHECK constraint (Delta `ALTER TABLE t ADD
    * CONSTRAINT name CHECK (expr)`): the CURRENT snapshot is validated
    * first (one aggregate scan — a constraint the table already
    * violates is refused), then the constraint is committed to the log
    * and enforced on every subsequent append, merge, and row-level
    * update. Pinned: any concurrent commit fails this registration
    * (re-run it), so no unvalidated batch can slip in between
    * validation and publish. Caveat, documented not closed: RESTORE
    * re-references historical files without re-validating them against
    * constraints added after that version.
    */
  def addConstraint(spark: SparkSession, dir: String, name: String, condSql: String): Long = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    require(!constraintsAt(spark, dir, base).contains(name),
      s"a constraint named '$name' already exists at $dir — dropConstraint " +
        "first if replacing it is intended (silent replacement would weaken " +
        "the storage contract without a trace)")
    requireSatisfied(readAt(spark, dir, base), Map(name -> condSql))
    commitAttempt(spark, dir, "set-constraint",
      _ => schemaAt(spark, dir, base)
        .map(_.json).getOrElse(new org.apache.spark.sql.types.StructType().json),
      None, identity, Some(base),
      constraint = Some(name -> Some(condSql))).get
  }

  /** Drops a named constraint (no validation needed). Pinned like
    * [[addConstraint]].
    */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Long = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    require(constraintsAt(spark, dir, base).contains(name),
      s"no constraint named '$name' at $dir")
    commitAttempt(spark, dir, "drop-constraint",
      _ => schemaAt(spark, dir, base)
        .map(_.json).getOrElse(new org.apache.spark.sql.types.StructType().json),
      None, identity, Some(base),
      constraint = Some(name -> None)).get
  }

  /** Metadata-only RENAME COLUMN (Delta's `ALTER TABLE ... RENAME
    * COLUMN` under column mapping): one log-sized commit republishing
    * the schema with the field renamed and its PHYSICAL name pinned to
    * whatever the data files already store — zero data files move, at
    * 100 TB exactly like at 100 MB. Every prior version time-travels
    * under ITS OWN name; zone sidecars are keyed by physical name, so
    * data skipping survives the rename untouched. Refused while a
    * CHECK constraint references the old name (its SQL text would
    * silently stop resolving). Pinned: a concurrent commit fails the
    * rename loudly (re-run it).
    */
  def renameColumn(
      spark: SparkSession, dir: String, oldName: String, newName: String): Long = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, head).getOrElse(
      throw new IllegalArgumentException(
        s"RENAME COLUMN requires a schema-bearing snapshot at $dir"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $oldName at $dir (${schema.fieldNames.mkString(", ")})"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"column $newName already exists at $dir")
    require(!field.metadata.contains(HivePartKey),
      s"cannot RENAME the hive partition column ${field.name} at $dir — " +
        "converted files resolve its values from their directory names; " +
        "rewrite the table (OPTIMIZE) to materialize the column first")
    val renamed = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f eq field)
        f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysicalKey, physicalName(f)).build())
      else f
    })
    requireConstrainedColsPresent(spark,
      constraintsAt(spark, dir, head) ++ generatedChecksAt(spark, dir, head),
      renamed, s"RENAME COLUMN $oldName at $dir")
    val files = filesAt(spark, dir, head)
    val v = commitPinned(spark, dir, head, "rename-column", renamed.json, files).get
    // sidecars are physical-keyed, so the carry is a pure copy — data
    // skipping survives the rename with zero re-statting
    carrySidecars(spark, dir, head, v, kept = files.toSet, fresh = Nil)
    v
  }

  /** Metadata-only column DEFAULT change (Spark/Delta's `ALTER TABLE
    * ... ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT`): the
    * default SQL lands in the committed schema's field metadata under
    * Spark's own `CURRENT_DEFAULT` key, where the analyzer's
    * default-resolution fills it into INSERTs that omit the column
    * (the DSv2 contract behind `SUPPORT_COLUMN_DEFAULT_VALUE`).
    * `existsAlso = true` additionally stamps `EXISTS_DEFAULT` — the
    * value pre-existing rows surface where their files lack the
    * column entirely (Spark's vectorized parquet reader applies it
    * from the read schema) — the ADD COLUMN ... DEFAULT semantic; a
    * plain SET DEFAULT affects only future INSERTs, exactly Spark's
    * rule. The expression must be constant-foldable (validated by
    * evaluating it once); `None` drops the default.
    */
  def setColumnDefault(
      spark: SparkSession, dir: String, name: String,
      defaultSql: Option[String], existsAlso: Boolean = false): Long = {
    import org.apache.spark.sql.catalyst.util.{ResolveDefaultColumns => RDC}
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, head).getOrElse(
      throw new IllegalArgumentException(
        s"SET DEFAULT requires a schema-bearing snapshot at $dir"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $name at $dir (${schema.fieldNames.mkString(", ")})"))
    defaultSql.foreach { sql =>
      // constant-foldable and castable to the column's type, verified
      // by evaluating once — a default that cannot fold would fail
      // every later INSERT with an unrelated error
      val row = spark.sql(s"SELECT CAST(($sql) AS ${field.dataType.sql})")
      require(row.schema.fields.length == 1,
        s"DEFAULT for $name must be a single expression: $sql")
      row.collect()
    }
    val updated = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f ne field) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        defaultSql match {
          case Some(sql) =>
            b.putString(RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            if (existsAlso)
              b.putString(RDC.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
          case None =>
            b.remove(RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
        }
        f.copy(metadata = b.build())
      }
    })
    val files = filesAt(spark, dir, head)
    val v = commitPinned(spark, dir, head, "set-default", updated.json, files).get
    carrySidecars(spark, dir, head, v, kept = files.toSet, fresh = Nil)
    v
  }

  /** Metadata-only DROP COLUMN: the field leaves the committed schema
    * in one log-sized commit; data files are untouched (readers simply
    * never select the physical column again) and prior versions still
    * time-travel with the column. The dropped PHYSICAL name is
    * recorded in the log's carried `droppedphys` set, so a later
    * re-add of the same name gets a fresh physical identity instead of
    * resurrecting the dead column's values. Refused while a CHECK
    * constraint references the column.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, head).getOrElse(
      throw new IllegalArgumentException(
        s"DROP COLUMN requires a schema-bearing snapshot at $dir"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $name at $dir (${schema.fieldNames.mkString(", ")})"))
    require(schema.fields.length > 1,
      s"cannot drop the only column of $dir")
    require(!field.metadata.contains(HivePartKey),
      s"cannot DROP the hive partition column ${field.name} at $dir — " +
        "dropping the directory-derived column would orphan the " +
        "converted layout; rewrite the table (OPTIMIZE) first")
    val dropped = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_ eq field))
    requireConstrainedColsPresent(spark,
      constraintsAt(spark, dir, head) ++ generatedChecksAt(spark, dir, head),
      dropped, s"DROP COLUMN $name at $dir")
    val files = filesAt(spark, dir, head)
    val v = commitPinned(spark, dir, head, "drop-column", dropped.json,
      files, dropPhys = Seq(physicalName(field))).get
    // the dropped column's block falls out of the carry (no schema
    // field stores its physical name anymore); others copy through
    carrySidecars(spark, dir, head, v, kept = files.toSet, fresh = Nil)
    v
  }

  /** Writer-transaction watermarks carried by snapshot `v`: the highest
    * transaction version each named application has committed. The
    * Delta `txnAppId`/`txnVersion` analog that makes streaming sinks
    * exactly-once: a replayed micro-batch re-presents an already-seen
    * (app, version) and is refused before any snapshot is published.
    */
  def txnsAt(spark: SparkSession, dir: String, v: Long): Map[String, Long] =
    entryAt(spark, dir, v).txns

  /** Highest transaction version `appId` has committed, if any. */
  def lastTxnVersion(spark: SparkSession, dir: String, appId: String): Option[Long] =
    currentVersion(spark, dir).flatMap(v => txnsAt(spark, dir, v).get(appId))

  /** Deletion vectors of snapshot `v`: per data file, the sorted row
    * indices soft-deleted by the row-level rewrite ([[rewriteRows]]).
    * Stored INSIDE the commit JSON — a DV is visible exactly when its
    * commit is, with no sidecar-publish race — and carried/filtered by
    * every subsequent commit like txn watermarks.
    */
  def dvsAt(spark: SparkSession, dir: String, v: Long): Map[String, Seq[Long]] =
    dvsOf(spark, dir, entryAt(spark, dir, v))

  /** An entry's DVs, inline or from its spilled sidecar, keyed by
    * [[fileKey]] so lookups never depend on the spelling (relative vs
    * cloned-absolute) a writer used.
    */
  private def dvsOf(spark: SparkSession, dir: String, e: LogEntry): Map[String, Seq[Long]] =
    e.dvFile
      .map(name => LogCodec.decodeDvs(readFully(spark, dir, new Path(logPath(dir), name))))
      .getOrElse(e.dvs)
      .map { case (k, idxs) => fileKey(k) -> idxs }

  /** A lost optimistic-commit race: another writer published the
    * version this committer computed. Retryable for commits whose file
    * set does not depend on the snapshot they started from.
    */
  final class CommitRace(msg: String) extends IllegalStateException(msg)

  /** One commit attempt at the current log head. `filesFor` receives
    * the head snapshot's file list and returns the new snapshot's;
    * `basedOn` (when set) pins the commit to a specific head version —
    * the conflict rule for commits that rewrite data they read.
    *
    * `schemaJsonFor` receives the SAME head version every other part of
    * the attempt (file list, txn watermarks, DV carry) is computed
    * from. Deriving the schema from a separate `currentVersion` read
    * would open a race: a mergeSchema append landing between the two
    * reads publishes new columns that this attempt's stale schema would
    * then silently drop — here any commit landing after the single
    * `prev` read collides on the version CAS and forces a full
    * recompute-retry instead.
    *
    * Returns None iff the attempt's writer transaction is already at or
    * past `txn`'s version at this head — the idempotence no-op,
    * evaluated against the same snapshot the commit would publish over
    * (no separate check-then-commit window).
    */
  private def commitAttempt(
      spark: SparkSession, dir: String, op: String,
      schemaJsonFor: Option[LogEntry] => String,
      txn: Option[(String, Long)], filesFor: Seq[String] => Seq[String],
      basedOn: Option[Long] = None,
      dvsFor: Map[String, Seq[Long]] => Map[String, Seq[Long]] = identity,
      constraint: Option[(String, Option[String])] = None,
      preCommit: (Option[LogEntry], Map[String, String]) => Unit = (_, _) => (),
      pairKeys: Seq[String] = Nil,
      dropPhys: Seq[String] = Nil,
      copyInto: Seq[String] = Nil,
      propsFor: Map[String, String] => Map[String, String] = identity,
      planned: Option[(Long, LogEntry)] = None): Option[Long] = {
    val f = fs(spark, dir)
    f.mkdirs(logPath(dir))
    val prev = currentVersion(spark, dir)
    basedOn.foreach { b =>
      if (!prev.contains(b))
        throw new CommitRace(
          s"$op at $dir was planned against v$b but the table is now at " +
            s"v${prev.getOrElse(0L)} — concurrent commit; re-plan and retry")
    }
    // ONE read of the predecessor's log entry serves every carried
    // field below (txns, files, constraints, DVs, timestamp) — the
    // log read is the commit's critical path on high-latency stores.
    // A published entry never changes, so the one the caller planned
    // the write against serves while it is still the head.
    val prevEntry = prev.map(p =>
      planned.collect { case (`p`, e) => e }.getOrElse(entryAt(spark, dir, p)))
    // txn watermarks carry forward through EVERY commit (append,
    // overwrite, compact): replacing data does not reset exactly-once
    // bookkeeping, or a compaction between two micro-batches would
    // let a replayed batch double-apply
    val prevTxns = prevEntry.map(_.txns).getOrElse(Map.empty)
    if (txn.exists { case (a, n) => prevTxns.get(a).exists(_ >= n) }) return None
    val v = prev.getOrElse(0L) + 1
    val prevFiles = prev
      .map(p => resolveFiles(spark, dir, p, prevEntry))
      .getOrElse(Seq.empty)
    val files = filesFor(prevFiles)
    val schemaJson = schemaJsonFor(prevEntry)
    // CHECK constraints carry like txn watermarks; `preCommit` lets the
    // writer validate its batch against the EXACT (head, set) this
    // attempt publishes under — a constraint added concurrently
    // collides on the version CAS, and the retry re-validates against
    // the new set, aligned to the new head's schema
    val prevCons = prevEntry.map(_.constraints).getOrElse(Map.empty)
    val cons = constraint match {
      case Some((n, Some(sql))) => prevCons + (n -> sql)
      case Some((n, None)) => prevCons - n
      case None => prevCons
    }
    preCommit(prevEntry, cons)
    // table properties carry like constraints: every commit re-emits
    // the full (small) map from the ONE predecessor read above
    val tblProps = propsFor(prevEntry.map(_.props).getOrElse(Map.empty))
    // a control character in a file name this commit adds is refused:
    // such names come from outside the engine (addFiles, convert,
    // clone) and no file system path should hold one
    val prevSet = prevFiles.toSet
    val unsafe = files.filterNot(prevSet).filter(_.exists(Character.isISOControl))
    if (unsafe.nonEmpty) throw new IllegalArgumentException(
      s"commit $op at $dir refused: file name(s) ${unsafe.take(3).mkString(" | ")} " +
        "hold a control character — rename the file(s) before committing them")
    // deletion vectors: the caller transforms the HEAD's DV map (carry,
    // merge, or drop); entries for files the new snapshot no longer
    // references are filtered unconditionally — a DV without its file
    // is meaningless and a file re-referenced later (restore) must not
    // inherit a stale one by accident
    // fileKey (last two path segments) is the engine-wide file
    // identity — DV lookups and CDF version attribution key on it.
    // UUID-named writes cannot collide, but addFiles takes
    // caller-chosen names and cloneTable imports foreign absolute
    // paths, so the invariant is ENFORCED at the one place every
    // commit passes: a colliding pair would cross-apply deletion
    // vectors and mis-attribute change-feed versions with no error.
    val keyClash = files.groupBy(fileKey).filter(_._2.size > 1)
    require(keyClash.isEmpty,
      s"commit $op at $dir would publish files with colliding identities " +
        s"(same last two path segments): ${keyClash.head._2.mkString(" vs ")}" +
        " — rename the offending file(s); fileKey uniqueness is what DV " +
        "and change-feed attribution rely on")
    val fileKeys = files.map(fileKey).toSet
    val dvs = dvsFor(prevEntry.map(dvsOf(spark, dir, _)).getOrElse(Map.empty))
      .filter { case (df, idxs) => fileKeys.contains(fileKey(df)) && idxs.nonEmpty }
      .map { case (df, idxs) => df -> idxs.distinct.sorted }
    val dvClash = dvs.keys.toSeq.groupBy(fileKey).filter(_._2.size > 1)
    require(dvClash.isEmpty,
      s"commit $op at $dir carries deletion vectors under colliding file " +
        s"identities: ${dvClash.head._2.mkString(" vs ")}")
    // small DV sets inline in the commit (visible exactly when the
    // commit is, no sidecar race); past the threshold the payload
    // spills to a uuid-named sidecar the commit REFERENCES — otherwise
    // every subsequent commit re-serializes the full cumulative DV map
    // and log size grows O(#commits × soft-deleted positions). The
    // sidecar is written before publish, so a referenced DV file always
    // exists; orphans from failed commits are swept by vacuum.
    val dvFile =
      if (dvs.valuesIterator.map(_.size).sum <= DvInlineMax) None
      else {
        val name = s"dv-${UUID.randomUUID().toString}.json"
        val dvTmp = new Path(logPath(dir), s".$name.tmp")
        val o = f.create(dvTmp, true)
        try o.write(LogCodec.encodeDvs(dvs).getBytes(StandardCharsets.UTF_8))
        finally o.close()
        if (!f.rename(dvTmp, new Path(logPath(dir), name))) {
          f.delete(dvTmp, false)
          throw new IllegalStateException(s"DV sidecar publish failed for $name")
        }
        Some(name)
      }
    // wall-clock commit timestamp: serves history() and readAsOf()
    // (Delta's DESCRIBE HISTORY / TIMESTAMP AS OF). Stored explicitly
    // rather than relying on file mtime, which copies/restores clobber
    // — and clamped to the predecessor's timestamp so commit times are
    // NONDECREASING in version order even across writers with skewed
    // clocks (Delta's commit-timestamp adjustment); readAsOf depends
    // on that monotonicity to resolve an instant to one snapshot.
    val ts = math.max(System.currentTimeMillis(),
      prev.map(p => prevEntry.flatMap(_.ts).getOrElse(
        // pre-ts predecessor: same mtime fallback as commitTimestampAt,
        // or the monotonic clamp silently dies on legacy tables
        f.getFileStatus(versionFile(dir, p)).getModificationTime)).getOrElse(0L))
    // incremental file actions: the entry carries the add/remove delta
    // against the predecessor — O(files touched) commit metadata — and
    // only checkpoints (first version, every CheckpointInterval-th, or
    // a file order the delta replay cannot reproduce, e.g. a restore
    // re-interleaving historical files) carry the full list: inline
    // JSON while small, a referenced COLUMNAR parquet sidecar past
    // CkptInlineMax (at 10⁶ files the inline form is tens of MB of
    // JSON; the sidecar reads back with one vectorized scan). The
    // sidecar is written before publish like DV spills.
    val newSet = files.toSet
    val added = files.filterNot(prevSet)
    val removed = prevFiles.filterNot(newSet)
    val replayable = (prevFiles.filter(newSet) ++ added) == files
    val isFullList =
      prev.isEmpty || v % ckptIntervalOf(tblProps) == 0 || !replayable
    // full-list entries also record OPTIMIZE provenance — which of
    // `files` a clustering rewrite produced — as index ranges into the
    // list, so [[clusteredKeysAt]] resolves in O(CheckpointInterval)
    // log reads instead of re-deriving it from every retained entry.
    // Ranges, not raw indexes: post-OPTIMIZE the clustered set IS the
    // bulk of the table, and "0-999999" costs bytes where a million
    // indexes would re-create the inline-list problem the columnar
    // sidecar exists to avoid.
    // ALWAYS present on full-list entries — an empty clustered set is
    // recorded as "clusteredidx":"" so [[clusteredKeysAt]] terminates
    // at the nearest checkpoint instead of walking every retained
    // entry to conclude "empty" (a never-OPTIMIZEd streamed bronze
    // tier would otherwise pay O(retained) reads per checkpoint
    // commit, O(N²/interval) cumulative)
    val clusteredIdx = Option.when(isFullList) {
      val known = prev.map(clusteredKeysAt(spark, dir, _)).getOrElse(Set.empty) ++
        (if (op == "optimize") added.map(fileKey) else Seq.empty)
      if (known.isEmpty) Seq.empty[Int]
      else files.iterator.zipWithIndex
        .collect { case (fl, i) if known.contains(fileKey(fl)) => i }.toSeq
    }
    val actions =
      if (!isFullList) Delta(added, removed)
      else if (files.size <= CkptInlineMax) FullList(files)
      else CkptRef(writeCkptSidecar(spark, dir, files))
    // dropped-physical-name set: carried forward like constraints so a
    // later re-add of a dropped column name gets a FRESH physical name
    // (old files' values for the dead physical column stay invisible)
    val dropped = (prevEntry.map(_.droppedPhys).getOrElse(Seq.empty) ++ dropPhys).distinct
    // protocol stamp (Delta's protocol-action analog, per entry): the
    // reader features this entry's snapshot NEEDS — a build that does
    // not know a listed feature must refuse the table loudly instead
    // of misreading it (e.g. resolving logical names against physical
    // files on a column-mapped table, or serving soft-deleted rows by
    // ignoring DVs). Entries using only the base format carry no stamp,
    // so pre-protocol tables and plain tables read unchanged everywhere.
    val features = Seq(
      Option.when(dvs.nonEmpty)("deletion-vectors"),
      Option.when(actions.isInstanceOf[CkptRef])("columnar-checkpoint"),
      Option.when(schemaJson.contains(PhysicalKey) || dropped.nonEmpty)("column-mapping")
    ).flatten
    // row-pairing keys for the change feed: a key-bearing rewrite
    // (merge: its ON keys; update: the non-SET columns) records how its
    // removed/added rows pair into update_preimage/update_postimage
    val json = LogCodec.encode(LogEntry(
      version = v, op = op, ts = Some(ts), schema = Some(schemaJson), actions = actions,
      txns = prevTxns ++ txn, constraints = cons, props = tblProps,
      dvs = if (dvFile.isEmpty) dvs else Map.empty, dvFile = dvFile,
      pairKeys = pairKeys, droppedPhys = dropped, readerFeatures = features,
      clusteredIdx = clusteredIdx, copyInto = copyInto))
    // per-attempt unique temp name: racing committers must never share
    // a temp file, or a loser's cleanup could delete the winner's
    // in-flight content
    val tmp = new Path(logPath(dir), s".v$v-${UUID.randomUUID().toString}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    publishOnce(f, tmp, versionFile(dir, v))
    // prime the resolved-files memo with the list this commit just
    // published: the NEXT commit's predecessor resolution becomes a
    // memo hit instead of a checkpoint-sidecar re-read
    primeFilesMemo(spark, dir, v, files)
    Some(v)
  }

  /** Max deletion-vector positions inlined in a commit's JSON line;
    * larger DV maps spill to a referenced sidecar file.
    */
  private[graft] val DvInlineMax = 1024

  /** Changed-row positions up to which a row-level rewrite (MERGE,
    * DELETE, UPDATE, replaceWhere — [[rewriteRows]]) may soft-delete
    * with deletion vectors. Merge-on-read collects the changed (file,
    * position) pairs on the driver — the right trade for SPARSE
    * mutations; past this bound every changed file is rewritten
    * copy-on-write instead of OOMing the driver and bloating every
    * later commit with megabytes of DV.
    */
  val MoRMatchCap = 1000000L

  /** Optimistic-retry commit for snapshot-independent file sets
    * (append: head files + new files; overwrite: new files alone).
    * On a lost race the attempt recomputes everything from the NEW
    * head — version number, carried txn watermarks, and (for appends)
    * the base file list — so no concurrent commit is ever dropped.
    * The idempotence guard re-evaluates per attempt: if the txn
    * watermark advanced past ours meanwhile, the commit becomes a
    * no-op (None) instead of double-applying.
    */
  private def commitRetry(
      spark: SparkSession, dir: String, op: String,
      schemaJsonFor: Option[LogEntry] => String,
      txn: Option[(String, Long)], filesFor: Seq[String] => Seq[String],
      maxAttempts: Int = 16,
      dvsFor: Map[String, Seq[Long]] => Map[String, Seq[Long]] = identity,
      preCommit: (Option[LogEntry], Map[String, String]) => Unit = (_, _) => (),
      copyInto: Seq[String] = Nil,
      propsFor: Map[String, String] => Map[String, String] = identity,
      planned: Option[(Long, LogEntry)] = None)
      : Option[Long] = {
    var attempt = 1
    while (true) {
      // schema and idempotence guard are both evaluated INSIDE the
      // attempt against the head it publishes over: a racing
      // mergeSchema append (or a racing replay of the same txn) that
      // lands after the attempt's head read collides on the version
      // CAS and forces this recompute-retry
      try return commitAttempt(
        spark, dir, op, schemaJsonFor, txn, filesFor, dvsFor = dvsFor,
        preCommit = preCommit, copyInto = copyInto, propsFor = propsFor, planned = planned)
      catch {
        case e: CommitRace =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
          Thread.sleep(
            5L * attempt + java.util.concurrent.ThreadLocalRandom.current().nextInt(20))
      }
    }
    throw new IllegalStateException("unreachable")
  }


  /** The atomicity point of every commit, delegated through the
    * [[LogStore]] seam (Delta's LogStore analog): hard-link CAS on
    * `file://`, atomic no-overwrite rename on HDFS-likes. The seam's
    * scaladoc states the full contract; [[ConditionalPutLogStore]] is
    * the object-store-shaped implementation the concurrency specs run
    * the same multi-writer matrix against, proving commit logic never
    * depends on filesystem-specific namespace atomicity.
    */
  @volatile private[graft] var logStore: LogStore = HadoopFsLogStore

  /** Runs `body` with commits publishing through `store` (test seam for
    * the LogStore contract matrix; global — callers serialize).
    */
  private[graft] def withLogStore[T](store: LogStore)(body: => T): T = {
    val prev = logStore
    logStore = store
    try body finally logStore = prev
  }

  private[graft] def publishOnce(
      f: org.apache.hadoop.fs.FileSystem, tmp: Path, dest: Path): Unit =
    logStore.publishOnce(f, tmp, dest)

  /** Writes `df` as a fresh immutable file set and returns its
    * table-relative parquet paths (not yet referenced by any snapshot).
    * Per-file row counts are captured FROM THE WRITE JOB's own task
    * metrics ([[WriteCounts]]) so the row-stats sidecar never re-opens
    * the footers it just wrote; any file the capture cannot vouch for
    * falls back to the footer pass in [[carryRowCounts]].
    */
  private def writeDataFiles(df: DataFrame, dir: String): Seq[String] = {
    // full UUID: an 8-hex prefix (~2^32 namespace) invites a birthday
    // collision at high commit counts, failing the write spuriously
    val sub = s"d-${UUID.randomUUID().toString}"
    val byIndex = WriteCounts.capture(df, df.write.parquet(s"$dir/$sub"))
    val f = fs(df.sparkSession, dir)
    val rels = f.listStatus(new Path(dir, sub)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet"))
      .sorted
      .map(n => s"$sub/$n")
    WriteCounts.record(rels, byIndex)
    rels
  }

  /** [[writeDataFiles]] under the bucketed layout: rows route to
    * exactly one output partition per bucket (`repartition(n, col)` —
    * partition index = `pmod(murmur3(col, 42), n)`, the
    * [[GraftBucketFunction]] definition), and each written file is
    * renamed to carry its bucket id as a `.gbNNNNN.parquet` suffix.
    * The part-file's own `part-NNNNN` index IS the partition index, so
    * the tag is read off the name Spark already wrote — no extra job.
    * Renames are driver-side metadata ops, O(files in this batch).
    * Empty buckets write no file (absent partition values are the
    * push-part-values side of SPJ). A name that doesn't parse stays
    * untagged — the scan then refuses to report partitioning rather
    * than claim a layout the files don't prove.
    *
    * Skew note (the 100 TB contract): one bucket = one write task, so
    * a hot key concentrates in one task — size `numBuckets` so buckets
    * stay a few GB, same discipline as [[Bucketed]].
    */
  private def writeDataFilesBucketed(
      df: DataFrame, dir: String, bucketCols: Seq[String], n: Int,
      sortCols: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.functions.{col => fcol, hash => fhash, lit => flit, pmod => fpmod}
    val sub = s"d-${UUID.randomUUID().toString}"
    // The tag must come from the ROWS, never from the write's partition
    // index: when the input is ALREADY hash-partitioned on the key
    // (a distinct/groupBy upstream), Spark elides the repartition and
    // AQE may have coalesced the upstream exchange — task i then holds
    // SEVERAL buckets and a part-index-derived tag LIES, silently
    // misrouting bucket pruning and misaligning storage-partitioned
    // joins. partitionBy on a computed bucket column routes every row
    // to its bucket's file whatever the task layout (`hash` is
    // Murmur3 seed 42 — GraftBucketFunction's own definition, purity
    // spec-pinned); the repartition below only CLUSTERS (one task per
    // bucket in the healthy case) so the write stays
    // one-file-per-non-empty-bucket.
    val withGb = df.withColumn("__gb",
      fpmod(fhash(bucketCols.map(fcol): _*), flit(n)))
    // WITHIN-BUCKET clustering: hash scattering makes every bucket
    // file span the full range of any non-key column, so declared
    // CLUSTER BY keys sort inside each bucket partition; leading __gb
    // satisfies the dynamic-partition write's required ordering, so no
    // extra sort is planned and the zone stats stay tight.
    val parted = withGb.repartition(n, bucketCols.map(fcol): _*)
      .sortWithinPartitions((fcol("__gb") +: sortCols.map(fcol)): _*)
    val byIndex = WriteCounts.capture(parted,
      parted.write.partitionBy("__gb").parquet(s"$dir/$sub"))
    val f = fs(df.sparkSession, dir)
    val gbDir = raw"__gb=(\d+)".r
    val rels = f.listStatus(new Path(dir, sub)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case gbDir(b) if st.isDirectory =>
          val files = f.listStatus(st.getPath).toSeq
            .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
          val moved = files.map { name =>
            val tagged =
              name.stripSuffix(".parquet") + f".gb${b.toInt}%05d.parquet"
            require(f.rename(new Path(st.getPath, name),
              new Path(s"$dir/$sub/$tagged")),
              s"bucket-tag rename failed for $sub/$name at $dir")
            s"$sub/$tagged"
          }
          f.delete(st.getPath, true) // now-empty __gb= dir
          moved
        case _ => Nil // _SUCCESS marker stays put
      }
    }.sorted
    WriteCounts.record(rels, byIndex)
    rels
  }

  /** The bucketed-write routing decision for a commit planned against
    * head `head0`: Some((physical column, n, physical within-bucket
    * sort columns)) when the head declares a bucket layout and the
    * batch carries the column. Sort columns are the declared CLUSTER
    * BY keys the batch also carries — see [[writeDataFilesBucketed]].
    */
  private def bucketPlanFor(
      head0: Option[LogEntry], df: DataFrame, physFor: Map[String, String])
      : Option[(Seq[String], Int, Seq[String])] =
    head0.flatMap(_.props.get(BucketByKey)).flatMap(parseBucketSpec).flatMap { case (cols, n) =>
      val logical = cols.map(c =>
        df.schema.fieldNames.find(_.equalsIgnoreCase(c)))
      if (logical.exists(_.isEmpty)) None // batch missing a key column
      else {
        val sortCols = head0.flatMap(_.props.get(ClusterByKey)).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          .flatMap(sc => df.schema.fieldNames.find(_.equalsIgnoreCase(sc)))
          .map(l => physFor.getOrElse(l, l))
        Some((logical.flatten.map(l => physFor.getOrElse(l, l)), n, sortCols))
      }
    }

  /** Schema enforcement + evolution for append commits (Delta's
    * `mergeSchema` contract). Returns the schema JSON the commit should
    * record.
    *
    *  - Same column set (name → type, order-insensitive): the HEAD
    *    schema stays canonical — appenders may present columns in any
    *    order without churning the committed schema.
    *  - Differing set, `mergeSchema = false`: refused loudly. Schema
    *    enforcement is the lakehouse guarantee that a misconfigured
    *    writer cannot silently corrupt a 100 TB table.
    *  - Differing set, `mergeSchema = true`: head columns keep their
    *    positions, brand-new columns append after; a column present in
    *    both MUST keep its type (no implicit retype). Every field goes
    *    nullable — old files lack the new columns and new files may
    *    lack old ones, so NULLs are now possible on both.
    *
    * Re-evaluated per optimistic-retry attempt against the CURRENT
    * head, so two racing mergeSchema appends compose instead of one
    * clobbering the other's columns.
    */
  private def evolvedSchemaJson(
      dir: String, head: Option[LogEntry],
      df: DataFrame, mergeSchema: Boolean,
      physFor: Map[String, String] = Map.empty): String = {
    import org.apache.spark.sql.types.StructType
    // `head` is the entry of the exact version the enclosing commit
    // attempt is publishing over (passed in, never re-read): schema
    // evolution and the file-list base always come from ONE snapshot
    val headOpt = head.flatMap(schemaOf)
      .filter(_.nonEmpty)
    headOpt match {
      case None => df.schema.json // first commit (or pre-schema log) defines
      case Some(head) =>
        // mapping-stability guard: the data files were already written
        // under the physical names planned from the PRE-WRITE head
        // (`physFor`); if a concurrent rename/add changed any of them,
        // this attempt cannot publish those files under the new head's
        // mapping — fail loudly (re-running the append re-plans)
        val drift = df.schema.fieldNames.filter { n =>
          head.fields.find(_.name == n).exists(f =>
            physicalName(f) != physFor.getOrElse(n, n))
        }
        if (drift.nonEmpty) throw new IllegalStateException(
          s"concurrent column-mapping change during append to $dir " +
            s"(${drift.mkString(", ")}) — the batch's data files were " +
            "written under a stale physical mapping; retry the append")
        val headTypes = head.fields.map(f => f.name -> f.dataType.catalogString).toMap
        val newTypes = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
        val retyped = newTypes.collect {
          case (n, t) if headTypes.get(n).exists(_ != t) => s"$n: ${headTypes(n)} -> $t" }
        require(retyped.isEmpty,
          s"append to $dir would RETYPE columns (${retyped.mkString("; ")}) — " +
            "rewrite via overwrite() if a type change is intended")
        if (headTypes == newTypes) head.json
        else if (!mergeSchema)
          throw new IllegalArgumentException(
            s"append schema mismatch at $dir: table has " +
              s"[${headTypes.keys.toSeq.sorted.mkString(", ")}], append has " +
              s"[${newTypes.keys.toSeq.sorted.mkString(", ")}] — pass " +
              "mergeSchema = true to evolve the table schema")
        else {
          // brand-new columns carry their planned physical name when it
          // differs from the logical (re-add of a dropped name)
          val added = df.schema.fields.filter(f => !headTypes.contains(f.name))
            .map { f =>
              val phys = physFor.getOrElse(f.name, f.name)
              if (phys == f.name) f
              else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putString(PhysicalKey, phys).build())
            }
          StructType((head.fields ++ added).map(_.copy(nullable = true))).json
        }
    }
  }

  /** The physical name each of `df`'s columns must be WRITTEN under
    * against head snapshot `head0`: existing columns take the head's
    * mapping; brand-new columns keep their own name unless it was
    * previously dropped (then a fresh unique physical, so the dead
    * column's values in old files stay dead).
    */
  private def physPlanFor(
      head0: Option[LogEntry], df: DataFrame): Map[String, String] = {
    val headSchema = head0.flatMap(schemaOf).filter(_.nonEmpty)
    val dropped = head0.map(_.droppedPhys.toSet).getOrElse(Set.empty)
    df.schema.fieldNames.map { n =>
      headSchema.flatMap(_.fields.find(_.name == n)) match {
        case Some(f) => n -> physicalName(f)
        case None =>
          n -> (if (dropped.contains(n))
            s"${n}_${UUID.randomUUID().toString.take(8)}" else n)
      }
    }.toMap
  }

  /** Append commit: next snapshot = previous files + the new set. Safe
    * under concurrent writers — a lost race recomputes the base file
    * list from the new head and re-publishes (the data files were
    * already written and are snapshot-independent). Schema is ENFORCED
    * against the head snapshot; widen explicitly with
    * `mergeSchema = true` (see [[evolvedSchemaJson]]).
    */
  /** Memoizing batch validator: one [[requireSatisfied]] pass per
    * DISTINCT (head schema, constraint set) a commit attempt publishes
    * under (the common case validates once; a concurrent addConstraint
    * or schema evolution forces one re-validation on the retry). The
    * batch is ALIGNED to the head schema AT VALIDATION TIME — columns
    * the batch legally omits (narrow mergeSchema appends) surface as
    * typed NULLs, which SQL CHECK semantics let pass, instead of
    * failing constraint-expression resolution; re-aligning per attempt
    * means a constraint added concurrently on a concurrently widened
    * column also evaluates (as NULL) rather than failing resolution
    * against a stale alignment.
    */
  private def validatorFor(df: DataFrame): (Option[LogEntry], Map[String, String]) => Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    def alignedTo(headSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
      headSchema match {
        case Some(head) =>
          // case-insensitive like constraint resolution and
          // requireConstrainedColsPresent — a batch presenting 'ID'
          // against head 'id' must not gain a duplicate NULL column
          // (ambiguous-reference failure instead of evaluation)
          val have = df.schema.fieldNames
            .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          val missing = head.fields.filterNot(f =>
            have.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
          if (missing.isEmpty) df
          else df.select(df.columns.toSeq.map(col) ++
            missing.toSeq.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
        case None => df
      }
    var seen = Set.empty[(String, Map[String, String])]
    (head, cons) => {
      val schema = head.flatMap(schemaOf)
      val key = (schema.map(_.json).getOrElse(""), cons)
      if (!seen.contains(key)) {
        requireSatisfied(alignedTo(schema), cons)
        seen += key
      }
    }
  }

  def append(df: DataFrame, dir: String, mergeSchema: Boolean = false): Long =
    appendCommit(df, dir, mergeSchema, Nil, _ => ())

  /** [[append]]'s body with the two seams [[copyInto]] needs: the
    * loaded-source registry the commit records and an extra
    * per-attempt guard running beside constraint validation (the
    * concurrent-loader check). Public `append` passes no-ops.
    */
  private def appendCommit(
      df0: DataFrame, dir: String, mergeSchema: Boolean,
      copyInto: Seq[String], extraGuard: Option[LogEntry] => Unit): Long = {
    val spark = df0.sparkSession
    // GENERATED columns the batch omits are computed here (the Delta
    // write contract); present ones validate below via the implicit
    // `col <=> expr` checks merged into every attempt's constraint pass
    val planned = headEntry(spark, dir)
    val (head0, head0E) = (planned.map(_._1), planned.map(_._2))
    val dfGen = withGenerated(df0,
      head0E.map(e => generatedOf(e.props)).getOrElse(Map.empty),
      head0E.flatMap(schemaOf))
    // IDENTITY columns assign here (omitted/NULL rows take the next
    // contiguous values); the claimed hwm publishes in THIS commit and
    // the guard below refuses a concurrently-moved hwm
    val (df, idHwm0, idClaims, idCached) =
      assignIdentity(spark, dir, head0, dfGen)
    try {
      def consPlusGen(head: Option[LogEntry], cons: Map[String, String]) =
        cons ++ head.map(e => generatedChecks(generatedOf(e.props))).getOrElse(Map.empty)
      val validate = validatorFor(df)
      // fast-fail BEFORE writing data files, pairing version and
      // constraint set from ONE head read (the attempt re-pairs anyway)
      validate(head0E, consPlusGen(head0E, head0E.map(_.constraints).getOrElse(Map.empty)))
      val physFor = physPlanFor(head0E, df)
      val physDf =
        if (physFor.forall(kv => kv._1 == kv._2)) df
        else df.select(df.columns.toSeq.map(c =>
          org.apache.spark.sql.functions.col(c).as(physFor(c))): _*)
      val fresh = bucketPlanFor(head0E, df, physFor) match {
        case Some((bc, n, sc)) => writeDataFilesBucketed(physDf, dir, bc, n, sc)
        case None => writeDataFiles(physDf, dir)
      }
      val v = commitRetry(spark, dir, "append",
        head => evolvedSchemaJson(dir, head, df, mergeSchema, physFor),
        None, prev => prev ++ fresh,
        preCommit = (head, cons) => {
          validate(head, consPlusGen(head, cons))
          extraGuard(head)
          // identity ranges must not double-claim: the values in the
          // already-written files were computed from the PLANNED hwm
          if (idHwm0.nonEmpty) {
            val cur = head.map(_.props).getOrElse(Map.empty)
            idHwm0.foreach { case (c, h0) =>
              val now = cur.get(s"$IdentityHwmPrefix$c").map(_.toLong).getOrElse(h0)
              if (now != h0) throw new IllegalStateException(
                s"concurrent identity writer claimed $c's range at $dir " +
                  s"(planned from hwm $h0, head now at $now) — re-run the write")
            }
          }
        },
        copyInto = copyInto,
        propsFor = _ ++ idClaims, planned = planned).get
      // a zoned table must not lose data skipping at every append: carry
      // the previous sidecar (kept files' stats verbatim) and stat only
      // the fresh files — O(batch), not O(table). Versions are dense, so
      // the committed version's predecessor is the snapshot it extended.
      carrySidecars(spark, dir, v - 1, v,
        filesAt(spark, dir, v).toSet -- fresh.toSet, fresh)
      maybeAutoCompact(spark, dir, v)
      v
    } finally idCached.foreach(_.unpersist())
  }

  /** Opportunistic post-append compaction — the Databricks
    * `autoOptimize.autoCompact` analog, interval-triggered: when the
    * table property `graft.autoOptimize.autoCompact` is true and the
    * just-committed version lands on the cadence
    * (`graft.autoOptimize.interval` commits, default 16), files under
    * `graft.autoOptimize.smallBytes` (default 32 MB) bin-pack as ONE
    * follow-on row-preserving `compact-small` commit — streaming
    * ingest, the small-file factory, self-heals every `interval`
    * micro-batches without an external OPTIMIZE job.
    *
    * The trigger is O(1) per commit BY DESIGN: Databricks' per-write
    * small-file census is a size listing of the written partition,
    * but this table layout has no physical partitions — a faithful
    * per-commit census would be O(snapshot files) object-store HEADs
    * on EVERY append, unpayable at 10⁶ files. The interval cadence
    * amortizes the census (and the rewrite) to O(files/interval),
    * the same asymptotic discipline as checkpoint entries. Best-effort
    * on purpose: the append it rides is already durable, so a
    * concurrent-writer race or transient storage error abandons the
    * attempt silently — the next cadence hit retries.
    */
  private def maybeAutoCompact(spark: SparkSession, dir: String, v: Long): Unit = {
    val props = propertiesAt(spark, dir, v)
    if (!props.get("graft.autoOptimize.autoCompact").exists(_.equalsIgnoreCase("true")))
      return
    val interval = props.get("graft.autoOptimize.interval")
      .flatMap(_.toLongOption).filter(_ > 0).getOrElse(16L)
    if (v % interval != 0L) return
    val small = props.get("graft.autoOptimize.smallBytes")
      .flatMap(_.toLongOption).filter(_ > 0).getOrElse(32L << 20)
    try { compactSmall(spark, dir, small); () }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Source-file identities every retained commit loaded via
    * [[copyInto]] — union of the per-commit `copyinto` registries.
    * O(retained log entries) driver reads: COPY INTO is a rare batch
    * command (contrast the per-commit hot paths, which stay bounded),
    * and the registry's memory is exactly the log's — a load whose
    * commit was vacuumed out of retention is forgotten, so re-copying
    * its source file duplicates rows (Databricks' own retention bound
    * on COPY INTO file-tracking metadata).
    */
  def copyIntoLoaded(spark: SparkSession, dir: String): Set[String] =
    versions(spark, dir).iterator
      .flatMap(v => entryAt(spark, dir, v).copyInto)
      .toSet

  /** Databricks' `COPY INTO` semantics: idempotent file-level bulk
    * load from a landing path into an EXISTING versioned table. Source
    * files already loaded (identity = absolute path + length, recorded
    * b64 in the loading commit's `copyinto` field) are skipped, so
    * re-running after a partial failure, or on a landing directory
    * that keeps growing, loads exactly the files not yet in the table;
    * `force = true` reloads everything regardless. `srcPath` is a
    * directory or a glob. CSV/JSON read under the TABLE's committed
    * schema (plus `formatOptions`, e.g. `header`); parquet columns are
    * aligned to it by name (case-insensitive) and cast — source-only
    * columns refuse loudly, missing target columns refuse loudly (no
    * silent NULL padding on a bulk load).
    *
    * The commit is an ordinary `append` (op string included — the
    * change feed, streaming source, and append-only window
    * classification all treat loads as the inserts they are) carrying
    * the registry delta. Concurrency: the per-attempt guard re-reads
    * the registry against the head the commit publishes over — two
    * racing loaders of the same file lose deterministically (one
    * commits, the other aborts loudly and re-runs with the file now
    * skipped). Returns (committed version, files loaded); a no-op
    * COPY returns the head unchanged with 0.
    */
  def copyInto(
      spark: SparkSession, dir: String, srcPath: String, format: String,
      formatOptions: Map[String, String] = Map.empty,
      force: Boolean = false): (Long, Long) = {
    require(Seq("parquet", "csv", "json").contains(format),
      s"COPY INTO supports parquet|csv|json, got: $format")
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"COPY INTO target $dir is not a versioned table — CREATE it first " +
          "(Databricks' COPY INTO also requires an existing target)"))
    val tblSchema = schemaAt(spark, dir, head).getOrElse(
      throw new IllegalArgumentException(
        s"COPY INTO target $dir has no committed schema"))
    val srcP = new Path(srcPath)
    val f = srcP.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = Option(f.globStatus(srcP)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        if (st.isDirectory) f.listStatus(st.getPath).toSeq else Seq(st) }
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
    require(listed.nonEmpty,
      s"COPY INTO found no data files under $srcPath")
    def identity(st: org.apache.hadoop.fs.FileStatus): String =
      s"${st.getPath.toUri.getPath}|${st.getLen}"
    val todo =
      if (force) listed
      else {
        val loaded = copyIntoLoaded(spark, dir)
        listed.filterNot(st => loaded.contains(identity(st)))
      }
    if (todo.isEmpty) return (head, 0L)
    val paths = todo.map(_.getPath.toString)
    val raw = format match {
      case "parquet" => spark.read.options(formatOptions).parquet(paths: _*)
      case _ => // text formats take the table's schema (Databricks rule)
        spark.read.options(formatOptions).schema(tblSchema)
          .format(format).load(paths: _*)
    }
    // align by name, case-insensitively, and cast to the committed
    // types — refusing both directions' mismatches by name
    val srcByLower = raw.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    val missing = tblSchema.fields.filterNot(tf =>
      srcByLower.contains(tf.name.toLowerCase(java.util.Locale.ROOT))).map(_.name)
    require(missing.isEmpty,
      s"COPY INTO source lacks target column(s): ${missing.mkString(", ")}")
    val tgtLower = tblSchema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val extra = raw.columns.filterNot(c =>
      tgtLower.contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(extra.isEmpty,
      s"COPY INTO source carries column(s) the target lacks: " +
        s"${extra.mkString(", ")} — drop them at the source or evolve the " +
        "table schema first")
    val aligned = raw.select(tblSchema.fields.toSeq.map { tf =>
      org.apache.spark.sql.functions
        .col(srcByLower(tf.name.toLowerCase(java.util.Locale.ROOT)))
        .cast(tf.dataType).as(tf.name) }: _*)
    val ids = todo.map(identity)
    val guard: Option[LogEntry] => Unit = _ =>
      if (!force) {
        val nowLoaded = copyIntoLoaded(spark, dir)
        val clash = ids.filter(nowLoaded.contains)
        require(clash.isEmpty,
          s"COPY INTO lost a race: ${clash.take(3).mkString(", ")} " +
            s"loaded concurrently into $dir — re-run COPY INTO (the " +
            "re-plan will skip them)")
      }
    val v = appendCommit(aligned, dir, mergeSchema = false, ids.sorted, guard)
    (v, todo.size.toLong)
  }

  /** Registers ALREADY-WRITTEN parquet files as ONE append commit —
    * the bulk-ingest primitive (Iceberg `add_files` / Delta's
    * commit-existing-files analog): no data rewrite, no shuffle, one
    * log write. The staging pattern: write data once (any layout,
    * any job), move/land the files under the table root, then commit
    * each batch's file set with this — e.g. a backfill that writes a
    * year of partitions with one big job and registers them as
    * per-day commits, or a CDC fixture that lands N micro-batch
    * commits from one partitioned write.
    *
    * `relFiles` are table-relative `"<subdir>/<file>.parquet"` paths —
    * exactly TWO segments, the invariant every file-identity
    * derivation in the engine relies on (DV anti-joins and the CDF
    * version tagger key files by the last two path segments of
    * `input_file_name()`). Schema is read from the files' footers and
    * enforced/evolved against the head exactly like [[append]];
    * constraints validate against the files' rows (one scan) before
    * the commit publishes. Refused on column-mapped tables: the files
    * would have to be pre-written under physical names planned against
    * a head that can drift before the commit lands.
    */
  def addFiles(
      spark: SparkSession, dir: String, relFiles: Seq[String],
      mergeSchema: Boolean = false,
      knownSchema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    require(relFiles.nonEmpty, "addFiles needs at least one file")
    val bad = relFiles.filterNot(f =>
      f.split("/").length == 2 && !f.startsWith("/") && !f.contains(".."))
    require(bad.isEmpty,
      s"addFiles paths must be table-relative '<subdir>/<file>' (two " +
        s"segments, no '..'): ${bad.take(3).mkString(", ")}")
    // a duplicate WITHIN one batch would double-count the file's rows
    // in every snapshot from here on — the same failure the
    // against-the-head guard below refuses, checked batch-internally
    val batchDup = relFiles.diff(relFiles.distinct).distinct
    require(batchDup.isEmpty,
      s"addFiles: duplicated within the batch: ${batchDup.take(3).mkString(", ")}")
    val f = fs(spark, dir)
    val missing = relFiles.filterNot(rel => f.exists(new Path(dir, rel)))
    require(missing.isEmpty,
      s"addFiles: no such file under the table root: " +
        s"${missing.take(3).mkString(", ")}")
    // footer schema inference is a (small) Spark job per call — a bulk
    // loader registering many batches passes the schema it wrote with
    // (`knownSchema`) and pays zero jobs; parquet read-time projection
    // still fails loudly on a lying schema when the rows are read
    val df0 = readFiles(spark, dir, knownSchema, relFiles)
    // on a hive-converted table, files landed under `<col>=<val>/`
    // need not store the partition column — the ongoing-migration
    // pattern (land tomorrow's partition dir, register it): inject the
    // path value so schema enforcement and constraint validation see
    // the full column set, exactly as every read will
    val planned = headEntry(spark, dir)
    val head0 = planned.map(_._2)
    val df = hiveFieldOf(head0.flatMap(schemaOf)) match {
      case Some(hf) if !df0.columns.contains(hf.name) &&
          relFiles.forall(_.startsWith(s"${hf.name}=")) =>
        injectHive(df0, hf, org.apache.spark.sql.functions.input_file_name())
      case _ => df0
    }
    val validate = validatorFor(df)
    validate(head0, head0.map(_.constraints).getOrElse(Map.empty))
    val physFor = physPlanFor(head0, df)
    require(physFor.forall(kv => kv._1 == kv._2),
      s"addFiles on a column-mapped table is not supported — rewrite " +
        s"through append() so files land under the mapped physical names")
    val v = commitRetry(spark, dir, "append",
      head => evolvedSchemaJson(dir, head, df, mergeSchema, physFor),
      None, prev => {
        // double-registration would double-count the file's rows in
        // every snapshot from here on — refuse loudly (checked against
        // the very head the CAS publishes over, so a racer can't slip
        // the same file in between check and commit)
        val dup = relFiles.filter(prev.toSet)
        require(dup.isEmpty,
          s"addFiles: already in the snapshot: ${dup.take(3).mkString(", ")}")
        prev ++ relFiles
      }, preCommit = validate, planned = planned).get
    carrySidecars(spark, dir, v - 1, v,
      filesAt(spark, dir, v).toSet -- relFiles.toSet, relFiles)
    v
  }

  /** CONVERT an existing plain-parquet directory into a versioned
    * table IN PLACE (Delta's `CONVERT TO DELTA parquet.`/dir``
    * analog): discovers every parquet file under `dir`, normalizes the
    * layout, and publishes v1 referencing the files where they sit —
    * zero data copied, the migration path for a pre-existing dataset.
    *
    *  - FLAT part-files (the common `df.write.parquet` layout, depth
    *    1) are RENAMED into a fresh `d-convert-<uuid>/` subdir first:
    *    every engine identity ([[fileKey]] = last two path segments,
    *    what scans report via `input_file_name`) and vacuum's `d-*`
    *    sweep require the two-segment shape. A rename is a metadata
    *    op — still zero bytes copied.
    *  - Deeper non-partitioned nesting keeps its paths as-is.
    *  - HIVE-PARTITIONED layouts (`col=value` path segments) are
    *    REFUSED loudly: the partition values live in the directory
    *    names, not the files, so an in-place conversion would silently
    *    drop those columns — rewrite through `append` (or pass the
    *    reconstructed frame) instead. Delta's CONVERT takes a
    *    PARTITIONED BY spec for this; this engine deliberately has no
    *    physical-partition layout (zone maps + clustering instead).
    *
    * Schema comes from a footer-merged inference pass unless
    * `knownSchema` is given. Hidden files/dirs (`_`/`.`-prefixed, e.g.
    * `_SUCCESS`, `.crc`) are ignored; a non-parquet data file refuses
    * the conversion rather than silently dropping rows. Duplicate
    * [[fileKey]] identities are refused by the commit-identity guard
    * like every commit.
    */
  def convert(
      spark: SparkSession, dir: String,
      knownSchema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    require(currentVersion(spark, dir).isEmpty,
      s"$dir is already a versioned table")
    val f = fs(spark, dir)
    val root = new Path(dir)
    require(f.exists(root), s"no such directory: $dir")
    val rootUri = f.makeQualified(root).toUri.getPath
    def relOf(p: Path): String = {
      val abs = f.makeQualified(p).toUri.getPath
      require(abs.startsWith(rootUri), s"$abs escapes the table root")
      abs.drop(rootUri.length).dropWhile(_ == '/')
    }
    val it = f.listFiles(root, true)
    val rels = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val rel = relOf(it.next().getPath)
      val segs = rel.split("/")
      if (!segs.exists(s => s.startsWith("_") || s.startsWith("."))) {
        require(rel.endsWith(".parquet"),
          s"convert: non-parquet data file under $dir: $rel — convert " +
            "registers parquet only; remove or rewrite the file first")
        rels += rel
      }
    }
    require(rels.nonEmpty, s"convert: no parquet files under $dir")
    // single-level hive layout (`col=val/part.parquet`) converts IN
    // PLACE: files register where they sit (exactly the two-segment
    // identity shape), the partition column is marked [[HivePartKey]]
    // in the committed schema, and reads inject its value from the
    // path. Deeper or mixed partition nesting is refused — multi-level
    // layouts break the engine-wide two-segment file identity; rewrite
    // through append() (the engine's clustering + zone maps replace
    // composite partitioning).
    val hiveRe = "^([^=/]+)=([^/]*)$".r
    val hiveCols = rels.map(_.split("/")(0)).collect {
      case hiveRe(c, _) => c }.distinct
    if (hiveCols.nonEmpty) {
      require(hiveCols.size == 1,
        s"convert: multiple hive partition columns at the top level of " +
          s"$dir (${hiveCols.mkString(", ")}) — inconsistent layout")
      val pcol = hiveCols.head
      val bad = rels.filterNot { r =>
        val segs = r.split("/")
        segs.length == 2 && segs(0).startsWith(s"$pcol=")
      }
      require(bad.isEmpty,
        s"convert: mixed or multi-level hive layout under $dir " +
          s"(${bad.take(3).mkString(", ")}) — only a single-level " +
          s"`$pcol=<val>/` layout converts in place; rewrite deeper " +
          "nesting through append() and use OPTIMIZE ZORDER BY for " +
          "composite pruning")
      // partition discovery (NOT recursive lookup) infers the
      // partition column's name and type exactly as Spark would serve
      // the directory today — the conversion changes how the values
      // are resolved, never what they are
      val discovered = knownSchema.getOrElse(spark.read.parquet(dir).schema)
      require(discovered.fieldNames.contains(pcol),
        s"convert: partition column $pcol absent from the " +
          s"${if (knownSchema.isDefined) "provided" else "discovered"} " +
          s"schema of $dir")
      val marked = org.apache.spark.sql.types.StructType(
        discovered.fields.map { fl =>
          if (fl.name == pcol)
            fl.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(fl.metadata).putBoolean(HivePartKey, true).build())
          else fl
        })
      return commitAttempt(spark, dir, "convert",
        _ => marked.json, None, _ => rels.toSeq.sorted).get
    }
    val flat = rels.filter(!_.contains("/"))
    val moved: Seq[String] =
      if (flat.isEmpty) rels.toSeq
      else {
        val sub = s"d-convert-${UUID.randomUUID().toString}"
        require(f.mkdirs(new Path(root, sub)), s"convert: mkdir $sub failed")
        flat.foreach { name =>
          require(f.rename(new Path(root, name), new Path(root, s"$sub/$name")),
            s"convert: rename of $name failed")
        }
        rels.toSeq.map(r => if (r.contains("/")) r else s"$sub/$r")
      }
    val schema = knownSchema.getOrElse(
      spark.read.option("recursiveFileLookup", "true").parquet(dir).schema)
    commitAttempt(spark, dir, "convert",
      _ => schema.json, None, _ => moved.sorted).get
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE` analog):
    * publishes `dst` as a NEW table whose v1 references the source's
    * current snapshot files BY ABSOLUTE PATH — zero data copied, one
    * log-sized commit however big the source is. The standard
    * dev/test-on-production workflow at 100 TB: fork the table in
    * milliseconds, mutate the fork freely. The clone then lives its
    * own life — appends land under its own root; rewrites
    * (update/delete/merge) replace cloned references with local files
    * for the touched subset; OPTIMIZE/compact localizes everything.
    * Schema (including column mapping), deletion vectors, CHECK
    * constraints, and the dropped-physical-name set all carry, so the
    * clone reads exactly what the source read at clone time.
    *
    * Vacuum safety, BOTH directions (Delta only guarantees one):
    *  - `vacuum(clone)` sweeps only `d-*` dirs under the clone's own
    *    root — foreign absolute references are structurally out of its
    *    reach;
    *  - cloneTable first writes a permanent PIN sidecar
    *    (`pin-<uuid>.json`, the cloned file list) into the SOURCE's
    *    log; `vacuum(src)` treats pinned files as live even after
    *    their versions leave the retained window. Pins persist until
    *    the pin file is deleted by hand — dropping a clone is rare and
    *    explicit, and a stale pin costs disk, never correctness.
    *
    * A vacuum racing the clone is closed out by re-verification: the
    * pin publishes, then the pinned data dirs are re-checked — if the
    * racer swept one between snapshot resolution and pin publish, the
    * clone fails loudly (re-run it) instead of publishing dangling
    * references.
    *
    * `versionAsOf` clones a TIME-TRAVEL snapshot instead of the head
    * (Delta's `SHALLOW CLONE s VERSION AS OF n`): the pin records and
    * protects that version's files, so the fork of "yesterday's table"
    * stays valid even after the source's later rewrites and vacuums.
    * The version must still be retained (not vacuumed) at clone time.
    * For `TIMESTAMP AS OF`, resolve with [[versionAsOf(spark,dir,ts)]]
    * first — the DDL and `CALL system.clone` do exactly that.
    *
    * `deep = true` is Delta's DEEP CLONE (the bare `CLONE` DDL): every
    * snapshot file is COPIED under the clone's own root and v1
    * references the local copies — the clone owns its bytes outright,
    * so no pin is written at the source and no source-side vacuum can
    * ever strand it. The copy is distributed (one Spark task per slice
    * of the file list; the bytes move executor-side, never through the
    * driver) and preserves each file's two-segment identity, so
    * deletion vectors and change-feed attribution carry verbatim. A
    * vacuum racing the copy fails it loudly (missing source file) —
    * re-run; a partially-copied destination is reusable (copies
    * overwrite) because nothing is committed until every copy landed.
    */
  def cloneTable(spark: SparkSession, src: String, dst: String,
      versionAsOf: Option[Long] = None, deep: Boolean = false): Long = {
    val f = fs(spark, src)
    require(currentVersion(spark, dst).isEmpty,
      s"clone destination $dst is already a table")
    val headV = currentVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $src"))
    val head = versionAsOf.getOrElse(headV)
    require(versionAsOf.isEmpty || versions(spark, src).contains(head),
      s"clone source version $head is not retained at $src (vacuumed or " +
        s"never committed; head is $headV)")
    val srcFiles = filesAt(spark, src, head)
    def isAbs(p: String) = p.startsWith("/") || p.contains("://")
    // absolute references must keep the SOURCE's filesystem: qualify
    // the root and keep scheme+authority for non-local stores. (Also
    // the root the deep copy READS from.)
    val qualifiedRoot = f.makeQualified(new Path(src))
    val srcScheme = Option(qualifiedRoot.toUri.getScheme).getOrElse("file")
    val srcRootStr =
      if (srcScheme == "file") qualifiedRoot.toUri.getPath
      else qualifiedRoot.toString
    val schemaJsonStr = schemaAt(spark, src, head)
      .map(_.json)
      .getOrElse(new org.apache.spark.sql.types.StructType().json)
    val srcDvs = dvsAt(spark, src, head)
    val srcDropped = droppedPhysAt(spark, src, head)
    if (deep) {
      // DEEP CLONE: copy every snapshot file under the clone's root,
      // distributed — one task per slice; bytes move executor-side.
      // Two-segment identity is preserved so DVs carry verbatim.
      val pairs = srcFiles.map(p =>
        (if (isAbs(p)) p else s"$srcRootStr/$p", fileKey(p)))
      val dup = pairs.groupBy(_._2).filter(_._2.size > 1)
      require(dup.isEmpty,
        s"deep clone of $src would copy files with colliding identities " +
          s"(same last two path segments): ${dup.head._2.map(_._1).mkString(" vs ")}")
      val hc = new org.apache.spark.sql.graft.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val dstQ = fs(spark, dst).makeQualified(new Path(dst)).toString
      val slices = math.max(1, math.min(pairs.size,
        spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(pairs, slices).foreach { case (sp, rel) =>
        val conf = hc.value
        val from = new Path(sp)
        val to = new Path(s"$dstQ/$rel")
        val sfs = from.getFileSystem(conf)
        val tfs = to.getFileSystem(conf)
        // overwrite = true: a re-run after a partial failure reuses the
        // destination; nothing commits until every copy landed
        if (!org.apache.hadoop.fs.FileUtil.copy(sfs, from, tfs, to,
            false, true, conf))
          throw new java.io.IOException(s"deep clone copy failed: $sp -> $to")
      }
      val v1 = commitAttempt(spark, dst, "clone-deep",
        _ => schemaJsonStr, None, _ => pairs.map(_._2),
        dvsFor = _ => srcDvs, dropPhys = srcDropped.toSeq).get
      constraintsAt(spark, src, head).toSeq.sortBy(_._1).foreach { case (n, sql) =>
        commitAttempt(spark, dst, "set-constraint",
          _ => schemaJsonStr, None, identity, constraint = Some(n -> Some(sql)))
      }
      return v1
    }
    val localRel = srcFiles.filterNot(isAbs)
    if (localRel.nonEmpty) {
      val pin = new Path(logPath(src), s"pin-${UUID.randomUUID().toString}.json")
      val tmp = new Path(logPath(src), s".${pin.getName}.tmp")
      val o = f.create(tmp, true)
      try o.write(LogCodec.encodePin(LogCodec.Pin(head, localRel))
        .getBytes(StandardCharsets.UTF_8))
      finally o.close()
      require(f.rename(tmp, pin), s"pin publish failed cloning $src")
      // the pin protects files from NOW ON; re-verify every pinned
      // FILE survived any vacuum that raced the publish. Per-file, not
      // per-dir: vacuum's sweep deletes individual dead parquet files
      // inside dirs that still hold live ones, so a dir-level check
      // would pass while a rewritten file this snapshot references is
      // already gone — publishing dangling references. One metadata op
      // per pinned file, paid once per clone (the same order as the
      // snapshot resolution that produced the list).
      val gone = localRel.filterNot(rel => f.exists(new Path(src, rel)))
      require(gone.isEmpty,
        s"clone of $src lost a race with vacuum: pinned data files " +
          s"${gone.take(3).mkString(", ")} vanished before the pin " +
          "landed — re-run")
    }
    // (s3a://bucket/…, hdfs://nn/…) — toUri.getPath alone would strand
    // the clone's references on the default filesystem. Local paths
    // stay bare ("/tmp/…"): a "file:/…" spelling would fail the
    // engine-wide isAbs test (startsWith("/") || contains("://")).
    val files = srcFiles.map(p => if (isAbs(p)) p else s"$srcRootStr/$p")
    val v1 = commitAttempt(spark, dst, "clone",
      _ => schemaJsonStr, None, _ => files,
      dvsFor = _ => srcDvs, dropPhys = srcDropped.toSeq).get
    // CHECK constraints carry as follow-up metadata commits (the rows
    // already satisfied them at the source — no re-validation scan)
    constraintsAt(spark, src, head).toSeq.sortBy(_._1).foreach { case (n, sql) =>
      commitAttempt(spark, dst, "set-constraint",
        _ => schemaJsonStr, None, identity, constraint = Some(n -> Some(sql)))
    }
    v1
  }

  /** The clone pins registered in `dir`'s log: (pin sidecar name,
    * pinned source version, pinned file count). Pins are written by
    * [[cloneTable]] and protect the listed files from [[vacuum]]
    * forever — inspect with this, release with [[removePin]] once the
    * clone is gone.
    */
  def listPins(spark: SparkSession, dir: String): Seq[(String, Long, Int)] = {
    val f = fs(spark, dir)
    if (!f.exists(logPath(dir))) return Seq.empty
    f.listStatus(logPath(dir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("pin-") && p.getName.endsWith(".json"))
      .sortBy(_.getName)
      .map { p =>
        val pin = LogCodec.decodePin(readFully(spark, dir, p))
        (p.getName, pin.version, pin.files.size)
      }
  }

  /** Releases a clone pin by sidecar name (from [[listPins]]): the
    * pinned files become ordinary vacuum candidates again. Only do
    * this after the clone that wrote the pin is deleted — the files go
    * away on the NEXT vacuum, not here, so a mistaken release is
    * recoverable until then.
    */
  def removePin(spark: SparkSession, dir: String, pinName: String): Unit = {
    require(pinName.startsWith("pin-") && pinName.endsWith(".json") &&
      !pinName.contains("/"),
      s"not a pin sidecar name: $pinName (use listPins)")
    val f = fs(spark, dir)
    val p = new Path(logPath(dir), pinName)
    require(f.exists(p), s"no pin $pinName at $dir")
    require(f.delete(p, false), s"failed to delete pin $pinName at $dir")
  }

  /** Idempotent append (exactly-once sink contract): commits `df` tagged
    * with writer transaction (`appId`, `txnVersion`); if the table has
    * already committed `txnVersion` or later for `appId`, the call is a
    * no-op returning None — BEFORE writing data files, so a replayed
    * micro-batch costs a log read, not a write. This is how a
    * `foreachBatch(batchId => ...)` sink survives checkpoint replay
    * without duplicating rows (Delta's `txnAppId`/`txnVersion` option).
    *
    * Requires monotonically increasing `txnVersion` per `appId` (which
    * Structured Streaming's batchId provides).
    *
    * Writers with DIFFERENT appIds may commit concurrently — the
    * optimistic retry serializes them. Concurrent replays of the SAME
    * (appId, txnVersion) are also safe: the watermark guard is
    * evaluated INSIDE each commit attempt against the very head
    * snapshot the version CAS then verifies, so of two racers at the
    * same head exactly one publishes (CAS) and the loser's retry
    * re-reads the new head, sees the watermark, and returns None —
    * at-most-once without any check-then-commit window. (The early
    * check below is only a fast path that skips writing data files.)
    */
  def appendIdempotent(
      df: DataFrame, dir: String, appId: String, txnVersion: Long): Option[Long] = {
    val spark = df.sparkSession
    if (lastTxnVersion(spark, dir, appId).exists(_ >= txnVersion)) None
    else {
      val validate = validatorFor(df)
      val planned = headEntry(spark, dir)
      val head0 = planned.map(_._2)
      validate(head0, head0.map(_.constraints).getOrElse(Map.empty))
      val physFor = physPlanFor(head0, df)
      val physDf =
        if (physFor.forall(kv => kv._1 == kv._2)) df
        else df.select(df.columns.toSeq.map(c =>
          org.apache.spark.sql.functions.col(c).as(physFor(c))): _*)
      val fresh = bucketPlanFor(head0, df, physFor) match {
        case Some((bc, n, sc)) => writeDataFilesBucketed(physDf, dir, bc, n, sc)
        case None => writeDataFiles(physDf, dir)
      }
      val committed = commitRetry(spark, dir, "append",
        head => evolvedSchemaJson(dir, head, df, mergeSchema = false, physFor),
        Some(appId -> txnVersion), prev => prev ++ fresh, preCommit = validate,
        planned = planned)
      committed.foreach(v => carrySidecars(spark, dir, v - 1, v,
        filesAt(spark, dir, v).toSet -- fresh.toSet, fresh))
      committed.foreach(maybeAutoCompact(spark, dir, _))
      committed
    }
  }

  /** Overwrite commit: next snapshot = the new set alone. Old versions
    * stay readable until `vacuum`.
    */
  def overwrite(df0: DataFrame, dir: String): Long = {
    val spark = df0.sparkSession
    // GENERATED columns compute-if-absent like append (a schema
    // overwrite cannot silently drop the generation contract — DROP
    // COLUMN or UNSET the property to detach it)
    val planned = headEntry(spark, dir)
    val head0 = planned.map(_._2)
    val df = withGenerated(df0,
      head0.map(e => generatedOf(e.props)).getOrElse(Map.empty), None)
    val validate = validatorFor(df)
    // the dropped-column guard runs INSIDE each attempt against the
    // constraint set it publishes under — a concurrent addConstraint
    // referencing a column this overwrite drops must fail THIS commit,
    // not write-block the table (the attempt's own alignment would let
    // it pass as NULL)
    val guarded = (head: Option[LogEntry], cons: Map[String, String]) => {
      val gen = head.map(e => implicitChecks(e.props)).getOrElse(Map.empty)
      requireConstrainedColsPresent(spark, cons ++ gen, df.schema,
        s"overwrite of $dir")
      validate(head, cons ++ gen)
    }
    guarded(head0, head0.map(_.constraints).getOrElse(Map.empty))
    val physDf = toPhysicalFrame(df, Some(df.schema))
    val files = bucketPlanFor(head0, df, Map.empty) match {
      case Some((bc, n, sc)) => writeDataFilesBucketed(physDf, dir, bc, n, sc)
      case None => writeDataFiles(physDf, dir)
    }
    val v = commitRetry(spark, dir, "overwrite",
      _ => df.schema.json, None, _ => files, preCommit = guarded, planned = planned).get
    // nothing kept: fresh-file stats cost O(this write), and zones for
    // still-present zoned columns keep data skipping through overwrite
    carrySidecars(spark, dir, v - 1, v, kept = Set.empty, fresh = files)
    v
  }

  /** Idempotent overwrite: `overwrite` guarded by the same writer-
    * transaction watermark as [[appendIdempotent]].
    */
  def overwriteIdempotent(
      df0: DataFrame, dir: String, appId: String, txnVersion: Long): Option[Long] = {
    val spark = df0.sparkSession
    if (lastTxnVersion(spark, dir, appId).exists(_ >= txnVersion)) None
    else {
      val planned = headEntry(spark, dir)
      val head0 = planned.map(_._2)
      val df = withGenerated(df0,
        head0.map(e => generatedOf(e.props)).getOrElse(Map.empty), None)
      val validate = validatorFor(df)
      val guarded = (head: Option[LogEntry], cons: Map[String, String]) => {
        val gen = head.map(e => implicitChecks(e.props)).getOrElse(Map.empty)
        requireConstrainedColsPresent(spark, cons ++ gen, df.schema,
          s"overwrite of $dir")
        validate(head, cons ++ gen)
      }
      guarded(head0, head0.map(_.constraints).getOrElse(Map.empty))
      val physDf = toPhysicalFrame(df, Some(df.schema))
      val files = bucketPlanFor(head0, df, Map.empty) match {
        case Some((bc, n, sc)) => writeDataFilesBucketed(physDf, dir, bc, n, sc)
        case None => writeDataFiles(physDf, dir)
      }
      val committed = commitRetry(spark, dir, "overwrite", _ => df.schema.json,
        Some(appId -> txnVersion), _ => files, preCommit = guarded, planned = planned)
      committed.foreach(v =>
        carrySidecars(spark, dir, v - 1, v, kept = Set.empty, fresh = files))
      committed
    }
  }

  /** Pinned commit for operations that REWRITE rows they read
    * (compact, restore, schema changes): the snapshot must still be at the
    * version the rewrite was planned against, else the rewrite would
    * silently drop whatever a concurrent commit changed. Fails with
    * [[CommitRace]] on conflict — the caller re-plans from the new
    * head, exactly Delta's conflict-resolution rule for
    * rewrite-style transactions.
    */
  private[graft] def commitPinned(
      spark: SparkSession, dir: String, basedOn: Long, op: String,
      schemaJson: String, files: Seq[String],
      dvsFor: Map[String, Seq[Long]] => Map[String, Seq[Long]] = identity,
      txn: Option[(String, Long)] = None,
      pairKeys: Seq[String] = Nil,
      dropPhys: Seq[String] = Nil): Option[Long] =
    // schema precomputed by the caller against `basedOn`, which the
    // attempt verifies is still the head — no staleness window. None
    // only under `txn`: the watermark already covers this version
    // (idempotent replay), evaluated inside the attempt like
    // appendIdempotent's guard.
    commitAttempt(
      spark, dir, op, _ => schemaJson, txn, _ => files, Some(basedOn), dvsFor,
      pairKeys = pairKeys, dropPhys = dropPhys)

  /** Publishes a row-level rewrite — `touched` files replaced by
    * `fresh`, everything else carried — with Delta's WriteSerializable
    * commute rule instead of [[commitPinned]]'s fail-on-any-commit:
    * when a concurrent commit lands, the rewrite RE-BASES and retries
    * iff its read set provably still holds at the new head —
    *
    *  - every touched file is still live (nobody else rewrote,
    *    compacted, or overwrote what this rewrite read),
    *  - the touched files' deletion vectors are unchanged (a
    *    concurrent MoR delete of a touched row would be resurrected
    *    by our rewrite output),
    *  - the committed schema is unchanged (our output was produced
    *    under the base schema; republishing it after an evolution
    *    would narrow the table).
    *
    * Blind appends and rewrites of DISJOINT file sets therefore both
    * land; overlapping rewrites and schema changes still fail loudly
    * with [[CommitRace]]. Snapshot-isolation caveat, exactly Delta's:
    * rows a concurrent append added are NOT re-examined by this
    * rewrite's predicate (WriteSerializable, not Serializable).
    */
  /** See class note; `commuteCheck(head)` lets the caller veto a
    * re-base with operation-specific read-set logic — MERGE uses it to
    * scan concurrently-ADDED files for its source keys, because its
    * insert clause read "key absent", which a blind append can
    * invalidate even though no touched file changed. `softDeleted`
    * files stay in the snapshot (the caller's `dvsFor` grows their
    * DVs) but join the read set under the same two rules as `touched`.
    */
  private[graft] def commitRewriteCommuting(
      spark: SparkSession, dir: String, basedOn: Long, op: String,
      schemaJson: String, touched: Seq[String], fresh: Seq[String],
      dvsFor: Map[String, Seq[Long]] => Map[String, Seq[Long]] = identity,
      maxAttempts: Int = 16,
      commuteCheck: Long => Boolean = _ => true,
      txn: Option[(String, Long)] = None,
      pairKeys: Seq[String] = Nil,
      softDeleted: Seq[String] = Nil): Option[Long] = {
    val touchedSet = touched.toSet
    val readSet = touched ++ softDeleted
    val baseDvs = dvsAt(spark, dir, basedOn)
    var base = basedOn
    var attempt = 1
    while (true) {
      val kept = filesAt(spark, dir, base).filterNot(touchedSet)
      try return commitPinned(
        spark, dir, base, op, schemaJson, kept ++ fresh, dvsFor, txn, pairKeys)
      catch {
        case e: CommitRace =>
          if (attempt >= maxAttempts) throw e
          val head = currentVersion(spark, dir).getOrElse(throw e)
          val headFiles = filesAt(spark, dir, head).toSet
          val headDvs = dvsAt(spark, dir, head)
          val readSetHolds =
            readSet.forall(headFiles.contains) &&
              readSet.forall(f =>
                headDvs.getOrElse(fileKey(f), Seq.empty) ==
                  baseDvs.getOrElse(fileKey(f), Seq.empty)) &&
              schemaAt(spark, dir, head).map(_.json) ==
                schemaAt(spark, dir, basedOn).map(_.json) &&
              // the rewrite output was validated under the base's CHECK
              // constraints; a concurrent constraint change must force
              // a re-plan, not slip through the re-base
              constraintsAt(spark, dir, head) == constraintsAt(spark, dir, basedOn) &&
              commuteCheck(head)
          if (!readSetHolds)
            throw new CommitRace(
              s"$op at $dir read files a concurrent commit changed " +
                s"(planned at v$basedOn, head now v$head) — re-plan and retry")
          base = head
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compaction commit (OPTIMIZE analog on the versioned layout): the
    * current snapshot rewritten as one coalesced file set. Rows are
    * unchanged — the commit just swaps many small files for few big
    * ones; history before the compaction still time-travels. Pinned:
    * a concurrent commit fails the compaction (re-run it), never the
    * other way around.
    */
  def compact(spark: SparkSession, dir: String): Long = {
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val df = readAt(spark, dir, v)
    val fresh = writeDataFiles(df, dir)
    // 'optimize', not 'overwrite': compaction is a ROW-PRESERVING
    // rewrite, and downstream maintenance (isRowPreservingWindow)
    // distinguishes it from commits that change table content
    val nv = commitPinned(spark, dir, v, "optimize", df.schema.json, fresh).get
    // re-stat the rewritten files under the base sidecar's columns (a
    // stat pass over files the compaction just rewrote anyway) so a
    // zoned table keeps data skipping through OPTIMIZE
    carrySidecars(spark, dir, v, nv, kept = Set.empty, fresh = fresh)
    nv
  }

  /** Column types whose zone stats live exactly in the long domain:
    * integrals as themselves, timestamps as epoch seconds, dates as
    * epoch days, short decimals (precision ≤ 18) as their unscaled
    * value — [[ZoneMaps.compute]] holds the per-type stat expressions
    * and the DSv2 bounds miner the matching predicate conversions.
    * Strings sort a clustered layout but are not zoned.
    */
  private def zoneableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType |
           DateType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    }
  }

  /** Shared core of the clustered-rewrite OPTIMIZEs ([[optimizeClusterBy]],
    * [[compactClustered]]): rewrites the whole current snapshot through
    * `cluster` (live rows only — DVs materialize into the rewrite and
    * retire with the files that carried them), commits pinned under the
    * one `optimize` op label, and publishes ONE fresh sidecar covering
    * both the requested zone columns and every column the table was
    * already zoned on — a clustering rewrite must never cost a
    * previously-zoned column its data skipping.
    */
  private def clusteredRewrite(
      spark: SparkSession, dir: String, v: Long,
      cluster: DataFrame => DataFrame, zoneCols: Seq[String]): Long = {
    val df = readAt(spark, dir, v)
    val fresh = writeDataFiles(cluster(df), dir)
    val nv = commitPinned(spark, dir, v, "optimize", df.schema.json, fresh).get
    // union with the columns the table was already zoned on, but only
    // those still present AND long-castable under the snapshot being
    // rewritten — a column whose type evolved since it was zoned would
    // stat as all-NULL sentinels (prune-everything) or throw after the
    // commit already published
    // block names are the base snapshot's PHYSICAL names; the rewrite
    // materialized logical names, so translate through the base mapping
    val baseSch = schemaAt(spark, dir, v)
    val carried = zonedAnchor(spark, dir, v).getOrElse(Seq.empty).map(_._1)
      .map(phys => baseSch
        .flatMap(_.fields.find(f => physicalName(f) == phys).map(_.name))
        .getOrElse(phys))
      .filter(c =>
        df.schema.fieldNames.contains(c) && zoneableType(df.schema(c).dataType))
    // base STRING-zoned columns re-stat too (writeZoneMaps routes them
    // to the truncated-bounds sidecar) — a rewrite must never cost a
    // previously-zoned string column its data skipping either
    val carriedStr = strAnchor(spark, dir, v).getOrElse(Seq.empty).map(_._1)
      .map(phys => baseSch
        .flatMap(_.fields.find(f => physicalName(f) == phys).map(_.name))
        .getOrElse(phys))
      .filter(c => df.schema.fieldNames.contains(c) &&
        df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val cols = (zoneCols ++ carried ++ carriedStr).distinct
    if (cols.nonEmpty) writeZoneMaps(spark, dir, nv, cols)
    // zones were just republished above; row counts and string bounds
    // still need their own carry (fresh rewrite: everything re-stats
    // at O(this rewrite))
    val nvEntry = entryAt(spark, dir, nv)
    carryRowCounts(spark, dir, v, nv, nvEntry, kept = Set.empty, fresh = fresh)
    carryStrZones(spark, dir, v, nv, nvEntry, kept = Set.empty, fresh = fresh)
    nv
  }

  /** Clustering OPTIMIZE (the `OPTIMIZE … ZORDER BY` / liquid-
    * clustering analog): rewrites the current snapshot RANGE-
    * partitioned and sorted on `clusterCols`, then publishes a fresh
    * zone sidecar for the long-castable ones — after appends have
    * interleaved values across files, every file spans the whole
    * domain and zone maps prune nothing; clustering is what makes the
    * per-file [lo, hi] ranges narrow and disjoint, so a zoned range
    * scan opens ~range/domain of the files instead of all of them.
    * Rows are unchanged. Commits pinned like [[compact]]: a concurrent
    * commit fails the optimize (re-run it), never the other way
    * around, and pre-optimize versions still time-travel. Multi-column
    * lists cluster lexicographically — the practical equivalent of
    * Z-ordering when range predicates hit the leading column.
    *
    * Zone stats live in the long domain: integral columns serve the
    * full zoned read path ([[readWhere]]); timestamp columns zone as
    * epoch seconds and prune via [[prunedFiles]]/`zoneHint` (the
    * residual long comparison `readWhere` applies needs an integral
    * column — pre-floor timestamps into one, as the testdata's `ts_us`
    * does); other types sort the layout but are not zoned.
    */
  def optimizeClusterBy(
      spark: SparkSession, dir: String, clusterCols: Seq[String],
      targetFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.col
    require(clusterCols.nonEmpty, "at least one cluster column")
    // v resolved ONCE: the schema checks, file count, and the rewrite
    // all see the same pinned snapshot (a concurrent commit fails the
    // rewrite's CAS instead of invalidating earlier checks)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    // ONE layout authority: a range-clustering rewrite would merge
    // rows across buckets and silently strip every tag — on bucketed
    // tables, within-bucket order is the declared CLUSTER BY keys
    // (applied free on every write) and maintenance is compactSmall/
    // rebucket, both layout-preserving
    require(bucketSpecAt(spark, dir, v).isEmpty,
      s"$dir declares a bucket layout ($BucketByKey) — range clustering " +
        "would strip the bucket tags; declared CLUSTER BY keys already " +
        "sort within buckets on every write, and bare OPTIMIZE / " +
        "system.rebucket maintain the layout")
    val schema = schemaAt(spark, dir, v).getOrElse(
      readAt(spark, dir, v).schema)
    // resolve cluster columns case-insensitively to the committed-schema
    // spelling, like append alignment and constraint resolution do — a
    // caller passing 'ID' against column 'id' must not be refused by the
    // one surface that happened to compare case-sensitively
    val byLower = schema.fieldNames
      .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
    val resolvedOpt = clusterCols.map(c =>
      c -> byLower.get(c.toLowerCase(java.util.Locale.ROOT)))
    val absent = resolvedOpt.collect { case (c, None) => c }
    require(absent.isEmpty,
      s"cluster columns absent from the snapshot schema: ${absent.mkString(", ")}")
    val resolved = resolvedOpt.flatMap(_._2)
    val n = if (targetFiles > 0) targetFiles
      else math.max(1, filesAt(spark, dir, v).size)
    // strings cluster (range partition + sort) and zone like any other
    // column — writeZoneMaps routes them to the truncated-bounds
    // sidecar, so `OPTIMIZE … BY (url)` makes string predicates prune
    val zoneable = resolved.filter(c => zoneableType(schema(c).dataType) ||
      schema(c).dataType == org.apache.spark.sql.types.StringType)
    val cols = resolved.map(col)
    clusteredRewrite(spark, dir, v,
      df => df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*),
      zoneable)
  }

  /** Z-ORDER clustering OPTIMIZE (Delta's `OPTIMIZE … ZORDER BY` with
    * bit interleaving, vs [[optimizeClusterBy]]'s lexicographic range
    * sort): rewrites the snapshot ordered by the INTERLEAVED bits of
    * each column's quantile-bucket id, so EVERY listed column gets
    * file-level locality — a range predicate on the second or third
    * column prunes files too, which lexicographic clustering only
    * gives the leading column.
    *
    * Mechanics (all catalyst expressions, no UDFs, one extra pass):
    *  1. each column maps to the zone-stat long domain (ints as
    *     themselves, timestamps under the long cast, dates as epoch
    *     days, short decimals unscaled);
    *  2. `approxQuantile` (one pass, all columns together) yields
    *     `buckets-1` boundaries per column — quantile bucketing is
    *     what keeps skewed columns balanced where min/max scaling
    *     would collapse;
    *  3. per row, each column's bucket id = #boundaries ≤ value (a
    *     codegen'd `aggregate` fold over the boundary array literal;
    *     NULLs land in bucket 0);
    *  4. the z-value interleaves the bucket ids bit by bit
    *     (`bits × ncols` shift/and/or terms — straight-line codegen),
    *     and the rewrite range-partitions + sorts on it.
    *
    * Zone sidecars publish for ALL listed columns afterwards, which is
    * the point: each column's per-file [lo, hi] ranges become narrow
    * enough to prune on. Rows are unchanged; the commit is a pinned
    * `optimize` like every clustered rewrite.
    */
  def optimizeZOrderBy(
      spark: SparkSession, dir: String, zCols: Seq[String],
      targetFiles: Int = 0, buckets: Int = 256): Long = {
    import org.apache.spark.sql.functions.col
    require(zCols.nonEmpty && zCols.size <= 4,
      s"Z-ORDER takes 1–4 columns, got ${zCols.size} (more would leave " +
        "too few interleaved bits per column to cluster on)")
    require(buckets >= 2 && buckets <= 65536, s"buckets out of range: $buckets")
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, v).getOrElse(readAt(spark, dir, v).schema)
    val byLower = schema.fieldNames
      .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
    val resolvedOpt = zCols.map(c =>
      c -> byLower.get(c.toLowerCase(java.util.Locale.ROOT)))
    val absent = resolvedOpt.collect { case (c, None) => c }
    require(absent.isEmpty,
      s"Z-ORDER columns absent from the snapshot schema: ${absent.mkString(", ")}")
    val resolved = resolvedOpt.flatMap(_._2)
    val notZoneable = resolved.filterNot(c => zoneableType(schema(c).dataType))
    require(notZoneable.isEmpty,
      s"Z-ORDER columns must be zone-stat typed (integral/timestamp/date/" +
        s"short-decimal): ${notZoneable.mkString(", ")} are not")
    val zExpr = zOrderExpr(readAt(spark, dir, v), schema, resolved, buckets)
    val n = if (targetFiles > 0) targetFiles
      else math.max(1, filesAt(spark, dir, v).size)
    clusteredRewrite(spark, dir, v,
      df => df.withColumn("__z", zExpr)
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z"),
      resolved)
  }

  /** INCREMENTAL Z-ORDER (the liquid-clustering maintenance shape):
    * rewrites ONLY the files no prior OPTIMIZE produced — the
    * unclustered tail of appends and MoR rewrite copies — z-ordered
    * among themselves, and leaves every already-clustered file
    * untouched. At 100 TB this is the difference between a nightly
    * maintenance job that costs O(day's ingest) and one that rewrites
    * the table ([[optimizeZOrderBy]]); the trade is bounded pruning
    * degradation (each incremental generation's z-ranges overlap the
    * base's — files prune within their generation), repaired whenever
    * a full rewrite next runs. Returns None when every live file is
    * already optimize-produced (nothing to do).
    *
    * Clustered-file identity comes from the retained log: the add
    * actions of every retained `optimize` commit. Vacuuming history
    * can forget that a file came from an optimize, making a later
    * incremental run re-cluster it once — wasted work, never wrong
    * rows. Commits under the commuting rule with the tail as its
    * touched set, so concurrent appends land (and get picked up by the
    * NEXT run); zone stats for the fresh files merge into the carried
    * sidecar like every rewrite.
    */
  def zorderIncremental(
      spark: SparkSession, dir: String, zCols: Seq[String],
      targetFiles: Int = 0, buckets: Int = 256): Option[Long] = {
    import org.apache.spark.sql.functions.col
    require(zCols.nonEmpty && zCols.size <= 4,
      s"Z-ORDER takes 1–4 columns, got ${zCols.size}")
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, base).getOrElse(readAt(spark, dir, base).schema)
    val byLower = schema.fieldNames
      .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
    val resolved = zCols.map(c =>
      byLower.getOrElse(c.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"Z-ORDER column absent from the snapshot schema: $c")))
    val notZoneable = resolved.filterNot(c => zoneableType(schema(c).dataType))
    require(notZoneable.isEmpty,
      s"Z-ORDER columns must be zone-stat typed: ${notZoneable.mkString(", ")} are not")
    val all = filesAt(spark, dir, base)
    // O(CheckpointInterval) log reads: checkpoint entries carry the
    // clustered-file provenance, so a nightly incremental run on a
    // high-commit-rate table no longer opens every retained entry
    val clustered = clusteredKeysAt(spark, dir, base)
    val tail = all.filterNot(f => clustered.contains(fileKey(f)))
    if (tail.isEmpty) return None
    val dvs = dvsAt(spark, dir, base)
    val rows = readFileSubset(spark, dir, Some(schema), tail, dvs)
    val zExpr = zOrderExpr(rows, schema, resolved, buckets)
    val n = if (targetFiles > 0) targetFiles else math.max(1, tail.size)
    val out = rows.withColumn("__z", zExpr)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val fresh = writeDataFiles(toPhysicalFrame(out, Some(schema)), dir)
    val v = commitRewriteCommuting(
      spark, dir, base, "optimize", schema.json, tail, fresh)
    v.foreach(nv => carrySidecars(spark, dir, base, nv,
      filesAt(spark, dir, nv).toSet -- fresh.toSet, fresh))
    // a table that was never zoned on these columns gains nothing from
    // the carry — publish stats for the whole snapshot ONCE if no zone
    // sidecar covers the z columns yet (one-time O(table) stat pass,
    // after which every incremental run carries + stats O(tail))
    v.foreach { nv =>
      val have = zonedAnchor(spark, dir, nv).getOrElse(Seq.empty).map(_._1)
        .map(phys => schema.fields.find(f => physicalName(f) == phys)
          .map(_.name).getOrElse(phys)).toSet
      val missing = resolved.filterNot(have)
      if (missing.nonEmpty) writeZoneMaps(spark, dir, nv, resolved)
    }
    v
  }

  /** The interleaved-bit z-value column for `resolved` over the
    * distribution of `sample` (one `approxQuantile` pass for every
    * column's bucket boundaries together) — shared by the full and
    * incremental Z-ORDER rewrites.
    */
  private def zOrderExpr(
      sample: DataFrame, schema: org.apache.spark.sql.types.StructType,
      resolved: Seq[String], buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{aggregate, array, col, lit, shiftleft, shiftright, unix_date, when}
    import org.apache.spark.sql.types.{DateType, DecimalType}
    def statCol(c: String): org.apache.spark.sql.Column =
      schema(c).dataType match {
        case DateType => unix_date(col(c)).cast("long")
        case d: DecimalType =>
          (col(c) * scala.math.BigDecimal(10).pow(d.scale)).cast("long")
        case _ => col(c).cast("long")
      }
    val bits = 32 - Integer.numberOfLeadingZeros(buckets - 1)
    val statNames = resolved.indices.map(i => s"__zs_$i").toArray
    val boundsPerCol = sample
      .select(resolved.zipWithIndex.map { case (c, i) =>
        statCol(c).cast("double").as(s"__zs_$i") }: _*)
      .stat.approxQuantile(
        statNames, (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
    resolved.zipWithIndex.map { case (c, i) =>
      // stat longs round-trip exactly through double up to 2^53 —
      // beyond that a boundary may shift by an ulp, which moves rows
      // between adjacent buckets (layout nuance), never correctness
      val bs = boundsPerCol(i).toSeq.map(_.toLong).distinct.sorted
      val bucket =
        if (bs.isEmpty) lit(0L) // all-NULL column: one bucket
        else aggregate(
          array(bs.map(b => lit(b)): _*), lit(0L),
          (acc, b) => acc + when(b <= statCol(c), 1L).otherwise(0L))
      (0 until bits).map(b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)),
          b * resolved.size + i))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Incremental compaction (the shape of Delta's actual `OPTIMIZE`):
    * bin-packs only files SMALLER than `smallBytes` into `targetFiles`
    * coalesced outputs and leaves already-compact files untouched — at
    * 100 TB an OPTIMIZE that rewrites the whole table per run
    * ([[compact]]) is itself the bottleneck; the steady-state cost must
    * follow the small-file debris (streaming commits, sparse MoR
    * update copies), not table size. File sizes come from one metadata
    * stat per log-listed file — no data opens. Touched files' deletion
    * vectors are materialized into the rewrite and retire with them
    * (kept files keep theirs); zone sidecars carry; commits under the
    * commuting rule, so concurrent appends land. Returns None when
    * fewer than two small files exist (nothing to bin).
    */
  def compactSmall(
      spark: SparkSession, dir: String,
      smallBytes: Long = 32L << 20, targetFiles: Int = 1): Option[Long] = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    compactSmallOf(spark, dir, base, filesAt(spark, dir, base),
      smallBytes, targetFiles)
  }

  /** Partition/zone-scoped OPTIMIZE (Delta's `OPTIMIZE t WHERE pred`):
    * bin-packs small files only inside the slice the predicate
    * selects, so steady-state maintenance cost follows the partition
    * being landed into, not the table — at 100 TB a whole-table
    * OPTIMIZE is itself the bottleneck; you compact the day you just
    * wrote. The predicate (`whereCol = value`) is a COST scope, not a
    * row filter: compaction is row-preserving whatever file subset it
    * rewrites, so a file whose zone range merely spans the value
    * compacts along — never wrong rows, at worst a wider rewrite. The
    * slice resolves from the hive-layout directory value (converted
    * `col=val/` tables) and/or the column's zone maps; a column with
    * neither refuses loudly (Delta's own restriction of OPTIMIZE WHERE
    * to partition columns).
    */
  def compactSmallWhere(
      spark: SparkSession, dir: String, whereCol: String, value: String,
      smallBytes: Long = 32L << 20, targetFiles: Int = 1): Option[Long] = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = schemaAt(spark, dir, base)
    val all = filesAt(spark, dir, base)
    val isHiveCol = hiveFieldOf(schema).exists(_.name.equalsIgnoreCase(whereCol))
    val f = fs(spark, dir)
    val phys = physicalOf(schema, whereCol)
    val zoneBlock = zonesAt(spark, dir, base).flatMap(blockOf(_, phys))
    val strBlock = strZonesAt(spark, dir, base).flatMap(blockOf(_, phys))
    require(isHiveCol || zoneBlock.isDefined || strBlock.isDefined,
      s"OPTIMIZE WHERE needs '$whereCol' to be a hive-layout partition " +
        s"column or zone-mapped (CALL system.zone) at $dir — an unscoped " +
        "column cannot bound the slice; run plain OPTIMIZE for the whole table")
    // the long-zone slice compares in the column type's STAT encoding
    // (dates epoch days, timestamps epoch seconds, short decimals
    // unscaled), so the WHERE literal must translate through the same
    // encoding — a bare toLong would silently no-op every non-integral
    // column. An untranslatable literal on a zones-only column refuses
    // loudly instead of pretending the slice is empty.
    val dt = schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(whereCol)))
      .map(_.dataType)
    val statVal = dt.flatMap(statLongLiteral(spark, value, _))
    require(isHiveCol || strBlock.isDefined || zoneBlock.isEmpty ||
        statVal.isDefined,
      s"OPTIMIZE WHERE literal '$value' does not parse as '$whereCol's " +
        s"type (${dt.fold("unknown")(_.simpleString)}) — the zone slice " +
        "cannot bound it")
    val pathSlice =
      if (isHiveCol) all.filter(_.startsWith(s"$whereCol=$value/")) else Nil
    val zoneSlice = (zoneBlock, statVal) match {
      case (Some(z), Some(v)) => ZoneMaps.prune(all, z, v, v)
      case _ => Nil
    }
    val strSlice = strBlock match {
      case Some(b) => StrZones.prune(all, b, Some(value), Some(value))
      case None => Nil
    }
    val slice = (pathSlice ++ zoneSlice ++ strSlice).distinct
    if (slice.isEmpty) None
    else compactSmallOf(spark, dir, base, slice, smallBytes, targetFiles)
  }

  /** The WHERE literal of [[compactSmallWhere]] translated into the
    * zone-stat long domain of the column's type — the same encoding
    * [[ZoneMaps.compute]] stats files under. None when the literal
    * cannot represent in the type (callers refuse rather than prune).
    */
  private def statLongLiteral(
      spark: SparkSession, value: String,
      dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.functions.{lit, unix_date}
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => value.toLongOption
      case DateType =>
        val r = spark.range(1)
          .select(unix_date(lit(value).try_cast(DateType)).cast("long")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      case TimestampType =>
        // epoch SECONDS — the truncation ZoneMaps stats under
        val r = spark.range(1)
          .select(lit(value).try_cast(TimestampType).cast("long")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      case d: DecimalType if d.precision <= 18 =>
        // exact unscaled value; setScale throws when the literal needs
        // rounding (then no stored decimal can equal it)
        scala.util.Try(
          BigDecimal(value).setScale(d.scale).underlying
            .unscaledValue.longValueExact()).toOption
      case _ => None
    }
  }

  private def compactSmallOf(
      spark: SparkSession, dir: String, base: Long, candidates: Seq[String],
      smallBytes: Long, targetFiles: Int): Option[Long] = {
    require(targetFiles >= 1, "targetFiles must be at least 1")
    val f = fs(spark, dir)
    val small = candidates.filter(rel =>
      f.getFileStatus(dataPath(dir, rel)).getLen < smallBytes)
    if (small.size <= 1) return None
    val logSchema = schemaAt(spark, dir, base)
    val rows = applyDvs(
      spark, readRaw(spark, dir, logSchema, small), dvsAt(spark, dir, base))
    // partial rewrite: the snapshot keeps its other files, so the
    // binned replacements must store the SAME physical column names.
    // A BUCKET-declared table compacts THROUGH the bucketed writer —
    // merging across buckets would silently strip the tags and turn
    // the co-partitioning report off at the very cadence (auto
    // compaction under streaming ingest) bucketed tables live on;
    // rows re-route to their buckets and untagged inputs re-tag free.
    val fresh = bucketSpecAt(spark, dir, base) match {
      case Some((bcols, n)) =>
        val fields = logSchema.getOrElse(rows.schema).fields
        val bphys = bcols.flatMap(c =>
          fields.find(_.name.equalsIgnoreCase(c))).map(physicalName)
        if (bphys.size == bcols.size) {
          val sortPhys = clusterByAt(spark, dir, base)
            .flatMap(c => fields.find(_.name.equalsIgnoreCase(c)))
            .map(physicalName)
          writeDataFilesBucketed(
            toPhysicalFrame(rows, logSchema), dir, bphys, n, sortPhys)
        } else writeDataFiles(
          toPhysicalFrame(rows.coalesce(targetFiles), logSchema), dir)
      case None =>
        writeDataFiles(toPhysicalFrame(rows.coalesce(targetFiles), logSchema), dir)
    }
    // A compaction that does not REDUCE the file count is not a
    // compaction: the bucketed writer emits one file per non-empty
    // bucket, so a small set spread thinner than its bucket fan-out
    // would GROW the table (OPTIMIZE on a high-bucket-count table with
    // few small rows). Commit nothing — the inputs stay live — and
    // drop the orphaned outputs.
    if (fresh.size >= small.size) {
      fresh.foreach(r => f.delete(dataPath(dir, r), false))
      return None
    }
    val v = commitRewriteCommuting(spark, dir, base, "compact-small",
      logSchema.map(_.json).getOrElse(rows.schema.json), small, fresh).get
    carrySidecars(spark, dir, base, v,
      filesAt(spark, dir, v).toSet -- fresh.toSet, fresh)
    Some(v)
  }

  /** Restores the bucketed layout after row-rewriting maintenance:
    * rewrites exactly the UNTAGGED files (merge/update/compact/z-order
    * outputs carry no bucket tag, which soundly disables the scan's
    * co-partitioning report) and the tagged files carrying deletion
    * vectors (a DV'd snapshot reads through the DataFrame bridge, which
    * reports no partitioning either) through the bucketed writer,
    * leaving every other tagged file untouched — incremental,
    * O(drifted), the `zorderIncremental` discipline applied to buckets.
    * Row-preserving rewrite under the commute rule (streams skip it,
    * CDF is silent); DVs on rewritten files materialize. None = nothing
    * to do.
    */
  def rebucket(spark: SparkSession, dir: String): Option[Long] = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val (cols, n) = bucketSpecAt(spark, dir, base).getOrElse(
      throw new IllegalArgumentException(
        s"rebucket needs a declared bucket layout at $dir — SET " +
          s"TBLPROPERTIES ('$BucketByKey' = '<col>[,<col>…],<numBuckets>')"))
    val dvs = dvsAt(spark, dir, base)
    val drifted = filesAt(spark, dir, base)
      .filter(r => bucketOfFile(r).isEmpty || dvs.contains(fileKey(r)))
    if (drifted.isEmpty) return None
    val logSchema = schemaAt(spark, dir, base)
    val fields = cols.map(c =>
      logSchema.getOrElse(readAt(spark, dir, base).schema)
        .fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"bucket column $c absent from the snapshot schema at $dir")))
    val rows = applyDvs(spark, readRaw(spark, dir, logSchema, drifted), dvs)
    val schemaFields = logSchema.getOrElse(rows.schema).fields
    val sortPhys = clusterByAt(spark, dir, base)
      .flatMap(sc => schemaFields.find(_.name.equalsIgnoreCase(sc)))
      .map(physicalName)
    val fresh = writeDataFilesBucketed(
      toPhysicalFrame(rows, logSchema), dir, fields.map(physicalName), n,
      sortPhys)
    val v = commitRewriteCommuting(spark, dir, base, "rebucket",
      logSchema.map(_.json).getOrElse(rows.schema.json), drifted, fresh).get
    carrySidecars(spark, dir, base, v,
      filesAt(spark, dir, v).toSet -- fresh.toSet, fresh)
    Some(v)
  }

  /** Physical-cleanup rewrite — Delta's `REORG TABLE ... APPLY (PURGE)`
    * (delta.io docs; reference rents it from Databricks): rewrites
    * exactly the files whose on-disk BYTES have drifted from the
    * logical snapshot —
    *
    *  1. files carrying deletion vectors (MoR soft-deleted rows still
    *     occupy storage and every scan still pays the DV anti-join for
    *     them), rewritten with the DVs materialized; and
    *  2. files written before the latest DROP COLUMN (the metadata-only
    *     drop leaves the retired physical column's bytes in place),
    *     rewritten storing only the CURRENT physical schema.
    *
    * Logical row content is unchanged by construction, so the commit is
    * row-preserving maintenance like OPTIMIZE: CDF windows contribute
    * nothing for it, append-only streams skip it, and history before it
    * still time-travels. Clean files are NOT touched — REORG on a
    * freshly-optimized table is a no-op returning None — and the
    * rewrite keeps the touched files' granularity (N files in, ≤N files
    * out; never a whole-table coalesce), so the cost follows the drift,
    * not the table size. That is the property that matters at 100 TB:
    * purging a table where 1% of files carry DVs rewrites 1% of the
    * bytes.
    *
    * Stale-file detection is log-derived, not footer reads: files added
    * strictly after the last `droppedphys` growth were written under
    * the current physical schema and are clean; the backward walk stops
    * at the growth point (one driver log read per version since the
    * last DROP COLUMN — or the retained window when the drop predates
    * it, the conservative bound; files older than every retained add
    * record purge as candidates). Commits under the commuting rule:
    * concurrent appends land, anything touching the read set re-plans.
    */
  def reorgPurge(spark: SparkSession, dir: String): Option[Long] = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val all = filesAt(spark, dir, base)
    val dvs = dvsAt(spark, dir, base)
    val dvKeys = dvs.keySet.map(fileKey)
    val retired = droppedPhysAt(spark, dir, base)
    val cleanKeys: Set[String] =
      if (retired.isEmpty) all.map(fileKey).toSet
      else {
        val f = fs(spark, dir)
        val clean = scala.collection.mutable.Set[String]()
        var v = base
        var stop = false
        while (v >= 1 && !stop) {
          // a vacuumed history ends the walk at the retained window's
          // edge — files older than every retained add record simply
          // stay purge candidates (the documented conservative bound)
          // instead of the walk throwing on a missing version
          if (!f.exists(versionFile(dir, v))) stop = true
          else {
            val e = entryAt(spark, dir, v)
            if (e.droppedPhys.toSet != retired) stop = true
            else if (!e.actions.isInstanceOf[Delta] && v > 1 &&
                !f.exists(versionFile(dir, v - 1))) {
              // a full-list commit whose parent is vacuumed cannot
              // separate its adds from carried files: carried bytes may
              // predate the DROP, so marking them clean would skip them
              stop = true
            } else {
              clean ++= addActionsOf(spark, dir, v, e).map(fileKey)
              v -= 1
            }
          }
        }
        clean.toSet
      }
    val touched = all.filter(rel =>
      dvKeys.contains(fileKey(rel)) || !cleanKeys.contains(fileKey(rel)))
    if (touched.isEmpty) return None
    val logSchema = schemaAt(spark, dir, base)
    val purged = applyDvs(
      spark, readRaw(spark, dir, logSchema, touched), dvs)
      .coalesce(touched.size)
    val fresh = writeDataFiles(toPhysicalFrame(purged, logSchema), dir)
    val v = commitRewriteCommuting(spark, dir, base, "reorg",
      logSchema.map(_.json).getOrElse(purged.schema.json), touched, fresh).get
    carrySidecars(spark, dir, base, v,
      filesAt(spark, dir, v).toSet -- fresh.toSet, fresh)
    Some(v)
  }

  /** Z-order clustered compaction (Delta `OPTIMIZE ZORDER BY` analog):
    * rewrites the current snapshot range-partitioned and sorted along
    * the Morton curve of two long columns, then publishes zone maps
    * for BOTH. Files now cover tight rectangles of (x, y) space, so a
    * range predicate on either column prunes from the log — a plain
    * single-column sort can only serve its own column. Rows unchanged;
    * history still time-travels. The curve math is
    * [[graft.functions.ZOrder.zValue]] (low-31-bit domain — cluster on
    * ranks or offsets for wider columns).
    */
  def compactClustered(
      spark: SparkSession, dir: String,
      xCol: String, yCol: String, targetFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.col
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val z = graft.functions.ZOrder.zValue(col(xCol), col(yCol))
    clusteredRewrite(spark, dir, base,
      df => df.withColumn("__z", z)
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"),
      Seq(xCol, yCol))
  }

  /** RESTORE analog (Delta `RESTORE TABLE t TO VERSION AS OF v`):
    * publishes snapshot `v`'s exact file list — and schema — as a NEW
    * head version. Nothing is copied: the old files are simply
    * re-referenced, so a restore is a log-sized operation however big
    * the table. History is preserved (the rolled-back versions still
    * time-travel until `vacuum`), and the restored version's zone-map
    * sidecar carries over verbatim since the file set is identical.
    *
    * Pinned to the head observed at planning: a concurrent commit
    * fails the restore loudly rather than being silently thrown away
    * by it. Requires `v` to still be retained (not vacuumed) — and to
    * STAY retained while the restore runs: a vacuum racing this call
    * can delete `v`'s data files between the file-list resolution here
    * and the commit publish, leaving a head that references deleted
    * files (Delta documents the same vacuum-vs-time-travel hazard).
    * Operationally: size vacuum's `keepVersions` so restore targets sit
    * comfortably inside the retained window, and don't run the two
    * concurrently against the same table.
    */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val files = filesAt(spark, dir, v) // validates v exists
    val restoredSchema = schemaAt(spark, dir, v)
      .getOrElse(new org.apache.spark.sql.types.StructType())
    // carried constraints must stay resolvable over the restored schema
    // (restoring past a widening would otherwise write-block the table)
    requireConstrainedColsPresent(spark,
      constraintsAt(spark, dir, head) ++ generatedChecksAt(spark, dir, head),
      restoredSchema, s"restore of $dir to v$v")
    val schemaJson = restoredSchema.json
    // the restored snapshot's OWN deletion vectors come back with it —
    // carrying the head's would resurrect or over-delete rows
    val nv = commitPinned(spark, dir, head, "restore", schemaJson, files,
      _ => dvsAt(spark, dir, v)).get
    // stats travel WITH the restored snapshot, anchored at the restored
    // version — its files were live there, so row counts, zones, and
    // string zones all resolve from v's own chain. The head's sidecars
    // describe files the restore just dropped; anchoring there would
    // lose coverage (observed: metaRowCountAt = None after every
    // restore, demoting COUNT(*) from log metadata to a table scan).
    carrySidecars(spark, dir, v, nv, kept = files.toSet, fresh = Nil)
    nv
  }

  /** Delta's `RESTORE TABLE t TO TIMESTAMP AS OF` analog: resolves the
    * instant through the commit-timestamp index ([[versionAsOf]] —
    * newest version at or before it) and commits the same restore
    * snapshot [[restore]] would.
    */
  def restoreAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long =
    restore(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** Zone-map sidecar: per-file [min, max] of designated long-typed
    * columns, written next to a snapshot as `v<N>.zones.json`. The
    * data-skipping half of the Delta/Iceberg stats story: a reader
    * with a range predicate on a zoned column prunes files from the
    * LOG alone — zero data-file opens for planning, which at 100 TB is
    * the difference between touching 3 files and listing 3 million.
    * Stats cost one footer-cheap aggregate pass over only the files of
    * the commit being annotated, covering every requested column at
    * once.
    */
  def writeZoneMaps(
      spark: SparkSession, dir: String, v: Long, zoneCols: Seq[String]): Unit = {
    require(zoneCols.nonEmpty, "at least one zone column")
    // STRING columns route to the string-bounds sidecar (truncated
    // min/max in code-point order — [[StrZones]]); everything else
    // stats in the long domain exactly as before. One entry point, two
    // stat domains — callers zone a mixed column list in one call.
    val sch0 = schemaAt(spark, dir, v)
    val (strCols, longCols) = zoneCols.partition(c => sch0.exists(
      _.fields.exists(f => f.name.equalsIgnoreCase(c) &&
        f.dataType == org.apache.spark.sql.types.StringType)))
    if (strCols.nonEmpty) writeStrZones(spark, dir, v, strCols)
    if (longCols.isEmpty) return
    val files = filesAt(spark, dir, v)
    if (files.isEmpty) return
    // all-null zone column in a file: ZoneMaps.compute records an
    // EMPTY-RANGE sentinel — exact to skip on bounded scans (NULL never
    // passes the residual predicate) and marked statted; files absent
    // from the sidecar entirely stay unskippable. The scan is bound to
    // the snapshot's schema so pre-evolution files stat clean.
    // sidecar blocks are keyed by PHYSICAL column names (stable across
    // renames): translate the requested logical names and bind the
    // physical schema over the files; prunedFiles translates back
    val sch = sch0
    val physCols = longCols.map(physicalOf(sch, _))
    val zones = ZoneMaps.compute(spark, dir, files, physCols, sch.map(physicalSchema),
      hiveFieldOf(sch))
    val json = LogCodec.encodeZones(physCols.map(c => c -> zones.getOrElse(c, Seq.empty)))
    val f = fs(spark, dir)
    val tmp = new Path(logPath(dir), s".v$v.zones.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(logPath(dir), f"v$v%08d.zones.json")))
      throw new IllegalStateException(s"zone-map publish for v$v failed")
    // zoned-ever marker: lets the per-commit sidecar carry skip its
    // O(log) listing fallback on tables that were never zoned
    val marker = new Path(logPath(dir), ".zoned")
    if (!f.exists(marker)) f.create(marker, true).close()
  }

  /** Single-column zone map (the common case). */
  def writeZoneMap(spark: SparkSession, dir: String, v: Long, zoneCol: String): Unit =
    writeZoneMaps(spark, dir, v, Seq(zoneCol))

  /** Publishes per-file truncated min/max bounds for STRING columns —
    * [[StrZones]], the Iceberg truncate(32)/Delta string-stats analog
    * and the string half of the data-skipping story `writeZoneMaps`
    * serves for long-domain types. Reached through `writeZoneMaps` too
    * (string columns route here), so the `system.zone` procedure and
    * every existing zoning surface cover strings with zero new API.
    *
    * Refused for a hive-layout partition column (its values live in
    * file PATHS, not footers — a footer stat would record the all-NULL
    * sentinel and WRONGLY prune converted files; partition pruning
    * already serves that column).
    */
  def writeStrZones(
      spark: SparkSession, dir: String, v: Long, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "at least one string zone column")
    val files = filesAt(spark, dir, v)
    if (files.isEmpty) return
    val sch = schemaAt(spark, dir, v)
    hiveFieldOf(sch).foreach(hf => require(
      !cols.exists(_.equalsIgnoreCase(hf.name)),
      s"'${hf.name}' is a hive-layout partition column — its values live " +
        "in file PATHS, not footers; partition pruning already serves it"))
    val physCols = cols.map(physicalOf(sch, _))
    val bounds = StrZones.compute(spark, dir, files, physCols, sch.map(physicalSchema))
    val json = LogCodec.encodeStrZones(physCols.map(c => c -> bounds.getOrElse(c, Seq.empty)))
    val f = fs(spark, dir)
    val tmp = new Path(logPath(dir), s".v$v.szones.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(logPath(dir), f"v$v%08d.szones.json")))
      throw new IllegalStateException(s"string-zone publish for v$v failed")
    val marker = new Path(logPath(dir), ".szoned")
    if (!f.exists(marker)) f.create(marker, true).close()
  }

  /** String-zone blocks anchoring `baseV` — same bounded-window
    * probe + marker-gated listing as [[zonedAnchor]].
    */
  private def strAnchor(
      spark: SparkSession, dir: String, baseV: Long): Option[Seq[(String, StrZones.Bounds)]] = {
    val f = fs(spark, dir)
    (baseV to math.max(1L, baseV - 7) by -1L).find(w =>
      f.exists(new Path(logPath(dir), f"v$w%08d.szones.json")))
      .orElse {
        if (!f.exists(new Path(logPath(dir), ".szoned"))) None
        else f.listStatus(logPath(dir)).toSeq
          .map(_.getPath.getName)
          .collect { case n if n.matches("v\\d{8}\\.szones\\.json") =>
            n.stripPrefix("v").stripSuffix(".szones.json").toLong }
          .filter(_ <= baseV)
          .sorted.lastOption
      }
      .map(a => LogCodec.decodeStrZones(readFully(spark, dir,
        new Path(logPath(dir), f"v$a%08d.szones.json"))))
  }

  /** Carries the string-bounds sidecar across a commit — the
    * [[carryZones]] discipline verbatim: kept files keep bounds with
    * zero re-statting, fresh files (and gap-uncovered kept files —
    * self-heal) stat in one pass; blocks are physical-keyed so RENAME
    * COLUMN is a pure copy; columns no longer present or no longer
    * STRING drop out.
    */
  private def carryStrZones(
      spark: SparkSession, dir: String, baseV: Long, newV: Long, newEntry: LogEntry,
      kept: Set[String], fresh: Seq[String]): Unit = {
    val f = fs(spark, dir)
    // a string-zoning rewrite (clusteredRewrite → writeZoneMaps) may
    // have published newV's sidecar already, with FRESHER stats than a
    // carry could assemble — never clobber it
    if (f.exists(new Path(logPath(dir), f"v$newV%08d.szones.json"))) return
    val blocks = strAnchor(spark, dir, baseV).getOrElse(return)
    val baseSchema = schemaAt(spark, dir, baseV)
    val schema = schemaOf(newEntry)
    val isStr = (dt: org.apache.spark.sql.types.DataType) =>
      dt == org.apache.spark.sql.types.StringType
    val cols: Seq[(String, String)] = blocks.map(_._1).flatMap { basePhys =>
      schema match {
        case Some(sc) =>
          sc.fields.find(fl => physicalName(fl) == basePhys)
            .filter(fl => isStr(fl.dataType))
            .map(fl => basePhys -> physicalName(fl))
            .orElse {
              baseSchema.flatMap(_.fields.find(fl => physicalName(fl) == basePhys))
                .map(_.name)
                .flatMap(logical => sc.fields.find(_.name == logical))
                .filter(fl => physicalName(fl) == fl.name && isStr(fl.dataType))
                .map(fl => basePhys -> fl.name)
            }
        case None => Some(basePhys -> basePhys)
      }
    }
    if (cols.isEmpty) return
    val carried = cols.map { case (basePhys, newPhys) =>
      newPhys -> blockOf(blocks, basePhys).getOrElse(Seq.empty)
        .filter(b => kept.contains(b.file))
    }.toMap
    val covered = carried.values.flatten.map(_.file).toSet
    val toStat = (kept -- covered).toSeq.sorted ++ fresh
    val newCols = cols.map(_._2)
    val freshStats =
      if (toStat.isEmpty) Map.empty[String, StrZones.Bounds]
      else StrZones.compute(spark, dir, toStat, newCols,
        schema.map(physicalSchema))
    val merged = newCols.map { c =>
      c -> (carried(c) ++ freshStats.getOrElse(c, Seq.empty)).sortBy(_.file)
    }.toMap
    val out = LogCodec.encodeStrZones(newCols.map(c => c -> merged(c)))
    val tmp = new Path(logPath(dir), s".v$newV.szones.tmp")
    val o = f.create(tmp, true)
    try o.write(out.getBytes(StandardCharsets.UTF_8)) finally o.close()
    if (!f.rename(tmp, new Path(logPath(dir), f"v$newV%08d.szones.json")))
      throw new IllegalStateException(s"string-zone publish for v$newV failed")
    val marker = new Path(logPath(dir), ".szoned")
    if (!f.exists(marker)) f.create(marker, true).close()
  }

  /** The file subset a string predicate must read at `v`: `qLo`/`qHi`
    * are the must-hold closed bounds (None = unbounded side; equality
    * = both Some and equal). Files are skipped only when their
    * truncated bounds PROVE disjointness in code-point order — the
    * order Spark compares strings in. Falls back to the full list when
    * no string-zone sidecar or column block exists at `v`.
    */
  def strPrunedFiles(
      spark: SparkSession, dir: String, v: Long, col: String,
      qLo: Option[String], qHi: Option[String]): Seq[String] = {
    val all = filesAt(spark, dir, v)
    strZonesAt(spark, dir, v)
      .flatMap(blockOf(_, physicalOf(schemaAt(spark, dir, v), col))) match {
      case Some(bounds) => StrZones.prune(all, bounds, qLo, qHi)
      case None => all
    }
  }

  /** The file subset a string IN-list scan must read: the disjunctive
    * union of [[strPrunedFiles]] point probes, answered in ONE sidecar
    * parse ([[StrZones.pruneIn]]). Null/absent points contribute
    * nothing (`col IN (…, NULL)` never matches on the NULL element).
    */
  def strPrunedFilesIn(
      spark: SparkSession, dir: String, v: Long, col: String,
      points: Seq[String]): Seq[String] = {
    val all = filesAt(spark, dir, v)
    if (points.isEmpty) return all
    strZonesAt(spark, dir, v)
      .flatMap(blockOf(_, physicalOf(schemaAt(spark, dir, v), col))) match {
      case Some(bounds) => StrZones.pruneIn(all, bounds, points)
      case None => all
    }
  }

  /** Range/point scan through the string zones ([[strPrunedFiles]])
    * with the residual predicate and DV subtraction applied — the
    * string twin of [[readWhere]].
    */
  def readWhereStr(
      spark: SparkSession, dir: String, v: Long, col: String,
      qLo: Option[String], qHi: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val pruned = strPrunedFiles(spark, dir, v, col, qLo, qHi)
    val df =
      if (pruned.isEmpty) readAt(spark, dir, v).limit(0)
      else applyDvs(spark,
        readRaw(spark, dir, schemaAt(spark, dir, v), pruned),
        dvsAt(spark, dir, v))
    val lo = qLo.map(q => c(col) >= lit(q)).getOrElse(lit(true))
    val hi = qHi.map(q => c(col) <= lit(q)).getOrElse(lit(true))
    df.filter(lo && hi)
  }

  private[graft] def logPathOf(dir: String): Path = logPath(dir)

  /** Builds per-file Bloom filters over the HEAD snapshot for `cols`
    * (Databricks `CREATE BLOOMFILTER INDEX` analog — see
    * [[graft.table.Bloom]] for the full contract): one distributed
    * aggregate pass over the raw file bytes, one immutable columnar
    * sidecar per build, a version-keyed pointer for readers. Returns
    * the version indexed. Blooms serve EQUALITY probes on
    * high-cardinality, un-clustered columns where zone ranges span
    * everything; they are keyed by PHYSICAL column names (stable
    * across renames) like zones. Files appended after a build are
    * unprunable until the next build — re-run on a maintenance
    * cadence, the OPTIMIZE discipline.
    */
  def buildBloom(
      spark: SparkSession, dir: String, cols: Seq[String],
      fpp: Double = 0.01, itemsPerFile: Long = 1000000L): Long = {
    require(cols.nonEmpty, "at least one bloom column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    require(itemsPerFile > 0, s"itemsPerFile must be > 0: $itemsPerFile")
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val sch = schemaAt(spark, dir, v)
    hiveFieldOf(sch).foreach(hf => require(
      !cols.exists(_.equalsIgnoreCase(hf.name)),
      s"'${hf.name}' is a hive-layout partition column — its values live " +
        "in file PATHS, not footers, so a footer bloom would wrongly " +
        "prune converted files; partition pruning already serves " +
        "equality on it"))
    cols.foreach(c => require(
      sch.forall(_.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"no such column '$c' at $dir"))
    val files = filesAt(spark, dir, v)
    val physCols = cols.map(physicalOf(sch, _))
    val dataName =
      if (files.isEmpty) Bloom.build(spark, dir, v, Nil, physCols, None, 1L, fpp)
      else Bloom.build(spark, dir, v, files, physCols,
        sch.map(physicalSchema), itemsPerFile, fpp)
    Bloom.publishPointer(spark, dir, v, Seq(dataName), physCols, fpp,
      itemsPerFile)
    v
  }

  /** Incremental bloom maintenance (the [[zorderIncremental]] analog
    * for the point-lookup index): stats ONLY head files no existing
    * generation covers — one partial aggregate pass over the appended
    * data — and publishes a head pointer referencing the prior
    * generations PLUS the new one. The alternative, a full rebuild,
    * re-reads the whole table; and copying the existing sidecar
    * forward would move GBs at 10⁶ files. Columns, fpp, and per-file
    * sizing carry from the existing pointer so generations stay
    * bit-compatible. Returns (head, files statted); statting nothing
    * still re-points at the head (cheap), so later probes need not
    * walk back. Refuses loudly when no build exists — an increment
    * has nothing to extend.
    */
  def buildBloomIncremental(spark: SparkSession, dir: String): (Long, Long) = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val (bv, datas, physCols, fpp, items) =
      Bloom.latestPointerAt(spark, dir, head).getOrElse(
        throw new IllegalArgumentException(
          s"no bloom index at $dir — CREATE BLOOMFILTER INDEX first; " +
            "incremental maintenance extends an existing build"))
    val live = filesAt(spark, dir, head)
    val statted = Bloom.stattedFiles(spark, dir, datas)
    val toStat = live.filterNot(statted.contains)
    if (toStat.isEmpty) {
      if (bv != head)
        Bloom.publishPointer(spark, dir, head, datas, physCols, fpp, items)
      return (head, 0L)
    }
    val sch = schemaAt(spark, dir, head)
    val fresh = Bloom.build(spark, dir, head, toStat, physCols,
      sch.map(physicalSchema), items, fpp)
    Bloom.publishPointer(spark, dir, head, datas :+ fresh, physCols, fpp,
      items)
    (head, toStat.size.toLong)
  }

  /** The file subset an equality probe `col = value` must read at
    * snapshot `v`: the newest bloom build at-or-before `v` rules files
    * OUT; files it never statted (appended since the build, or no
    * build at all) always stay IN. Never loses rows — false positives
    * and unstatted files only widen the scan.
    */
  def bloomPrunedFiles(
      spark: SparkSession, dir: String, v: Long,
      col: String, value: Any): Seq[String] = {
    val all = filesAt(spark, dir, v)
    val sch = schemaAt(spark, dir, v)
    val phys = physicalOf(sch, col)
    // the build hashed xxhash64(col) at the COLUMN's type — the probe
    // literal must hash at that same type or same-valued probes of a
    // narrower type (Int vs BIGINT) silently lose rows
    val dt = sch.flatMap(_.fields.find(_.name.equalsIgnoreCase(col)))
      .map(_.dataType)
    Bloom.latestPointerAt(spark, dir, v) match {
      case Some((_, dataNames, cols, _, _)) if cols.contains(phys) =>
        Bloom.pruneEquals(spark, dir, dataNames, phys, value, all, dt)
      case _ => all
    }
  }

  /** IN-list twin of [[bloomPrunedFiles]]: k probe hashes, ONE pass
    * over the bloom sidecar ([[Bloom.pruneIn]]). A file survives when
    * ANY list element might be contained — the sound union of the
    * disjunction.
    */
  def bloomPrunedFilesIn(
      spark: SparkSession, dir: String, v: Long,
      col: String, values: Seq[Any]): Seq[String] = {
    val all = filesAt(spark, dir, v)
    if (values.isEmpty) return all
    val sch = schemaAt(spark, dir, v)
    val phys = physicalOf(sch, col)
    val dt = sch.flatMap(_.fields.find(_.name.equalsIgnoreCase(col)))
      .map(_.dataType)
    Bloom.latestPointerAt(spark, dir, v) match {
      case Some((_, dataNames, cols, _, _)) if cols.contains(phys) =>
        Bloom.pruneIn(spark, dir, dataNames, phys, values, all, dt)
      case _ => all
    }
  }

  /** Equality scan through the bloom index ([[bloomPrunedFiles]]) with
    * the residual predicate and DV subtraction applied — the
    * point-lookup twin of [[readWhere]]'s range scan.
    */
  def readWhereEquals(
      spark: SparkSession, dir: String, v: Long,
      col: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val pruned = bloomPrunedFiles(spark, dir, v, col, value)
    val df =
      if (pruned.isEmpty) readAt(spark, dir, v).limit(0)
      else applyDvs(spark,
        readRaw(spark, dir, schemaAt(spark, dir, v), pruned),
        dvsAt(spark, dir, v))
    df.filter(c(col) === lit(value))
  }

  /** Range scan using the zone map: only files whose [lo, hi] intersects
    * [lo, hi] are read (the residual predicate still applies — zones
    * prune files, they don't filter rows). Falls back to the full file
    * set when no zone map exists for the version.
    */
  def readWhere(
      spark: SparkSession, dir: String, v: Long,
      zoneCol: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pruned = prunedFiles(spark, dir, v, zoneCol, lo, hi)
    val df =
      if (pruned.isEmpty) readAt(spark, dir, v).limit(0)
      // bind the snapshot's COMMITTED schema like readAt does: after a
      // mergeSchema evolution a pruned set of pre-widening files would
      // otherwise surface whichever narrow footer schema gets sampled
      else applyDvs(spark,
        readRaw(spark, dir, schemaAt(spark, dir, v), pruned),
        dvsAt(spark, dir, v))
    df.filter(col(zoneCol) >= lo && col(zoneCol) <= hi)
  }

  /** LOGICAL names of every column a sidecar can prune on at `v` —
    * long-zone blocks, string-zone blocks, and the bloom pointer's
    * columns. The advertisement surface for runtime (join-driven) file
    * skipping: a scan reports these as filterable attributes, and a
    * broadcast join on one feeds its build-side keys back as an IN
    * probe. O(3 sidecar headers), no data file opened.
    */
  def skippingColumnsAt(
      spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val sch = schemaAt(spark, dir, v)
    def logicalOf(phys: String): String = sch
      .flatMap(_.fields.find(x => physicalName(x) == phys).map(_.name))
      .getOrElse(phys)
    val zs = zonesAt(spark, dir, v).getOrElse(Seq.empty).map(_._1)
    val ss = strZonesAt(spark, dir, v).getOrElse(Seq.empty).map(_._1)
    val bs = Bloom.latestPointerAt(spark, dir, v).map(_._3).getOrElse(Seq.empty)
    (zs ++ ss ++ bs).map(logicalOf).distinct
  }

  /** The file subset an `IS NOT NULL` scan of `col` must read: files
    * statted all-NULL in the long-zone OR string-zone sidecar drop
    * (the sentinel rows both [[ZoneMaps.compute]] and
    * [[StrZones.compute]] record — post-mergeSchema narrow files are
    * exactly this shape, so an evolution backfill query skips the
    * entire pre-widening era from the log alone). Unstatted files
    * never skip.
    */
  def notNullPrunedFiles(
      spark: SparkSession, dir: String, v: Long, col: String): Seq[String] = {
    val all = filesAt(spark, dir, v)
    val physCol = physicalOf(schemaAt(spark, dir, v), col)
    val zoned = zonesAt(spark, dir, v).flatMap(blockOf(_, physCol)) match {
      case Some(zones) => ZoneMaps.pruneNotNull(all, zones)
      case None => all
    }
    if (zoned.isEmpty) zoned
    else strZonesAt(spark, dir, v).flatMap(blockOf(_, physCol)) match {
      case Some(bounds) => StrZones.pruneNotNull(zoned, bounds)
      case None => zoned
    }
  }

  /** The file subset a zoned IN-list scan must read: the disjunctive
    * union of point probes against ONE parsed zone block
    * ([[ZoneMaps.pruneIn]]) — points are in the STAT domain (epoch
    * days/seconds, unscaled decimal) like [[prunedFiles]] endpoints.
    */
  def prunedFilesIn(
      spark: SparkSession, dir: String, v: Long,
      zoneCol: String, points: Seq[Long]): Seq[String] = {
    val all = filesAt(spark, dir, v)
    if (points.isEmpty) return all
    zonesAt(spark, dir, v)
      .flatMap(blockOf(_, physicalOf(schemaAt(spark, dir, v), zoneCol))) match {
      case Some(zones) => ZoneMaps.pruneIn(all, zones, points)
      case None => all
    }
  }

  /** The file subset a zoned range scan of `[lo, hi]` would read. */
  def prunedFiles(
      spark: SparkSession, dir: String, v: Long,
      zoneCol: String, lo: Long, hi: Long): Seq[String] = {
    val all = filesAt(spark, dir, v)
    // sidecar blocks are keyed by physical names; callers name columns
    // logically (identity on never-renamed tables)
    zonesAt(spark, dir, v)
      .flatMap(blockOf(_, physicalOf(schemaAt(spark, dir, v), zoneCol))) match {
      case Some(zones) => ZoneMaps.prune(all, zones, lo, hi)
      case None => all // no sidecar, or zoned on other columns only
    }
  }

  /** Row-level DELETE (the Delta `DELETE FROM t WHERE …` analog): the
    * live rows where `cond` is TRUE go through the shared row-level
    * rewrite ([[rewriteRows]]) with no new version — each matched file
    * keeps its place with a deletion vector over the deleted rows, or,
    * when fewer than half its physical rows would stay live, is
    * rewritten copy-on-write without them. Every other file carries
    * into the new snapshot verbatim, so at 100 TB the commit cost
    * follows the matched rows, not the table. Rows where `cond` is
    * NULL are kept, matching SQL DELETE semantics. Returns None (no
    * commit) when nothing matches. Commits with the commuting conflict
    * rule: a concurrent blind append re-bases and lands; a concurrent
    * rewrite of a matched file fails loudly with [[CommitRace]].
    *
    * `zoneHint` bounds the match scan via the snapshot's zone map: pass
    * the (zonedCol, lo, hi) range that `cond` implies and
    * provably-unmatched files are never even opened during planning.
    * The hint must be IMPLIED by `cond` (rows matching `cond` always
    * fall in the range) or matches outside it will be missed.
    */
  def deleteWhere(
      spark: SparkSession, dir: String, cond: org.apache.spark.sql.Column,
      zoneHint: Option[(String, Long, Long)] = None): Option[Long] = {
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    rewriteWhere(spark, dir, base, entryAt(spark, dir, base), "delete", cond, zoneHint)
  }

  /** Row-level UPDATE (the Delta `UPDATE t SET … WHERE …` analog):
    * same per-file merge-on-read/copy-on-write choice, conflict rule
    * and hint contract as [[deleteWhere]]; the matched rows' new
    * versions are written to fresh files. `set` maps column names to
    * replacement expressions, applied only where `cond` is TRUE and
    * cast back to the column's existing type so the snapshot schema
    * never drifts. The commit records the non-SET columns as its
    * pairing keys, so the change feed reports the rows as
    * `update_preimage`/`update_postimage`.
    */
  def updateWhere(
      spark: SparkSession, dir: String, cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      zoneHint: Option[(String, Long, Long)] = None): Option[Long] = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    requireNoGeneratedSet(spark, dir, base, set.keys, "UPDATE")
    rewriteWhere(spark, dir, base, entryAt(spark, dir, base), "update", cond, zoneHint, set)
  }

  /** Atomic selective overwrite — Delta's `replaceWhere` / the DSv2
    * `df.writeTo(t).overwrite(cond)` contract: ONE commit deletes
    * every live row matching `cond` and inserts `source`. This is the
    * canonical backfill ("recompute one day of a 100 TB table")
    * without the delete-then-append window in which readers see
    * neither the old slice nor the new one.
    *
    * Source discipline is Delta's: every source row must itself
    * satisfy `cond` — refused BEFORE any file is written, because a
    * backfill that strays outside its declared slice would silently
    * corrupt neighboring data — and the source presents the table's
    * exact column set (values cast to the committed types, INSERT
    * semantics). GENERATED columns may be omitted (they recompute, the
    * same rewrite rule UPDATE/MERGE follow); a declared IDENTITY
    * column must arrive assigned — replaceWhere is a rewrite, not an
    * append, so it never claims identity ranges (the NOT NULL check
    * refuses unassigned rows loudly).
    *
    * The replaced rows leave exactly as a [[deleteWhere]] of `cond`
    * removes them (deletion vectors, or copy-on-write for a file left
    * under half live), and the source rows are written beside them in
    * the same commit. `zoneHint` narrows discovery to zone-intersecting
    * files exactly as [[deleteWhere]]. DV-aware on both ends:
    * soft-deleted rows neither count as matches to replace nor
    * resurrect.
    *
    * Commits as a row-MUTATING op (`replacewhere`): the change feed
    * represents it as the snapshot diff (deletes + inserts), streams
    * without `skipChangeCommits`/`readChangeFeed` stop loudly. The
    * commute rule is [[commitRewriteCommuting]]'s, widened with
    * replaceWhere's own read-set clause: the predicate reads "all
    * matching rows" TABLE-WIDE, so a concurrently-appended file
    * holding a live matching row fails the commute and the whole
    * operation re-plans from the new head — otherwise those rows
    * would survive a replace that promised to remove them.
    */
  def replaceWhere(
      spark: SparkSession, dir: String, source: DataFrame,
      cond: org.apache.spark.sql.Column,
      zoneHint: Option[(String, Long, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    var attempt = 1
    while (true) {
      val base = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed versions at $dir — replaceWhere needs an existing " +
            "table (create it with overwrite/append first)"))
      val headEntry = entryAt(spark, dir, base)
      val tableSchema = schemaOf(headEntry).getOrElse(readAt(spark, dir, base).schema)
      val gen = generatedOf(headEntry.props)
      val tCols = tableSchema.fieldNames.map(lower).toSet
      val sCols = source.schema.fieldNames.map(lower).toSet
      val extra = sCols -- tCols
      require(extra.isEmpty,
        s"replaceWhere source has columns the table lacks: " +
          s"${extra.mkString(", ")} — replaceWhere never evolves schema; " +
          "widen with append(mergeSchema = true) first")
      val missing = tCols -- sCols -- gen.keys.map(lower)
      require(missing.isEmpty,
        s"replaceWhere source omits table columns: ${missing.mkString(", ")}")
      // regenerate BEFORE the containment check: a predicate over a
      // generated column the source rightly omitted would otherwise
      // evaluate NULL → coalesce(false) and refuse a valid backfill
      // (regeneration is deterministic, so the second pass over the
      // written rows is a no-op on these)
      val aligned = regenerated(headEntry.props,
        source.select(tableSchema.fields.toSeq.map { f =>
          if (sCols.contains(lower(f.name))) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name) // omitted GENERATED
        }: _*))
      // Delta's replaceWhere constraint: every source row must satisfy
      // the predicate it replaces into
      require(aligned.filter(not(coalesce(cond, lit(false)))).isEmpty,
        "replaceWhere source rows violate the predicate — a backfill must " +
          "stay inside the slice it replaces")
      // replaceWhere's extra read-set clause: files a concurrent commit
      // ADDED must hold no live matching row, or the replace re-plans
      def commute(head: Long): Boolean = {
        val added = (filesAt(spark, dir, head).toSet -- filesAt(spark, dir, base)).toSeq
        added.isEmpty || {
          val hdvs = dvsAt(spark, dir, head)
          applyDvs(spark,
            readRaw(spark, dir, schemaAt(spark, dir, head), added), hdvs)
            .filter(cond).isEmpty
        }
      }
      try return rewriteWhere(spark, dir, base, headEntry, "replacewhere", cond,
        zoneHint, inserts = Some(aligned), commuteCheck = commute).get
      catch {
        case e: CommitRace =>
          // full re-plan from the new head: rediscover matched rows and
          // re-validate under the head's schema/constraints. The fresh
          // files this attempt wrote are never referenced — vacuum
          // collects them like any other orphan.
          if (attempt >= 8) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The statement half of [[deleteWhere]], [[updateWhere]] and
    * [[replaceWhere]]: the live rows of the zone-pruned candidate files
    * where `cond` is TRUE are the changed rows — with their `set`
    * version for an UPDATE, removed otherwise — and `inserts` are new
    * rows, all handed to [[rewriteRows]] at `base`. Reads under the
    * LOG's schema, not the files' footers: after a mergeSchema
    * evolution a matched file may predate a widened column, and a
    * footer-schema rewrite would narrow the published schema. None
    * when there is nothing to change.
    */
  private def rewriteWhere(
      spark: SparkSession, dir: String, base: Long, headEntry: LogEntry,
      op: String, cond: org.apache.spark.sql.Column,
      zoneHint: Option[(String, Long, Long)],
      set: Map[String, org.apache.spark.sql.Column] = Map.empty,
      inserts: Option[DataFrame] = None,
      commuteCheck: Long => Boolean = _ => true): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    import graft.ops.Upsert.KeepCol
    val all = resolveFiles(spark, dir, base, Some(headEntry))
    val candidates = zoneHint match {
      case Some((zc, lo, hi)) => prunedFiles(spark, dir, base, zc, lo, hi)
      case None => all
    }
    if (candidates.isEmpty && inserts.isEmpty) return None
    val schema = schemaOf(headEntry).getOrElse(readAt(spark, dir, base).schema)
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty, s"SET references unknown columns: ${unknown.mkString(", ")}")
    val headDvs = dvsOf(spark, dir, headEntry)
    val hit = coalesce(cond, lit(false))
    val added = inserts.map(_
      .withColumn("__dv_rel", lit(null).cast("string"))
      .withColumn("__dv_idx", lit(null).cast("long"))
      .withColumn(KeepCol, lit(true)))
    def rows(cow: Set[String]): DataFrame = {
      val matched = Option.when(candidates.nonEmpty)(
        positionedRows(spark, dir, schema, candidates, headDvs)
          .filter(if (cow.isEmpty) hit else hit || col("__dv_rel").isin(cow.toSeq: _*))
          .select(schema.fields.toSeq.map(f => set.get(f.name)
            .fold(col(f.name))(e => when(hit, e.cast(f.dataType)).otherwise(col(f.name)))
            .as(f.name)) ++ Seq(col("__dv_rel"), col("__dv_idx"),
            (if (set.nonEmpty) lit(true) else not(hit)).as(KeepCol)): _*))
      (matched ++ added).reduce(_ unionByName _)
    }
    rewriteRows(spark, dir, base, headEntry, all, headDvs, schema, op, rows,
      writesRows = set.nonEmpty || inserts.nonEmpty, noopUnmatched = inserts.isEmpty,
      commuteCheck = commuteCheck,
      pairKeys = if (set.isEmpty) Nil else schema.fieldNames.toSeq.filterNot(set.keySet))
  }

  /** MERGE INTO the versioned table — the Delta `DeltaTable.merge`
    * analog running UNDER the transaction log (the reference's core
    * mutation: `02_bronze_to_silver.py:67-87`, `03_gold_dimensions.py:64-81`):
    * matched target rows take the source version when `updateWhen`
    * holds (a predicate over [[graft.ops.Upsert.tcol]] /
    * [[graft.ops.Upsert.scol]] refs; default: always), writing
    * `setCols` (default: all non-key columns); unmatched source rows
    * INSERT. The source must be key-unique, as for Delta MERGE.
    *
    * Merge-on-read at ROW granularity: one scan of the snapshot,
    * left-joined to the source's distinct key set (broadcast only under
    * [[MergeKeyBroadcastMaxBytes]] — a micro-batch source keeps the
    * zero-shuffle probe, a backfill-sized one plans a shuffle join
    * instead of an unbounded driver broadcast), finds every live row
    * the clauses can reach with its (file, position). The clauses run
    * over those rows and the source; the commit then writes only the
    * rows a clause changed (their new versions) plus the inserts to
    * fresh files, and soft-deletes the changed rows' old positions with
    * deletion vectors. Rows a clause leaves unchanged — an LWW-losing
    * re-delivery — keep their position, and a file no clause changed
    * is not touched at all. A changed file is rewritten copy-on-write
    * instead (carried rows included, its DVs retiring with it) when
    * fewer than half its physical rows would stay live, or when the
    * merge's changed positions would pass [[MoRMatchCap]]. At 100 TB
    * the commit cost follows the changed rows plus the insert set, not
    * the table. DV-aware on both ends: soft-deleted rows neither match
    * (their key re-inserts fresh) nor resurrect. Schema-ENFORCED:
    * the source must present exactly the table's columns with
    * unchanged types — merge never evolves schema (widen explicitly
    * via `append(mergeSchema = true)` first). Zone maps carry, and the
    * commit uses the commuting conflict rule
    * ([[commitRewriteCommuting]]): concurrent blind appends and
    * disjoint-file rewrites land; a concurrent commit that removes,
    * rewrites or grows the DVs of a file this merge rewrites or
    * soft-deletes makes the merge re-plan from the new head.
    */
  def merge(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      updateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(true),
      setCols: Seq[String] = Nil): Long =
    mergeReplanning(
      spark, dir, source, keys, legacyClauses(updateWhen, setCols),
      Seq(graft.ops.Upsert.MergeClause.Insert()), Nil, None).get

  /** The classic merge shape as full-grammar clauses: one conditional
    * matched UPDATE taking the source's values for `setCols` (all
    * non-key columns when empty), plus the unconditional INSERT the
    * caller supplies separately.
    */
  private def legacyClauses(
      updateWhen: org.apache.spark.sql.Column,
      setCols: Seq[String]): Seq[graft.ops.Upsert.MergeClause] =
    Seq(graft.ops.Upsert.MergeClause.Update(
      Some(updateWhen),
      setCols.map(c => c -> graft.ops.Upsert.scol(c)).toMap))

  /** MERGE with the FULL Delta action grammar —
    * `WHEN MATCHED [AND c] THEN UPDATE|DELETE` (multiple, first-match-
    * wins), `WHEN NOT MATCHED [AND c] THEN INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE|DELETE` — under
    * the same log machinery as [[merge]] (which is the special case
    * `matched = [conditional update], notMatched = [insert]`).
    * Clause semantics: [[graft.ops.Upsert.mergeFull]]; conditions are
    * predicates over [[graft.ops.Upsert.tcol]]/`scol` refs.
    *
    * Row discovery widens per slot: matched clauses reach live
    * source-keyed rows (as in [[merge]]); BY SOURCE clauses also reach
    * live rows with NO source key whose clause conditions can hold —
    * so an unconditional by-source DELETE soft-deletes (or, past half a
    * file, rewrites) every unmatched row, while a selective condition
    * keeps the commit at the affected rows. Same merge-on-read write
    * and copy-on-write fallback as [[merge]].
    *
    * CONFLICT MATRIX: by-source clauses read "row has no source match
    * AND satisfies cond" over the WHOLE table, so a concurrent append
    * can invalidate the merge without touching any file it read. The
    * commute check therefore requires concurrently-added files to hold
    * (a) no live source-keyed row — the rule [[merge]] already has —
    * and (b) when by-source clauses exist, no live unmatched row their
    * conditions accept. Either violation raises CommitRace and the
    * whole merge re-plans from the new head (the appended rows then
    * flow through the clauses like any other).
    */
  def mergeFull(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      matched: Seq[graft.ops.Upsert.MergeClause] = Nil,
      notMatched: Seq[graft.ops.Upsert.MergeClause] =
        Seq(graft.ops.Upsert.MergeClause.Insert()),
      notMatchedBySource: Seq[graft.ops.Upsert.MergeClause] = Nil,
      evolveSchema: Boolean = false,
      conditionColumns: Seq[String] = Nil): Long =
    mergeReplanning(
      spark, dir, source, keys, matched, notMatched, notMatchedBySource, None,
      evolveSchema, conditionColumns).get

  /** [[merge]] guarded by the same writer-transaction watermark as
    * [[appendIdempotent]]: if the table has already committed
    * `txnVersion` or later for `appId`, the whole merge — including
    * its touched-file discovery scan — is a no-op returning None. This
    * is what makes a CDF-driven silver refresh exactly-once: the
    * watermark (the bronze version the merge reflects) and the merged
    * rows land in ONE log commit, so a crash-replayed refresh either
    * sees the watermark (no-op) or re-runs the merge in full — never a
    * half-applied batch. The merge-on-read commit of [[merge]] carries
    * the watermark and the pairing keys like any other.
    */
  def mergeIdempotent(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      appId: String, txnVersion: Long,
      updateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(true),
      setCols: Seq[String] = Nil): Option[Long] = {
    if (lastTxnVersion(spark, dir, appId).exists(_ >= txnVersion)) None
    else mergeReplanning(
      spark, dir, source, keys, legacyClauses(updateWhen, setCols),
      Seq(graft.ops.Upsert.MergeClause.Insert()), Nil, Some(appId -> txnVersion))
  }

  /** [[mergeFull]] with a writer-transaction watermark landing in the
    * SAME commit — the general-clause sibling of [[mergeIdempotent]]
    * (whose public surface keeps the legacy update-when shape). The
    * CDC apply layer ([[graft.ops.ApplyChanges]]) builds on this.
    */
  private[graft] def mergeFullTxn(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      matched: Seq[graft.ops.Upsert.MergeClause],
      notMatched: Seq[graft.ops.Upsert.MergeClause],
      txn: Option[(String, Long)],
      conditionColumns: Seq[String]): Option[Long] = {
    mergeReplanning(
      spark, dir, source, keys, matched, notMatched, Nil, txn,
      evolveSchema = false, conditionColumns)
  }

  private def mergeReplanning(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      matched: Seq[graft.ops.Upsert.MergeClause],
      notMatched: Seq[graft.ops.Upsert.MergeClause],
      notMatchedBySource: Seq[graft.ops.Upsert.MergeClause],
      txn: Option[(String, Long)],
      evolveSchema: Boolean = false,
      conditionColumns: Seq[String] = Nil): Option[Long] = {
    // MERGE is a pure function of (head snapshot, source), so a genuine
    // read-set conflict re-PLANS the whole merge from the new head
    // instead of surfacing CommitRace — a key concurrently inserted
    // becomes a matched update on the re-plan, never a duplicate
    var attempt = 1
    while (true) {
      try return mergeOnce(
        spark, dir, source, keys, matched, notMatched, notMatchedBySource, txn,
        evolveSchema, conditionColumns)
      catch {
        case e: CommitRace =>
          // 10 attempts with jittered backoff (same shape as
          // commitRetry): a re-plan is slower than a blind append, so
          // under sustained cross-process contention a merge can lose
          // several consecutive CAS races before one sticks
          if (attempt >= 10) throw e
          attempt += 1
          Thread.sleep(
            10L * attempt + java.util.concurrent.ThreadLocalRandom.current().nextInt(40))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def mergeOnce(
      spark: SparkSession, dir: String, source: DataFrame, keys: Seq[String],
      matched: Seq[graft.ops.Upsert.MergeClause],
      notMatched: Seq[graft.ops.Upsert.MergeClause],
      notMatchedBySource: Seq[graft.ops.Upsert.MergeClause],
      txn: Option[(String, Long)],
      evolveSchema: Boolean = false,
      conditionColumns: Seq[String] = Nil): Option[Long] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(keys.nonEmpty, "MERGE needs at least one key column")
    // condition-only source columns (a CDC feed's operation flag /
    // sequence metadata): visible to clause conditions via scol, never
    // part of schema checks, evolution, or the table's data
    conditionColumns.foreach(c => require(
      source.schema.fieldNames.contains(c),
      s"conditionColumns names a column the source lacks: $c"))
    val base = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val headEntry = entryAt(spark, dir, base)
    val logSchema = schemaOf(headEntry).getOrElse(
      throw new IllegalArgumentException(
        s"MERGE requires a schema-bearing snapshot at $dir"))
    val tTypes = logSchema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val sTypes = source.schema.fields
      .filterNot(f => conditionColumns.contains(f.name))
      .map(f => f.name -> f.dataType.catalogString).toMap
    // name resolution is CASE-INSENSITIVE, matching Spark analysis (and
    // Delta's evolution): a source column differing only in case is the
    // SAME column — treating it as new would publish a schema with
    // case-duplicate names (analysis ambiguity on every later read)
    def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val tByLower = logSchema.fieldNames.map(n => lower(n) -> n).toMap
    // a column present on BOTH sides must keep its type, evolution or
    // not — MERGE never retypes (the same rule mergeSchema appends apply)
    conditionColumns.foreach(c => require(!tByLower.contains(lower(c)),
      s"conditionColumns must not shadow table columns: $c"))
    val retyped = source.schema.fields.toSeq
      .filterNot(sf => conditionColumns.contains(sf.name))
      .flatMap(sf => tByLower.get(lower(sf.name)).map(tn => (sf.name, tn)))
      .collect { case (sn, tn) if tTypes(tn) != sTypes(sn) => sn }
    require(retyped.isEmpty,
      s"MERGE cannot retype columns: ${retyped.sorted.mkString(", ")} — " +
        s"table [${tTypes.toSeq.sortBy(_._1).mkString(", ")}] vs source " +
        s"[${sTypes.toSeq.sortBy(_._1).mkString(", ")}]")
    // GENERATED columns are legally absent from a merge source — their
    // values are the expression's, regenerated over the merge output
    val genCols = generatedOf(headEntry.props).keySet.map(lower)
    require(evolveSchema ||
      (tTypes.collect { case (n, t) if !genCols.contains(lower(n)) =>
        lower(n) -> t }.toMap ==
        sTypes.collect { case (n, t) if !genCols.contains(lower(n)) =>
          lower(n) -> t }.toMap),
      "MERGE source schema must match the table exactly — table " +
        s"[${tTypes.toSeq.sortBy(_._1).mkString(", ")}] vs source " +
        s"[${sTypes.toSeq.sortBy(_._1).mkString(", ")}]; widen the table " +
        "first with append(mergeSchema = true), or pass " +
        "evolveSchema = true (MERGE WITH SCHEMA EVOLUTION)")
    require(keys.forall(tTypes.contains),
      s"unknown key columns: ${keys.filterNot(tTypes.contains).mkString(", ")}")
    // WITH SCHEMA EVOLUTION (Delta's withSchemaEvolution): source-only
    // columns append to the committed schema (all-nullable — kept files
    // lack them and surface NULL, the mergeSchema read contract);
    // target-only columns stay and the source pads them with NULLs.
    val newCols = source.schema.fields.filterNot(f =>
      tByLower.contains(lower(f.name)) || conditionColumns.contains(f.name)).toSeq
    val outSchema: org.apache.spark.sql.types.StructType =
      if (!evolveSchema || newCols.isEmpty) logSchema
      else {
        require(!hasColumnMapping(logSchema),
          s"MERGE schema evolution on a column-mapped table is not " +
            "supported — widen explicitly with append(mergeSchema = true)")
        val dropped = headEntry.droppedPhys.toSet
        val resurrected = newCols.map(_.name).filter(dropped.contains)
        require(resurrected.isEmpty,
          s"MERGE evolution cannot re-add dropped column(s) " +
            s"${resurrected.mkString(", ")} — append(mergeSchema = true) " +
            "assigns fresh physical identities")
        org.apache.spark.sql.types.StructType(
          (logSchema.fields.map(_.copy(nullable = true)) ++
            newCols.map(_.copy(nullable = true))).toSeq)
      }
    def alignTo(df: DataFrame, carry: Seq[String] = Nil): DataFrame = {
      // case-insensitive like the classification above; output names
      // normalize to the table's casing
      val have = df.schema.fieldNames.map(lower).toSet
      df.select(outSchema.fields.toSeq.map { f =>
        if (have.contains(lower(f.name))) col(f.name).as(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      } ++ carry.map(col): _*)
    }
    // the aligned source keeps its condition-only columns appended —
    // ops.Upsert.mergeFull prefixes every source column, so clause
    // conditions reference them as scol(name); the output projection
    // (target columns only) drops them
    val src = {
      val have = source.schema.fieldNames.map(lower).toSet
      source.select((outSchema.fields.toSeq.map { f =>
        if (have.contains(lower(f.name))) col(f.name).as(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      } ++ conditionColumns.map(col)): _*)
    }
    val all = resolveFiles(spark, dir, base, Some(headEntry))
    val headDvs = dvsOf(spark, dir, headEntry)
    // The key-set broadcast is GATED on the optimizer's size estimate:
    // forced-broadcast discovery is right for micro-batch upserts but
    // would materialize a backfill-sized key set in the driver (8 GB
    // relation ceiling / OOM) — above the gate the joins below plan as
    // shuffle joins and stay exact, because row identity (__dv_rel,
    // __dv_idx) is a materialized column by join time and survives the
    // shuffle.
    val srcKeys = {
      // `__m_src` marks a key-matched row in the candidate scan's left join
      val k = src.select(keys.map(col): _*).distinct()
        .withColumn("__m_src", org.apache.spark.sql.functions.lit(true))
      val est = k.queryExecution.optimizedPlan.stats.sizeInBytes
      // the gate is per-table overridable: graft.mergeKeyBroadcastMaxBytes
      val gate = headEntry.props
        .get("graft.mergeKeyBroadcastMaxBytes")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .filter(_ >= 0)
        .getOrElse(MergeKeyBroadcastMaxBytes)
      if (est <= BigInt(gate)) {
        mergeKeyBroadcasts.incrementAndGet(); broadcast(k)
      } else { mergeKeyShuffles.incrementAndGet(); k }
    }
    // Files of `files` holding at least one live row whose key appears
    // in the source — the commute check on concurrently-added files
    def filesWithMatches(files: Seq[String], dvs: Map[String, Seq[Long]]): Set[String] =
      positionedRows(spark, dir, logSchema, files, dvs).join(srcKeys, keys, "left_semi")
        .select("__dv_rel").distinct()
        .collect().map(_.getString(0)).toSet
    // BY SOURCE clauses affect live rows with NO source key whose
    // clause conditions can hold — every other key-less row stays
    // where it is, keeping the commit at the affected rows when the
    // conditions are selective. NULL conditions never hold.
    // Conditions are written over Upsert.tcol refs, so the un-joined
    // probe aliases every column under its target-prefixed name rather
    // than rewriting the condition (a stray scol ref then fails
    // resolution here — by-source clauses have no source row).
    val bySourceAffected: Option[org.apache.spark.sql.Column] =
      if (notMatchedBySource.isEmpty) None
      else Some(notMatchedBySource
        .map(_.cond.map(c => org.apache.spark.sql.functions.coalesce(
          c, org.apache.spark.sql.functions.lit(false)))
          .getOrElse(org.apache.spark.sql.functions.lit(true)))
        .reduce(_ || _))
    def filesWithAffectedUnmatched(
        files: Seq[String], dvs: Map[String, Seq[Long]]): Set[String] =
      bySourceAffected match {
        case None => Set.empty
        case Some(cond) =>
          positionedRows(spark, dir, logSchema, files, dvs).join(srcKeys, keys, "left_anti")
            .select(col("__dv_rel") +: logSchema.fieldNames.toSeq
              .map(c => col(c).as(graft.ops.Upsert.tname(c))): _*)
            .filter(cond)
            .select("__dv_rel").distinct()
            .collect().map(_.getString(0)).toSet
      }
    // Every live row a clause can act on, with its (file, position):
    // rows whose key the source holds, plus — with BY SOURCE clauses —
    // key-less rows whose by-source conditions can hold. One scan of the
    // snapshot, left-joined to the distinct source keys. `rewrite` adds
    // every live row of the files rewritten copy-on-write: a row no
    // clause reaches passes through the merge unchanged.
    val carry = Seq("__dv_rel", "__dv_idx")
    def targetRows(rewrite: Set[String]): DataFrame =
      if (all.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          outSchema.add("__dv_rel", "string").add("__dv_idx", "long"))
      else {
        val fields = logSchema.fieldNames.toSeq
        val reach = (bySourceAffected.toSeq ++
          Option.when(rewrite.nonEmpty)(col("__dv_rel").isin(rewrite.toSeq: _*)))
          .foldLeft(col("__m_src").isNotNull)(_ || _)
        alignTo(positionedRows(spark, dir, logSchema, all, headDvs).join(srcKeys, keys, "left")
          .select(carry.map(col) ++ Seq(col("__m_src")) ++
            fields.map(c => col(c).as(graft.ops.Upsert.tname(c))): _*)
          .filter(reach)
          .select(carry.map(col) ++
            fields.map(c => col(graft.ops.Upsert.tname(c)).as(c)): _*), carry)
      }
    import graft.ops.Upsert.ChangedCol
    def mergedOver(target: DataFrame) = graft.ops.Upsert.mergeFullTagged(
      target, src, keys, matched, notMatched, notMatchedBySource, carry)
    // the rows a clause acted on — changed target rows and the inserts —
    // and, for copy-on-write files, every unchanged live row beside them
    def rows(cow: Set[String]): DataFrame =
      if (cow.isEmpty) mergedOver(targetRows(Set.empty)).filter(col(ChangedCol))
      else mergedOver(targetRows(cow))
        .filter(col(ChangedCol) || col("__dv_rel").isin(cow.toSeq: _*))
    // MERGE's insert clause read "key ABSENT from the table" — a
    // concurrently-appended file can invalidate that without touching
    // any file this merge read, so the commute additionally requires
    // the added files to hold no live source key (otherwise the merge
    // would duplicate it; the CommitRace routes back to the re-plan
    // loop, where the key resolves as a matched update). This is
    // Delta's ConcurrentAppendException for MERGE, relaxed to the
    // no-overlap case.
    val addedDisjoint = (head: Long) => {
      val added = filesAt(spark, dir, head).filterNot(all.toSet)
      added.isEmpty || {
        val dvs = dvsAt(spark, dir, head)
        // (a) no live source-keyed row (the insert/matched clauses read
        // "key absent/present over the whole table"); (b) with BY
        // SOURCE clauses, additionally no live unmatched row their
        // conditions accept — a source-absence delete/update would have
        // applied to it, so the merge cannot commute past that append
        filesWithMatches(added, dvs).isEmpty &&
          filesWithAffectedUnmatched(added, dvs).isEmpty
      }
    }
    rewriteRows(spark, dir, base, headEntry, all, headDvs, outSchema, "merge", rows,
      commuteCheck = addedDisjoint, txn = txn, pairKeys = keys)
  }

  /** The live rows of `files` under `schema`, each with its (file,
    * position): `__dv_rel`, the file's [[fileKey]], and `__dv_idx`, its
    * parquet row index. File identity comes from `_metadata.file_path`
    * — bound to THIS scan's relation — not input_file_name(), which
    * Spark refuses in a plan with a second file source (a MERGE's key
    * set also scans parquet).
    */
  private def positionedRows(
      spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], dvs: Map[String, Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    applyDvs(spark, readRaw(spark, dir, Some(schema), files), dvs)
      .withColumn("__dv_rel", scanFileKey(col("_metadata.file_path"), files))
      .withColumn("__dv_idx", col("_metadata.row_index"))
  }

  /** The one row-level rewrite under MERGE, [[deleteWhere]],
    * [[updateWhere]] and [[replaceWhere]], planned against `base`
    * (`all` its files, `headDvs` its deletion vectors). `rows(cow)` is
    * the statement's output: every live target row it changes, with its
    * (`__dv_rel`, `__dv_idx`) position from [[positionedRows]], plus any
    * new rows (NULL position), and — for a non-empty `cow` — every
    * other live row of those files; [[graft.ops.Upsert.KeepCol]] marks
    * the rows written (a deleted row has none).
    *
    * The changed rows are checkpointed — the statement's plan runs once
    * — and their positions collected, one past [[MoRMatchCap]]. Rows
    * written must satisfy the CHECK constraints (rows left in place
    * already did; identity columns add an implicit NOT NULL), and
    * GENERATED columns regenerate over them. Per changed file, merge-on-
    * read: the file stays and its changed positions join its deletion
    * vector; but a file left with fewer than half its physical rows
    * live, or every changed file once the positions pass the cap, is
    * rewritten copy-on-write instead — a second `rows` pass over those
    * files only, their DVs retiring with them. One commit publishes the
    * written rows, the grown DVs and the carried sidecars through
    * [[commitRewriteCommuting]], the soft-deleted files joining the read
    * set: a concurrent commit that removes one or grows its DVs makes
    * the statement re-plan, so no row resurrects and no delete is lost.
    *
    * `writesRows = false` (a DELETE) skips the data write when no file
    * goes copy-on-write; `noopUnmatched` returns None, committing
    * nothing, when no target row changed. None also under a `txn`
    * already covered.
    */
  private def rewriteRows(
      spark: SparkSession, dir: String, base: Long, headEntry: LogEntry,
      all: Seq[String], headDvs: Map[String, Seq[Long]],
      schema: org.apache.spark.sql.types.StructType, op: String,
      rows: Set[String] => DataFrame,
      writesRows: Boolean = true, noopUnmatched: Boolean = false,
      commuteCheck: Long => Boolean = _ => true,
      txn: Option[(String, Long)] = None,
      pairKeys: Seq[String] = Nil): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val carry = Seq("__dv_rel", "__dv_idx")
    def kept(df: DataFrame) = df.filter(col(graft.ops.Upsert.KeepCol))
      .select(schema.fieldNames.toSeq.map(col): _*)
      .transform(regenerated(headEntry.props, _))
    // checkpointed: the statement's plan runs once (its shuffle stages
    // now, its result with the position collect below), and the
    // constraint check and the write read the stored result under the
    // partitioning adaptive execution chose for it
    val changedAt = rows(Set.empty).localCheckpoint(eager = false)
    val (cow, mor, softDeletes, fresh) = try {
      val positions: Seq[(String, Long)] = changedAt
        .filter(col("__dv_rel").isNotNull).select(carry.map(col): _*)
        .limit((MoRMatchCap + 1).toInt).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1)))
      if (noopUnmatched && positions.isEmpty) return None
      requireSatisfied(kept(changedAt),
        headEntry.constraints ++ identityChecks(headEntry.props))
      val overCap = positions.size > MoRMatchCap
      val changedKeys: Set[String] =
        if (!overCap) positions.map(_._1).toSet
        else changedAt.filter(col("__dv_rel").isNotNull).select("__dv_rel").distinct()
          .collect().map(_.getString(0)).toSet
      val changedFiles = all.filter(f => changedKeys(fileKey(f)))
      val changedPerFile = positions.groupMapReduce(_._1)(_ => 1L)(_ + _)
      val physical = physicalRowCounts(spark, dir, base, changedFiles)
      def liveAfter(f: String): Long = physical(f) -
        headDvs.getOrElse(fileKey(f), Nil).size - changedPerFile(fileKey(f))
      val (cow, mor) = changedFiles.partition(f => overCap || 2 * liveAfter(f) < physical(f))
      val cowKeys = cow.map(fileKey).toSet
      val fresh =
        if (cow.isEmpty && !writesRows) Nil
        else writeDataFiles(toPhysicalFrame(
          kept(if (cow.isEmpty) changedAt else rows(cowKeys)), Some(schema)), dir)
      (cow, mor,
        positions.filterNot { case (k, _) => cowKeys(k) }.groupMap(_._1)(_._2), fresh)
    } finally changedAt.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
    val committed = commitRewriteCommuting(
      spark, dir, base, op, schema.json, cow, fresh,
      dvsFor = head => head ++ softDeletes.map { case (k, ps) =>
        k -> (head.getOrElse(k, Seq.empty) ++ ps) },
      commuteCheck = commuteCheck, txn = txn, pairKeys = pairKeys, softDeleted = mor)
    committed.foreach(v => carrySidecars(spark, dir, base, v,
      filesAt(spark, dir, v).toSet -- fresh.toSet, fresh))
    committed
  }

  /** The zone sidecar JSON anchoring `baseV`: the nearest zoned
    * ancestor within a bounded window — the immediate predecessor may
    * not have published its sidecar yet (a concurrent appender's carry
    * runs after its commit) or ever — falling back to ONE log-dir
    * listing for the newest sidecar at or below base when the window
    * misses (sidecar gap > 8 commits), instead of silently leaving
    * data skipping off for the rest of the table's life.
    */
  private def zonedAnchor(
      spark: SparkSession, dir: String, baseV: Long): Option[Seq[(String, ZoneMaps.Zones)]] = {
    val f = fs(spark, dir)
    (baseV to math.max(1L, baseV - 7) by -1L).find(w =>
      f.exists(new Path(logPath(dir), f"v$w%08d.zones.json")))
      .orElse {
        // the `.zoned` marker (written with the first sidecar) gates
        // the wide-gap listing: every commit's carry probes here, and
        // a never-zoned table must not pay an O(log-entries) listing
        // per commit just to learn there is nothing to carry
        if (!f.exists(new Path(logPath(dir), ".zoned"))) None
        else f.listStatus(logPath(dir)).toSeq
          .map(_.getPath.getName)
          .collect { case n if n.matches("v\\d{8}\\.zones\\.json") =>
            n.stripPrefix("v").stripSuffix(".zones.json").toLong }
          .filter(_ <= baseV)
          .sorted.lastOption
      }
      .map(a => LogCodec.decodeZones(readFully(spark, dir,
        new Path(logPath(dir), f"v$a%08d.zones.json"))))
  }

  /** Version `v`'s own zone blocks; None when it has no sidecar. */
  private def zonesAt(
      spark: SparkSession, dir: String, v: Long): Option[Seq[(String, ZoneMaps.Zones)]] =
    sidecarAt(spark, dir, f"v$v%08d.zones.json").map(LogCodec.decodeZones)

  /** Version `v`'s own string-zone blocks; None when it has none. */
  private def strZonesAt(
      spark: SparkSession, dir: String, v: Long): Option[Seq[(String, StrZones.Bounds)]] =
    sidecarAt(spark, dir, f"v$v%08d.szones.json").map(LogCodec.decodeStrZones)

  private def sidecarAt(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(logPath(dir), name)
    if (fs(spark, dir).exists(p)) Some(readFully(spark, dir, p)) else None
  }

  /** The first block of `blocks` for column `c`. */
  private def blockOf[A](blocks: Seq[(String, A)], c: String): Option[A] =
    blocks.collectFirst { case (`c`, a) => a }

  /** Carries every per-file stat sidecar across a commit: row counts
    * ([[carryRowCounts]]) plus zone maps ([[carryZones]]). One hook for
    * all commit paths — kept files keep their stats verbatim, rewritten
    * output gets fresh stats.
    */
  private def carrySidecars(
      spark: SparkSession, dir: String, baseV: Long, newV: Long,
      kept: Set[String], fresh: Seq[String]): Unit = {
    val newEntry = entryAt(spark, dir, newV)
    carryRowCounts(spark, dir, baseV, newV, newEntry, kept, fresh)
    carryZones(spark, dir, baseV, newV, newEntry, kept, fresh)
    carryStrZones(spark, dir, baseV, newV, newEntry, kept, fresh)
  }

  /** Probed-version cap for [[resolveRowCounts]]'s walk: well past any
    * real full-sidecar gap (fulls land every CheckpointInterval
    * data-commits; only a 500-commit run of non-carrying commits —
    * e.g. pure-MoR deletes — exceeds it, and then resolution honestly
    * reports un-anchored instead of walking the whole history).
    */
  private val RowResolveCap = 512

  /** (accumulated per-file counts, anchored) resolving the row-stats
    * chain at `v`: walk versions downward, unioning DELTA sidecars
    * (each records only what its commit statted) until a FULL sidecar
    * anchors the chain. Per-file counts are immutable, so union order
    * cannot disagree. An un-anchored result (walk cap, or a chain
    * vacuumed from under the walk) may under-cover — every caller
    * coverage-checks against the live file list and falls back rather
    * than guess.
    */
  /** Bounded memo of RESOLVED row-count chains, keyed (dir, v) — the
    * [[filesMemo]] discipline applied to the row-stats walk: a commit
    * stream re-resolves its predecessor's chain every commit (up to
    * CheckpointInterval delta-sidecar reads each), and the commit path
    * PRIMES this memo with the map it just published, making the
    * steady-state resolve one metadata stat. Hits re-validate against
    * the version's OWN sidecar (length, mtime) — the one mutable
    * surface (re-analyze replaces a head sidecar in place; a deleted
    * and re-created table changes it too). Per-file counts are
    * immutable, so a stale-but-validated entry can only differ in
    * COVERAGE, never in a count's value.
    */
  private final case class RowsMemoEntry(
      len: Long, mtime: Long, counts: Map[String, Long], anchored: Boolean)
  private val rowsMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, RowsMemoEntry](8, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[String, RowsMemoEntry]): Boolean =
        size() > FilesMemoMax
    })

  private[graft] def clearRowsMemo(): Unit = rowsMemo.clear()

  private def primeRowsMemo(
      spark: SparkSession, dir: String, v: Long,
      counts: Map[String, Long], anchored: Boolean): Unit =
    try {
      val st = fs(spark, dir).getFileStatus(RowStats.sidecar(logPath(dir), v))
      rowsMemo.put(memoKey(dir, v),
        RowsMemoEntry(st.getLen, st.getModificationTime, counts, anchored))
      ()
    } catch { case _: java.io.IOException => () }

  private def resolveRowCounts(
      spark: SparkSession, dir: String, v: Long): (Map[String, Long], Boolean) = {
    val f = fs(spark, dir)
    val key = memoKey(dir, v)
    val st =
      try Some(f.getFileStatus(RowStats.sidecar(logPath(dir), v)))
      catch { case _: java.io.IOException => None }
    st.foreach { s =>
      val hit = rowsMemo.get(key)
      if (hit != null && hit.len == s.getLen &&
          hit.mtime == s.getModificationTime)
        return (hit.counts, hit.anchored)
    }
    var acc = Map.empty[String, Long]
    var w = v
    var probed = 0
    while (w >= 1 && probed < RowResolveCap) {
      val p = RowStats.sidecar(logPath(dir), w)
      if (f.exists(p)) {
        val (full, counts) = LogCodec.decodeRowStats(readFully(spark, dir, p))
        acc = counts ++ acc // nearer-to-v entries win (identical anyway)
        if (full) {
          st.foreach(s => rowsMemo.put(key,
            RowsMemoEntry(s.getLen, s.getModificationTime, acc, true)))
          return (acc, true)
        }
      }
      w -= 1
      probed += 1
    }
    st.foreach(s => rowsMemo.put(key,
      RowsMemoEntry(s.getLen, s.getModificationTime, acc, false)))
    (acc, false)
  }

  /** Carries the row-count sidecar ([[RowStats]]) across a commit:
    * kept files keep their resolved counts; fresh files — and kept
    * files an ANCHORED chain shows uncovered (concurrent appenders
    * racing; the gap SELF-HEALS like zones') — are counted with one
    * footer-cheap pass. Small maps (≤ [[RowStats.FullCarryMax]]) and
    * kept-nothing commits publish the FULL map (one-read resolution);
    * past the threshold commits publish DELTAS with a full every
    * CheckpointInterval — O(batch) sidecar IO per append, O(files)
    * only at checkpoint cadence, exactly the log's own discipline
    * (a 10⁶-file table must not copy its whole count map per commit).
    *
    * Adoption rule: tables already on the discipline (any resolvable
    * sidecar or the `.rowstats` marker) always stat here, and so does
    * any commit KEEPING nothing (birth, overwrite, full rewrite — its
    * stat cost is O(what it just wrote) by construction); a
    * kept-carrying commit on a LEGACY table skips entirely until an
    * explicit `system.analyze` — a routine append on a pre-feature
    * 10⁶-file table must never surprise-pay an O(snapshot) stat pass
    * disguised as self-healing.
    */
  private def carryRowCounts(
      spark: SparkSession, dir: String, baseV: Long, newV: Long, newEntry: LogEntry,
      kept: Set[String], fresh: Seq[String]): Unit = {
    val f = fs(spark, dir)
    val (resolved, anchored) = resolveRowCounts(spark, dir, baseV)
    if (resolved.isEmpty && !anchored && kept.nonEmpty &&
        !f.exists(new Path(logPath(dir), ".rowstats"))) return
    val carried = resolved.view.filterKeys(kept).toMap
    // heal only under an ANCHORED chain: un-anchored "uncovered" could
    // be the whole snapshot (walk cap), and healing must stay bounded
    val toHeal =
      if (anchored) (kept -- carried.keySet).toSeq.sorted else Nil
    val toStat = (toHeal ++ fresh).distinct
    // the write job already counted its own files (task output
    // metrics, [[WriteCounts]]) — footer-read only what it couldn't vouch for
    val captured = WriteCounts.takeAll(toStat)
    val freshCounts = captured ++ RowStats.compute(
      spark, dir, toStat.filterNot(captured.contains),
      schemaOf(newEntry).map(physicalSchema))
    val all = carried ++ freshCounts
    val writeFull = kept.isEmpty || all.size <= RowStats.FullCarryMax ||
      newV % ckptIntervalOf(newEntry.props) == 0
    if (writeFull) RowStats.publish(f, logPath(dir), newV, all, full = true)
    else RowStats.publish(f, logPath(dir), newV, freshCounts, full = false)
    // prime the chain memo with what a walk from newV would now yield,
    // so the NEXT commit's resolve is one metadata stat, not a
    // sidecar-chain read per commit
    primeRowsMemo(spark, dir, newV, all, writeFull || anchored)
  }

  /** Physical per-file row counts covering EVERY live file at `v`,
    * resolved from the nearest row-stats sidecar at-or-below `v`
    * (files are immutable, so an older sidecar's entries stay exact).
    * None when any live file is uncovered (legacy table, unhealed
    * carry gap) — callers must then scan.
    */
  def rowCountsAt(
      spark: SparkSession, dir: String, v: Long): Option[Map[String, Long]] = {
    val (counts, _) = resolveRowCounts(spark, dir, v)
    if (counts.isEmpty) return None
    val live = filesAt(spark, dir, v)
    if (live.forall(counts.contains)) Some(live.map(fl => fl -> counts(fl)).toMap)
    else None
  }

  /** Logical `COUNT(*)` at `v` from log metadata ALONE: per-file
    * physical counts minus the snapshot's deletion-vector
    * cardinalities — zero data files opened, not even footers. None
    * when row stats don't cover the whole snapshot. The DSv2 scan
    * serves unfiltered `SELECT count(*)` from this
    * ([[org.apache.spark.sql.graft.VersionedBatchTable]]): at 10⁶
    * files that is a handful of log reads versus 10⁶ object-store
    * GETs for even footer-only aggregate pushdown.
    */
  def metaRowCountAt(spark: SparkSession, dir: String, v: Long): Option[Long] =
    rowCountsAt(spark, dir, v).map(_.values.sum -
      dvsAt(spark, dir, v).values.map(_.size.toLong).sum)

  /** `COUNT(*)` at `v`, metadata-first at any coverage: statted files
    * answer from the log; only uncovered files are scanned (empty
    * projection — footer cost); DV cardinalities subtract exactly.
    * Equals `readAt(v).count()` always.
    */
  def rowCountAt(spark: SparkSession, dir: String, v: Long): Long =
    physicalRowCounts(spark, dir, v, filesAt(spark, dir, v)).values.sum -
      dvsAt(spark, dir, v).values.map(_.size.toLong).sum

  /** Physical row counts of `files` (live at `v`): the row-stats chain
    * answers what it covers, footers the rest.
    */
  private def physicalRowCounts(
      spark: SparkSession, dir: String, v: Long, files: Seq[String]): Map[String, Long] = {
    val (counts, _) = resolveRowCounts(spark, dir, v)
    val unknown = files.filterNot(counts.contains)
    val scanned =
      if (unknown.isEmpty) Map.empty[String, Long]
      else RowStats.compute(spark, dir, unknown, schemaAt(spark, dir, v).map(physicalSchema))
    files.map(f => f -> counts.getOrElse(f, scanned(f))).toMap
  }

  /** Backfills row-count stats for every live head file — the
    * legacy-table adoption path of the row-stats discipline (one
    * explicit O(snapshot) footer pass; new tables stat incrementally
    * from their first commit). Files already covered by an ancestor
    * sidecar are not re-counted. Returns (head version, files statted
    * fresh).
    */
  def analyzeTable(spark: SparkSession, dir: String): (Long, Long) = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val live = filesAt(spark, dir, head)
    val existing = resolveRowCounts(spark, dir, head)._1
      .view.filterKeys(live.toSet).toMap
    val toStat = live.filterNot(existing.contains)
    if (toStat.nonEmpty ||
        !fs(spark, dir).exists(RowStats.sidecar(logPath(dir), head))) {
      val freshCounts = RowStats.compute(spark, dir, toStat,
        schemaAt(spark, dir, head).map(physicalSchema))
      // always FULL: analyze IS the explicit anchor publication
      RowStats.publish(fs(spark, dir), logPath(dir), head,
        existing ++ freshCounts, full = true)
      primeRowsMemo(spark, dir, head, existing ++ freshCounts, anchored = true)
    }
    (head, toStat.size.toLong)
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` — one
    * distributed pass computing per-column NDV (HLL++), null count,
    * min/max, and string lengths over the CURRENT snapshot, published
    * as the table's colstats sidecar ([[ColStats]]). The DSv2 scan
    * reports them through `Statistics.columnStats()`, which feeds
    * Spark's CBO (`spark.sql.cbo.enabled`) — estimation and join
    * reorder, the 100 TB join-order story. Stats serve until the next
    * ANALYZE (Spark/Hive's staleness model); time-travel scans BELOW
    * the analyzed version get none. Returns (analyzed version,
    * column count).
    */
  def analyzeColumns(
      spark: SparkSession, dir: String, cols0: Seq[String]): (Long, Long) = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val snapshot = readAt(spark, dir, head)
    val resolved =
      if (cols0.isEmpty) snapshot.columns.toSeq // FOR ALL COLUMNS
      else cols0.map { c =>
        snapshot.columns.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"no column $c at $dir (${snapshot.columns.mkString(", ")})"))
      }
    // histogram granularity follows Spark's own ANALYZE knob
    val numBins = spark.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    val stats = ColStats.compute(snapshot, resolved, numBins)
    ColStats.write(spark, dir, head, stats)
    (head, resolved.size.toLong)
  }

  /** The colstats the snapshot at `v` may serve: the published sidecar
    * when its analyzed version is ≤ `v` (older stats describing newer
    * data are the tolerated Spark/Hive staleness; newer stats serving
    * an older snapshot would describe rows that did not exist).
    */
  def colStatsAt(
      spark: SparkSession, dir: String,
      v: Long): Option[Map[String, ColStats.Stat]] =
    ColStats.read(spark, dir).collect {
      case (analyzed, stats) if analyzed <= v => stats
    }

  /** Metadata MIN/MAX of `col` at `v` in the ZONE STAT domain
    * ([[ZoneMaps]]' long encoding): `Some((min, max))` only when the
    * snapshot carries NO deletion vectors (a DV could have deleted the
    * extremum row — per-file ranges cannot see that) and the zone
    * sidecar covers EVERY live file for the column. Inner Nones mean
    * every live file is all-NULL for the column (SQL NULL result).
    * Callers map the longs back through the column type's stat
    * encoding — and must NOT use this for timestamps: their stats
    * truncate to epoch seconds, so the true extremum's sub-second part
    * is unrecoverable.
    */
  def metaMinMaxLongAt(
      spark: SparkSession, dir: String, v: Long,
      col: String): Option[(Option[Long], Option[Long])] = {
    if (dvsAt(spark, dir, v).nonEmpty) return None
    val zones = zonedAnchor(spark, dir, v)
      .flatMap(blockOf(_, physicalOf(schemaAt(spark, dir, v), col)))
      .getOrElse(return None)
    val byFile = zones.map(z => z._1 -> z).toMap
    val live = filesAt(spark, dir, v)
    if (!live.forall(byFile.contains)) return None
    // all-NULL files carry the empty-range sentinel (MaxValue,
    // MinValue) — min/max ignore NULLs, so sentinels drop out
    val real = live.map(byFile)
      .filterNot(z => z._2 == Long.MaxValue && z._3 == Long.MinValue)
    if (real.isEmpty) Some((None, None))
    else Some((Some(real.map(_._2).min), Some(real.map(_._3).max)))
  }

  /** Carries the zone-map sidecar across a copy-on-write commit: kept
    * files keep their stats verbatim (no re-scan); rewritten output
    * gets fresh stats. Without this every DELETE/UPDATE would silently
    * drop the table's data skipping until the next explicit
    * [[writeZoneMaps]].
    */
  private def carryZones(
      spark: SparkSession, dir: String, baseV: Long, newV: Long, newEntry: LogEntry,
      kept: Set[String], fresh: Seq[String]): Unit = {
    val f = fs(spark, dir)
    // the immediate predecessor may not have published its sidecar YET
    // (a concurrent appender's carry runs after its commit) or ever —
    // anchor on the nearest zoned ancestor in a bounded window; kept
    // files the anchor lacks stats for (landed in the gap) are statted
    // here, so a carry gap SELF-HEALS instead of silently disabling
    // data skipping for the rest of the table's life
    val blocks = zonedAnchor(spark, dir, baseV).getOrElse(return)
    // same guard as clusteredRewrite: carry only columns still present
    // AND long-castable under the COMMITTED schema — a column retyped
    // since it was zoned would re-stat as all-NULL sentinels (zoned
    // reads would prune every file and silently return nothing) or, for
    // DATE, throw after the commit already published
    val baseSchema = schemaAt(spark, dir, baseV)
    val schema = schemaOf(newEntry)
    // block names are the BASE snapshot's physical names, and a
    // column's IDENTITY is its physical name: first match the new
    // schema's field that still stores basePhys (append/merge/rename —
    // physical stable), else the field whose name equals the base
    // LOGICAL column (a compact/optimize materialized logical names);
    // columns absent or no longer zoneable drop out
    val cols: Seq[(String, String)] = blocks.map(_._1).flatMap { basePhys =>
      schema match {
        case Some(sc) =>
          sc.fields.find(f => physicalName(f) == basePhys)
            .filter(f => zoneableType(f.dataType))
            .map(f => basePhys -> physicalName(f))
            .orElse {
              baseSchema.flatMap(_.fields.find(f => physicalName(f) == basePhys))
                .map(_.name)
                .flatMap(logical => sc.fields.find(_.name == logical))
                .filter(f => physicalName(f) == f.name && zoneableType(f.dataType))
                .map(f => basePhys -> f.name)
            }
        case None => Some(basePhys -> basePhys)
      }
    }
    if (cols.isEmpty) return
    val carried = cols.map { case (basePhys, newPhys) =>
      newPhys -> blockOf(blocks, basePhys).getOrElse(Seq.empty)
        .filter(z => kept.contains(z._1))
    }.toMap
    val covered = carried.values.flatten.map(_._1).toSet
    val toStat = (kept -- covered).toSeq.sorted ++ fresh
    // stats read under the snapshot's COMMITTED physical schema: a
    // fresh file from a narrow mergeSchema batch surfaces the zoned
    // column as NULL (→ empty-range sentinel, skipped exactly and never
    // re-statted) instead of failing resolution
    val newCols = cols.map(_._2)
    val freshStats =
      if (toStat.isEmpty) Map.empty[String, ZoneMaps.Zones]
      else ZoneMaps.compute(spark, dir, toStat, newCols,
        schema.map(physicalSchema), hiveFieldOf(schema))
    val merged = newCols.map { c =>
      c -> (carried(c) ++ freshStats.getOrElse(c, Seq.empty)).sortBy(_._1)
    }.toMap
    val out = LogCodec.encodeZones(newCols.map(c => c -> merged(c)))
    val tmp = new Path(logPath(dir), s".v$newV.zones.tmp")
    val o = f.create(tmp, true)
    try o.write(out.getBytes(StandardCharsets.UTF_8)) finally o.close()
    if (!f.rename(tmp, new Path(logPath(dir), f"v$newV%08d.zones.json")))
      throw new IllegalStateException(s"zone-map publish for v$newV failed")
    // self-heal the zoned-ever marker on tables zoned before it existed
    // (anchor found via the probe window), so their wide-gap fallback
    // keeps working too
    val marker = new Path(logPath(dir), ".zoned")
    if (!f.exists(marker)) f.create(marker, true).close()
  }

  /** Row-level change feed between two snapshots (Delta CDF analog,
    * multiset semantics): rows in `to` but not `from` surface as
    * `insert`, rows gone as `delete`; an update is a delete+insert
    * pair. `exceptAll` keeps duplicate multiplicity so an append of an
    * identical row still shows as one insert.
    *
    * Cost follows the changed files, not the snapshot, and the diff
    * itself the changed rows: a file present in BOTH snapshots holds
    * the same immutable rows on each side, so its rows cancel except
    * where its deletion vector changed — positions soft-deleted in the
    * window (a merge-on-read MERGE, UPDATE or DELETE) are its deletes,
    * positions un-deleted (a restore) its inserts. Such a file is
    * scanned for those positions and only their rows enter the diff; a
    * file whose DVs did not change is not opened. (The schema
    * alignment below pads BOTH sides with the same typed NULLs, so the
    * cancellation survives column-add evolution too.) Files added or
    * removed in the window enter whole, then one signed-count
    * aggregate diffs them.
    */
  def changes(spark: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val bFiles = filesAt(spark, dir, from)
    val aFiles = filesAt(spark, dir, to)
    val dvB = dvsAt(spark, dir, from)
    val dvA = dvsAt(spark, dir, to)
    def norm(m: Map[String, Seq[Long]]): Map[String, Set[Long]] =
      m.map { case (f, idxs) => fileKey(f) -> idxs.toSet }
    val (nB, nA) = (norm(dvB), norm(dvA))
    val shared = bFiles.toSet & aFiles.toSet
    // positions of shared files in `to`'s DVs but not in `from`'s
    def dvGrowth(from: Map[String, Set[Long]], to: Map[String, Set[Long]]) =
      shared.toSeq.flatMap { f =>
        val k = fileKey(f)
        val grew = to.getOrElse(k, Set.empty) -- from.getOrElse(k, Set.empty)
        if (grew.isEmpty) None else Some(f -> grew)
      }.toMap
    // the before-side-only files are the diff's read set from history;
    // if one is physically GONE (out-of-band deletion, acknowledged by
    // a later fsck) no change feed can represent its rows — refuse
    // with the repair named instead of a FileNotFoundException mid-scan.
    // O(removed files) metadata probes, within the O(changed files) bound.
    locally {
      val f = fs(spark, dir)
      val gone = (bFiles.toSet -- aFiles).toSeq.sorted
        .filterNot(rel => f.exists(new Path(dataPathStr(dir, rel))))
      if (gone.nonEmpty) throw new IllegalStateException(
        s"change window [$from, $to] at $dir reads files that no longer " +
          s"exist in storage (${gone.take(3).mkString(", ")}${
            if (gone.size > 3) s", +${gone.size - 3} more" else ""}) — " +
          "rows deleted out-of-band (see fsckRepair) are unreadable by " +
          "definition; start the feed after the repair and reconcile " +
          "downstream state against the repaired snapshot")
    }
    // the rows of snapshot `v`'s shared files at `pos`, under its schema
    def atPositions(v: Long, pos: Map[String, Set[Long]]): Option[DataFrame] =
      if (pos.isEmpty) None
      else {
        import org.apache.spark.sql.functions.broadcast
        import spark.implicits._
        val at = pos.toSeq.flatMap { case (f, is) => is.map(i => (fileKey(f), i)) }
          .toDF("__dv_rel", "__dv_idx")
        val scan = readRaw(spark, dir, schemaAt(spark, dir, v), pos.keys.toSeq)
        Some(scan
          .withColumn("__dv_rel", scanFileKey(col("_metadata.file_path"), pos.keys))
          .withColumn("__dv_idx", col("_metadata.row_index"))
          .join(broadcast(at), Seq("__dv_rel", "__dv_idx"))
          .select(scan.columns.toSeq.map(col): _*))
      }
    def side(v: Long, files: Seq[String], dvs: Map[String, Seq[Long]],
        moved: Map[String, Set[Long]]) =
      atPositions(v, moved).foldLeft(readFileSubset(spark, dir, schemaAt(spark, dir, v),
        files.filterNot(shared), dvs))(_ unionByName _)
    val before = side(from, bFiles, dvB, dvGrowth(nB, nA))
    val after = side(to, aFiles, dvA, dvGrowth(nA, nB))
    // align to the union of the two snapshots' columns (schema may have
    // evolved between them): absent columns surface as typed NULLs, so
    // a widened-then-backfilled row correctly diffs as delete+insert
    val union = before.schema.fields ++
      after.schema.fields.filterNot(f => before.schema.fieldNames.contains(f.name))
    def aligned(df: DataFrame) = df.select(union.toSeq.map { f =>
      if (df.schema.fieldNames.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val b = aligned(before)
    val a = aligned(after)
    // ONE signed-count aggregate serves both diff directions. Spark
    // rewrites each `exceptAll` to exactly this shape (union with a
    // ±1 weight column → sum per full row → replicate-rows generate),
    // so the naive a.exceptAll(b) ∪ b.exceptAll(a) scans and shuffles
    // BOTH sides twice to run the same aggregate in each direction.
    // Folding the two directions into one aggregate halves the scan
    // and shuffle volume of every snapshot diff while producing the
    // identical multiset: rows with count delta d > 0 are d inserts,
    // d < 0 are |d| deletes, d = 0 cancel (the shared-file pruning
    // above already removed the bulk of those). Aggregate-key
    // normalization (NaN, -0.0) matches exceptAll's, which also keys a
    // HashAggregate on the full row.
    import org.apache.spark.sql.functions.{abs, array_repeat, explode, sum, when}
    val cols = union.toSeq.map(f => col(f.name))
    // the internal weight/delta columns must not collide with user
    // columns — a table that happens to carry "__cdf_w" would be
    // silently clobbered by withColumn and corrupt the diff; derive
    // fresh names from the union schema instead (case-insensitive,
    // matching Spark's default resolution)
    def fresh(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(n => !union.exists(_.name.equalsIgnoreCase(n))).get
    val wCol = fresh("__cdf_w")
    val dCol = fresh("__cdf_d")
    val diff = a.withColumn(wCol, lit(1L))
      .unionByName(b.withColumn(wCol, lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(col(wCol)).as(dCol))
      .filter(col(dCol) =!= 0L)
    diff.select(cols :+ explode(array_repeat(
      when(col(dCol) > 0L, lit("insert")).otherwise(lit("delete")),
      abs(col(dCol)).cast("int"))).as("_change_type"): _*)
  }

  /** Physical column names retired by DROP COLUMN up to snapshot `v`. */
  private[graft] def droppedPhysAt(
      spark: SparkSession, dir: String, v: Long): Set[String] =
    entryAt(spark, dir, v).droppedPhys.toSet

  /** Row-pairing keys commit `v` recorded (merge: its ON keys; update:
    * the non-SET columns) — empty for commits that pair nothing
    * (append, delete, overwrite, optimize) and for pre-pairkeys log
    * entries.
    */
  private[graft] def pairKeysAt(spark: SparkSession, dir: String, v: Long): Seq[String] =
    entryAt(spark, dir, v).pairKeys

  /** The change feed with Delta's FOUR change types — the per-commit
    * form of [[changes]]: each version in `(from, to]` contributes its
    * own snapshot diff tagged `_commit_version`, and commits that
    * recorded pairing keys ([[pairKeysAt]]) pair their removed/added
    * rows into `update_preimage`/`update_postimage` (unpaired rows stay
    * `delete`/`insert`). Pairing is exact per key group: with `d`
    * deletes and `i` inserts sharing a key, `min(d, i)` of each become
    * the update pair multiset — the same multiset Delta's positional
    * CDF writes, since a key-bearing rewrite replaces rows key-for-key.
    *
    * Cost — and the reason this is NOT a per-commit loop of
    * [[changes]]: a real table's window is dominated by micro-batch
    * APPEND commits (thousands on a streamed bronze tier), and an
    * append's (v-1, v] diff is by definition exactly its add-actions'
    * rows. So the planner classifies each in-window commit with ONE
    * log-entry read and serves:
    *
    *  - all append commits as ONE file scan per distinct committed
    *    schema (add-actions read as data, Delta-CDC style), each
    *    row's `_commit_version` recovered from its file via a
    *    broadcast file→version map — plan size and driver log reads
    *    stay O(1) per append commit regardless of window width;
    *  - maintenance/metadata commits (optimize, compact-small,
    *    constraint and column-mapping changes) as NOTHING — their
    *    snapshot diff is empty by construction (row content is
    *    preserved; [[changes]]' shared-file pruning would cancel
    *    both sides), so they cost neither a scan nor a plan branch;
    *  - only genuine REWRITE commits (merge/update/delete/overwrite/
    *    restore — rare, explicit operations) through the full
    *    O(changed rows) snapshot diff + pairing of [[changes]].
    *
    * Note the semantic difference from [[changes]]: a row inserted at
    * v3 and deleted at v5 appears TWICE here (insert@3, delete@5) and
    * not at all in the whole-window diff — per-commit is what CDC
    * consumers replay; the net diff is what incremental maintenance
    * folds.
    */
  def changesWithType(
      spark: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit}
    require(from >= 0 && from < to, s"need 0 <= from < to, got ($from, $to]")
    val vs = versions(spark, dir).filter(v => v > from && v <= to)
    require(vs.nonEmpty, s"no committed versions in ($from, $to] at $dir")
    // ONE log-entry read per in-window commit; every per-commit fact
    // below (op, schema, pairkeys, add-actions) parses out of it
    val entries = vs.map(v => (v, entryAt(spark, dir, v)))
    // row-preserving maintenance and metadata-only commits: their
    // snapshot diff is empty (same row multisets, possibly re-filed or
    // re-named) — contribute nothing
    val silent = Set("optimize", "compact-small", "reorg", "rebucket",
      "set-constraint", "drop-constraint", "set-properties",
      "unset-properties", "set-default", "rename-column", "drop-column")
    // the table's birth commit, if the window reaches back to it: its
    // "diff" is the full v1 content (there is no v0 snapshot to scan)
    val birth = entries.collectFirst { case (1L, e) =>
      pairUpdates(
        readAt(spark, dir, 1L).withColumn("_change_type", lit("insert")),
        e.pairKeys).withColumn("_commit_version", lit(1L))
    }
    // append commits: add-actions as data, one scan per committed
    // schema (schema evolution inside a window is rare, so this is
    // almost always exactly one scan). Fresh files of an append carry
    // no DVs by construction (DVs come only from later MoR rewrites,
    // which per-commit semantics surface at THEIR versions), so the
    // scan reads the files whole; appends record no pairkeys, so no
    // pairing pass either.
    val appends = entries.filter { case (v, e) => v > 1L && e.op == "append" }
    val appendScans = appends
      .groupBy { case (_, e) => e.schema }
      .toSeq.sortBy { case (_, group) => group.head._1 }
      .flatMap { case (_, group) =>
        val fileToV = group.flatMap { case (v, e) =>
          addActionsOf(spark, dir, v, e).map(f => (f, v)) }
        if (fileToV.isEmpty) None
        else {
          import spark.implicits._
          val vMap = fileToV.map { case (f, v) => (fileKey(f), v) }
            .toDF("__cdf_rel", "_commit_version")
          val scan = readFileSubset(spark, dir, schemaOf(group.head._2),
            fileToV.map(_._1), Map.empty)
          Some(scan
            .withColumn("__cdf_rel", scanFileKey(input_file_name(), fileToV.map(_._1)))
            .join(broadcast(vMap), Seq("__cdf_rel"))
            .drop("__cdf_rel")
            .withColumn("_change_type", lit("insert")))
        }
      }
    // rewrite commits: the full snapshot diff + pairing, per commit —
    // the only class whose plan branches scale with its count, and the
    // rare one (explicit merge/update/delete/overwrite/restore)
    val rewrites = entries.collect {
      case (v, e) if v > 1L && e.op != "append" && !silent(e.op) =>
        pairUpdates(changes(spark, dir, v - 1, v), e.pairKeys)
          .withColumn("_commit_version", lit(v))
    }
    // rewrite commits are rare by nature (explicit merges/updates/
    // deletes), so their per-commit diff branches normally number a
    // handful. A pathological window (hundreds of rewrites) would hand
    // the analyzer hundreds of diff subtrees — beyond the threshold,
    // fold them in chunks through an EAGER localCheckpoint barrier:
    // each chunk's (small — O(changed files)) diff materializes once
    // and its plan collapses to a leaf, bounding analyzer work at
    // O(chunk) whatever the window holds. Below the threshold nothing
    // materializes and the feed stays fully lazy.
    val boundedRewrites =
      if (rewrites.size <= CdfRewriteChunk) rewrites
      else rewrites.grouped(CdfRewriteChunk).map { chunk =>
        chunk.reduceLeft(_ unionByName (_, allowMissingColumns = true))
          .localCheckpoint()
      }.toSeq
    val branches = birth.toSeq ++ appendScans ++ boundedRewrites
    val unioned =
      if (branches.nonEmpty)
        branches.reduceLeft(_ unionByName (_, allowMissingColumns = true))
      else
        // an all-silent window (e.g. a lone OPTIMIZE): empty feed, but
        // still carrying the endpoint schema + the two CDF columns
        readFileSubset(spark, dir, schemaAt(spark, dir, to), Nil, Map.empty)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(to))
          .limit(0)
    // pin the CDF columns to the tail regardless of branch order
    val dataCols = unioned.columns.toSeq
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    unioned.select(
      (dataCols.map(col) :+ col("_change_type") :+ col("_commit_version")): _*)
  }

  /** Reclassifies a single commit's insert/delete diff into the
    * four-type form using the commit's pairing keys: per key group,
    * rank each side deterministically and convert the overlapping
    * prefix — rank ≤ |opposite side| — into the update pair.
    */
  private def pairUpdates(diff: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number, sum, when}
    if (keys.isEmpty || !keys.forall(diff.columns.contains)) return diff
    val dataCols = diff.columns.toSeq.filterNot(c => c == "_change_type")
    val orderCols = dataCols.filterNot(keys.contains).map(col) match {
      case Seq() => Seq(lit(1))
      case cs => cs
    }
    // ONE exchange serves the whole conversion: partition by the pairing
    // keys alone and sort by (_change_type, order cols) — only `delete`
    // and `insert` exist pre-conversion and 'delete' < 'insert', so a
    // delete's rank within its key group IS its rank among the group's
    // deletes, and an insert's is (rank − n_del). The per-side counts
    // come off the same partitioning as whole-partition window sums.
    // (The previous form partitioned the ranking window by
    // keys :+ _change_type and LEFT-JOINED two per-key groupBy counts —
    // three shuffles of the diff plus two joins for the same result.)
    val byKey = Window.partitionBy(keys.map(col): _*)
    val ranked = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_change_type") +: orderCols: _*)
    diff.withColumn("__rn", row_number().over(ranked))
      .withColumn("__n_del",
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).over(byKey))
      .withColumn("__n_ins",
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).over(byKey))
      .withColumn("_change_type",
        when(col("_change_type") === "delete" &&
          col("__rn") <= col("__n_ins"), lit("update_preimage"))
          .when(col("_change_type") === "insert" &&
            col("__rn") - col("__n_del") <= col("__n_del"), lit("update_postimage"))
          .otherwise(col("_change_type")))
      .select(dataCols.map(col) :+ col("_change_type"): _*)
  }

  /** How the commits in a log window `(from, to]` relate to table
    * content — the decision an incremental downstream consumer makes
    * once per refresh (see [[windowShape]]).
    */
  sealed trait WindowShape
  object WindowShape {
    /** Only appends (or constraint-only commits): the window's new rows
      * are EXACTLY the rows of its added files — [[addedSince]]'s
      * contract, O(new data) propagation.
      */
    case object AppendOnly extends WindowShape
    /** At least one optimize/compact-class rewrite, nothing worse: the
      * add-action read would misreport carried rows as inserts, but
      * every row of `to`'s content is still derivable by insert/update
      * against `from`'s — a full content-level reconciliation
      * (e.g. recleanse + keyed merge) is sound.
      */
    case object RowPreserving extends WindowShape
    /** A delete/update/merge/overwrite/restore landed: rows may have
      * vanished or changed in place, which no insert/update merge can
      * repair — consumers must replace downstream content (or diff with
      * [[changes]], whose signed rows carry removals). The offending
      * `(version, op)` pairs are carried for error messages.
      */
    final case class RowMutating(ops: Seq[(Long, String)]) extends WindowShape
  }

  /** Classifies `(from, to]` in ONE op scan (one log-entry read per
    * commit in the window) — callers branching on more than
    * [[isAppendOnlyWindow]] should use this instead of probing twice.
    *
    * Only the `optimize`/`compact-small` labels count as
    * row-preserving; compaction commits written before those labels
    * existed carry `overwrite` and classify as [[WindowShape.RowMutating]]
    * — deliberately conservative (a real overwrite DOES mutate rows,
    * and the label alone can't tell them apart), costing such legacy
    * windows a full downstream replacement instead of a merge, never
    * correctness.
    */
  def windowShape(
      spark: SparkSession, dir: String, from: Long, to: Long): WindowShape = {
    val nonAppend = nonAppendOps(spark, dir, from, to)
    if (nonAppend.isEmpty) WindowShape.AppendOnly
    else {
      val mutating = nonAppend.filterNot { case (_, op) =>
        op == "optimize" || op == "compact-small" || op == "reorg" ||
          op == "rebucket" }
      if (mutating.isEmpty) WindowShape.RowPreserving
      else WindowShape.RowMutating(mutating)
    }
  }

  /** Whether every commit in `(from, to]` is an append (or
    * constraint-only) — the window shape [[addedSince]] requires.
    * Callers that also need the maintenance/mutation distinction on
    * failure should call [[windowShape]] once instead.
    */
  def isAppendOnlyWindow(
      spark: SparkSession, dir: String, from: Long, to: Long): Boolean =
    windowShape(spark, dir, from, to) == WindowShape.AppendOnly

  /** Whether every commit in `(from, to]` PRESERVES row content:
    * appends, constraint changes, and optimize/compact-class rewrites —
    * see [[WindowShape.RowPreserving]].
    */
  def isRowPreservingWindow(
      spark: SparkSession, dir: String, from: Long, to: Long): Boolean =
    windowShape(spark, dir, from, to) match {
      case WindowShape.RowMutating(_) => false
      case _ => true
    }

  private def nonAppendOps(
      spark: SparkSession, dir: String, from: Long, to: Long): Seq[(Long, String)] =
    (from + 1 to to).map(v => v -> opAt(spark, dir, v))
      .filterNot { case (_, op) =>
        op == "append" || op == "set-constraint" || op == "drop-constraint" ||
          op == "set-properties" || op == "unset-properties" ||
          op == "set-default" }

  /** Insert-only change feed: the rows of files ADDED between
    * snapshots `from` (exclusive) and `to` (inclusive) — the log's
    * add-actions read as data, which is exactly how Delta's streaming
    * source tails a table. Cost is O(new data): only the added files
    * are opened, never the snapshots (contrast [[changes]], whose
    * general diff scans both). This is the right primitive for
    * propagating an APPEND-ONLY tier (e.g. versioned bronze →
    * silver): the commits in the window are REQUIRED to be appends (or
    * constraint-only) — a rewrite op (merge/update/compact/restore)
    * re-publishes old rows into fresh files, which an add-action read
    * would misreport as inserts, so those fail loudly toward
    * [[changes]] instead.
    */
  def addedSince(spark: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    require(from <= to, s"addedSince window is inverted: $from > $to")
    val nonAppend = nonAppendOps(spark, dir, from, to)
    require(nonAppend.isEmpty,
      s"addedSince($from, $to) at $dir requires an append-only window, but it " +
        s"contains ${nonAppend.map { case (v, op) => s"v$v=$op" }.mkString(", ")} — " +
        "rewritten files would surface carried rows as inserts; diff with " +
        "changes() instead")
    addedSinceValidated(spark, dir, from, to)
  }

  /** [[addedSince]] minus the window re-validation — for callers that
    * already probed [[isAppendOnlyWindow]] over the same window (the
    * op scan is one log read per commit; doing it twice per refresh
    * doubles the log I/O the incremental design exists to avoid).
    */
  private[graft] def addedSinceValidated(
      spark: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    val before = filesAt(spark, dir, from).toSet
    val added = filesAt(spark, dir, to).filterNot(before)
    readFileSubset(spark, dir, schemaAt(spark, dir, to),
      added, dvsAt(spark, dir, to))
  }

  /** The table-relative files version `v`'s commit ADDED — its log
    * entry's add actions. Delta entries carry the list verbatim;
    * checkpoint/full-list entries (and legacy logs) reconstruct it as
    * the set difference against the predecessor's resolved list.
    */
  private def addActionsAt(spark: SparkSession, dir: String, v: Long): Seq[String] =
    addActionsOf(spark, dir, v, entryAt(spark, dir, v))

  /** fileKeys of snapshot `v`'s files that a clustering OPTIMIZE
    * produced — resolved from the nearest full-list entry's recorded
    * provenance (`clusteredidx`, written since the field existed) plus
    * the optimize add-actions of the delta suffix: O(CheckpointInterval)
    * log reads per call, the same bound as [[filesAt]]. Legacy tables
    * whose checkpoints predate the field walk further (the old
    * O(retained versions) derivation, still correct); a chain truncated
    * below the provenance floor just FORGETS — files re-cluster once on
    * the next incremental run, wasted work, never wrong rows.
    */
  private[graft] def clusteredKeysAt(
      spark: SparkSession, dir: String, v: Long): Set[String] = {
    var cur = v
    var acc = Set.empty[String]
    while (cur >= 1) {
      val e =
        try entryAt(spark, dir, cur)
        catch { case _: IllegalArgumentException if cur < v => return acc }
      e.clusteredIdx match {
        case Some(idxs) =>
          val full = fullListOf(spark, dir, e.actions).getOrElse(Seq.empty)
          return acc ++ idxs.iterator
            .filter(i => i >= 0 && i < full.size).map(i => fileKey(full(i)))
        case None =>
          // provenance-less entries (delta entries always; full-list
          // entries from before the field existed — since then every
          // checkpoint writes it, empty included) are walked PAST:
          // stale keys this collects for files no longer in the
          // snapshot are harmless — callers intersect with the live
          // file list
          if (e.op == "optimize")
            acc ++= addActionsOf(spark, dir, cur, e).map(fileKey)
          cur -= 1
      }
    }
    acc
  }

  /** [[addActionsAt]] over an already-read entry (one read, many
    * facts — see [[changesWithType]]'s per-commit classification).
    */
  private def addActionsOf(
      spark: SparkSession, dir: String, v: Long, e: LogEntry): Seq[String] = {
    e.actions match {
      case Delta(add, _) => add
      case full =>
        val prev =
          if (v <= 1) Set.empty[String]
          else resolveFiles(spark, dir, v - 1, None).toSet
        fullListOf(spark, dir, full).get.filterNot(prev)
    }
  }

  /** The rows a STREAMING consumer should emit for the log window
    * `(from, to]` — the micro-batch primitive behind the versioned
    * streaming source (Delta's `readStream.format("delta")` semantics,
    * reference site `02_bronze_to_silver.py:20-24`):
    *
    *  - `append` commits contribute their add-action files' rows —
    *    including files a LATER in-window maintenance rewrite already
    *    retired (a row appended at v2 and compacted at v3 must still
    *    stream exactly once), which is why this reads per-commit add
    *    actions rather than diffing the window's endpoint snapshots
    *    like [[addedSince]];
    *  - row-preserving maintenance (`optimize`/`compact-small`) and
    *    constraint commits contribute NOTHING — their added files carry
    *    only rows some earlier commit already emitted (Delta's
    *    `dataChange=false` rule);
    *  - row-MUTATING commits (delete/update/merge/overwrite/restore)
    *    fail loudly by default: no insert-only feed can represent a
    *    removal — the consumer must re-sync (e.g. [[changes]] or a
    *    full re-read), the same stop-the-stream contract Delta applies
    *    without `skipChangeCommits`. With `skipMutating = true`
    *    (Delta's `skipChangeCommits`) such commits are SKIPPED
    *    entirely instead — none of their files emit, the consumer
    *    explicitly accepting that downstream no longer reflects
    *    deletes/updates.
    *
    * Cost is O(appended data in the window) plus one log read per
    * commit in it. The read binds `to`'s committed schema. Each append
    * emits its files as that commit added them, with no deletion
    * vector: a DV lands on a file only after the append that added it,
    * so under `skipMutating` a row an in-window MERGE, UPDATE or DELETE
    * later soft-deleted still streams from its append — the same rows
    * a copy-on-write mutation leaves, and the same whichever micro-batch
    * the mutation falls in.
    */
  def streamBatch(
      spark: SparkSession, dir: String, from: Long, to: Long,
      skipMutating: Boolean = false): DataFrame = {
    require(from <= to, s"streamBatch window is inverted: $from > $to")
    val skippable = Set("optimize", "compact-small", "reorg", "rebucket",
      "set-constraint", "drop-constraint", "set-properties",
      "unset-properties", "set-default")
    val entries = (from + 1 to to).map(v => v -> entryAt(spark, dir, v))
    val mutating = entries.map { case (v, e) => v -> e.op }
      .filterNot { case (_, op) => op == "append" || skippable(op) }
    require(skipMutating || mutating.isEmpty,
      s"streaming read of $dir hit non-append commit(s) " +
        s"${mutating.map { case (v, op) => s"v$v=$op" }.mkString(", ")} in window " +
        s"($from, $to] — an insert-only stream cannot represent removals; " +
        "re-sync the consumer (changes() or a full re-read) and restart the " +
        "stream past the mutation, or opt into skipChangeCommits to ignore " +
        "mutating commits outright")
    val files = entries.collect {
      case (v, e) if e.op == "append" => addActionsOf(spark, dir, v, e) }.flatten
    readFileSubset(spark, dir, schemaAt(spark, dir, to), files, Map.empty)
  }

  /** Delete data files referenced ONLY by versions older than the
    * newest `keepVersions`, and their log entries — plus any data
    * directory no retained snapshot references at all (failed-commit
    * debris), orphaned DV sidecars, and commit temp files older than
    * `tmpRetentionMs` (a tmp younger than that may belong to an
    * in-flight committer). Time travel contracts to the retained
    * window.
    *
    * Concurrency caveat (Delta documents the same one): files
    * referenced ONLY by dropped versions are dead by the log's own
    * word and are deleted regardless of age — so an in-flight
    * [[restore]] (or long-running time-travel read) whose target
    * version this vacuum drops can end up referencing deleted files.
    * Keep restore/time-travel targets inside the retained window for
    * the duration of those operations; see [[restore]]'s scaladoc.
    *
    * Returns the paths it deleted. `dryRun = true` (Delta's
    * `VACUUM ... DRY RUN`) computes and returns the SAME deletion set
    * without touching anything — no deletes, no log truncation, and no
    * anchor-sidecar publish.
    */
  /** Age-based vacuum (Delta's `VACUUM ... RETAIN n HOURS` shape): keeps
    * every version committed within `retainMs` of now — PLUS the head,
    * always — and sweeps like [[vacuum]]. The version count a retention
    * window maps to depends on commit rate, which is exactly why
    * operators state retention in time: "7 days of time travel"
    * holds whether the table commits hourly or every second.
    */
  /** FSCK REPAIR TABLE (Delta's repair of the same name): drops log
    * references to data files that no longer exist in storage —
    * deleted out-of-band by a misdirected lifecycle rule, a manual rm,
    * or a botched restore. Until repaired, every scan that plans those
    * files dies with a FileNotFoundException; after it, the table
    * serves the surviving rows again. The repair is an EXPLICIT,
    * LOGGED data-loss acknowledgment, never a silent one: the commit
    * is a row-mutating `fsck` op (streams without skipChangeCommits
    * stop at it, and change-feed windows spanning it refuse with the
    * repair named — the lost rows' content is unreadable by
    * definition, so no feed can represent them as deletes).
    *
    * The existence probe is DISTRIBUTED: at 100 TB a snapshot holds
    * ~10⁶ files, and one driver-side loop of object-store HEADs would
    * serialize the repair; executors probe partitions of the file list
    * in parallel and the driver collects only the misses. Deletion
    * vectors riding a missing file retire with its reference. Returns
    * the missing relative file names (empty = nothing to repair);
    * `dryRun` lists without committing, Delta's shape.
    */
  def fsckRepair(
      spark: SparkSession, dir: String, dryRun: Boolean = false): Seq[String] = {
    var attempt = 1
    while (true) {
      val base = currentVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no committed versions at $dir"))
      val files = filesAt(spark, dir, base)
      if (files.isEmpty) return Nil
      val conf = new org.apache.spark.sql.graft.SerializableHadoopConf(
        spark.sessionState.newHadoopConf())
      val dirStr = dir
      val missing = spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .mapPartitions { it =>
          val f = new Path(dirStr).getFileSystem(conf.value)
          it.filterNot(rel => f.exists(new Path(dataPathStr(dirStr, rel))))
        }.collect().toSeq.sorted
      if (missing.isEmpty || dryRun) return missing
      val missingKeys = missing.map(fileKey).toSet
      val keep = files.filterNot(missing.toSet)
      val schemaJson = schemaAt(spark, dir, base).map(_.json).getOrElse(
        new org.apache.spark.sql.types.StructType().json)
      try {
        val v = commitPinned(spark, dir, base, "fsck", schemaJson, keep,
          dvsFor = _.filter { case (k, _) => !missingKeys.contains(k) }).get
        carrySidecars(spark, dir, base, v, keep.toSet, Nil)
        return missing
      } catch {
        case e: CommitRace =>
          // a concurrent commit moved the head (it may have added or
          // rewritten files) — re-probe from the new snapshot
          if (attempt >= 8) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `GENERATE symlink_format_manifest` (Delta's command of the same
    * name): writes `_symlink_format_manifest/.../manifest` text files
    * listing the CURRENT snapshot's data files as absolute URIs — the
    * bridge that lets engines without a log reader (Presto / Trino /
    * Athena / Hive's SymlinkTextInputFormat) query the table as plain
    * parquet. Hive-converted layouts get one manifest per `col=val/`
    * partition directory (Delta's shape — the external engine's
    * partition pruning keeps working through the manifest tree);
    * engine-written layouts get a single root manifest. Returns the
    * manifest paths written.
    *
    * Refused when raw parquet bytes do NOT equal the logical snapshot
    * — deletion vectors (soft-deleted rows would resurface in every
    * external read) or column mapping (files store physical names the
    * external engine would surface verbatim) — the same restrictions
    * Delta applies; `REORG TABLE ... APPLY (PURGE)` materializes both
    * away, then re-GENERATE. Staleness is the caller's contract, as in
    * Delta: the manifest is a snapshot of a snapshot — later commits do
    * not republish it. Cost is O(files) driver-side metadata lines (no
    * data read), the same order as one checkpoint entry; vacuum never
    * touches the tree (it sweeps only `d-*` data dirs), so a stale
    * manifest can at worst dangle — exactly Delta's documented hazard.
    */
  def generateManifest(spark: SparkSession, dir: String): Seq[String] = {
    val head = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    require(dvsAt(spark, dir, head).isEmpty,
      s"symlink manifests cannot represent deletion vectors at $dir — " +
        "external engines read raw parquet and would resurface " +
        "soft-deleted rows; run REORG TABLE APPLY (PURGE) first")
    val schema = schemaAt(spark, dir, head)
    require(!schema.exists(hasColumnMapping),
      s"symlink manifests cannot represent column mapping at $dir — " +
        "files store physical column names external engines would " +
        "surface verbatim; OPTIMIZE materializes renames, then re-run")
    val files = filesAt(spark, dir, head)
    val f = fs(spark, dir)
    val root = new Path(dir, "_symlink_format_manifest")
    // wipe the previous generation so partitions dropped since then
    // don't linger as stale manifests
    if (f.exists(root)) f.delete(root, true)
    val groups: Seq[(String, Seq[String])] =
      if (schema.exists(hasHivePartition))
        files.groupBy(rel => rel.lastIndexOf('/') match {
          case -1 => ""
          case i =>
            val d = rel.substring(0, i)
            if (d.contains("=")) d else "" // engine-written d-* files → root
        }).toSeq.sortBy(_._1)
      else Seq("" -> files)
    groups.map { case (sub, fl) =>
      val mf = new Path(if (sub.isEmpty) root else new Path(root, sub), "manifest")
      val body = fl.sorted
        .map(rel => f.makeQualified(dataPath(dir, rel)).toUri.toString)
        .mkString("", "\n", "\n")
      val os = f.create(mf, true)
      try os.write(body.getBytes(StandardCharsets.UTF_8))
      finally os.close()
      mf.toString
    }
  }

  def vacuumRetain(
      spark: SparkSession, dir: String, retainMs: Long,
      tmpRetentionMs: Long = 3600000L, dryRun: Boolean = false): Seq[String] = {
    require(retainMs >= 0, s"negative retention: $retainMs")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions at $dir")
    val cutoff = System.currentTimeMillis() - retainMs
    val keep = math.max(1,
      vs.count(v => commitTimestampAt(spark, dir, v) >= cutoff))
    vacuum(spark, dir, keep, tmpRetentionMs, dryRun)
  }

  /** Minimum independent delete groups before vacuum ships a sweep to
    * executors: below it the job-scheduling overhead exceeds the
    * deletes themselves; above it a driver-side sequential delete loop
    * is the vacuum wall-clock bottleneck (10⁴ dropped versions × one
    * round-trip each — Delta distributes exactly this sweep). Var only
    * as a test seam.
    */
  @volatile private[graft] var VacuumDistributedMin: Int = 64

  /** Test seam: how many vacuum sweeps ran executor-side. */
  private[graft] val vacuumDistributedSweeps =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hadoop Configuration is not java-serializable; standard wrapper
    * (the shape of Spark's private SerializableConfiguration) so the
    * executor-side sweep opens the right FileSystem per path.
    */
  private final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** One delete unit: (absolute path, recursive, guard-on-exists).
    * Groups are ordered WITHIN (a dropped version's log entry must go
    * before its own sidecars, so a crash never leaves an entry pointing
    * at a missing sidecar) and independent ACROSS — which is what makes
    * the sweep distributable.
    */
  private type RmGroup = Seq[(String, Boolean, Boolean)]

  /** Executes delete groups: driver-side below [[VacuumDistributedMin]]
    * (or on a dry run, which only probes existence), executor-side
    * above it. Returns the paths actually removed (exists-guarded
    * members that were absent are omitted — a dry run reports exactly
    * what a live run would remove).
    */
  private def executeDeletes(
      spark: SparkSession, f: FileSystem, groups: Seq[RmGroup],
      dryRun: Boolean): Seq[String] = {
    if (dryRun)
      groups.flatMap(_.collect {
        case (p, _, check) if !check || f.exists(new Path(p)) => p })
    else if (groups.size < VacuumDistributedMin)
      groups.flatMap(_.collect {
        case (p, rec, check) if !check || f.exists(new Path(p)) =>
          f.delete(new Path(p), rec); p })
    else {
      vacuumDistributedSweeps.incrementAndGet()
      val conf = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      // ~64 groups per task amortizes FS-connection setup; capped at
      // cluster parallelism so small sweeps don't schedule empty tasks
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, groups.size / 64))
      spark.sparkContext.parallelize(groups, slices).flatMap { g =>
        g.flatMap { case (p, rec, check) =>
          val path = new Path(p)
          val pfs = path.getFileSystem(conf.value)
          if (check && !pfs.exists(path)) None
          else { pfs.delete(path, rec); Some(p) }
        }
      }.collect().toSeq
    }
  }

  def vacuum(
      spark: SparkSession, dir: String, keepVersions: Int = 1,
      tmpRetentionMs: Long = 3600000L, dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    val f = fs(spark, dir)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def rm(p: Path, recursive: Boolean): Unit = {
      deleted += p.toString
      if (!dryRun) { f.delete(p, recursive); () }
    }
    val all = versions(spark, dir)
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepVersions))
    // anchor the retained window BEFORE truncating: if the oldest kept
    // entry is an add/remove delta, its file list resolves through
    // ancestors about to be deleted — publish a checkpoint sidecar
    // holding its full list first (atomic tmp+rename; crash before the
    // deletes just leaves a harmless extra sidecar)
    if (!dryRun && drop.nonEmpty && keep.nonEmpty) {
      val oldest = keep.head
      val e = entryAt(spark, dir, oldest)
      if (e.actions.isInstanceOf[Delta] && !f.exists(ckptFile(dir, oldest))) {
        val full = resolveFiles(spark, dir, oldest, Some(e))
        // large lists anchor through the same columnar sidecar path as
        // checkpoint commits; the .ckpt.json then just references it
        val body = LogCodec.encodeAnchor(
          if (full.size <= CkptInlineMax) FullList(full)
          else CkptRef(writeCkptSidecar(spark, dir, full)))
        // per-attempt UUID temp, same rule as the commit path: racing
        // vacuums must never share a temp file (a shared name lets one
        // racer truncate the other's fully-written temp mid-rename and
        // publish a partial sidecar the next vacuum would trust)
        val tmp = new Path(logPath(dir),
          s".v$oldest.${java.util.UUID.randomUUID().toString.take(8)}.ckpt.tmp")
        val out = f.create(tmp, true)
        try out.write(body.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (!f.rename(tmp, ckptFile(dir, oldest))) {
          f.delete(tmp, false)
          // the sidecar content is deterministic for a version, so
          // losing the publish race to a concurrent vacuum is success
          if (!f.exists(ckptFile(dir, oldest)))
            throw new IllegalStateException(
              s"checkpoint sidecar publish for v$oldest failed — log NOT truncated")
        }
      }
      // re-anchor the row-count chain at the oldest retained version
      // the same way: an on-discipline table whose FULL sidecar lives
      // below the window would otherwise lose metadata COUNT(*) at
      // every retained version until the next checkpoint (a DELTA at
      // the oldest version resolves through ancestors about to be
      // deleted). Pure copy of the resolved counts — no re-statting.
      locally {
        val oldP = RowStats.sidecar(logPath(dir), oldest)
        val needsAnchor = !f.exists(oldP) ||
          !LogCodec.decodeRowStats(readFully(spark, dir, oldP))._1
        if (needsAnchor) {
          val (resolved, _) = resolveRowCounts(spark, dir, oldest)
          if (resolved.nonEmpty) {
            val liveAtOldest = filesAt(spark, dir, oldest).toSet
            RowStats.publish(f, logPath(dir), oldest,
              resolved.view.filterKeys(liveAtOldest).toMap, full = true)
          }
        }
      }
    }
    // files pinned by shallow clones ([[cloneTable]]'s pin sidecars)
    // stay live FOREVER, whatever versions reference them — a clone's
    // snapshot outlives the source's retention window by design
    val pinnedLive = f.listStatus(logPath(dir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("pin-") && p.getName.endsWith(".json"))
      .flatMap(p => LogCodec.decodePin(readFully(spark, dir, p)).files)
      .toSet
    val keptEntries = keep.map(entryAt(spark, dir, _))
    val live = keep.zip(keptEntries)
      .flatMap { case (v, e) => resolveFiles(spark, dir, v, Some(e)) }.toSet ++ pinnedLive
    val liveDvFiles = keptEntries.flatMap(_.dvFile).toSet
    // columnar checkpoint sidecars stay live while a retained entry OR
    // a retained version's .ckpt.json anchor references them
    def ckptRef(a: LogCodec.Actions) = a match { case CkptRef(n) => Some(n); case _ => None }
    val liveCkptFiles = keep.zip(keptEntries).flatMap { case (v, e) =>
      val anchorRef =
        if (f.exists(ckptFile(dir, v)))
          ckptRef(LogCodec.decodeAnchor(readFully(spark, dir, ckptFile(dir, v))))
        else None
      ckptRef(e.actions) ++ anchorRef
    }.toSet
    val cutoff = System.currentTimeMillis() - tmpRetentionMs
    // a file referenced by NO log entry may belong to an IN-FLIGHT
    // commit (data lands BEFORE the commit publishes), so unreferenced
    // files get the same age guard as tmps/DV sidecars; files the log
    // DOES reference but no retained snapshot keeps are dead by the
    // log's own word and sweep regardless of age. Resolved BEFORE any
    // sidecar deletion below: a dropped entry's columnar checkpoint
    // must still be readable for this referenced-set computation.
    val everReferenced = all.flatMap { v =>
      entryAt(spark, dir, v).actions match {
        case Delta(add, _) => add
        case full => fullListOf(spark, dir, full).get
      }
    }.toSet
    // dropped log entries go FIRST, before any sidecar they reference is
    // swept: a crash after a sidecar sweep but before the entry deletes
    // would leave listed entries pointing at missing sidecars, making
    // every later everReferenced/history resolution throw. The reverse
    // crash (entries gone, sidecars still present) is harmless — the
    // now-unreferenced sidecars age-sweep below or on the next run. All
    // referenced-set computations above already captured what the drop
    // entries knew, so deleting them here changes no decision below.
    // one group per dropped version (entry first, then its sidecars —
    // exists-guarded so a dry run reports only real paths), shipped
    // executor-side past the threshold: at 10⁴ dropped versions the
    // driver-side sequential loop was the vacuum wall-clock bottleneck
    deleted ++= executeDeletes(spark, f, drop.map { v =>
      (versionFile(dir, v).toString, false, false) +:
        Seq(new Path(logPath(dir), f"v$v%08d.zones.json"), ckptFile(dir, v),
          new Path(logPath(dir), f"v$v%08d.bloom.json"),
          new Path(logPath(dir), f"v$v%08d.szones.json"),
          RowStats.sidecar(logPath(dir), v))
          .map(p => (p.toString, false, true))
    }, dryRun)
    // bloom data dirs whose pointer no longer survives (dropped above,
    // or a crashed build that never published one) age-sweep like the
    // other orphaned sidecars; referenced dirs are immutable and stay
    locally {
      val live = f.listStatus(logPath(dir)).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".bloom.json"))
        .flatMap { n =>
          LogCodec.decodeBloomPointer(readFully(spark, dir, new Path(logPath(dir), n))).datas
        }.toSet
      f.listStatus(logPath(dir)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bloomdata-"))
        .foreach { st =>
          if (!live.contains(st.getPath.getName) &&
              st.getModificationTime < System.currentTimeMillis() - tmpRetentionMs)
            rm(st.getPath, true)
        }
    }
    f.listStatus(logPath(dir)).toSeq.foreach { st =>
      val n = st.getPath.getName
      val staleTmp = n.startsWith(".") && n.endsWith(".tmp") &&
        st.getModificationTime < cutoff
      // age-guarded like tmps: a committer publishes its DV sidecar
      // BEFORE its commit, so a young unreferenced sidecar may belong
      // to an in-flight commit, not a failed one — the same rule covers
      // columnar checkpoint sidecars (published before their entry)
      val orphanDv = n.startsWith("dv-") && n.endsWith(".json") &&
        !liveDvFiles.contains(n) && st.getModificationTime < cutoff
      val orphanCkpt = n.startsWith("ckpt-") && n.endsWith(".parquet") &&
        !liveCkptFiles.contains(n) && st.getModificationTime < cutoff
      if (staleTmp || orphanDv || orphanCkpt) rm(st.getPath, false)
    }
    // sweep whole data dirs with no live files; else per-file (every
    // parquet in a PUBLISHED dir is in its commit's add list, so files
    // inside live dirs never need the in-flight guard). Decisions are
    // made driver-side from the listing, then the deletes — each an
    // independent single-member group — ship executor-side past the
    // threshold (Delta distributes exactly this data sweep).
    val liveDirs = live.map(_.split("/", 2)(0))
    val refDirs = everReferenced.map(_.split("/", 2)(0))
    val dataRm = scala.collection.mutable.ArrayBuffer.empty[RmGroup]
    f.listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
      .foreach { st =>
        val d = st.getPath.getName
        if (!liveDirs.contains(d)) {
          if (refDirs.contains(d) || st.getModificationTime < cutoff)
            dataRm += Seq((st.getPath.toString, true, false))
        } else f.listStatus(st.getPath).toSeq.foreach { fileSt =>
          val rel = s"$d/${fileSt.getPath.getName}"
          if (fileSt.getPath.getName.endsWith(".parquet") && !live.contains(rel))
            dataRm += Seq((fileSt.getPath.toString, false, false))
        }
      }
    // hive partition dirs (a CONVERTed table's original layout) are
    // SHARED across commits and external landings, never per-write —
    // so ALWAYS per-file, and every unreferenced file keeps the age
    // guard (tomorrow's partition may have landed but not yet been
    // addFiles'd). Files a dropped version referenced sweep by the
    // log's word like d-* contents; a dir left empty is removed (it
    // carried values only for files that no longer exist).
    val hiveDirs = f.listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory && {
        val n = st.getPath.getName
        n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      })
    hiveDirs.foreach { st =>
      val d = st.getPath.getName
      f.listStatus(st.getPath).toSeq.foreach { fileSt =>
        val rel = s"$d/${fileSt.getPath.getName}"
        val dead = fileSt.getPath.getName.endsWith(".parquet") &&
          !live.contains(rel) &&
          (everReferenced.contains(rel) ||
            fileSt.getModificationTime < cutoff)
        if (dead) dataRm += Seq((fileSt.getPath.toString, false, false))
      }
    }
    deleted ++= executeDeletes(spark, f, dataRm.toSeq, dryRun)
    // emptied hive dirs drop AFTER the sweep lands (they carried values
    // only for files that no longer exist)
    if (!dryRun) hiveDirs.foreach { st =>
      if (f.listStatus(st.getPath).isEmpty) f.delete(st.getPath, false)
    }
    deleted.toSeq
  }
}
