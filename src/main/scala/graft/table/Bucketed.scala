package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.ops.Upsert

/** Hash-bucket-partitioned table: the scale-path upsert target.
  *
  * `Silver.upsertInto` (the faithful port of the reference's Delta
  * MERGE) rewrites the whole target per batch — Delta's file pruning is
  * what it loses (SURVEY.md §4). This layout restores pruning at
  * *bucket* granularity: rows live under `bucket=NNN/` subdirectories
  * keyed by `pmod(hash(keys), numBuckets)`, and an upsert
  *
  *   1. computes the source's touched bucket ids (≤ numBuckets values —
  *      a bounded driver-side collect, the analog of Delta reading its
  *      log, NOT a data-sized action),
  *   2. merges and atomically swaps ONLY those bucket directories.
  *
  * Untouched buckets are never read, never rewritten. Per-batch cost is
  * `O(touched buckets × bucket size + source)` instead of `O(table)`;
  * with numBuckets sized so a bucket ≈ a few GB, a point-update batch
  * at 100 TB rewrites a handful of buckets, not the table. Commit
  * granularity is per-bucket (each bucket swap is atomic; a crash
  * between buckets leaves earlier buckets committed — the same
  * at-least-once story as the bronze manifest, and re-running the same
  * source batch converges because LWW merge is idempotent).
  */
final case class BucketedRef(dir: String, numBuckets: Int, keys: Seq[String]) {
  require(numBuckets > 0, "numBuckets must be positive")

  def bucketCol: Column = pmod(hash(keys.map(col): _*), lit(numBuckets))
  def bucketDir(b: Int): TableRef = TableRef(s"$dir/bucket=$b")
}

/** Zone-map clustering contract of a bucketed table: every bucket write
  * range-clusters its rows on `cols.head` into ~`filesPerBucket` files,
  * and a `_graft_zones.json` sidecar publishes per-file [lo, hi] stats
  * of every column in `cols` (long domain: integral values as-is,
  * timestamps as epoch seconds — see [[ZoneMaps]]).
  *
  * This restores WITHIN-bucket data skipping: hash bucketing spreads
  * every key range over every bucket, so without clustering each file
  * spans the full range of any non-key column and a zone map prunes
  * nothing. With it, a range scan on the clustering column reads
  * ~1/filesPerBucket of each bucket — on top of the upsert path's
  * bucket pruning, this is the Delta data-skipping story (stats in the
  * log, files skipped at planning) on the bucketed layout. Secondary
  * `cols` get stats too (useful when correlated with the primary, e.g.
  * two timestamps of one lifecycle), but only the primary is clustered.
  */
final case class ZoneSpec(cols: Seq[String], filesPerBucket: Int = 4) {
  require(cols.nonEmpty, "at least one zone column")
  require(filesPerBucket > 0, "filesPerBucket must be positive")
  def primary: String = cols.head
}

object Bucketed {

  /** Existence probe, bucket-table analog of Table.exists. */
  def exists(spark: SparkSession, ref: BucketedRef): Boolean = {
    val p = new Path(ref.dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Migration guard: refuses to upsert into a legacy FLAT table dir.
    * A pre-bucketing silver table holds root-level parquet files; a
    * bucketed write on top would mix them with `bucket=N/` partition
    * dirs, breaking partition discovery or duplicating rows on read.
    * Failing loudly here turns a silent data corruption into a clear
    * one-time migration step (read the flat table, `create` it
    * bucketed).
    */
  def assertBucketedLayout(spark: SparkSession, ref: BucketedRef): Unit = {
    val root = new Path(ref.dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(root)) {
      val flat = f.listStatus(root).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName)
      require(flat.isEmpty,
        s"${ref.dir} holds a legacy FLAT table layout (root-level parquet: " +
          s"${flat.take(3).mkString(", ")}${if (flat.size > 3) ", …" else ""}); " +
          "migrate it first — read the flat table and Bucketed.create it — " +
          "before bucketed upserts")
    }
  }

  /** Initial materialization: one distributed write, partitioned into
    * `bucket=NNN/` dirs, atomically swapped into place. With a
    * [[ZoneSpec]], rows are additionally range-clustered on the primary
    * zone column within each bucket (one exchange on
    * (bucket, primary) replaces the plain hash exchange — same shuffle
    * count) and the zone sidecar is published after the swap.
    */
  def create(df: DataFrame, ref: BucketedRef, zone: Option[ZoneSpec] = None): Unit = {
    val spark = df.sparkSession
    val root = new Path(ref.dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root.getParent, s".${root.getName}.__tmp__")
    f.delete(tmp, true)
    val bucketed = df.withColumn("bucket", ref.bucketCol)
    val laidOut = zone match {
      case Some(spec) =>
        bucketed
          .repartitionByRange(ref.numBuckets * spec.filesPerBucket,
            col("bucket"), col(spec.primary))
          .sortWithinPartitions(col("bucket"), col(spec.primary))
      case None => bucketed
    }
    laidOut.write.partitionBy("bucket").parquet(tmp.toString)
    f.delete(new Path(ref.dir), true)
    if (!f.rename(tmp, new Path(ref.dir)))
      throw new IllegalStateException(s"rename $tmp -> ${ref.dir} failed")
    spark.catalog.refreshByPath(ref.dir)
    zone.foreach(writeZoneMaps(spark, ref, _))
  }

  /** Full logical view (partition column dropped). */
  def read(spark: SparkSession, ref: BucketedRef): DataFrame =
    spark.read.parquet(ref.dir).drop("bucket")

  /** LWW upsert rewriting only the buckets the source touches.
    *
    * The source PLAN (often a whole cleanse pipeline) executes exactly
    * once: it is staged to a bucket-partitioned parquet directory in one
    * distributed write, touched bucket ids come from the staging
    * listing (bounded by numBuckets — the Delta-log-read analog, not a
    * data-sized action), and each per-bucket merge reads its
    * partition-pruned slice of the staging dir. Without the staging
    * step every per-bucket merge would re-execute the source plan —
    * O(touched buckets × source cost) instead of O(source).
    */
  def upsertLww(
      spark: SparkSession,
      ref: BucketedRef,
      source: DataFrame,
      versionCol: String): Unit = {
    assertBucketedLayout(spark, ref)
    val root = new Path(ref.dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dot-prefixed so partition discovery on the parent never sees it;
    // UUID-suffixed so two concurrent upserts into the same table can't
    // clobber each other's staged input — racing callers now collide
    // only at the per-bucket atomic swap (loud), never at staging
    val staging = new Path(root.getParent,
      s".${root.getName}.__stage__${java.util.UUID.randomUUID().toString}")
    try {
      source.withColumn("bucket", ref.bucketCol)
        .write.partitionBy("bucket").parquet(staging.toString)
      val touched = f.listStatus(staging).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt).sorted
      if (touched.nonEmpty) {
        // the sidecar's clustering contract is maintained through every
        // upsert: merged buckets are rewritten range-clustered and
        // their stats refreshed — untouched buckets keep their zones
        val spec = zoneSpec(spark, ref)
        def clustered(df: DataFrame): DataFrame = spec match {
          case Some(z) =>
            df.repartitionByRange(z.filesPerBucket, col(z.primary))
              .sortWithinPartitions(z.primary)
          case None => df
        }
        val staged = spark.read.parquet(staging.toString)
        touched.foreach { b =>
          val slice = staged.filter(col("bucket") === b)
            .select(source.columns.toSeq.map(col): _*)
          val tgtRef = ref.bucketDir(b)
          if (!f.exists(tgtRef.path) || f.listStatus(tgtRef.path).isEmpty) {
            Table.overwriteAtomic(clustered(slice), tgtRef)
          } else {
            val target = spark.read.parquet(tgtRef.dir).select(source.columns.toSeq.map(col): _*)
            Table.overwriteAtomic(
              clustered(Upsert.lastWriterWins(target, slice, ref.keys, versionCol)), tgtRef)
          }
        }
        spec.foreach(refreshZoneMaps(spark, ref, _, touched.toSeq))
      }
    } finally f.delete(staging, true)
    // readers scan the table ROOT; invalidate its cached file index too
    spark.catalog.refreshByPath(ref.dir)
  }

  // ---- zone maps: data skipping on the bucketed layout ----

  private def zonesPath(ref: BucketedRef) = new Path(ref.dir, "_graft_zones.json")

  /** Data files as table-relative paths (`bucket=N/part-….parquet`). */
  private def dataFiles(f: org.apache.hadoop.fs.FileSystem, ref: BucketedRef): Seq[String] =
    f.listStatus(new Path(ref.dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      .flatMap { d =>
        f.listStatus(d.getPath).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
      }.sorted

  private def readSidecar(
      f: org.apache.hadoop.fs.FileSystem, ref: BucketedRef): Option[String] = {
    val p = zonesPath(ref)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** The clustering contract recorded in the sidecar, if the table has
    * one — what keeps zone maintenance automatic across upserts.
    */
  def zoneSpec(spark: SparkSession, ref: BucketedRef): Option[ZoneSpec] = {
    val f = new Path(ref.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSidecar(f, ref).map { json =>
      val (fpb, blocks) = LogCodec.decodeBucketZones(json)
      ZoneSpec(blocks.map(_._1), fpb)
    }
  }

  private def writeSidecar(
      f: org.apache.hadoop.fs.FileSystem, ref: BucketedRef, spec: ZoneSpec,
      zones: Map[String, ZoneMaps.Zones]): Unit = {
    val json = LogCodec.encodeBucketZones(spec.filesPerBucket,
      spec.cols.map(c => c -> zones.getOrElse(c, Seq.empty)))
    val tmp = new Path(ref.dir, s"._graft_zones.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(zonesPath(ref), false) // sidecar is derived data: last write wins
    if (!f.rename(tmp, zonesPath(ref)))
      throw new IllegalStateException(s"zone sidecar publish failed for ${ref.dir}")
  }

  /** Publishes (or fully rebuilds) the zone sidecar for the table's
    * CURRENT files. One footer-cheap stats pass over the whole table —
    * use once at creation or migration; steady-state maintenance is the
    * incremental per-upsert refresh.
    */
  def writeZoneMaps(spark: SparkSession, ref: BucketedRef, spec: ZoneSpec): Unit = {
    val f = new Path(ref.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeSidecar(f, ref, spec,
      ZoneMaps.compute(spark, ref.dir, dataFiles(f, ref), spec.cols))
  }

  /** Refreshes sidecar stats for `touched` buckets only, keeping every
    * other bucket's zones verbatim — the stats refresh follows the
    * upsert's O(touched buckets) cost, not the table size.
    */
  private def refreshZoneMaps(
      spark: SparkSession, ref: BucketedRef, spec: ZoneSpec, touched: Seq[Int]): Unit = {
    val f = new Path(ref.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touchedPrefixes = touched.map(b => s"bucket=$b/").toSet
    def inTouched(file: String): Boolean = touchedPrefixes.exists(file.startsWith)
    val blocks = readSidecar(f, ref).map(LogCodec.decodeBucketZones(_)._2).getOrElse(Nil)
    val kept: Map[String, ZoneMaps.Zones] = spec.cols.map(c => c ->
      blocks.collectFirst { case (`c`, z) => z }.getOrElse(Seq.empty)
        .filterNot(z => inTouched(z._1))).toMap
    val freshFiles = dataFiles(f, ref).filter(inTouched)
    val fresh = ZoneMaps.compute(spark, ref.dir, freshFiles, spec.cols)
    val merged = spec.cols.map(c =>
      c -> (kept(c) ++ fresh.getOrElse(c, Seq.empty)).sortBy(_._1)).toMap
    writeSidecar(f, ref, spec, merged)
  }

  /** The file subset a `[lo, hi]` range scan on `zoneCol` must read
    * (long domain — timestamps compare as epoch seconds). Files without
    * stats, and every file when the table has no sidecar or the column
    * no block, are kept: pruning can only narrow a scan, never lose
    * rows.
    */
  def prunedFiles(
      spark: SparkSession, ref: BucketedRef,
      zoneCol: String, lo: Long, hi: Long): Seq[String] = {
    val f = new Path(ref.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = dataFiles(f, ref)
    readSidecar(f, ref).flatMap(LogCodec.decodeBucketZones(_)._2
      .collectFirst { case (`zoneCol`, z) => z }) match {
      case Some(zones) => ZoneMaps.prune(all, zones, lo, hi)
      case None => all
    }
  }

  /** Range scan through the zone map: opens only the pruned file subset
    * and applies the residual predicate
    * `cast(zoneCol as long) between lo and hi` (zones prune files, they
    * don't filter rows). The bucketed analog of
    * [[Versioned.readWhere]] — Delta data skipping end to end.
    */
  def readWhere(
      spark: SparkSession, ref: BucketedRef,
      zoneCol: String, lo: Long, hi: Long): DataFrame = {
    val pruned = prunedFiles(spark, ref, zoneCol, lo, hi)
    val df =
      if (pruned.isEmpty) read(spark, ref).limit(0)
      else spark.read.parquet(pruned.map(p => s"${ref.dir}/$p"): _*)
    df.filter(col(zoneCol).cast("long").between(lo, hi))
  }
}
