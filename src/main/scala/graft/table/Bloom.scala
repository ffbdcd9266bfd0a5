package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.Bridge

/** Per-file Bloom-filter indexes — the Databricks `BLOOMFILTER INDEX`
  * analog and the data-skipping complement of zone maps: zones prune
  * RANGE predicates and need clustering to bite (a random-distributed
  * high-cardinality key spans every file's [lo, hi], so zones keep
  * everything), while blooms answer per-file "cannot contain this
  * value" for EQUALITY probes regardless of layout, at a configured
  * false-positive rate. A false positive only widens the scan — the
  * residual predicate and DV subtraction still run — so pruning is
  * EXACT on rows by construction, like zones' "no stats never skips".
  *
  * Shape: one distributed aggregate pass groups the raw file bytes by
  * `input_file_name` and folds `xxhash64(col)` through Spark's own
  * `BloomFilterAggregate` (the runtime-filter machinery — map-side
  * combined, one bloom per file per column), landing ONE immutable
  * columnar sidecar `bloomdata-v<N>-<uuid>/` (f, c, bloom) plus a
  * version-keyed pointer `v<N>.bloom.json`. There is NO per-commit
  * carry: at 10⁶ files the sidecar is GBs (~KBs of bitset per file),
  * so copying it per commit — the zone sidecar's carry discipline,
  * fine at 24 bytes/file — would dominate every append. Instead
  * entries are keyed by file name, files are immutable, and a prune at
  * version `v` intersects v's OWN file list with the newest build
  * at-or-before `v`: files added after the build have no entry and
  * are never pruned; files removed before the build simply go unused.
  * Membership is evaluated DISTRIBUTED over the sidecar parquet and
  * only surviving file names (log-sized) reach the driver.
  */
private[graft] object Bloom {

  /** Standard Bloom sizing: bits = -n·ln(fpp)/ln²2, ≥ 64. */
  def numBits(itemsPerFile: Long, fpp: Double): Long =
    math.max(64L, math.ceil(
      -itemsPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** The probe hash of a literal, computed BY SPARK so it is
    * bit-identical to the build side's `xxhash64(col)` rows. The
    * literal is `try_cast` to the COLUMN's type first: xxhash64 is
    * type-sensitive (the same number hashes differently as Int vs
    * Long), so probing a BIGINT column with an Int literal raw would
    * silently rule out files that do contain the value. None when the
    * value cannot represent in the column's type (or is null) — the
    * caller must then not prune at all and let the residual filter's
    * coercion semantics decide.
    */
  def probeHash(
      spark: SparkSession, value: Any,
      colType: Option[org.apache.spark.sql.types.DataType]): Option[Long] =
    probeHashes(spark, Seq(value), colType).head

  /** [[probeHash]] for a whole IN-list in ONE local job: a single
    * one-row projection computes every literal's (isNull, xxhash64)
    * pair, so a k-value probe costs one job instead of k.
    */
  def probeHashes(
      spark: SparkSession, values: Seq[Any],
      colType: Option[org.apache.spark.sql.types.DataType])
      : Seq[Option[Long]] = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val cols = values.zipWithIndex.flatMap { case (value, i) =>
      val probe = colType.map(lit(value).try_cast(_)).getOrElse(lit(value))
      Seq(probe.isNull.as(s"n$i"), xxhash64(probe).as(s"h$i"))
    }
    val r = spark.range(1).select(cols: _*).head()
    values.indices.map(i =>
      if (r.getBoolean(2 * i)) None else Some(r.getLong(2 * i + 1)))
  }

  /** One bloom per (file, column) over `relFiles`' RAW bytes (no DV
    * subtraction — extra members only add false positives, and the
    * read path re-applies DVs). Returns the sidecar dir name written
    * under the log dir.
    */
  def build(
      spark: SparkSession, dir: String, v: Long, relFiles: Seq[String],
      physCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      itemsPerFile: Long, fpp: Double): String = {
    import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    if (relFiles.nonEmpty) {
      val scan = Versioned.readFiles(spark, dir, schema, relFiles)
      val bits = numBits(itemsPerFile, fpp)
      val aggs = physCols.map { c =>
        Bridge.column(new BloomFilterAggregate(
          Bridge.expression(xxhash64(col(c))),
          Literal(itemsPerFile), Literal(bits), 0, 0)
          .toAggregateExpression()).as(s"b_$c")
      }
      val perFile = scan
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
      // map the scan's file URIs back to the committed names and
      // unpivot to the (f, c, bloom) sidecar rows
      val rows = perFile.collectAsList() // one row per file — log-sized
      val nameOf = Versioned.scannedName(dir, relFiles)
      rows.forEach { r =>
        val rel = nameOf(r.getString(0)).getOrElse(
          throw new IllegalStateException(s"bloom row for unknown file ${r.getString(0)}"))
        physCols.zipWithIndex.foreach { case (c, i) =>
          val b = r.get(i + 1)
          if (b != null)
            out.add(org.apache.spark.sql.Row(rel, c, b.asInstanceOf[Array[Byte]]))
        }
      }
    }
    val name = f"bloomdata-v$v%08d-${java.util.UUID.randomUUID().toString.take(8)}"
    val sidecar = new Path(Versioned.logPathOf(dir), name)
    spark.createDataFrame(out,
      new org.apache.spark.sql.types.StructType()
        .add("f", org.apache.spark.sql.types.StringType, false)
        .add("c", org.apache.spark.sql.types.StringType, false)
        .add("bloom", org.apache.spark.sql.types.BinaryType, false))
      .repartition(1)
      .write.mode("overwrite").parquet(sidecar.toString)
    name
  }

  /** Files of `all` that MIGHT contain `value` in `physCol` per the
    * sidecar at `dataDir` — plus every file the sidecar has no entry
    * for (unprunable, never wrong). Membership runs distributed over
    * the sidecar parquet; only names return.
    */
  def pruneEquals(
      spark: SparkSession, dir: String, dataNames: Seq[String],
      physCol: String, value: Any, all: Seq[String],
      colType: Option[org.apache.spark.sql.types.DataType] = None): Seq[String] =
    pruneIn(spark, dir, dataNames, physCol, Seq(value), all, colType)

  /** IN-list twin of [[pruneEquals]]: k probe hashes (one local job),
    * ONE distributed pass over the sidecar — a file survives when ANY
    * probe might be contained (the disjunct's sound union). Any
    * unrepresentable/null probe disables pruning entirely: that
    * element's rows could live in files the other probes rule out.
    */
  def pruneIn(
      spark: SparkSession, dir: String, dataNames: Seq[String],
      physCol: String, values: Seq[Any], all: Seq[String],
      colType: Option[org.apache.spark.sql.types.DataType] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val hsOpt = probeHashes(spark, values, colType)
    if (hsOpt.exists(_.isEmpty)) return all
    val hs: Array[Long] = hsOpt.flatten.distinct.toArray
    // a file statted in several generations keeps the union "might
    // contain" verdict — each generation's bloom is a valid bloom of
    // the same immutable bytes, so any `true` keeps the file (sound;
    // a lone `false` would also be sound but the union needs no
    // per-file reconciliation)
    val sidecars =
      dataNames.map(n => new Path(Versioned.logPathOf(dir), n).toString)
    val entries = spark.read.parquet(sidecars: _*)
      .filter(col("c") === physCol)
      .select("f", "bloom")
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY))
    val decided = entries.map { case (fr, bytes) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      (fr, hs.exists(bf.mightContainLong))
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaBoolean))
      .collect()
    val statted = decided.map(_._1).toSet
    val mightHave = decided.collect { case (fr, true) => fr }.toSet
    all.filter(fr => !statted.contains(fr) || mightHave.contains(fr))
  }

  private def writeBytes(
      spark: SparkSession, dir: String, tmpName: String, dstName: String,
      body: String): Unit = {
    val log = Versioned.logPathOf(dir)
    val f = log.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(log, tmpName)
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(log, dstName)))
      throw new IllegalStateException(s"bloom pointer publish failed: $dstName")
  }

  /** Publishes the build pointer `v<N>.bloom.json`. A pointer may
    * reference SEVERAL sidecar generations (`dataNames`): an
    * incremental build stats only post-build files and appends its
    * generation instead of copying the (GB-scale at 10⁶ files) existing
    * sidecar forward — the zorderIncremental discipline.
    * `itemsPerFile` records the per-file sizing so increments build
    * bit-compatible blooms.
    */
  def publishPointer(
      spark: SparkSession, dir: String, v: Long, dataNames: Seq[String],
      physCols: Seq[String], fpp: Double, itemsPerFile: Long): Unit = {
    writeBytes(spark, dir, s".v$v.bloom.tmp", f"v$v%08d.bloom.json",
      LogCodec.encodeBloomPointer(
        LogCodec.BloomPointer(dataNames, physCols, fpp, itemsPerFile)))
    // the `.bloom` marker gates the log-dir listing below: every
    // DSv2 equality scan probes for an index, and a never-bloomed
    // 10⁶-commit table must not pay an O(log-entries) listing per
    // scan just to learn there is nothing to consult
    val log = Versioned.logPathOf(dir)
    val f = log.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(log, ".bloom")
    if (!f.exists(marker)) f.create(marker, true).close()
  }

  /** The newest build pointer at-or-before `v`: (version, sidecar
    * generations, cols, fpp, items). One marker probe for the
    * never-indexed fast path, then one log-dir listing, no
    * per-version probes.
    */
  def latestPointerAt(
      spark: SparkSession, dir: String, v: Long)
      : Option[(Long, Seq[String], Seq[String], Double, Long)] = {
    val log = Versioned.logPathOf(dir)
    val f = log.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(new Path(log, ".bloom"))) return None
    val cands = f.listStatus(log).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".bloom.json") =>
        n.stripPrefix("v").stripSuffix(".bloom.json").toLong
      }
      .filter(_ <= v)
    cands.sorted.lastOption.map { bv =>
      val json = {
        val p = new Path(log, f"v$bv%08d.bloom.json")
        val in = f.open(p)
        try {
          val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
          in.readFully(bytes)
          new String(bytes, StandardCharsets.UTF_8)
        } finally in.close()
      }
      val p = LogCodec.decodeBloomPointer(json)
      (bv, p.datas, p.cols, p.fpp, p.items)
    }
  }

  /** Every file name any of the pointer's sidecar generations carries
    * an entry for — the statted set an incremental build subtracts.
    * Distributed distinct over the sidecars; only names (log-sized)
    * reach the driver.
    */
  def stattedFiles(
      spark: SparkSession, dir: String, dataNames: Seq[String]): Set[String] = {
    val sidecars =
      dataNames.map(n => new Path(Versioned.logPathOf(dir), n).toString)
    spark.read.parquet(sidecars: _*).select("f").distinct()
      .collect().map(_.getString(0)).toSet
  }
}
