package graft.tools

import graft.table.Versioned

/** Commit-count scale microbench: builds a versioned table with N
  * (default 10,000) log-only commits — the history a streamed bronze
  * tier accumulates — and measures the driver cost (wall ms + log-entry
  * reads) of every hot read path at that depth: snapshot resolution,
  * full read, timestamp index, wide-window CDF, history, incremental
  * Z-ORDER after a full rewrite, and vacuum. CommitScaleSpec pins the
  * same bounds at fixture scale; this prints the measured numbers
  * recorded in BASELINE.md.
  *
  * Usage: runMain graft.tools.CommitScale [nCommits] [cdfWindow]
  */
object CommitScale {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000)
    val window = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_commitscale").toString

    def timed[T](body: => T): (T, Long, Long) = {
      val r0 = Versioned.logReads.get()
      val t0 = System.nanoTime()
      val out = body
      ((out, (System.nanoTime() - t0) / 1000000L, Versioned.logReads.get() - r0))
    }

    // seed file, then N byte-copied log-only commits (addFiles)
    Versioned.append(Seq((0L, "seed")).toDF("id", "s"), dir)
    val seedRel = Versioned.filesAt(spark, dir, 1L).head
    val seedBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, seedRel))
    val schema = Seq((0L, "")).toDF("id", "s").schema
    val (_, buildMs, buildReads) = timed {
      (0 until n).foreach { i =>
        val rel = s"d-cs-$i/part-0.parquet"
        val p = java.nio.file.Paths.get(dir, rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, seedBytes)
        Versioned.addFiles(spark, dir, Seq(rel), knownSchema = Some(schema))
      }
    }
    val head = Versioned.currentVersion(spark, dir).get

    val (nFiles, filesMs, filesReads) = timed(Versioned.filesAt(spark, dir, head).size)
    val (nRows, readMs, readReads) = timed(Versioned.read(spark, dir).count())
    val (_, asofMs, asofReads) = timed(
      Versioned.versionAsOf(spark, dir, System.currentTimeMillis()))
    val (cdfRows, cdfMs, cdfReads) = timed(
      Versioned.changesWithType(spark, dir, head - window, head).count())
    val (histRows, histMs, histReads) = timed(Versioned.history(spark, dir).count())
    val (hist10Rows, hist10Ms, hist10Reads) = timed(
      Versioned.history(spark, dir, 10).count())

    // full clustering rewrite, a tail of fresh commits, then the
    // incremental run whose provenance resolution the checkpoint field
    // keeps at O(CheckpointInterval) log reads
    val (_, zfullMs, _) = timed(
      Versioned.optimizeZOrderBy(spark, dir, Seq("id"), targetFiles = 8))
    (0 until window).foreach { i =>
      val rel = s"d-tail-$i/part-0.parquet"
      val p = java.nio.file.Paths.get(dir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, seedBytes)
      Versioned.addFiles(spark, dir, Seq(rel), knownSchema = Some(schema))
    }
    val (_, zincMs, zincReads) = timed(
      Versioned.zorderIncremental(spark, dir, Seq("id"), targetFiles = 2))

    val (nDeleted, vacMs, vacReads) = timed(
      Versioned.vacuum(spark, dir, keepVersions = 8).size)
    val (_, postVacMs, postVacReads) = timed(
      Versioned.filesAt(spark, dir, Versioned.currentVersion(spark, dir).get).size)

    println(
      s"""{"bench":"commit-scale","n_commits":$n,"cdf_window":$window,
         |"build":{"ms":$buildMs,"log_reads":$buildReads},
         |"files_at_head":{"n":$nFiles,"ms":$filesMs,"log_reads":$filesReads},
         |"read_count":{"rows":$nRows,"ms":$readMs,"log_reads":$readReads},
         |"version_as_of":{"ms":$asofMs,"log_reads":$asofReads},
         |"cdf_window_read":{"rows":$cdfRows,"ms":$cdfMs,"log_reads":$cdfReads},
         |"history":{"rows":$histRows,"ms":$histMs,"log_reads":$histReads},
         |"history_limit10":{"rows":$hist10Rows,"ms":$hist10Ms,"log_reads":$hist10Reads},
         |"zorder_full":{"ms":$zfullMs},
         |"zorder_incremental":{"ms":$zincMs,"log_reads":$zincReads},
         |"vacuum":{"removed":$nDeleted,"ms":$vacMs,"log_reads":$vacReads},
         |"post_vacuum_files_at":{"ms":$postVacMs,"log_reads":$postVacReads}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
