package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Ingest
import graft.table.Versioned

/** The log-driven streaming source over versioned tables
  * (`format("graft-versioned")`): exactly-once across restarts, one
  * commit range per micro-batch, maintenance commits silent, mutations
  * loud — the engine-native counterpart of the reference's
  * `readStream.format("delta")` (`02_bronze_to_silver.py:20-24`).
  */
class VersionedStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Drains the versioned stream through AvailableNow into an
    * accumulating parquet sink via foreachBatch, returning the batch
    * sizes this drain processed.
    */
  private def drain(dir: String, checkpoint: String, sink: String): Seq[Long] = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Ingest.versionedStream(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batch.count()
        sizes += n
        if (n > 0) batch.write.mode("append").parquet(sink)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sizes.toSeq
  }

  private def sinkRows(sink: String): Set[(Long, String)] =
    if (!new java.io.File(sink).exists()) Set.empty
    else spark.read.parquet(sink).as[(Long, String)].collect().toSet

  test("tailing a versioned table is exactly-once across a mid-log restart") {
    val dir = tmpDir("vs_table")
    val ckpt = tmpDir("vs_ckpt")
    val sink = tmpDir("vs_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) // v2

    // first drain: the whole backlog (commits 1-2) in one batch
    assert(drain(dir, ckpt, sink).sum == 3)
    assert(sinkRows(sink) == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // restart with NO new commits: nothing re-emits (offset log holds)
    assert(drain(dir, ckpt, sink).sum == 0)
    assert(sinkRows(sink).size == 3)

    // two more commits, then restart: ONLY the new window emits —
    // the checkpointed version watermark survives the restart
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir) // v3
    Versioned.append(Seq((5L, "e")).toDF("id", "s"), dir) // v4
    assert(drain(dir, ckpt, sink).sum == 2)
    assert(sinkRows(sink) ==
      Versioned.read(spark, dir).as[(Long, String)].collect().toSet,
      "stream total must equal the batch read of the head snapshot")
  }

  test("maintenance commits emit nothing; in-window append+compact still emits once") {
    val dir = tmpDir("vs_opt")
    val ckpt = tmpDir("vs_opt_ckpt")
    val sink = tmpDir("vs_opt_sink") + "/out"
    Versioned.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"), dir) // v1
    assert(drain(dir, ckpt, sink).sum == 10)

    // a pure-maintenance window: optimize rewrites every file but the
    // stream must emit ZERO rows for it (Delta's dataChange=false rule)
    Versioned.compact(spark, dir) // v2 (op=optimize)
    assert(drain(dir, ckpt, sink).sum == 0,
      "optimize added files must not re-emit carried rows")

    // append THEN compact inside one unprocessed window: the appended
    // rows stream exactly once even though the compaction already
    // retired the files the append created
    Versioned.append(Seq((11L, "r11")).toDF("id", "s"), dir) // v3
    Versioned.compact(spark, dir) // v4
    assert(drain(dir, ckpt, sink).sum == 1)
    assert(sinkRows(sink) == (1L to 11L).map(i => (i, s"r$i")).toSet)
  }

  test("a row-mutating commit stops the stream loudly; restarting past it recovers") {
    val dir = tmpDir("vs_mut")
    val ckpt = tmpDir("vs_mut_ckpt")
    val sink = tmpDir("vs_mut_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), dir)
    assert(drain(dir, ckpt, sink).sum == 3)

    Versioned.deleteWhere(spark, dir, col("id") === 2L) // v2: row-mutating
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir) // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(dir, ckpt, sink)
    }
    assert(e.getMessage.contains("non-append commit") ||
      Option(e.getCause).exists(_.getMessage.contains("non-append commit")),
      s"expected the loud non-append refusal, got: ${e.getMessage}")

    // recovery: a FRESH stream starting past the mutation tails on
    val ckpt2 = tmpDir("vs_mut_ckpt2")
    val sizes = {
      val q = spark.readStream.format("graft-versioned")
        .option("path", dir).option("startingVersion", "2").load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sink); ()
        }
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val _ = sizes
    assert(sinkRows(sink) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("skipChangeCommits tails past mutations, emitting only append rows") {
    val dir = tmpDir("vs_skip")
    val ckpt = tmpDir("vs_skip_ckpt")
    val sink = tmpDir("vs_skip_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 1L) // v2: mutating
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) // v3
    // explicit startingVersion selects log-tail mode (the skip option
    // governs the tailed window; absent it, the initial snapshot would
    // already exclude the deleted row)
    val q = spark.readStream.format("graft-versioned")
      .option("path", dir).option("startingVersion", "0")
      .option("skipChangeCommits", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(sink); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the delete's rewrite files are skipped (id=2's copy does NOT
    // re-emit); the appends stream once each — including the deleted
    // id=1, which streamed from its append commit before the delete:
    // the documented accept-staleness contract of skipChangeCommits
    assert(sinkRows(sink) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("skipChangeCommits streams each append once past merge-on-read mutations") {
    val dir = tmpDir("vs_skip_mor")
    val ckpt = tmpDir("vs_skip_mor_ckpt")
    val sink = tmpDir("vs_skip_mor_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "s").coalesce(1), dir) // v1, one file
    // v2: the MERGE updates id=1 by soft-deleting its row in v1's file
    Versioned.merge(spark, dir, Seq((1L, "A")).toDF("id", "s"), Seq("id"))
    assert(Versioned.dvsAt(spark, dir, 2L).nonEmpty, "the merge must go merge-on-read")
    Versioned.deleteWhere(spark, dir, col("id") === 2L) // v3
    Versioned.append(Seq((5L, "e")).toDF("id", "s"), dir) // v4
    // every append row once, as a copy-on-write merge/delete leaves it,
    // whether the window spans the mutations or ends before them
    val appended = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    def batch(from: Long, to: Long) = Versioned.streamBatch(spark, dir, from, to,
      skipMutating = true).as[(Long, String)].collect().toSeq
    assert(batch(0L, 4L).sorted == appended)
    assert((0L until 4L).flatMap(v => batch(v, v + 1)).sorted == appended)
    val q = spark.readStream.format("graft-versioned")
      .option("path", dir).option("startingVersion", "0")
      .option("skipChangeCommits", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(sink); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSeq.sorted == appended)
  }

  test("default start = initial snapshot: rewrites in history don't block the stream") {
    val dir = tmpDir("vs_snap")
    val ckpt = tmpDir("vs_snap_ckpt")
    val sink = tmpDir("vs_snap_sink") + "/out"
    // history holds a DELETE and a MoR delete BEFORE the stream starts —
    // log-tailing from v0 would refuse; Delta's default (and ours with
    // no startingVersion) streams the current snapshot first instead
    Versioned.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 1L) // v2
    Versioned.deleteWhere(spark, dir, col("id") === 2L) // v3: live DV
    assert(drain(dir, ckpt, sink).sum == 1,
      "initial snapshot = current live rows (post-delete, DV-subtracted)")
    assert(sinkRows(sink) == Set((3L, "c")))
    // then the log tails: an append lands as an ordinary window
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir) // v4
    assert(drain(dir, ckpt, sink).sum == 1)
    assert(sinkRows(sink) ==
      Versioned.read(spark, dir).as[(Long, String)].collect().toSet)
    // but a mutation AFTER stream start still stops the stream loudly
    Versioned.deleteWhere(spark, dir, col("id") === 3L) // v5
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(dir, ckpt, sink)
    }
  }

  test("maxVersionsPerTrigger caps steady-state batches, never the blind first one") {
    val dir = tmpDir("vs_cap")
    (1 to 5).foreach(i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), dir)) // v1..v5
    val src = new org.apache.spark.sql.graft.VersionedTableSource(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], dir,
      Versioned.read(spark, dir).schema, startingVersion = Some(0L),
      skipChangeCommits = false, maxVersionsPerTrigger = Some(2L))
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // first offer is UNCAPPED (no getBatch yet — the engine's committed
    // offset is unknowable, a blind cap could regress below it)
    assert(src.getOffset.contains(LongOffset(5L)))
    // after the first batch hands out an end, subsequent offers cap at
    // +maxVersionsPerTrigger over it (getBatch frames are streaming-
    // flagged by contract, so sizes are asserted via the batch twin)
    assert(src.getBatch(None, LongOffset(1L)).isStreaming)
    assert(Versioned.streamBatch(spark, dir, 0L, 1L).count() == 1)
    assert(src.getOffset.contains(LongOffset(3L)))
    assert(src.getBatch(Some(LongOffset(1L)), LongOffset(3L)).isStreaming)
    assert(Versioned.streamBatch(spark, dir, 1L, 3L).count() == 2)
    assert(src.getOffset.contains(LongOffset(5L)))
  }

  test("the versioned SINK lands micro-batches as idempotent append commits") {
    val src = tmpDir("vsk_src")
    val tgt = tmpDir("vsk_tgt") + "/table"
    val ckpt = tmpDir("vsk_ckpt")
    (1L to 3L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.parquet(s"$src/part1")
    val schema = spark.read.parquet(s"$src/part1").schema
    def drainToSink(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$src/*")
        .writeStream.format("graft-versioned")
        .option("path", tgt)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainToSink()
    assert(Versioned.read(spark, tgt).as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "a2"), (3L, "a3")).map { case (i, _) => (i, s"r$i") })
    val v1 = Versioned.currentVersion(spark, tgt).get
    assert(Versioned.lastTxnVersion(spark, tgt, s"graft-sink:$ckpt").isDefined,
      "the sink must watermark under the checkpoint-derived appId")

    // wiped checkpoint, unchanged input: batchIds restart at 0 and the
    // txn watermark refuses them — no duplicate rows, no new version
    val _ = new scala.reflect.io.Directory(new java.io.File(ckpt)).deleteRecursively()
    drainToSink()
    assert(Versioned.currentVersion(spark, tgt).contains(v1))
    assert(Versioned.read(spark, tgt).count() == 3)

    // new input file: exactly the fresh rows land, as one more commit
    Seq((4L, "r4")).toDF("id", "s").write.parquet(s"$src/part2")
    drainToSink()
    assert(Versioned.read(spark, tgt).as[(Long, String)].collect().toSet ==
      (1L to 4L).map(i => (i, s"r$i")).toSet)
  }

  test("two concurrent streaming sinks with distinct appIds both land, no rows lost") {
    val srcA = tmpDir("cs_srcA")
    val srcB = tmpDir("cs_srcB")
    val tgt = tmpDir("cs_tgt") + "/table"
    (1L to 50L).map(i => (i, "a")).toDF("id", "w").write.parquet(s"$srcA/p")
    (51L to 100L).map(i => (i, "b")).toDF("id", "w").write.parquet(s"$srcB/p")
    val schema = spark.read.parquet(s"$srcA/p").schema
    def start(src: String, app: String, ckpt: String) =
      spark.readStream.schema(schema).parquet(s"$src/*")
        .writeStream.format("graft-versioned")
        .option("path", tgt).option("txnAppId", app)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    // both queries race their append commits into ONE table's log; the
    // optimistic retry serializes them — neither writer's batch is lost
    val qa = start(srcA, "writer-a", tmpDir("cs_ckptA"))
    val qb = start(srcB, "writer-b", tmpDir("cs_ckptB"))
    qa.awaitTermination()
    qb.awaitTermination()
    assert(Versioned.read(spark, tgt).count() == 100)
    assert(Versioned.lastTxnVersion(spark, tgt, "writer-a").isDefined)
    assert(Versioned.lastTxnVersion(spark, tgt, "writer-b").isDefined)
    assert(Versioned.versions(spark, tgt).size == 2,
      "each writer's drain should land exactly one commit")
  }

  test("versioned-to-versioned: source through transforms into the sink, end to end") {
    val up = tmpDir("v2v_up")
    val down = tmpDir("v2v_down") + "/table"
    val ckpt = tmpDir("v2v_ckpt")
    Versioned.append((1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), up)
    def pump(): Unit = {
      val q = Ingest.versionedStream(spark, up)
        .filter(col("id") % 2L === 0L)
        .select(col("id"), (col("v") * 100L).as("v100"))
        .writeStream.format("graft-versioned")
        .option("path", down)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pump()
    assert(Versioned.read(spark, down).as[(Long, Long)].collect().toSet ==
      (1L to 5L).map(i => (i * 2L, i * 2L * 2L * 100L)).toSet)
    // upstream advances; the pump moves ONLY the new window downstream
    Versioned.append(Seq((11L, 22L), (12L, 24L)).toDF("id", "v"), up)
    pump()
    assert(Versioned.read(spark, down).as[(Long, Long)].collect().toSet ==
      (1L to 6L).map(i => (i * 2L, i * 2L * 2L * 100L)).toSet)
    assert(Versioned.history(spark, down).count() == 2,
      "each pump with new data must land exactly one downstream commit")
  }

  test("streaming transforms compose: filter + projection over the source") {
    val dir = tmpDir("vs_proj")
    val ckpt = tmpDir("vs_proj_ckpt")
    Versioned.append((1L to 100L).map(i => (i, i * 2L, s"r$i"))
      .toDF("id", "v", "s"), dir)
    spark.catalog.dropTempView("vs_proj_sink")
    val q = Ingest.versionedStream(spark, dir)
      .filter(col("id") > 90L)
      .select(col("id"), (col("v") * 10L).as("v10"))
      .writeStream
      .outputMode("append")
      .format("memory").queryName("vs_proj_sink")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("vs_proj_sink").as[(Long, Long)].collect().toSet ==
      (91L to 100L).map(i => (i, i * 2L * 10L)).toSet)
    // the plan audit: the spliced relation stays a REAL file scan, so
    // the downstream filter pushes into the per-micro-batch parquet
    // read and the projection prunes the unused string column — the
    // whole point of re-flagging the LogicalRelation instead of
    // wrapping an executed RDD
    val plan = org.apache.spark.sql.graft.StreamingIntrospection.lastExecutedPlan(q)
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"filter must reach the parquet scan, got:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,v:bigint>"),
      s"column pruning must drop the unused string column, got:\n$plan")
  }

  /** Drains the CHANGE FEED stream (readChangeFeed=true) into an
    * accumulating parquet sink, returning batch sizes.
    */
  private def drainCdf(dir: String, checkpoint: String, sink: String): Seq[Long] = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Ingest.versionedChangeFeed(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batch.count()
        sizes += n
        if (n > 0) batch.write.mode("append").parquet(sink)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sizes.toSeq
  }

  private def cdfRows(sink: String): Set[(Long, String, String)] =
    if (!new java.io.File(sink).exists()) Set.empty
    else spark.read.parquet(sink).as[(Long, String, String)].collect().toSet

  test("change feed streams mutations as delete+insert pairs across a restart") {
    val dir = tmpDir("cdf_table")
    val ckpt = tmpDir("cdf_ckpt")
    val sink = tmpDir("cdf_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) // v2

    // initial snapshot: every live row as one `insert`
    assert(drainCdf(dir, ckpt, sink).sum == 3)
    assert(cdfRows(sink) == Set(
      (1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")))

    // restart with no new commits: nothing re-emits
    assert(drainCdf(dir, ckpt, sink).sum == 0)

    // a row-mutating window: where the insert-only tail STOPS, the
    // change feed represents it — the UPDATE commit's rows arrive as
    // the paired update_preimage/update_postimage (its pairing keys
    // are in the commit JSON), the delete as one signed row; carried
    // rows in rewritten files cancel
    Versioned.updateWhere(spark, dir, col("id") === 2L,
      Map("s" -> lit("B"))) // v3
    Versioned.deleteWhere(spark, dir, col("id") === 1L) // v4
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), dir) // v5
    assert(drainCdf(dir, ckpt, sink).sum == 4)
    assert(cdfRows(sink) == Set(
      (1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert"),
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (1L, "a", "delete"),
      (4L, "d", "insert")))

    // applying the signed feed reconstructs the head snapshot: the
    // CDF-consumer contract (inserts+postimages minus deletes+preimages
    // = live rows)
    val feed = spark.read.parquet(sink)
    val applied = feed
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
      .exceptAll(feed
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .drop("_change_type"))
    assert(applied.as[(Long, String)].collect().toSet ==
      Versioned.read(spark, dir).as[(Long, String)].collect().toSet)
  }

  test("change feed with startingVersion tails the window, not the snapshot") {
    val dir = tmpDir("cdf_sv")
    val ckpt = tmpDir("cdf_sv_ckpt")
    val sink = tmpDir("cdf_sv_sink") + "/out"
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v1
    Versioned.deleteWhere(spark, dir, col("id") === 1L) // v2
    val q = spark.readStream.format("graft-versioned")
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "1").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(sink); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // window (1, 2]: only the delete — v1's inserts predate the start
    assert(cdfRows(sink) == Set((1L, "a", "delete")))
  }

  test("readChangeFeed and skipChangeCommits are mutually exclusive") {
    val dir = tmpDir("cdf_excl")
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    val e = intercept[Exception] {
      spark.readStream.format("graft-versioned")
        .option("path", dir)
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true").load()
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mutually exclusive")), s"got: $e")
  }
}
