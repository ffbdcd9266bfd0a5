package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextDedup
import graft.ops.{Dedup, Upsert}
import graft.pipeline.IncrementalAgg
import graft.table.Versioned

/** Declared queries that run the VERSIONED TABLE layer itself under the
  * DuckDB oracle gate — the log-backed engine (append → MoR delete →
  * MERGE → snapshot read) executed for real against a throwaway table,
  * with the final snapshot hash-matched against a one-shot relational
  * replay of the same mutations. This is the lakehouse counterpart of
  * the `st*` streaming queries: not a batch twin of the semantics, but
  * the actual transactional machinery (commit log, deletion vectors,
  * matched-file rewrite) producing the checked rows.
  *
  * Reference analog: every silver upsert runs Delta MERGE under the
  * transaction log (`02_bronze_to_silver.py:67-87` and 12 more sites);
  * m5 is that exact shape — LWW MERGE into a multi-file ACID table that
  * has live deletion vectors.
  */
object VersionedQueries {
  import Tables.t

  private val tsUs = expr("ts div 1000")
  private val OracleTsUs = "CAST(epoch_ns(ts) // 1000 AS BIGINT)"

  /** Throwaway table root, swept at JVM exit — the consumer acts on
    * the returned (lazy) DataFrame after this function returns, so the
    * files must outlive the call but not the process. Shared with the
    * other self-contained engine queries (st8).
    */
  private[queries] def scratch(prefix: String): String = scratchDir(prefix)

  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val _ = new scala.reflect.io.Directory(d.toFile).deleteRecursively()
    }))
    d.toString
  }

  /** Latest-per-user halves of the events table split at the median
    * event_id: target = older half, source = newer half (m2's
    * derivation). Shared by m5 and m6 so the split and LWW tie-break
    * semantics — which both oracles replay — cannot silently drift
    * between the two queries. Both halves are materialized once
    * (localCheckpoint): each feeds multiple commit actions (append
    * writes, merge key-set broadcast, merge join), and without this
    * the full events scan + window re-executes per action.
    */
  private def splitLatestHalves(ev: DataFrame): (DataFrame, DataFrame) = {
    val evB = ev.crossJoin(broadcast(ev.agg(expr("count(1) div 2").as("__split"))))
    def latest(df: DataFrame) =
      Dedup.latestByKey(df, Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
    (latest(evB.filter(col("event_id") < col("__split")).drop("__split"))
       .localCheckpoint(),
     latest(evB.filter(col("event_id") >= col("__split")).drop("__split"))
       .localCheckpoint())
  }

  // M5 — MERGE INTO a versioned table. Data derivation mirrors m2
  // (older-half latest-per-user profile upserted with the newer half,
  // LWW on event time), but the target LIVES in the transaction log:
  //  - two appends split by user parity → multiple immutable file sets,
  //    so the merge's matched-file pruning is exercised for real;
  //  - a sparse MoR DELETE (user_id % 10 == 0) leaves live deletion
  //    vectors, so the merge must neither match nor resurrect
  //    soft-deleted rows — their keys re-enter as fresh inserts;
  //  - Versioned.merge commits through the log (schema enforced, DVs
  //    carried, commuting conflict rule) and the head snapshot is read
  //    back through the same log.
  def versionedMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .select("user_id", "event_id", "event_type", "value", "ts_us")
    val (target, source) = splitLatestHalves(ev)
    val tableDir = scratchDir("graft_m5")
    Versioned.append(target.filter(col("user_id") % 2 === 0), tableDir)
    Versioned.append(target.filter(col("user_id") % 2 === 1), tableDir)
    Versioned.deleteWhere(s, tableDir, col("user_id") % 10 === 0)
    Versioned.merge(s, tableDir, source, Seq("user_id"),
      updateWhen = Upsert.scol("ts_us") > Upsert.tcol("ts_us"))
    Versioned.read(s, tableDir)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  // The oracle replays the mutations relationally: the MoR delete is a
  // filter on the target (soft-deleted rows are invisible to the merge
  // and stay deleted), and the LWW merge is the same union +
  // row_number replay as m2's oracle — deleted-then-re-presented users
  // resolve to the source row, exactly what insert-after-soft-delete
  // must produce.
  val versionedMergeSql: String =
    s"""WITH n AS (SELECT count(*) AS c FROM events),
       |ev AS (SELECT user_id, event_id, event_type, value,
       |              $OracleTsUs AS ts_us FROM events),
       |tgt0 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id < (SELECT c//2 FROM n)) WHERE rn = 1),
       |tgt AS (SELECT * FROM tgt0 WHERE user_id % 10 <> 0),
       |src AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id >= (SELECT c//2 FROM n)) WHERE rn = 1),
       |u AS (SELECT user_id, event_id, event_type, value, ts_us, 1 AS pri FROM tgt
       |      UNION ALL
       |      SELECT user_id, event_id, event_type, value, ts_us, 0 AS pri FROM src)
       |SELECT user_id, event_id, event_type, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts_us DESC, pri DESC) AS rn FROM u) WHERE rn = 1
       |ORDER BY user_id""".stripMargin

  // M6 — incrementally-maintained gold over a versioned silver's change
  // feed. Silver mutates exactly like m5 (two parity appends, a sparse
  // MoR delete, an LWW MERGE); gold = groupBy(event_type).agg(n,
  // sum(value_c)) is refreshed TWICE through IncrementalAgg:
  //  - after the appends → the full-recompute bootstrap path,
  //  - after delete+merge → the O(changes) path, aggregating only
  //    Versioned.changes(2, 4) with ±1/±value signs and merging the
  //    per-key deltas into the (small) gold table.
  // The oracle recomputes gold from the final silver state relationally
  // — so a green row proves the incremental maintenance is bit-exact
  // against full recompute (value is pre-floored to integer cents;
  // float sums would accumulate reordering ulps, SURVEY §7.4). Gold
  // itself is a VERSIONED table (refresh commits are idempotent
  // overwrites watermarked by silver version), the reference's ACID
  // gold tier (`07_gold_metrics_revenue.py:54-65`).
  def incrementalGold(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .withColumn("value_c", floor(col("value") * 100))
      .select("user_id", "event_id", "event_type", "value_c", "ts_us")
    val (target, source) = splitLatestHalves(ev)
    val silverDir = scratchDir("graft_m6_silver")
    val goldDir = scratchDir("graft_m6_gold")
    Versioned.append(target.filter(col("user_id") % 2 === 0), silverDir)
    Versioned.append(target.filter(col("user_id") % 2 === 1), silverDir)
    IncrementalAgg.refresh(s, silverDir, goldDir, Seq("event_type"), Seq("value_c"))
    Versioned.deleteWhere(s, silverDir, col("user_id") % 10 === 0)
    Versioned.merge(s, silverDir, source, Seq("user_id"),
      updateWhen = Upsert.scol("ts_us") > Upsert.tcol("ts_us"))
    IncrementalAgg.refresh(s, silverDir, goldDir, Seq("event_type"), Seq("value_c"))
    Versioned.read(s, goldDir).orderBy("event_type")
  }

  // Final silver state = m5's relational replay (with integer-cents
  // value); gold = one GROUP BY over it — the full-recompute twin the
  // incremental path must equal.
  val incrementalGoldSql: String =
    s"""WITH n AS (SELECT count(*) AS c FROM events),
       |ev AS (SELECT user_id, event_id, event_type,
       |              CAST(floor(value * 100) AS BIGINT) AS value_c,
       |              $OracleTsUs AS ts_us FROM events),
       |tgt0 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id < (SELECT c//2 FROM n)) WHERE rn = 1),
       |tgt AS (SELECT * FROM tgt0 WHERE user_id % 10 <> 0),
       |src AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id >= (SELECT c//2 FROM n)) WHERE rn = 1),
       |u AS (SELECT user_id, event_type, value_c, ts_us, 1 AS pri FROM tgt
       |      UNION ALL
       |      SELECT user_id, event_type, value_c, ts_us, 0 AS pri FROM src),
       |fin AS (SELECT event_type, value_c FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts_us DESC, pri DESC) AS rn FROM u) WHERE rn = 1)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(value_c) AS BIGINT) AS sum_value_c
       |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin

  // M7 — clustering OPTIMIZE under the gate. Two event_id-parity
  // appends interleave user_id across every file (the post-ingest state
  // where zone maps prune nothing); optimizeClusterBy rewrites the
  // snapshot range-clustered on user_id and publishes the zone sidecar;
  // the checked rows then come through readWhere — the ZONE-PRUNED scan
  // path, so a green row proves the clustered layout + sidecar + pruned
  // read return exactly the rows a plain filter does. OptimizeSpec
  // (VersionedSpec) separately pins that the pruned file set is a
  // strict subset after optimize.
  def optimizeCluster(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .select("user_id", "event_id", "event_type", "value", "ts_us")
    val tableDir = scratchDir("graft_m7")
    Versioned.append(ev.filter(col("event_id") % 2 === 0), tableDir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), tableDir)
    val v = Versioned.optimizeClusterBy(s, tableDir, Seq("user_id"), targetFiles = 8)
    Versioned.readWhere(s, tableDir, v, "user_id", 3L, 9L)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id", "event_id")
  }

  val optimizeClusterSql: String =
    """SELECT user_id, event_id, event_type, value FROM events
      |WHERE user_id BETWEEN 3 AND 9 ORDER BY user_id, event_id""".stripMargin

  // M12 — Z-ORDER OPTIMIZE under the oracle gate: interleaved-bit
  // clustering on (user_id, event_id), then a bounded zoned read on the
  // TRAILING column — the file pruning a lexicographic cluster (m7)
  // structurally cannot give (under (user_id, event_id) lexicographic
  // order every file spans event_id's whole domain). Content must equal
  // the plain relational filter; ZOrderSpec pins the pruning itself.
  def optimizeZOrder(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .select("user_id", "event_id", "event_type", "value", "ts_us")
    val tableDir = scratchDir("graft_m12")
    Versioned.append(ev.filter(col("event_id") % 2 === 0), tableDir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), tableDir)
    val v = Versioned.optimizeZOrderBy(
      s, tableDir, Seq("user_id", "event_id"), targetFiles = 8)
    Versioned.readWhere(s, tableDir, v, "event_id", 100L, 399L)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("event_id")
  }

  val optimizeZOrderSql: String =
    """SELECT user_id, event_id, event_type, value FROM events
      |WHERE event_id BETWEEN 100 AND 399 ORDER BY event_id""".stripMargin

  // M13 — MERGE WITH SCHEMA EVOLUTION under the oracle gate: the SQL
  // statement form merges a source carrying a column the table never
  // had — matched rows update (gaining the column), unmatched insert,
  // and every carried/untouched row surfaces NULL there — all in ONE
  // log commit that also publishes the widened schema. The oracle
  // replays the evolution relationally (padding the unmatched target
  // side with NULL).
  def mergeEvolve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_m13")
    Versioned.append(ev.filter(col("event_id") % 2 === 0), tableDir) // v1
    ev.filter(col("event_id") % 3 === 0)
      .withColumn("extra", (col("event_id") % 97).cast("long"))
      .createOrReplaceTempView("m13_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO `graft-versioned`.`$tableDir` t
         |USING m13_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    Versioned.read(s, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"),
        sum(coalesce(col("extra"), lit(0L))).as("sum_extra"),
        sum(when(col("extra").isNull, 1L).otherwise(0L)).as("n_null_extra"))
      .orderBy("event_type")
  }

  val mergeEvolveSql: String =
    """WITH ev AS (SELECT event_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |src AS (SELECT event_type, value_c,
      |               CAST(event_id % 97 AS BIGINT) AS extra
      |        FROM ev WHERE event_id % 3 = 0),
      |final AS (
      |  SELECT event_type, value_c, CAST(NULL AS BIGINT) AS extra
      |  FROM ev WHERE event_id % 2 = 0 AND event_id % 3 <> 0
      |  UNION ALL
      |  SELECT event_type, value_c, extra FROM src)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c,
      |       CAST(sum(coalesce(extra, 0)) AS BIGINT) AS sum_extra,
      |       CAST(sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_extra
      |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  // X — a curation operator composed over the versioned read path:
  // exact dedup runs against a log-resolved, DV-subtracted snapshot
  // (two parity appends + a sparse MoR delete), proving the extension
  // surface and the transactional surface compose — the dedup input is
  // what the LOG says is live, not what a directory listing finds.
  def dedupVersioned(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val tableDir = scratchDir("graft_xdv")
    Versioned.append(docs.filter(col("doc_id") % 2 === 0), tableDir)
    Versioned.append(docs.filter(col("doc_id") % 2 === 1), tableDir)
    Versioned.deleteWhere(s, tableDir, col("doc_id") % 7 === 0)
    TextDedup.exact(Versioned.read(s, tableDir), "doc_id", "text")
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")
  }

  val dedupVersionedSql: String =
    """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents WHERE doc_id % 7 <> 0
      |GROUP BY text ORDER BY keep_id""".stripMargin

  /** INCREMENTAL corpus dedup — the continuously-ingested-crawl shape:
    * each arriving batch self-dedups (first-wins by id), then
    * anti-joins the ACCEPTED-FINGERPRINT INDEX (a versioned table of
    * one hash column) instead of rescanning history, and the index
    * grows by exactly the accepted rows — an append commit. At 100 TB
    * the difference is structural: history text is never re-read; the
    * per-batch cost is one fingerprint projection + one anti-join
    * against an ~8-byte-per-accepted-doc index (AQE broadcasts it
    * while small, shuffles by fp when large), and the index table
    * inherits the log's usual machinery (time travel shows what was
    * accepted as of any batch; vacuum bounds it). x_dedup_versioned
    * stays the full-rescan twin — this is the path an ingest pipeline
    * actually runs between those full rebuilds.
    *
    * The synthetic corpus carries no exact duplicates, so the query
    * deterministically PLANTS them (the x_redact precedent): every
    * doc_id % 5 == 0 document's text becomes one of two boilerplate
    * blocks, identically in both engines — the within-batch dedup and
    * the cross-batch index rejection are both verified against
    * non-trivial input, not vacuously green.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Text.polyHash(
          when(col("doc_id") % 5 === 0,
            concat(lit("graft dup block "), (col("doc_id") % 2).cast("string")))
          .otherwise(col("text"))).as("fp"))
    val idx = scratchDir("graft_xdi")
    // batch 1: self-dedup only (the index is empty), append its fps
    val a1 = docs.filter(col("doc_id") % 3 =!= 0)
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    Versioned.append(a1.select(col("doc_id"), col("fp")), idx)
    // batch 2: self-dedup, then anti-join the index's fp column only
    val s2 = docs.filter(col("doc_id") % 3 === 0)
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    val acc2 = s2.join(Versioned.read(s, idx).select("fp"), Seq("fp"), "left_anti")
    Versioned.append(acc2.select(col("doc_id"), col("fp")), idx)
    // the FINAL INDEX is the result: everything ever accepted
    Versioned.read(s, idx)
      .select(
        when(col("doc_id") % 3 === 0, 2L).otherwise(1L).as("batch"),
        col("doc_id"), col("fp"))
      .orderBy("batch", "doc_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH d AS (SELECT doc_id,
       |        CASE WHEN doc_id % 5 = 0
       |             THEN 'graft dup block ' || CAST(doc_id % 2 AS VARCHAR)
       |             ELSE text END AS text
       |      FROM documents),
       |f AS (SELECT doc_id, ${Extensions.sqlPolyHash("text")} AS fp FROM d),
       |a1 AS (SELECT fp, min(doc_id) AS doc_id FROM f WHERE doc_id % 3 <> 0 GROUP BY fp),
       |s2 AS (SELECT fp, min(doc_id) AS doc_id FROM f WHERE doc_id % 3 = 0 GROUP BY fp),
       |acc2 AS (SELECT s2.fp, s2.doc_id FROM s2 LEFT JOIN a1 ON s2.fp = a1.fp
       |         WHERE a1.fp IS NULL)
       |SELECT CASE WHEN doc_id % 3 = 0 THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS batch,
       |       doc_id, fp
       |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM acc2)
       |ORDER BY batch, doc_id""".stripMargin

  // M9 — the SAME engine composition as m5 (two appends → MoR delete →
  // LWW MERGE → snapshot read), but every commit publishes through the
  // object-store-shaped ConditionalPutLogStore: mutual exclusion by
  // conditional PUT alone, no hard links, no no-overwrite rename. A
  // green row is the oracle-gate statement of the LogStore claim — the
  // transactional result is bit-identical whichever publish primitive
  // the store provides, so the S3-class seam is real end to end, not
  // just spec-deep. (Queries run sequentially in Verify/Bench, so the
  // scoped store override cannot leak into a concurrent query.)
  def versionedMergeCondPut(s: SparkSession, dir: String): DataFrame =
    Versioned.withLogStore(new graft.table.ConditionalPutLogStore) {
      versionedMerge(s, dir)
    }

  // M10 — the SAME engine composition as m5 (two parity appends → MoR
  // delete → LWW MERGE → snapshot read), but the MERGE arrives as SQL
  // TEXT through `spark.sql` — the statement form of EP3
  // (`02_bronze_to_silver.py:67-87`) that Delta users type as
  // `MERGE INTO delta./path`. Spark's own parser produces the
  // MergeIntoTable plan; the extension's analyzer rule translates it
  // onto Versioned.merge, so a green row proves the SQL surface drives
  // the identical transactional machinery (matched-file pruning, DV
  // awareness, LWW condition) — bit-for-bit against m5's oracle.
  def versionedMergeSqlText(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .select("user_id", "event_id", "event_type", "value", "ts_us")
    val (target, source) = splitLatestHalves(ev)
    val tableDir = scratchDir("graft_m10")
    Versioned.append(target.filter(col("user_id") % 2 === 0), tableDir)
    Versioned.append(target.filter(col("user_id") % 2 === 1), tableDir)
    Versioned.deleteWhere(s, tableDir, col("user_id") % 10 === 0)
    source.createOrReplaceTempView("graft_m10_source")
    s.sql(
      s"""MERGE INTO `graft-versioned`.`$tableDir` t
         |USING graft_m10_source s
         |ON t.user_id = s.user_id
         |WHEN MATCHED AND s.ts_us > t.ts_us THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    Versioned.read(s, tableDir)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  // M11 — the FULL Delta MERGE action grammar as one SQL statement:
  // multiple conditional MATCHED clauses (first-match-wins UPDATE then
  // DELETE), a conditional INSERT, and both NOT MATCHED BY SOURCE
  // actions (conditional DELETE, then an unconditional UPDATE over
  // target-only refs) — the grammar Delta users actually type
  // (beyond the reference's LWW+insert shape, `02:67-87`). Data is
  // m5's derivation (older-half/newer-half latest-per-user) so every
  // clause fires on a real slice: newer sources update, stale
  // 'purchase' targets matched-delete, non-view unmatched sources
  // insert, user_id%3=0 unmatched targets by-source-delete, and every
  // other unmatched target takes the by-source UPDATE. The oracle
  // replays the whole clause lattice as one FULL OUTER JOIN + CASE in
  // DuckDB — a green row proves clause priority, side-scoped
  // conditions, and the widened touched-file discovery end to end.
  def versionedMergeFullGrammar(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("user_id", "event_id", "event_type", "value_c", "ts_us")
    val (target, source) = splitLatestHalves(ev)
    val tableDir = scratchDir("graft_m11")
    Versioned.append(target.filter(col("user_id") % 2 === 0), tableDir)
    Versioned.append(target.filter(col("user_id") % 2 === 1), tableDir)
    source.createOrReplaceTempView("graft_m11_source")
    s.sql(
      s"""MERGE INTO `graft-versioned`.`$tableDir` t
         |USING graft_m11_source s
         |ON t.user_id = s.user_id
         |WHEN MATCHED AND s.ts_us > t.ts_us THEN UPDATE SET *
         |WHEN MATCHED AND t.event_type = 'purchase' THEN DELETE
         |WHEN NOT MATCHED AND s.event_type <> 'view' THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.user_id % 3 = 0 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET value_c = t.value_c + 1000
         |""".stripMargin).collect()
    Versioned.read(s, tableDir)
      .select("user_id", "event_id", "event_type", "value_c")
      .orderBy("user_id")
  }

  // The relational replay: tgt/src as in m5's oracle, then the clause
  // lattice as a FULL OUTER JOIN — the WHERE keeps exactly the
  // survivors (matched rows unless clause 2 deletes a stale purchase;
  // unmatched targets unless user_id%3=0; unmatched sources only when
  // non-view) and the CASEs pick each clause's column values.
  val versionedMergeFullGrammarSql: String =
    s"""WITH n AS (SELECT count(*) AS c FROM events),
       |ev AS (SELECT user_id, event_id, event_type,
       |              CAST(floor(value * 100) AS BIGINT) AS value_c,
       |              $OracleTsUs AS ts_us FROM events),
       |tgt AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id < (SELECT c//2 FROM n)) WHERE rn = 1),
       |src AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts_us DESC, event_id DESC) rn
       |        FROM ev WHERE event_id >= (SELECT c//2 FROM n)) WHERE rn = 1),
       |j AS (SELECT coalesce(t.user_id, s.user_id) AS user_id,
       |             t.user_id IS NOT NULL AS tp, s.user_id IS NOT NULL AS sp,
       |             t.event_id AS t_eid, t.event_type AS t_et,
       |             t.value_c AS t_vc, t.ts_us AS t_ts,
       |             s.event_id AS s_eid, s.event_type AS s_et,
       |             s.value_c AS s_vc, s.ts_us AS s_ts
       |      FROM tgt t FULL OUTER JOIN src s ON t.user_id = s.user_id)
       |SELECT user_id,
       |  CASE WHEN tp AND sp AND s_ts > t_ts THEN s_eid
       |       WHEN tp THEN t_eid ELSE s_eid END AS event_id,
       |  CASE WHEN tp AND sp AND s_ts > t_ts THEN s_et
       |       WHEN tp THEN t_et ELSE s_et END AS event_type,
       |  CASE WHEN tp AND sp AND s_ts > t_ts THEN s_vc
       |       WHEN tp AND sp THEN t_vc
       |       WHEN tp THEN t_vc + 1000 ELSE s_vc END AS value_c
       |FROM j
       |WHERE (tp AND sp AND (s_ts > t_ts OR t_et <> 'purchase'))
       |   OR (tp AND NOT sp AND user_id % 3 <> 0)
       |   OR (NOT tp AND sp AND s_et <> 'view')
       |ORDER BY user_id""".stripMargin

  // X — pure-SQL time travel: the events halves land as two APPEND
  // commits (v1 ⊂ v2), then BOTH snapshots are read back through
  // `spark.sql` alone — the `graft-versioned`.`/dir` relation with
  // `VERSION AS OF`, no graft imports on the read side (Delta's
  // `delta.`/path`` + time-travel SQL shape, `02:394-398`). The join of
  // the two per-type aggregates certifies that v1 still reads the OLD
  // file set after v2 committed — the core time-travel contract.
  def sqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100))
      .select("event_id", "event_type", "value_c")
    val evB = ev.crossJoin(broadcast(ev.agg(expr("count(1) div 2").as("__split"))))
    val tableDir = scratchDir("graft_sqltt")
    Versioned.append(evB.filter(col("event_id") < col("__split")).drop("__split"),
      tableDir) // v1: older half
    Versioned.append(evB.filter(col("event_id") >= col("__split")).drop("__split"),
      tableDir) // v2: + newer half (append-only, so v2 ⊃ v1)
    s.sql(
      s"""SELECT v1.event_type AS event_type,
         |       v1.n AS n_v1, v2.n AS n_v2,
         |       v1.sum_c AS sum_v1_c, v2.sum_c AS sum_v2_c
         |FROM (SELECT event_type, count(*) AS n,
         |             CAST(sum(value_c) AS BIGINT) AS sum_c
         |      FROM `graft-versioned`.`$tableDir` VERSION AS OF 1
         |      GROUP BY event_type) v1
         |JOIN (SELECT event_type, count(*) AS n,
         |             CAST(sum(value_c) AS BIGINT) AS sum_c
         |      FROM `graft-versioned`.`$tableDir` VERSION AS OF 2
         |      GROUP BY event_type) v2
         |  USING (event_type)
         |ORDER BY event_type""".stripMargin)
  }

  val sqlTimeTravelSql: String =
    """WITH n AS (SELECT count(*) AS c FROM events),
      |ev AS (SELECT event_id, event_type,
      |              CAST(floor(value * 100) AS BIGINT) AS value_c FROM events),
      |v1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(value_c) AS BIGINT) AS sum_c
      |       FROM ev WHERE event_id < (SELECT c//2 FROM n) GROUP BY event_type),
      |v2 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(value_c) AS BIGINT) AS sum_c
      |       FROM ev GROUP BY event_type)
      |SELECT v1.event_type AS event_type, v1.n AS n_v1, v2.n AS n_v2,
      |       v1.sum_c AS sum_v1_c, v2.sum_c AS sum_v2_c
      |FROM v1 JOIN v2 USING (event_type) ORDER BY event_type""".stripMargin

  // X — the NAMED-table SQL surface end to end: a GraftCatalog is
  // registered on the live session (spark.sql.catalog.<name> confs are
  // read lazily, so no session rebuild), then the entire lifecycle runs
  // as SQL text with zero graft imports and zero paths —
  //
  //   CREATE NAMESPACE → CREATE TABLE (v0 schema-only commit) →
  //   INSERT INTO ×2 (append commits v1, v2) →
  //   MERGE INTO cat.ns.t (the extension rule resolves the catalog
  //     name to its table dir; same Versioned.merge) →
  //   INSERT OVERWRITE ... SELECT FROM the table's own VERSION AS OF 3
  //     (time travel by NAME through the catalog's loadTable overload,
  //     feeding the TRUNCATE-capability write path) →
  //   final read joining VERSION AS OF 2 against the head.
  //
  // This is the reference's `spark.read.table`/saveAsTable shape with
  // the transaction log underneath; a green row proves catalog
  // resolution, the V1Write bridge, SQL MERGE on named targets, and
  // named time travel all drive the same log the Scala API writes.
  private val catalogSeq = new java.util.concurrent.atomic.AtomicLong(0)

  def sqlCatalog(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_cat_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_wh"))
    t(s, dir, "orders")
      .withColumn("total_c", floor(col("o_totalprice") * 100).cast("long"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "total_c")
      .createOrReplaceTempView("graft_xcat_src")
    val tbl = s"$cat.sales.orders"
    s.sql(s"CREATE NAMESPACE $cat.sales")
    s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, total_c BIGINT)")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcat_src WHERE o_orderkey % 2 = 0")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcat_src WHERE o_orderkey % 2 = 1")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey, o_custkey, o_orderstatus,
         |              total_c + 1 AS total_c
         |       FROM graft_xcat_src WHERE o_custkey % 3 = 0) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    // versions are 1-based: v1 CREATE (schema-only), v2+v3 the two
    // INSERTs, v4 the MERGE, v5 this INSERT OVERWRITE
    s.sql(s"INSERT OVERWRITE $tbl " +
      s"SELECT * FROM $tbl VERSION AS OF 4 WHERE o_custkey % 5 <> 0")
    s.sql(
      s"""SELECT o_orderstatus, v2.n AS n_v2, v2.sum_c AS sum_v2_c,
         |       h.n AS n_head, h.sum_c AS sum_head_c
         |FROM (SELECT o_orderstatus, count(*) AS n,
         |             CAST(sum(total_c) AS BIGINT) AS sum_c
         |      FROM $tbl VERSION AS OF 3 GROUP BY o_orderstatus) v2
         |JOIN (SELECT o_orderstatus, count(*) AS n,
         |             CAST(sum(total_c) AS BIGINT) AS sum_c
         |      FROM $tbl GROUP BY o_orderstatus) h
         |  USING (o_orderstatus)
         |ORDER BY o_orderstatus""".stripMargin)
  }

  val sqlCatalogSql: String =
    """WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |                    CAST(floor(o_totalprice * 100) AS BIGINT) AS total_c
      |             FROM orders),
      |v3 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |              CASE WHEN o_custkey % 3 = 0 THEN total_c + 1
      |                   ELSE total_c END AS total_c FROM src),
      |hd AS (SELECT * FROM v3 WHERE o_custkey % 5 <> 0),
      |a2 AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_v2,
      |              CAST(sum(total_c) AS BIGINT) AS sum_v2_c
      |       FROM src GROUP BY o_orderstatus),
      |ah AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_head,
      |              CAST(sum(total_c) AS BIGINT) AS sum_head_c
      |       FROM hd GROUP BY o_orderstatus)
      |SELECT o_orderstatus, n_v2, sum_v2_c, n_head, sum_head_c
      |FROM a2 JOIN ah USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  // X — COLUMN MAPPING through pure SQL: a catalog table takes two
  // inserts, then `ALTER TABLE ... RENAME COLUMN` and `DROP COLUMN` —
  // both METADATA-ONLY log commits (zero data files move; the physical
  // name inside existing files never changes) — then another INSERT
  // under the post-rename shape, and the head is read back through the
  // renamed column while a `VERSION AS OF` read proves the pre-rename
  // snapshot still time-travels under ITS OWN column names. This is
  // Delta's columnMapping=name capability as one gated row.
  def sqlColumnMapping(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_cm_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_cmwh"))
    t(s, dir, "orders")
      .withColumn("total_c", floor(col("o_totalprice") * 100).cast("long"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "total_c")
      .createOrReplaceTempView("graft_xcm_src")
    val tbl = s"$cat.cm.orders"
    s.sql(s"CREATE NAMESPACE $cat.cm")
    s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, total_c BIGINT)")                          // v1
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcm_src WHERE o_orderkey % 2 = 0")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcm_src WHERE o_orderkey % 2 = 1")
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN total_c TO amount_c")        // v4
    s.sql(s"ALTER TABLE $tbl DROP COLUMN o_custkey")                    // v5
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey + 1000000000, " +
      "o_orderstatus, total_c + 11 FROM graft_xcm_src WHERE o_orderkey % 10 = 0")
    s.sql(
      s"""SELECT o_orderstatus, h.n AS n_head, h.sum_c AS sum_amount_c,
         |       o.sum_c AS sum_total_v3_c
         |FROM (SELECT o_orderstatus, count(*) AS n,
         |             CAST(sum(amount_c) AS BIGINT) AS sum_c
         |      FROM $tbl GROUP BY o_orderstatus) h
         |JOIN (SELECT o_orderstatus,
         |             CAST(sum(total_c) AS BIGINT) AS sum_c
         |      FROM $tbl VERSION AS OF 3 GROUP BY o_orderstatus) o
         |  USING (o_orderstatus)
         |ORDER BY o_orderstatus""".stripMargin)
  }

  val sqlColumnMappingSql: String =
    """WITH src AS (SELECT o_orderkey, o_orderstatus,
      |                    CAST(floor(o_totalprice * 100) AS BIGINT) AS total_c
      |             FROM orders),
      |head AS (SELECT o_orderstatus, total_c AS amount_c FROM src
      |         UNION ALL
      |         SELECT o_orderstatus, total_c + 11 FROM src
      |         WHERE o_orderkey % 10 = 0),
      |h AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_head,
      |             CAST(sum(amount_c) AS BIGINT) AS sum_amount_c
      |      FROM head GROUP BY o_orderstatus),
      |o AS (SELECT o_orderstatus,
      |             CAST(sum(total_c) AS BIGINT) AS sum_total_v3_c
      |      FROM src GROUP BY o_orderstatus)
      |SELECT o_orderstatus, n_head, sum_amount_c, sum_total_v3_c
      |FROM h JOIN o USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  // X — SQL DML statements over the log: UPDATE then DELETE arrive as
  // SQL text against the path-form relation (the statement forms of
  // Delta's `UPDATE/DELETE FROM delta./path`), each translated by the
  // extension rule onto the engine's copy-on-write rewrite
  // (matched-file pruning, zone carry, pinned-version conflict rule).
  // The head snapshot is then aggregated and hash-checked against a
  // relational replay — proving the SQL statements mutate exactly what
  // the Scala deleteWhere/updateWhere would.
  def sqlDml(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xdml")
    Versioned.append(ev, tableDir)
    s.sql(s"UPDATE `graft-versioned`.`$tableDir` " +
      "SET value_c = value_c + 5 WHERE event_type = 'view'").collect()
    s.sql(s"DELETE FROM `graft-versioned`.`$tableDir` " +
      "WHERE user_id % 7 = 0").collect()
    Versioned.read(s, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("event_type")
  }

  val sqlDmlSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |u AS (SELECT event_id, user_id, event_type,
      |             CASE WHEN event_type = 'view' THEN value_c + 5
      |                  ELSE value_c END AS value_c FROM ev),
      |d AS (SELECT * FROM u WHERE user_id % 7 <> 0)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  // X — BATCH change-feed through the DSv2 format (Delta's batch CDF
  // API shape): two appends build the table, a row-level UPDATE and a
  // copy-on-write DELETE mutate it, then the mutation window arrives
  // PER COMMIT via
  //   spark.read.format("graft-versioned")
  //     .option("readChangeFeed", true).option("startingVersion", 2)
  // with Delta's FOUR change types — the UPDATE commit recorded its
  // pairing keys (the non-SET columns), so its removed/added rows
  // surface as update_preimage/update_postimage, while the DELETE
  // commit's rows stay `delete` — plus `_commit_version`. Aggregated
  // per (event_type, _change_type, _commit_version); the oracle
  // replays each commit's change set relationally.
  def batchCdf(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xbcdf")
    Versioned.append(ev.filter(col("event_id") % 2 === 0), tableDir) // v1
    Versioned.append(ev.filter(col("event_id") % 2 === 1), tableDir) // v2
    Versioned.updateWhere(s, tableDir, col("event_type") === "view",
      Map("value_c" -> (col("value_c") + 7)))                        // v3
    Versioned.deleteWhere(s, tableDir, col("user_id") % 9 === 0)     // v4
    s.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", 2)
      .load(tableDir)
      .groupBy("event_type", "_change_type", "_commit_version")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("event_type", "_change_type", "_commit_version")
  }

  val batchCdfSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |upd AS (SELECT * FROM ev WHERE event_type = 'view'),
      |v3 AS (SELECT event_id, user_id, event_type,
      |              CASE WHEN event_type = 'view' THEN value_c + 7
      |                   ELSE value_c END AS value_c FROM ev),
      |chg AS (
      |  SELECT event_type, value_c, 'update_preimage' AS _change_type,
      |         CAST(3 AS BIGINT) AS _commit_version FROM upd
      |  UNION ALL
      |  SELECT event_type, value_c + 7, 'update_postimage', 3 FROM upd
      |  UNION ALL
      |  SELECT event_type, value_c, 'delete', 4 FROM v3 WHERE user_id % 9 = 0)
      |SELECT event_type, _change_type, _commit_version,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM chg GROUP BY event_type, _change_type, _commit_version
      |ORDER BY event_type, _change_type, _commit_version""".stripMargin

  // X — STATEMENT-LEVEL change feed: the same mutation window as
  // x_batch_cdf, but driven end-to-end as SQL text against a CATALOG
  // name — CREATE/INSERT/UPDATE/DELETE statements build and mutate the
  // table, then `table_changes('cat.cdc.events', 4, 5)` (Delta's TVF,
  // INCLUSIVE version bounds) reads the per-commit feed with zero
  // graft imports and zero paths. A green row proves the pure-SQL
  // persona x_sql_catalog courts can consume CDF at the statement
  // level: the TVF resolves the catalog name, translates the inclusive
  // bounds onto the engine's exclusive diff base, and serves the SAME
  // O(changed files) plan the DSv2 option path runs.
  def sqlCdf(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_cdf_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_cdfwh"))
    t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .createOrReplaceTempView("graft_xcdf_src")
    val tbl = s"$cat.cdc.events"
    s.sql(s"CREATE NAMESPACE $cat.cdc")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT)")                               // v1
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcdf_src WHERE event_id % 2 = 0") // v2
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcdf_src WHERE event_id % 2 = 1") // v3
    s.sql(s"UPDATE $tbl SET value_c = value_c + 7 WHERE event_type = 'view'")
      .collect()                                                          // v4
    s.sql(s"DELETE FROM $tbl WHERE user_id % 9 = 0").collect()            // v5
    s.sql(
      s"""SELECT event_type, _change_type, _commit_version,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(value_c) AS BIGINT) AS sum_c
         |FROM table_changes('$tbl', 4, 5)
         |GROUP BY event_type, _change_type, _commit_version
         |ORDER BY event_type, _change_type, _commit_version""".stripMargin)
  }

  val sqlCdfSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |upd AS (SELECT * FROM ev WHERE event_type = 'view'),
      |v4 AS (SELECT event_id, user_id, event_type,
      |              CASE WHEN event_type = 'view' THEN value_c + 7
      |                   ELSE value_c END AS value_c FROM ev),
      |chg AS (
      |  SELECT event_type, value_c, 'update_preimage' AS _change_type,
      |         CAST(4 AS BIGINT) AS _commit_version FROM upd
      |  UNION ALL
      |  SELECT event_type, value_c + 7, 'update_postimage', 4 FROM upd
      |  UNION ALL
      |  SELECT event_type, value_c, 'delete', 5 FROM v4 WHERE user_id % 9 = 0)
      |SELECT event_type, _change_type, _commit_version,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM chg GROUP BY event_type, _change_type, _commit_version
      |ORDER BY event_type, _change_type, _commit_version""".stripMargin

  // X — WIDE-window batch CDF: the same DSv2 change-feed read as
  // x_batch_cdf, but over a 66-commit window DOMINATED by micro-batch
  // appends — the shape a streamed bronze tier accumulates by the
  // thousands. 64 one-commit slice appends build the table (slice i =
  // events with event_id ≡ 0 (mod 7), bucketed by (event_id/7) mod 64,
  // landing as version i+1), then a keyed UPDATE (v65) and a
  // copy-on-write DELETE (v66) close the window. Read from
  // startingVersion 1, the feed must carry slices 1..63 as inserts
  // tagged with their own commit versions — served from the log's
  // add-actions as ONE file scan regardless of the append count (the
  // r10 per-commit planner built a union branch and O(checkpoint
  // interval) driver log reads PER COMMIT here) — plus the paired
  // update_preimage/update_postimage rows and the deletes. The oracle
  // replays the slice arithmetic relationally.
  def batchCdfWide(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .filter(col("event_id") % 7 === 0)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .withColumn("slice", ((col("event_id") % 448) / 7).cast("int"))
      .select("event_id", "user_id", "event_type", "value_c", "slice")
    val tableDir = scratchDir("graft_xbcdfw")
    val stage = scratchDir("graft_xbcdfw_stage")
    // ONE partitioned write stages all 64 micro-batches, then each
    // lands as a LOG-ONLY commit via Versioned.addFiles (the Iceberg
    // add_files-shaped bulk-ingest path) — 64 real commits for the
    // price of one Spark write job, which is also how a real backfill
    // would produce this many commits without 64 separate jobs
    base.repartition(col("slice"))
      .write.partitionBy("slice").parquet(s"$stage/p")
    val fsys = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    (0 until 64).foreach { i =>
      val src = new org.apache.hadoop.fs.Path(s"$stage/p/slice=$i")
      val dst = new org.apache.hadoop.fs.Path(s"$tableDir/d-cdc-$i")
      require(fsys.rename(src, dst), s"staging move failed for slice $i")
      val files = fsys.listStatus(dst).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.map(n => s"d-cdc-$i/$n")
      Versioned.addFiles(s, tableDir, files,
        knownSchema = Some(org.apache.spark.sql.types.StructType(
          base.schema.fields.filterNot(_.name == "slice"))))
    }
    Versioned.updateWhere(s, tableDir, col("event_type") === "click",
      Map("value_c" -> (col("value_c") + 7)))                        // v65
    Versioned.deleteWhere(s, tableDir, col("user_id") % 9 === 0)     // v66
    s.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .load(tableDir)
      .groupBy("_change_type", "_commit_version")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("_change_type", "_commit_version")
  }

  val batchCdfWideSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c,
      |                   CAST((event_id % 448) / 7 AS BIGINT) AS slice
      |            FROM events WHERE event_id % 7 = 0),
      |upd AS (SELECT * FROM ev WHERE event_type = 'click'),
      |v65 AS (SELECT event_id, user_id, event_type,
      |              CASE WHEN event_type = 'click' THEN value_c + 7
      |                   ELSE value_c END AS value_c FROM ev),
      |chg AS (
      |  SELECT value_c, 'insert' AS _change_type, slice + 1 AS _commit_version
      |  FROM ev WHERE slice >= 1
      |  UNION ALL
      |  SELECT value_c, 'update_preimage', 65 FROM upd
      |  UNION ALL
      |  SELECT value_c + 7, 'update_postimage', 65 FROM upd
      |  UNION ALL
      |  SELECT value_c, 'delete', 66 FROM v65 WHERE user_id % 9 = 0)
      |SELECT _change_type, CAST(_commit_version AS BIGINT) AS _commit_version,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM chg GROUP BY _change_type, _commit_version
      |ORDER BY _change_type, _commit_version""".stripMargin

  // X — SHALLOW CLONE under the oracle gate: fork a versioned table
  // with zero data copy, mutate the FORK (keyed update + delete),
  // mutate the SOURCE (keyed update) and then VACUUM the source down
  // to one retained version — without the clone's pin sidecar that
  // vacuum would delete the forked snapshot's files. The output reads
  // BOTH tables after all of it: the clone must still serve its
  // mutated fork of the ORIGINAL snapshot (through the pinned files),
  // the source its own mutated content. The oracle replays both sides
  // relationally.
  def cloneFork(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 5 === 0)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val srcDir = scratchDir("graft_xclone_src")
    val dstDir = scratchDir("graft_xclone_dst")
    Versioned.append(ev, srcDir)                                   // src v1
    Versioned.cloneTable(s, srcDir, dstDir)                        // dst v1
    Versioned.updateWhere(s, dstDir, col("event_type") === "view",
      Map("value_c" -> (col("value_c") + 11)))                     // dst v2
    Versioned.deleteWhere(s, dstDir, col("user_id") % 4 === 0)     // dst v3
    Versioned.updateWhere(s, srcDir, col("event_type") === "click",
      Map("value_c" -> (col("value_c") + 3)))                      // src v2
    Versioned.vacuum(s, srcDir, keepVersions = 1)                  // drops src v1
    def side(d: String, tag: String) =
      Versioned.read(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
        .withColumn("side", lit(tag))
        .select("side", "event_type", "n", "sum_c")
    side(srcDir, "source").unionByName(side(dstDir, "clone"))
      .orderBy("side", "event_type")
  }

  val cloneForkSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 5 = 0),
      |clone_rows AS (
      |  SELECT event_type,
      |         CASE WHEN event_type = 'view' THEN value_c + 11
      |              ELSE value_c END AS value_c
      |  FROM ev WHERE user_id % 4 <> 0),
      |source_rows AS (
      |  SELECT event_type,
      |         CASE WHEN event_type = 'click' THEN value_c + 3
      |              ELSE value_c END AS value_c FROM ev),
      |u AS (
      |  SELECT 'source' AS side, event_type,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM source_rows GROUP BY event_type
      |  UNION ALL
      |  SELECT 'clone', event_type, CAST(count(*) AS BIGINT),
      |         CAST(sum(value_c) AS BIGINT)
      |  FROM clone_rows GROUP BY event_type)
      |SELECT side, event_type, n, sum_c FROM u
      |ORDER BY side, event_type""".stripMargin

  // X — VERSIONED SHALLOW CLONE through the DDL: fork YESTERDAY'S
  // snapshot (`SHALLOW CLONE ... VERSION AS OF 2`) after the source
  // has mutated past it, then VACUUM the source to one retained
  // version — v2's rewritten files leave every retained source
  // snapshot, so only the clone's pin (recorded at the pinned VERSION,
  // not the head) keeps the fork readable. The output reads both
  // sides: the clone serves exactly the v2 snapshot (update applied,
  // delete not yet), the source its head. Delta's `CREATE TABLE t
  // SHALLOW CLONE s VERSION AS OF n`; the oracle replays both sides
  // relationally.
  def cloneAsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 6 === 0)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val srcDir = scratchDir("graft_xcloneasof_src")
    val dstDir = scratchDir("graft_xcloneasof_dst")
    Versioned.append(ev, srcDir)                                   // src v1
    Versioned.updateWhere(s, srcDir, col("event_type") === "view",
      Map("value_c" -> (col("value_c") + 5)))                      // src v2
    Versioned.deleteWhere(s, srcDir, col("user_id") % 7 === 0)     // src v3
    s.sql(s"CREATE TABLE `graft-versioned`.`$dstDir` SHALLOW CLONE " +
      s"`graft-versioned`.`$srcDir` VERSION AS OF 2")              // dst v1 = src@v2
    Versioned.vacuum(s, srcDir, keepVersions = 1)                  // drops v2 from retention
    def side(d: String, tag: String) =
      Versioned.read(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
        .withColumn("side", lit(tag))
        .select("side", "event_type", "n", "sum_c")
    side(srcDir, "source").unionByName(side(dstDir, "clone_v2"))
      .orderBy("side", "event_type")
  }

  val cloneAsOfSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 6 = 0),
      |v2 AS (SELECT event_id, user_id, event_type,
      |              CASE WHEN event_type = 'view' THEN value_c + 5
      |                   ELSE value_c END AS value_c FROM ev),
      |u AS (
      |  SELECT 'source' AS side, event_type,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM v2 WHERE user_id % 7 <> 0 GROUP BY event_type
      |  UNION ALL
      |  SELECT 'clone_v2', event_type, CAST(count(*) AS BIGINT),
      |         CAST(sum(value_c) AS BIGINT)
      |  FROM v2 GROUP BY event_type)
      |SELECT side, event_type, n, sum_c FROM u
      |ORDER BY side, event_type""".stripMargin

  // X — MAINTENANCE DDL as pure SQL: the Delta statements an operator
  // runs verbatim — CREATE/INSERT build the table, OPTIMIZE bin-packs
  // it, DELETE mutates it, RESTORE ... TO VERSION AS OF rolls the
  // delete back, DESC HISTORY reads the log walk — all by catalog
  // NAME through the delegating parser, zero graft imports. The
  // output is the history's (version, op) sequence (fully determined
  // by the statement list) plus the post-restore content aggregate
  // (the delete must be undone); the oracle replays both.
  def sqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_mnt_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_mntwh"))
    t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .filter(col("event_id") % 4 === 2)
      .createOrReplaceTempView("graft_xmnt_src")
    val tbl = s"$cat.mnt.events"
    s.sql(s"CREATE NAMESPACE $cat.mnt")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT)")                                // v1 overwrite
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xmnt_src WHERE event_id % 2 = 0") // v2
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xmnt_src WHERE event_id % 2 = 1") // v3
    s.sql(s"OPTIMIZE $tbl").collect()                                      // v4 compact-small
    s.sql(s"DELETE FROM $tbl WHERE user_id % 5 = 0").collect()             // v5 delete
    s.sql(s"RESTORE TABLE $tbl TO VERSION AS OF 4").collect()              // v6 restore
    val hist = s.sql(s"DESC HISTORY $tbl")
      .select(lit("history").as("kind"), col("op").as("k"),
        col("version").as("n"), lit(-1L).as("sum_c"))
    // the bounded walk (newest 3 of the 6 commits above) and the
    // DESCRIBE DETAIL summary — both deterministic: versions/ops are
    // fixed by the statement list, num_rows by the restored content
    val histLim = s.sql(s"DESC HISTORY $tbl LIMIT 3")
      .select(lit("hist_limit").as("kind"), col("op").as("k"),
        col("version").as("n"), lit(-1L).as("sum_c"))
    val det = s.sql(s"DESCRIBE DETAIL $tbl")
      .select(lit("detail").as("kind"), lit("head").as("k"),
        col("version").as("n"), col("num_rows").as("sum_c"))
    val agg = s.sql(
      s"""SELECT 'agg' AS kind, event_type AS k,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(value_c) AS BIGINT) AS sum_c
         |FROM $tbl GROUP BY event_type""".stripMargin)
    hist.unionByName(histLim).unionByName(det).unionByName(agg)
      .orderBy("kind", "n", "k")
  }

  val sqlMaintenanceSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 4 = 2),
      |hist AS (SELECT * FROM (VALUES
      |  (1, 'overwrite'), (2, 'append'), (3, 'append'),
      |  (4, 'compact-small'), (5, 'delete'), (6, 'restore')) t(n, k)),
      |u AS (
      |  SELECT 'history' AS kind, k, CAST(n AS BIGINT) AS n,
      |         CAST(-1 AS BIGINT) AS sum_c
      |  FROM hist
      |  UNION ALL
      |  SELECT 'hist_limit', k, CAST(n AS BIGINT), CAST(-1 AS BIGINT)
      |  FROM hist WHERE n >= 4
      |  UNION ALL
      |  SELECT 'detail', 'head', CAST(6 AS BIGINT), CAST(count(*) AS BIGINT)
      |  FROM ev
      |  UNION ALL
      |  SELECT 'agg', event_type, CAST(count(*) AS BIGINT),
      |         CAST(sum(value_c) AS BIGINT)
      |  FROM ev GROUP BY event_type)
      |SELECT kind, k, n, sum_c FROM u ORDER BY kind, n, k""".stripMargin

  // X — CONVERT TO GRAFT under the oracle gate: a plain parquet
  // directory (the pre-migration state every real dataset starts in)
  // is registered as a versioned table IN PLACE via the DDL, then
  // immediately mutated through the log (copy-on-write DELETE) and
  // read back through the snapshot — proving the converted references
  // are first-class: DML rewrites them, the read path resolves them,
  // and zero bytes were copied at conversion (flat part-files are
  // renamed, not rewritten). Oracle replays the slice minus the
  // delete relationally.
  def convertInPlace(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 9 === 3)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val raw = scratchDir("graft_xconvert")
    ev.repartition(3).write.mode("overwrite").parquet(raw)
    s.sql(s"CONVERT TO GRAFT parquet.`$raw`")                      // v1
    Versioned.deleteWhere(s, raw, col("user_id") % 3 === 0)        // v2
    Versioned.read(s, raw).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("event_type")
  }

  val convertInPlaceSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 9 = 3)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM ev WHERE user_id % 3 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // X — hive-partitioned CONVERT under the oracle gate: the
  // pre-migration state of a DATE-PARTITIONED lake (Spark partitionBy
  // layout — partition values in directory names, NOT in the files) is
  // registered in place, so the partition column only exists through
  // the path-injection read. The query then exercises every composed
  // surface on it: an append (materialized column, mixed snapshot), a
  // partition-predicate DELETE (the injected column drives the
  // rewrite), zone stats over path values, and a zone-bounded read.
  // The oracle replays the whole lifecycle relationally from events.
  def convertHive(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 11 === 5)
      .withColumn("bucket", (col("user_id") % 4).cast("int"))
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("bucket", "event_id", "event_type", "value_c")
    val raw = scratchDir("graft_xconverthive")
    ev.repartition(2).write.partitionBy("bucket")
      .mode("overwrite").parquet(raw)
    s.sql(s"CONVERT TO GRAFT parquet.`$raw`")                       // v1
    Versioned.append(                                               // v2
      ev.filter(col("bucket") === 1)
        .withColumn("event_id", col("event_id") + 1000000000L)
        .select("bucket", "event_id", "event_type", "value_c"), raw)
    val v3 = Versioned.deleteWhere(s, raw,                          // v3
      col("bucket") === 2 && col("value_c") % 2 === 0).getOrElse(2L)
    Versioned.writeZoneMap(s, raw, v3, "bucket")
    val zoned = Versioned.readWhere(s, raw, v3, "bucket", 1L, 1L)   // pruned read
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .withColumn("kind", lit("zoned_b1"))
    val full = Versioned.read(s, raw)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .withColumn("kind", lit("all"))
    full.unionByName(zoned)
      .select("kind", "event_type", "n", "sum_c")
      .orderBy("kind", "event_type")
  }

  val convertHiveSql: String =
    """WITH ev AS (SELECT CAST(user_id % 4 AS INT) AS bucket, event_id,
      |                   event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 11 = 5),
      |appended AS (
      |  SELECT bucket, event_id + 1000000000 AS event_id, event_type, value_c
      |  FROM ev WHERE bucket = 1),
      |snap AS (
      |  SELECT * FROM (SELECT bucket, event_id, event_type, value_c FROM ev
      |                 UNION ALL SELECT * FROM appended)
      |  WHERE NOT (bucket = 2 AND value_c % 2 = 0)),
      |u AS (
      |  SELECT 'all' AS kind, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM snap GROUP BY event_type
      |  UNION ALL
      |  SELECT 'zoned_b1', event_type, CAST(count(*) AS BIGINT),
      |         CAST(sum(value_c) AS BIGINT)
      |  FROM snap WHERE bucket = 1 GROUP BY event_type)
      |SELECT kind, event_type, n, sum_c FROM u
      |ORDER BY kind, event_type""".stripMargin

  // X — COPY INTO under the oracle gate: the idempotent bulk-load
  // lifecycle every landing-zone ingestion runs — a seed append, a
  // glob COPY of two landed batches, a literal RE-RUN of the same
  // statement (must load zero files — if load tracking broke, the
  // doubled rows hash-mismatch), a third batch landing, and a final
  // COPY that picks up exactly the new files. The oracle replays the
  // four slices relationally; the statement-level result rows
  // (num_loaded_files per run: 2, 0, 1) are folded into the output so
  // the tracking itself is hash-checked, not just the end content.
  def copyIntoLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .filter(col("event_id") % 7 === 3)
    val tbl = scratchDir("graft_xcopy_tbl")
    val land = scratchDir("graft_xcopy_land")
    def slice(m: Long) = ev.filter(col("event_id") % 4 === m)
    Versioned.append(slice(0), tbl)                               // v1 seed
    slice(1).coalesce(1).write.mode("overwrite").parquet(s"$land/b1")
    slice(2).coalesce(1).write.mode("overwrite").parquet(s"$land/b2")
    val stmt = s"COPY INTO `graft-versioned`.`$tbl` FROM '$land/b*' " +
      "FILEFORMAT = PARQUET"
    val loads = collection.mutable.ArrayBuffer[Long]()
    loads += s.sql(stmt).select("num_loaded_files").first().getLong(0) // 2
    loads += s.sql(stmt).select("num_loaded_files").first().getLong(0) // 0: no-op
    slice(3).coalesce(1).write.mode("overwrite").parquet(s"$land/b3")
    loads += s.sql(stmt).select("num_loaded_files").first().getLong(0) // 1: new only
    val content = Versioned.read(s, tbl).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .select(lit("content").as("kind"), col("event_type").as("k"),
        col("n"), col("sum_c"))
    import s.implicits._
    val tracking = loads.toSeq.zipWithIndex
      .map { case (n, i) => ("loaded", s"run${i + 1}", n, -1L) }
      .toDF("kind", "k", "n", "sum_c")
    content.unionByName(tracking).orderBy("kind", "k")
  }

  val copyIntoLifecycleSql: String =
    """WITH ev AS (SELECT event_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 7 = 3),
      |u AS (
      |  SELECT 'content' AS kind, event_type AS k,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM ev GROUP BY event_type
      |  UNION ALL
      |  SELECT 'loaded', t.k, t.n, CAST(-1 AS BIGINT)
      |  FROM (VALUES ('run1', CAST(2 AS BIGINT)), ('run2', CAST(0 AS BIGINT)),
      |               ('run3', CAST(1 AS BIGINT))) t(k, n))
      |SELECT kind, k, n, sum_c FROM u ORDER BY kind, k""".stripMargin

  // X — constraint DDL as pure SQL: the storage-contract lifecycle —
  // CREATE/INSERT build the table, ALTER TABLE ADD CONSTRAINT
  // registers a CHECK the snapshot satisfies, a violating INSERT is
  // REFUSED atomically (caught; the oracle proves zero rows of it
  // landed), a passing INSERT commits under the constraint, DROP
  // CONSTRAINT lifts it, and the once-refused rows then commit. The
  // output folds the refusal observation in as a row, so the gate
  // checks enforcement, not just the happy path.
  def sqlConstraints(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_cons_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_conswh"))
    t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .filter(col("event_id") % 5 === 1)
      .createOrReplaceTempView("graft_xcons_src")
    val tbl = s"$cat.cons.events"
    s.sql(s"CREATE NAMESPACE $cat.cons")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT)")                              // v1
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcons_src " +
      "WHERE event_type <> 'view'")                                      // v2
    s.sql(s"ALTER TABLE $tbl ADD CONSTRAINT no_views " +
      "CHECK (event_type <> 'view')")                                    // v3
    def mentions(e: Throwable, s0: String): Boolean =
      e != null && (Option(e.getMessage).exists(_.contains(s0)) ||
        mentions(e.getCause, s0))
    val refused =
      try { s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcons_src " +
              "WHERE event_type = 'view'").collect(); 0L }
      catch { case e: Exception if mentions(e, "no_views") => 1L }
    s.sql(s"INSERT INTO $tbl SELECT event_id + 1000000000, user_id, " +
      "event_type, value_c FROM graft_xcons_src " +
      "WHERE event_type = 'purchase'")                                   // v4
    s.sql(s"ALTER TABLE $tbl DROP CONSTRAINT no_views")                  // v5
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcons_src " +
      "WHERE event_type = 'view'")                                       // v6
    import s.implicits._
    s.sql(s"""SELECT 'content' AS kind, event_type AS k,
              |       CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(value_c) AS BIGINT) AS sum_c
              |FROM $tbl GROUP BY event_type""".stripMargin)
      .unionByName(Seq(("refused", "insert_view", refused, -1L))
        .toDF("kind", "k", "n", "sum_c"))
      .orderBy("kind", "k")
  }

  val sqlConstraintsSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 5 = 1),
      |final AS (
      |  SELECT event_type, value_c FROM ev
      |  UNION ALL
      |  SELECT event_type, value_c FROM ev WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT 'content' AS kind, event_type AS k,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM final GROUP BY event_type
      |  UNION ALL
      |  SELECT 'refused', 'insert_view', CAST(1 AS BIGINT),
      |         CAST(-1 AS BIGINT))
      |SELECT kind, k, n, sum_c FROM u ORDER BY kind, k""".stripMargin

  // X — TBLPROPERTIES under the oracle gate, pure SQL: a catalog table
  // is built by statements, SET TBLPROPERTIES commits the property map
  // to the log (one metadata-only commit through
  // GraftCatalog.alterTable), data lands AFTER it (property commits
  // must not disturb the write path), SHOW TBLPROPERTIES reads the map
  // back, UNSET drops one key. Both SHOW snapshots fold into the
  // hashed output alongside the content aggregate — the oracle replays
  // the content relationally and the property rows as literals, which
  // is exactly what a metadata contract should hash to.
  def sqlTblProps(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_props_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_propswh"))
    t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .filter(col("event_id") % 5 === 2)
      .createOrReplaceTempView("graft_xprops_src")
    val tbl = s"$cat.props.events"
    s.sql(s"CREATE NAMESPACE $cat.props")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT)")                              // v1
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xprops_src " +
      "WHERE event_type <> 'view'")                                      // v2
    s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('tier' = 'bronze', 'graft.vacuum.retainHours' = '0')")           // v3
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xprops_src " +
      "WHERE event_type = 'view'")                                       // v4
    def props(tag: String) =
      s.sql(s"SHOW TBLPROPERTIES $tbl")
        .filter(col("key") === "tier" || col("key").startsWith("graft."))
        .select(lit(tag).as("kind"), col("key").as("k"),
          col("value").as("vstr"),
          lit(-1L).as("n"), lit(-1L).as("sum_c"))
    val p1 = props("props_set")
    s.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('tier')")              // v5
    val p2 = props("props_unset")
    s.sql(s"""SELECT 'content' AS kind, event_type AS k, '' AS vstr,
              |       CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(value_c) AS BIGINT) AS sum_c
              |FROM $tbl GROUP BY event_type""".stripMargin)
      .unionByName(p1).unionByName(p2)
      .orderBy("kind", "k")
  }

  val sqlTblPropsSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 5 = 2),
      |u AS (
      |  SELECT 'content' AS kind, event_type AS k, '' AS vstr,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM ev GROUP BY event_type
      |  UNION ALL
      |  SELECT 'props_set', 'tier', 'bronze',
      |         CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
      |  UNION ALL
      |  SELECT 'props_set', 'graft.vacuum.retainHours', '0',
      |         CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
      |  UNION ALL
      |  SELECT 'props_unset', 'graft.vacuum.retainHours', '0',
      |         CAST(-1 AS BIGINT), CAST(-1 AS BIGINT))
      |SELECT kind, k, vstr, n, sum_c FROM u ORDER BY kind, k""".stripMargin

  // X — column DEFAULT values under the oracle gate, pure SQL: the
  // table declares a DEFAULT at CREATE, inserts omit the column (the
  // analyzer fills it from the committed schema's metadata), ADD
  // COLUMN ... DEFAULT stamps an EXISTS default that pre-existing
  // rows surface straight from the parquet read schema (their files
  // lack the column), and SET DEFAULT changes only FUTURE inserts.
  // The hashed output groups by the defaulted columns — every value
  // the engine filled must match the oracle's literal replay.
  def sqlDefaults(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_def_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_defwh"))
    t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .filter(col("event_id") % 5 === 3)
      .createOrReplaceTempView("graft_xdef_src")
    val tbl = s"$cat.d.events"
    s.sql(s"CREATE NAMESPACE $cat.d")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT, status STRING DEFAULT 'new')") // v1
    s.sql(s"INSERT INTO $tbl (event_id, user_id, event_type, value_c) " +
      "SELECT * FROM graft_xdef_src WHERE event_type <> 'view'")         // v2
    s.sql(s"ALTER TABLE $tbl ADD COLUMN tier STRING DEFAULT 'bronze'")
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN status SET DEFAULT 'late'")
    s.sql(s"INSERT INTO $tbl (event_id, user_id, event_type, value_c) " +
      "SELECT * FROM graft_xdef_src WHERE event_type = 'view'")
    s.sql(s"""SELECT status, tier, event_type,
              |       CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(value_c) AS BIGINT) AS sum_c
              |FROM $tbl GROUP BY status, tier, event_type
              |ORDER BY status, tier, event_type""".stripMargin)
  }

  val sqlDefaultsSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 5 = 3),
      |rows_all AS (
      |  SELECT event_type, value_c, 'new' AS status, 'bronze' AS tier
      |  FROM ev WHERE event_type <> 'view'
      |  UNION ALL
      |  SELECT event_type, value_c, 'late', 'bronze'
      |  FROM ev WHERE event_type = 'view')
      |SELECT status, tier, event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM rows_all GROUP BY status, tier, event_type
      |ORDER BY status, tier, event_type""".stripMargin

  // X — IDENTITY columns under the oracle gate: the table declares
  // `row_id GENERATED ALWAYS AS IDENTITY` (property + transactional
  // high-water mark), then two appends land WITHOUT the column — the
  // engine assigns contiguous values, the second append continuing
  // exactly where the first stopped. Which row got which id depends on
  // partition order (legitimately nondeterministic), so the hashed
  // output checks the ID SET algebraically — count, min, max, sum must
  // be exactly those of 1..n — alongside the content aggregates.
  def identityLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 6 === 1)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xident")
    Versioned.overwrite(
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType()
          .add("row_id", org.apache.spark.sql.types.LongType)
          .add("user_id", org.apache.spark.sql.types.LongType)
          .add("event_type", org.apache.spark.sql.types.StringType)
          .add("value_c", org.apache.spark.sql.types.LongType)),
      tableDir)                                                          // v1
    Versioned.setIdentityColumn(s, tableDir, "row_id")                   // v2-v3
    Versioned.append(ev.filter(col("event_type") =!= "view"), tableDir)  // assigned
    Versioned.append(ev.filter(col("event_type") === "view"), tableDir)  // continues
    val content = Versioned.read(s, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("s1"),
        lit(0L).as("s2"))
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_type").as("k"), col("n"),
        col("s1"), col("s2"))
    val ids = Versioned.read(s, tableDir)
      .agg(count(lit(1)).as("n"), sum(col("row_id")).as("s1"),
        (max(col("row_id")) - min(col("row_id")) + 1L).as("s2"))
      .withColumn("kind", lit("ids")).withColumn("k", lit("all"))
      .select("kind", "k", "n", "s1", "s2")
    content.unionByName(ids).orderBy("kind", "k")
  }

  // X — replaceWhere under the oracle gate: the canonical backfill.
  // The table is seeded through SQL INSERT, then the 'view' slice is
  // recomputed (corrected metric) and atomically swapped in through
  // the DSv2 overwrite-by-filter contract (`writeTo(t).overwrite`) —
  // one commit, matched-file footprint, Delta's replaceWhere. The
  // hashed output proves exactly the slice changed: non-view rows
  // carry verbatim, view rows carry the corrected values.
  def replaceWhereBackfill(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_rw_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_rwwh"))
    s.sql(s"CREATE NAMESPACE $cat.d")
    val tbl = s"$cat.d.events"
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 7 === 2)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    ev.createOrReplaceTempView("graft_xrw_src")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT)")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xrw_src")
    val recomputed = ev.filter(col("event_type") === "view")
      .withColumn("value_c", col("value_c") * 2L)
    recomputed.writeTo(tbl).overwrite(col("event_type") === "view")
    s.sql(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(value_c) AS BIGINT) AS sum_c,
              |       CAST(sum(user_id) AS BIGINT) AS sum_u
              |FROM $tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val replaceWhereBackfillSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 7 = 2),
      |fin AS (
      |  SELECT event_type, value_c, user_id FROM ev
      |  WHERE event_type <> 'view'
      |  UNION ALL
      |  SELECT event_type, value_c * 2, user_id FROM ev
      |  WHERE event_type = 'view')
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c,
      |       CAST(sum(user_id) AS BIGINT) AS sum_u
      |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin

  // X — declared clustering under the oracle gate, pure SQL: CREATE
  // TABLE ... CLUSTER BY records the layout contract, two unclustered
  // insert batches land, bare OPTIMIZE clusters them (incremental:
  // only the unclustered tail rewrites), a third batch + second
  // OPTIMIZE exercises the tail-only maintenance pass, and the final
  // range-predicated aggregate reads through the zone-pruned DSv2
  // scan over the clustered layout. Row-preserving throughout — the
  // hashed output must equal a replay that never clustered at all.
  def sqlClusterBy(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_cb_${catalogSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratchDir("graft_cbwh"))
    s.sql(s"CREATE NAMESPACE $cat.d")
    val tbl = s"$cat.d.events"
    t(s, dir, "events")
      .filter(col("event_id") % 9 === 4)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
      .createOrReplaceTempView("graft_xcb_src")
    s.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value_c BIGINT) CLUSTER BY (user_id, event_id)")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcb_src " +
      "WHERE event_type <> 'view'")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcb_src " +
      "WHERE event_type = 'view' AND user_id % 2 = 0")
    s.sql(s"OPTIMIZE $tbl").collect()
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_xcb_src " +
      "WHERE event_type = 'view' AND user_id % 2 = 1")
    s.sql(s"OPTIMIZE $tbl").collect()
    s.sql(s"""SELECT user_id % 8 AS g, CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(value_c) AS BIGINT) AS sum_c
              |FROM $tbl WHERE user_id BETWEEN 100 AND 900
              |GROUP BY user_id % 8 ORDER BY g""".stripMargin)
  }

  val sqlClusterBySql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 9 = 4)
      |SELECT user_id % 8 AS g, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM ev WHERE user_id BETWEEN 100 AND 900
      |GROUP BY user_id % 8 ORDER BY g""".stripMargin

  // X — FSCK REPAIR under the oracle gate: the 'view' slice lands as
  // its own data file, is deleted OUT-OF-BAND (simulating a
  // misdirected lifecycle rule), and fsckRepair drops the dead
  // reference in one logged commit. The hashed output carries the
  // surviving content AND the repair observation (exactly one file
  // repaired, exactly one version committed) — the oracle replays the
  // loss as "the view slice is gone".
  def fsckLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 5)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xfsck")
    Versioned.overwrite(
      ev.filter(col("event_type") =!= "view").coalesce(1), tableDir)   // v1
    Versioned.append(
      ev.filter(col("event_type") === "view").coalesce(1), tableDir)   // v2
    val v0 = Versioned.currentVersion(s, tableDir).get
    // out-of-band deletion of the view slice's one data file
    val gone = Versioned.read(s, tableDir)
      .filter(col("event_type") === "view")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val conf = s.sessionState.newHadoopConf()
    gone.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, false)
    }
    val repaired = Versioned.fsckRepair(s, tableDir)
    val v1 = Versioned.currentVersion(s, tableDir).get
    val content = Versioned.read(s, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .withColumn("kind", lit("content"))
      .select("kind", "event_type", "n", "sum_c")
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", "repair",
        repaired.size.toLong, v1 - v0)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_type", org.apache.spark.sql.types.StringType, false)
        .add("n", org.apache.spark.sql.types.LongType, false)
        .add("sum_c", org.apache.spark.sql.types.LongType, false))
    content.unionByName(meta).orderBy("kind", "event_type")
  }

  // X — AUTO COMPACTION under the oracle gate (the Databricks
  // autoOptimize.autoCompact analog): the table declares the property
  // with a 4-commit interval, five slices land as per-commit appends
  // (the streaming-ingest shape), and the cadence hits bin-pack the
  // accumulated small files as row-preserving follow-on commits.
  // Version arithmetic is deterministic — overwrite v1, props v2,
  // appends at v3,v4 (cadence→compact v5), v6,v7, v8 (cadence→compact
  // v9) — so the hashed output carries the content (unchanged by
  // compaction, by definition) plus the observed log shape: exactly 2
  // compact-small commits and a single-file final snapshot.
  def autoCompactLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 2)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "value_c")
    val tableDir = scratchDir("graft_xautocompact")
    Versioned.overwrite(ev.filter(col("user_id") % 6 === 0).coalesce(1), tableDir) // v1
    Versioned.setProperties(s, tableDir, Map(
      "graft.autoOptimize.autoCompact" -> "true",
      "graft.autoOptimize.interval" -> "4")) // v2
    (1 to 5).foreach(i =>
      Versioned.append(ev.filter(col("user_id") % 6 === i).coalesce(1), tableDir))
    val head = Versioned.currentVersion(s, tableDir).get
    val compacts = (1L to head)
      .count(v => Versioned.opAt(s, tableDir, v) == "compact-small").toLong
    val nFiles = Versioned.filesAt(s, tableDir, head).size.toLong
    val content = Versioned.read(s, tableDir)
      .groupBy((col("user_id") % 6).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .withColumn("kind", lit("content"))
      .select("kind", "g", "n", "sum_c")
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, compacts, nFiles)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("g", org.apache.spark.sql.types.LongType, false)
        .add("n", org.apache.spark.sql.types.LongType, false)
        .add("sum_c", org.apache.spark.sql.types.LongType, false))
    content.unionByName(meta).orderBy("kind", "g")
  }

  // X — SYMLINK MANIFEST under the oracle gate (Delta's GENERATE
  // symlink_format_manifest): the versioned table publishes its
  // snapshot's file list as a manifest, and the query then reads the
  // LISTED URIS as plain parquet — the external-engine simulation
  // (Presto/Trino/Athena have no log reader; the manifest is their
  // only view of the table). Content through that path must hash-equal
  // the relational answer; the meta row pins the manifest shape (one
  // root manifest, listing every snapshot file).
  def manifestLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 6)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "value_c")
    val tableDir = scratchDir("graft_xmanifest")
    Versioned.overwrite(ev.filter(col("user_id") % 2 === 0).coalesce(2), tableDir) // v1
    Versioned.append(ev.filter(col("user_id") % 2 === 1).coalesce(2), tableDir)    // v2
    val manifests = Versioned.generateManifest(s, tableDir)
    val listed = manifests.flatMap { mf =>
      val src = scala.io.Source.fromFile(
        new org.apache.hadoop.fs.Path(mf).toUri.getPath)
      try src.getLines().toList finally src.close()
    }
    val nFiles = Versioned.filesAt(
      s, tableDir, Versioned.currentVersion(s, tableDir).get).size.toLong
    // the external reader: a bare parquet scan over the listed URIs
    val content = s.read.parquet(listed: _*)
      .groupBy((col("user_id") % 8).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .withColumn("kind", lit("content"))
      .select("kind", "g", "n", "sum_c")
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, manifests.size.toLong,
        if (listed.size.toLong == nFiles) 1L else 0L)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("g", org.apache.spark.sql.types.LongType, false)
        .add("n", org.apache.spark.sql.types.LongType, false)
        .add("sum_c", org.apache.spark.sql.types.LongType, false))
    content.unionByName(meta).orderBy("kind", "g")
  }

  // X — BLOOM INDEX under the oracle gate (Databricks BLOOMFILTER
  // INDEX): the table lands as 4 event slices, a bloom build indexes
  // the high-cardinality derived key (user_id-event_id — unique, so
  // zone ranges on it would span every file while the bloom rules
  // files out per value), and two point probes (the min- and
  // max-event keys) read THROUGH the pruned path. The hashed output
  // carries the probed rows (exactness) plus meta flags: both probes
  // pruned to strict file subsets, and a guaranteed-absent key
  // returned zero rows.
  def bloomLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 7)
      .withColumn("k", concat_ws("-", col("user_id"), col("event_id")))
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "k", "value_c")
    val tableDir = scratchDir("graft_xbloom")
    Seq(7L, 15L, 23L, 31L).foreach(m =>
      Versioned.append(ev.filter(col("event_id") % 32 === m).coalesce(1), tableDir))
    val v = Versioned.buildBloom(s, tableDir, Seq("k"), itemsPerFile = 100000L)
    val kMin = ev.orderBy(col("event_id").asc).select("k").head().getString(0)
    val kMax = ev.orderBy(col("event_id").desc).select("k").head().getString(0)
    val all = Versioned.filesAt(s, tableDir, v).size
    def prunedOk(key: String): Long =
      if (Versioned.bloomPrunedFiles(s, tableDir, v, "k", key).size < all) 1L else 0L
    // the DSv2 read path must consult the same index: a pushed
    // equality probe plans a strict file subset AND returns the exact
    // row — the flag hashes both
    def dsv2Probe(key: String): Long = {
      val probe = s.read.format("graft-versioned").load(tableDir)
        .filter(col("k") === key)
      val planned = probe.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match {
              case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
                p.fileIndex.inputFiles.length
              case s => // runtime-filterable wrapper carries its live count
                """files=(\d+)""".r.findFirstMatchIn(s.description())
                  .map(_.group(1).toInt).getOrElse(0)
            }
        }).sum
      val exact = probe.select("event_id", "user_id", "value_c").collect().toSet ==
        Versioned.readWhereEquals(s, tableDir, v, "k", key)
          .select("event_id", "user_id", "value_c").collect().toSet
      if (planned < all && exact) 1L else 0L
    }
    val hits = Versioned.readWhereEquals(s, tableDir, v, "k", kMin)
      .unionByName(Versioned.readWhereEquals(s, tableDir, v, "k", kMax))
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_id"), col("user_id"), col("value_c"))
    val absent = Versioned.readWhereEquals(s, tableDir, v, "k", "no-such-key").count()
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L,
        prunedOk(kMin) + prunedOk(kMax) + dsv2Probe(kMin), absent)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("value_c", org.apache.spark.sql.types.LongType, false))
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  // X — APPLY CHANGES (DLT's CDC apply) under the oracle gate: the
  // events slice becomes a change feed (key = user_id, sequence =
  // event_id, removals = the 'remove_from_cart' events), applied as
  // SCD TYPE 2 in TWO time-ordered batches — the second batch must
  // close the first batch's open rows across the boundary exactly as
  // a single apply would, so the oracle is ONE window: per key, each
  // surviving change holds [seq, lead(seq)) with deletes bounding but
  // never inserting. The hashed output is the full history table.
  def applyChangesLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 4 === 2)
      .select(col("user_id").as("uid"),
        floor(col("value") * 100).cast("long").as("val"),
        col("event_id").as("seq"), col("event_type").as("op"))
    val tableDir = scratchDir("graft_xapply")
    val mx = ev.agg(max(col("seq"))).head().getLong(0)
    val del = Some(col("op") === "remove_from_cart")
    graft.ops.ApplyChanges.scd2(s, tableDir,
      ev.filter(col("seq") <= mx / 2), Seq("uid"), "seq", del, Seq("op"))
    graft.ops.ApplyChanges.scd2(s, tableDir,
      ev.filter(col("seq") > mx / 2), Seq("uid"), "seq", del, Seq("op"))
    Versioned.read(s, tableDir)
      .select(col("uid"), col("val"), col("__START_AT").as("start_at"),
        coalesce(col("__END_AT"), lit(-1L)).as("end_at"))
      .orderBy("uid", "start_at")
  }

  val applyChangesLifecycleSql: String =
    """WITH ev AS (SELECT user_id AS uid,
      |                   CAST(floor(value * 100) AS BIGINT) AS val,
      |                   event_id AS seq, event_type AS op
      |            FROM events WHERE event_id % 4 = 2),
      |seg AS (SELECT uid, val, seq AS start_at,
      |               lead(seq) OVER (PARTITION BY uid ORDER BY seq) AS end_at,
      |               op
      |        FROM ev)
      |SELECT uid, val, start_at, COALESCE(end_at, -1) AS end_at
      |FROM seg WHERE op <> 'remove_from_cart'
      |ORDER BY uid, start_at""".stripMargin

  // X — string zone maps under the oracle gate: four range-disjoint
  // slices keyed by a zero-padded composite string key, string bounds
  // published through the SAME writeZoneMaps entry point (strings
  // route to the truncated-bounds sidecar), then an equality probe, a
  // range probe, and the DSv2 filter path must all prune files — the
  // three pruning decisions land as a hashed flag sum — while the
  // returned CONTENT stays exactly the relational answer. ASCII keys,
  // so DuckDB's binary collation and Spark's UTF8String order agree.
  def strZonesLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 3)
      .withColumn("k", concat(lit("u-"),
        lpad(col("user_id").cast("string"), 9, "0"), lit("-"),
        lpad(col("event_id").cast("string"), 9, "0")))
      .select("event_id", "user_id", "k")
    val tableDir = scratchDir("graft_xszone")
    val umx = ev.agg(max(col("user_id"))).head().getLong(0)
    val cuts = Seq(0L, umx / 4, umx / 2, 3 * umx / 4, umx + 1)
    (0 until 4).foreach(i => Versioned.append(
      ev.filter(col("user_id") >= cuts(i) && col("user_id") < cuts(i + 1))
        .coalesce(1), tableDir))
    Versioned.writeZoneMaps(s, tableDir, 4L, Seq("k"))
    val kMin = ev.agg(min(col("k"))).head().getString(0)
    val kMax = ev.agg(max(col("k"))).head().getString(0)
    val p = "u-" + ("%09d".format(umx / 2))
    val all = Versioned.filesAt(s, tableDir, 4L).size
    def flag(b: Boolean): Long = if (b) 1L else 0L
    val prunedEq = flag(
      Versioned.strPrunedFiles(s, tableDir, 4L, "k", Some(kMin), Some(kMin))
        .size < all)
    val prunedRange = flag(
      Versioned.strPrunedFiles(s, tableDir, 4L, "k", None, Some(p)).size < all)
    val dsv2 = s.read.format("graft-versioned").load(tableDir)
      .filter(col("k") === kMax)
    val dsv2Pruned = flag(
      """InMemoryFileIndex\((\d+) paths\)""".r
        .findFirstMatchIn(dsv2.queryExecution.executedPlan.toString)
        .exists(_.group(1).toInt < all))
    val nRange = Versioned.readWhereStr(s, tableDir, 4L, "k", None, Some(p))
      .count()
    val hits = Versioned.readWhereStr(s, tableDir, 4L, "k", Some(kMin), Some(kMin))
      .unionByName(dsv2)
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_id"), col("user_id"), lit(0L).as("n"))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L,
        prunedEq + prunedRange + dsv2Pruned, nRange)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("n", org.apache.spark.sql.types.LongType, false))
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  val strZonesLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   'u-' || lpad(CAST(user_id AS VARCHAR), 9, '0') ||
      |                   '-' || lpad(CAST(event_id AS VARCHAR), 9, '0') AS k
      |            FROM events WHERE event_id % 8 = 3),
      |b AS (SELECT min(k) AS klo, max(k) AS khi,
      |             'u-' || lpad(CAST(max(user_id) // 2 AS VARCHAR), 9, '0') AS p
      |      FROM ev)
      |SELECT kind, event_id, user_id, n FROM (
      |  SELECT 'content' AS kind, event_id, user_id, CAST(0 AS BIGINT) AS n
      |  FROM ev, b WHERE k = b.klo OR k = b.khi
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(3 AS BIGINT),
      |         (SELECT count(*) FROM ev, b WHERE k <= b.p)
      |) ORDER BY kind, event_id""".stripMargin

  // X — IN-list file skipping under the oracle gate: four range-
  // disjoint slices keyed by a long id and a zero-padded string key,
  // zone maps on both plus a bloom on the string key; a pushed
  // `col IN (…)` through the DSv2 read must plan the disjunctive UNION
  // of its per-element point probes — the long-zone IN unions two
  // cross-file points, the string-zone IN prunes on code-point bounds,
  // and absent-but-in-range string probes are ruled out by the bloom
  // alone (zones cannot: the probes sit inside a file's [lo, hi]). The
  // three pruning decisions land as a hashed flag sum; the returned
  // CONTENT stays exactly the relational answer.
  def inPruneLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 5)
      .withColumn("k", concat(lit("e-"),
        lpad(col("event_id").cast("string"), 12, "0")))
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "k", "value_c")
    val tableDir = scratchDir("graft_xinprune")
    val emx = ev.agg(max(col("event_id"))).head().getLong(0)
    val cuts = Seq(0L, emx / 4, emx / 2, 3 * emx / 4, emx + 1)
    (0 until 4).foreach(i => Versioned.append(
      ev.filter(col("event_id") >= cuts(i) && col("event_id") < cuts(i + 1))
        .coalesce(1), tableDir))
    Versioned.writeZoneMaps(s, tableDir, 4L, Seq("event_id", "k"))
    val v = Versioned.buildBloom(s, tableDir, Seq("k"), fpp = 0.001,
      itemsPerFile = 100000L)
    val eMin = ev.agg(min(col("event_id"))).head().getLong(0)
    val all = Versioned.filesAt(s, tableDir, v).size
    def planned(df: DataFrame): Int =
      """InMemoryFileIndex\((\d+) paths\)""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(all)
    def flag(b: Boolean): Long = if (b) 1L else 0L
    def rd = s.read.format("graft-versioned").load(tableDir)
    val kMin = "e-" + "%012d".format(eMin)
    val kMax = "e-" + "%012d".format(emx)
    // two cross-file long points: the union is 2 files, not the span
    val longIn = rd.filter(col("event_id").isin(eMin, emx))
    val fLong = flag(planned(longIn) <= 2 && planned(longIn) < all)
    // same two points through the string key: string zones prune
    val strIn = rd.filter(col("k").isin(kMin, kMax))
    val fStr = flag(planned(strIn) <= 2 && planned(strIn) < all)
    // absent probes INSIDE the two files' code-point bounds (present
    // key + "0" sorts between neighbors): only the bloom can rule them
    // out — requiring < 2 planned files survives a lone false positive
    val absIn = rd.filter(col("k").isin(kMin + "0", kMax + "0"))
    val fBloom = flag(planned(absIn) < 2)
    val nAbsent = absIn.count()
    val hits = longIn
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_id"), col("user_id"), col("value_c"))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, fLong + fStr + fBloom, nAbsent)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("value_c", org.apache.spark.sql.types.LongType, false))
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  val inPruneLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 5),
      |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM ev)
      |SELECT kind, event_id, user_id, value_c FROM (
      |  SELECT 'content' AS kind, event_id, user_id, value_c
      |  FROM ev, b WHERE event_id IN (b.lo, b.hi)
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(3 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, event_id""".stripMargin

  // X — dynamic file pruning under the oracle gate: the fact table is
  // four range-disjoint event_id slices with zone maps; the dim side is
  // a SELECTIVE slice (the first tenth of the id range) broadcast into
  // an equi-join. Spark's PartitionPruning rule sees the scan's
  // runtime-filterable attributes (SupportsRuntimeV2Filtering) and
  // plants the dim keys as a runtime IN probe — the scan must re-prune
  // to a strict file subset AFTER planning, before any pruned-out fact
  // file is opened. The flag hashes that post-execution live-file
  // count; the content is the exact join answer.
  def dfpLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 1)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "value_c")
    val tableDir = scratchDir("graft_xdfp")
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (eMin, eMax) = (b.getLong(0), b.getLong(1))
    val cuts = Seq(eMin, eMin + (eMax - eMin) / 4, eMin + (eMax - eMin) / 2,
      eMin + 3 * (eMax - eMin) / 4, eMax + 1)
    (0 until 4).foreach(i => Versioned.append(
      ev.filter(col("event_id") >= cuts(i) && col("event_id") < cuts(i + 1))
        .coalesce(1), tableDir))
    Versioned.writeZoneMaps(s, tableDir, 4L, Seq("event_id"))
    val hi = eMin + (eMax - eMin) / 10 // inside the first quartile
    val dim = ev.filter(col("event_id") <= hi)
      .select(col("event_id").as("d_id"))
    val fact = s.read.format("graft-versioned").load(tableDir)
    val j = fact.join(broadcast(dim), col("event_id") === col("d_id"))
      .select("event_id", "user_id", "value_c")
    val out = j.collect() // runtime filters materialize during execution
    // AQE nests the scan inside query stages (collect doesn't recurse
    // into them); the rendered plan string carries the scan's CURRENT
    // description, whose live-file count the runtime filter mutated
    val planStr = j.queryExecution.executedPlan.toString
    val live = """GraftRuntimeFilterable\(files=(\d+)""".r
      .findFirstMatchIn(planStr).map(_.group(1).toInt)
    val pruned = if (live.exists(_ < 4)) 1L else 0L
    val hits = s.createDataFrame(
      java.util.Arrays.asList(out.map(r => org.apache.spark.sql.Row(
        "content", r.getLong(0), r.getLong(1), r.getLong(2))): _*),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("value_c", org.apache.spark.sql.types.LongType, false))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, pruned, 0L)),
      hits.schema)
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  val dfpLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 1),
      |b AS (SELECT min(event_id) AS lo,
      |             min(event_id) + (max(event_id) - min(event_id)) // 10 AS hi
      |      FROM ev)
      |SELECT kind, event_id, user_id, value_c FROM (
      |  SELECT 'content' AS kind, event_id, user_id, value_c
      |  FROM ev, b WHERE event_id <= b.hi
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, event_id""".stripMargin

  // X — IS NOT NULL file skipping under the oracle gate: two of four
  // slices carry an all-NULL derived column (the post-mergeSchema
  // backfill shape — old files surface a new column as NULL), zone
  // maps record them as all-NULL sentinels, and a bare
  // `WHERE col IS NOT NULL` through the DSv2 path must plan only the
  // value-bearing files. The flag hashes the planned-file decision;
  // content is the exact relational answer (including the IS NULL
  // complement, which must never be skipped).
  def notNullSkipLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 6)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "value_c")
    val tableDir = scratchDir("graft_xnotnull")
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (eMin, eMax) = (b.getLong(0), b.getLong(1))
    val mid = eMin + (eMax - eMin) / 2
    // slices 0-1 (below mid): the derived column is NULL; slices 2-3
    // carry it — mirroring files written before a schema evolution
    val tagged = ev.withColumn("seg",
      when(col("event_id") < mid, lit(null).cast("long"))
        .otherwise(col("value_c")))
    val cuts = Seq(eMin, eMin + (eMax - eMin) / 4, mid,
      eMin + 3 * (eMax - eMin) / 4, eMax + 1)
    (0 until 4).foreach(i => Versioned.append(
      tagged.filter(col("event_id") >= cuts(i) && col("event_id") < cuts(i + 1))
        .coalesce(1), tableDir))
    Versioned.writeZoneMaps(s, tableDir, 4L, Seq("seg"))
    val all = Versioned.filesAt(s, tableDir, 4L).size
    def planned(df: DataFrame): Int =
      """InMemoryFileIndex\((\d+) paths\)""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(all)
    def rd = s.read.format("graft-versioned").load(tableDir)
    val notNull = rd.filter(col("seg").isNotNull)
    val fSkip = if (planned(notNull) == 2 && all == 4) 1L else 0L
    // the complement must stay unskipped (IS NULL is not minable)
    val isNull = rd.filter(col("seg").isNull)
    val fFull = if (planned(isNull) == all) 1L else 0L
    val hits = notNull
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_id"), col("user_id"), col("value_c"))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, fSkip + fFull, isNull.count())),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("value_c", org.apache.spark.sql.types.LongType, false))
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  val notNullSkipLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 6),
      |b AS (SELECT min(event_id) + (max(event_id) - min(event_id)) // 2 AS mid
      |      FROM ev)
      |SELECT kind, event_id, user_id, value_c FROM (
      |  SELECT 'content' AS kind, event_id, user_id, value_c
      |  FROM ev, b WHERE event_id >= b.mid
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(2 AS BIGINT),
      |         (SELECT count(*) FROM ev, b WHERE event_id < b.mid)
      |) ORDER BY kind, event_id""".stripMargin

  // X — per-file row-count stats + metadata-only aggregates (Delta's
  // numRecords/OptimizeMetadataOnlyQuery analog) under the oracle gate:
  // two appends build a versioned table whose unfiltered
  // COUNT(*)/MIN/MAX answer from the LOG alone — the `pushed` flag pins
  // that the executed plan was a LocalTableScan (no data file, not even
  // a footer, opened) — then a MoR delete proves the metadata count
  // subtracts DV cardinality exactly, and a time-travel count resolves
  // at the pinned snapshot. At 10⁶ files this is a handful of log reads
  // versus a million object-store GETs.
  def metaCountLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 16 === 5)
      .select(col("event_id"), col("user_id"))
    val tableDir = scratchDir("graft_xmeta")
    Versioned.append(ev.filter(col("event_id") % 32 === 5), tableDir) // v1
    Versioned.append(ev.filter(col("event_id") % 32 === 21), tableDir) // v2
    Versioned.writeZoneMaps(s, tableDir, 2L, Seq("event_id"))
    val agg = s.read.format("graft-versioned").load(tableDir).agg(
      count(lit(1)).as("n"), min(col("event_id")).as("lo"),
      max(col("event_id")).as("hi"))
    val pushed =
      if (agg.queryExecution.executedPlan.toString.contains("LocalTableScan")) 1L
      else 0L
    val r = agg.head()
    val v3 = Versioned.deleteWhere(s, tableDir,
      col("event_id") % 64 === 21).get
    val afterDelete = Versioned.metaRowCountAt(s, tableDir, v3)
    val atV1 = Versioned.metaRowCountAt(s, tableDir, 1L)
    s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", r.getLong(0), r.getLong(1),
        r.getLong(2), pushed,
        afterDelete.map(Long.box).orNull, atV1.map(Long.box).orNull)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("n", org.apache.spark.sql.types.LongType, false)
        .add("lo", org.apache.spark.sql.types.LongType, false)
        .add("hi", org.apache.spark.sql.types.LongType, false)
        .add("pushed", org.apache.spark.sql.types.LongType, false)
        .add("n_after_delete", org.apache.spark.sql.types.LongType, true)
        .add("n_v1", org.apache.spark.sql.types.LongType, true))
  }

  val metaCountLifecycleSql: String =
    """WITH ev AS (SELECT event_id FROM events WHERE event_id % 16 = 5)
      |SELECT 'meta' AS kind,
      |       (SELECT count(*) FROM ev) AS n,
      |       (SELECT min(event_id) FROM ev) AS lo,
      |       (SELECT max(event_id) FROM ev) AS hi,
      |       CAST(1 AS BIGINT) AS pushed,
      |       (SELECT count(*) FROM ev WHERE event_id % 64 <> 21) AS n_after_delete,
      |       (SELECT count(*) FROM ev WHERE event_id % 32 = 5) AS n_v1""".stripMargin

  val bloomLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 7),
      |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM ev),
      |u AS (
      |  SELECT 'content' AS kind, event_id, user_id, value_c
      |  FROM ev, b WHERE event_id IN (b.lo, b.hi)
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT))
      |SELECT kind, event_id, user_id, value_c FROM u
      |ORDER BY kind, event_id""".stripMargin

  val manifestLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 6),
      |u AS (
      |  SELECT 'content' AS kind, user_id % 8 AS g,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM ev GROUP BY user_id % 8
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT))
      |SELECT kind, g, n, sum_c FROM u ORDER BY kind, g""".stripMargin

  val autoCompactLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 2),
      |u AS (
      |  SELECT 'content' AS kind, user_id % 6 AS g,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM ev GROUP BY user_id % 6
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT))
      |SELECT kind, g, n, sum_c FROM u ORDER BY kind, g""".stripMargin

  val fsckLifecycleSql: String =
    """WITH ev AS (SELECT event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 8 = 5),
      |u AS (
      |  SELECT 'content' AS kind, event_type,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM ev WHERE event_type <> 'view' GROUP BY event_type
      |  UNION ALL
      |  SELECT 'meta', 'repair', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
      |SELECT kind, event_type, n, sum_c FROM u
      |ORDER BY kind, event_type""".stripMargin

  val identityLifecycleSql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 6 = 1),
      |u AS (
      |  SELECT 'content' AS kind, event_type AS k,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS s1,
      |         CAST(0 AS BIGINT) AS s2
      |  FROM ev GROUP BY event_type
      |  UNION ALL
      |  SELECT 'ids', 'all', CAST(count(*) AS BIGINT),
      |         CAST(count(*) * (count(*) + 1) / 2 AS BIGINT),
      |         CAST(count(*) AS BIGINT)
      |  FROM ev)
      |SELECT kind, k, n, s1, s2 FROM u ORDER BY kind, k""".stripMargin

  // X — GENERATED columns under the oracle gate: a versioned table
  // declares `bucket GENERATED ALWAYS AS (user_id % 16)`
  // (graft.generated.* property), then every write shape the engine
  // supports runs WITHOUT supplying the column — an append (computed),
  // a keyed MERGE whose source updates value_c and inserts new rows
  // (regenerated over the merge output), and a predicate UPDATE on a
  // non-dependency (regeneration is a no-op by determinism). The
  // output groups by the GENERATED column: every bucket value the
  // engine computed must equal the oracle's own `user_id % 16`.
  def generatedLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xgen")
    val base = ev.filter(col("event_id") % 7 === 1)
    Versioned.append(
      base.withColumn("bucket", (col("user_id") % 16).cast("long")),
      tableDir)                                                        // v1
    Versioned.setProperties(s, tableDir,
      Map("graft.generated.bucket" -> "user_id % 16"))                 // v2
    // append WITHOUT the column: computed
    Versioned.append(ev.filter(col("event_id") % 7 === 2), tableDir)   // v3
    // merge WITHOUT the column: matched rows take the source's
    // value_c + 5, unmatched insert — bucket regenerates on both
    val src = base.filter(col("user_id") % 3 === 0)
      .withColumn("value_c", col("value_c") + 5)
      .unionByName(ev.filter(col("event_id") % 7 === 4))
    Versioned.merge(s, tableDir, src, Seq("event_id"))                 // v4
    // update a non-dependency: regeneration is a deterministic no-op
    Versioned.updateWhere(s, tableDir, col("event_type") === "click",
      Map("value_c" -> (col("value_c") + 7)))                          // v5
    Versioned.read(s, tableDir)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("bucket")
  }

  val generatedLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |base AS (SELECT * FROM ev WHERE event_id % 7 = 1),
      |merged AS (
      |  SELECT event_id, user_id, event_type,
      |         CASE WHEN user_id % 3 = 0 THEN value_c + 5
      |              ELSE value_c END AS value_c
      |  FROM base
      |  UNION ALL
      |  SELECT * FROM ev WHERE event_id % 7 = 2
      |  UNION ALL
      |  SELECT * FROM ev WHERE event_id % 7 = 4),
      |final AS (
      |  SELECT user_id,
      |         CASE WHEN event_type = 'click' THEN value_c + 7
      |              ELSE value_c END AS value_c
      |  FROM merged)
      |SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM final GROUP BY user_id % 16 ORDER BY bucket""".stripMargin

  // X — OPTIMIZE ... WHERE under the oracle gate: a hive-partitioned
  // lake directory (the pre-migration layout) converts IN PLACE, then
  // the scoped DDL bin-packs exactly ONE partition's small files —
  // asserted at the file level (other partitions' files untouched, the
  // slice rewritten into one engine-layout file) — and the hashed
  // output proves the rewrite preserved every row and its path-derived
  // partition value. This is the 100 TB maintenance shape: you compact
  // the partition you just landed, never the table.
  def optimizeWhereScoped(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 9 === 0)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_type", "event_id", "user_id", "value_c")
    val tableDir = scratchDir("graft_xoptw")
    ev.repartition(4)
      .write.partitionBy("event_type").mode("overwrite").parquet(tableDir)
    Versioned.convert(s, tableDir)                                       // v1
    val before = Versioned.filesAt(s, tableDir, 1L)
    val slice = before.filter(_.startsWith("event_type=click/")).toSet
    val others = before.toSet -- slice
    require(slice.size > 1, "fixture needs a multi-file partition")
    val v = s.sql(s"OPTIMIZE `graft-versioned`.`$tableDir` " +
      "WHERE event_type = 'click'").head().getLong(0)
    require(v == 2L, s"scoped OPTIMIZE did not commit (v=$v)")
    val after = Versioned.filesAt(s, tableDir, 2L).toSet
    require(others.subsetOf(after), "OPTIMIZE WHERE touched other partitions")
    require((after & slice).isEmpty, "the slice's small files must rewrite")
    require((after -- others).size == 1, "the slice must bin-pack to one file")
    Versioned.read(s, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"),
        sum(col("event_id")).as("sum_id"))
      .orderBy("event_type")
  }

  val optimizeWhereScopedSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
      |       CAST(sum(event_id) AS BIGINT) AS sum_id
      |FROM events WHERE event_id % 9 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // X — DEEP CLONE under the oracle gate: fork a versioned table BY
  // COPY (the clone owns its bytes; no pin sidecar at the source),
  // with the source's deletion vectors carried through the copy, then
  // destroy the source — overwrite it (all-new files) and vacuum to
  // one retained version, which sweeps EVERY file the fork copied
  // from. A shallow clone without its pin would be stranded here; the
  // deep clone must keep serving the original DV-filtered snapshot
  // from its own files, plus its own post-fork mutation. The oracle
  // replays both sides relationally.
  def cloneDeep(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 5 === 1)
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val srcDir = scratchDir("graft_xdclone_src")
    val dstDir = scratchDir("graft_xdclone_dst")
    Versioned.append(ev, srcDir)                                    // src v1
    Versioned.deleteWhere(s, srcDir, col("user_id") % 6 === 0)   // src v2 (DVs)
    Versioned.cloneTable(s, srcDir, dstDir, deep = true)            // dst v1 (copied)
    require(Versioned.listPins(s, srcDir).isEmpty,
      "deep clone must not pin the source")
    require(Versioned.filesAt(s, dstDir, 1L).forall(r =>
      !r.startsWith("/") && !r.contains("://")),
      "deep clone must reference its own local copies")
    Versioned.updateWhere(s, dstDir, col("event_type") === "view",
      Map("value_c" -> (col("value_c") + 11)))                      // dst v2
    Versioned.overwrite(
      ev.filter(col("event_type") === "click")
        .withColumn("value_c", col("value_c") + 3), srcDir)         // src v3
    Versioned.vacuum(s, srcDir, keepVersions = 1)  // sweeps every copied-from file
    def side(d: String, tag: String) =
      Versioned.read(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
        .withColumn("side", lit(tag))
        .select("side", "event_type", "n", "sum_c")
    side(srcDir, "source").unionByName(side(dstDir, "clone"))
      .orderBy("side", "event_type")
  }

  val cloneDeepSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events WHERE event_id % 5 = 1),
      |clone_rows AS (
      |  SELECT event_type,
      |         CASE WHEN event_type = 'view' THEN value_c + 11
      |              ELSE value_c END AS value_c
      |  FROM ev WHERE user_id % 6 <> 0),
      |source_rows AS (
      |  SELECT event_type, value_c + 3 AS value_c
      |  FROM ev WHERE event_type = 'click'),
      |u AS (
      |  SELECT 'source' AS side, event_type,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(value_c) AS BIGINT) AS sum_c
      |  FROM source_rows GROUP BY event_type
      |  UNION ALL
      |  SELECT 'clone', event_type,
      |         CAST(count(*) AS BIGINT), CAST(sum(value_c) AS BIGINT)
      |  FROM clone_rows GROUP BY event_type)
      |SELECT side, event_type, n, sum_c FROM u
      |ORDER BY side, event_type""".stripMargin

  // X — REORG TABLE ... APPLY (PURGE) under the oracle gate: the table
  // accumulates BOTH kinds of physical drift Delta's REORG exists to
  // clean — deletion vectors from a MoR delete, and a metadata-only
  // DROP COLUMN whose bytes are still on disk — then the DDL purges
  // it. The physical contract is asserted internally (exactly the
  // drifted files rewritten, post-drop files untouched, no DVs at the
  // head); the hashed output is the logical content, which the purge
  // must NOT change. The oracle replays the lifecycle relationally.
  def reorgPurgeLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "value_c")
    val tableDir = scratchDir("graft_xreorg")
    Versioned.append(ev.filter(col("event_id") % 7 === 0), tableDir)     // v1
    Versioned.deleteWhere(s, tableDir, col("user_id") % 5 === 0)      // v2 (DVs)
    Versioned.dropColumn(s, tableDir, "event_type")                      // v3
    Versioned.append(
      ev.filter(col("event_id") % 7 === 3).drop("event_type"), tableDir) // v4 (clean)
    val drifted = Versioned.filesAt(s, tableDir, 1L).toSet
    val clean = Versioned.filesAt(s, tableDir, 4L).toSet -- drifted
    val v = s.sql(s"REORG TABLE `graft-versioned`.`$tableDir` APPLY (PURGE)")
      .head().getLong(0)
    require(v == 5L && Versioned.opAt(s, tableDir, 5L) == "reorg",
      s"REORG did not commit a purge (v=$v)")
    val after = Versioned.filesAt(s, tableDir, 5L).toSet
    require(clean.subsetOf(after), "REORG rewrote clean post-drop files")
    require((after & drifted).isEmpty, "REORG left drifted files in place")
    require(Versioned.dvsAt(s, tableDir, 5L).isEmpty, "REORG left DVs behind")
    Versioned.read(s, tableDir)
      .groupBy((col("user_id") % 10).cast("long").as("user_mod"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy("user_mod")
  }

  val reorgPurgeLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS value_c
      |            FROM events),
      |rows_kept AS (
      |  SELECT user_id, value_c FROM ev
      |  WHERE event_id % 7 = 0 AND user_id % 5 <> 0
      |  UNION ALL
      |  SELECT user_id, value_c FROM ev WHERE event_id % 7 = 3)
      |SELECT CAST(user_id % 10 AS BIGINT) AS user_mod,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(value_c) AS BIGINT) AS sum_c
      |FROM rows_kept GROUP BY user_id % 10 ORDER BY user_mod""".stripMargin

  // X — storage-partitioned join under the oracle gate: two versioned
  // tables created `PARTITIONED BY (bucket(8, user_id))`, loaded
  // through catalog INSERTs (the bucketed write path tags every file),
  // then joined on the bucket key with V2 bucketing enabled and
  // broadcast disabled. The scan reports KeyGroupedPartitioning, the
  // catalog serves the shared bucket function, and the join must plan
  // with ZERO shuffles — at 100 TB this deletes both sides' shuffle
  // and sort from every co-bucketed fact-fact join. The flags hash the
  // no-shuffle decision AND the bucket-keyed scan's presence in the
  // executed plan; the content is the exact join answer.
  def spjLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 3)
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "v")
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val wh = scratchDir("graft_xspj")
    val cat = s"spjq_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.db")
    s.sql(s"CREATE TABLE $cat.db.a (user_id BIGINT, c BIGINT, sv BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    s.sql(s"CREATE TABLE $cat.db.b (user_id BIGINT, c BIGINT, sv BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    // join key = user_id mod 1000: present in BOTH halves at every
    // scale factor (raw user_ids are range-disjoint across ScaleData's
    // key-shifted replicas, which would empty the join at sf1)
    val keyed = ev.withColumn("uk", pmod(col("user_id"), lit(1000L)))
    keyed.filter(col("event_id") < mid).groupBy("uk")
      .agg(count(lit(1)).as("c"), sum("v").as("sv"))
      .createOrReplaceTempView(s"${cat}_src_a")
    keyed.filter(col("event_id") >= mid).groupBy("uk")
      .agg(count(lit(1)).as("c"), sum("v").as("sv"))
      .createOrReplaceTempView(s"${cat}_src_b")
    s.sql(s"INSERT INTO $cat.db.a SELECT uk AS user_id, c, sv FROM ${cat}_src_a")
    s.sql(s"INSERT INTO $cat.db.b SELECT uk AS user_id, c, sv FROM ${cat}_src_b")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val j = s.sql(s"SELECT a.user_id, a.c + b.c AS cnt, a.sv + b.sv AS total " +
        s"FROM $cat.db.a a JOIN $cat.db.b b ON a.user_id = b.user_id")
      val out = j.collect()
      val plan = j.queryExecution.executedPlan.toString
      val fNoShuffle = if (!plan.contains("Exchange hashpartitioning")) 1L else 0L
      val fScan = if (plan.contains("GraftBucketKeyed")) 1L else 0L
      val hits = s.createDataFrame(
        java.util.Arrays.asList(out.map(r => org.apache.spark.sql.Row(
          "content", r.getLong(0), r.getLong(1), r.getLong(2))): _*),
        new org.apache.spark.sql.types.StructType()
          .add("kind", org.apache.spark.sql.types.StringType, false)
          .add("user_id", org.apache.spark.sql.types.LongType, false)
          .add("cnt", org.apache.spark.sql.types.LongType, false)
          .add("total", org.apache.spark.sql.types.LongType, false))
      val meta = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("meta", -1L, fNoShuffle + fScan, 0L)),
        hits.schema)
      hits.unionByName(meta).orderBy("kind", "user_id")
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      // Don't leak the per-invocation catalog confs / temp views into the
      // shared session: repeated gate/bench runs would accumulate one
      // spjq_<uuid> catalog + two views per call otherwise.
      s.catalog.dropTempView(s"${cat}_src_a")
      s.catalog.dropTempView(s"${cat}_src_b")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  // X — bucket-layout point pruning under the oracle gate: a bucketed
  // versioned table answers `k = v` / `k IN (…)` reads from ONLY the
  // probed buckets' files — data skipping the hash layout gives with
  // no index or sidecar (zones cannot skip on a hash-scattered key).
  // Flags hash the planned-file decisions; content is the exact
  // relational answer.
  def bucketPruneLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 4)
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "v")
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (eMin, eMax) = (b.getLong(0), b.getLong(1))
    val tableDir = scratchDir("graft_xbucketprune")
    Versioned.overwrite(ev.limit(0), tableDir)
    Versioned.setProperties(s, tableDir,
      Map(Versioned.BucketByKey -> "event_id,8"))
    Versioned.overwrite(ev, tableDir)
    def planned(df: DataFrame): Int = {
      df.collect()
      """InMemoryFileIndex\((\d+) paths""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    }
    def flag(ok: Boolean): Long = if (ok) 1L else 0L
    val rd = s.read.format("graft-versioned").load(tableDir)
    val eq = rd.filter(col("event_id") === eMin)
    val fEq = flag(planned(eq) == 1)
    val in = rd.filter(col("event_id").isin(eMin, eMax))
    val fIn = flag(planned(in) <= 2)
    val hits = eq.unionByName(in).distinct()
      .withColumn("kind", lit("content"))
      .select(col("kind"), col("event_id"), col("user_id"), col("v"))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("meta", -1L, fEq + fIn, 0L)),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("event_id", org.apache.spark.sql.types.LongType, false)
        .add("user_id", org.apache.spark.sql.types.LongType, false)
        .add("v", org.apache.spark.sql.types.LongType, false))
    hits.unionByName(meta).orderBy("kind", "event_id")
  }

  val bucketPruneLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS v
      |            FROM events WHERE event_id % 8 = 4),
      |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM ev)
      |SELECT kind, event_id, user_id, v FROM (
      |  SELECT DISTINCT 'content' AS kind, event_id, user_id, v
      |  FROM ev, b WHERE event_id IN (b.lo, b.hi)
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(2 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, event_id""".stripMargin

  // X — ANALYZE FOR COLUMNS → CBO statistics under the oracle gate:
  // a versioned table is column-analyzed (one distributed pass → the
  // colstats sidecar), then read with CBO enabled; the optimizer's
  // per-attribute statistics must materialize from the scan's
  // `columnStats()` report with the served NDV within 10% of exact and
  // the served bounds exact. Flags hash those three decisions; content
  // is the EXACT per-column statistics (count distinct, nulls,
  // min/max), which DuckDB replays relationally.
  def colStatsLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 7)
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "v")
    val tableDir = scratchDir("graft_xcolstats")
    Versioned.overwrite(ev, tableDir)
    Versioned.analyzeColumns(s, tableDir, Seq("event_id", "user_id", "v"))
    val exact = ev.agg(
      countDistinct(col("event_id")).as("d_e"),
      countDistinct(col("user_id")).as("d_u"),
      countDistinct(col("v")).as("d_v"),
      min(col("event_id")).as("min_e"), max(col("event_id")).as("max_e"),
      min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v")).head()
    val prev = s.conf.getOption("spark.sql.cbo.enabled")
    val attrs = try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      val q = s.read.format("graft-versioned").load(tableDir)
        .filter(col("event_id") >= 0)
      q.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.attributeStats
      }.getOrElse(org.apache.spark.sql.catalyst.expressions.AttributeMap(
        Seq.empty[(org.apache.spark.sql.catalyst.expressions.Attribute,
          org.apache.spark.sql.catalyst.plans.logical.ColumnStat)]))
    } finally prev match {
      case Some(x) => s.conf.set("spark.sql.cbo.enabled", x)
      case None => s.conf.unset("spark.sql.cbo.enabled")
    }
    def served(name: String) = attrs.find(_._1.name == name).map(_._2)
    def flag(ok: Boolean): Long = if (ok) 1L else 0L
    val exactD = Map("event_id" -> exact.getLong(0),
      "user_id" -> exact.getLong(1), "v" -> exact.getLong(2))
    val exactB = Map(
      "event_id" -> (exact.getLong(3), exact.getLong(4)),
      "user_id" -> (exact.getLong(5), exact.getLong(6)),
      "v" -> (exact.getLong(7), exact.getLong(8)))
    val fAttrs = flag(Seq("event_id", "user_id", "v").forall(served(_).isDefined))
    val fNdv = flag(exactD.forall { case (c, d) =>
      served(c).flatMap(_.distinctCount).exists(est =>
        (est.toLong - d).abs <= math.max(1L, d / 10L)) })
    val fBounds = flag(exactB.forall { case (c, (lo, hi)) =>
      served(c).exists(st => st.min.contains(lo) && st.max.contains(hi)) })
    // equi-height histogram served through transformV2Stats: the
    // number of bins follows Spark's own knob, and percentiles at 0
    // and 1 are the exact extrema — so the bin span must equal the
    // true bounds. This is what lets a skewed point predicate
    // estimate off bins instead of n/ndv under CBO.
    val numBins = s.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    val fHist = flag(exactB.forall { case (c, (lo, hi)) =>
      served(c).flatMap(_.histogram).exists(h =>
        h.bins.length == numBins &&
          h.bins.head.lo == lo.toDouble && h.bins.last.hi == hi.toDouble &&
          h.height > 0.0) })
    val hits = s.createDataFrame(java.util.Arrays.asList(
      Seq("event_id", "user_id", "v").map(c => org.apache.spark.sql.Row(
        "content", c, exactD(c), exactB(c)._1, exactB(c)._2)): _*),
      new org.apache.spark.sql.types.StructType()
        .add("kind", org.apache.spark.sql.types.StringType, false)
        .add("col_name", org.apache.spark.sql.types.StringType, false)
        .add("n_distinct", org.apache.spark.sql.types.LongType, false)
        .add("min_v", org.apache.spark.sql.types.LongType, false)
        .add("max_v", org.apache.spark.sql.types.LongType, false))
    val meta = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(
        "meta", "flags", fAttrs + fNdv + fBounds + fHist, 0L, 0L)),
      hits.schema)
    hits.unionByName(meta).orderBy("kind", "col_name")
  }

  val colStatsLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS v
      |            FROM events WHERE event_id % 8 = 7)
      |SELECT kind, col_name, n_distinct, min_v, max_v FROM (
      |  SELECT 'content' AS kind, 'event_id' AS col_name,
      |         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
      |         min(event_id) AS min_v, max(event_id) AS max_v FROM ev
      |  UNION ALL
      |  SELECT 'content', 'user_id', CAST(count(DISTINCT user_id) AS BIGINT),
      |         min(user_id), max(user_id) FROM ev
      |  UNION ALL
      |  SELECT 'content', 'v', CAST(count(DISTINCT v) AS BIGINT),
      |         min(v), max(v) FROM ev
      |  UNION ALL
      |  SELECT 'meta', 'flags', CAST(4 AS BIGINT), CAST(0 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, col_name""".stripMargin

  val spjLifecycleSql: String =
    """WITH ev AS (SELECT event_id, user_id,
      |                   CAST(floor(value * 100) AS BIGINT) AS v
      |            FROM events WHERE event_id % 8 = 3),
      |bnd AS (SELECT min(event_id) +
      |               (max(event_id) - min(event_id)) // 2 AS mid FROM ev),
      |a AS (SELECT user_id % 1000 AS user_id, count(*) AS c,
      |             CAST(sum(v) AS BIGINT) AS sv
      |      FROM ev, bnd WHERE event_id < mid GROUP BY user_id % 1000),
      |b AS (SELECT user_id % 1000 AS user_id, count(*) AS c,
      |             CAST(sum(v) AS BIGINT) AS sv
      |      FROM ev, bnd WHERE event_id >= mid GROUP BY user_id % 1000)
      |SELECT kind, user_id, cnt, total FROM (
      |  SELECT 'content' AS kind, a.user_id, a.c + b.c AS cnt,
      |         a.sv + b.sv AS total
      |  FROM a JOIN b ON a.user_id = b.user_id
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(2 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, user_id""".stripMargin

  // X — storage-partitioned join SKEW path under the oracle gate: a
  // co-bucketed join whose big side concentrates ~80% of rows on one
  // hot key runs under Spark's partially-clustered distribution
  // (`spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  // .enabled`) — the big side's splits stay UNGROUPED (duplicate
  // partition values allowed, one task per split) and the small side's
  // matching group is replicated to pair with each, so the hot bucket
  // fans out across tasks instead of serializing the join onto one.
  // Requires the scan to report PER-SPLIT HasPartitionKey partitions
  // (pre-grouping per bucket would leave nothing to split). Flags hash
  // (1) the shuffle-free probe join, (2) the bucket-keyed scan's
  // presence, (3) probe-join parallelism EXCEEDING the bucket count —
  // the skew split itself. Content is the exact join aggregate.
  def spjSkewLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 6)
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .withColumn("uk", expr(
        "CAST(CASE WHEN user_id % 10 < 8 THEN 7 ELSE user_id % 97 END AS BIGINT)"))
      .select("uk", "v")
    val wh = scratchDir("graft_xspjskew")
    val cat = s"spjsk_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.db")
    s.sql(s"CREATE TABLE $cat.db.big (uk BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, uk))")
    s.sql(s"CREATE TABLE $cat.db.small (uk BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, uk))")
    ev.createOrReplaceTempView(s"${cat}_src_big")
    ev.select("uk").distinct()
      .withColumn("w", (col("uk") * 7).cast("long"))
      .createOrReplaceTempView(s"${cat}_src_small")
    // four commits: the hot bucket holds (at least) four files at any
    // scale factor — the material the skew path must fan out over
    (1 to 4).foreach(_ =>
      s.sql(s"INSERT INTO $cat.db.big SELECT uk, v FROM ${cat}_src_big"))
    s.sql(s"INSERT INTO $cat.db.small SELECT uk, w FROM ${cat}_src_small")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // one scan partition per FILE at every scale: an open cost equal
      // to the default partition size stops the per-bucket re-pack
      // from coalescing the hot bucket's files back into one split
      "spark.sql.files.openCostInBytes" -> "134217728")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // probe join (no aggregate): the flags read the JOIN's own plan
      // and parallelism, unpolluted by a downstream exchange
      val probe = s.sql(s"SELECT b.uk, b.v, sm.w FROM $cat.db.big b " +
        s"JOIN $cat.db.small sm ON b.uk = sm.uk")
      val probePlan = probe.queryExecution.executedPlan.toString
      val fNoShuffle = if (!probePlan.contains("Exchange hashpartitioning")) 1L else 0L
      val fScan = if (probePlan.contains("GraftBucketKeyed")) 1L else 0L
      val fSplit =
        if (probe.queryExecution.toRdd.getNumPartitions > 4) 1L else 0L
      val j = s.sql(s"SELECT b.uk AS uk, count(*) AS cnt, " +
        s"CAST(sum(b.v + sm.w) AS BIGINT) AS total " +
        s"FROM $cat.db.big b JOIN $cat.db.small sm ON b.uk = sm.uk " +
        s"GROUP BY b.uk")
      val out = j.collect()
      val hits = s.createDataFrame(
        java.util.Arrays.asList(out.map(r => org.apache.spark.sql.Row(
          "content", r.getLong(0), r.getLong(1), r.getLong(2))): _*),
        new org.apache.spark.sql.types.StructType()
          .add("kind", org.apache.spark.sql.types.StringType, false)
          .add("uk", org.apache.spark.sql.types.LongType, false)
          .add("cnt", org.apache.spark.sql.types.LongType, false)
          .add("total", org.apache.spark.sql.types.LongType, false))
      val meta = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("meta", -1L, fNoShuffle + fScan + fSplit, 0L)),
        hits.schema)
      hits.unionByName(meta).orderBy("kind", "uk")
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.catalog.dropTempView(s"${cat}_src_big")
      s.catalog.dropTempView(s"${cat}_src_small")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  val spjSkewLifecycleSql: String =
    """WITH ev AS (SELECT CAST(CASE WHEN user_id % 10 < 8 THEN 7
      |                          ELSE user_id % 97 END AS BIGINT) AS uk,
      |                   CAST(floor(value * 100) AS BIGINT) AS v
      |            FROM events WHERE event_id % 8 = 6),
      |sm AS (SELECT uk, CAST(uk * 7 AS BIGINT) AS w
      |       FROM (SELECT DISTINCT uk FROM ev)),
      |big AS (SELECT uk, v FROM ev
      |        CROSS JOIN (VALUES (1),(2),(3),(4)) AS r(i))
      |SELECT kind, uk, cnt, total FROM (
      |  SELECT 'content' AS kind, b.uk, count(*) AS cnt,
      |         CAST(sum(b.v + s.w) AS BIGINT) AS total
      |  FROM big b JOIN sm s ON b.uk = s.uk GROUP BY b.uk
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(3 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, uk""".stripMargin

  // X — one-side shuffle SPJ (SPARK-41413) under the oracle gate: a
  // bucketed fact joined to an UNBUCKETED source shuffles ONLY the
  // unbucketed side — by the table's own catalog-served bucket
  // function, evaluated executor-side — while the fact scans in place.
  // At 100 TB this is the fact ⋈ fresh-stage join: the fact's layout
  // is reused, the small stage pays the only exchange. Flags hash
  // (1) the bucket-keyed fact scan's presence, (2) ZERO plain-hash
  // exchanges, (3) EXACTLY ONE bucket-function exchange (the stage
  // side's). Content is the exact join aggregate.
  def spjOneSideLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 8 === 2)
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .withColumn("uk", pmod(col("user_id"), lit(1000L)))
      .select("uk", "v")
    val wh = scratchDir("graft_xspjoneside")
    val cat = s"spjos_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "org.apache.spark.sql.graft.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.db")
    s.sql(s"CREATE TABLE $cat.db.fact (uk BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, uk))")
    ev.createOrReplaceTempView(s"${cat}_src_fact")
    s.sql(s"INSERT INTO $cat.db.fact SELECT uk, v FROM ${cat}_src_fact")
    // the unbucketed stage side: a REAL parquet file scan (a local
    // relation would fold), derived deterministically from the slice
    val stageDir = s"$wh/stage"
    ev.select("uk").distinct()
      .withColumn("w", (col("uk") * 13).cast("long"))
      .write.mode("overwrite").parquet(stageDir)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // probe join (no aggregate): flags read the JOIN's plan alone
      val probe = s.sql(s"SELECT f.uk, f.v, st.w FROM $cat.db.fact f " +
        s"JOIN parquet.`$stageDir` st ON f.uk = st.uk")
      val plan = probe.queryExecution.executedPlan.toString
      val fScan = if (plan.contains("GraftBucketKeyed")) 1L else 0L
      val fNoHash = if (!plan.contains("Exchange hashpartitioning")) 1L else 0L
      val fOneKg =
        if (("Exchange keygroupedpartitioning\\(transformexpression\\(" +
          "GraftBucketBound").r.findAllIn(plan).size == 1) 1L else 0L
      val j = s.sql(s"SELECT f.uk AS uk, count(*) AS cnt, " +
        s"CAST(sum(f.v + st.w) AS BIGINT) AS total " +
        s"FROM $cat.db.fact f JOIN parquet.`$stageDir` st ON f.uk = st.uk " +
        s"GROUP BY f.uk")
      val out = j.collect()
      val hits = s.createDataFrame(
        java.util.Arrays.asList(out.map(r => org.apache.spark.sql.Row(
          "content", r.getLong(0), r.getLong(1), r.getLong(2))): _*),
        new org.apache.spark.sql.types.StructType()
          .add("kind", org.apache.spark.sql.types.StringType, false)
          .add("uk", org.apache.spark.sql.types.LongType, false)
          .add("cnt", org.apache.spark.sql.types.LongType, false)
          .add("total", org.apache.spark.sql.types.LongType, false))
      val meta = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("meta", -1L, fScan + fNoHash + fOneKg, 0L)),
        hits.schema)
      hits.unionByName(meta).orderBy("kind", "uk")
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      s.catalog.dropTempView(s"${cat}_src_fact")
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  val spjOneSideLifecycleSql: String =
    """WITH ev AS (SELECT user_id % 1000 AS uk,
      |                   CAST(floor(value * 100) AS BIGINT) AS v
      |            FROM events WHERE event_id % 8 = 2),
      |st AS (SELECT uk, CAST(uk * 13 AS BIGINT) AS w
      |       FROM (SELECT DISTINCT uk FROM ev))
      |SELECT kind, uk, cnt, total FROM (
      |  SELECT 'content' AS kind, e.uk, count(*) AS cnt,
      |         CAST(sum(e.v + s.w) AS BIGINT) AS total
      |  FROM ev e JOIN st s ON e.uk = s.uk GROUP BY e.uk
      |  UNION ALL
      |  SELECT 'meta', CAST(-1 AS BIGINT), CAST(3 AS BIGINT),
      |         CAST(0 AS BIGINT)
      |) ORDER BY kind, uk""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x_spj", spjLifecycle, Some(spjLifecycleSql)),
    QueryDef("x_spj_skew", spjSkewLifecycle, Some(spjSkewLifecycleSql)),
    QueryDef("x_spj_oneside", spjOneSideLifecycle, Some(spjOneSideLifecycleSql)),
    QueryDef("x_bucket_prune", bucketPruneLifecycle, Some(bucketPruneLifecycleSql)),
    QueryDef("x_colstats", colStatsLifecycle, Some(colStatsLifecycleSql)),
    QueryDef("x_sql_timetravel", sqlTimeTravel, Some(sqlTimeTravelSql)),
    QueryDef("x_sql_catalog", sqlCatalog, Some(sqlCatalogSql)),
    QueryDef("x_sql_dml", sqlDml, Some(sqlDmlSql)),
    QueryDef("x_sql_colmap", sqlColumnMapping, Some(sqlColumnMappingSql)),
    QueryDef("x_batch_cdf", batchCdf, Some(batchCdfSql)),
    QueryDef("x_sql_cdf", sqlCdf, Some(sqlCdfSql)),
    QueryDef("x_batch_cdf_wide", batchCdfWide, Some(batchCdfWideSql)),
    QueryDef("x_clone", cloneFork, Some(cloneForkSql)),
    QueryDef("x_clone_asof", cloneAsOf, Some(cloneAsOfSql)),
    QueryDef("x_clone_deep", cloneDeep, Some(cloneDeepSql)),
    QueryDef("x_reorg", reorgPurgeLifecycle, Some(reorgPurgeLifecycleSql)),
    QueryDef("x_sql_maintenance", sqlMaintenance, Some(sqlMaintenanceSql)),
    QueryDef("x_convert", convertInPlace, Some(convertInPlaceSql)),
    QueryDef("x_convert_hive", convertHive, Some(convertHiveSql)),
    QueryDef("x_copy_into", copyIntoLifecycle, Some(copyIntoLifecycleSql)),
    QueryDef("x_sql_constraints", sqlConstraints, Some(sqlConstraintsSql)),
    QueryDef("x_sql_tblprops", sqlTblProps, Some(sqlTblPropsSql)),
    QueryDef("x_generated", generatedLifecycle, Some(generatedLifecycleSql)),
    QueryDef("x_optimize_where", optimizeWhereScoped, Some(optimizeWhereScopedSql)),
    QueryDef("x_sql_defaults", sqlDefaults, Some(sqlDefaultsSql)),
    QueryDef("x_identity", identityLifecycle, Some(identityLifecycleSql)),
    QueryDef("x_replace_where", replaceWhereBackfill, Some(replaceWhereBackfillSql)),
    QueryDef("x_sql_clusterby", sqlClusterBy, Some(sqlClusterBySql)),
    QueryDef("x_fsck", fsckLifecycle, Some(fsckLifecycleSql)),
    QueryDef("x_autocompact", autoCompactLifecycle, Some(autoCompactLifecycleSql)),
    QueryDef("x_manifest", manifestLifecycle, Some(manifestLifecycleSql)),
    QueryDef("x_bloom", bloomLifecycle, Some(bloomLifecycleSql)),
    QueryDef("x_in_prune", inPruneLifecycle, Some(inPruneLifecycleSql)),
    QueryDef("x_dfp", dfpLifecycle, Some(dfpLifecycleSql)),
    QueryDef("x_notnull_skip", notNullSkipLifecycle, Some(notNullSkipLifecycleSql)),
    QueryDef("x_apply_changes", applyChangesLifecycle, Some(applyChangesLifecycleSql)),
    QueryDef("x_meta_count", metaCountLifecycle, Some(metaCountLifecycleSql)),
    QueryDef("x_zone_strings", strZonesLifecycle, Some(strZonesLifecycleSql)),
    QueryDef("m5_versioned_merge", versionedMerge, Some(versionedMergeSql)),
    QueryDef("m9_condput_merge", versionedMergeCondPut, Some(versionedMergeSql)),
    QueryDef("m10_sql_merge", versionedMergeSqlText, Some(versionedMergeSql)),
    QueryDef("m11_merge_full", versionedMergeFullGrammar,
      Some(versionedMergeFullGrammarSql)),
    QueryDef("m6_incremental_gold", incrementalGold, Some(incrementalGoldSql)),
    QueryDef("m7_optimize_cluster", optimizeCluster, Some(optimizeClusterSql)),
    QueryDef("m12_zorder", optimizeZOrder, Some(optimizeZOrderSql)),
    QueryDef("m13_merge_evolve", mergeEvolve, Some(mergeEvolveSql)),
    QueryDef("x_dedup_versioned", dedupVersioned, Some(dedupVersionedSql)),
    QueryDef("x_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)))
}
