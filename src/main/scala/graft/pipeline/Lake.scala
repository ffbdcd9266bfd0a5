package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Upsert
import graft.streaming.Ingest
import graft.table.{Bucketed, Table, TableRef, Versioned}

/** End-to-end lakehouse orchestration — the reference's nine notebooks
  * (`01_bronze_csv_to_delta.py` … `09_gold_metrics_customers.py`) as one
  * call chain: discover + ingest CSV drops into bronze, cleanse/upsert
  * every entity into silver, rebuild the gold star schema, and register
  * every table as a temp view so `spark.sql` works over the lakehouse
  * (the engine's `display`/notebook-SQL analog, S13).
  */
object Lake {

  /** One gold mart: the silver entities and gold marts it reads, and
    * its build over readers for them (`s` silver, `g` gold). The inputs
    * are the mart's whole dependency declaration: the scheduler starts
    * it once its gold inputs are done, and its versioned watermark sums
    * the heads of the silver entities it reads directly or through its
    * gold inputs. [[plan]] hands the build readers that refuse anything
    * undeclared, so the declaration cannot drift from the build.
    */
  final case class Mart(
      name: String, silverInputs: Seq[String], goldInputs: Seq[String],
      build: (String => DataFrame, String => DataFrame) => DataFrame) {
    def plan(s: String => DataFrame, g: String => DataFrame): DataFrame = {
      def only(kind: String, declared: Seq[String], read: String => DataFrame)(n: String) = {
        require(declared.contains(n), s"gold mart $name reads undeclared $kind input $n")
        read(n)
      }
      build(only("silver", silverInputs, s), only("gold", goldInputs, g))
    }
  }

  /** The star schema (03-09 semantics), gold inputs listed before their
    * dependents. Each mart is a pure function of its inputs apart from
    * its `gold_processed_ts` stamp.
    */
  val Marts: Seq[Mart] = Seq(
    Mart("dim_customers", Seq("customers"), Nil,
      (s, _) => Gold.dimCustomers(s("customers"))),
    Mart("dim_products", Seq("products"), Nil,
      (s, _) => Gold.dimProducts(s("products"))),
    Mart("dim_sellers", Seq("sellers"), Nil,
      (s, _) => Gold.dimSellers(s("sellers"))),
    Mart("dim_geolocation", Seq("geolocation"), Nil,
      (s, _) => Gold.dimGeolocation(s("geolocation"))),
    Mart("fact_orders", Seq("orders", "customers", "order_items"), Nil,
      (s, _) => Gold.factOrders(s("orders"), s("customers"), s("order_items"))),
    Mart("fact_payments", Seq("order_payments", "orders"), Nil,
      (s, _) => Gold.factPayments(s("order_payments"), s("orders"))),
    Mart("fact_reviews", Seq("order_reviews", "orders"), Nil,
      (s, _) => Gold.factReviews(s("order_reviews"), s("orders"))),
    Mart("metrics_revenue", Nil, Seq("fact_orders", "fact_payments", "dim_customers"),
      (_, g) => Gold.metricsRevenue(g("fact_orders"), g("fact_payments"), g("dim_customers"))),
    Mart("metrics_orders", Nil, Seq("fact_orders", "dim_customers"),
      (_, g) => Gold.metricsOrders(g("fact_orders"), g("dim_customers"))),
    Mart("metrics_customers", Nil, Seq("dim_customers", "fact_orders"),
      (_, g) => Gold.metricsCustomers(g("dim_customers"), g("fact_orders"))))

  /** Gold table names in build order (deps before dependents). */
  val GoldTables: Seq[String] = Marts.map(_.name)

  private val martByName: Map[String, Mart] = Marts.map(m => m.name -> m).toMap

  /** The silver entities `m` reads, directly or through its gold inputs. */
  def silverClosure(m: Mart): Seq[String] =
    (m.silverInputs ++ m.goldInputs.flatMap(n => silverClosure(martByName(n)))).distinct

  /** Writer-transaction id of the versioned gold watermark. The earlier
    * tier-wide watermark (the sum of ALL eight silver heads) was
    * committed as `graft-gold`; its numbers exceed any per-mart sum, so
    * reusing that id would skip marts whose inputs moved. Under a fresh
    * id each such mart rebuilds once instead. The same holds for a mart
    * whose declared inputs shrink: its sum drops, so it needs a new id.
    */
  private val GoldAppId = "graft-gold-inputs"

  /** Runs `f` on every item concurrently (order-preserving results),
    * each as soon as the items it runs `after` have finished. Spark
    * sessions are thread-safe and schedule concurrent jobs across the
    * executor pool, so N entity streams/commits that each leave most
    * cores idle overlap instead of serializing — the orchestrator-level
    * parallelism a real deployment runs the reference's per-entity
    * notebooks with. Each flow touches only its own table
    * dirs/checkpoints, so there is no shared mutable state beyond the
    * session.
    *
    * A failing flow must not unwind while sibling commits are still in
    * flight: the call waits for every flow to finish, runs no flow that
    * is `after` a failed one, and then throws the first failed flow's
    * own exception (e.g. the IllegalArgumentException contract of
    * refreshSilver*), not the executor's wrapper.
    */
  private def parEach[A, B](
      items: Seq[A], parallelism: Int = 8, after: A => Seq[A] = (_: A) => Nil)(
      f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      import java.util.concurrent.{CompletableFuture, CompletionException}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try {
        val futures = items.foldLeft(Map.empty[A, CompletableFuture[B]]) { (done, a) =>
          val inputs = after(a).map(d => done.getOrElse(d,
            throw new IllegalArgumentException(s"$a must come after $d, which is not listed before it")))
          done + (a -> CompletableFuture.allOf(inputs: _*)
            .thenApplyAsync[B](_ => f(a), pool))
        }
        val all = items.map(futures)
        CompletableFuture.allOf(all: _*).exceptionally(_ => null).join()
        all.map { fu =>
          try fu.join()
          catch { case e: CompletionException => throw Option(e.getCause).getOrElse(e) }
        }
      } finally pool.shutdown()
    }

  /** Bronze + silver for every discovered table (01 + 02 semantics).
    * Returns the entity names processed.
    *
    * Bronze→silver is INCREMENTAL: each entity's bronze table is tailed
    * as a stream (S5, checkpointed under `roots.checkpoints`), so a
    * refresh cleanses only the bronze files that arrived since the last
    * one — O(new data), not a full bronze recleanse. Silver tables are
    * hash-bucketed (`roots.silverBuckets`) and upserted through the
    * bucket-pruned path: the batch rewrites only the buckets it touches
    * instead of the whole table. Together these are the O(batch)
    * refresh the reference got from Delta's incremental MERGE with
    * file pruning (`02:20-101`).
    */
  def refreshSilver(spark: SparkSession, ingestRoot: String, roots: LakeRoots): Seq[String] = {
    val ingested = Ingest.ingestAll(spark, ingestRoot, roots)
    ingested.foreach { name =>
      val e = Entities.byName(name).get
      if (e.aggregatedGrain) {
        // aggregated-grain silver must stay a pure function of ALL
        // bronze rows (see Entity.aggregatedGrain): full recleanse per
        // refresh. Such tables are dimension-sized (one row per key),
        // so the O(bronze_entity) rescan is the correctness price, not
        // a scale risk — the fact-sized entities below stay incremental.
        Silver.upsertIntoBucketed(spark, roots.silverBucketedRef(e),
          e.cleanse(Table.read(spark, roots.bronzeRef(name))), e.zoneSpec)
      } else {
        Ingest.bronzeToSilverBucketed(spark, roots.bronzeRef(name), e.bronzeStoredSchema,
          roots.silverBucketedRef(e), s"${roots.checkpoints}/${name}_silver", e.cleanse,
          e.zoneSpec)
      }
    }
    ingested
  }

  /** Versioned-silver mode: the same incremental bronze→silver refresh
    * as [[refreshSilver]], but every entity's silver table is a
    * LOG-BACKED versioned table (graft.table.Versioned) and each
    * micro-batch lands as an ACID MERGE commit — so the medallion
    * pipeline itself time-travels (`Versioned.readAt`) and serves CDF
    * (`Versioned.changes`), which the reference gets for free from
    * Delta at every silver write (`02_bronze_to_silver.py:56-62`).
    * Aggregated-grain entities recleanse from full bronze and commit as
    * `overwrite` versions (same correctness rule as refreshSilver);
    * everything else tails bronze with a checkpoint and MERGEs each
    * batch through the log with LWW on `ingestion_ts`. Returns the
    * entity names processed; read the result via
    * `Versioned.read(spark, roots.versionedSilverDir(name))`.
    */
  def refreshSilverVersioned(
      spark: SparkSession, ingestRoot: String, roots: LakeRoots): Seq[String] = {
    val ingested = Ingest.ingestAll(spark, ingestRoot, roots)
    ingested.foreach { name =>
      val e = Entities.byName(name).get
      val dir = roots.versionedSilverDir(name)
      if (e.aggregatedGrain) {
        graft.table.Versioned.overwrite(
          e.cleanse(Table.read(spark, roots.bronzeRef(name))), dir)
      } else {
        val stream = spark.readStream
          .schema(e.bronzeStoredSchema).parquet(roots.bronzeRef(name).dir)
        Ingest.runAvailableNow(stream, s"${roots.checkpoints}/${name}_vsilver") {
          (batch, _) =>
            if (!batch.isEmpty)
              Silver.upsertIntoVersioned(spark, dir, e.cleanse(batch), e.silverKeys)
        }
      }
    }
    ingested
  }

  /** Silver read for gold builds/views — drops the bucket partition
    * column of the bucketed layout (also reads pre-bucketing flat
    * tables unchanged: drop of an absent column is a no-op).
    */
  private def silver(spark: SparkSession, roots: LakeRoots, name: String): DataFrame =
    Table.read(spark, roots.silverRef(name)).drop("bucket")

  /** Zone-pruned range scan over a bucketed silver table: only files
    * whose sidecar [lo, hi] (long domain — timestamps as epoch seconds)
    * intersects the range are opened; the residual predicate still
    * applies. The data-skipping read the reference got from Delta's
    * file stats (SURVEY.md §4) — at 100 TB a one-day window over a
    * years-deep orders table opens ~1/filesPerBucket of each bucket
    * instead of every file.
    */
  def silverWhere(
      spark: SparkSession, roots: LakeRoots, name: String,
      zoneCol: String, lo: Long, hi: Long): DataFrame = {
    val e = Entities.byName(name).getOrElse(
      throw new IllegalArgumentException(s"unknown silver entity: $name"))
    Bucketed.readWhere(spark, roots.silverBucketedRef(e), zoneCol, lo, hi)
  }

  /** Rebuilds every gold dim/fact/metric from silver (03-09 semantics)
    * with atomic overwrites (S7), in dependency order. Fails with a
    * clear message (instead of a parquet path error deep inside a gold
    * build) when silver tables are missing — e.g. a first run over an
    * ingest root with no CSV drops yet.
    */
  def refreshGold(spark: SparkSession, roots: LakeRoots): Unit = {
    val missing = Entities.all.map(_.name)
      .filterNot(n => Table.exists(spark, roots.silverRef(n)))
    require(missing.isEmpty,
      s"cannot build gold: silver tables missing for ${missing.mkString(", ")} — " +
        "run refreshSilver over an ingest root containing their CSV drops first")
    buildGoldMarts(silver(spark, roots, _), name => Table.read(spark, roots.goldRef(name))) {
      (m, plan) => Table.overwriteAtomic(plan(), roots.goldRef(m.name))
    }
  }

  /** The [[Marts]] build, shared by the plain and versioned gold tiers:
    * `s` reads a silver entity, `g` reads an already-written gold mart,
    * `write` persists one mart given its (lazily planned) build. Each
    * mart starts as soon as its gold inputs are written or skipped, so
    * a metric mart never waits for dims it does not read. Each mart is
    * a pure function of its inputs, so scheduling changes wall-clock,
    * never content.
    */
  private def buildGoldMarts(s: String => DataFrame, g: String => DataFrame)(
      write: (Mart, () => DataFrame) => Unit): Unit =
    parEach(Marts, after = (m: Mart) => m.goldInputs.map(martByName)) { m =>
      write(m, () => m.plan(s, g))
    }

  /** The whole pipeline: ingest → silver → gold. */
  def buildAll(spark: SparkSession, ingestRoot: String, roots: LakeRoots): Seq[String] = {
    val entities = refreshSilver(spark, ingestRoot, roots)
    refreshGold(spark, roots)
    entities
  }

  /** Versioned-bronze mode: every discovered table's CSV drops stream
    * into a LOG-BACKED bronze table through the exactly-once sink
    * (`Ingest.sinkVersionedExactlyOnce`) — each micro-batch is one ACID
    * append commit watermarked by (appId, batchId) in the table's own
    * log, so a replayed batch (retried epoch, or a full re-run after
    * the CHECKPOINT is wiped) is refused at the log and never
    * duplicates rows. This is the reference's bronze tier exactly
    * (`01_bronze_csv_to_delta.py:49-56`: Delta append under the
    * transaction log), where [[refreshSilver]]'s plain-parquet bronze
    * needed the seen-files manifest to approximate it.
    */
  def refreshBronzeVersioned(
      spark: SparkSession, ingestRoot: String, roots: LakeRoots): Seq[String] = {
    val known = Ingest.discoverTables(spark, ingestRoot)
      .flatMap(n => Entities.byName(n).map(n -> _))
    parEach(known) { case (name, e) =>
      Ingest.sinkVersionedExactlyOnce(
        Ingest.csvStream(spark, s"$ingestRoot/$name", e.bronzeSchema),
        roots.versionedBronzeDir(name), s"graft-bronze-$name",
        s"${roots.checkpoints}/${name}_vbronze")
      name
    }
  }

  /** CDF-driven bronze→silver propagation over versioned tiers: the
    * SILVER table's log carries, per entity, the highest bronze version
    * already reflected (writer transaction `graft-silver-<name>`), and
    * a refresh MERGEs only `Versioned.addedSince(lastApplied, head)` —
    * the log's add-actions read as data, O(new bronze) however big the
    * table (bronze is append-only by construction, which is exactly
    * `addedSince`'s contract). The watermark and the merged rows land
    * in ONE commit ([[graft.table.Versioned.mergeIdempotent]]), so a
    * refresh that crashes mid-way either left no trace or is a no-op on
    * replay — never a half-applied batch. No streaming checkpoint is
    * involved: the logs themselves are the progress tracking, the
    * second half of what Delta's `txnVersion` gave the reference.
    *
    * Aggregated-grain entities recleanse from full bronze (same
    * correctness rule as [[refreshSilver]]) as idempotent overwrite
    * commits. Non-append bronze windows are classified by
    * [[graft.table.Versioned.windowShape]]: a row-PRESERVING window
    * (optimize/compact landed) takes a full recleanse lww-merge — no
    * row changed, so insert/update reconciles exactly; a row-MUTATING
    * window (delete/update/merge/restore on bronze) or a watermark
    * vacuumed past inspectability REPLACES silver with
    * cleanse(bronze@head) in one overwrite commit, because a merge can
    * never propagate removals — a bronze GDPR delete reaches silver,
    * loud in the log (`overwrite` op), never silently divergent.
    * Returns the entities whose silver actually advanced.
    */
  def refreshSilverFromVersionedBronze(
      spark: SparkSession, roots: LakeRoots, names: Seq[String]): Seq[String] =
    parEach(names)(name => name -> refreshOneSilverFromBronze(spark, roots, name))
      .collect { case (name, true) => name }

  private def refreshOneSilverFromBronze(
      spark: SparkSession, roots: LakeRoots, name: String): Boolean = {
      val e = Entities.byName(name).getOrElse(
        throw new IllegalArgumentException(s"unknown entity: $name"))
      val bronzeDir = roots.versionedBronzeDir(name)
      val silverDir = roots.versionedSilverDir(name)
      val appId = s"graft-silver-$name"
      val lww = Upsert.scol("ingestion_ts") > Upsert.tcol("ingestion_ts")
      Versioned.currentVersion(spark, bronzeDir) match {
        case None => false
        case Some(bv) =>
          val applied = Versioned.lastTxnVersion(spark, silverDir, appId)
          if (applied.exists(_ >= bv)) false
          else {
            // each branch yields the idempotent commit's Option: None
            // means a concurrent refresher already advanced this
            // watermark, and the entity must NOT be reported as
            // advanced by THIS call
            val committed: Option[Long] =
            if (e.aggregatedGrain)
              // pinned to bv, not head: the recorded watermark must
              // name the bronze version the content came from, or a
              // crash-replay at the same watermark reproduces
              // DIFFERENT content (a concurrent ingest could land
              // between the watermark read and this scan)
              Versioned.overwriteIdempotent(
                e.cleanse(Versioned.readAt(spark, bronzeDir, bv)), silverDir, appId, bv)
            else {
              // one op scan classifies the bronze window; None when the
              // watermark predates retention (vacuumed) or was never set
              val shape = applied
                .filter(Versioned.versions(spark, bronzeDir).contains)
                .map(a => a -> Versioned.windowShape(spark, bronzeDir, a, bv))
              // both fallback arms reconcile from the same full
              // recleanse of bronze@bv — one derivation so the paths
              // can't drift (lazy: the fast path never resolves it)
              lazy val cleansed = e.cleanse(Versioned.readAt(spark, bronzeDir, bv))
              shape match {
                case Some((a, Versioned.WindowShape.AppendOnly)) =>
                  // fast path: the window's add-actions ARE the new rows
                  // (already validated by the shape probe — no re-scan)
                  Versioned.mergeIdempotent(spark, silverDir,
                    e.cleanse(Versioned.addedSinceValidated(spark, bronzeDir, a, bv)),
                    e.silverKeys, appId, bv, updateWhen = lww)
                case Some((_, Versioned.WindowShape.RowPreserving)) =>
                  // optimize/compact landed: add-actions would misreport
                  // carried rows as inserts, but no row changed — the
                  // full recleanse lww-merge reconciles content exactly
                  Versioned.mergeIdempotent(spark, silverDir, cleansed,
                    e.silverKeys, appId, bv, updateWhen = lww)
                case _ =>
                  // row-MUTATING window (delete/update/merge/restore on
                  // bronze), a watermark vacuumed past inspectability, or
                  // the very first refresh: an insert/update merge can
                  // never propagate removals, so silver is REPLACED with
                  // cleanse(bronze@bv) — the definition of silver content
                  // — in one commit. A bronze GDPR delete reaches silver
                  // here, and the silver log records a visible
                  // `overwrite` op instead of silently diverging.
                  if (Versioned.currentVersion(spark, silverDir).isEmpty)
                    Versioned.appendIdempotent(cleansed, silverDir, appId, bv)
                  else
                    Versioned.overwriteIdempotent(cleansed, silverDir, appId, bv)
              }
            }
            committed.nonEmpty
          }
      }
    }

  /** Bronze→silver through the STREAMING ENGINE itself: tails each
    * entity's versioned bronze with the log-driven source
    * (`format("graft-versioned")`, offsets = log versions) and applies
    * cleanse + LWW MERGE per micro-batch under `foreachBatch` — the
    * reference's silver sites verbatim (`02_bronze_to_silver.py:20-24`
    * is `readStream.format("delta")` → foreachBatch MERGE). Exactly
    * -once twice over: the stream checkpoint makes each commit range
    * enter one micro-batch, and the (appId, batchId) txn watermark in
    * the SILVER log refuses replayed batches after a driver crash
    * between sink write and checkpoint advance.
    *
    * Contract vs [[refreshSilverFromVersionedBronze]] (the batch-wise
    * CDF propagation): this path is the streaming-engine shape for
    * APPEND-ONLY bronze — a row-mutating bronze commit stops the
    * stream loudly (the source's contract) and the batch-wise refresh
    * is the recovery tool that classifies the window and replaces
    * silver. Aggregated-grain entities recleanse from full bronze as
    * idempotent overwrites (same correctness rule as every silver
    * path). Returns the entities whose stream drained.
    */
  def refreshSilverStreamingVersioned(
      spark: SparkSession, roots: LakeRoots, names: Seq[String]): Seq[String] =
    parEach(names)(name => name -> refreshOneSilverStreaming(spark, roots, name))
      .collect { case (name, true) => name }

  private def refreshOneSilverStreaming(
      spark: SparkSession, roots: LakeRoots, name: String): Boolean = {
      val e = Entities.byName(name).getOrElse(
        throw new IllegalArgumentException(s"unknown entity: $name"))
      val bronzeDir = roots.versionedBronzeDir(name)
      val silverDir = roots.versionedSilverDir(name)
      Versioned.currentVersion(spark, bronzeDir) match {
        case None => false
        case Some(bv) if e.aggregatedGrain =>
          // aggregated grain cannot cleanse per-batch (see Entity
          // .aggregatedGrain) — full recleanse pinned to the head read
          val appId = s"graft-silver-stream-$name"
          Versioned.overwriteIdempotent(
            e.cleanse(Versioned.readAt(spark, bronzeDir, bv)), silverDir, appId, bv)
          true
        case Some(_) =>
          val appId = s"graft-silver-stream-$name"
          val lww = Upsert.scol("ingestion_ts") > Upsert.tcol("ingestion_ts")
          Ingest.runAvailableNow(
            Ingest.versionedStream(spark, bronzeDir),
            s"${roots.checkpoints}/${name}_vsilver_stream") { (batch, batchId) =>
            if (!batch.isEmpty) {
              val cleansed = e.cleanse(batch)
              if (Versioned.currentVersion(spark, silverDir).isEmpty)
                Versioned.appendIdempotent(cleansed, silverDir, appId, batchId)
              else
                Versioned.mergeIdempotent(spark, silverDir, cleansed,
                  e.silverKeys, appId, batchId, updateWhen = lww)
              ()
            }
          }
          true
      }
    }

  /** Versioned gold: each mart rebuilt from the VERSIONED silver tier
    * and committed as an idempotent overwrite into a log-backed table —
    * gold time-travels and serves `history()`/`detail()`. The reference
    * overwrites every mart on every run (`07_gold_metrics_revenue.py:72-78`);
    * here a mart rebuilds only when its inputs moved. Its watermark is
    * the SUM of the head versions of the silver entities it reads,
    * directly or through its gold inputs ([[silverClosure]]): heads only
    * grow, so the sum rises whenever any input advances. A mart whose
    * log already holds its watermark is skipped before its plan is
    * built and keeps its previous commit, `gold_processed_ts` included —
    * a refresh that touches only orders leaves the product, seller and
    * geolocation dims at their old versions, and a refresh over
    * unchanged silver costs log reads only.
    *
    * The metric marts all hinge on `count_distinct`, which is NOT
    * self-inverting and therefore does not qualify for
    * [[IncrementalAgg]]'s O(changes) maintenance (its contract:
    * count/sum only); they rebuild from their gold inputs' heads. The
    * qualifying shape — count/sum gold maintained from
    * `Versioned.changes` — is what `m6_incremental_gold` runs under the
    * oracle gate.
    */
  def refreshGoldVersioned(spark: SparkSession, roots: LakeRoots): Unit = {
    // one head read per silver log: the missing-check and the
    // watermarks all derive from the same listing, so they can't
    // disagree under a concurrent silver commit
    val heads = Entities.all.map(e =>
      e.name -> Versioned.currentVersion(spark, roots.versionedSilverDir(e.name)))
    val missing = heads.collect { case (n, None) => n }
    require(missing.isEmpty,
      s"cannot build versioned gold: versioned silver missing for " +
        s"${missing.mkString(", ")} — run refreshSilverFromVersionedBronze (or " +
        "refreshSilverVersioned) first")
    // read each silver AT the captured head, not at whatever the head
    // is by the time its mart builds: a concurrent silver commit
    // mid-refresh would otherwise commit content newer than the
    // watermark that names it — readAt pins every mart to exactly the
    // snapshot set its watermark sums
    val headAt = heads.map { case (n, v) => n -> v.get }.toMap
    buildGoldMarts(
      name => Versioned.readAt(spark, roots.versionedSilverDir(name), headAt(name)),
      name => Versioned.read(spark, roots.versionedGoldDir(name))) { (m, plan) =>
      val dir = roots.versionedGoldDir(m.name)
      val watermark = silverClosure(m).map(headAt).sum
      if (!Versioned.lastTxnVersion(spark, dir, GoldAppId).exists(_ >= watermark))
        Versioned.overwriteIdempotent(plan(), dir, GoldAppId, watermark)
    }
  }

  /** The whole pipeline with EVERY tier under a transaction log:
    * bronze ingest commits are exactly-once, silver follows bronze via
    * its add-actions, each gold mart follows the watermark of its own
    * silver inputs — the full medallion time-travels and a crash-replay
    * at any tier is a no-op. This is the complete ACID story the
    * reference gets implicitly from running every notebook against Delta.
    */
  def buildAllVersioned(
      spark: SparkSession, ingestRoot: String, roots: LakeRoots): Seq[String] = {
    val entities = refreshBronzeVersioned(spark, ingestRoot, roots)
    refreshSilverFromVersionedBronze(spark, roots, entities)
    refreshGoldVersioned(spark, roots)
    entities
  }

  /** Registers every existing silver + gold table as `silver_<name>` /
    * `gold_<name>` temp views, enabling plain `spark.sql` over the
    * lakehouse. Returns the registered view names.
    *
    * A plain-parquet table wins when both exist. A path-based DataFrame
    * snapshots its file listing when created, so its views must be
    * RE-REGISTERED after a refreshSilver/refreshGold — the atomic
    * overwrite replaces the underlying files (a plain-parquet engine
    * re-resolves by re-registering, which is what
    * `createOrReplaceTempView` does idempotently). A table that exists
    * only in its versioned layout ([[buildAllVersioned]]) is registered
    * as a SQL view over `graft-versioned`.`<dir>`, which resolves the
    * log head each time a query reads it, like Delta's live table
    * names; it needs the session's `graft.GraftExtensions`.
    */
  def registerViews(spark: SparkSession, roots: LakeRoots): Seq[String] = {
    def register(view: String, plain: TableRef, read: => DataFrame, versionedDir: String)
        : Option[String] =
      if (Table.exists(spark, plain)) {
        read.createOrReplaceTempView(view)
        Some(view)
      } else if (Versioned.currentVersion(spark, versionedDir).nonEmpty) {
        spark.sql(s"CREATE OR REPLACE TEMP VIEW $view AS " +
          s"SELECT * FROM `graft-versioned`.`$versionedDir`")
        Some(view)
      } else None
    val silverViews = Entities.all.map(_.name).flatMap(n => register(s"silver_$n",
      roots.silverRef(n), silver(spark, roots, n), roots.versionedSilverDir(n)))
    val goldViews = GoldTables.flatMap(n => register(s"gold_$n",
      roots.goldRef(n), Table.read(spark, roots.goldRef(n)), roots.versionedGoldDir(n)))
    silverViews ++ goldViews
  }
}
