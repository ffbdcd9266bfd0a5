package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Lake, LakeRoots}
import graft.streaming.Ingest
import graft.table.{Table, TableRef}

/** Lake orchestration: the whole reference pipeline (discover → ingest →
  * silver → gold) as one call, plus the SQL surface over the result and
  * the manifest repair path.
  */
class LakeSpec extends SparkSpec {

  /** Drop 2 over [[OlistFixtures]]: a new delivered order o5 and its
    * 60.00 payment — only the orders and order_payments entities move.
    */
  private def deliverOrderFive(root: String): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/orders/c_third.csv"),
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date\n" +
        "o5,c2,delivered,2017-01-05 08:00:00,2017-01-05 09:00:00," +
        "2017-01-06 08:00:00,2017-01-08 08:00:00,2017-01-12 00:00:00")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/order_payments/c_third.csv"),
      "order_id,payment_sequential,payment_type,payment_installments,payment_value\n" +
        "o5,1,credit_card,1,60.00")
  }

  private def lakeRoots(root: String): LakeRoots = LakeRoots(
    s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")

  private def goldHeads(roots: LakeRoots): Map[String, Long] =
    Lake.GoldTables.map(g => g ->
      graft.table.Versioned.currentVersion(spark, roots.versionedGoldDir(g)).get).toMap

  /** A mart's rows without the load-time stamps (processing timestamps
    * and the root-dependent source path, cut to its file name), so two
    * lakes built at different times from the same drops compare equal.
    */
  private def contentOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stamps = Set("gold_processed_ts", "silver_processed_ts", "orders_silver_ts", "ingestion_ts")
    val kept = df.drop(df.columns.filter(stamps): _*)
    if (kept.columns.contains("source_file"))
      kept.withColumn("source_file", element_at(split(col("source_file"), "/"), -1))
    else kept
  }

  /** The marts that read orders or payments: exactly the ones a refresh
    * after [[deliverOrderFive]] must advance.
    */
  private val OrdersDropMoves = Set(
    "fact_orders", "fact_payments", "fact_reviews",
    "metrics_revenue", "metrics_orders", "metrics_customers")

  test("buildAll runs ingest -> silver -> gold and registers SQL views") {
    val root = tmpDir("lake")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")

    val entities = Lake.buildAll(spark, s"$root/ingest", roots)
    assert(entities.toSet == Set(
      "customers", "geolocation", "order_items", "order_payments",
      "order_reviews", "orders", "products", "sellers"))

    Lake.GoldTables.foreach { g =>
      assert(Table.exists(spark, roots.goldRef(g)), s"gold table $g missing")
      assert(Table.read(spark, roots.goldRef(g)).count() > 0, s"gold table $g empty")
    }

    val views = Lake.registerViews(spark, roots)
    assert(views.size == 8 + Lake.GoldTables.size)
    // the notebook-SQL surface: plain spark.sql over the lakehouse
    val rev = spark.sql(
      "SELECT sum(total_revenue) FROM gold_metrics_revenue").head.getDouble(0)
    assert(rev == 390.0) // 170 (o1) + 220 (o2), per MedallionSpec's hand math
    val nCust = spark.sql(
      "SELECT count(*) FROM silver_customers").head.getLong(0)
    assert(nCust == 2)

    // idempotence: a second full build over the same drops changes
    // nothing (views re-registered — path views snapshot file listings)
    Lake.buildAll(spark, s"$root/ingest", roots)
    Lake.registerViews(spark, roots)
    assert(spark.sql("SELECT sum(total_revenue) FROM gold_metrics_revenue")
      .head.getDouble(0) == 390.0)
  }

  test("incremental refresh rewrites only the silver buckets the new drop touches") {
    val root = tmpDir("lakeincr")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.buildAll(spark, s"$root/ingest", roots)

    def fileState(dir: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val d = new java.io.File(dir)
      if (!d.exists()) Map.empty
      else walk(d).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val custDir = roots.silverRef("customers").dir
    val before = (0 until roots.silverBuckets)
      .map(b => b -> fileState(s"$custDir/bucket=$b")).toMap

    // a new drop containing ONE new customer
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/customers/c_third.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c9,u9,50000,curitiba,pr")
    Lake.refreshSilver(spark, s"$root/ingest", roots)

    import spark.implicits._
    val e = graft.pipeline.Entities.customers
    val b9 = Seq("c9").toDF("customer_id")
      .select(roots.silverBucketedRef(e).bucketCol.as("b")).head.getInt(0)
    (0 until roots.silverBuckets).filterNot(_ == b9).foreach { b =>
      assert(fileState(s"$custDir/bucket=$b") == before(b),
        s"bucket $b rewritten by a batch that only touches bucket $b9")
    }
    assert(fileState(s"$custDir/bucket=$b9") != before(b9), "target bucket not written")
    val cust = graft.table.Bucketed.read(spark,
      roots.silverBucketedRef(e))
    assert(cust.count() == 3)
    assert(cust.filter(col("customer_id") === "c9").head
      .getAs[String]("customer_city") == "CURITIBA")
  }

  test("aggregated-grain silver re-aggregates over ALL bronze rows on incremental refresh") {
    val root = tmpDir("lakegeo")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.refreshSilver(spark, s"$root/ingest", roots)

    // a later drop adds ONE more reading for the existing zip 01310:
    // the silver average must cover all four readings (old + new), not
    // be replaced by a single-batch aggregate of the new row alone
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/geolocation/b_second.csv"),
      "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state\n" +
        "01310,-23.59,-46.60,sao paulo,sp")
    Lake.refreshSilver(spark, s"$root/ingest", roots)

    val z = graft.table.Bucketed.read(spark,
        roots.silverBucketedRef(graft.pipeline.Entities.geolocation))
      .filter(col("zip_code_prefix") === "01310").head
    assert(math.abs(z.getAs[Double]("latitude") - (-23.5675)) < 1e-9,
      s"expected the 4-reading average -23.5675, got ${z.getAs[Double]("latitude")}")
  }

  test("silver range scans prune files through the zone sidecar end to end") {
    val root = tmpDir("lakezones")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.refreshSilver(spark, s"$root/ingest", roots)

    // the orders entity declares zone columns, so its bucketed silver
    // carries the sidecar from its very first write
    val ordersDir = roots.silverRef("orders").dir
    assert(new java.io.File(s"$ordersDir/_graft_zones.json").isFile,
      "silver orders must publish a zone sidecar")

    // a purchase-time window covering only o1 (2017-01-01T08:00:00Z);
    // o2 purchased a day later must be filtered AND its files prunable
    val ref = roots.silverBucketedRef(graft.pipeline.Entities.orders)
    val lo = java.time.Instant.parse("2017-01-01T00:00:00Z").getEpochSecond
    val hi = java.time.Instant.parse("2017-01-01T23:59:59Z").getEpochSecond
    val got = Lake.silverWhere(spark, roots, "orders",
        "order_purchase_timestamp", lo, hi)
      .select("order_id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("o1"), s"expected exactly o1 in the window, got $got")

    // data skipping is real: when the two orders land in different
    // files, the window's file subset is strictly smaller than the table
    val all = graft.table.Bucketed.prunedFiles(
      spark, ref, "order_purchase_timestamp", Long.MinValue, Long.MaxValue)
    val pruned = graft.table.Bucketed.prunedFiles(
      spark, ref, "order_purchase_timestamp", lo, hi)
    assert(pruned.size < all.size || all.size == 1,
      s"window scan must prune files: kept ${pruned.size}/${all.size}")

    // an entity WITHOUT zone columns reads fine through silverWhere's
    // fallback (no sidecar -> every file kept, residual filter applies)
    val cust = Lake.silverWhere(spark, roots, "customers",
      "silver_processed_ts", 0L, Long.MaxValue)
    assert(cust.count() == 2)
  }

  test("versioned silver: refreshes land as ACID versions and CDF equals the new drop") {
    val root = tmpDir("lakever")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.refreshSilverVersioned(spark, s"$root/ingest", roots)

    val custDir = roots.versionedSilverDir("customers")
    val v1 = graft.table.Versioned.currentVersion(spark, custDir).get
    assert(graft.table.Versioned.read(spark, custDir).count() == 2)

    // a second drop with ONE new customer
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/customers/c_third.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c9,u9,50000,curitiba,pr")
    Lake.refreshSilverVersioned(spark, s"$root/ingest", roots)
    val v2 = graft.table.Versioned.currentVersion(spark, custDir).get
    assert(v2 > v1, "the second refresh must land as a new version")

    // head serves all three; the pre-drop state still time-travels
    assert(graft.table.Versioned.read(spark, custDir).count() == 3)
    assert(graft.table.Versioned.readAt(spark, custDir, v1).count() == 2)

    // CDF between the two refreshes is exactly the second drop's
    // cleansed rows — the Delta change-feed contract over silver
    val ch = graft.table.Versioned.changes(spark, custDir, v1, v2)
      .select("customer_id", "customer_city", "_change_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(ch == Seq(("c9", "CURITIBA", "insert")),
      s"CDF must be the new drop's cleansed rows alone, got $ch")

    // aggregated-grain entities commit a full-recleanse version per
    // refresh (same correctness rule as the bucketed path)
    val geoDir = roots.versionedSilverDir("geolocation")
    assert(graft.table.Versioned.versions(spark, geoDir).size == 2)
    assert(graft.table.Versioned.read(spark, geoDir).count() > 0)
  }

  test("buildAllVersioned: every tier ACID, crash-replay exactly-once, gold time-travels") {
    import graft.table.Versioned
    import spark.implicits._
    val root = tmpDir("lakeacid")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")

    val entities = Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    assert(entities.size == 8)
    def revenue(): Double = Versioned
      .read(spark, roots.versionedGoldDir("metrics_revenue"))
      .agg(sum("total_revenue")).head.getDouble(0)
    Lake.GoldTables.foreach { g =>
      val d = roots.versionedGoldDir(g)
      assert(Versioned.currentVersion(spark, d).contains(1L), s"gold $g not at v1")
      assert(Versioned.read(spark, d).count() > 0, s"gold $g empty")
    }
    assert(revenue() == 390.0) // MedallionSpec's hand math

    // drop 2: a new delivered order + its payment (intact checkpoints —
    // the normal incremental run)
    deliverOrderFive(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)

    val goldDir = roots.versionedGoldDir("metrics_revenue")
    assert(Versioned.currentVersion(spark, goldDir).contains(2L),
      "the refresh over changed silver must land as gold v2")
    assert(revenue() == 450.0)
    // gold TIME-TRAVELS: the pre-drop mart is still a consistent read
    assert(Versioned.readAt(spark, goldDir, 1L)
      .agg(sum("total_revenue")).head.getDouble(0) == 390.0)
    // and introspects: history shows both refresh commits, detail the head
    val hist = Versioned.history(spark, goldDir)
      .select("version", "op").as[(Long, String)].collect().toSeq
    assert(hist == Seq((1L, "overwrite"), (2L, "overwrite")), s"got $hist")
    assert(Versioned.detail(spark, goldDir).select("version").head.getLong(0) == 2L)
    // bronze → silver propagation was O(new data): the orders silver
    // advanced by ONE merge commit driven by bronze's add-actions
    val ordersSilver = roots.versionedSilverDir("orders")
    assert(Versioned.opAt(spark, ordersSilver,
      Versioned.currentVersion(spark, ordersSilver).get) == "merge")

    // crash replay: wipe EVERY checkpoint and rebuild — batchIds restart
    // at 0, the bronze logs' txn watermarks refuse them, silver/gold
    // watermarks are already current: NO tier moves, data unchanged
    def heads(): Map[String, Long] =
      (entities.map(n => s"bronze/$n" ->
        Versioned.currentVersion(spark, roots.versionedBronzeDir(n)).get) ++
        entities.map(n => s"silver/$n" ->
          Versioned.currentVersion(spark, roots.versionedSilverDir(n)).get) ++
        Lake.GoldTables.map(g => s"gold/$g" ->
          Versioned.currentVersion(spark, roots.versionedGoldDir(g)).get)).toMap
    val before = heads()
    val _ = new scala.reflect.io.Directory(
      new java.io.File(roots.checkpoints)).deleteRecursively()
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    assert(heads() == before,
      "a checkpoint-wiped replay must be refused at every tier's log")
    assert(revenue() == 450.0)
    assert(Versioned.read(spark, roots.versionedBronzeDir("orders")).count() == 5,
      "replayed bronze batches must not duplicate rows")
  }

  test("versioned gold rebuilds only the marts whose silver inputs moved") {
    import graft.table.Versioned
    val root = tmpDir("lakeskip")
    OlistFixtures.write(root)
    val roots = lakeRoots(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val before = goldHeads(roots)
    def productsStamp(): Any = Versioned.read(spark, roots.versionedGoldDir("dim_products"))
      .agg(max("gold_processed_ts")).head.get(0)
    val stampBefore = productsStamp()

    deliverOrderFive(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val after = goldHeads(roots)
    Lake.GoldTables.foreach { g =>
      val expected = before(g) + (if (OrdersDropMoves(g)) 1 else 0)
      assert(after(g) == expected, s"gold $g at v${after(g)}, expected v$expected")
    }
    // a skipped mart keeps its commit, processing stamp included
    assert(productsStamp() == stampBefore)

    // every mart, skipped or rebuilt, equals a from-scratch lake over the
    // same two drops
    val fresh = tmpDir("lakeskipfresh")
    OlistFixtures.write(fresh)
    deliverOrderFive(fresh)
    val freshRoots = lakeRoots(fresh)
    Lake.buildAllVersioned(spark, s"$fresh/ingest", freshRoots)
    Lake.GoldTables.foreach { g =>
      val got = contentOf(Versioned.read(spark, roots.versionedGoldDir(g)))
      val want = contentOf(Versioned.read(spark, freshRoots.versionedGoldDir(g)))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"gold $g differs from a from-scratch build")
    }
  }

  test("a re-delivery drop merges into silver orders on read: base file kept, only new rows written") {
    import graft.table.Versioned
    val root = tmpDir("lakemor")
    OlistFixtures.write(root)
    val roots = lakeRoots(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val ordersDir = roots.versionedSilverDir("orders")
    val prev = Versioned.currentVersion(spark, ordersDir).get
    deliverOrderFive(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val now = Versioned.currentVersion(spark, ordersDir).get
    assert(Versioned.opAt(spark, ordersDir, now) == "merge")
    val (before, after) = (Versioned.readAt(spark, ordersDir, prev), Versioned.readAt(spark, ordersDir, now))
    // the base file stays; ONE fresh file holds exactly the changed and new rows
    val prevFiles = Versioned.filesAt(spark, ordersDir, prev)
    val added = Versioned.filesAt(spark, ordersDir, now).filterNot(prevFiles.toSet)
    assert(prevFiles.forall(Versioned.filesAt(spark, ordersDir, now).contains))
    assert(added.size == 1, s"added $added")
    val addedRows = spark.read.schema(after.schema)
      .parquet(added.map(Versioned.dataPathStr(ordersDir, _)): _*)
    val moved = after.exceptAll(before)
    assert(addedRows.exceptAll(moved).count() == 0 && moved.exceptAll(addedRows).count() == 0)
    assert(moved.select("order_id").collect().map(_.getString(0)).toSeq == Seq("o5"))
    // the change feed applied to the previous drop yields the new drop
    val feed = Versioned.changesWithType(spark, ordersDir, prev, now)
    def typed(ts: String*) = feed.filter(col("_change_type").isin(ts: _*))
      .drop("_change_type", "_commit_version")
    val applied = before.exceptAll(typed("delete", "update_preimage"))
      .unionByName(typed("insert", "update_postimage"))
    assert(applied.exceptAll(after).count() == 0 && after.exceptAll(applied).count() == 0,
      "silver orders' change feed does not replay the drop")
    // every mart equals a from-scratch build over the same two drops
    val fresh = tmpDir("lakemorfresh")
    OlistFixtures.write(fresh)
    deliverOrderFive(fresh)
    val freshRoots = lakeRoots(fresh)
    Lake.buildAllVersioned(spark, s"$fresh/ingest", freshRoots)
    Lake.GoldTables.foreach { g =>
      val got = contentOf(Versioned.read(spark, roots.versionedGoldDir(g)))
      val want = contentOf(Versioned.read(spark, freshRoots.versionedGoldDir(g)))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"gold $g differs from a from-scratch build")
    }
  }

  test("a gold tier carrying only the old tier-wide watermark is rebuilt, not skipped") {
    import graft.table.Versioned
    val root = tmpDir("lakecompat")
    OlistFixtures.write(root)
    val roots = lakeRoots(root)
    def refreshSilver(): Unit = Lake.refreshSilverFromVersionedBronze(
      spark, roots, Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots))
    def silverHeads(): Map[String, Long] = graft.pipeline.Entities.all.map(e =>
      e.name -> Versioned.currentVersion(spark, roots.versionedSilverDir(e.name)).get).toMap
    // the earlier layout: every mart committed under `graft-gold` with
    // the SUM of all eight silver heads
    refreshSilver()
    val heads0 = silverHeads()
    val tierWatermark = heads0.values.sum
    Lake.Marts.foreach { m =>
      Versioned.overwriteIdempotent(
        m.plan(n => Versioned.readAt(spark, roots.versionedSilverDir(n), heads0(n)),
          n => Versioned.read(spark, roots.versionedGoldDir(n))),
        roots.versionedGoldDir(m.name), "graft-gold", tierWatermark)
    }
    val before = goldHeads(roots)

    deliverOrderFive(root)
    refreshSilver()
    val heads1 = silverHeads()
    // the hazard is real: a mart whose inputs moved has a per-mart sum
    // no larger than the old tier-wide number
    assert(Lake.Marts.exists(m => OrdersDropMoves(m.name) &&
      Lake.silverClosure(m).map(heads1).sum <= tierWatermark))
    Lake.refreshGoldVersioned(spark, roots)
    val after = goldHeads(roots)
    Lake.GoldTables.foreach { g =>
      assert(after(g) == before(g) + 1, s"gold $g was not rebuilt under the new watermark")
    }
    assert(Versioned.read(spark, roots.versionedGoldDir("metrics_revenue"))
      .agg(sum("total_revenue")).head.getDouble(0) == 450.0)
    // from here on the per-mart watermark skips: nothing moved
    Lake.refreshGoldVersioned(spark, roots)
    assert(goldHeads(roots) == after)
  }

  test("a failing mart throws its own error after its siblings finish; dependents never commit") {
    import graft.table.Versioned
    val root = tmpDir("lakefail")
    OlistFixtures.write(root)
    val roots = lakeRoots(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val before = goldHeads(roots)
    // a plain file where dim_customers' table directory should be: its
    // watermark is gone with its log, so the refresh tries to rebuild it
    // and the write fails
    val blocked = roots.versionedGoldDir("dim_customers")
    new scala.reflect.io.Directory(new java.io.File(blocked)).deleteRecursively()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(blocked), "not a table")

    deliverOrderFive(root)
    val entities = Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots)
    Lake.refreshSilverFromVersionedBronze(spark, roots, entities)
    val err = intercept[Throwable](Lake.refreshGoldVersioned(spark, roots))
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException] &&
      !err.isInstanceOf[java.util.concurrent.CompletionException], s"wrapped: $err")
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("dim_customers_v")),
      s"not dim_customers' own failure: $err")
    // the three metric marts read dim_customers: none may commit
    val after = Lake.GoldTables.filter(_ != "dim_customers")
      .map(g => g -> Versioned.currentVersion(spark, roots.versionedGoldDir(g)).get).toMap
    Seq("metrics_revenue", "metrics_orders", "metrics_customers").foreach { g =>
      assert(after(g) == before(g), s"dependent $g committed past a failed input")
    }
    // the independent facts were in flight; the call returned only after
    // they committed
    Seq("fact_orders", "fact_payments", "fact_reviews").foreach { g =>
      assert(after(g) == before(g) + 1, s"sibling $g had not finished when the call threw")
    }
  }

  test("registerViews exposes a versioned lake as SQL views over the log head") {
    import graft.table.Versioned
    val root = tmpDir("lakeviews")
    OlistFixtures.write(root)
    val roots = lakeRoots(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val views = Lake.registerViews(spark, roots)
    assert(views.size == 8 + Lake.GoldTables.size, s"got $views")
    def viewCount(): Long = spark.sql("SELECT count(*) FROM gold_metrics_revenue").head.getLong(0)
    def tableCount(): Long =
      Versioned.read(spark, roots.versionedGoldDir("metrics_revenue")).count()
    assert(viewCount() == tableCount())
    // the views resolve the head per query: a refresh shows through
    // without re-registering
    val ordersBefore = spark.sql("SELECT count(*) FROM silver_orders").head.getLong(0)
    deliverOrderFive(root)
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    assert(spark.sql("SELECT count(*) FROM silver_orders").head.getLong(0) == ordersBefore + 1)
    assert(viewCount() == tableCount())
  }

  test("streaming silver: the log-driven source drives cleanse+merge per commit range") {
    import graft.table.Versioned
    val root = tmpDir("lakestream")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    val entities = Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots)
    val advanced = Lake.refreshSilverStreamingVersioned(spark, roots, entities)
    assert(advanced.toSet == entities.toSet)

    val custDir = roots.versionedSilverDir("customers")
    val cust = Versioned.read(spark, custDir)
    assert(cust.count() == 2)
    assert(cust.filter(col("customer_id") === "c1").head
      .getAs[String]("customer_city") == "SAO PAULO CENTRO",
      "the W1 tiebreak (source_file desc) must hold through the streamed batch")

    // a new drop advances bronze by one commit; the second drain tails
    // ONLY that window and lands as one merge commit on silver
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/customers/c_third.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c9,u9,50000,curitiba,pr")
    Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots)
    Lake.refreshSilverStreamingVersioned(spark, roots, Seq("customers"))
    val after = Versioned.read(spark, custDir)
    assert(after.count() == 3)
    assert(after.filter(col("customer_id") === "c9").head
      .getAs[String]("customer_city") == "CURITIBA")
    val head = Versioned.currentVersion(spark, custDir).get
    assert(Versioned.opAt(spark, custDir, head) == "merge",
      "an incremental window must land as a merge commit")

    // wiped checkpoint + unchanged input: the restarted stream's
    // batchIds restart at 0, the silver log's txn watermark refuses
    // them — no tier moves, no duplicate rows
    val _ = new scala.reflect.io.Directory(
      new java.io.File(roots.checkpoints)).deleteRecursively()
    Lake.refreshSilverStreamingVersioned(spark, roots, Seq("customers"))
    assert(Versioned.currentVersion(spark, custDir).contains(head),
      "a checkpoint-wiped replay must be refused at the silver log")
    assert(Versioned.read(spark, custDir).count() == 3)
  }

  test("a maintenance op on bronze routes the next refresh through the full merge") {
    import graft.table.Versioned
    val root = tmpDir("lakeopt")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val bronzeDir = roots.versionedBronzeDir("orders")
    val silverBefore = Versioned.read(
      spark, roots.versionedSilverDir("orders")).count()
    // OPTIMIZE-class commit on bronze: the next refresh window is no
    // longer append-only, so the add-action fast path must yield to the
    // full recleanse-merge — not fail, not misreport carried rows
    Versioned.compact(spark, bronzeDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/orders/c_third.csv"),
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date\n" +
        "o5,c2,delivered,2017-01-05 08:00:00,2017-01-05 09:00:00," +
        "2017-01-06 08:00:00,2017-01-08 08:00:00,2017-01-12 00:00:00")
    val entities = Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots)
    val advanced = Lake.refreshSilverFromVersionedBronze(spark, roots, entities)
    assert(advanced.contains("orders"))
    val silver = Versioned.read(spark, roots.versionedSilverDir("orders"))
    assert(silver.filter(col("order_id") === "o5").count() == 1,
      "the post-maintenance drop must reach silver")
    assert(silver.count() == silverBefore + 1,
      "the full-merge fallback must not duplicate carried rows")
  }

  test("a row-mutating op on bronze replaces silver content: deletes propagate") {
    import graft.table.Versioned
    val root = tmpDir("lakegdpr")
    OlistFixtures.write(root)
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    Lake.buildAllVersioned(spark, s"$root/ingest", roots)
    val bronzeDir = roots.versionedBronzeDir("orders")
    val silverDir = roots.versionedSilverDir("orders")
    val victim = Versioned.read(spark, silverDir)
      .select("order_id").orderBy("order_id").collect()(0).getString(0)
    // GDPR-style row removal on bronze: the refresh window is now
    // row-MUTATING — an insert/update merge could never propagate the
    // removal, so the refresh must REPLACE silver (overwrite commit),
    // not silently keep the deleted row behind an advanced watermark
    Versioned.deleteWhere(spark, bronzeDir, col("order_id") === victim)
    val advanced = Lake.refreshSilverFromVersionedBronze(
      spark, roots, Seq("orders"))
    assert(advanced.contains("orders"))
    val silver = Versioned.read(spark, silverDir)
    assert(silver.filter(col("order_id") === victim).count() == 0,
      "a bronze delete must reach silver")
    assert(Versioned.opAt(spark, silverDir,
      Versioned.currentVersion(spark, silverDir).get) == "overwrite",
      "the replacement must be a visible overwrite commit")
    // and the next ordinary append resumes the O(new) fast path
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ingest/orders/c_after_del.csv"),
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date\n" +
        "o9,c2,delivered,2017-02-05 08:00:00,2017-02-05 09:00:00," +
        "2017-02-06 08:00:00,2017-02-08 08:00:00,2017-02-12 00:00:00")
    val entities = Lake.refreshBronzeVersioned(spark, s"$root/ingest", roots)
    Lake.refreshSilverFromVersionedBronze(spark, roots, entities)
    val after = Versioned.read(spark, silverDir)
    assert(after.filter(col("order_id") === "o9").count() == 1)
    assert(after.filter(col("order_id") === victim).count() == 0,
      "the deleted row must not resurrect through the fast path")
    assert(Versioned.opAt(spark, silverDir,
      Versioned.currentVersion(spark, silverDir).get) == "merge",
      "an append-only window after the replacement takes the merge fast path")
  }

  test("reconcileManifest repairs a lost manifest without duplicating bronze") {
    val root = tmpDir("lakerepair")
    val src = s"$root/src"
    val bronze = TableRef(s"$root/bronze")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src, "f1.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c1,u1,01310,spc,sp\nc2,u2,20000,rio,rj")
    Ingest.csvToBronze(spark, src, graft.pipeline.Entities.customers.bronzeSchema,
      bronze, s"$root/cp")
    assert(Table.read(spark, bronze).count() == 2)

    // simulate the crash window: manifest lost after bronze committed
    new scala.reflect.io.Directory(
      new java.io.File(Ingest.manifestRef(bronze).dir)).deleteRecursively()
    Ingest.reconcileManifest(spark, bronze)

    // checkpoint-wiped replay after repair must not duplicate
    new scala.reflect.io.Directory(new java.io.File(s"$root/cp")).deleteRecursively()
    Ingest.csvToBronze(spark, src, graft.pipeline.Entities.customers.bronzeSchema,
      bronze, s"$root/cp")
    assert(Table.read(spark, bronze).count() == 2)
  }

  test("evolveSchema rejects divergent per-file column appends") {
    val root = tmpDir("lakediverge")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src, "f1.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state,colx\nc1,u1,1,a,b,x")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src, "f2.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state,coly\nc2,u2,2,a,b,y")
    val e = intercept[IllegalStateException] {
      Ingest.evolveSchema(spark, src,
        graft.pipeline.Entities.customers.bronzeSchema, s"$root/schema_track")
    }
    assert(e.getMessage.contains("schema evolution conflict"))
  }
}
