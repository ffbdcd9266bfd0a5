package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.pipeline.{Entities, Lake, LakeRoots}
import graft.table.Versioned

/** Olist-shaped CSV drops for the eight entities, a pure function of the
  * seed: every order and customer is regenerated from (seed, key), so an
  * increment can re-deliver an existing row with changed fields.
  * Dirty values the silver cleansers must reject are planted at fixed
  * shares (bad status, unparsable timestamps, corrupt numbers, scores out
  * of range, mixed case and padding).
  */
final class LakeData(seed: Long) {
  import LakeData._

  private def rng(parts: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach(p => h = java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 29) * 0x94D049BB133111EBL)
    new SplittableRandom(h)
  }

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def ts(t: LocalDateTime): String = t.format(TsFmt)

  def customerRow(k: Int, delivery: Int): String = {
    val r = rng(1, k, delivery)
    val state = pick(r, States)
    val city = pick(r, Cities)
    val messyCity = r.nextInt(4) match {
      case 0 => s"  $city "
      case 1 => city.toUpperCase
      case _ => city
    }
    val messyState = if (r.nextInt(3) == 0) state.toLowerCase else state
    f"c$k%06d,u${k % UniqueCustomers}%06d,${zip(r)},$messyCity,$messyState"
  }

  private def zip(r: SplittableRandom): String = f"${1000 + r.nextInt(Zips) * 37}%05d"

  /** An order's identity (customer, purchase time) is fixed by its key;
    * its status and delivery fields change between deliveries.
    */
  def orderRow(k: Int, delivery: Int): String = {
    val base = rng(2, k)
    val customer = base.nextInt(Customers)
    val purchase = Epoch.plusDays(base.nextInt(Days)).plusSeconds(base.nextInt(86400))
    val r = rng(3, k, delivery)
    val roll = r.nextInt(100)
    val status =
      if (roll < 1) "bogus_status"
      else if (roll < 55) "delivered"
      else if (roll < 70) "shipped"
      else if (roll < 80) "processing"
      else if (roll < 88) "canceled"
      else if (roll < 94) "invoiced"
      else "approved"
    val messyStatus = if (r.nextInt(5) == 0) s" ${status.toUpperCase}" else status
    val purchaseStr = if (r.nextInt(200) == 0) "not-a-date" else ts(purchase)
    val approved = ts(purchase.plusHours(1 + r.nextInt(30)))
    val carrier = if (status == "delivered" || status == "shipped")
      ts(purchase.plusDays(1 + r.nextInt(3))) else ""
    val delivered = if (status == "delivered") ts(purchase.plusDays(3 + r.nextInt(20))) else ""
    val estimated = ts(purchase.plusDays(10 + r.nextInt(10)).withHour(0).withMinute(0).withSecond(0))
    f"o$k%07d,c$customer%06d,$messyStatus,$purchaseStr,$approved,$carrier,$delivered,$estimated"
  }

  def itemRows(k: Int): Seq[String] = {
    val r = rng(4, k)
    // 1.15 items per order (Olist: 112,650 / 99,441 = 1.13)
    (1 to (if (r.nextInt(10) == 0) 2 + r.nextInt(2) else 1)).map { n =>
      val price = if (r.nextInt(150) == 0) "abc" else f"${5 + r.nextInt(50000) / 100.0}%.2f"
      val freight = f"${r.nextInt(3000) / 100.0}%.2f"
      val product = f"p${r.nextInt(Products)}%05d"
      val seller = f"s${r.nextInt(Sellers)}%04d"
      f"o$k%07d,$n,$product,$seller,${ts(Epoch.plusDays(r.nextInt(Days + 10)))},$price,$freight"
    }
  }

  def paymentRows(k: Int): Seq[String] = {
    val r = rng(5, k)
    // 1.04 payments per order (Olist: 103,886 / 99,441 = 1.045)
    (1 to (if (r.nextInt(25) == 0) 2 else 1)).map { n =>
      val tpe = pick(r, Seq("credit_card", "CREDIT_CARD", "boleto", " voucher", "debit_card"))
      val inst = if (r.nextInt(10) == 0) "" else (1 + r.nextInt(10)).toString
      val value = if (r.nextInt(200) == 0) "n/a" else f"${1 + r.nextInt(90000) / 100.0}%.2f"
      f"o$k%07d,$n,$tpe,$inst,$value"
    }
  }

  def reviewRows(k: Int): Seq[String] = {
    val r = rng(6, k)
    // 0.998 reviews per order (Olist: 99,224 / 99,441)
    if (r.nextInt(500) == 0) Nil
    else {
      val score = if (r.nextInt(100) == 0) 9 else 1 + r.nextInt(5)
      val created = Epoch.plusDays(r.nextInt(Days + 20)).plusSeconds(r.nextInt(86400))
      val createdStr = if (r.nextInt(150) == 0) "bad-date" else ts(created)
      Seq(f"r$k%07d,o$k%07d,$score, title $k ,a comment on order $k,$createdStr,${ts(created.plusDays(1))}")
    }
  }

  def geolocationRows: Seq[String] = (0 until Zips).flatMap { z =>
    val r = rng(7, z)
    val city = pick(r, Cities)
    val state = pick(r, States)
    (0 until GeoRowsPerZip).map { i =>
      val c = if (i % 3 == 2 && r.nextInt(3) == 0) pick(r, Cities) else city
      f"${1000 + z * 37}%05d,${-30 + r.nextInt(20000) / 1000.0}%.3f,${-55 + r.nextInt(20000) / 1000.0}%.3f,$c,${state.toLowerCase}"
    }
  }

  def productRows: Seq[String] = (0 until Products).map { p =>
    val r = rng(8, p)
    val w = if (r.nextInt(50) == 0) "abc" else (100 + r.nextInt(5000)).toString
    f"p$p%05d,${pick(r, Categories)},${10 + r.nextInt(50)},${50 + r.nextInt(900)},${1 + r.nextInt(5)},$w,${5 + r.nextInt(60)},${2 + r.nextInt(40)},${5 + r.nextInt(40)}"
  }

  def sellerRows: Seq[String] = (0 until Sellers).map { s =>
    val r = rng(9, s)
    f"s$s%04d,${1000 + r.nextInt(Zips) * 37},${pick(r, Cities)},${pick(r, States).toLowerCase}"
  }

  /** Orders first delivered by increment `i` (0 = the base drop). */
  def newOrders(i: Int): Range =
    if (i == 0) 0 until BaseOrders
    else (BaseOrders + (i - 1) * IncOrders) until (BaseOrders + i * IncOrders)

  /** Existing orders and customers re-delivered with changes by increment `i`. */
  def redeliveredOrders(i: Int): Seq[Int] = {
    val r = rng(10, i)
    val known = BaseOrders + (i - 1) * IncOrders
    Seq.fill(IncRedeliveredOrders)(r.nextInt(known)).distinct
  }
  def redeliveredCustomers(i: Int): Seq[Int] = {
    val r = rng(11, i)
    Seq.fill(IncRedeliveredCustomers)(r.nextInt(Customers)).distinct
  }

  /** Writes drop `i` (0 = the base drop of all eight entities; later
    * drops carry new orders with their items, payments and reviews plus
    * re-delivered orders and customers). Returns the rows written.
    */
  def writeDrop(ingest: String, i: Int): Long = {
    val file = f"d$i%04d.csv"
    var rows = 0L
    def put(entity: String, lines: Seq[String]): Unit = if (lines.nonEmpty) {
      val dir = Paths.get(ingest, entity)
      Files.createDirectories(dir)
      val header = Entities.byName(entity).get.rawColumns.mkString(",")
      Files.writeString(dir.resolve(file), (header +: lines).mkString("", "\n", "\n"))
      rows += lines.size
    }
    val fresh = newOrders(i)
    if (i == 0) {
      put("customers", (0 until Customers).map(customerRow(_, 0)))
      put("geolocation", geolocationRows)
      put("products", productRows)
      put("sellers", sellerRows)
      put("orders", fresh.map(orderRow(_, 0)))
    } else {
      put("customers", redeliveredCustomers(i).map(customerRow(_, i)))
      val again = redeliveredOrders(i).filterNot(fresh.contains)
      put("orders", fresh.map(orderRow(_, 0)) ++ again.map(orderRow(_, i)))
    }
    put("order_items", fresh.flatMap(itemRows))
    put("order_payments", fresh.flatMap(paymentRows))
    put("order_reviews", fresh.flatMap(reviewRows))
    rows
  }
}

/** Sizes. Products and sellers are the reference's own (its
  * `datasets/products.csv` and `datasets/sellers.csv`: 32,951 and 3,095
  * rows). Its other six CSVs are not in its checkout; they are generated
  * at 1/[[Scale]] of the public Olist release they come from (99,441
  * orders, one customer id per order, 96,096 unique customers, 19,015
  * zip prefixes with 1,000,163 geolocation rows, orders over about two
  * years), so set-up, one refresh and the reads fit a run's time.
  */
object LakeData {
  val Products = 32951
  val Sellers = 3095
  val Scale = 10
  val BaseOrders = 99441 / Scale
  val Customers = BaseOrders
  val UniqueCustomers = 96096 / Scale
  val Zips = 19015 / Scale
  val GeoRowsPerZip = 53 // 1,000,163 / 19,015 = 52.6
  val Days = 730
  /** An increment: 1% new orders, plus re-delivered orders and customers. */
  val IncOrders = BaseOrders / 100
  val IncRedeliveredOrders = 15
  val IncRedeliveredCustomers = 10
  val Epoch: LocalDateTime = LocalDateTime.of(2018, 1, 1, 0, 0)
  val TsFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val States = Seq("SP", "RJ", "MG", "RS", "PR", "SC", "BA", "GO", "PE", "CE", "DF", "ES")
  val Cities = Seq("sao paulo", "rio de janeiro", "belo horizonte", "curitiba",
    "porto alegre", "salvador", "recife", "fortaleza", "brasilia", "goiania",
    "campinas", "santos", "niteroi", "londrina", "vitoria")
  val Categories = Seq("Beleza_Saude", "moveis_decoracao", "ESPORTE_LAZER",
    "informatica_acessorios", "utilidades_domesticas", "relogios_presentes")
}

/** The reference's whole program: CSV drops → exactly-once streaming
  * bronze → add-action-driven silver MERGE → gold rebuild, every tier
  * under the transaction log. One round applies one increment (the
  * write: the three calls `Lake.buildAllVersioned` makes) and then runs
  * the read mix [[ReadPasses]] times (measured rounds) through the `graft-versioned` SQL
  * relation: the five gold-mart queries, the revenue mart again
  * `VERSION AS OF` the previous round's version, and the silver orders
  * change feed of this refresh. The mix touches six tables, more than
  * the snapshot memo holds, so a repeated pass resolves its snapshots
  * as the first one does.
  */
final class LakeWorkload(spark: SparkSession, seed: Long, rec: Recorder)
    extends Workload with AdaptiveSparkPlanHelper {
  val setupReps = 2
  val warmupRounds = 0
  val fixedRounds = 3
  val ReadPasses = 2

  private val data = new LakeData(seed)
  private var root: String = _
  private def ingest = s"$root/ingest"
  private def roots = LakeRoots(s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
  private def silverOrders = roots.versionedSilverDir("orders")
  private def revenueDir = roots.versionedGoldDir("metrics_revenue")

  private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var increment = 0
  private var lastRevenue: Option[(Int, Long)] = None // (read index, gold version it saw)
  private var inputRows = 0L
  private var commits = 0L

  /** The gold-mart reads: name → SQL over the mart's versioned table. */
  private def queries: Seq[(String, String)] = {
    def t(m: String) = s"`graft-versioned`.`${roots.versionedGoldDir(m)}`"
    Seq(
      "metrics_revenue" ->
        s"""SELECT CAST(order_date AS STRING) AS order_date, customer_state, order_status,
           |total_revenue, order_count, payment_count FROM ${t("metrics_revenue")}""".stripMargin,
      "metrics_orders" ->
        s"""SELECT CAST(order_date AS STRING) AS order_date, customer_state, total_orders,
           |delivered_orders, cancelled_orders, shipped_orders, processing_orders,
           |avg_delivery_days FROM ${t("metrics_orders")}""".stripMargin,
      "metrics_customers" ->
        s"""SELECT customer_state, total_customers, total_orders, delivered_orders,
           |active_customers FROM ${t("metrics_customers")}""".stripMargin,
      "fact_orders_by_status" ->
        s"""SELECT order_status, count(*) AS orders, sum(item_count) AS items,
           |sum(order_value) AS order_value, sum(order_freight) AS freight
           |FROM ${t("fact_orders")} GROUP BY order_status""".stripMargin,
      "fact_reviews_by_score" ->
        s"""SELECT review_score, count(*) AS reviews, count(order_status) AS with_order
           |FROM ${t("fact_reviews")} GROUP BY review_score""".stripMargin)
  }

  /** The 26 versioned tables a refresh touches. */
  private def allDirs: Seq[String] =
    Entities.all.flatMap(e => Seq(roots.versionedBronzeDir(e.name), roots.versionedSilverDir(e.name))) ++
      Lake.GoldTables.map(roots.versionedGoldDir)

  private def head(dir: String): Long = Versioned.currentVersion(spark, dir).getOrElse(-1L)
  private def headSum(dirs: Seq[String]): Long = dirs.map(head).sum
  private def bronzeDirs = Entities.all.map(e => roots.versionedBronzeDir(e.name))

  /** One refresh, exactly the three calls `Lake.buildAllVersioned` makes. */
  private def refresh(): Unit = {
    val names = rec.layer("streaming", "Lake.refreshBronzeVersioned", "streaming.bronze_ms") {
      Lake.refreshBronzeVersioned(spark, ingest, roots)
    }
    rec.layer("pipeline", "Lake.refreshSilverFromVersionedBronze", "pipeline.silver_ms") {
      Lake.refreshSilverFromVersionedBronze(spark, roots, names)
    }
    rec.layer("pipeline", "Lake.refreshGoldVersioned", "pipeline.gold_ms") {
      Lake.refreshGoldVersioned(spark, roots)
    }
  }

  def setup(rep: Int, dir: String): Unit = {
    root = dir
    inputRows = data.writeDrop(ingest, 0)
    refresh()
  }

  def round(i: Int): Unit = {
    increment = i + 1
    inputRows += data.writeDrop(ingest, increment)
    val silver0 = head(silverOrders)
    val bronze0 = headSum(bronzeDirs)
    val all0 = if (rec.tracer.enabled) headSum(allDirs) else 0L
    rec.op("write", "refresh")(refresh())
    if (rec.tracer.enabled && rec.measuring) {
      rec.counts("streaming.bronze_commits") += headSum(bronzeDirs) - bronze0
      commits += headSum(allDirs) - all0
    }
    val revenueV = head(revenueDir)
    val silver1 = head(silverOrders)
    // the revenue read again at the version the previous round (or the
    // warm-up) read at head
    val asOf = lastRevenue.map(_._2).getOrElse(revenueV)
    var headRead = -1
    (0 until ReadPasses).foreach { pass =>
      // a first read after a refresh lists and opens the new files, a
      // repeated one finds them cached: each is its own read kind
      val prefix = if (pass == 0) "" else "again."
      queries.foreach { case (name, sql) =>
        read(prefix, name, sql, Map.empty)
        if (name == "metrics_revenue") {
          if (headRead < 0) headRead = reads.size - 1
          read(prefix, "version_as_of",
            sql.replace(s"`$revenueDir`", s"`$revenueDir` VERSION AS OF $asOf"),
            Map("source" -> lastRevenue.map(_._1).getOrElse(headRead), "as_of" -> asOf))
        }
      }
      read(prefix, "change_feed",
        s"""SELECT order_id, customer_id, order_status,
           |CAST(order_purchase_timestamp AS STRING), CAST(order_delivered_customer_date AS STRING),
           |_change_type, _commit_version
           |FROM table_changes('$silverOrders', ${silver0 + 1}, $silver1)""".stripMargin,
        Map("from" -> silver0, "to" -> silver1))
    }
    lastRevenue = Some((headRead, revenueV))
  }

  /** The set-up builds ran the write's three calls twice already; this
    * runs the read mix once on the set-up lake, so the measured rounds
    * start warm for both. The change feed is left out: the base build
    * has no increment to feed.
    */
  override def warmup(): Unit = {
    val revenueV = head(revenueDir)
    queries.foreach { case (name, sql) =>
      read("", name, sql, Map.empty)
      if (name == "metrics_revenue") {
        val headRead = reads.size - 1
        read("", "version_as_of", sql.replace(s"`$revenueDir`", s"`$revenueDir` VERSION AS OF $revenueV"),
          Map("source" -> headRead, "as_of" -> revenueV))
        lastRevenue = Some((headRead, revenueV))
      }
    }
  }

  private def read(prefix: String, kind: String, sql: String, extra: Map[String, Any]): Unit = {
    val (rows, plan) = rec.op("read", prefix + kind) {
      val df = rec.layer("sql", "spark.sql", "sql.analyze_ms")(spark.sql(sql))
      val plan = rec.layer("sql", "executedPlan", "sql.plan_ms")(df.queryExecution.executedPlan)
      (rec.layer("sql", "collect", "sql.exec_ms")(df.collect()), plan)
    }
    reads += Map("increment" -> increment, "query" -> kind, "rows" -> rows.toSeq.map(Json.row),
      "files_scanned" -> scannedFiles(plan)) ++ extra
  }

  /** Data files the executed scans read. A `graft-versioned` SQL read of
    * these tables plans a `FileSourceScanExec` (not a DSv2
    * `BatchScanExec`: printing the plans' leaves shows only file source
    * scans), whose `numFiles` metric counts the files it listed.
    */
  private def scannedFiles(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  def storedDirs: Seq[String] = Seq(s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")

  /** Called after the measured rounds, so the snapshot resolution here
    * (`currentVersion` + `filesAt` at every head, one sample per table)
    * leaves the snapshot memo of the timed operations alone.
    */
  override def traceMetrics: Map[String, Double] = {
    val refreshes = rec.counts("ops.write")
    val snapshots = allDirs.map { d =>
      val t0 = System.nanoTime()
      val files = rec.tracer.span("table", "Versioned.currentVersion+filesAt") {
        Versioned.filesAt(spark, d, Versioned.currentVersion(spark, d).get).size
      }
      (files, (System.nanoTime() - t0) / 1e6)
    }
    val goldRows = Lake.GoldTables.map(m => Versioned.read(spark, roots.versionedGoldDir(m)).count()).sum
    val logBytes = allDirs.map(d => Main.dirBytes(s"$d/_graft_log")).sum
    val measured = reads.drop(reads.size - rec.counts("ops.read").toInt)
    val scanned = measured.map(_("files_scanned").asInstanceOf[Long])
    Map(
      "table.snapshot_ms" -> median(snapshots.map(_._2)),
      "streaming.bronze_commits" -> rec.counts("streaming.bronze_commits") / refreshes,
      "table.commits_per_write" -> commits / refreshes,
      "table.log_reads_per_commit" -> rec.logReads("write") / math.max(1.0, commits.toDouble),
      "table.log_reads_per_read" -> rec.logReads("read") / rec.counts("ops.read"),
      "table.files_in_snapshot" -> snapshots.map(_._1).sum.toDouble,
      "table.files_scanned" -> scanned.sum.toDouble / scanned.size,
      "table.log_mb" -> logBytes / 1e6,
      "table.data_mb" -> (storedDirs.map(Main.dirBytes).sum - logBytes) / 1e6,
      "pipeline.gold_rows_per_input_row" -> goldRows.toDouble / inputRows)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def checkData: Map[String, Any] = Map("ingest" -> ingest, "reads" -> reads.toSeq)
}
