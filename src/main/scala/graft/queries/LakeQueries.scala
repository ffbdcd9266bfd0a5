package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.pipeline.{Lake, LakeRoots}
import graft.table.Versioned

/** The reference's WHOLE program — CSV drops → streaming bronze ingest →
  * CDF-driven silver → gold marts (`01_bronze_csv_to_delta.py` through
  * `09_gold_metrics_customers.py`) — as ONE oracle-gated row.
  *
  * The query derives all eight Olist-shaped entity CSV drops
  * deterministically from the testdata tables, runs
  * [[Lake.buildAllVersioned]] over them (every tier under the
  * transaction log: exactly-once bronze commits, add-action-driven
  * silver merges, watermarked gold overwrites), and returns the
  * `metrics_revenue` mart read back THROUGH the versioned gold log.
  * The oracle recomputes that mart relationally from the same testdata
  * tables — replaying the CSV derivation, the silver cleansing rules it
  * exercises, and the fact/dim/metric joins — so a green row certifies
  * the full medallion pipeline end to end, not a fragment.
  *
  * Determinism: every numeric that reaches an aggregated double is an
  * exact integer (floor'd payment values, integral prices), so float
  * sums are order-independent (SURVEY.md §7.4); dates surface as ISO
  * strings; unique PKs make the latest-wins dedups no-ops semantically.
  */
object LakeQueries {
  import Tables.t

  private def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"
  private def ts(c: Column): Column = date_format(c, TsFmt)

  /** Plants the eight entity drop zones under `ingest`, derived from
    * orders/customer/lineitem/part/supplier. Orders (and their
    * lineitems/payments/reviews) sample every 10th order key so the
    * pipeline cost stays bounded at bench scale while every entity
    * still flows through its full cleanse path.
    */
  private def plantDrops(s: SparkSession, dir: String, ingest: String): Unit = {
    val orders0 = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .localCheckpoint() // four derived drops read it; scan the table once
    val customer = t(s, dir, "customer")

    writeCsv(customer.select(
      concat(lit("C"), col("c_custkey")).as("customer_id"),
      concat(lit("U"), col("c_custkey") % 700).as("customer_unique_id"),
      (col("c_nationkey") * 100).cast("string").as("customer_zip_code_prefix"),
      col("c_mktsegment").as("customer_city"),
      concat(lit("ST"), col("c_nationkey")).as("customer_state")),
      s"$ingest/customers")

    writeCsv(customer.select(
      (col("c_nationkey") * 100).cast("string").as("geolocation_zip_code_prefix"),
      (-(col("c_custkey") % 90) - lit(0.5)).cast("string").as("geolocation_lat"),
      (-(col("c_custkey") % 180) - lit(0.25)).cast("string").as("geolocation_lng"),
      lower(col("c_mktsegment")).as("geolocation_city"),
      concat(lit("ST"), col("c_nationkey")).as("geolocation_state")),
      s"$ingest/geolocation")

    // status map exercises the whitelist + normLower; the five lifecycle
    // timestamps exercise the try_to_timestamp battery
    writeCsv(orders0.select(
      concat(lit("O"), col("o_orderkey")).as("order_id"),
      concat(lit("C"), col("o_custkey")).as("customer_id"),
      when(col("o_orderstatus") === "F", "DELIVERED")
        .when(col("o_orderstatus") === "O", "SHIPPED")
        .otherwise("PROCESSING").as("order_status"),
      ts(col("o_orderdate")).as("order_purchase_timestamp"),
      ts(col("o_orderdate") + expr("INTERVAL 1 HOUR")).as("order_approved_at"),
      ts(col("o_orderdate") + expr("INTERVAL 2 DAYS")).as("order_delivered_carrier_date"),
      ts(col("o_orderdate") + expr("INTERVAL 4 DAYS")).as("order_delivered_customer_date"),
      ts(col("o_orderdate") + expr("INTERVAL 10 DAYS")).as("order_estimated_delivery_date")),
      s"$ingest/orders")

    writeCsv(t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0).select(
      concat(lit("O"), col("l_orderkey")).as("order_id"),
      col("l_linenumber").cast("string").as("order_item_id"),
      concat(lit("P"), col("l_partkey")).as("product_id"),
      concat(lit("S"), col("l_suppkey")).as("seller_id"),
      ts(col("l_shipdate")).as("shipping_limit_date"),
      col("l_quantity").cast("long").cast("string").as("price"),
      col("l_linenumber").cast("string").as("freight_value")),
      s"$ingest/order_items")

    // every sampled order pays floor(o_totalprice) in one row; every
    // 50th adds a 10.00 voucher row — exact integer doubles throughout
    val pay1 = orders0.select(
      concat(lit("O"), col("o_orderkey")).as("order_id"),
      lit("1").as("payment_sequential"),
      when(col("o_orderkey") % 2 === 0, "CREDIT_CARD").otherwise("Boleto")
        .as("payment_type"),
      (col("o_orderkey") % 12 + 1).cast("string").as("payment_installments"),
      concat(floor(col("o_totalprice")).cast("long"), lit(".00")).as("payment_value"))
    val pay2 = orders0.filter(col("o_orderkey") % 50 === 0).select(
      concat(lit("O"), col("o_orderkey")).as("order_id"),
      lit("2").as("payment_sequential"),
      lit("voucher").as("payment_type"),
      lit("1").as("payment_installments"),
      lit("10.00").as("payment_value"))
    writeCsv(pay1.unionByName(pay2), s"$ingest/order_payments")

    writeCsv(orders0.filter(col("o_orderkey") % 30 === 0).select(
      concat(lit("R"), col("o_orderkey")).as("review_id"),
      concat(lit("O"), col("o_orderkey")).as("order_id"),
      (col("o_orderkey") % 5 + 1).cast("string").as("review_score"),
      lit("ok").as("review_comment_title"),
      lit("fine").as("review_comment_message"),
      ts(col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("review_creation_date"),
      ts(col("o_orderdate") + expr("INTERVAL 6 DAYS")).as("review_answer_timestamp")),
      s"$ingest/order_reviews")

    writeCsv(t(s, dir, "part").filter(col("p_partkey") % 5 === 0).select(
      concat(lit("P"), col("p_partkey")).as("product_id"),
      col("p_type").as("product_category_name"),
      length(col("p_name")).cast("string").as("product_name_lenght"),
      (length(col("p_name")) * 3).cast("string").as("product_description_lenght"),
      (col("p_partkey") % 5 + 1).cast("string").as("product_photos_qty"),
      (col("p_size") * 100).cast("string").as("product_weight_g"),
      col("p_size").cast("string").as("product_length_cm"),
      (col("p_size") % 20 + 1).cast("string").as("product_height_cm"),
      (col("p_size") % 10 + 1).cast("string").as("product_width_cm")),
      s"$ingest/products")

    writeCsv(t(s, dir, "supplier").select(
      concat(lit("S"), col("s_suppkey")).as("seller_id"),
      (col("s_nationkey") * 10).cast("string").as("seller_zip_code_prefix"),
      concat(lit("city "), col("s_suppkey") % 50).as("seller_city"),
      concat(lit("st"), col("s_nationkey")).as("seller_state")),
      s"$ingest/sellers")
  }

  // M8 — the medallion capstone. buildAllVersioned runs the actual
  // engine: 8 streaming bronze ingests (exactly-once, log-watermarked),
  // 8 silver refreshes driven by bronze add-actions, 10 gold marts as
  // versioned overwrites, each scheduled after its own gold inputs and
  // watermarked by the silver heads it reads (a mart whose inputs did
  // not move is skipped); the checked rows read the metrics_revenue mart
  // back through its own log head.
  def lakeMedallion(s: SparkSession, dir: String): DataFrame = {
    val root = VersionedQueries.scratch("graft_m8")
    val ingest = s"$root/ingest"
    val roots = LakeRoots(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/checkpoints")
    plantDrops(s, dir, ingest)
    Lake.buildAllVersioned(s, ingest, roots)
    Versioned.read(s, roots.versionedGoldDir("metrics_revenue"))
      .select(
        date_format(col("order_date"), "yyyy-MM-dd").as("order_date"),
        col("customer_state"), col("order_status"),
        col("total_revenue"), col("order_count"), col("payment_count"))
      .orderBy("order_date", "customer_state", "order_status")
  }

  // The relational replay: CSV derivation + the cleanse rules the mart
  // depends on (status map/lowercase, exact payment decimals) + the
  // fact_payments rollup + dim_customers state + the metrics_revenue
  // grouping — straight from the same parquet tables.
  val lakeMedallionSql: String =
    """WITH o AS (
      |  SELECT 'O' || o_orderkey AS order_id, 'C' || o_custkey AS customer_id,
      |         CASE o_orderstatus WHEN 'F' THEN 'delivered'
      |                            WHEN 'O' THEN 'shipped'
      |                            ELSE 'processing' END AS order_status,
      |         o_orderdate AS pts
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |pagg AS (
      |  SELECT 'O' || o_orderkey AS order_id,
      |         floor(o_totalprice)
      |           + CASE WHEN o_orderkey % 50 = 0 THEN 10.0 ELSE 0.0 END
      |           AS payment_total,
      |         CAST(CASE WHEN o_orderkey % 50 = 0 THEN 2 ELSE 1 END AS BIGINT)
      |           AS payment_count
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |cust AS (
      |  SELECT 'C' || c_custkey AS customer_id,
      |         'ST' || c_nationkey AS customer_state
      |  FROM customer)
      |SELECT strftime(o.pts, '%Y-%m-%d') AS order_date,
      |       cust.customer_state, o.order_status,
      |       sum(pagg.payment_total) AS total_revenue,
      |       CAST(count(DISTINCT o.order_id) AS BIGINT) AS order_count,
      |       CAST(sum(pagg.payment_count) AS BIGINT) AS payment_count
      |FROM o
      |JOIN pagg USING (order_id)
      |LEFT JOIN cust USING (customer_id)
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("m8_lake_medallion", lakeMedallion, Some(lakeMedallionSql)))
}
