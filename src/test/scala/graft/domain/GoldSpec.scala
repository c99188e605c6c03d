package graft.domain

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Golden tests for the gold layer (FIXTURES.md A4): handcrafted silver
  * fixtures → CM1 → CM2 → KPI, pinning the reference's semantics including
  * its quirks (F12 dead predicate, J1b join fanout) and the flag-gated
  * fixes.
  */
class GoldSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private val cfg = DomainConfig()

  private def silverJoor(rows: Seq[(String, String, Double, Int, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("order_id", "buyer", "price", "quantity", "sku")
  }

  private def silverFreight(rows: Seq[(String, String, Double, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("tracking_number", "provider", "cost", "order_reference")
  }

  // 2 joor orders: JO-1 has TWO freight rows (fanout case), JO-2 none
  private val joorSilver = silverJoor(Seq(
    ("JO-1", "London Fashion House", 150.0, 10, "JOR-1"),
    ("JO-1", "London Fashion House", 50.0, 5, "JOR-2"),   // 2nd item, same order
    ("JO-2", "Acme Apparel", 80.0, 4, "JOR-3")))
  private val freightSilver = silverFreight(Seq(
    ("DHL1", "dhl", 20.0, "JO-1"),
    ("UPS1", "ups", 30.0, "JO-1"),
    ("ES1", "easyship", 9.0, "ORDER-99999")))

  test("CM1 joor: margin math and pattern-matched country") {
    val cm1 = Cm1.joor(joorSilver, cfg)
    val r = cm1.filter($"order_no" === "JO-2").collect()(0)

    assert(r.getAs[String]("country") == "United States" ||
      Geography.joorResidual.map(_._2).contains(r.getAs[String]("country")))
    // London buyer → pattern rule, not residual
    val london = cm1.filter($"order_no" === "JO-1").select("country").distinct.collect()
    assert(london.map(_.getString(0)).toSeq == Seq("United Kingdom"))
    // margin = price − 25·qty − 25·qty·0.05 (silver_to_gold.py:343)
    assert(math.abs(r.getAs[Double]("margin") - (80.0 - 25.0 * 4 - 25.0 * 4 * 0.05)) < 1e-9)
    assert(r.getAs[String]("payment_source") == "Hilldun")
    assert(r.getAs[String]("date_key") == "20250704")
  }

  test("CM2 joor: rollup, freight join fanout (faithful) vs deduped (fixed)") {
    val cm1 = Cm1.joor(joorSilver, cfg)

    // faithful: JO-1 matches 2 freight rows → duplicated order row (J1b)
    val faithful = Cm2.joor(cm1, freightSilver, cfg)
    assert(faithful.filter($"order_no" === "JO-1").count() == 2)

    // deduped: one row per order, min-cost freight wins
    val fixed = Cm2.joor(cm1, freightSilver, cfg.copy(dedupeFreight = true))
    assert(fixed.filter($"order_no" === "JO-1").count() == 1)
    val jo1 = fixed.filter($"order_no" === "JO-1").collect()(0)
    assert(jo1.getAs[Double]("freight_out") == 20.0)
    assert(jo1.getAs[String]("freight_out_status") == "shipped")
    // rollup: qty 15, net_revenue 200.0 over the two items
    // (qty is integral: int sum → long, like the reference's bigint)
    assert(jo1.getAs[Long]("qty") == 15L)
    assert(jo1.getAs[Double]("net_revenue") == 200.0)

    // unmatched order → defaults (silver_to_gold.py:530,533)
    val jo2 = fixed.filter($"order_no" === "JO-2").collect()(0)
    assert(jo2.getAs[String]("freight_out_status") == "not shipped yet")
    assert(jo2.getAs[Double]("freight_out") == 15.0)
  }

  test("F12 pin: 'hilldun' predicate is dead in faithful mode, live when fixed") {
    val cm1 = Cm1.joor(joorSilver, cfg)

    val faithful = Cm2.joor(cm1, freightSilver, cfg.copy(dedupeFreight = true))
    // insurance ≡ 0.0 and trx_fees = 2.9% of net_revenue, ALWAYS
    assert(faithful.filter($"insurance" =!= 0.0).count() == 0)
    val f2 = faithful.filter($"order_no" === "JO-2").collect()(0)
    assert(math.abs(f2.getAs[Double]("trx_fees") - 80.0 * 0.029) < 1e-9)

    val fixed = Cm2.joor(cm1, freightSilver,
      cfg.copy(dedupeFreight = true, fixHilldunCase = true))
    // payment_source "Hilldun" now matches case-insensitively → insurance 2%
    val x2 = fixed.filter($"order_no" === "JO-2").collect()(0)
    assert(math.abs(x2.getAs[Double]("insurance") - 80.0 * 0.02) < 1e-9)
    assert(x2.getAs[Double]("trx_fees") == 0.0)
  }

  test("CM2 cm2_amount waterfall (joor)") {
    val cm1 = Cm1.joor(joorSilver, cfg)
    val mart = Cm2.joor(cm1, freightSilver, cfg.copy(dedupeFreight = true))
    val r = mart.filter($"order_no" === "JO-2").collect()(0)
    val expected = 80.0 - (25.0 * 4) - (25.0 * 4 * 0.05) - (80.0 * 0.029) - (4 * 3.0) - 15.0
    assert(math.abs(r.getAs[Double]("cm2_amount") - expected) < 1e-9)
  }

  test("KPI reconciles with the union of CM2 marts") {
    val spec = GenSpec(joor = 60, shopify = 120, tiktok = 90, freight = 80)
    val (_, gold, kpiDf) = Pipeline.runInMemory(spark, spec, cfg.copy(dedupeFreight = true))
    val fromKpi = kpiDf.agg(sum($"total_revenue")).first.getDouble(0)
    val fromMarts = Kpi.unionCm2(gold.joorCm2, gold.shopifyCm2, gold.tiktokCm2)
      .agg(sum($"net_revenue")).first.getDouble(0)
    assert(math.abs(fromKpi - fromMarts) < 1.0) // KPI rounds per group to 2dp
    // one date_key (processing-date stamping, faithful to silver_to_gold.py:272)
    assert(kpiDf.select("date_key").distinct.count() == 1)
    assert(kpiDf.filter($"total_orders" <= 0).count() == 0)
  }

  test("pipeline is deterministic end-to-end (same seed → same KPI)") {
    val spec = GenSpec(joor = 40, shopify = 60, tiktok = 50, freight = 40)
    val k1 = Pipeline.runInMemory(spark, spec, cfg)._3.collect().toSeq
    val k2 = Pipeline.runInMemory(spark, spec, cfg)._3.collect().toSeq
    assert(k1 == k2)
  }

  test("warehouse round-trip: SQL view matches the DataFrame KPI") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val spec = GenSpec(joor = 40, shopify = 60, tiktok = 50, freight = 40)
    val (_, gold, kpiDf) = Pipeline.runInMemory(spark, spec, cfg)
    Pipeline.writeWarehouse(gold, dir, Pipeline.WholeTable)
    Pipeline.registerViews(spark, dir)
    val viaSql = spark.sql("SELECT * FROM exec_daily_kpi")
    // same columns and types (read-back parquet makes every column nullable)
    assert(viaSql.schema.map(f => f.name -> f.dataType) ==
      kpiDf.schema.map(f => f.name -> f.dataType))
    // row for row (ties on date_key have no order, so both sides sorted)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    val (sqlRows, dfRows) = (rows(viaSql), rows(kpiDf))
    assert(sqlRows.nonEmpty && sqlRows == dfRows)
    // newest day first, as the view's ORDER BY date_key DESC says
    val days = viaSql.collect().map(_.getString(0)).toSeq
    assert(days == days.sorted.reverse)
    // monthly partition layout exists (MergeTree intent)
    assert(new java.io.File(s"$dir/wholesale_cm2").listFiles()
      .exists(_.getName.startsWith("month_key=")))
  }

  test("faithfulRand mode draws real rand() but stays in the country domain") {
    val cm1 = Cm1.joor(joorSilver, cfg.copy(faithfulRand = true))
    val countries = cm1.select("country").collect().map(_.getString(0)).toSet
    val domain = (Geography.joorPatterns.map(_._2) ++
      Geography.joorResidual.map(_._2) :+ Geography.joorResidualDefault).toSet
    assert(countries.subsetOf(domain), s"out-of-domain countries: ${countries -- domain}")
    // pattern-matched buyers stay deterministic even in faithful mode
    assert(cm1.filter($"order_no" === "JO-1").select("country").distinct
      .collect().map(_.getString(0)).toSeq == Seq("United Kingdom"))
  }

  test("dim_date is a real calendar (not the reference's stale stub)") {
    val d = Dims.dimDate(spark, cfg, daysBack = 30, daysFwd = 5)
    assert(d.count() == 36)
    assert(d.filter($"date_key" === "20250704").count() == 1)
    val weekendDays = d.filter($"is_weekend" === 1)
      .select("day_of_week").distinct.collect().map(_.getString(0)).toSet
    assert(weekendDays == Set("Saturday", "Sunday"))
  }
}
