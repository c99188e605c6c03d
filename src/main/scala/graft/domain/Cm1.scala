package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CM1 item-level margin marts (SURVEY §2.2 P6, reference
  * `silver_to_gold.py:267-497`): one wide enrichment projection per
  * channel over its silver orders — processing-date stamps, geography
  * assignment, unit economics, contribution margin.
  *
  * All three are pure narrow projections (zero shuffle); the when-chains
  * and regexes stay inside whole-stage codegen. Operand order in the
  * margin arithmetic matches the reference for float reproducibility.
  */
object Cm1 {

  /** Joor B2B wholesale item mart (`silver_to_gold.py:267-354`).
    * Per-unit cost model: unit_cost = 25.0 × qty.
    */
  def joor(silver: DataFrame, cfg: DomainConfig): DataFrame =
    joorAt(silver, cfg, to_date(lit(cfg.asOf)))

  /** As [[joor]] but with the processing-date stamp taken from `dateCol`
    * instead of the injected constant clock — the streaming face stamps
    * each silver row with its micro-batch's ingest date, so a later
    * partition recompute reproduces the stamps the original batches wrote
    * (see `streaming/StreamingGold`).
    */
  def joorAt(silver: DataFrame, cfg: DomainConfig, dateCol: Column): DataFrame = {
    val c = Geography.country(col("buyer"), col("order_id"), cfg,
      Geography.joorPatterns, Geography.joorResidual, Geography.joorResidualDefault)
    silver.select(
      date_format(dateCol, "yyyyMMdd").as("date_key"),
      dateCol.as("date"),
      col("order_id").as("order_no"),
      col("sku").as("style_no"),
      col("sku").as("style_name"),
      lit("").as("unified_style_no"),
      lit("").as("unified_style_name"),
      lit("Hilldun").as("payment_source"),     // F12: note the capital H
      lit("").as("season"),
      col("buyer").as("buyer_name"),
      lit("Net 30").as("payment_terms"),
      c.as("country"),
      lit("USD").as("currency"),
      col("quantity").as("qty"),
      col("price").as("gross_revenue"),
      lit(0.0).as("total_discount"),
      col("price").as("net_revenue"),
      (col("price") / col("quantity")).as("item_gross_price"),
      lit(0.0).as("item_discount"),
      (col("price") / col("quantity")).as("item_net_price"),
      lit(25.0).as("avg_item_unit_cost"),
      (lit(25.0) * col("quantity")).as("unit_cost"),
      lit(0.05).as("prod_com_percent"),
      (lit(25.0) * col("quantity") * lit(0.05)).as("prod_com"),
      (col("price") - (lit(25.0) * col("quantity"))
        - (lit(25.0) * col("quantity") * lit(0.05))).as("margin"),
      lit("joor").as("channel_id"))
      .withColumn("region", Geography.region(col("country"), Geography.joorRegions))
  }

  /** Shopify DTC item mart (`silver_to_gold.py:358-428`).
    * Flat cost model: item_unit_cost = 20.0 per item row.
    */
  def shopify(silver: DataFrame, cfg: DomainConfig): DataFrame = {
    val dateCol = to_date(lit(cfg.asOf))
    val c = Geography.country(col("customer_name"), col("order_id"), cfg,
      Seq.empty, Geography.shopifyResidual, Geography.shopifyResidualDefault)
    silver.select(
      date_format(dateCol, "yyyyMMdd").as("date_key"),
      dateCol.as("date"),
      col("order_id").as("order_no"),
      col("sku").as("style_no"),
      col("sku").as("style_name"),
      lit("").as("unified_style_no"),
      lit("").as("unified_style_name"),
      col("customer_name").as("buyer_name"),
      c.as("country"),
      lit("SGD").as("currency"),
      col("quantity").as("qty"),
      col("price").as("gross_revenue"),
      lit(0.0).as("total_discount"),
      col("price").as("net_revenue"),
      (col("price") / col("quantity")).as("item_gross_price"),
      lit(0.0).as("item_discount"),
      (col("price") / col("quantity")).as("item_net_price"),
      lit(0.0).as("total_returns"),
      lit("USD").as("unit_cost_currency"),
      lit(20.0).as("item_unit_cost"),
      lit(0.05).as("prod_com_percent"),
      (lit(20.0) * lit(0.05)).as("prod_com"),
      (col("price") - lit(20.0) - (lit(20.0) * lit(0.05))).as("margin"),
      lit("shopify").as("channel_id"))
      .withColumn("region", Geography.region(col("country"), Geography.shopifyRegions))
  }

  /** TikTok livestream item mart (`silver_to_gold.py:432-497`).
    * Flat cost model: item_unit_cost = 18.0 per item row.
    */
  def tiktok(silver: DataFrame, cfg: DomainConfig): DataFrame = {
    val dateCol = to_date(lit(cfg.asOf))
    val c = Geography.country(col("buyer_name"), col("order_id"), cfg,
      Seq.empty, Geography.tiktokResidual, Geography.tiktokResidualDefault)
    silver.select(
      date_format(dateCol, "yyyyMMdd").as("date_key"),
      dateCol.as("date"),
      col("order_id").as("order_no"),
      col("sku").as("style_no"),
      col("sku").as("style_name"),
      lit("").as("unified_style_no"),
      lit("").as("unified_style_name"),
      col("buyer_name"),
      c.as("country"),
      lit("SGD").as("currency"),
      col("quantity").as("qty"),
      col("price").as("gross_revenue"),
      lit(0.0).as("total_discount"),
      col("price").as("net_revenue"),
      (col("price") / col("quantity")).as("item_gross_price"),
      lit(0.0).as("item_discount"),
      (col("price") / col("quantity")).as("item_net_price"),
      lit(0.0).as("total_returns"),
      lit("USD").as("unit_cost_currency"),
      lit(18.0).as("item_unit_cost"),
      lit(0.05).as("prod_com_percent"),
      (lit(18.0) * lit(0.05)).as("prod_com"),
      (col("price") - lit(18.0) - (lit(18.0) * lit(0.05))).as("margin"),
      lit("tiktok").as("channel_id"))
      .withColumn("region", Geography.region(col("country"), Geography.tiktokRegions))
  }
}
