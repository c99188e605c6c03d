package graft.domain

import java.nio.file.Files

/** Runnable end-to-end batch demo (the README example):
  * `sbt "runMain graft.domain.PipelineDemo"` — generated messy bronze →
  * silver → gold warehouse (monthly partitions) → `exec_daily_kpi` via
  * Spark SQL, printed.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(4)

    val cfg = DomainConfig(dedupeFreight = true)
    val spec = GenSpec()
    val (silver, gold, _) = Pipeline.runInMemory(spark, spec, cfg)
    val dir = Files.createTempDirectory("demo-warehouse").toString
    Pipeline.writeWarehouse(gold, dir, Pipeline.WholeTable)
    Pipeline.registerViews(spark, dir)

    println(s"[pipeline-demo] silver rows: joor=${silver.joor.count()} " +
      s"shopify=${silver.shopify.count()} tiktok=${silver.tiktok.count()} " +
      s"freight=${silver.freight.count()}")
    val kpi = spark.sql(
      """SELECT channel_id, round(sum(total_revenue), 2) AS revenue,
        |       sum(total_orders) AS orders,
        |       round(sum(net_margin) / sum(total_revenue) * 100, 1) AS margin_pct
        |FROM exec_daily_kpi GROUP BY channel_id ORDER BY channel_id""".stripMargin)
      .collect()
    kpi.foreach(r => println(s"[pipeline-demo] ${r.getString(0)}: revenue=${r.get(1)} " +
      s"orders=${r.get(2)} margin=${r.get(3)}%"))
    assert(kpi.length == 3, "expected all three channels in the KPI view")
    println(s"[pipeline-demo] warehouse at $dir (monthly-partitioned parquet)")
    spark.stop()
  }
}
