package graft.domain

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Sheets normalization + incremental warehouse refresh. */
class SheetsIncrementalSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private val cfg = DomainConfig()

  private def silverSheets = Cleanse.toSilver(Cleanse.gsheets(Cleanse.flatten(
    DataGen.bronzeGsheets(spark, GenSpec(), cfg))))

  test("production tracker parses $-money, empty factories, m/d/yyyy dates") {
    val prod = Sheets.productionTracker(silverSheets).cache()
    assert(prod.count() == 20) // header dropped
    assert(prod.filter($"style_no".startsWith("STYLE-")).count() == 20)
    // money always parses (generator always emits $%.2f)
    assert(prod.filter($"cost_usd".isNull).count() == 0)
    assert(prod.filter($"cost_usd" < 10.0 || $"cost_usd" > 50.0).count() == 0)
    // ~10% of dates are empty → null, the rest real dates
    val nullDates = prod.filter($"production_date".isNull).count()
    assert(nullDates < 20)
    assert(prod.filter($"factory" === "").count() == 0) // "" → null
  }

  test("sales tracker parses %-vs-bare commission and normalizes country") {
    val sales = Sheets.salesTracker(silverSheets).cache()
    assert(sales.count() == 15)
    // both "5.2%" and "5.2" forms land in [0.03, 0.08]
    assert(sales.filter($"commission_rate".isNull).count() == 0)
    assert(sales.filter($"commission_rate" < 0.03 - 1e-9 || $"commission_rate" > 0.08 + 1e-9).count() == 0)
    assert(sales.select("country_norm").distinct.collect()
      .map(_.getString(0)).toSet == Set("United States"))
  }

  test("parse health summarizes both sheets") {
    val h = Sheets.parseHealth(silverSheets).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(h == Map("Production Tracker" -> 20L, "Sales Tracker" -> 15L))
  }

  test("incremental warehouse: a new month appends, the same month is idempotent") {
    val dir = Files.createTempDirectory("graft-inc").toString
    val spec = GenSpec(joor = 30, shopify = 40, tiktok = 30, freight = 30)

    // cycle 1: July
    val july = Pipeline.toGold(spark,
      Pipeline.runInMemory(spark, spec, cfg)._1, cfg)
    Pipeline.writeWarehouse(july, dir, Pipeline.TouchedMonths)
    val afterJuly = spark.read.parquet(s"$dir/wholesale_cm2")
    val julyCount = afterJuly.count()
    // parquet partition discovery infers month_key as int — compare as string
    assert(afterJuly.select($"month_key".cast("string")).distinct
      .collect().map(_.getString(0)).toSeq == Seq("202507"))

    // cycle 2: August — new partition, July untouched
    val augCfg = cfg.copy(asOf = java.sql.Timestamp.valueOf("2025-08-15 10:00:00"))
    val august = Pipeline.toGold(spark,
      Pipeline.runInMemory(spark, spec, augCfg)._1, augCfg)
    Pipeline.writeWarehouse(august, dir, Pipeline.TouchedMonths)
    val afterAug = spark.read.parquet(s"$dir/wholesale_cm2")
    assert(afterAug.select("month_key").distinct.count() == 2)
    assert(afterAug.filter($"month_key" === "202507").count() == julyCount)

    // cycle 3: July re-run — idempotent, NOT duplicated (the reference
    // would have appended a third copy by now)
    Pipeline.writeWarehouse(july, dir, Pipeline.TouchedMonths)
    val afterRerun = spark.read.parquet(s"$dir/wholesale_cm2")
    assert(afterRerun.filter($"month_key" === "202507").count() == julyCount)
    assert(afterRerun.filter($"month_key" === "202508").count() > 0)
  }
}
