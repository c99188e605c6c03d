package graft.domain

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Every `--faithful` quirk pinned BOTH ways (VERDICT r4 #7): the
  * reference's observable behavior under the flag, the engine's fix
  * without it. The four quirks (SURVEY §2.7/§2.8 "hard parts"):
  *
  *  - F4: each residual `when` branch draws an INDEPENDENT uniform, so
  *    the reference's comment-documented "percentages" compound —
  *    branch i actually fires with pᵢ·Π(1−pⱼ, j<i). Faithful mode uses
  *    real `rand()` (non-deterministic across classifier instances);
  *    the fix derives the draw from md5(key:branch) — same compounded
  *    distribution, bit-stable per row.
  *  - F12: `payment_source == "hilldun"` vs emitted `"Hilldun"` — dead
  *    predicate faithfully, case-insensitive when fixed (GoldSpec holds
  *    the full money-column pin; re-pinned compactly here).
  *  - J1b: the freight left join fans out when an order owns several
  *    freight rows; `dedupeFreight` pre-aggregates to one row per order.
  *  - §2.8: the reference re-appends every gold mart each run (its
  *    checkpoint is saved but never read) — blind `append` duplicates;
  *    the engine's writers are idempotent per run.
  */
class FaithfulSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private val cfg = DomainConfig()
  private val n = 40000L

  // buyers that match NO joor pattern → every row falls through to the
  // residual cascade ("plain buyer <n>" contains no pattern token)
  private def buyers = spark.range(n).select(
    concat(lit("plain buyer "), $"id").as("buyer"),
    concat(lit("ORD-"), $"id").as("order_no"))

  private def assign(c: DomainConfig) = buyers.select(
    Geography.country($"buyer", $"order_no", c, Geography.joorPatterns,
      Geography.joorResidual, Geography.joorResidualDefault).as("country"))

  private def freq(c: DomainConfig): Map[String, Double] =
    assign(c).groupBy($"country").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble / n).toMap

  // compounded expectations for the first three joor residual branches:
  // P(US)=.35 (+ the default branch also lands on US), P(UK)=.65·.12,
  // P(DE)=.65·.88·.08 — NOT the nominal .12/.08 the reference comments
  private val pUk = 0.65 * 0.12        // 0.078
  private val pDe = 0.65 * 0.88 * 0.08 // 0.0458

  test("F4 faithful: real rand() compounds branch probabilities (not nominal)") {
    val f = freq(cfg.copy(faithfulRand = true))
    // ±0.012 ≈ 9σ at n=40k for p≈0.078 — loose enough to never flake,
    // tight enough to refute the nominal reading (0.12 is 31σ out)
    assert(math.abs(f("United Kingdom") - pUk) < 0.012,
      s"UK freq ${f("United Kingdom")} vs compounded $pUk")
    assert(math.abs(f.getOrElse("Germany", 0.0) - pDe) < 0.012,
      s"DE freq ${f.getOrElse("Germany", 0.0)} vs compounded $pDe")
    // and it is genuinely non-deterministic: two classifier instances
    // seed rand() independently → assignments differ somewhere
    val a = assign(cfg.copy(faithfulRand = true)).collect().map(_.getString(0))
    val b = assign(cfg.copy(faithfulRand = true)).collect().map(_.getString(0))
    assert(!(a sameElements b), "faithful rand() produced identical assignments twice")
  }

  test("F4 fixed: md5-derived draws keep the SAME compounded distribution, bit-stably") {
    val f = freq(cfg)
    assert(math.abs(f("United Kingdom") - pUk) < 0.012,
      s"UK freq ${f("United Kingdom")} vs compounded $pUk")
    assert(math.abs(f.getOrElse("Germany", 0.0) - pDe) < 0.012,
      s"DE freq ${f.getOrElse("Germany", 0.0)} vs compounded $pDe")
    val a = assign(cfg).collect().map(_.getString(0))
    val b = assign(cfg).collect().map(_.getString(0))
    assert(a sameElements b, "deterministic draws changed between evaluations")
  }

  // shared two-order fixture for the F12/J1b re-pins (GoldSpec's shape)
  private val joorSilver = Seq(
    ("JO-1", "Acme Apparel", 150.0, 10, "JOR-1"),
    ("JO-2", "Acme Apparel", 80.0, 4, "JOR-3")
  ).toDF("order_id", "buyer", "price", "quantity", "sku")
  private val freightSilver = Seq(
    ("DHL1", "dhl", 20.0, "JO-1"),
    ("UPS1", "ups", 30.0, "JO-1")
  ).toDF("tracking_number", "provider", "cost", "order_reference")

  test("F12: dead hilldun predicate faithfully, live case-insensitive when fixed") {
    val cm1 = Cm1.joor(joorSilver, cfg)
    val faithful = Cm2.joor(cm1, freightSilver, cfg.copy(dedupeFreight = true))
    assert(faithful.filter($"insurance" =!= 0.0).count() == 0)
    assert(faithful.filter($"trx_fees" === 0.0).count() == 0)
    val fixed = Cm2.joor(cm1, freightSilver,
      cfg.copy(dedupeFreight = true, fixHilldunCase = true))
    assert(fixed.filter($"insurance" === 0.0).count() == 0)
    assert(fixed.filter($"trx_fees" =!= 0.0).count() == 0)
  }

  test("J1b: freight join fans out faithfully, one row per order when deduped") {
    val cm1 = Cm1.joor(joorSilver, cfg)
    assert(Cm2.joor(cm1, freightSilver, cfg)
      .filter($"order_no" === "JO-1").count() == 2)
    assert(Cm2.joor(cm1, freightSilver, cfg.copy(dedupeFreight = true))
      .filter($"order_no" === "JO-1").count() == 1)
  }

  test("§2.8: blind gold re-append duplicates marts; the engine's writers are idempotent") {
    val spec = GenSpec(joor = 40, shopify = 40, tiktok = 40, freight = 30)
    val (_, gold, _) = Pipeline.runInMemory(spark, spec, cfg.copy(dedupeFreight = true))
    val mart = gold.joorCm2.withColumn("month_key", substring($"date_key", 1, 6))
    val rows = mart.count()
    val dir = Files.createTempDirectory("faithful-gold").toString

    // the reference's cycle: append each run, never read the checkpoint
    mart.write.mode("append").partitionBy("month_key").parquet(s"$dir/ref_append")
    mart.write.mode("append").partitionBy("month_key").parquet(s"$dir/ref_append")
    assert(spark.read.parquet(s"$dir/ref_append").count() == 2 * rows,
      "blind append must duplicate (the reference's observable §2.8 behavior)")

    // engine fix 1: full overwrite per run
    Pipeline.writeWarehouse(gold, s"$dir/wh", Pipeline.WholeTable)
    Pipeline.writeWarehouse(gold, s"$dir/wh", Pipeline.WholeTable)
    assert(spark.read.parquet(s"$dir/wh/wholesale_cm2").count() == rows)

    // engine fix 2: dynamic partition overwrite (touched months only)
    Pipeline.writeWarehouse(gold, s"$dir/whi", Pipeline.TouchedMonths)
    Pipeline.writeWarehouse(gold, s"$dir/whi", Pipeline.TouchedMonths)
    assert(spark.read.parquet(s"$dir/whi/wholesale_cm2").count() == rows)

    // both scopes publish every mart identically: same month directories,
    // same rows
    def months(scope: String, mart: String): Seq[String] =
      new java.io.File(s"$dir/$scope/$mart").listFiles().map(_.getName)
        .filter(_.startsWith("month_key=")).sorted.toSeq
    for (m <- Pipeline.Mart.all.map(_.name)) {
      assert(months("wh", m).nonEmpty && months("wh", m) == months("whi", m),
        s"$m: ${months("wh", m)} vs ${months("whi", m)}")
      val (wh, whi) = (spark.read.parquet(s"$dir/wh/$m"), spark.read.parquet(s"$dir/whi/$m"))
      assert(wh.count() == whi.count() && wh.exceptAll(whi).isEmpty &&
        whi.exceptAll(wh).isEmpty, s"$m differs between the two scopes")
    }
  }
}
