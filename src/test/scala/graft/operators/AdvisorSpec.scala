package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit
import graft.domain.{DataGen, DomainConfig, GenSpec, Pipeline}

/** The WIRED advisor sites (VERDICT r12 next #1). Contracts:
  *  - disarmed (the default) is a true no-op: hand plans run unchanged
  *    and the ledger stays empty — bench and the gated registry never
  *    pay the pricing toll;
  *  - armed, each wired site executes the advisor's verdict and the
  *    RESULT is identical to the hand plan's (the property that makes
  *    arming safe);
  *  - on the REAL tables the advisor AGREES with the hand-picked
  *    strategy (q9's fact⋈orders: Spark's own stats broadcast the
  *    orders side, and so does the advisor; cm2's freight join: the
  *    hand plan hints broadcast, the advisor prices broadcast_b) — any
  *    future disagreement fails here and becomes a NOTES finding;
  *  - the wired gold write sizes partitions by z4's arithmetic.
  */
class AdvisorSpec extends AnyFunSuite with SparkTestKit {

  private def armed[T](body: => T): T = {
    spark.conf.set(Advisor.armFlag, "true")
    try body finally {
      spark.conf.set(Advisor.armFlag, "false")
      Advisor.clear(spark)
    }
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.mkString("|")).groupBy(identity).view.mapValues(_.length).toMap

  test("disarmed is the default and records nothing") {
    Advisor.clear(spark)
    val disarmedQ9 = graft.queries.Warehouse2.q9Profit.run(spark, sfDir)
    disarmedQ9.collect()
    assert(Advisor.decisions(spark).isEmpty)
  }

  test("q9 armed: advisor broadcasts the orders side, agreeing with Spark's own plan; result identical") {
    Advisor.clear(spark)
    val hand = graft.queries.Warehouse2.q9Profit.run(spark, sfDir)
    val handRows = multiset(hand)
    // the hand plan defers to Spark's stats — which broadcast EVERY join
    // side at this scale, the orders side included (no shuffle join
    // anywhere in the executed plan): the strategy the advisor must agree
    // with
    val plan = hand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
    val (armedRows, decisions) = armed {
      val df = graft.queries.Warehouse2.q9Profit.run(spark, sfDir)
      (multiset(df), Advisor.decisions(spark))
    }
    assert(armedRows == handRows)
    val d = decisions.find(_.site == "q9_lineitem_orders").get
    assert(d.chosen == "broadcast_b" && d.agreed, s"advisor disagreed: $d")
  }

  test("q18 armed: the orders-rollup site prices within 'auto'; result identical") {
    Advisor.clear(spark)
    val hand = multiset(graft.queries.Warehouse.q18BigOrders.run(spark, sfDir))
    val (armedRows, decisions) = armed {
      val df = graft.queries.Warehouse.q18BigOrders.run(spark, sfDir)
      (multiset(df), Advisor.decisions(spark))
    }
    assert(armedRows == hand)
    val d = decisions.find(_.site == "q18_orders_bigrollup").get
    assert(d.agreed, s"advisor disagreed with Spark's own plan at q18: $d")
  }

  test("cm2 freight joins armed: advisor prices broadcast_b, agreeing with the hand hint; marts identical") {
    Advisor.clear(spark)
    val cfg = DomainConfig(dedupeFreight = true)
    val spec = GenSpec(joor = 60, shopify = 80, tiktok = 70, freight = 60)
    def marts(): (Map[String, Int], Map[String, Int]) = {
      val (_, gold, _) = Pipeline.runInMemory(spark, spec, cfg)
      (multiset(gold.joorCm2), multiset(gold.tiktokCm2))
    }
    val (handJoor, handTiktok) = marts()
    val ((armedJoor, armedTiktok), decisions) = armed {
      (marts(), Advisor.decisions(spark))
    }
    assert(armedJoor == handJoor && armedTiktok == handTiktok)
    for (site <- Seq("cm2_joor_freight", "cm2_tiktok_freight")) {
      val d = decisions.find(_.site == site).get
      assert(d.chosen == "broadcast_b" && d.agreed,
        s"advisor disagreed with the hand broadcast hint at $site: $d")
    }
  }

  test("gold write armed: z4 sizing applied, contents unchanged") {
    Advisor.clear(spark)
    val cfg = DomainConfig()
    val spec = GenSpec(joor = 40, shopify = 60, tiktok = 50, freight = 40)
    val (_, gold, _) = Pipeline.runInMemory(spark, spec, cfg)
    val base = java.nio.file.Files.createTempDirectory("advisor_gold").toString
    Pipeline.writeWarehouse(gold, s"$base/hand", Pipeline.WholeTable)
    val decisions = armed {
      Pipeline.writeWarehouse(gold, s"$base/armed", Pipeline.WholeTable)
      Advisor.decisions(spark)
    }
    // every mart write recorded a z4 verdict with the exact PER-MONTH
    // arithmetic: Σ over month_key of ⌈month_bytes / 64 MiB⌉ (a global
    // ⌈total/64 MiB⌉ would undercount — partitioned writes size each
    // table partition separately)
    val writes = decisions.filter(_.site.startsWith("gold_write_"))
    assert(writes.size == 7, s"got ${writes.map(_.site)}")
    import org.apache.spark.sql.functions.{col, substring, sum}
    def monthly(df: DataFrame) =
      df.withColumn("month_key", substring(col("date_key"), 1, 6))
    val frames = Map(
      "wholesale_cm1" -> monthly(gold.joorCm1),
      "wholesale_cm2" -> monthly(gold.joorCm2),
      "shopify_cm1" -> monthly(gold.shopifyCm1),
      "shopify_cm2" -> monthly(gold.shopifyCm2),
      "livestreaming_cm1" -> monthly(gold.tiktokCm1),
      "livestreaming_cm2" -> monthly(gold.tiktokCm2),
      "fact_freight" -> monthly(gold.factFreight))
    val t = graft.queries.ScaleOps.targetShuffleBytes
    writes.foreach { d =>
      val f = frames(d.site.stripPrefix("gold_write_"))
      val perMonth = f.groupBy(col("month_key"))
        .agg(sum(PlannedJoin.rowBytesCol(f)).as("b"))
        .collect().map(_.getAs[Long]("b"))
      val expected = perMonth.map(b => math.max(1L, (b + t - 1) / t)).sum
      assert(d.chosen == s"write_partitions_$expected", s"$d")
      assert(d.bytesA == perMonth.sum, s"$d")
    }
    // contents byte-identical per table
    for (t <- Seq("wholesale_cm2", "shopify_cm2", "livestreaming_cm2",
        "fact_freight", "wholesale_cm1")) {
      val a = multiset(spark.read.parquet(s"$base/hand/$t"))
      val b = multiset(spark.read.parquet(s"$base/armed/$t"))
      assert(a == b, s"table $t diverged under armed write sizing")
    }
  }

  test("armed partitioned write salts each table partition to its advised bucket count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Advisor.clear(spark)
    // two months, each well past a 64 KB operating point at the byte
    // model — the defect this pins: hash-repartitioning on month_key
    // alone sent every month to ONE task (one file per month regardless
    // of the advised count); the salt is what makes the operating point
    // real
    val target = 64L * 1024
    val df = spark.range(0, 20000).select(
      concat(lit("2024"), lpad((($"id" % 2) + 1).cast("string"), 2, "0"))
        .as("month_key"),
      $"id".as("k"),
      concat(lit("p" * 20), $"id".cast("string")).as("payload"))
    val base = java.nio.file.Files.createTempDirectory("advisor_salt").toString
    df.write.mode("overwrite").partitionBy("month_key").parquet(s"$base/hand")
    armed {
      Advisor.writeSized("spec_salted_write", df, Seq("month_key"), target) {
        _.write.mode("overwrite").partitionBy("month_key").parquet(s"$base/armed")
      }
      val d = Advisor.decisions(spark).find(_.site == "spec_salted_write").get
      val perMonth = df.groupBy($"month_key")
        .agg(sum(PlannedJoin.rowBytesCol(df)).as("b"))
        .collect().map(r => r.getString(0) ->
          math.max(1L, (r.getAs[Long]("b") + target - 1) / target)).toMap
      assert(perMonth.values.forall(_ >= 2),
        s"fixture must advise multiple buckets per month: $perMonth")
      assert(d.chosen == s"write_partitions_${perMonth.values.sum}", s"$d")
      // each month directory holds MULTIPLE files, bounded by its
      // advised bucket count (salt collisions can merge buckets into a
      // shared task, never split them)
      perMonth.foreach { case (m, buckets) =>
        val files = new java.io.File(s"$base/armed/month_key=$m")
          .listFiles().count(_.getName.endsWith(".parquet"))
        assert(files > 1 && files <= buckets,
          s"month $m wrote $files files for $buckets advised buckets")
      }
    }
    // contents identical to the hand write
    assert(multiset(spark.read.parquet(s"$base/armed")) ==
      multiset(spark.read.parquet(s"$base/hand")),
      "salted write changed the multiset")
  }

  test("a STALE broadcast hint at scale: the advisor out-picks it and records the disagreement") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Advisor.clear(spark)
    // the dimension that outgrew its hint: ~15 MB payload (> the 10 MiB
    // threshold), joined by a fact that is itself too big to broadcast
    // (~24 MB) — the hand plan still hints broadcast_b from the days the
    // dim was small; the advisor prices both sides and picks shuffle
    val dim = spark.range(0, 30000).select($"id".as("k"),
      concat(lit("x" * 496), $"id".cast("string")).as("payload"))
    val fact = spark.range(0, 1500000).select(
      pmod($"id", lit(30000L)).as("k"), $"id".as("v"))
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      // DECIMAL(38,0) accumulation: 1.5M int64 hashes summed overflow
      // long under ANSI (the engine's own e34 discipline)
      val r = df.agg(count(lit(1)),
        sum(xxhash64($"k", $"v", $"payload").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val hand = digest(fact.join(broadcast(dim), Seq("k")))
    val (armedDigest, ds) = armed {
      val df = Advisor.join("spec_stale_hint", "broadcast_b", fact, dim,
        Seq("k"))(fail("hand plan must not run when armed"))
      (digest(df), Advisor.decisions(spark))
    }
    assert(armedDigest == hand, "the out-picked plan must return the same multiset")
    val d = ds.find(_.site == "spec_stale_hint").get
    assert(d.chosen == "shuffle" && !d.agreed,
      s"the advisor must override the stale hint and record the disagreement: $d")
    assert(d.bytesB > PlannedJoin.broadcastThresholdBytes &&
      d.bytesA > PlannedJoin.broadcastThresholdBytes,
      s"fixture must be over-threshold on both sides: $d")
  }

  test("an armed wired site surfaces the advisor's refusal (cap) instead of running blind") {
    import spark.implicits._
    Advisor.clear(spark)
    // 20k² = 4×10⁸ priced output rows — past the 3×10⁸ cap of SCALE.md's
    // "Decade-past-bench rehearsal for the output-bound tier"
    val hot = (0 until 20000).map(_ => (1, "x")).toDF("k", "v")
    val err = intercept[IllegalStateException] {
      armed {
        Advisor.join("spec_hot_site", "auto", hot,
          hot.toDF("k", "w"), Seq("k")) { fail("hand plan must not run when armed") }
          .count()
      }
    }
    assert(err.getMessage.contains("refusing to run"))
  }
}
