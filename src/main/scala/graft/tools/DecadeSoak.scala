package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decade-past-bench rehearsal for the OUTPUT-BOUND query tier (VERDICT
  * r9 #3): d17_prefix_filter_join, j10_interval_overlap, and
  * mb1/mb2 market-basket dominate the bench's absolute cost, and their
  * prior soak exponents (0.81 / 0.60 / 0.38 / 0.66) were measured at a
  * single 10× step. This harness takes each one more decade up —
  * ~sf1-equivalent events/lineitem (10× the bench's sf0.1) and a
  * 50k→500k-doc step for d17 — and sweeps the scale DIALS the SCALE.md
  * guidance cites: j10's bucket width, mb's minSupport and
  * fixed-vs-scaled catalog, d17's shingle-universe regime (saturated
  * 31-token vocab vs a Heaps-law vocab growing with the corpus).
  *
  * All corpora are generated Spark-natively (`spark.range` +
  * xxhash64-derived draws — constant driver cost at any N) with the
  * SAME distribution family at 1× and 10×, so each exponent
  * log₁₀(T₁₀ₓ/T₁ₓ) is a pure scaling measure. A fidelity probe times
  * each query on the real sf0.1 testdata next to the synthetic 1× so
  * the generator's realism is itself measured, not assumed.
  *
  * d17's candidate join is PRICED BEFORE IT RUNS: the prefix-postings
  * stage is linear, and Σ df·(df−1)/2 over its postings is exactly the
  * candidate-pair count the join will materialize. If the projection
  * exceeds `candCap` the full run is skipped and the projection itself
  * is the reported datum (no silent cap — the skip is the measurement:
  * a saturated universe makes the exact tier's decade cost explicit).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.DecadeSoak"
  */
object DecadeSoak {

  private val base = "/tmp/graft_decade"
  private val dayUs = 86400000000L

  private def done(spark: SparkSession, dir: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** events mirroring sf0.1's shape: `nUsers` uniform users over a fixed
    * 30-day window (per-user density is the invariant — more scale means
    * more users, as on a real service), 5 uniform event types.
    */
  def genEvents(spark: SparkSession, dir: String, nUsers: Long, nEvents: Long): Unit = {
    if (done(spark, dir, "events")) return
    import spark.implicits._
    val baseUs = 1704067200000000L // 2024-01-01
    spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(lit(baseUs) + pmod(xxhash64($"id", lit("ts")), lit(30 * dayUs))).as("ts"),
      pmod(xxhash64($"id", lit("u")), lit(nUsers)).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
        (pmod(xxhash64($"id", lit("t")), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64($"id", lit("v")), lit(10000L)) / 100.0).as("value"),
      lit("{}").as("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** lineitem mirroring sf0.1's basket shape: baskets of 1–7 lines
    * (avg 4, as the testdata's 600k lines / 147k orders), parts drawn
    * uniformly from an `nParts` catalog (TPC-H's uniform part draw —
    * the real sf0.1 shows no part skew). Only (orderkey, partkey) feed
    * mb1/mb2; the rest of the schema is filled so the pinned loader and
    * any other lineitem query still read it.
    */
  def genLineitem(spark: SparkSession, dir: String, nOrders: Long, nParts: Long): Unit = {
    if (done(spark, dir, "lineitem")) return
    import spark.implicits._
    val baseUs = 1672531200000000L // 2023-01-01
    spark.range(nOrders)
      .select($"id".as("o"),
        explode(expr("sequence(1, 1 + cast(pmod(xxhash64(id, 'k'), 7) as int))")).as("ln"))
      .select(
        $"o".as("l_orderkey"),
        pmod(xxhash64($"o", $"ln", lit("p")), lit(nParts)).as("l_partkey"),
        pmod(xxhash64($"o", $"ln", lit("s")), lit(1000L)).as("l_suppkey"),
        $"ln".cast("int").as("l_linenumber"),
        (pmod(xxhash64($"o", $"ln", lit("q")), lit(50L)) + 1).cast("double").as("l_quantity"),
        ((pmod(xxhash64($"o", $"ln", lit("e")), lit(90000L)) + 1000L) / 100.0).as("l_extendedprice"),
        (pmod(xxhash64($"o", $"ln", lit("d")), lit(11L)) / 100.0).as("l_discount"),
        (pmod(xxhash64($"o", $"ln", lit("t")), lit(9L)) / 100.0).as("l_tax"),
        lit("N").as("l_returnflag"),
        lit("O").as("l_linestatus"),
        timestamp_micros(lit(baseUs) +
          pmod(xxhash64($"o", $"ln", lit("sd")), lit(365 * dayUs))).as("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** documents in the soak-corpus family (10–100 tokens per doc, ~0.2%
    * exact dups drawn from a 200-template pool) with the vocab regime as
    * the dial: `zipf = false` reproduces ScaleSoak's SATURATED 31-token
    * universe (every decade multiplies every shingle's df by 10);
    * `zipf = true` draws token ranks as ⌊V·u³⌋ over a Heaps-law vocab
    * V ≈ √(total tokens) — frequent head, growing rare tail, the shape
    * real text has and the regime d17's prefix rule is designed for.
    */
  def genDocs(spark: SparkSession, dir: String, nDocs: Long, vocab: Long, zipf: Boolean): Unit = {
    if (done(spark, dir, "documents")) return
    import spark.implicits._
    val wordExpr =
      if (zipf)
        s"concat('w', cast(floor($vocab * pow(pmod(xxhash64(tid, 'w', i), 1000000) / 1000000.0, 3.0)) as long))"
      else s"concat('w', pmod(xxhash64(tid, 'w', i), $vocab))"
    spark.range(nDocs).select($"id".as("doc_id"))
      .withColumn("tid",
        when(pmod(xxhash64($"doc_id", lit("dup")), lit(1000L)) < 2,
          pmod(xxhash64($"doc_id", lit("tmpl")), lit(200L)))
          .otherwise($"doc_id" + lit(1000000000L)))
      .withColumn("nw", (lit(10) + pmod(xxhash64($"tid", lit("len")), lit(91))).cast("int"))
      .withColumn("text", expr(s"concat_ws(' ', transform(sequence(1, nw), i -> $wordExpr))"))
      .select(
        $"doc_id",
        $"text",
        element_at(array(lit("en"), lit("zh"), lit("es"), lit("fr"), lit("de")),
          (pmod(xxhash64($"doc_id", lit("lg")), lit(5L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(xxhash64($"doc_id", lit("sr")), lit(20L))).as("source"),
        length($"text").cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def time(body: => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val a = once(); val b = once()
    (math.min(a._1, b._1), b._2)
  }

  private def q(name: String) = graft.SparkEntry.registry.find(_.name == name).get

  private def expo(t1: Double, t10: Double): String =
    f"${math.log(t10 / t1) / math.log(10.0)}%.2f"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import spark.implicits._
    val real = "/root/testdata/sf0.1"

    // ── corpora ────────────────────────────────────────────────────────
    val ev1 = s"$base/ev1x"; val ev10 = s"$base/ev10x"
    genEvents(spark, ev1, 1500L, 100000L)
    genEvents(spark, ev10, 15000L, 1000000L)
    val li1 = s"$base/li1x"; val li10 = s"$base/li10x"; val li10f = s"$base/li10xFixed"
    genLineitem(spark, li1, 150000L, 20000L)
    genLineitem(spark, li10, 1500000L, 200000L)
    genLineitem(spark, li10f, 1500000L, 20000L)
    val ds1 = s"$base/docSat1x"; val ds10 = s"$base/docSat10x"; val ds100 = s"$base/docSat100x"
    genDocs(spark, ds1, 5000L, 31L, zipf = false)
    genDocs(spark, ds10, 50000L, 31L, zipf = false)
    genDocs(spark, ds100, 500000L, 31L, zipf = false)
    // Heaps vocab: V = ceil(sqrt(nDocs * 54.5 avg tokens))
    val dz10 = s"$base/docZipf10x"; val dz100 = s"$base/docZipf100x"
    genDocs(spark, dz10, 50000L, math.ceil(math.sqrt(50000.0 * 54.5)).toLong, zipf = true)
    genDocs(spark, dz100, 500000L, math.ceil(math.sqrt(500000.0 * 54.5)).toLong, zipf = true)
    println("corpora ready")

    // ── j10: sf0.1 fidelity, decade, bucket-width dial ────────────────
    // The driver's own sf scaling densifies a FIXED 30-day window (10×
    // users, constant per-user rate), so the keyless overlap's candidate
    // count Σ_bucket nS·nB grows ~quadratically in sf. Price the join
    // first (two linear aggregates); run the full query only under the
    // cap — the projection is the decade datum either way.
    val candCap = args.headOption.map(_.toLong).getOrElse(300000000L)
    def j10Price(dir: String, w: Long): (Long, Long, Long) = {
      val (sess, burst) = graft.queries.Joins.sessionsAndBursts(spark, dir)
      val nS = sess.count(); val nB = burst.count()
      val sB = sess.withColumn("bucket",
        explode(expr(s"sequence(s_us div $w, e_us div $w)")))
        .groupBy($"bucket").agg(count(lit(1)).as("ns"))
      val bB = burst.withColumn("bucket",
        explode(expr(s"sequence(b_s_us div $w, b_e_us div $w)")))
        .groupBy($"bucket").agg(count(lit(1)).as("nb"))
      val cand = sB.join(bB, "bucket")
        .agg(coalesce(sum($"ns" * $"nb"), lit(0L)).cast("long")).as[Long].head()
      (nS, nB, cand)
    }
    def j10At(dir: String, tag: String, w: Long = 3600000000L): Option[Double] = {
      val (nS, nB, cand) = j10Price(dir, w)
      if (cand > candCap) {
        println(f"j10 $tag (bucket ${w / 60000000L}%d min): $nS%,d sessions x $nB%,d bursts, " +
          f"projected candidates $cand%,d > cap $candCap%,d -> SKIPPED " +
          "(fixed-window densification makes the keyless overlap output-quadratic; " +
          "the dial is population partitioning or the bucket/burst windows)")
        None
      } else {
        val (t, n) = time(graft.queries.Joins.intervalOverlapPlan(spark, dir, w).count())
        println(f"j10 $tag (bucket ${w / 60000000L}%d min): $nS%,d sessions x $nB%,d bursts, " +
          f"candidates $cand%,d | $t%.2f s ($n rows)")
        Some(t)
      }
    }
    val jReal = j10At(real, "real sf0.1")
    val j1 = j10At(ev1, "syn 1x")
    val j10t = j10At(ev10, "syn 10x")
    for (a <- j1; b <- j10t) println(s"j10 decade exponent: ${expo(a, b)}")
    for (w <- Seq(900000000L, 3600000000L, 14400000000L)) j10At(ev10, "dial 10x", w)

    // ── mb1/mb2: fidelity, decade (scaled catalog), dials ─────────────
    for (name <- Seq("mb1_market_basket", "mb2_item_recommendation")) {
      val mq = q(name)
      val (mReal, mRealN) = time(mq.run(spark, real).count())
      val (m1, m1n) = time(mq.run(spark, li1).count())
      val (m10, m10n) = time(mq.run(spark, li10).count())
      println(f"$name: real sf0.1 $mReal%.2f s ($mRealN rows) | syn1x $m1%.2f s ($m1n) | " +
        f"syn10x $m10%.2f s ($m10n) | exponent ${expo(m1, m10)}")
    }
    val (mf, mfN) = time(q("mb1_market_basket").run(spark, li10f).count())
    println(f"mb1 dial: FIXED 20k catalog at 10x orders -> $mf%.2f s ($mfN rows) " +
      "(pair density grows ~100x when the catalog stops scaling)")
    for (ms <- Seq(2, 5, 10)) {
      val b = graft.queries.Basket.baskets(spark, li10f)
      val (t, n) = time(graft.queries.Basket.pairRules(b, ms).count())
      println(f"mb1 dial: minSupport $ms%2d on fixed-catalog 10x -> $t%.2f s ($n rules)")
    }

    // ── d17: candidate pricing, then guarded runs per regime ──────────
    def d17At(dir: String, tag: String): Option[Double] = {
      val c = graft.queries.Dedup.d17PrefixPostings(spark, dir)
        .groupBy($"shingle").agg(count(lit(1)).as("df"))
        .agg(expr("cast(sum((df * (df - 1)) div 2) as long)")).as[Long].head()
      if (c > candCap) {
        println(f"d17 $tag: projected candidates $c%,d > cap $candCap%,d -> SKIPPED " +
          "(the projection is the datum: this regime's decade is output-bound)")
        None
      } else {
        val (t, n) = time(q("d17_prefix_filter_join").run(spark, dir).count())
        println(f"d17 $tag: projected candidates $c%,d | $t%.2f s ($n pairs)")
        Some(t)
      }
    }
    val s1 = d17At(ds1, "sat 1x(5k)")
    val s10 = d17At(ds10, "sat 10x(50k)")
    val s100 = d17At(ds100, "sat 100x(500k)")
    for (a <- s10; b <- s100) println(s"d17 sat decade exponent: ${expo(a, b)}")
    for (a <- s1; b <- s10) println(s"d17 sat first-decade exponent: ${expo(a, b)}")
    val z10 = d17At(dz10, "zipf 10x(50k)")
    val z100 = d17At(dz100, "zipf 100x(500k)")
    for (a <- z10; b <- z100) println(s"d17 zipf decade exponent: ${expo(a, b)}")

    spark.stop()
  }
}
