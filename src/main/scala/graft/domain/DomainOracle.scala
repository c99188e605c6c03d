package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hash-gate for the flagship `domain_exec_daily_kpi` (VERDICT r3 #2).
  *
  * The full reference pipeline (`bronze_to_silver_all_sources.py` →
  * `silver_to_gold.py:643-748` → `scripts/sql/.sql:3-26`) runs over
  * GENERATED bronze, so a DuckDB oracle needs the generated inputs on
  * disk: [[ensureBronze]] persists the four deterministic bronze tables
  * (seeded [[DataGen]], SF-independent — the same bytes at every scale
  * factor) to a fixed path, the Spark side re-reads them and runs
  * cleanse→CM1→CM2→KPI in-engine, and [[sql]] re-derives the identical
  * chain in DuckDB SQL over the same parquet files.
  *
  * The SQL is BUILT from the same [[Geography]] constants the Spark side
  * uses (patterns, residual weights, region buckets) — one source of
  * truth, no hand-kept copy to drift. Cross-engine exactness rests on:
  *  - md5-based draws ([[DomainConfig.draw]]) — bit-identical in DuckDB;
  *  - every double expression mirrored operation-for-operation in the
  *    same association order (IEEE ops are deterministic given identical
  *    operands);
  *  - money snapped to cents via decimal casts at rollup boundaries
  *    ([[graft.queries.Exact]] discipline; divergence window of a
  *    cents-cast on a ~1e2 double is ~1e-12 per value);
  *  - KPI sums in exact decimal (order-independent), ratios as unrounded
  *    double division.
  */
object DomainOracle {

  /** Root under which VERSIONED bronze copies are published: content is
    * deterministic (seeded generator, injected clock) and SF-independent,
    * so one copy per [[genVersion]] serves every scale factor.
    */
  val bronzeRoot: String =
    sys.props.getOrElse("graft.domain.bronze.dir", "/tmp/graft_domain_bronze")

  private val spec = GenSpec()
  private def cfg = DomainConfig(dedupeFreight = true)

  private val tables = Seq("bronze_joor", "bronze_shopify", "bronze_tiktok", "bronze_freight")

  /** Content identity of the persisted bronze. The GenSpec parameters are
    * embedded so a default change self-invalidates any machine's old
    * copy; bump the leading tag when DataGen's derivation itself changes.
    */
  private def genVersion: String =
    s"gen1:joor=${spec.joor}:shopify=${spec.shopify}:tiktok=${spec.tiktok}" +
      s":freight=${spec.freight}:seed=${spec.seed}:linked=${spec.linkedFreight}"

  /** The published location IS version-addressed — the directory name
    * carries a digest of [[genVersion]], so a process running older code
    * (different GenSpec / generator derivation) reads and writes a
    * DIFFERENT path rather than deleting a live copy out from under a
    * concurrent reader. Stale version directories are never removed by
    * this code; they simply stop being referenced.
    */
  val bronzeDir: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(genVersion.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$bronzeRoot/gen-${md.take(6).map("%02x".format(_)).mkString}"
  }

  /** Publish the bronze tables once: build into a private directory, then
    * ONE rename of a directory that did not previously exist makes them
    * visible — concurrent builders (bench + tests, even across processes)
    * race at the rename and losers discard their identical build, so the
    * published directory is never half-written, never deleted, and never
    * observed mid-swap.
    */
  def ensureBronze(spark: SparkSession): String = synchronized {
    import org.apache.hadoop.fs.Path
    val target = new Path(bronzeDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ok: Boolean = tables.forall(t => fs.exists(new Path(s"$bronzeDir/$t/_SUCCESS")))
    if (ok) return bronzeDir

    val build = new Path(bronzeDir + ".build." + java.util.UUID.randomUUID)
    Seq(
      "bronze_joor" -> DataGen.bronzeJoor(spark, spec, cfg),
      "bronze_shopify" -> DataGen.bronzeShopify(spark, spec, cfg),
      "bronze_tiktok" -> DataGen.bronzeTiktok(spark, spec, cfg),
      "bronze_freight" -> DataGen.bronzeFreight(spark, spec, cfg)
    ).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$build/$name")
    }
    val out = fs.create(new Path(build, "_graft_gen_version"), true)
    out.write(genVersion.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()

    // Treat an existing target as a loss EXPLICITLY: Hadoop rename
    // semantics move the source INTO an existing destination directory
    // (returning true) rather than failing, which would leave the losing
    // build as a junk subdirectory inside the published dir.
    if (fs.exists(target) || !fs.rename(build, target)) fs.delete(build, true)
    require(ok, s"domain bronze publish failed: $bronzeDir has no complete copy")
    bronzeDir
  }

  /** The gated query: the full pipeline over the persisted bronze. */
  def query(spark: SparkSession): DataFrame = {
    val dir = ensureBronze(spark)
    def silver(t: String, cleanse: DataFrame => DataFrame): DataFrame =
      Cleanse.toSilver(cleanse(Cleanse.flatten(spark.read.parquet(s"$dir/$t"))))
    val sJoor = silver("bronze_joor", Cleanse.joor)
    val sShop = silver("bronze_shopify", Cleanse.shopify)
    val sTik = silver("bronze_tiktok", Cleanse.tiktok)
    val sFr = silver("bronze_freight", Cleanse.freight)
    val c = cfg
    Kpi.execDailyKpi(Kpi.unionCm2(
      Cm2.joor(Cm1.joor(sJoor, c), sFr, c),
      Cm2.shopify(Cm1.shopify(sShop, c), c),
      Cm2.tiktok(Cm1.tiktok(sTik, c), sFr, c)))
  }

  // ── oracle SQL construction ──────────────────────────────────────────

  /** `DomainConfig.draw` in DuckDB: first 24 md5 bits ÷ 2^24 (exact). */
  private def drawSql(key: String, tag: String): String =
    s"(CAST(CAST('0x' || substr(md5($key || ':$tag'), 1, 6) AS BIGINT) AS DOUBLE)" +
      " / CAST(16777216.0 AS DOUBLE))"

  /** `Geography.country` as a CASE chain: regex rules, then the residual
    * draw cascade, then the default — same branch order as the Spark side.
    */
  private def countrySql(
      buyer: String, key: String,
      patterns: Seq[(String, String)],
      residual: Seq[(Double, String)],
      default: String): String = {
    val pats = patterns.map { case (re, c) =>
      s"WHEN regexp_matches($buyer, '$re') THEN '$c'"
    }
    val draws = residual.zipWithIndex.map { case ((p, c), i) =>
      s"WHEN ${drawSql(key, s"country$i")} < CAST($p AS DOUBLE) THEN '$c'"
    }
    s"CASE ${(pats ++ draws).mkString("\n       ")}\n       ELSE '$default' END"
  }

  /** `Geography.region` isin buckets as a CASE chain. */
  private def regionSql(buckets: Seq[(Seq[String], String)]): String = {
    val rules = buckets.map { case (cs, r) =>
      s"WHEN country IN (${cs.map(c => s"'$c'").mkString(", ")}) THEN '$r'"
    }
    s"CASE ${rules.mkString("\n       ")}\n       ELSE 'Other' END"
  }

  /** `date_format(cfg.asOf, "yyyyMMdd")`, derived — not a hand-kept copy
    * that would drift silently if the default injected clock changed.
    */
  private def dateKey: String =
    cfg.asOf.toLocalDateTime.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd"))

  /** Spark `Exact.dec2(doubleExpr)` — cast double→DECIMAL(18,2), which
    * Spark does HALF_UP on the double's SHORTEST DECIMAL REPR. A direct
    * DuckDB `CAST(x AS DECIMAL)` rounds the binary value half-even and
    * diverges on genuine half-cent ties (a 2-dp price × a 2-dp rate is
    * exactly x.xxx5 whenever the cents digit is odd). Routing through
    * VARCHAR reproduces Spark's semantics: DuckDB's double→VARCHAR cast
    * is the same shortest round-trip repr, the DECIMAL(38,20) parse is
    * exact for the repr of any double in [0.001, 1e18) (17 significant
    * digits fit in 20 places; a narrower parse rounds the repr first, so
    * 174.83499999999998 became 174.835 and then 174.84 where Spark gives
    * 174.83), and decimal `round` is half-up. Pinned by `tools/test_vsnap.py`.
    */
  private def vsnap(x: String): String =
    s"CAST(round(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,20)), 2) AS DECIMAL(18,2))"

  /** Spark `dec2(d2 * dec4(rate))` — exact decimal product, cents snap. */
  private def mul2(a: String, rate: String): String =
    s"CAST(round($a * CAST($rate AS DECIMAL(18,4)), 2) AS DECIMAL(18,2))"

  private def d(v: String): String = s"CAST($v AS DOUBLE)"

  /** Spark `Exact.cents(decimalExpr)` — exact-decimal input, DOUBLE out. */
  private def cents(e: String): String =
    s"CAST(CAST($e AS DECIMAL(18,2)) AS DOUBLE)"

  /** The full chain. Bronze scans mirror `Cleanse` (struct unnest +
    * try_cast + null-fill), per-channel CM1/CM2 mirror `Cm1`/`Cm2`, the
    * tail mirrors `Kpi.unionCm2` + `Kpi.execDailyKpi`.
    */
  def sql: String = {
    val joorCountry = countrySql("buyer_name", "order_no",
      Geography.joorPatterns, Geography.joorResidual, Geography.joorResidualDefault)
    val shopCountry = countrySql("buyer_name", "order_no",
      Seq.empty, Geography.shopifyResidual, Geography.shopifyResidualDefault)
    val tikCountry = countrySql("buyer_name", "order_no",
      Seq.empty, Geography.tiktokResidual, Geography.tiktokResidualDefault)

    s"""WITH
j_silver AS (
  SELECT coalesce(raw_api_data['order_id'], '') AS order_no,
         coalesce(raw_api_data['buyer'], '') AS buyer_name,
         coalesce(TRY_CAST(raw_api_data['price'] AS DOUBLE), ${d("0.0")}) AS price,
         coalesce(TRY_CAST(raw_api_data['quantity'] AS INTEGER), 0) AS quantity
  FROM '$bronzeDir/bronze_joor/*.parquet'
  WHERE kafka_metadata['bronze_timestamp'] > '1900-01-01'),
s_silver AS (
  SELECT coalesce(CAST(raw_api_data['id'] AS VARCHAR), '') AS order_no,
         coalesce(raw_api_data['customer'], '') AS buyer_name,
         coalesce(TRY_CAST(raw_api_data['price'] AS DOUBLE), ${d("0.0")}) AS price,
         coalesce(TRY_CAST(raw_api_data['quantity'] AS INTEGER), 0) AS quantity
  FROM '$bronzeDir/bronze_shopify/*.parquet'
  WHERE kafka_metadata['bronze_timestamp'] > '1900-01-01'),
t_silver AS (
  SELECT coalesce(raw_api_data['order_id'], '') AS order_no,
         coalesce(raw_api_data['buyer'], '') AS buyer_name,
         coalesce(TRY_CAST(raw_api_data['price_cents'] AS DOUBLE) / 100, ${d("0.0")}) AS price,
         coalesce(TRY_CAST(raw_api_data['quantity'] AS INTEGER), 0) AS quantity
  FROM '$bronzeDir/bronze_tiktok/*.parquet'
  WHERE kafka_metadata['bronze_timestamp'] > '1900-01-01'),
f_silver AS (
  SELECT coalesce(TRY_CAST(raw_api_data['cost'] AS DOUBLE), ${d("0.0")}) AS cost,
         coalesce(raw_api_data['order_ref'], '') AS order_reference
  FROM '$bronzeDir/bronze_freight/*.parquet'
  WHERE kafka_metadata['bronze_timestamp'] > '1900-01-01'),
f_dedup AS (
  SELECT order_reference, min(cost) AS cost FROM f_silver GROUP BY 1),
j_cm1 AS (
  SELECT order_no, buyer_name, quantity, price,
       $joorCountry AS country
  FROM j_silver),
j_cm1r AS (SELECT *, ${regionSql(Geography.joorRegions)} AS region FROM j_cm1),
j_roll AS (
  SELECT order_no, buyer_name, country, region,
         CAST(sum(quantity) AS BIGINT) AS qty,
         ${vsnap("sum(price)")} AS net_d2,
         ${vsnap(s"sum(${d("25.0")} * quantity)")} AS pc_d2,
         ${vsnap(s"sum((${d("25.0")} * quantity) * ${d("0.05")})")} AS pcm_d2
  FROM j_cm1r GROUP BY 1, 2, 3, 4),
j_cm2 AS (
  SELECT '$dateKey' AS date_key, r.order_no,
         CAST(r.net_d2 AS DOUBLE) AS net_revenue,
         CAST(((((r.net_d2 - r.pc_d2) - r.pcm_d2)
            - ${mul2("r.net_d2", "0.029")})
            - CAST(CAST(r.qty AS DOUBLE) * ${d("3.0")} AS DECIMAL(18,2)))
            - ${vsnap(s"coalesce(f.cost, ${d("15.0")})")} AS DOUBLE) AS cm2_amount,
         'joor' AS channel_id, r.country, r.region
  FROM j_roll r LEFT JOIN f_dedup f ON r.order_no = f.order_reference),
s_cm1 AS (
  SELECT order_no, buyer_name, quantity, price,
         (price - ${d("20.0")}) - (${d("20.0")} * ${d("0.05")}) AS margin,
       $shopCountry AS country
  FROM s_silver),
s_cm1r AS (SELECT *, ${regionSql(Geography.shopifyRegions)} AS region FROM s_cm1),
s_roll AS (
  SELECT order_no, buyer_name, country, region,
         CAST(sum(quantity) AS BIGINT) AS qty,
         ${vsnap("sum(price)")} AS net_d2,
         ${vsnap("sum(margin)")} AS cm1_d2
  FROM s_cm1r GROUP BY 1, 2, 3, 4),
s_cm2 AS (
  SELECT '$dateKey' AS date_key, order_no,
         CAST(net_d2 AS DOUBLE) AS net_revenue,
         CAST(((((cm1_d2
            - CAST(CAST(qty AS DOUBLE) * ${d("3.0")} AS DECIMAL(18,2)))
            - ${vsnap(s"""CASE WHEN ${drawSql("order_no", "ship")} < ${d("0.7")}
                    THEN ${d("12.0")} + (${drawSql("order_no", "shipcost")} * ${d("8.0")})
                    ELSE ${d("12.0")} END""")})
            - CAST(8.0 AS DECIMAL(18,2))) + CAST(0.0 AS DECIMAL(18,2)))
            - ${mul2("net_d2", "0.029")} AS DOUBLE) AS cm2_amount,
         'shopify' AS channel_id, country, region
  FROM s_roll),
t_cm1 AS (
  SELECT order_no, buyer_name, quantity, price,
       $tikCountry AS country
  FROM t_silver),
t_cm1r AS (SELECT *, ${regionSql(Geography.tiktokRegions)} AS region FROM t_cm1),
t_roll AS (
  SELECT order_no, buyer_name, country, region,
         CAST(sum(quantity) AS BIGINT) AS qty,
         ${vsnap("sum(price)")} AS net_d2,
         ${vsnap(s"sum(${d("18.0")})")} AS pc_d2,
         ${vsnap(s"sum(${d("18.0")} * ${d("0.05")})")} AS pcm_d2
  FROM t_cm1r GROUP BY 1, 2, 3, 4),
t_cm2 AS (
  SELECT '$dateKey' AS date_key, r.order_no,
         CAST(r.net_d2 AS DOUBLE) AS net_revenue,
         CAST(((((r.net_d2 - r.pc_d2) - r.pcm_d2)
            - CAST(CAST(r.qty AS DOUBLE) * ${d("3.0")} AS DECIMAL(18,2)))
            - ${vsnap(s"coalesce(f.cost, ${d("10.0")})")})
            - ${mul2("r.net_d2", "0.05")} AS DOUBLE) AS cm2_amount,
         'tiktok' AS channel_id, r.country, r.region
  FROM t_roll r LEFT JOIN f_dedup f ON r.order_no = f.order_reference),
unioned AS (
  SELECT date_key, order_no, net_revenue, cm2_amount, channel_id, country, region FROM j_cm2
  UNION ALL
  SELECT date_key, order_no, net_revenue, cm2_amount, channel_id, country, region FROM s_cm2
  UNION ALL
  SELECT date_key, order_no, net_revenue, cm2_amount, channel_id, country, region FROM t_cm2),
kpi AS (
  SELECT date_key, channel_id, country, region,
         ${cents("sum(CAST(net_revenue AS DECIMAL(18,2)))")} AS total_revenue,
         ${cents("sum(CAST(cm2_amount AS DECIMAL(18,2)))")} AS net_margin,
         count(DISTINCT order_no) AS total_orders
  FROM unioned GROUP BY 1, 2, 3, 4)
SELECT date_key, channel_id, country, region,
       strptime(date_key, '%Y%m%d')::DATE AS "date",
       total_revenue, net_margin, total_orders,
       total_revenue / total_orders AS avg_order_value,
       (net_margin / total_revenue) * ${d("100.0")} AS margin_percentage
FROM kpi
ORDER BY date_key DESC"""
  }
}
