package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LateralJoin,
  LocalLimit, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs at sf0.001, is deterministic, and respects
  * the registry contract (unique names, oracle keys ⊆ query keys).
  */
class RegistrySpec extends AnyFunSuite with SparkTestKit {

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("COVERAGE.md's generated gate map matches the registry (run `sbt coverageMap` after registry changes)") {
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val want = graft.tools.CoverageMap.generated()
    assert(cov.contains(want),
      "COVERAGE.md gate map is stale or missing — regenerate with `sbt coverageMap`")
  }

  test("one session config, one catalog: the only builder, the only registrar, no build-only Spark flags") {
    import scala.jdk.CollectionConverters._
    val mainSrc = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).toMap
    def sitesOf(token: String): Map[String, Int] = mainSrc
      .map { case (p, s) => p -> s.sliding(token.length).count(_ == token) }.filter(_._2 > 0)
    assert(sitesOf("SparkSession.builder(") ==
      Map("src/main/scala/graft/GraftSession.scala" -> 1))
    val registrars = (sitesOf("createOrReplaceTempFunction").keySet ++
      sitesOf("registerFunction").keySet)
    assert(registrars == Set("src/main/scala/graft/Graft.scala"), registrars)
    // the allowed mains: Bench and Verify, the two demos, and three tools
    val mains = sitesOf("def main(").keySet
      .map(_.stripPrefix("src/main/scala/graft/").stripSuffix(".scala"))
    assert(mains == Set("Bench", "Verify", "domain/PipelineDemo", "streaming/StreamDemo",
      "tools/CoverageMap", "tools/PlanSnap", "tools/Soak"), mains)
    val build = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")), "UTF-8")
    assert(!build.contains("-Dspark."), "Spark settings belong in GraftSession.local")
    // the session the tests run on got its settings from the config alone
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.extensions") == classOf[functions.GraftExtensions].getName)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench COMPACT summary line always survives the driver's log-tail window") {
    // the driver keeps only the last ~2000 chars of the build log,
    // front-truncated: the full per-query line has never fit at 112
    // queries (BENCH_r01–r04 all record parsed: null). Bench therefore
    // prints a compact summary LAST — guard that its worst case plus the
    // sbt epilogue ("[success] Total time: …", ~80 chars observed in
    // BENCH_r04's tail) still leaves the whole compact line inside the
    // window. Worst-case widths: 5-digit total, 3 longest error names +
    // "+N more", 2-digit calibration pair, 3-digit rerun count.
    val worstErrs = (SparkEntry.registry.sortBy(-_.name.length).take(3)
      .map("\"" + _.name + "\"") :+ "\"+109 more\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":99999.999,"unit":"sec","nq":${SparkEntry.registry.size},""" +
        s""""errors":$worstErrs,"cal":{"start":99.99,"end":99.99,"ratio_vs_prev":99.99},"reruns":112,""" +
        s""""detail":"/tmp/graft_bench.json","sf":"/root/testdata/sf0.1"}"""
    assert(line.length + 120 < 2000,
      s"bench compact line ${line.length} chars — too close to the 2000-char tail window")
  }

  test("every registry name is documented in COVERAGE.md (drift catch)") {
    val coverage = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), java.nio.charset.StandardCharsets.UTF_8)
    val missing = SparkEntry.registry.map(_.name).filterNot(coverage.contains)
    assert(missing.isEmpty,
      s"queries missing from COVERAGE.md: ${missing.mkString(", ")}")
  }

  test("every oracle text is distinct (copy-paste catch)") {
    // d6b is the bloom-prefiltered plan for d6's exact semantics — same
    // expected output by DESIGN, so the shared oracle is the gate that the
    // prefilter drops nothing. Any other identical pair is a paste error.
    val intentional = Set(Set("d6_contamination", "d6b_bloom_contamination"))
    val dups = SparkEntry.oracleSql.groupBy(_._2).collect {
      case (_, entries) if entries.size > 1 && !intentional(entries.keySet) =>
        entries.keys.mkString("=")
    }
    assert(dups.isEmpty, s"identical oracle SQL for: ${dups.mkString(", ")}")
  }

  test("no gated query surfaces a decimal-typed output column") {
    // The driver's cross-engine hash canonicalizes Spark and DuckDB
    // results through pandas; DECIMAL columns take different object
    // representations on the two paths and hash-mismatch even when every
    // value is identical (r10's e34: rows+schema green, hash red, values
    // byte-identical on re-execution). Decimals are fine INTERNALLY for
    // overflow-safe accumulation — but a gated query must surface BIGINT
    // / DOUBLE / STRING. This pin makes the class of bug impossible to
    // reintroduce.
    val offenders = for {
      q <- SparkEntry.registry
      if SparkEntry.oracleSql.contains(q.name)
      f <- q.run(spark, sfDir).schema.fields
      if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    } yield s"${q.name}.${f.name}: ${f.dataType.sql}"
    assert(offenders.isEmpty,
      s"decimal-typed output columns in gated queries: ${offenders.mkString(", ")}")
  }

  /** True when a LATERAL subquery body (at any nesting depth) holds both
    * an Aggregate and a sort-limit: Spark 4.1.2 silently returns zero
    * rows for that shape, while either half alone decorrelates correctly.
    */
  private def lateralAggSortLimit(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case j: LateralJoin => j.right.plan }.exists { body =>
      body.exists(_.isInstanceOf[Aggregate]) && body.exists(_.isInstanceOf[Sort]) &&
        body.exists(n => n.isInstanceOf[GlobalLimit] || n.isInstanceOf[LocalLimit])
    }

  test("the LATERAL aggregate + sort-limit detector fires on that shape only") {
    def lateral(body: String) = spark.sql("SELECT o.id, t.* FROM VALUES (1), (2) AS o(id), " +
      s"LATERAL ($body) t").queryExecution.analyzed
    val src = "FROM VALUES (1, 'a'), (1, 'b'), (2, 'a') AS v(id, k) WHERE v.id = o.id"
    assert(lateralAggSortLimit(lateral(
      s"SELECT k, count(*) AS n $src GROUP BY k ORDER BY n DESC, k LIMIT 1")))
    assert(!lateralAggSortLimit(lateral(s"SELECT k $src ORDER BY k LIMIT 1")))
    assert(!lateralAggSortLimit(lateral(s"SELECT k, count(*) AS n $src GROUP BY k")))
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs and is deterministic at sf0.001") {
      val df1 = q.run(spark, sfDir)
      assert(!lateralAggSortLimit(df1.queryExecution.analyzed),
        s"${q.name} has a LATERAL subquery with both GROUP BY and ORDER BY … LIMIT," +
          " which Spark 4.1.2 answers with zero rows")
      val n1 = df1.count()
      val n2 = q.run(spark, sfDir).count()
      assert(n1 == n2, s"${q.name} row count not stable: $n1 vs $n2")
      assert(df1.schema.nonEmpty)
    }
  }

  test("KPI revenue reconciles with the CM2 mart (U1/A5 invariant)") {
    import spark.implicits._
    val kpi = queries.CommerceKpi.execDailyKpi(spark, sfDir)
      .agg(sum($"total_revenue")).first.getDouble(0)
    val cm2 = queries.CommerceKpi.cm2(spark, sfDir)
      .agg(sum($"net_revenue")).first.getDouble(0)
    assert(math.abs(kpi - cm2) < 1e-4, s"kpi=$kpi cm2=$cm2")
  }

  test("CM2 margin waterfall: cm2_amount = net_revenue − commission − trx − freight") {
    import spark.implicits._
    val bad = queries.CommerceKpi.cm2(spark, sfDir)
      .filter(abs($"cm2_amount" -
        ($"net_revenue" - $"commission" - $"trx_fees" - $"freight_cost")) > lit(1e-9))
      .count()
    assert(bad == 0)
  }

  test("order rollup conserves quantity (A1 invariant)") {
    import spark.implicits._
    val total = Tables.lineitem(spark, sfDir).agg(sum($"l_quantity")).first.getDouble(0)
    val rolled = queries.Aggregations.a1Rollup.run(spark, sfDir)
      .agg(sum($"qty")).first.getDouble(0)
    assert(math.abs(total - rolled) < 1e-6)
  }
}
