package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Gates for the bounded-levenshtein optimizer rule: the rewrite fires,
  * preserves results exactly (d7's blocked ER query as the workload), and
  * injects via the documented SparkSessionExtensions deployment path.
  * The test session carries the rule (it is built by the one config), so
  * a rule-free baseline excludes it through the optimizer's own switch.
  */
class BoundedLevenshteinSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def withoutRule[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", BoundedLevenshteinRule.ruleName)
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def customerFilter(s: SparkSession, pred: String) =
    graft.Tables.customer(s, sfDir).filter(org.apache.spark.sql.functions.expr(pred))

  test("rewrite fires: threshold levenshtein + length pre-filter in the optimized plan") {
    // parquet-backed (a LocalRelation would be constant-folded whole)
    val df = customerFilter(spark, "levenshtein(c_name, c_mktsegment) <= 1")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein(c_name"), opt)
    assert(opt.contains("Some(1)) >= 0"), s"no thresholded levenshtein:\n$opt")
    assert(opt.contains("abs("), s"no length pre-filter:\n$opt")
    val excluded = withoutRule(
      customerFilter(spark, "levenshtein(c_name, c_mktsegment) <= 1").queryExecution.optimizedPlan)
    assert(!excluded.toString.contains("Some(1)) >= 0"), s"exclusion ignored:\n$excluded")
  }

  test("strict bound lev < k rewrites to threshold k-1") {
    val opt = customerFilter(spark, "levenshtein(c_name, c_mktsegment) < 2")
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("Some(1)) >= 0"), s"strict-bound rewrite missing:\n$opt")
  }

  test("rewrite preserves the d7 fuzzy-match result exactly (incl. nulls)") {
    val baseline = withoutRule {
      graft.queries.Dedup.fuzzyMatch.run(spark, sfDir).collect().toSet
    }
    val optimized = graft.queries.Dedup.fuzzyMatch.run(spark, sfDir).collect().toSet
    assert(optimized == baseline)
    assert(baseline.nonEmpty)

    // null operands: predicate stays null-rejecting under the rewrite
    val withNulls = Seq(("a", "a"), ("a", null), (null, null))
      .toDF("x", "y")
    def count(df: org.apache.spark.sql.DataFrame) = df
      .filter(org.apache.spark.sql.functions.expr("levenshtein(x, y) <= 1")).count()
    assert(count(withNulls) == withoutRule(count(withNulls)))
  }

  test("extensions path: a session built with GraftExtensions applies the rule") {
    // the `spark-submit --conf spark.sql.extensions=…` path: the config
    // sets it on the context, and every fresh session picks it up from there
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ==
      classOf[graft.functions.GraftExtensions].getName)
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().getOrCreate()
      assert(s2 ne spark)
      val opt = customerFilter(s2, "levenshtein(c_name, c_mktsegment) <= 1")
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("Some(1)) >= 0"), s"extension-injected rule did not fire:\n$opt")
      // and the injected vec_dot function still resolves in the same session
      assert(s2.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
        .first.getDouble(0) == 2.0)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
