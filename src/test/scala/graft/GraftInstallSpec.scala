package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The one catalog ([[Graft]]) reaches a session two ways and gives the
  * same engine both times: built in by [[GraftSession.local]] (the
  * `spark.sql.extensions` path), and attached to a live session by
  * [[Graft.install]], which registers only what is missing — so neither
  * path ever replaces a function, and the rule and the strategy are
  * present exactly once.
  */
class GraftInstallSpec extends AnyFunSuite with SparkTestKit {

  // a serialized bloom holding xxhash64(2L), as a SQL binary literal (a
  // foldable bloom, the form bloom_might_contain is used with)
  private val bloomHex = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10L, 640L)
    bf.putLong(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      2L, org.apache.spark.sql.types.LongType, 42L))
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.map(b => f"$b%02X").mkString
  }

  // one resolving SQL call per catalog function, with its expected result
  private val probes: Map[String, (String, Any)] = Map(
    "vec_dot" -> ("SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))," +
      " array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))", 11.0),
    "bloom_agg" -> ("SELECT length(bloom_agg(xxhash64(v), 10L, 640L)) > 0" +
      " FROM VALUES (1L), (2L) t(v)", true),
    "bloom_might_contain" -> (s"SELECT bloom_might_contain(X'$bloomHex', xxhash64(2L))", true),
    "bottom_k_sample" -> ("SELECT size(bottom_k_sample(v, 2, 42))" +
      " FROM VALUES ('a'), ('b'), ('c') t(v)", 2),
    "freq_items" -> ("SELECT size(freq_items(v, 4)) FROM VALUES ('a'), ('a'), ('b') t(v)", 2),
    "bitmap_distinct" -> ("SELECT bitmap_distinct(v, 16) FROM VALUES (1L), (3L), (3L) t(v)", 2L),
    "bitmap_bytes" -> ("SELECT length(bitmap_bytes(v, 16)) FROM VALUES (1L), (3L) t(v)", 1),
    "bitmap_or_count" -> ("SELECT bitmap_or_count(b) FROM" +
      " (SELECT bitmap_bytes(v, 16) AS b FROM VALUES (1L), (2L), (3L) t(v) GROUP BY v % 2)", 3L),
    "count_min_counters" -> ("SELECT size(count_min_counters(v, 2, 16, 7)) FROM VALUES ('a') t(v)",
      32),
    "pq_encode" -> ("SELECT pq_encode(array(1L, 2L), array(array(array(0L), array(2L))," +
      " array(array(0L), array(3L))))[1]", 1),
    "pq_adc_table" -> ("SELECT size(pq_adc_table(array(1L, 2L), array(array(array(0L), array(2L))," +
      " array(array(0L), array(3L)))))", 2))

  /** Run `body`, returning every "replaced a previously registered
    * function" warning logged meanwhile.
    */
  private def replacedWarnings(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-install-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) seen.add(m)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  /** A session on the test context built with NO extensions, although
    * the context's conf names GraftExtensions: Spark's own constructor,
    * reached reflectively because Scala keeps it class-private.
    */
  private def bareSession(): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None, new SparkSessionExtensions,
        Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }

  private def assertOneEngine(s: SparkSession): Unit = {
    probes.foreach { case (name, (sql, want)) =>
      assert(s.sql(sql).first.get(0) == want, s"$name via SQL")
    }
    val state = s.sessionState
    val rules = state.optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations
    assert(rules.count(_ == Graft.rule) == 1, rules)
    val strategies = state.planner.extraPlanningStrategies ++ s.experimental.extraStrategies
    assert(strategies.count(_ == Graft.strategy) == 1, strategies)
    val df = s.createDataFrame(Seq(("g", 1, 1L), ("g", 2, 2L))).toDF("grp", "value", "id")
    val p = plans.TopKPerGroup.topK(df, Seq("grp"), Seq(("value", false), ("id", true)), 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), p)
  }

  test("bloom_might_contain rejects a non-foldable bloom at analysis") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT bloom_might_contain((SELECT X'$bloomHex'), xxhash64(2L))")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("BloomFilters.bloomLiteral")), e)
  }

  test("every catalog function has a probe") {
    assert(Graft.functions.map(_._1.funcName).toSet == probes.keySet)
  }

  test("the config's session has the whole catalog; install changes nothing on it") {
    val warned = replacedWarnings {
      Graft.install(spark)
      Graft.install(spark)
      assertOneEngine(spark)
    }
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(warned.isEmpty, warned)
  }

  test("install registers functions, rule, and strategy; calling twice is safe") {
    // on a session built without the catalog
    val bare = bareSession()
    assert(probes.keys.forall(n =>
      !bare.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))))
    val warned = replacedWarnings {
      Graft.install(bare)
      Graft.install(bare)
      assertOneEngine(bare)
    }
    assert(warned.isEmpty, warned)
  }
}
