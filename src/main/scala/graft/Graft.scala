package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions._

/** The graft extension catalog — the one list of what graft adds to a
  * Spark session:
  *
  *  - SQL functions: `vec_dot` (native codegen float dot product),
  *    `bloom_might_contain` (Spark's own predicate surfaced as a
  *    function), `bottom_k_sample` (deterministic mergeable per-group
  *    sampling), `freq_items` (Misra–Gries heavy-hitters sketch),
  *    `bitmap_distinct`/`bitmap_bytes`/`bitmap_or_count` (exact
  *    mergeable distinct over bounded domains + the persistable-partial
  *    pair), `count_min_counters` (count-min point-frequency sketch),
  *    `bloom_agg` (per-group bloom build — the BloomIndex primitive),
  *    `pq_encode` / `pq_adc_table` (product-quantization encode and ADC
  *    table);
  *  - the bounded-levenshtein optimizer rule (entity-resolution verify
  *    predicates);
  *  - the native per-group top-k planner strategy
  *    ([[graft.plans.TopKPerGroup]]).
  *
  * Two paths apply it, both from this list. A session built by
  * [[GraftSession.local]] (or with
  * `spark.sql.extensions=graft.functions.GraftExtensions`) has it from
  * birth; [[install]] attaches it to a session that is already live.
  */
object Graft {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vec_dot(vec_a, vec_b)", classOf[FloatVecDot])(a => FloatVecDot(a(0), a(1))),
    fn("bloom_might_contain(bloom_bytes, hash64)", classOf[BloomFilterMightContain]) { a =>
      // a non-foldable bloom (a scalar subquery) passes Spark's type check
      // but fails codegen and falls back to interpreted evaluation per task
      require(a(0).foldable, "bloom_might_contain: bloom_bytes must be a literal" +
        " — build it with graft.functions.BloomFilters.bloomLiteral")
      BloomFilterMightContain(a(0), a(1))
    },
    fn("bottom_k_sample(value, k, seed)", classOf[BottomKSample])(
      a => BottomKSample(a(0), int(a(1)), int(a(2))).toAggregateExpression()),
    fn("freq_items(value, k)", classOf[FrequentItems]) { a =>
      require(a(1).foldable, "freq_items: k must be a literal")
      val k = a(1).eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case s: Short => s.toInt
        case other => throw new IllegalArgumentException(
          s"freq_items: k must be an integer literal, got $other")
      }
      FrequentItems(a(0), k).toAggregateExpression()
    },
    fn("bitmap_distinct(key, domain)", classOf[BitmapDistinctAgg])(
      a => BitmapDistinctAgg(a(0), int(a(1))).toAggregateExpression()),
    fn("bitmap_bytes(key, domain)", classOf[BitmapBytesAgg])(
      a => BitmapBytesAgg(a(0), int(a(1))).toAggregateExpression()),
    fn("bitmap_or_count(bytes)", classOf[BitmapOrAgg])(
      a => BitmapOrAgg(a(0)).toAggregateExpression()),
    // not `count_min_sketch`: that is a Spark builtin (eps, confidence,
    // seed → binary), and shadowing it would replace a builtin's meaning
    fn("count_min_counters(value, d, w, seed)", classOf[CountMinSketchAgg])(
      a => CountMinSketchAgg(a(0), int(a(1)), int(a(2)), int(a(3))).toAggregateExpression()),
    fn("bloom_agg(hash64, expectedItems, numBits)", classOf[BloomFilterAggregate])(
      a => BloomFilterAggregate(a(0), a(1), a(2), 0, 0).toAggregateExpression()),
    fn("pq_encode(quantized_vec, codebook)", classOf[PqEncode])(a => PqEncode(a(0), a(1))),
    fn("pq_adc_table(quantized_vec, codebook)", classOf[PqAdcTable])(a => PqAdcTable(a(0), a(1))))

  val rule = plans.BoundedLevenshteinRule

  val strategy = plans.GraftStrategies

  /** Attach the catalog to a live session: registers only the entries it
    * lacks, so a session built with the extension is left unchanged and
    * a second call is a no-op (no function is ever replaced).
    */
  def install(spark: SparkSession): Unit = {
    val state = spark.sessionState
    functions.foreach { case (id, info, builder) =>
      if (!state.functionRegistry.functionExists(id))
        state.functionRegistry.registerFunction(id, info, builder)
    }
    val ex = spark.experimental
    if (!(state.optimizer.extendedOperatorOptimizationRules ++ ex.extraOptimizations).contains(rule))
      ex.extraOptimizations = ex.extraOptimizations :+ rule
    if (!(state.planner.extraPlanningStrategies ++ ex.extraStrategies).contains(strategy))
      ex.extraStrategies = ex.extraStrategies :+ strategy
  }

  /** One catalog entry from its usage line `name(arg, …)`; a wrong arity
    * fails analysis with that line, not an IndexOutOfBoundsException.
    */
  private def fn(usage: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val name = usage.takeWhile(_ != '(')
    val arity = usage.count(_ == ',') + 1
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (args: Seq[Expression]) => {
      require(args.length == arity, s"$usage expects $arity arguments, got ${args.length}")
      build(args)
    })
  }

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]
}
