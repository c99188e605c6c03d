package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Dedup

/** Gates for the broadcast-bloom decontamination pre-filter. */
class BloomFilterSpec extends AnyFunSuite with SparkTestKit {

  test("bloom pre-filtered contamination result equals the exact join's") {
    val exact = Dedup.contamination.run(spark, sfDir).collect().toSet
    val bloomed = Dedup.contaminationBloom.run(spark, sfDir).collect().toSet
    assert(exact == bloomed)
    assert(exact.nonEmpty)
  }

  test("might_contain evaluates before the join, on the scan side") {
    val p = Dedup.contaminationBloom.run(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val filterLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = p.linesIterator.indexWhere(_.contains("Join"))
    assert(filterLine >= 0, s"no bloom filter in plan:\n$p")
    assert(joinLine >= 0 && filterLine > joinLine,
      s"bloom filter must sit BELOW the join (later line = deeper):\n$p")
  }

  test("bloom literal membership: no false negatives") {
    import spark.implicits._
    val keys = (1L to 1000L).map(i => s"key_$i").toDF("k")
    val bloom = graft.functions.BloomFilters.bloomLiteral(keys, $"k", 1000L)
    val kept = keys.filter(
      org.apache.spark.sql.functions.call_function("bloom_might_contain",
        bloom, org.apache.spark.sql.functions.xxhash64($"k"))).count()
    assert(kept == 1000L, s"bloom dropped ${1000 - kept} true members")
  }
}
