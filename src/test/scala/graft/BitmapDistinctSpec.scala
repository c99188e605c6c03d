package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the bitmap-distinct aggregate beyond oracle parity:
  * partition-order invariance, range-band decomposability (the property
  * HLL lacks), and the loud out-of-domain failure.
  */
class BitmapDistinctSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def distinctOf(df: org.apache.spark.sql.DataFrame, domain: Int): Long = {
    df.agg(call_function("bitmap_distinct", col("k"), lit(domain)))
      .as[Long].head()
  }

  private lazy val keys = Tables.orders(spark, sfDir)
    .select($"o_custkey".as("k"))

  test("count is exact and partitioning-invariant") {
    val exact = keys.distinct().count()
    assert(distinctOf(keys.repartition(1), 1 << 21) == exact)
    assert(distinctOf(keys.repartition(13, $"k"), 1 << 21) == exact)
  }

  test("range bands decompose exactly: band counts sum to the global count") {
    val band = 512
    val exact = keys.distinct().count()
    val banded = {
      keys.withColumn("b", expr(s"k div $band"))
        .withColumn("r", expr(s"k % $band"))
        .groupBy($"b")
        .agg(call_function("bitmap_distinct", $"r", lit(band)).as("n"))
        .agg(sum($"n")).as[Long].head()
    }
    assert(banded == exact)
  }

  test("INT keys are cast to BIGINT; a BIGINT key's plan carries no cast") {
    assert(spark.sql("SELECT bitmap_distinct(v, 16) FROM VALUES (1), (3), (3) AS t(v)")
      .as[Long].head() == 2L)
    assert(spark.sql("SELECT bitmap_or_count(b) FROM" +
      " (SELECT bitmap_bytes(v, 16) AS b FROM VALUES (1), (3) AS t(v))").as[Long].head() == 2L)
    val plan = spark.sql("SELECT bitmap_distinct(v, 16) FROM VALUES (1L), (3L) AS t(v)")
      .queryExecution.analyzed.toString
    assert(!plan.toLowerCase.contains("cast("), plan)
  }

  test("out-of-domain keys fail loudly instead of silently dropping") {
    val e = intercept[Exception] {
      distinctOf(Seq(5L, 99L).toDF("k"), domain = 10)
    }
    assert(e.getMessage != null)
  }
}
