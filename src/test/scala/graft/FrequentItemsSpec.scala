package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the Misra–Gries frequent-items aggregate: exact-regime
  * equality with GROUP BY (what the a15 oracle also checks), and the
  * classical MG guarantees in the APPROXIMATE regime where no oracle can
  * reach — never-overcount, bounded undercount, and no heavy item missing
  * — under different partitionings (the mergeable-summaries property).
  */
class FrequentItemsSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] = {
    df.agg(call_function("freq_items", col("v"), lit(k)).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est_count").as[(String, Long)].collect().toMap
  }

  // skewed stream: 2 heavy items, a mid tail, 400 singletons
  private def skewed = {
    val rows =
      Seq.fill(500)("hot") ++ Seq.fill(150)("warm") ++
        (1 to 40).flatMap(i => Seq.fill(5)(s"mid-$i")) ++
        (1 to 400).map(i => s"cold-$i")
    rows.toDF("v")
  }

  test("exact regime: distinct <= k means the sketch IS the count table") {
    val df = Tables.lineitem(spark, sfDir)
      .select(concat($"l_returnflag", lit("-"), $"l_linestatus").as("v"))
    val exact = df.groupBy($"v").count().as[(String, Long)].collect().toMap
    assert(exact.size <= 32, "fixture no longer in the exact regime")
    assert(sketch(df, 32) == exact)
  }

  test("approximate regime: never overcounts, undercounts at most n/k, heavy items present") {
    val df = skewed
    val n = df.count()
    val truth = df.groupBy($"v").count().as[(String, Long)].collect().toMap
    for (parts <- Seq(1, 7)) {
      val est = sketch(df.repartition(parts), k = 8)
      val bound = n / 8
      est.foreach { case (item, c) =>
        assert(c <= truth(item), s"overcount for $item at $parts partitions")
        assert(c >= truth(item) - bound,
          s"undercount beyond n/k for $item at $parts partitions")
      }
      truth.filter(_._2 > bound).keys.foreach { heavy =>
        assert(est.contains(heavy), s"heavy item $heavy missing at $parts partitions")
      }
    }
  }

  test("summary size never exceeds k") {
    assert(sketch(skewed, 8).size <= 8)
  }
}
