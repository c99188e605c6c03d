package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom TypedImperativeAggregate must be deterministic under ANY
  * partitioning (the property reservoir sampling lacks).
  */
class BottomKSampleSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  test("bottom-k sample: k bound, membership, and partition-order independence") {
    val docs = Tables.documents(spark, sfDir)
      .select($"source", $"doc_id".cast("string").as("d"))

    def sample(partitions: Int): Map[String, Seq[String]] =
      docs.repartition(partitions)
        .groupBy($"source")
        .agg(call_function("bottom_k_sample", $"d", lit(5), lit(42)).as("sample"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap

    val s1 = sample(1)
    val s8 = sample(8)
    val s32 = sample(32)
    // merge-order independence: identical samples however the data is split
    assert(s1 == s8 && s8 == s32)

    val groups = docs.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    s1.foreach { case (src, sm) =>
      assert(sm.size == math.min(5, groups(src)))
      assert(sm.distinct.size == sm.size)
    }
    // membership: every sampled id belongs to its group
    val ids = docs.collect().groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getString(1)).toSet }
    s1.foreach { case (src, sm) => assert(sm.forall(ids(src).contains)) }
  }

  test("bottom-k via SQL and different seeds draw different samples") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_tmp")
    val a = spark.sql(
      "SELECT bottom_k_sample(CAST(doc_id AS STRING), 5, 1) FROM docs_tmp")
      .first.getSeq[String](0).toSet
    val b = spark.sql(
      "SELECT bottom_k_sample(CAST(doc_id AS STRING), 5, 2) FROM docs_tmp")
      .first.getSeq[String](0).toSet
    assert(a.size == 5 && b.size == 5)
    assert(a != b, "two seeds produced the identical 5-of-500 sample")
  }
}
