package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.MaterializedViews

/** Semantic gates for incremental-MV maintenance beyond the oracle parity
  * (which already proves merge(old, delta) ≡ full recompute): merge
  * REASSOCIATIVITY — any split of the fact into loads, merged in any
  * grouping, converges to the identical view — and empty-delta neutrality.
  */
class MvSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def cents = (queries.Exact.dec2($"o_totalprice") * 100)
    .cast("bigint").as("cents")

  private def base = Tables.orders(spark, sfDir).select(
    date_format($"o_orderdate", "yyyy-MM").as("month_key"),
    $"o_orderpriority".as("priority"), cents, $"o_orderdate")

  private def partial(df: org.apache.spark.sql.DataFrame) =
    df.groupBy($"month_key", $"priority").agg(
      count(lit(1)).as("n_orders"),
      sum($"cents").as("rev_cents"),
      min($"cents").as("min_cents"),
      max($"cents").as("max_cents"),
      sum($"cents".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"cents")
        .as("sumsq_cents"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("3-way split merged in either association equals the 1-shot view") {
    val s1 = base.filter($"o_orderdate" < lit("1995-01-01"))
    val s2 = base.filter($"o_orderdate" >= lit("1995-01-01") &&
      $"o_orderdate" < lit("1998-01-01"))
    val s3 = base.filter($"o_orderdate" >= lit("1998-01-01"))
    val oneShot = MaterializedViews.finalizeView(
      MaterializedViews.mergeStates(Seq(partial(base))))
    val flat = MaterializedViews.finalizeView(
      MaterializedViews.mergeStates(Seq(partial(s1), partial(s2), partial(s3))))
    // left-nested: merge(merge(s1, s2), s3) — the standing-MV refresh shape
    val nested = MaterializedViews.finalizeView(
      MaterializedViews.mergeStates(Seq(
        MaterializedViews.mergeStates(Seq(partial(s1), partial(s2))),
        partial(s3))))
    val expect = canon(oneShot)
    assert(canon(flat) == expect)
    assert(canon(nested) == expect)
  }

  test("an empty delta load is the merge identity") {
    val none = partial(base.filter(lit(false)))
    val merged = MaterializedViews.finalizeView(
      MaterializedViews.mergeStates(Seq(partial(base), none)))
    val oneShot = MaterializedViews.finalizeView(
      MaterializedViews.mergeStates(Seq(partial(base))))
    assert(canon(merged) == canon(oneShot))
  }

  test("mv3: an empty feed leaves every group on the standing (untouched) path") {
    import org.apache.spark.sql.types._
    val snap = Seq((1L, "A", 100L), (2L, "A", 300L), (3L, "B", 50L))
      .toDF("o_orderkey", "priority", "cents")
    val feed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("change_type", StringType))))
    val out = MaterializedViews.maintainFromFeed(snap, snap, feed)
      .orderBy($"priority").collect().map(_.mkString("|")).toSeq
    assert(out == Seq("A|2|400|100|300", "B|1|50|50|50"))
  }

  test("mv3: a delete draining a group removes it; inserts create new groups") {
    val prev = Seq((1L, "A", 100L), (2L, "B", 50L)).toDF("o_orderkey", "priority", "cents")
    val cur = Seq((1L, "A", 100L), (9L, "C", 70L)).toDF("o_orderkey", "priority", "cents")
    val feed = Seq((2L, "delete"), (9L, "insert")).toDF("o_orderkey", "change_type")
    val out = MaterializedViews.maintainFromFeed(prev, cur, feed)
      .orderBy($"priority").collect().map(_.mkString("|")).toSeq
    assert(out == Seq("A|1|100|100|100", "C|1|70|70|70"))
  }

  test("mv2 sketch merge: standing ∪ delta re-ranked equals whole-data sketch") {
    val out = MaterializedViews.mv2SketchMv.run(spark, sfDir).cache()
    // whole-data sketch computed directly (no split) via the same aggregate
    val whole = Tables.orders(spark, sfDir)
      .select($"o_orderpriority".as("priority"), $"o_custkey".cast("string").as("v"))
      .dropDuplicates("priority", "v")
      .groupBy($"priority")
      .agg(concat_ws(",", call_function("bottom_k_sample", $"v", lit(64), lit(11)))
        .as("sketch_ids"))
    val joined = out.select($"priority", $"sketch_ids".as("merged"))
      .join(whole, "priority")
    assert(joined.filter($"merged" =!= $"sketch_ids").count() == 0)
    assert(out.filter($"sketch_size" > 64).count() == 0)
  }
}
