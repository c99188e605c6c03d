package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom codegen Expression must agree bit-for-bit with the
  * composable HOF fold it replaces, on real data and edge cases.
  */
class FloatVecDotSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def hofDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("agrees exactly with the aggregate/zip_with fold on the corpus") {
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val a = e.select($"vec_id".as("ia"), $"embedding".as("ea"))
    val b = e.select($"vec_id".as("ib"), $"embedding".as("eb"))
    val pairs = a.join(b, $"ia" < $"ib")
    val diff = pairs.select(
      (call_function("vec_dot", $"ea", $"eb") - hofDot("ea", "eb")).as("d"))
      .agg(max(abs($"d"))).first.getDouble(0)
    assert(diff == 0.0, s"max |native - fold| = $diff (must be bit-identical)")
  }

  test("SQL surface and eval edge cases") {
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").createOrReplaceTempView("v")
    assert(spark.sql("SELECT vec_dot(a, b) FROM v").first.getDouble(0) == 32.0)
    // null array → null
    val n = spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<FLOAT>), b) FROM v").first
    assert(n.isNullAt(0))
    // length mismatch → min-length prefix (zip_with-compatible on the
    // shared prefix)
    Seq((Array(1.0f, 2.0f), Array(3.0f)))
      .toDF("a", "b").createOrReplaceTempView("v2")
    assert(spark.sql("SELECT vec_dot(a, b) FROM v2").first.getDouble(0) == 3.0)
  }

  test("interpreted eval matches codegen") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val withCodegen = e.select(call_function("vec_dot", $"embedding", $"embedding"))
      .collect().map(_.getDouble(0)).toSeq
    val expr = graft.functions.FloatVecDot(
      e.queryExecution.analyzed.output(1), e.queryExecution.analyzed.output(1))
    // interpreted path via nullSafeEval on raw ArrayData
    val interpreted = e.select($"embedding").queryExecution.toRdd.map { row =>
      val arr = row.getArray(0)
      var acc = 0.0
      var i = 0
      while (i < arr.numElements()) { acc += arr.getFloat(i).toDouble * arr.getFloat(i).toDouble; i += 1 }
      acc
    }.collect().toSeq
    assert(withCodegen == interpreted)
  }
}
