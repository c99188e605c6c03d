package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generate a ~10×-sf0.1-equivalent dataset for the DECADE EXACTNESS
  * certification (VERDICT r11 #5): the registry is value-verified against
  * DuckDB at sf0.001/0.01/0.1, and the 10× soaks certify TIMING exponents
  * on synthetic corpora — this tool closes the remaining gap by producing
  * a dataset where the most expensive ORACLE-GATED queries' accumulations
  * are 10× larger, so the DECIMAL(38,0)/HUGEINT and IEEE-chain discipline
  * is hash-certified at the next scale step, not just asserted.
  *
  * Construction: 10 copies of every sf0.1 table with per-copy key offsets
  * that preserve referential integrity (order/cust/supp/part/doc/vec/
  * user/event keys shift by copy·(max+1); nation/region stay fixed).
  * Document TEXT is made copy-disjoint by tagging every token with the
  * copy index — an injective token map, so within-copy similarity
  * structure is EXACT while cross-copy Jaccard is 0 (without this, 10
  * identical copies of every document would square the similarity-join
  * output instead of scaling it). Values (prices, dates, flags) are
  * untouched, so group-by accumulations (a33's percentile mass, kpi's
  * revenue sums, q21's counts, j14's degree products) genuinely grow 10×.
  *
  * Output: single-file parquet per table (the compare.py / driver layout)
  * under the target dir. Usage:
  *   runMain graft.tools.DecadeGen /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object DecadeGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(32)
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dst))

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def offsetOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union `copies` shifted copies; `shifts` maps column → per-copy
      * offset; `mutate` post-processes each copy (given its index).
      */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, (col(c) + lit(i.toLong * off)).cast(d.schema(c).dataType))
        }
        mutate(shifted, i)
      }.reduce(_ unionByName _)

    /** Write as ONE parquet file named `$dst/<t>.parquet` (the driver's
      * single-file layout, which compare.py's DuckDB views expect).
      */
    def writeOne(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/.tmp-$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $t"))
      val target = new Path(s"$dst/$t.parquet")
      fs.delete(target, false)
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"rename failed for $t")
      fs.delete(new Path(tmp), true)
      println(s"[decadegen] $t -> $target (${spark.read.parquet(target.toString).count()} rows)")
    }

    val orders = read("orders"); val lineitem = read("lineitem")
    val customer = read("customer"); val supplier = read("supplier")
    val part = read("part"); val events = read("events")
    val documents = read("documents"); val embeddings = read("embeddings")

    val ordOff = offsetOf(orders, "o_orderkey")
    val custOff = offsetOf(customer, "c_custkey")
    val suppOff = offsetOf(supplier, "s_suppkey")
    val partOff = offsetOf(part, "p_partkey")
    val userOff = offsetOf(events, "user_id")
    val evOff = offsetOf(events, "event_id")
    val docOff = offsetOf(documents, "doc_id")
    val vecOff = offsetOf(embeddings, "vec_id")

    // fixed dims copy through unchanged
    Seq("region", "nation").foreach(t => writeOne(read(t), t))
    writeOne(replicate(orders,
      Map("o_orderkey" -> ordOff, "o_custkey" -> custOff)), "orders")
    writeOne(replicate(lineitem,
      Map("l_orderkey" -> ordOff, "l_partkey" -> partOff, "l_suppkey" -> suppOff)),
      "lineitem")
    writeOne(replicate(customer, Map("c_custkey" -> custOff)), "customer")
    writeOne(replicate(supplier, Map("s_suppkey" -> suppOff)), "supplier")
    writeOne(replicate(part, Map("p_partkey" -> partOff)), "part")
    writeOne(replicate(events,
      Map("event_id" -> evOff, "user_id" -> userOff)), "events")
    // copy-disjoint text: tag every token (injective map — within-copy
    // similarity exact, cross-copy Jaccard 0); recompute n_chars
    writeOne(replicate(documents, Map("doc_id" -> docOff),
      mutate = (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"_$i"))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents")
    writeOne(replicate(embeddings, Map("vec_id" -> vecOff)), "embeddings")
    spark.stop()
  }
}
