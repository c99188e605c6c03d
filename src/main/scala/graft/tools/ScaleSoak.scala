package graft.tools

import org.apache.spark.sql.SparkSession

/** Superlinearity soak (VERDICT r4 #6): run the d/e/t/c operator
  * families at 1× and 10× of a self-generated corpus and report the
  * per-query time-scaling exponent log₁₀(T₁₀ₓ/T₁ₓ) — an accidental
  * quadratic shows up as an exponent near 2 even when the sf0.1 bench
  * looks flat.
  *
  * Both scales come from the SAME generator (only N changes), so the
  * exponent is a pure scaling measure, not a distribution difference:
  * documents mirror the testdata shape (31-word vocab, 10–100 words per
  * doc, 20 sources, ~0.2% exact dups), embeddings are the clustered
  * shape from [[AnnFrontier]] (10 labels like the testdata).
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleSoak"
  */
object ScaleSoak {

  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de")

  def ensureCorpus(spark: SparkSession, dir: String, nDocs: Int, nVecs: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet/_SUCCESS"))) return
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i > 0 && rnd.nextDouble() < 0.002) texts(rnd.nextInt(i)) // exact dup
        else {
          val n = 10 + rnd.nextInt(91)
          Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}", text.length)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .selectExpr("doc_id", "text", "lang", "source", "cast(n_chars as int) as n_chars")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val centers = Array.fill(10, 64)(rnd.nextGaussian().toFloat)
    val vecs = (0 until nVecs).map { i =>
      val c = rnd.nextInt(10)
      (i.toLong, Array.tabulate(64)(j => centers(c)(j) + 0.25f * rnd.nextGaussian().toFloat).toSeq, c)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
        "cast(label as int) as label")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(16)
    val d1 = "/tmp/graft_soak_1x"
    val d10 = "/tmp/graft_soak_10x"
    ensureCorpus(spark, d1, 5000, 2000)
    ensureCorpus(spark, d10, 50000, 20000)

    // the document/embedding families only (registry names dN/eN/tN/cN;
    // excludes the TPC-H/domain queries, which read tables this corpus
    // does not carry). d7/t13 are dropped EXPLICITLY: they operate on
    // the customer table, so their cost scales with customer rows, not
    // this corpus — soaking them here would measure nothing.
    val excluded = Set("d7_fuzzy_match", "t13_pii_scrub", "d18_golden_record",
      "d19_fellegi_sunter")
    // optional arg: regex narrowing the soak to specific queries
    val fam = args.headOption.getOrElse("^(d\\d|e\\d|t\\d|c\\d)").r
    val qs = graft.SparkEntry.registry.filter(q =>
      fam.findFirstIn(q.name).isDefined && !excluded(q.name))
    println(s"soaking ${qs.size} queries at 1x (5k docs / 2k vecs) and 10x; " +
      s"excluded (customer-table operators): ${excluded.mkString(", ")}")
    println("| query | 1x s | 10x s | exponent |")
    val exps = qs.map { q =>
      def minOf2(dir: String): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          q.run(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(once(), once())
      }
      val t1 = minOf2(d1)
      val t10 = minOf2(d10)
      val exp = math.log(t10 / t1) / math.log(10.0)
      println(f"| ${q.name} | $t1%.2f | $t10%.2f | $exp%.2f |")
      q.name -> exp
    }
    val bad = exps.filter(_._2 > 1.3)
    println(s"exponents > 1.3: ${if (bad.isEmpty) "none" else bad.map(e => f"${e._1}:${e._2}%.2f").mkString(", ")}")
    spark.stop()
  }
}
