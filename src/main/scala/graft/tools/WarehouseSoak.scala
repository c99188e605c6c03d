package graft.tools

/** Superlinearity soak for the WAREHOUSE families (qN/jN/aN/wN/oN/dqN)
  * over the real testdata's 10× step (sf0.01 → sf0.1) — the sibling of
  * [[ScaleSoak]], which soaks the document/embedding families on its own
  * synthetic corpus (those queries' inputs don't scale with the TPC-H
  * tables, and vice versa).
  *
  * Exponent = log₁₀(T₁₀ₓ/T₁ₓ) per query, min-of-3 per scale (these
  * queries are sub-second at sf0.1, so single timings are noise).
  * A broadcast-join pyramid should sit well under 1; an accidental
  * shuffle-explosion or fanout shows up near (or above) 1.3.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.WarehouseSoak [regex]"
  */
object WarehouseSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(16)
    val d1 = "/root/testdata/sf0.01"
    val d10 = "/root/testdata/sf0.1"
    val fam = args.headOption.getOrElse("^(q\\d|j\\d|a\\d|w\\d|o\\d|dq\\d)").r
    val qs = graft.SparkEntry.registry.filter(q => fam.findFirstIn(q.name).isDefined)
    println(s"soaking ${qs.size} warehouse queries at sf0.01 and sf0.1 (10x)")
    println("| query | 1x s | 10x s | exponent |")
    val exps = qs.map { q =>
      def minOf3(dir: String): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          q.run(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        Seq(once(), once(), once()).min
      }
      val t1 = minOf3(d1)
      val t10 = minOf3(d10)
      val exp = math.log(t10 / t1) / math.log(10.0)
      println(f"| ${q.name} | $t1%.2f | $t10%.2f | $exp%.2f |")
      q.name -> exp
    }
    val bad = exps.filter(_._2 > 1.3)
    println(s"exponents > 1.3: ${if (bad.isEmpty) "none" else bad.map(e => f"${e._1}:${e._2}%.2f").mkString(", ")}")
    spark.stop()
  }
}
