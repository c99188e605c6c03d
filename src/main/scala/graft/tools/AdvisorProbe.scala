package graft.tools

/** Measure the WIRED advisor sites (VERDICT r12 next #1, "Done ="):
  * run q9 and the domain gold pipeline disarmed vs armed on a real data
  * dir, report per-mode medians, the advisor's verdicts, and whether it
  * ever disagreed with the hand-picked strategy. Point it at sf0.1 and
  * at a DecadeGen output:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.tools.AdvisorProbe
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1      runMain graft.tools.AdvisorProbe
  */
object AdvisorProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "5").toInt
    val spark = graft.GraftSession.local(32)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def q9(): Unit = {
      val n = graft.queries.Warehouse2.q9Profit.run(spark, dir).count()
      require(n > 0)
    }

    // warm the scans once
    q9()

    for (mode <- Seq("disarmed", "armed")) {
      spark.conf.set(graft.operators.Advisor.armFlag, (mode == "armed").toString)
      graft.operators.Advisor.clear(spark)
      val ts = (1 to runs).map(_ => time(q9()))
      println(f"[advisorprobe] q9 $mode%-8s median ${median(ts)}%.3f s  " +
        s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      graft.operators.Advisor.decisions(spark).foreach { d =>
        println(s"[advisorprobe]   verdict ${d.site}: chosen=${d.chosen} " +
          s"hand=${d.handPicked} agreed=${d.agreed} outRows=${d.outRows} " +
          s"topKeyPpm=${d.topKeyPpm} bytesA=${d.bytesA} bytesB=${d.bytesB}")
      }
    }
    spark.conf.set(graft.operators.Advisor.armFlag, "false")

    // the domain pipeline (cm2 freight joins + gold write sizing)
    val cfg = graft.domain.DomainConfig(dedupeFreight = true)
    val spec = graft.domain.GenSpec(joor = 2000, shopify = 3000,
      tiktok = 2500, freight = 2000)
    val base = java.nio.file.Files.createTempDirectory("advisor_probe").toString
    for (mode <- Seq("disarmed", "armed")) {
      spark.conf.set(graft.operators.Advisor.armFlag, (mode == "armed").toString)
      graft.operators.Advisor.clear(spark)
      val ts = (1 to runs).map { i =>
        time {
          val (_, gold, _) = graft.domain.Pipeline.runInMemory(spark, spec, cfg)
          graft.domain.Pipeline.writeWarehouse(gold, s"$base/$mode$i")
        }
      }
      println(f"[advisorprobe] gold-pipeline $mode%-8s median ${median(ts)}%.3f s  " +
        s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      val ds = graft.operators.Advisor.decisions(spark)
      ds.filter(!_.site.startsWith("gold_write")).distinct.foreach { d =>
        println(s"[advisorprobe]   verdict ${d.site}: chosen=${d.chosen} " +
          s"hand=${d.handPicked} agreed=${d.agreed}")
      }
      val writes = ds.filter(_.site.startsWith("gold_write")).map(d =>
        s"${d.site.stripPrefix("gold_write_")}=${d.chosen.stripPrefix("write_partitions_")}")
      if (writes.nonEmpty)
        println(s"[advisorprobe]   z4 write sizing: ${writes.distinct.mkString(" ")}")
      val disagreed = ds.filter(!_.agreed)
      println(s"[advisorprobe] $mode disagreements: " +
        (if (disagreed.isEmpty) "none" else disagreed.mkString("; ")))
    }
    spark.stop()
  }
}
