package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale harness: one timing loop over registry queries, and the two
  * generators for data above the testdata's sf0.1.
  *
  * `run` times every registry query whose name the regex matches over
  * each data dir: one untimed warm-up (codegen, memos, caches, page
  * cache), then `runs` timed runs. Each run prints its wall time and the
  * stage totals of the stages it ran — executor run/CPU, GC, shuffle
  * write, fetch wait, result serialization, input/shuffle MB, stage and
  * task counts — so "is this compute, shuffle, or per-job scheduling?"
  * is answered with data. With two or more dirs, each a 10× step of the one
  * before (sf0.01 → sf0.1, or `corpus 1` → `corpus 10`), it also prints
  * the time-scaling exponent log₁₀(T₁₀ₓ/T₁ₓ) of the min times per query:
  * a broadcast-join pyramid sits well under 1, and an accidental
  * quadratic or shuffle fanout shows up above 1.3, even when the bench
  * at one scale looks flat. Queries whose cost follows a table a dir does
  * not scale (the customer-table operators d7/t13/d18/d19 over a
  * `corpus` dir) are left out through the regex.
  *
  * `corpus` writes the synthetic documents/embeddings corpus at `scale`×
  * a 5k-doc / 2k-vector base; every scale comes from the same seed-7
  * generator, so an exponent between two scales is a pure scaling
  * measure, not a distribution difference. `copies` writes `copies`
  * key-offset copies of a real sf dir (see [[writeCopies]]), the only
  * offline route to warehouse data above sf0.1.
  *
  * Usage (`SPARK_GRAFT_CPUS` sets the slots, 16 when unset):
  *   sbt "runMain graft.tools.Soak run <regex> <runs> <dir> [dir ...]"
  *   sbt "runMain graft.tools.Soak corpus <scale> <dir>"
  *   sbt "runMain graft.tools.Soak copies <copies> <srcDir> <dstDir>"
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(16)
    try args.toSeq match {
      case Seq("run", regex, runs, dirs @ _*) if dirs.nonEmpty =>
        run(spark, regex, runs.toInt, dirs)
      case Seq("corpus", scale, dir) =>
        ensureCorpus(spark, dir, 5000 * scale.toInt, 2000 * scale.toInt)
      case Seq("copies", copies, src, dst) => writeCopies(spark, src, dst, copies.toInt)
      case _ => sys.error("usage: Soak run <regex> <runs> <dir> [dir ...] | " +
          "corpus <scale> <dir> | copies <copies> <srcDir> <dstDir>")
    } finally spark.stop()
  }

  private final case class StageRow(
      executorRunMs: Long, executorCpuMs: Long, gcMs: Long,
      shuffleWriteMs: Long, fetchWaitMs: Long,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      resultSerMs: Long, tasks: Int)

  private def run(spark: SparkSession, regex: String, runs: Int, dirs: Seq[String]): Unit = {
    val stages = new ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) stages.add(StageRow(
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime,
          m.shuffleWriteMetrics.writeTime / 1000000L,
          m.shuffleReadMetrics.fetchWaitTime,
          m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.resultSerializationTime,
          sc.stageInfo.numTasks))
      }
    })
    val fam = regex.r
    val qs = graft.SparkEntry.registry.filter(q => fam.findFirstIn(q.name).isDefined)
    println(s"[soak] ${qs.size} queries matching '$regex' over ${dirs.mkString(", ")}")

    val mins = qs.map { q =>
      q.name -> dirs.map { dir =>
        spark.sparkContext.setJobDescription(s"soak warm-up: ${q.name}")
        q.run(spark, dir).count()
        println(s"[soak] == ${q.name} $dir")
        println("[soak] run wall_s nstages ntasks execRun_s execCpu_s gc_s " +
          "shufWrite_s fetchWait_s resultSer_s input_MB shufW_MB shufR_MB")
        (1 to runs).map { i =>
          stages.clear()
          spark.sparkContext.setJobDescription(s"soak ${q.name} run $i")
          val t0 = System.nanoTime()
          q.run(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(400) // drain the listener bus
          val ss = stages.asScala.toVector
          def s(f: StageRow => Long): Double = ss.map(f).sum / 1000.0
          def mb(f: StageRow => Long): Double = ss.map(f).sum / 1048576.0
          println(f"[soak] $i%3d $wall%7.3f ${ss.size}%7d ${ss.map(_.tasks).sum}%6d " +
            f"${s(_.executorRunMs)}%9.3f ${s(_.executorCpuMs)}%9.3f ${s(_.gcMs)}%5.3f " +
            f"${s(_.shuffleWriteMs)}%10.3f ${s(_.fetchWaitMs)}%10.3f ${s(_.resultSerMs)}%11.3f " +
            f"${mb(_.inputBytes)}%8.1f ${mb(_.shuffleWriteBytes)}%8.1f ${mb(_.shuffleReadBytes)}%8.1f")
          wall
        }.min
      }
    }

    if (dirs.size >= 2) {
      println(s"| query | ${dirs.map(d => s"$d min s").mkString(" | ")} | exponents |")
      val exps = mins.map { case (name, ts) =>
        val e = ts.zip(ts.tail).map { case (t1, t10) => math.log(t10 / t1) / math.log(10.0) }
        println(s"| $name | ${ts.map(t => f"$t%.2f").mkString(" | ")} | " +
          s"${e.map(x => f"$x%.2f").mkString(" ")} |")
        name -> e.max
      }
      val bad = exps.filter(_._2 > 1.3)
      println(s"exponents > 1.3: ${if (bad.isEmpty) "none"
        else bad.map(e => f"${e._1}:${e._2}%.2f").mkString(", ")}")
    }
  }

  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de")

  /** The synthetic corpus, written once per dir: documents in the
    * testdata's shape (31-word vocab, 10–100 words per doc, 20 sources,
    * ~0.2% exact dups) and clustered 64-dim embeddings (10 labels, σ=0.25
    * around Gaussian centers), both from one seed-7 stream.
    */
  private def ensureCorpus(spark: SparkSession, dir: String, nDocs: Int, nVecs: Int): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$dir/embeddings.parquet/_SUCCESS"))) return
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

  /** `copies` copies of every table of the sf dir `src`, written to `dst`
    * as one parquet file per table (the layout `tools/compare.py`
    * reads), so the oracle-gated queries' accumulations
    * (DECIMAL(38,0)/HUGEINT sums, IEEE chains) grow `copies`× and can be
    * hash-checked a scale step above the testdata.
    *
    * Each copy shifts the order/cust/supp/part/doc/vec/user/event keys by
    * copy·(max+1), which keeps referential integrity; nation and region
    * stay fixed. Copy i > 0 tags every document token with `_i`, an
    * injective token map, so similarity within a copy is exact and
    * Jaccard across copies is 0 (identical copies would square the
    * similarity-join output instead of scaling it). Values (prices,
    * dates, flags) are untouched, so group-by accumulations grow with the
    * copies.
    */
  private def writeCopies(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
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
      println(s"[soak] $t -> $target (${spark.read.parquet(target.toString).count()} rows)")
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
    writeOne(replicate(documents, Map("doc_id" -> docOff),
      mutate = (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"_$i"))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents")
    writeOne(replicate(embeddings, Map("vec_id" -> vecOff)), "embeddings")
  }
}
