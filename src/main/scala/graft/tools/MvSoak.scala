package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingMv

/** Throughput / state-growth soak for the retraction-stream MV: N
  * micro-batches of synthetic CDC over a large key space (inserts,
  * in-group updates, group-moving updates, deletes), with a mid-run
  * `compactLog`, and a full-rebuild equality check at the end.
  *
  * What to watch: per-batch wall should stay ~flat for add-only groups
  * (merge path) and grow only with the touched groups' LOG depth on
  * retract batches — compaction resets that depth. A drifting per-batch
  * time after compaction would mean the log fold isn't bounding state.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.MvSoak [nBatches] [rowsPerBatch]"
  */
object MvSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(16)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(32000)
    val nGroups = 64
    val spark = graft.GraftSession.fromEnv(16)
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("mv-soak").toString
    // deterministic synthetic CDC: batch b inserts keys [b*P, b*P+P),
    // updates 1/4 of the PREVIOUS batch's keys (half moving groups),
    // deletes 1/8 of them
    def grp(k: Long): Long = k % nGroups
    def cents(k: Long, ver: Long): Long = 100 + (k * 7 + ver * 13) % 900
    def batchDf(b: Int): DataFrame = {
      val inserts = spark.range(b.toLong * perBatch, (b + 1).toLong * perBatch)
        .select($"id".as("key"), lit("insert").as("change_type"),
          lit(null).cast("bigint").as("old_grp"), lit(null).cast("bigint").as("old_cents"),
          expr(s"id % $nGroups").as("new_grp"),
          expr(s"100 + (id * 7 + $b * 13) % 900").as("new_cents"))
      if (b == 0) inserts
      else {
        val prevStart = (b - 1).toLong * perBatch
        val prev = spark.range(prevStart, prevStart + perBatch)
        val updates = prev.filter($"id" % 8 < 2) // 1/4 updated
          .select($"id".as("key"), lit("update").as("change_type"),
            expr(s"id % $nGroups").as("old_grp"),
            expr(s"100 + (id * 7 + ${b - 1} * 13) % 900").as("old_cents"),
            // half the updates move to a different group
            expr(s"CASE WHEN id % 2 = 0 THEN (id + 1) % $nGroups ELSE id % $nGroups END")
              .as("new_grp"),
            expr(s"100 + (id * 7 + $b * 13) % 900").as("new_cents"))
        val deletes = prev.filter($"id" % 8 === 7) // 1/8 deleted
          .select($"id".as("key"), lit("delete").as("change_type"),
            expr(s"id % $nGroups").as("old_grp"),
            expr(s"100 + (id * 7 + ${b - 1} * 13) % 900").as("old_cents"),
            lit(null).cast("bigint").as("new_grp"), lit(null).cast("bigint").as("new_cents"))
        inserts.unionByName(updates).unionByName(deletes)
      }
    }

    var total = 0L
    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      val bt = System.nanoTime()
      val df = batchDf(b)
      StreamingMv.processBatch(spark, df, b.toLong, dir)
      total += df.count()
      val secs = (System.nanoTime() - bt) / 1e9
      println(f"[mv-soak] batch $b%2d rows=${df.count()}%6d wall=$secs%5.1fs")
      if (b == nBatches / 2) {
        val ct = System.nanoTime()
        StreamingMv.compactLog(spark, dir)
        println(f"[mv-soak] compactLog at batch $b: ${(System.nanoTime() - ct) / 1e9}%5.1fs")
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // ground truth: replay all batches over a key->(grp,cents) reduction
    val allFeeds = (0 until nBatches).map(batchDf).reduce(_.unionByName(_))
    // last change per key wins (batches are ordered; within a batch a key
    // appears once)
    val truth = allFeeds
      .withColumn("b", expr("monotonically_increasing_id()")) // not needed for order; use batch tag instead
    // simpler: recompute truth from the generator's algebra
    val lastVer = (0 until nBatches).map { b => (b, b) }
    val live = spark.range(0L, nBatches.toLong * perBatch).select($"id".as("key"))
      .withColumn("born", expr(s"CAST(key div $perBatch AS INT)"))
      // a key's row is deleted iff key%8==7 AND a batch born+1 ran;
      // updated iff key%8<2 AND born+1 ran (then cents/grp from ver born+1)
      .withColumn("has_next", $"born" < nBatches - 1)
      .filter(!($"key" % 8 === 7 && $"has_next"))
      .withColumn("ver", when($"key" % 8 < 2 && $"has_next", $"born" + 1).otherwise($"born"))
      .withColumn("grp",
        when($"key" % 8 < 2 && $"has_next" && $"key" % 2 === 0,
          ($"key" + 1) % nGroups).otherwise($"key" % nGroups))
      .withColumn("cents", expr(s"100 + (key * 7 + ver * 13) % 900"))
    val want = live.groupBy($"grp").agg(count(lit(1)).as("n_rows"),
        sum($"cents").as("sum_cents"), min($"cents").as("min_cents"),
        max($"cents").as("max_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val got = StreamingMv.view(spark, dir)
      .select($"grp", $"n_rows", $"sum_cents", $"min_cents", $"max_cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val ok = got == want
    println(f"[mv-soak] batches=$nBatches rows=$total wall=$wall%.1fs " +
      f"rows_per_sec=${total / wall}%.0f view_matches_rebuild=$ok")
    assert(ok, "soaked view diverged from the generator-algebra rebuild")
    spark.stop()
  }
}
