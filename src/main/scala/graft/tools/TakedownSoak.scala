package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.streaming.{StreamingRelease, StreamingTombstone}

/** Prices the GDPR-erasure path at scale (r11): a tombstone store of N
  * admitted docs (built over 4 admission batches, release ledger
  * appended per batch), then ONE takedown of K docs through the
  * [[GraftSession.takedown]] facade — the tombstone merge, the delete
  * feed, and the release retraction in a single call, now behind the
  * r11 feed-history collision guard — then a vacuum past the
  * redelivery horizon.
  *
  * What the numbers must show for the 100 TB story:
  *  - takedown wall follows K + the touched BUCKETS, not N (the merge is
  *    bucket-pruned; the guard's high-water read is a directory listing,
  *    never a feed scan);
  *  - the release keeps tracking the store's live view EXACTLY through
  *    the retraction (asserted, not eyeballed);
  *  - time travel to a pre-takedown version still reproduces the
  *    pre-takedown aggregate (the erasure is a new version, not a
  *    rewrite of history — history disappears only at vacuum);
  *  - vacuum cost follows the touched buckets' rows.
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.TakedownSoak [nDocs] [nTakedown]"
  */
object TakedownSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val nTake = args.drop(1).headOption.map(_.toInt).getOrElse(10000)
    val spark = graft.GraftSession.fromEnv(16)
    import spark.implicits._

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // doc shape mirrors the documents table's columns the release
    // fingerprints (doc_id, lang, text) + the store envelope (seq, del)
    def docs(lo: Long, hi: Long, seq: Long, del: Boolean): DataFrame =
      spark.range(lo, hi).select(
        col("id").as("doc_id"),
        concat(lit("l"), pmod(col("id"), lit(5))).as("lang"),
        concat(lit("document body "), col("id"),
          lit(" with deterministic words "),
          pmod(xxhash64(col("id")), lit(1000))).as("text"),
        lit(seq).as("seq"), lit(del).as("del"))

    val root = java.nio.file.Files.createTempDirectory("takedown-soak").toString
    val snap = s"$root/snap"; val cdf = s"$root/cdf"; val rel = s"$root/rel"
    val per = math.ceil(nDocs / 4.0).toLong

    // 4 admission batches (the store's own 0..3 sequence on cdfDir)
    val (_, admitWall) = time {
      (0 until 4).foreach { i =>
        val b = docs(i * per, math.min((i + 1) * per, nDocs.toLong), seq = 1L, del = false)
        StreamingTombstone.processBatch(spark, b, i.toLong, "doc_id", "seq", "del",
          snap, cdf)
        StreamingRelease.appendBatch(b.drop("seq", "del"), rel, i.toLong)
      }
    }
    println(f"[takedown-soak] admitted $nDocs%,d docs over 4 batches in " +
      f"$admitWall%.1f s (${nDocs / admitWall}%.0f docs/s)")

    val g = GraftSession.attach(spark, root)
    // pre-takedown live aggregate (for the time-travel check)
    def liveAgg(): (Long, Long) = {
      val r = StreamingTombstone.snapshot(spark, snap, "del")
        .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val preAgg = liveAgg()

    // ONE takedown of nTake docs spread across the id space (worst bucket
    // locality: touches every bucket)
    val take = docs(0, nDocs.toLong, seq = 2L, del = true)
      .filter(pmod(col("doc_id"), lit(nDocs.toLong / nTake)) === 0)
    val (erased, takeWall) = time(
      g.takedown(take, "seq", "del", snap, cdf, rel, batchId = 4L))
    println(f"[takedown-soak] takedown of $erased%,d docs in $takeWall%.1f s")
    assert(erased == take.count(), "every targeted live doc must erase")

    // release ≡ live view (the composition contract, at scale)
    val live = StreamingTombstone.snapshot(spark, snap, "del")
      .select(col("doc_id"), col("lang"), col("text"))
    val (relDiff, relCheckWall) = time {
      val a = StreamingRelease.currentRelease(spark, rel).drop("watermark")
      val b = StreamingRelease.releaseBatch(live).drop("watermark")
      a.exceptAll(b).count() + b.exceptAll(a).count()
    }
    assert(relDiff == 0, s"release drifted from the live view by $relDiff rows")
    println(f"[takedown-soak] release == live view verified in $relCheckWall%.1f s")

    // time travel to the pre-takedown version reproduces the old state
    val (asOfAgg, asOfWall) = time {
      val r = g.snapshotAsOfDeletes(snap, cdf, "doc_id", "del", version = 3L)
        .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(asOfAgg == preAgg,
      s"asOf(3) must reproduce the pre-takedown state: $asOfAgg vs $preAgg")
    println(f"[takedown-soak] asOf(pre-takedown) verified in $asOfWall%.1f s")

    // vacuum past the redelivery horizon reclaims the tombstones
    val (removed, vacWall) = time(
      g.vacuumTombstones(snap, "seq", "del", seqHorizon = 2L))
    println(f"[takedown-soak] vacuum removed $removed%,d tombstones in $vacWall%.1f s")
    assert(removed == erased)
    assert(liveAgg()._1 == nDocs - erased)
    println(f"[takedown-soak] done: admit $admitWall%.1f s, " +
      f"takedown $takeWall%.1f s, vacuum $vacWall%.1f s at n=$nDocs%,d k=$erased%,d")
    spark.stop()
  }
}
