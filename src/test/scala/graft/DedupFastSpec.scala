package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import graft.queries.Dedup

/** Gate for the production (xxhash64-integer) MinHash variant: same
  * near-dup pair set as the md5 oracle variant up to threshold noise.
  * Different hash families randomize the signature differently, so pairs
  * sitting exactly at est_jaccard == 0.5 may flip in or out — the gate is
  * high set-agreement, not equality.
  */
class DedupFastSpec extends AnyFunSuite with SparkTestKit with AdaptiveSparkPlanHelper {

  test("fast minhash agrees with the md5 oracle variant on the corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = pairs(Dedup.minhashPairs(spark, sfDir))
    val fastPairs = pairs(Dedup.minhashPairsFast(spark, sfDir))
    assert(md5Pairs.size >= 20, s"md5 variant found too few pairs: ${md5Pairs.size}")
    assert(fastPairs.size >= 20, s"fast variant found too few pairs: ${fastPairs.size}")
    val overlap = (md5Pairs & fastPairs).size.toDouble / (md5Pairs | fastPairs).size
    assert(overlap >= 0.85, f"pair-set agreement $overlap%.2f below 0.85: " +
      s"onlyMd5=${md5Pairs -- fastPairs} onlyFast=${fastPairs -- md5Pairs}")
  }

  test("Memo.clear unpersists and rebuilding still yields the same pairs") {
    val before = Dedup.minhashPairs(spark, sfDir).count()
    graft.queries.Memo.clear(spark)
    assert(Dedup.minhashPairs(spark, sfDir).count() == before)
  }

  test("Memo invalidates when the data under dir is rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    (1L to 10L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var builds = 0
    def get() = graft.queries.Memo.cached(spark, dir, "memo-inval-test") {
      builds += 1; spark.read.parquet(s"$dir/t.parquet")
    }
    assert(get().count() == 10 && builds == 1)
    assert(get().count() == 10 && builds == 1) // same fingerprint → memo hit
    // no sleep: part-file write-UUIDs change the fingerprint even when a
    // same-second overwrite leaves the table dir's mtime untouched
    (1L to 25L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(get().count() == 25, "stale memo served after rewrite")
    assert(builds == 2)
    graft.queries.Memo.clear(spark)
  }

  test("Memo.cachedValue builds once per fingerprint and invalidates on rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-valmemo").toString
    (1L to 10L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var builds = 0
    def get() = graft.queries.Memo.cachedValue(spark, dir, "val-memo-test") {
      builds += 1; spark.read.parquet(s"$dir/t.parquet").count()
    }
    assert(get() == 10L && builds == 1)
    assert(get() == 10L && builds == 1) // same fingerprint → memo hit
    (1L to 25L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(get() == 25L, "stale value memo served after rewrite")
    assert(builds == 2)
    graft.queries.Memo.clear(spark)
  }

  test("fast minhash stays a banded equi-join (no cartesian)") {
    val p = Dedup.minhashLshFast.run(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("blocked-linkage pricing guard: over-cap block populations refuse naming the levers") {
    import spark.implicits._
    // one degenerate block of 1,200 rows → 719,400 projected pairs
    val dense = (0 until 1200).map(i => (i.toLong, "B0")).toDF("id", "blk")
    val e = intercept[IllegalArgumentException] {
      Dedup.requireBlockedPairsUnderCap(dense, "blk", "spec_fixture", cap = 500000L)
    }
    assert(e.getMessage.contains("719400") &&
      e.getMessage.contains("j13_self_join_price") &&
      e.getMessage.contains("rare-shingle"),
      s"refusal must carry the projection and name the levers: ${e.getMessage}")
    // under the cap: no-op (and d18/d19 themselves stay green at gate SF
    // with the guard wired — their runs below prove the pass-through)
    Dedup.requireBlockedPairsUnderCap(dense, "blk", "spec_fixture", cap = 800000L)
    assert(Dedup.goldenRecord.run(spark, sfDir).count() > 0)
    assert(Dedup.fellegiSunter.run(spark, sfDir).count() > 0)
  }

  test("d17 broadcast gate follows spark.sql.autoBroadcastJoinThreshold") {
    // planned, not run: the two joins that carry the 3-gram arrays, and
    // whether the ids-only `needed` semi-join inside the array cache is
    // still a broadcast
    def planned(): (Seq[String], Boolean) = {
      val plan = Dedup.prefixFilterJoin.run(spark, sfDir).queryExecution.executedPlan
      def carriesArrays(p: SparkPlan) = p.output.exists(a => a.name == "ga" || a.name == "gb")
      val arrayJoins = collect(plan) { case j: BaseJoinExec if carriesArrays(j) => j.nodeName }
      val neededBroadcast = collect(plan) {
        case t: InMemoryTableScanExec if carriesArrays(t) => t.relation.cachedPlan
      }.exists(p => collect(p) { case b: BroadcastHashJoinExec => b.joinType }
        .contains(org.apache.spark.sql.catalyst.plans.LeftSemi))
      (arrayJoins, neededBroadcast)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      // documents.parquet ×16 sits under the 10 MB default: broadcast
      assert(planned() == (Seq("BroadcastHashJoin", "BroadcastHashJoin"), true))
      spark.conf.set(key, "-1") // never broadcast
      val (arrayJoins, neededBroadcast) = planned()
      assert(arrayJoins.size == 2 && !arrayJoins.exists(_.startsWith("Broadcast")),
        s"array-side joins still broadcast under threshold -1: $arrayJoins")
      assert(neededBroadcast, "the ids-only `needed` broadcast must stay")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      // caches planned under -1 must not serve later suites
      spark.catalog.clearCache()
      graft.queries.Memo.clear(spark)
    }
  }
}
