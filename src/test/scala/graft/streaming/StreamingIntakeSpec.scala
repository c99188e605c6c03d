package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit

/** Composed-intake gates: the single-pass verdict table must equal what
  * the two standalone screens say independently (per column), every doc
  * gets exactly one row with the `admitted` conjunction, the band index
  * ingests contaminated docs too (a later near-copy of a rejected page
  * is still flagged), and replaying a batch converges.
  */
class StreamingIntakeSpec extends AnyFunSuite with SparkTestKit {

  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // twelve-word sentences: plentiful 3-gram shingles for the near-dup
  // screen AND five 8-grams for the decontam screen; disjoint per-seed
  // vocabularies so the only overlaps are the engineered ones
  private def sentence(seed: Int): String =
    (0 until 12).map(i => s"s${seed}w$i").mkString(" ")
  private def mutate(s: String): String = {
    val w = s.split(" "); w(w.length - 1) = "zzz"; w.mkString(" ")
  }

  private val evalDocs = Seq((900L, sentence(1))).toDF("doc_id", "text")

  // batch 1: clean original, its near-copy, a verbatim eval copy
  // (contaminated but NOT a near-dup of anything earlier), a doc too
  // short for either screen, and a second clean original
  private val batch1 = Seq(
    (0L, sentence(10)), (1L, mutate(sentence(10))), (2L, sentence(1)),
    (3L, "too short"), (4L, sentence(11))
  )
  // batch 2: a near-copy of the CONTAMINATED doc 2 — flagged only if the
  // index ingested doc 2 despite its rejection — plus a fresh clean doc
  private val batch2 = Seq((10L, mutate(sentence(1))), (11L, sentence(12)))

  private def verdictMap(df: DataFrame): Map[Long, (Boolean, Boolean, Boolean)] =
    df.select($"doc_id", $"is_near_dup", $"is_contaminated", $"admitted")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap

  test("composed verdicts equal the standalone screens; admitted conjunction; index covers rejected docs") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("in-index") + "/index"
    val srcDir = tmp("in-src")
    val verdictDir = tmp("in-verdicts") + "/v"
    val ckpt = tmp("in-ckpt")

    def run(): Unit = {
      val q = StreamingIntake.sink(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id bigint, text string"))
          .json(srcDir),
        indexDir, screen, verdictDir, ckpt).start()
      q.awaitTermination()
    }

    batch1.toDF("doc_id", "text").write.mode("append").json(srcDir)
    run()
    batch2.toDF("doc_id", "text").write.mode("append").json(srcDir)
    run()

    val v = verdictMap(spark.read.parquet(verdictDir))
    assert(v.keySet == (batch1 ++ batch2).map(_._1).toSet,
      s"one verdict row per input doc expected: ${v.keySet}")
    // the engineered shape, stated directly
    assert(v(0L) == ((false, false, true)))
    assert(v(1L) == ((true, false, false)), s"near-copy of doc 0: ${v(1L)}")
    assert(v(2L) == ((false, true, false)), s"verbatim eval copy: ${v(2L)}")
    assert(v(3L) == ((false, false, true)), s"short doc must get explicit falses: ${v(3L)}")
    assert(v(10L)._1, s"near-copy of a CONTAMINATED doc must still flag near-dup " +
      s"(the index must ingest rejected docs): ${v(10L)}")
    assert(v(11L) == ((false, false, true)))
    // admitted ≡ !near_dup && !contaminated, row by row
    v.foreach { case (id, (nd, dc, adm)) =>
      assert(adm == (!nd && !dc), s"doc $id: admitted=$adm vs nd=$nd dc=$dc")
    }

    // verdict-equality vs the standalone screens, replayed batch-by-batch
    // into a SEPARATE index: every shared column must agree exactly
    val soloIndex = tmp("in-solo") + "/index"
    val solo = Seq(batch1 -> 0L, batch2 -> 1L).map { case (rows, bid) =>
      val df = rows.toDF("doc_id", "text")
      StreamingNearDup.screenBatch(df, soloIndex, bid)
        .join(StreamingDecontam.screenBatch(df, screen), Seq("doc_id"))
    }.reduce(_ unionByName _)
      .select($"doc_id", $"is_near_dup", $"matched_doc", $"est_jaccard",
        $"is_contaminated", $"n_shared_ngrams")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val composed = spark.read.parquet(verdictDir)
      .select($"doc_id", $"is_near_dup", $"matched_doc", $"est_jaccard",
        $"is_contaminated", $"n_shared_ngrams")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(composed == solo,
      s"composition changed a screen's verdict:\n composed=$composed\n solo=$solo")

    // replay idempotence: re-screening batch 2 under its original batchId
    // converges — identical verdicts, no index growth
    val before = spark.read.parquet(indexDir).count()
    val again = verdictMap(
      StreamingIntake.screenBatch(batch2.toDF("doc_id", "text"), indexDir, 1L, screen))
    assert(again == v.filter { case (id, _) => batch2.exists(_._1 == id) },
      s"replayed batch-2 verdicts drifted: $again")
    assert(spark.read.parquet(indexDir).count() == before,
      "replay must dynamic-overwrite its own partition, not append")
  }

  // embedding fixtures for the three-screen intake: same family scheme as
  // StreamingSemDedupSpec — near-orthogonal families, near-copies ≈ 0.999
  private def emb(f: Int): Array[Float] = {
    val v = Array.fill(8)(0.0f); v(f % 8) = 10.0f; v((f + 3) % 8) += 1.0f; v
  }
  private def embCopy(f: Int): Array[Float] = {
    val v = emb(f); v((f + 5) % 8) += 0.3f; v
  }

  test("quota composition: rejected docs never burn quota; ledger spans batches; replay converges") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("q-index") + "/index"
    val ledgerDir = tmp("q-ledger") + "/ledger"
    // frozen profile: one language, budget 2 → quota(en) = 2
    val quota = StreamingAdmission.quotas(Seq("en", "en").toDF("lang"), budget = 2L)

    // batch 1, all lang=en, all quality 1.0 (ties broken by doc_id):
    // doc 0 clean, doc 1 = near-copy of 0 (rejected), docs 2 and 3 clean.
    // With quota 2, the slots must go to docs 0 and 2 — if the REJECTED
    // doc 1 consumed a slot, doc 2 would miss out.
    val b1 = Seq(
      (0L, sentence(20), "en"), (1L, mutate(sentence(20)), "en"),
      (2L, sentence(21), "en"), (3L, sentence(22), "en"))
    val v1 = StreamingIntake.screenBatchWithQuota(
      b1.toDF("doc_id", "text", "lang"), indexDir, 0L, screen, quota, ledgerDir)
      .select($"doc_id", $"clean", $"in_quota", $"admitted")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(v1(0L) == ((true, true, true)))
    assert(v1(1L) == ((false, false, false)), s"near-copy must be excluded: ${v1(1L)}")
    assert(v1(2L) == ((true, true, true)),
      s"rejected doc 1 must not have burned doc 2's slot: ${v1(2L)}")
    assert(v1(3L) == ((true, false, false)), s"over-quota clean doc: ${v1(3L)}")

    // batch 2: a clean doc arrives after the quota closed → clean but not
    // admitted (the ledger carries batch 1's consumption)
    val b2 = Seq((10L, sentence(23), "en"))
    val v2 = StreamingIntake.screenBatchWithQuota(
      b2.toDF("doc_id", "text", "lang"), indexDir, 1L, screen, quota, ledgerDir)
      .select($"doc_id", $"clean", $"in_quota", $"admitted")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(v2(10L) == ((true, false, false)), s"quota must persist across batches: ${v2(10L)}")

    // replaying batch 1 converges to the identical verdicts and ledger
    val again = StreamingIntake.screenBatchWithQuota(
      b1.toDF("doc_id", "text", "lang"), indexDir, 0L, screen, quota, ledgerDir)
      .select($"doc_id", $"admitted")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(again == Map(0L -> true, 1L -> false, 2L -> true, 3L -> false),
      s"replay drifted: $again")
    val ledger = spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
      .groupBy($"lang").sum("n_admitted").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger == Map("en" -> 2L), s"ledger after replay: $ledger")
  }

  test("FULL intake over the IVF embedding index: same contracts, shared prunable index") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("ivf-index") + "/index"
    val embIndexDir = tmp("ivf-emb") + "/index"
    val ledgerDir = tmp("ivf-ledger"); val releaseDir = tmp("ivf-release")
    val quota = Seq(("en", 2L), ("de", 10L)).toDF("lang", "quota")

    // each rejection reason hit by a DIFFERENT doc:
    //   0, 1: clean en → admitted (both en slots)
    //   2: TEXT near-copy of 0 → only is_near_dup, must NOT burn an en slot
    //   3: verbatim EVAL text → only is_contaminated
    //   4: EMBEDDING near-copy of 0 → only is_sem_dup
    //   5: clean de → admitted
    val b1 = Seq(
      (0L, sentence(40), "en", emb(0)),
      (1L, sentence(41), "en", emb(1)),
      (2L, mutate(sentence(40)), "en", emb(2)),
      (3L, sentence(1), "en", emb(3)),
      (4L, sentence(42), "en", embCopy(0)),
      (5L, sentence(43), "de", emb(4)))
    // batch 2: a CROSS-BATCH embedding copy of doc 1, and a clean en doc
    // that finds the en quota spent (clean ∧ ¬in_quota)
    val b2 = Seq((10L, sentence(44), "en", embCopy(1)), (11L, sentence(45), "en", emb(5)))
    def df(rows: Seq[(Long, String, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "lang", "embedding")

    val v1 = StreamingIntake.screenBatchFullIvf(df(b1), indexDir, embIndexDir, 0L,
      screen, quota, ledgerDir, releaseDir, k = 3, tau = 0.9, nprobe = 3)
    val v2 = StreamingIntake.screenBatchFullIvf(df(b2), indexDir, embIndexDir, 1L,
      screen, quota, ledgerDir, releaseDir, k = 3, tau = 0.9, nprobe = 3)
    val v = (v1.collect() ++ v2.collect()).map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("is_near_dup"),
        r.getAs[Boolean]("is_contaminated"), r.getAs[Boolean]("is_sem_dup"),
        r.getAs[Boolean]("clean"), r.getAs[Boolean]("in_quota"),
        r.getAs[Boolean]("admitted")))
    }.toMap
    assert(v.keySet == (b1 ++ b2).map(_._1).toSet)
    assert(v(0L) == ((false, false, false, true, true, true)))
    assert(v(1L) == ((false, false, false, true, true, true)))
    assert(v(2L) == ((true, false, false, false, false, false)), s"text near-copy: ${v(2L)}")
    assert(v(3L) == ((false, true, false, false, false, false)), s"eval copy: ${v(3L)}")
    assert(v(4L) == ((false, false, true, false, false, false)),
      s"embedding near-copy via IVF screen: ${v(4L)}")
    assert(v(5L) == ((false, false, false, true, true, true)))
    // batch 2's CROSS-BATCH embedding copy is caught by the persisted index
    assert(v(10L) == ((false, false, true, false, false, false)),
      s"cross-batch sem copy via IVF history: ${v(10L)}")
    assert(v(11L) == ((false, false, false, true, false, false)), s"quota must bind: ${v(11L)}")
    v.foreach { case (id, (nd, dc, sd, clean, inQ, adm)) =>
      assert(clean == (!nd && !dc && !sd) && adm == (clean && inQ), s"doc $id conjunction broken")
    }

    // the semantic column equals the standalone IVF screen batch-by-batch
    // into a SEPARATE index (same frozen-on-first-batch codebook — the
    // quantized Lloyd is deterministic)
    val soloEmb = tmp("ivf-solo") + "/index"
    val solo = Seq(b1 -> 0L, b2 -> 1L).map { case (rows, bid) =>
      StreamingIvf.screenBatch(
        df(rows).select($"doc_id".as("vec_id"), $"embedding"), soloEmb, bid,
        nprobe = 3, tau = 0.9, trainOnFirstBatch = true, k = 3)
    }.reduce(_ unionByName _)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val composedSem = (v1.collect() ++ v2.collect()).map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("is_sem_dup"),
        if (r.isNullAt(r.fieldIndex("matched_sem_doc"))) -1L
        else r.getAs[Long]("matched_sem_doc")))
    }.toMap
    assert(composedSem == solo,
      s"composition changed the IVF semantic verdict:\n composed=$composedSem\n solo=$solo")

    // the embedding index is the SHARED StreamingIvf artifact: cell_id
    // layout on disk, every screened doc ingested (including rejected
    // ones), and ad-hoc probes work against it directly
    val postings = StreamingIvf.scanPostings(spark, embIndexDir).get
    assert(postings.select($"vec_id").collect().map(_.getLong(0)).toSet ==
      (b1 ++ b2).map(_._1).toSet,
      "index must ingest every screened doc, rejected ones included")
    val batchDir = new java.io.File(s"$embIndexDir/postings/__batch=0")
    assert(batchDir.isDirectory &&
      batchDir.listFiles().exists(_.getName.startsWith("cell_id=")),
      "intake-maintained index must keep the prunable cell_id=X layout")
    // doc 4's embedding IS embCopy(0) — the exact match (cosine 1.0)
    // outranks doc 0's 0.999
    val hit = StreamingIvf.probe(spark, embIndexDir,
      Seq((99L, embCopy(0))).toDF("vec_id", "embedding"), nprobe = 1, topK = 1)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(hit == Seq(4L), s"ad-hoc probe against the intake's index: $hit")

    // release ledger == one-shot cut over exactly the admitted docs
    def release = StreamingRelease.currentRelease(spark, releaseDir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val folded = release
    assert(folded == StreamingRelease.releaseBatch(
      df(b1).filter($"doc_id".isin(0L, 1L, 5L)).select($"doc_id", $"lang", $"text"))
      .collect().map(_.mkString("|")).sorted.toSeq)

    // replay of batch 0 converges (verdicts + ledger + release + both
    // indexes); the multimodal entry point is the same content step, so
    // replaying through it yields v1's screen columns with admitted = clean
    val textRowsBefore = spark.read.parquet(indexDir).count()
    val rowsBefore = StreamingIvf.scanPostings(spark, embIndexDir).get.count()
    val r = StreamingIntake.screenBatchFullIvf(df(b1), indexDir, embIndexDir, 0L,
      screen, quota, ledgerDir, releaseDir, k = 3, tau = 0.9, nprobe = 3)
    assert(r.collect().map(_.mkString("|")).sorted.toSeq ==
      v1.collect().map(_.mkString("|")).sorted.toSeq)
    r.unpersist()
    val mm = StreamingIntake.screenBatchMultimodalIvf(df(b1).drop("lang"), indexDir,
      embIndexDir, 0L, screen, k = 3, tau = 0.9, nprobe = 3)
    assert(mm.collect().map(_.mkString("|")).sorted.toSeq ==
      v1.drop("lang", "in_quota", "admitted").withColumnRenamed("clean", "admitted")
        .select(mm.columns.toSeq.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq)
    assert(release == folded, "replay must leave the release unchanged")
    assert(spark.read.parquet(indexDir).count() == textRowsBefore)
    assert(StreamingIvf.scanPostings(spark, embIndexDir).get.count() == rowsBefore)
    val ledger = spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
      .groupBy($"lang").sum("n_admitted").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ledger == Map("en" -> 2L, "de" -> 1L), s"ledger after replay: $ledger")
    v1.unpersist(); v2.unpersist()
  }

  test("FULL intake with split-at-admission: union match graph, semantic bridges flagged") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("sp-index") + "/index"
    val embIndexDir = tmp("sp-emb") + "/index"
    val ledgerDir = tmp("sp-ledger"); val releaseDir = tmp("sp-release")
    val labelDir = tmp("sp-labels") + "/labels"
    val quota = Seq(("en", 10L)).toDF("lang", "quota")
    def df(rows: Seq[(Long, String, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "lang", "embedding")

    // fixture ids pinned to DIFFERENT md5 splits (same as
    // StreamingSplitSpec): splitOf(0)=train, splitOf(3)=val
    //   0: clean                          → root 0, split train
    //   1: TEXT near-copy of 0            → joins 0's component
    //   3: clean                          → root 3, split val
    //   4: EMBEDDING near-copy of 0       → joins 0's component via the
    //      SEMANTIC edge (text shares nothing with anything)
    val b1 = Seq(
      (0L, sentence(50), "en", emb(0)),
      (1L, mutate(sentence(50)), "en", emb(2)),
      (3L, sentence(51), "en", emb(1)),
      (4L, sentence(53), "en", embCopy(0)))
    // 12: text-matches 0's component AND embedding-matches 3's — a
    //     bridge across components holding DIFFERENT splits
    // 13: fresh clean doc
    val b2 = Seq(
      (12L, mutate(mutate(sentence(50))), "en", embCopy(1)),
      (13L, sentence(54), "en", emb(4)))

    val v1 = StreamingIntake.screenBatchFullIvfSplit(df(b1), indexDir, embIndexDir,
      0L, screen, quota, ledgerDir, releaseDir, labelDir, k = 3, tau = 0.9, nprobe = 3)
    val m1 = v1.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("admitted"),
        r.getAs[Long]("root_id"), r.getAs[String]("split"),
        r.getAs[Boolean]("split_conflict")))
    }.toMap
    assert(m1(0L) == ((true, 0L, "train", false)))
    assert(m1(1L) == ((false, 0L, "train", false)), s"text edge: ${m1(1L)}")
    assert(m1(3L) == ((true, 3L, "val", false)))
    assert(m1(4L) == ((false, 0L, "train", false)),
      s"semantic edge must join the split component: ${m1(4L)}")

    val v2 = StreamingIntake.screenBatchFullIvfSplit(df(b2), indexDir, embIndexDir,
      1L, screen, quota, ledgerDir, releaseDir, labelDir, k = 3, tau = 0.9, nprobe = 3)
    val m2 = v2.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("is_near_dup"),
        r.getAs[Boolean]("is_sem_dup"), r.getAs[Boolean]("admitted"),
        r.getAs[Long]("root_id"), r.getAs[String]("split"),
        r.getAs[Boolean]("split_conflict")))
    }.toMap
    // the bridge: text near-dup of 0's component, sem near-dup of 3's;
    // first-assignment-wins takes the smaller root (0, train), flags it
    assert(m2(12L) == ((true, true, false, 0L, "train", true)),
      s"cross-screen bridge: ${m2(12L)}")
    assert(m2(13L)._3 && m2(13L)._4 == 13L && !m2(13L)._6, s"fresh doc: ${m2(13L)}")

    // history labels are never rewritten by the bridge
    val stored = spark.read.parquet(labelDir)
      .select($"doc_id", $"root_id", $"split", $"split_conflict")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(stored.keySet == Set(0L, 1L, 3L, 4L, 12L, 13L))
    assert(stored(0L) == ((0L, "train", false)) && stored(3L) == ((3L, "val", false)))

    // replay of batch 2 converges (verdicts + labels)
    val labelsBefore = spark.read.parquet(labelDir).collect()
      .map(_.mkString("|")).sorted.toSeq
    val r = StreamingIntake.screenBatchFullIvfSplit(df(b2), indexDir, embIndexDir,
      1L, screen, quota, ledgerDir, releaseDir, labelDir, k = 3, tau = 0.9, nprobe = 3)
    assert(r.collect().map(_.mkString("|")).sorted.toSeq ==
      v2.collect().map(_.mkString("|")).sorted.toSeq)
    val labelsAfter = spark.read.parquet(labelDir).collect()
      .map(_.mkString("|")).sorted.toSeq
    assert(labelsAfter == labelsBefore && labelsAfter.size == 6)
  }

  test("monitored full intake: screens + quota + split + all three monitors in one pass") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("mon-index") + "/index"
    val embIndexDir = tmp("mon-emb") + "/index"
    val ledgerDir = tmp("mon-ledger"); val releaseDir = tmp("mon-release")
    val labelDir = tmp("mon-labels") + "/labels"
    val verdictDir = tmp("mon-verd") + "/v"
    val driftBins = tmp("mon-dbins") + "/b"; val driftSum = tmp("mon-dsum")
    val kpiLedger = tmp("mon-kledger"); val kpiVerd = tmp("mon-kverd") + "/v"
    val profStats = tmp("mon-pstats") + "/s"; val profBm = tmp("mon-pbm") + "/b"
    val cusumLedger = tmp("mon-cledger"); val cusumVerd = tmp("mon-cverd") + "/v"
    val sampleDir = tmp("mon-sample") + "/s"
    val srcDir = tmp("mon-src"); val ckpt = tmp("mon-ckpt")
    val quota = Seq(("en", 100L)).toDF("lang", "quota")
    // drift reference: the fixture sentences' own length family
    val ref = StreamingDrift.prepare(
      Seq.tabulate(200)(i => (i.toLong, sentence(60 + i % 4).length.toLong))
        .toDF("id", "n_chars"), "n_chars", binWidth = 20L)

    val b1 = Seq(
      (0L, sentence(50), "en", emb(0)),
      (1L, mutate(sentence(50)), "en", emb(2)),
      (3L, sentence(51), "en", emb(1)))
    val b2 = Seq(
      (12L, sentence(52), "en", emb(5)),
      (13L, sentence(54), "en", emb(4)))

    def run(): Unit = {
      val q = StreamingIntake.sinkFullIvfSplitMonitored(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id bigint, text string, lang string, embedding array<float>"))
          .json(srcDir),
        indexDir, embIndexDir, screen, quota, ledgerDir, releaseDir, labelDir,
        verdictDir, ref, driftBins, driftSum, driftThreshold = 1500000L,
        kpiLedgerDir = kpiLedger, kpiVerdictDir = kpiVerd,
        profileStatsDir = profStats, profileBitmapDir = profBm,
        profileDomain = 1000, checkpointDir = ckpt,
        k = 3, tau = 0.9, nprobe = 3,
        cusumDirs = Some((cusumLedger, cusumVerd)),
        sampleDir = Some(sampleDir)).start()
      q.awaitTermination()
    }

    b1.toDF("doc_id", "text", "lang", "embedding").write.mode("append").json(srcDir)
    run()
    b2.toDF("doc_id", "text", "lang", "embedding").write.mode("append").json(srcDir)
    run()

    // the admission half behaves exactly like the unmonitored sink
    val v = spark.read.parquet(verdictDir)
    assert(v.select($"doc_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 3L, 12L, 13L))
    assert(v.filter($"doc_id" === 1L).head().getAs[Boolean]("is_near_dup"))
    // one verdict per doc, admitted = clean ∧ in_quota, and the quota
    // ledger conserves the admitted verdicts, within the quota
    assert(v.count() == 5L)
    assert(v.filter($"admitted" =!= ($"clean" && $"in_quota")).isEmpty)
    val ledgerN = spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
      .groupBy($"lang").sum("n_admitted").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledgerN == Map("en" -> v.filter($"admitted").count()) && ledgerN("en") <= 100L,
      s"quota ledger: $ledgerN")
    // drift: per-batch bins + summaries exist; in-family batches don't alert
    assert(spark.read.parquet(driftBins).select($"__batch").distinct().count() == 2)
    (0L to 1L).foreach { b =>
      val s = spark.read.parquet(s"$driftSum/batch_id=$b").head()
      assert(!s.getAs[Boolean]("is_alert"), s"in-family batch $b alerted: $s")
    }
    // anomaly: ledger row per batch with the ADMITTED char volume
    val admitted1 = b1.filter(r => r._1 != 1L) // doc 1 is the near-dup
    assert(spark.read.parquet(s"$kpiLedger/batch_id=0").head().getAs[Long]("kpi") ==
      admitted1.map(_._2.length.toLong).sum)
    // cusum (the triad's third leg): one ledger row per batch, its kpi
    // IDENTICAL to the anomaly ledger's (both measure the admitted char
    // volume — cross-monitor consistency), and warm-up never alarms
    (0L to 1L).foreach { b =>
      assert(spark.read.parquet(s"$cusumLedger/batch_id=$b").head()
        .getAs[Long]("kpi") ==
        spark.read.parquet(s"$kpiLedger/batch_id=$b").head().getAs[Long]("kpi"),
        s"cusum and anomaly ledgers disagree on batch $b's admitted KPI")
    }
    assert(spark.read.parquet(cusumVerd).filter($"is_alarm").isEmpty,
      "warm-up batches must never alarm")
    // profile: cumulative over both batches — exact distinct doc count
    val cum = StreamingProfile.cumulative(spark, profStats, profBm).head()
    assert(cum.getAs[Long]("n_rows") == 5L &&
      cum.getAs[Long]("n_distinct_keys") == 5L, s"profile drifted: $cum")
    // armed PPS sample: the maintained sample == a batch rerun over
    // exactly the ADMITTED docs (the near-dup doc 1 never enters)
    val admittedAll = (b1 ++ b2).filter(_._1 != 1L)
      .map(r => (r._1, r._2, r._3)).toDF("doc_id", "text", "source")
    val wantSample = {
      val scored = StreamingSampler.scored(admittedAll)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"sel_key", $"doc_id")
      scored.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn" <= StreamingSampler.defaultK).drop("rn")
    }
    assert(
      StreamingSampler.sample(spark, sampleDir)
        .collect().map(_.mkString("|")).sorted.toSeq ==
      wantSample.collect().map(_.mkString("|")).sorted.toSeq,
      "armed sample diverged from the batch rerun over admitted docs")

    // replay: fresh checkpoint over the same files converges everywhere
    // (binary columns stringify BY VALUE — Row.mkString would compare
    // Array[Byte] object identity)
    def snap(dirs: Seq[String]): Seq[Seq[String]] = dirs.map { d =>
      spark.read.parquet(d).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq
    }
    val dirs = Seq(verdictDir, driftBins, kpiVerd, profStats, profBm, cusumVerd)
    val before = snap(dirs)
    run() // same ckpt → no new batches; idempotence of the artifacts
    assert(snap(dirs) == before)
  }

  test("monitored intake with the RE-FREEZING drift reference: refresh + replay pin") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("rmon-index") + "/index"
    val embIndexDir = tmp("rmon-emb") + "/index"
    val ledgerDir = tmp("rmon-ledger"); val releaseDir = tmp("rmon-release")
    val labelDir = tmp("rmon-labels") + "/labels"
    val verdictDir = tmp("rmon-verd") + "/v"
    val driftBins = tmp("rmon-dbins") + "/b"; val driftSum = tmp("rmon-dsum")
    val refStore = tmp("rmon-refstore")
    val kpiLedger = tmp("rmon-kledger"); val kpiVerd = tmp("rmon-kverd") + "/v"
    val profStats = tmp("rmon-pstats") + "/s"; val profBm = tmp("rmon-pbm") + "/b"
    val srcDir = tmp("rmon-src"); val ckpt = tmp("rmon-ckpt")
    val quota = Seq(("en", 100L)).toDF("lang", "quota")
    // v0 reference: the SHORT length family — batch docs (12-word
    // sentences) land far above it, so batch 0 must alert
    StreamingDrift.publishReference(spark, refStore, 0L,
      Seq.tabulate(100)(i => (i.toLong, 20L + i % 3)).toDF("id", "n_chars"),
      "n_chars", binWidth = 20L)

    def run(): Unit = {
      val q = StreamingIntake.sinkFullIvfSplitMonitoredRefreshing(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id bigint, text string, lang string, embedding array<float>"))
          .json(srcDir),
        indexDir, embIndexDir, screen, quota, ledgerDir, releaseDir, labelDir,
        verdictDir, refStore, driftBins, driftSum, driftThreshold = 500000L,
        kpiLedgerDir = kpiLedger, kpiVerdictDir = kpiVerd,
        profileStatsDir = profStats, profileBitmapDir = profBm,
        profileDomain = 1000, checkpointDir = ckpt,
        k = 3, tau = 0.9, nprobe = 3).start()
      q.awaitTermination()
    }
    def summary(b: Long): (Boolean, Long) = {
      val r = spark.read.parquet(s"$driftSum/batch_id=$b")
        .select($"is_alert", $"ref_version").head()
      (r.getBoolean(0), r.getLong(1))
    }

    val b1 = Seq((0L, sentence(50), "en", emb(0)), (3L, sentence(51), "en", emb(1)))
    b1.toDF("doc_id", "text", "lang", "embedding").write.mode("append").json(srcDir)
    run()
    assert(summary(0L) == ((true, 0L)),
      "batch 0 must alert against the short-text v0 reference and pin version 0")

    // the corpus re-releases with the real length family → v1
    StreamingDrift.publishReference(spark, refStore, 1L,
      Seq.tabulate(200)(i => (i.toLong, sentence(60 + i % 4).length.toLong))
        .toDF("id", "n_chars"), "n_chars", binWidth = 20L)
    val b2 = Seq((12L, sentence(52), "en", emb(5)), (13L, sentence(54), "en", emb(4)))
    b2.toDF("doc_id", "text", "lang", "embedding").write.mode("append").json(srcDir)
    run()
    assert(summary(1L) == ((false, 1L)),
      "batch 1 must score quiet against the refreshed v1 reference")

    // replay batch 0 directly: the ledger pin routes it back to v0 —
    // summary byte-identical even though v1 is now the newest version
    val before0 = spark.read.parquet(s"$driftSum/batch_id=0")
      .collect().map(_.toString).sorted.toSeq
    StreamingDrift.processBatchRefreshing(spark,
      b1.toDF("doc_id", "text", "lang", "embedding")
        .select($"doc_id", length($"text").cast("long").as("n_chars")),
      0L, refStore, "n_chars", driftBins, driftSum, 500000L)
    assert(spark.read.parquet(s"$driftSum/batch_id=0")
      .collect().map(_.toString).sorted.toSeq == before0,
      "replay must reuse the pinned v0 reference")
    // the admission half is unchanged by the drift policy
    assert(spark.read.parquet(verdictDir).select($"doc_id")
      .collect().map(_.getLong(0)).toSet == Set(0L, 3L, 12L, 13L))
  }

  test("the composed screen plan stays nested-loop-free") {
    val screen = StreamingDecontam.prepare(evalDocs)
    val indexDir = tmp("in-plan") + "/index"
    val p = StreamingIntake.screenBatch(
      batch1.toDF("doc_id", "text"), indexDir, 0L, screen)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composed intake degenerated to a cartesian:\n${p.take(1500)}")
  }
}
