package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestKit
import graft.domain.{Cleanse, Cm1, Cm2, DataGen, DomainConfig, GenSpec, Schemas}

/** StreamingGold: foreachBatch silver→gold mart maintenance.
  *
  *  - mart after N micro-batches ≡ one-shot batch recompute over the full
  *    silver store (the VERDICT r7 item-6 contract);
  *  - months land in distinct `month_key` partitions and only the touched
  *    month is rewritten;
  *  - an at-least-once replay of a completed batch is byte-idempotent;
  *  - a restart from the same checkpoint with no new data is a no-op.
  */
class StreamingGoldSpec extends AnyFunSuite with SparkTestKit {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private val cfgJul = DomainConfig(asOf = Timestamp.valueOf("2025-07-04 10:00:00"))
  private val cfgAug = DomainConfig(asOf = Timestamp.valueOf("2025-08-02 09:00:00"))

  private def freightSilver: DataFrame =
    Cleanse.toSilver(Cleanse.freight(Cleanse.flatten(
      DataGen.bronzeFreight(spark, GenSpec(freight = 25), cfgJul))))

  private def writeBronze(dir: String, spec: GenSpec, cfg: DomainConfig): Unit =
    DataGen.bronzeJoor(spark, spec, cfg).write.mode("append").json(dir)

  private def cleansedStream(bronzeDir: String): DataFrame =
    StreamingIngest.cleanseStream(
      StreamingIngest.readBronzeStream(spark, bronzeDir, Schemas.joorRaw),
      "joor_orders")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** Every log message `body` emits at the levels the loggers pass. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("streaming-gold-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("maintained marts after two micro-batches == one-shot batch recompute") {
    val bronzeDir = tmp("sg-bronze"); val silverDir = tmp("sg-silver")
    val goldDir = tmp("sg-gold"); val ckpt = tmp("sg-ckpt")
    val freight = freightSilver
    val cfgFor = (id: Long) => if (id == 0L) cfgJul else cfgAug

    // batch 0: July processing date; the session config silences the
    // benign per-start "adaptive is not supported in streaming" notice
    writeBronze(bronzeDir, GenSpec(joor = 40), cfgJul)
    val notices = logged {
      StreamingGold.goldMaintenance(cleansedStream(bronzeDir), silverDir, goldDir,
        ckpt, freight, cfgFor).start().awaitTermination()
    }.filter(_.contains("spark.sql.adaptive.enabled is not supported"))
    assert(notices.isEmpty, notices)

    // batch 1: NEW files only, August processing date → a second month
    writeBronze(bronzeDir, GenSpec(joor = 30, seed = 43), cfgJul)
    StreamingGold.goldMaintenance(cleansedStream(bronzeDir), silverDir, goldDir,
      ckpt, freight, cfgFor).start().awaitTermination()

    // both month partitions exist in the mart layout
    val parts = new java.io.File(s"$goldDir/wholesale_cm2").listFiles()
      .map(_.getName).filter(_.startsWith("month_key=")).sorted.toSeq
    assert(parts == Seq("month_key=202507", "month_key=202508"))

    // one-shot recompute from the silver store the stream built
    val silverAll = spark.read.option("basePath", silverDir).parquet(silverDir)
    val expectCm1 = Cm1.joorAt(silverAll, cfgJul, col("ingest_date"))
    val expectCm2 = Cm2.joor(expectCm1, freight, cfgJul)
    val gotCm1 = spark.read.parquet(s"$goldDir/wholesale_cm1").drop("month_key")
    val gotCm2 = spark.read.parquet(s"$goldDir/wholesale_cm2").drop("month_key")
    assert(gotCm1.count() == 70)
    assert(sortedRows(gotCm1.select(expectCm1.columns.map(col).toSeq: _*)) ==
      sortedRows(expectCm1))
    assert(sortedRows(gotCm2.select(expectCm2.columns.map(col).toSeq: _*)) ==
      sortedRows(expectCm2))

    // restart from the same checkpoint with no new data: exactly-once no-op
    StreamingGold.goldMaintenance(cleansedStream(bronzeDir), silverDir, goldDir,
      ckpt, freight, cfgFor).start().awaitTermination()
    assert(spark.read.parquet(s"$goldDir/wholesale_cm2").count() == gotCm2.count())
  }

  test("replaying a completed batch is idempotent (crash between sink work and commit)") {
    val silverDir = tmp("sg2-silver"); val goldDir = tmp("sg2-gold")
    val freight = freightSilver
    val batch = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 25), cfgJul)))

    StreamingGold.processBatch(spark, batch, 0L, silverDir, goldDir, freight, cfgJul)
    val first = sortedRows(spark.read.parquet(s"$goldDir/wholesale_cm2"))

    // at-least-once replay: same batch id, same clock — must converge
    StreamingGold.processBatch(spark, batch, 0L, silverDir, goldDir, freight, cfgJul)
    val second = sortedRows(spark.read.parquet(s"$goldDir/wholesale_cm2"))
    assert(first == second)
    assert(spark.read.parquet(silverDir).count() == 25)
  }

  test("second month recompute leaves the first month's files untouched") {
    val silverDir = tmp("sg3-silver"); val goldDir = tmp("sg3-gold")
    val freight = freightSilver
    val b0 = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 20), cfgJul)))
    val b1 = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 15, seed = 7), cfgAug)))

    StreamingGold.processBatch(spark, b0, 0L, silverDir, goldDir, freight, cfgJul)
    val julPart = new java.io.File(s"$goldDir/wholesale_cm2/month_key=202507")
    val before = julPart.listFiles().map(f => f.getName -> f.lastModified()).toMap

    StreamingGold.processBatch(spark, b1, 1L, silverDir, goldDir, freight, cfgAug)
    val after = julPart.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before == after, "dynamic partition overwrite must not rewrite July")
    assert(new java.io.File(s"$goldDir/wholesale_cm2/month_key=202508").exists())
  }

  test("replay under a drifted clock evicts the old month's batch dir (no double count)") {
    val silverDir = tmp("sg5-silver"); val goldDir = tmp("sg5-gold")
    val freight = freightSilver
    val b0 = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 20), cfgJul)))
    val b1 = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 15, seed = 7), cfgJul)))

    StreamingGold.processBatch(spark, b0, 0L, silverDir, goldDir, freight, cfgJul)
    // first attempt of batch 1 stamps July...
    StreamingGold.processBatch(spark, b1, 1L, silverDir, goldDir, freight, cfgJul)
    // ...then a caller violating the pure-cfgForBatch contract replays
    // batch 1 under an August clock. Without the guard the July
    // batch_id=1 dir survives and the 15 rows are counted in BOTH months.
    StreamingGold.processBatch(spark, b1, 1L, silverDir, goldDir, freight, cfgAug)

    assert(!new java.io.File(s"$silverDir/month_key=202507/batch_id=1").exists(),
      "drifted replay must evict the old month's batch dir")
    assert(new java.io.File(s"$silverDir/month_key=202508/batch_id=1").exists())
    assert(spark.read.parquet(silverDir).count() == 35, "no double count")

    // end state ≡ batch 1 having always been August: July marts reflect
    // batch 0 only, August marts reflect batch 1 only
    val cleanSilver = tmp("sg5-clean-silver"); val cleanGold = tmp("sg5-clean-gold")
    StreamingGold.processBatch(spark, b0, 0L, cleanSilver, cleanGold, freight, cfgJul)
    StreamingGold.processBatch(spark, b1, 1L, cleanSilver, cleanGold, freight, cfgAug)
    assert(sortedRows(spark.read.parquet(s"$goldDir/wholesale_cm2")) ==
      sortedRows(spark.read.parquet(s"$cleanGold/wholesale_cm2")))
  }

  test("drifted replay that empties a month removes its mart partitions") {
    val silverDir = tmp("sg6-silver"); val goldDir = tmp("sg6-gold")
    val freight = freightSilver
    val b0 = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 12), cfgJul)))
    // batch 0 is the ONLY July batch; replaying it under August must
    // retract July entirely — silver month dir and both mart partitions
    StreamingGold.processBatch(spark, b0, 0L, silverDir, goldDir, freight, cfgJul)
    assert(new java.io.File(s"$goldDir/wholesale_cm2/month_key=202507").exists())
    StreamingGold.processBatch(spark, b0, 0L, silverDir, goldDir, freight, cfgAug)
    assert(!new java.io.File(s"$silverDir/month_key=202507").exists())
    assert(!new java.io.File(s"$goldDir/wholesale_cm1/month_key=202507").exists())
    assert(!new java.io.File(s"$goldDir/wholesale_cm2/month_key=202507").exists())
    assert(spark.read.parquet(silverDir).count() == 12)
    assert(new java.io.File(s"$goldDir/wholesale_cm2/month_key=202508").exists())
  }

  test("empty first batch is skipped without poisoning the store") {
    val silverDir = tmp("sg4-silver"); val goldDir = tmp("sg4-gold")
    val freight = freightSilver
    val empty = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 5), cfgJul))).limit(0)
    StreamingGold.processBatch(spark, empty, 0L, silverDir, goldDir, freight, cfgJul)
    assert(!new java.io.File(s"$goldDir/wholesale_cm2").exists())
    val real = Cleanse.joor(Cleanse.flatten(
      DataGen.bronzeJoor(spark, GenSpec(joor = 5), cfgJul)))
    StreamingGold.processBatch(spark, real, 1L, silverDir, goldDir, freight, cfgJul)
    assert(spark.read.parquet(s"$goldDir/wholesale_cm2").count() > 0)
  }
}
