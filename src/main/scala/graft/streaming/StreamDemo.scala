package graft.streaming

import java.nio.file.Files
import graft.domain.{Cleanse, DataGen, DomainConfig, GenSpec, Schemas}

/** Runnable demo of the streaming ingest path:
  * `sbt "runMain graft.streaming.StreamDemo"` — generates two bronze
  * micro-batches of joor envelope JSON, streams them through the cleanse
  * into silver parquet with exactly-once checkpoints, and prints the
  * per-batch and final counts.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.fromEnv(4)
    val cfg = DomainConfig()
    val bronzeDir = Files.createTempDirectory("demo-bronze").toString
    val silverDir = Files.createTempDirectory("demo-silver").toString
    val ckptDir = Files.createTempDirectory("demo-ckpt").toString

    def drain(): Long = {
      val q = StreamingIngest.silverSink(
        StreamingIngest.cleanseStream(
          StreamingIngest.readBronzeStream(spark, bronzeDir, Schemas.joorRaw),
          "joor_orders"),
        silverDir, ckptDir).start()
      q.awaitTermination()
      spark.read.parquet(silverDir).count()
    }

    DataGen.bronzeJoor(spark, GenSpec(joor = 100), cfg).write.mode("append").json(bronzeDir)
    println(s"[demo] after batch 1: silver rows = ${drain()}")
    DataGen.bronzeJoor(spark, GenSpec(joor = 60, seed = 7L), cfg).write.mode("append").json(bronzeDir)
    println(s"[demo] after batch 2: silver rows = ${drain()}")
    println(s"[demo] replay with no new files: silver rows = ${drain()} (exactly-once)")

    // custom keyed state: lifetime buyer profiles over the same bronze
    val profileDir = Files.createTempDirectory("demo-profiles").toString
    val pq = StreamingIngest.buyerProfiles(
      StreamingIngest.cleanseStream(
        StreamingIngest.readBronzeStream(spark, bronzeDir, Schemas.joorRaw), "joor_orders"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[BuyerProfile], _: Long) =>
        batch.write.mode("append").parquet(profileDir): Unit
      }
      .option("checkpointLocation", Files.createTempDirectory("demo-pckpt").toString)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    pq.awaitTermination()
    val profiles = spark.read.parquet(profileDir)
    println(s"[demo] buyer profiles: ${profiles.count()} rows over " +
      s"${profiles.select("buyer").distinct.count()} buyers, " +
      s"orders tracked = ${profiles.agg(org.apache.spark.sql.functions.sum("n_orders")).first.getLong(0)}")
    spark.stop()
  }
}
