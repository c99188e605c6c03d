package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.domain.{Cleanse, DataGen, DomainConfig, GenSpec, Schemas}
import graft.streaming.{StreamingCusum, StreamingGold, StreamingIngest}

/** `stream_batches`: per-micro-batch fixed cost. One long-running query,
  * `readBronzeStream → cleanseStream("joor_orders")` on a `ProcessingTime(0)`
  * trigger, whose `foreachBatch` runs `StreamingGold.processBatch` and then
  * `StreamingCusum.processBatch` over `quantity`. The injected clock
  * advances one day per batch from 2025-07-26, so batch 6 starts August.
  *
  * One op: the benchmark atomically moves one staged bronze file (200 joor
  * orders, a slice of one seeded `DataGen` frame) into the watched
  * directory and waits for the progress event of the batch that consumed
  * it; the latency runs from the landing to that event. Closed loop, one
  * file outstanding; the first [[WarmBatches]] batches are an untimed
  * warm-up.
  */
object StreamBatches {

  val RowsPerFile = 200
  /** The JIT is still settling over the first few batches, and batch 6 is
    * the first of August, so the timed batches fill one month's silver.
    */
  val WarmBatches = 6
  val ClockStart: java.time.LocalDateTime = java.time.LocalDateTime.of(2025, 7, 26, 10, 0)

  /** Seconds of `--seconds` per timed batch: 8 batches at `--seconds 10`
    * (a batch takes 2-3 s, so the timed part runs ~20 s).
    */
  val BatchS = 1.25

  private final case class Batch(op: Op, landMs: Long, file: String,
      progress: Option[StreamingQueryProgress], outFiles: Int, outBytes: Long, readFiles: Int,
      sinkS: Map[String, Double])

  def clock(batchId: Long): DomainConfig =
    DomainConfig(asOf = Timestamp.valueOf(ClockStart.plusDays(batchId)))

  /** The `month_key` StreamingGold files a batch's rows under. */
  def month(batchId: Long): String =
    ClockStart.plusDays(batchId).format(java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val trace = ctx.trace
    val root = ctx.root + "/stream"
    val (watch, silver, gold, ledger, verdict) =
      (s"$root/watch", s"$root/silver", s"$root/gold", s"$root/ledger", s"$root/verdict")

    // ── set-up: stage the bronze files and the freight silver ────────────
    // one DataGen frame of n × RowsPerFile orders written as one JSON file,
    // then cut into n files of RowsPerFile lines each
    val i0 = System.nanoTime()
    val n = WarmBatches + ctx.rounds(BatchS)
    val cfg0 = DomainConfig()
    DataGen.bronzeJoor(spark, GenSpec(joor = n * RowsPerFile, seed = ctx.seed), cfg0)
      .coalesce(1).write.json(s"$root/generated")
    val lines = Files.list(Paths.get(s"$root/generated")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
    require(lines.size == n * RowsPerFile, s"generated ${lines.size} bronze rows, not ${n * RowsPerFile}")
    Files.createDirectories(Paths.get(s"$root/staged"))
    Files.createDirectories(Paths.get(watch))
    val staged = lines.grouped(RowsPerFile).zipWithIndex.map { case (chunk, i) =>
      Files.write(Paths.get(s"$root/staged/bronze-$i.json"), chunk.asJava).toString
    }.toIndexedSeq
    Cleanse.toSilver(Cleanse.freight(Cleanse.flatten(
      DataGen.bronzeFreight(spark, GenSpec(freight = 25), cfg0)))).write.parquet(s"$root/freight")
    val freight = spark.read.parquet(s"$root/freight")
    val inputsS = (System.nanoTime() - i0) / 1e9

    // ── the query ──────────────────────────────────────────────────────
    val events = new LinkedBlockingQueue[(Long, StreamingQueryProgress)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) events.put((System.nanoTime(), e.progress))
    })
    val sinks = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(String, Long, Long)]]()
    val query = StreamingIngest.cleanseStream(
        StreamingIngest.readBronzeStream(spark, watch, Schemas.joorRaw), "joor_orders")
      .writeStream
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"$root/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val op = batchId.toInt
        trace.tag(op, "gold_sink")
        val g0 = System.currentTimeMillis()
        StreamingGold.processBatch(s, batch, batchId, silver, gold, freight, clock(batchId))
        trace.tag(op, "cusum_sink")
        val c0 = System.currentTimeMillis()
        StreamingCusum.processBatch(s, batch, batchId, "quantity", ledger, verdict)
        sinks.put(batchId, Seq(("gold_sink", g0, c0), ("cusum_sink", c0, System.currentTimeMillis())))
        ()
      }
      .start()

    // ── the closed loop ────────────────────────────────────────────────
    def land(i: Int): Batch = {
      val target = Paths.get(s"$watch/bronze-$i.json")
      val span = trace.beginOp(i, "batch")
      Files.move(Paths.get(staged(i)), target, StandardCopyOption.ATOMIC_MOVE)
      val landNs = System.nanoTime(); val landMs = System.currentTimeMillis()
      // poll in short steps so that a query that died fails the op at once
      val giveUp = System.nanoTime() + 120e9.toLong
      var ev = events.poll(1, TimeUnit.SECONDS)
      while (ev == null && query.isActive && System.nanoTime() < giveUp)
        ev = events.poll(1, TimeUnit.SECONDS)
      if (ev == null) {
        trace.endOp(i, span)
        val why = Option(query.exception.orNull).map(_.toString).getOrElse("no progress in 120 s")
        return Batch(Op(i, "batch", -1, Some(why.take(500))), landMs, target.toString, None,
          0, 0L, 0, Map.empty)
      }
      val (gotNs, p) = ev
      trace.endOp(i, span)
      val latency = (gotNs - landNs) / 1e9
      // the ledger check confirms the batch read exactly this file's rows
      val ok = p.batchId == i
      val err = if (ok) None else Some(s"batch ${p.batchId} consumed file $i")
      // untimed, traced only: the files this batch wrote and the silver it re-read
      val (outFiles, outBytes, readFiles) =
        if (!trace.enabled) (0, 0L, 0)
        else {
          val outs = Seq(silver, gold, ledger, verdict).map(d => Layers.files(d, landMs))
          (outs.map(_._1).sum, outs.map(_._2).sum,
            Layers.files(s"$silver/month_key=${month(i)}")._1 + 1)
        }
      val sk = sinks.getOrDefault(i.toLong, Nil)
      if (trace.enabled) spans(trace, i, span, landMs, p, sk)
      Batch(Op(i, "batch", if (ok) latency else -1, err), landMs, target.toString, Some(p),
        outFiles, outBytes, readFiles, sk.map { case (k, s, e) => k -> (e - s) / 1e3 }.toMap)
    }

    val w0 = System.nanoTime()
    val warm = (0 until WarmBatches).map(land)
    warm.flatMap(_.op.error).headOption.foreach(e =>
      throw new IllegalStateException(s"warm-up batch failed: $e"))
    val warmupS = (System.nanoTime() - w0) / 1e9

    ctx.markFirstOp()
    val timed = mutable.ArrayBuffer.empty[Batch]
    (WarmBatches until n).foreach { i =>
      // after a batch that never reported, later files would never be read
      timed += (if (timed.forall(_.progress.isDefined)) land(i)
        else Batch(Op(i, "batch", -1, Some("an earlier batch never reported")), 0L,
          staged(i), None, 0, 0L, 0, Map.empty))
    }
    query.stop()

    val all = warm ++ timed
    Outcome(timed.map(_.op).toSeq, inputsS, warmupS,
      Map(
        "ledger" -> ledger,
        "gold" -> s"$gold/wholesale_cm2",
        "batches" -> all.zipWithIndex.map { case (b, id) =>
          Map("id" -> id, "file" -> b.file, "month" -> month(id))
        }),
      layers(ctx, timed.toSeq))
  }

  /** Rebuilds a batch's spans from its progress event: the trigger's phases
    * in the order MicroBatchExecution runs them, the sinks (measured inside
    * foreachBatch) under addBatch, and the wait before the trigger started.
    */
  private def spans(trace: Trace, op: Int, parent: Int, landMs: Long,
      p: StreamingQueryProgress, sinks: Seq[(String, Long, Long)]): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trigger = java.time.Instant.parse(p.timestamp).toEpochMilli
    trace.span("queue_wait", op, parent, landMs, math.max(landMs, trigger))
    var t = trigger
    Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
      val len = d.getOrElse(k, 0L)
      val id = trace.span(k, op, parent, t, t + len)
      if (k == "addBatch") sinks.foreach { case (n, s, e) => trace.phaseSpan(op, n, id, s, e) }
      t += len
    }
  }

  private def layers(ctx: Ctx, batches: Seq[Batch]): Map[String, Double] = {
    val t = ctx.trace
    if (!t.enabled) return Map.empty
    t.drain()
    val ok = batches.filter(b => b.op.error.isEmpty && b.progress.isDefined)
    val n = math.max(1, ok.size).toDouble
    def dur(k: String): Double =
      ok.map(b => Option(b.progress.get.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / n
    def sink(name: String): Double = ok.map(_.sinkS.getOrElse(name, 0.0)).sum / n
    val cat = ok.map(b => t.catalystOf(b.op.id))
    val wall = ok.map(_.op.latencyS).sum
    Map(
      "streaming.queue_wait_s" -> ok.map { b =>
        math.max(0L, java.time.Instant.parse(b.progress.get.timestamp).toEpochMilli - b.landMs)
      }.sum / 1e3 / n,
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.gold_sink_s" -> sink("gold_sink"),
      "streaming.cusum_sink_s" -> sink("cusum_sink"),
      "streaming.jobs_per_batch" -> ok.map(b => t.exec(b.op.id).jobs).sum / n,
      "streaming.files_read_per_batch" -> ok.map(_.readFiles).sum / n,
      "streaming.files_written_per_batch" -> ok.map(_.outFiles).sum / n,
      "out_mb" -> ok.map(_.outBytes).sum / 1e6 / n,
      "catalyst.analysis_s" -> cat.map(_("analysis")).sum / n,
      "catalyst.optimization_s" -> cat.map(_("optimization")).sum / n,
      "catalyst.planning_s" -> cat.map(_("planning")).sum / n,
      "exec.action_s" -> wall / n) ++
      Layers.exec(ok.map(b => t.exec(b.op.id)), n, wall, t.slots)
  }
}
