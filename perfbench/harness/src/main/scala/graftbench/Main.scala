package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One timed operation as the benchmark saw it from outside the program. */
final case class Op(id: Int, name: String, latencyS: Double, error: Option[String])

/** What a workload hands back: its timed ops, the set-up split, the inputs
  * the output checks need, and (traced runs) its per-layer metrics.
  */
final case class Outcome(
    ops: Seq[Op],
    inputsS: Double,
    warmupS: Double,
    checks: Map[String, Any],
    layers: Map[String, Double])

/** Everything a workload needs from the run. `markFirstOp` is called
  * right before the first timed op starts; it closes the set-up window.
  * A run does a fixed amount of work sized from `seconds`: [[rounds]] whole
  * rounds of a workload's ops, each round taking about `roundS` seconds on
  * a 4-core machine, so every seed attempts the same ops.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val root: String,
    val data: String, val seed: Long, val seconds: Double, val slots: Int) {
  @volatile var firstOpMs: Long = -1L
  def markFirstOp(): Unit = if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
  def rounds(roundS: Double): Int = math.max(1, math.round(seconds / roundS).toInt)
}

/** The benchmark's JVM entry point. It runs one workload and writes
  * `<root>/result.json`; run.py checks the outputs and prints the metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --root DIR
  * --data DIR --slots K --trace-out FILE`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val slots = a("slots").toInt

    val t0 = System.nanoTime()
    val g = GraftSession.open(a("data"), slots)
    val spark = g.spark
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark, slots, traced)
    val ctx = new Ctx(spark, trace, a("root"), a("data"), a("seed").toLong,
      a("seconds").toDouble, slots)
    val out = a("workload") match {
      case "query_board" => QueryBoard.run(ctx)
      case "stream_batches" => StreamBatches.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (ctx.firstOpMs - jvmStart) / 1e3
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val jvm = Map(
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "jvm.heap_peak_mb" -> heapPeak / 1e6,
      "setup.session_s" -> sessionS,
      "setup.inputs_s" -> out.inputsS,
      "setup.warmup_s" -> out.warmupS)
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted.toMap

    if (traced) {
      trace.drain()
      Json.write(a("trace-out"), Map("workload" -> a("workload"), "seed" -> ctx.seed,
        "spans" -> trace.spansWithSelfTime()))
    }
    Json.write(s"${ctx.root}/result.json", Map(
      "setup_s" -> setupS,
      "slots" -> slots,
      "conf" -> conf,
      "ops" -> out.ops.map(o => Map("id" -> o.id, "name" -> o.name,
        "latency_s" -> o.latencyS, "error" -> o.error.orNull)),
      "checks" -> out.checks,
      "layers" -> (if (traced) out.layers ++ jvm else Map.empty)))
    spark.stop()
  }
}

/** Minimal JSON writing through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case Some(x) => toJava(x)
    case None | null => null
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x => x.toString
  }

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(v))
}
