package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-query stage-metrics profiler for ANY registry query — the r13 optimization round's measure-first tool
  * (guide §1): run a query N times in one JVM and split each run's wall
  * time into stage-metric buckets — executor run/CPU, GC, shuffle write,
  * fetch wait, result serialization, bytes in/shuffled — plus stage/task
  * counts, so "is this compute, shuffle, or driver scheduling?" is
  * answered with data. The first run is the untimed warm-up (memo/cache
  * fill, codegen), matching the bench's warmMinOf2 steady-state
  * methodology.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.QProfile <queryName> [runs]"
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq // comma-separated for batch runs
    val runs = args.lift(1).map(_.toInt).getOrElse(5)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.fromEnv(32)

    val detail = sys.env.get("SPARK_GRAFT_QPROF_DETAIL").contains("1")
    final case class StageRow(
        executorRunMs: Long, executorCpuMs: Long, gcMs: Long,
        shuffleWriteMs: Long, fetchWaitMs: Long,
        inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
        resultSerMs: Long, tasks: Int)
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
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
        if (m != null && detail)
          println(f"[qprof-stage] id=${sc.stageInfo.stageId}%4d tasks=${sc.stageInfo.numTasks}%4d " +
            f"run=${m.executorRunTime / 1000.0}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"in=${m.inputMetrics.bytesRead / 1048576.0}%7.1fMB " +
            f"rows=${m.inputMetrics.recordsRead}%9d " +
            f"shR=${m.shuffleReadMetrics.recordsRead}%9d  ${sc.stageInfo.name.take(80)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val q = graft.SparkEntry.registry.find(_.name == name)
        .getOrElse(sys.error(s"unknown query '$name'"))
      spark.sparkContext.setJobDescription(s"qprof warm-up: $name")
      q.run(spark, dir).count() // warm-up (codegen, memos, caches, page cache)

      println(s"[qprof] == $name")
      println("[qprof] run wall_s nstages ntasks execRun_s execCpu_s gc_s " +
        "shufWrite_s fetchWait_s resultSer_s input_MB shufW_MB shufR_MB")
      (1 to runs).foreach { i =>
        stages.clear()
        spark.sparkContext.setJobDescription(s"qprof $name run $i")
        val t0 = System.nanoTime()
        q.run(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // drain the listener bus
        import scala.jdk.CollectionConverters._
        val ss = stages.asScala.toVector
        def s(f: StageRow => Long): Double = ss.map(f).sum / 1000.0
        def mb(f: StageRow => Long): Double = ss.map(f).sum / 1048576.0
        println(f"[qprof] $i%3d $wall%7.3f ${ss.size}%7d ${ss.map(_.tasks).sum}%6d " +
          f"${s(_.executorRunMs)}%9.3f ${s(_.executorCpuMs)}%9.3f ${s(_.gcMs)}%5.3f " +
          f"${s(_.shuffleWriteMs)}%10.3f ${s(_.fetchWaitMs)}%10.3f ${s(_.resultSerMs)}%11.3f " +
          f"${mb(_.inputBytes)}%8.1f ${mb(_.shuffleWriteBytes)}%8.1f ${mb(_.shuffleReadBytes)}%8.1f")
      }
    }
    spark.stop()
  }
}
