package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark-side counters for one benchmark run.
  *
  * Every operation gets an integer id. The benchmark tags the driver thread
  * with `(op, phase)` through Spark local properties before it calls into
  * graft; jobs inherit those properties, so the [[SparkListener]] attributes
  * each job, stage and task to the operation and phase that caused it.
  * Catalyst phases come from the `QueryExecution.tracker` of every action,
  * delivered by a [[QueryExecutionListener]] and attributed to the operation
  * whose time interval holds them.
  *
  * With `enabled = false` no listener is registered and spans are not kept:
  * untraced runs pay only the two local-property writes per phase.
  */
final class Trace(spark: SparkSession, val slots: Int, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseSpans = mutable.Map.empty[(Int, String), Int]
  private val opWindow = mutable.Map.empty[Int, (Long, Long)]

  /** Records a span; returns its id (-1 when tracing is off). */
  def span(name: String, op: Int, parent: Int, startMs: Long, endMs: Long): Int =
    if (!enabled) -1 else synchronized {
      val id = spans.size
      spans += Span(id, parent, name, op, startMs, endMs)
      id
    }

  /** Runs `body` with the driver thread tagged `(op, phase)` and records
    * the phase span under `parent`. Returns the result and the wall seconds.
    */
  def phase[A](op: Int, name: String, parent: Int)(body: => A): (A, Double) = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, name)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try {
      val a = body
      val secs = (System.nanoTime() - n0) / 1e9
      val id = span(name, op, parent, t0, System.currentTimeMillis())
      if (enabled) synchronized { phaseSpans((op, name)) = id }
      (a, secs)
    } finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  /** Tags the calling thread (the stream thread calls this from foreachBatch). */
  def tag(op: Int, name: String): Unit = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, name)
  }

  /** Opens the root span of an operation; [[endOp]] closes it. */
  def beginOp(op: Int, name: String, startMs: Long = System.currentTimeMillis()): Int =
    span(name, op, -1, startMs, startMs)

  def endOp(op: Int, spanId: Int, endMs: Long = System.currentTimeMillis()): Unit =
    if (enabled) synchronized {
      spans(spanId) = spans(spanId).copy(end = endMs)
      opWindow(op) = (spans(spanId).start, endMs)
    }

  /** A phase span recorded after the fact (the stream thread's sinks). */
  def phaseSpan(op: Int, name: String, parent: Int, startMs: Long, endMs: Long): Int = {
    val id = span(name, op, parent, startMs, endMs)
    if (enabled) synchronized { phaseSpans((op, name)) = id }
    id
  }

  // ── listener state (written on the listener-bus thread) ──────────────

  private val acc = mutable.Map.empty[(Int, String), Acc]
  private val stageOf = mutable.Map.empty[Int, (Int, String, Int)] // stage -> (op, phase, job)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageTimes = mutable.Map.empty[Int, (Int, Long, Long)] // stage -> (job, submit, done)
  private val catalyst = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt)
      val ph = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      (op, ph) match {
        case (Some(o), Some(p)) => Trace.this.synchronized {
          jobs(e.jobId) = JobRec(o, p, e.time, e.time)
          accOf(o, p).jobs += 1
          e.stageInfos.foreach(s => stageOf(s.stageId) = (o, p, e.jobId))
        }
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val s = e.stageInfo
      stageOf.get(s.stageId).foreach { case (o, p, job) =>
        accOf(o, p).stages += 1
        stageTimes(s.stageId) = (job,
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      stageOf.get(e.stageId).filter(_ => m != null).foreach { case (o, p, _) =>
        val a = accOf(o, p)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Adds one query execution's analysis/optimization/planning phases. */
  def record(qe: QueryExecution): Unit = if (enabled) Trace.this.synchronized {
    qe.tracker.phases.foreach { case (name, ph) =>
      if (CatalystPhases.contains(name)) catalyst += ((name, ph.startTimeMs, ph.endTimeMs))
    }
  }

  private def accOf(op: Int, phase: String): Acc = acc.getOrElseUpdate((op, phase), new Acc)

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  // ── read-out ─────────────────────────────────────────────────────────

  /** Counters of one operation summed over the given phases (all when empty). */
  def exec(op: Int, phases: Set[String] = Set.empty): Acc = synchronized {
    val out = new Acc
    acc.foreach { case ((o, p), a) => if (o == op && (phases.isEmpty || phases(p))) out.add(a) }
    out
  }

  /** Catalyst seconds per phase whose start falls inside the op's window. */
  def catalystOf(op: Int): Map[String, Double] = synchronized {
    val (s, e) = opWindow.getOrElse(op, (0L, -1L))
    CatalystPhases.map { n =>
      n -> catalyst.collect { case (`n`, a, b) if a >= s && a <= e => (b - a) / 1e3 }.sum
    }.toMap
  }

  /** The whole trace: spans (ops, phases, catalyst phases, jobs, stages)
    * with each span's self time, for writing out at the end of the run.
    */
  def spansWithSelfTime(): Seq[Map[String, Any]] = synchronized {
    val all = mutable.ArrayBuffer.from(spans)
    def add(name: String, op: Int, parent: Int, s: Long, e: Long): Int = {
      val id = all.size; all += Span(id, parent, name, op, s, e); id
    }
    catalyst.foreach { case (n, s, e) =>
      opWindow.find { case (_, (a, b)) => s >= a && s <= b }.foreach { case (op, _) =>
        val parent = all.filter(x => x.op == op && x.start <= s && x.end >= e && x.name != n)
          .sortBy(x => x.end - x.start).headOption.map(_.id).getOrElse(-1)
        add(n, op, parent, s, e)
      }
    }
    val jobSpan = jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      id -> add(s"job-$id", j.op, phaseSpans.getOrElse((j.op, j.phase), -1), j.start, j.end)
    }.toMap
    stageTimes.toSeq.sortBy(_._1).foreach { case (sid, (job, s, e)) =>
      if (s > 0 && e > 0) add(s"stage-$sid", jobs(job).op, jobSpan(job), s, e)
    }
    val kids = all.groupBy(_.parent)
    all.toSeq.map { sp =>
      val covered = union(kids.getOrElse(sp.id, Nil).map(k =>
        (math.max(k.start, sp.start), math.min(k.end, sp.end))).filter(x => x._2 > x._1).toSeq)
      Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name, "op" -> sp.op,
        "start_ms" -> sp.start, "end_ms" -> sp.end,
        "self_ms" -> ((sp.end - sp.start) - covered))
    }
  }
}

object Trace {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val CatalystPhases: Seq[String] = Seq("analysis", "optimization", "planning")

  final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long)
  final case class JobRec(op: Int, phase: String, start: Long, end: Long)

  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, fetchWaitMs, input, output, spill = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      fetchWaitMs += o.fetchWaitMs; input += o.input; output += o.output; spill += o.spill
    }
  }

  /** Length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
