package graftbench

/** Helpers the workloads share to turn what they recorded into metrics. */
object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-op means of the `exec.*` counters, over `n` ops that took `wallS`. */
  def exec(accs: Seq[Trace.Acc], n: Double, wallS: Double, slots: Int): Map[String, Double] = {
    def sum(f: Trace.Acc => Long): Double = accs.map(f).sum.toDouble
    Map(
      "exec.jobs" -> sum(_.jobs) / n,
      "exec.stages" -> sum(_.stages) / n,
      "exec.tasks" -> sum(_.tasks) / n,
      "exec.task_run_s" -> sum(_.runMs) / 1e3 / n,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6 / n,
      "exec.shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3 / n,
      "exec.input_mb" -> sum(_.input) / 1e6 / n,
      "exec.output_mb" -> sum(_.output) / 1e6 / n,
      "exec.spill_mb" -> sum(_.spill) / 1e6 / n,
      "exec.slot_busy" -> (if (wallS > 0) sum(_.runMs) / 1e3 / (wallS * slots) else 0.0))
  }

  /** Data files (no markers, no checksums) under `dir` and their bytes,
    * counting only files modified at or after `sinceMs`.
    */
  def files(dir: String, sinceMs: Long = 0L): (Int, Long) = {
    val root = new java.io.File(dir)
    if (!root.exists) return (0, 0L)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(root).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_") && f.lastModified >= sinceMs
    }
    (data.size, data.map(_.length).sum)
  }
}
