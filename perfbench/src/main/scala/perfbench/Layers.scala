package perfbench

/** Per-layer aggregates computed from the traced run's spans. */
object Layers {
  /** The span and every span opened beneath it. */
  def subtree(all: Seq[Span], roots: Seq[Span]): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    roots.flatMap(walk)
  }

  def meanMs(spans: Seq[Span]): Double = Stats.mean(spans.map(_.durMs))

  /** Spark, scan and frame metrics per search over the given search
    * spans; `results` is the number of rows those searches returned.
    */
  def searches(c: Ctx, roots: Seq[Span], results: Long): Unit = if (roots.nonEmpty) {
    val ds = subtree(c.trace.spans, roots)
    val n = roots.size.toDouble
    def per(f: Span => Double): Double = ds.map(f).sum / n
    c.layer("store.frame_ms") = meanMs(ds.filter(_.name == "store.frame"))
    c.layer("spark.plan_ms") = meanMs(ds.filter(_.name == "spark.plan"))
    c.layer("spark.exec_ms") = meanMs(ds.filter(_.name == "spark.exec"))
    c.layer("spark.jobs_per_search") = per(_.jobs.toDouble)
    c.layer("spark.stages_per_search") = per(_.stages.toDouble)
    c.layer("spark.tasks_per_search") = per(_.tasks.toDouble)
    c.layer("spark.sched_delay_ms_per_search") = per(_.schedDelayMs)
    c.layer("spark.executor_cpu_ms_per_search") = per(_.cpuMs)
    c.layer("scan.files_per_search") = Stats.mean(c.scans.map(_._1.toDouble).toSeq)
    c.layer("scan.bytes_per_search") = Stats.mean(c.scans.map(_._2.toDouble).toSeq)
    c.layer("scan.rows_per_result") = c.scans.map(_._3).sum.toDouble / math.max(1L, results)
  }

  /** Executor run time of a span's subtree, in ns. */
  def runNs(c: Ctx, roots: Seq[Span]): Double =
    subtree(c.trace.spans, roots).map(_.runMs).sum * 1e6

  /** Median wall time of `body` over `n` calls, in ms. */
  def medianMs(n: Int)(body: => Any): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
}
