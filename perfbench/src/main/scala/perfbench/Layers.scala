package perfbench

import scala.collection.mutable

import perfbench.Trace.OpTrace

/** Interval arithmetic over epoch-millisecond spans. */
object Intervals {
  /** Milliseconds of [lo, hi) covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

/** Per-layer totals of a traced run, summed over its traced ops. */
object Layers {
  /** A job whose call site names no repo file is put down to the phase it
    * ran in: "construct" or "drain" (the op's fetch). */
  def moduleOf(j: Trace.Job, op: Trace.OpSpan): String =
    if (j.module.nonEmpty) j.module else if (j.start < op.constructEnd) "construct" else "drain"

  /** `traces` give the layer totals; `paired` are the op records whose
    * traced and untraced samples give the tracing overhead; each of
    * `modules` gets a job time, zero when no job named it. */
  def of(traces: Seq[OpTrace], recs: Seq[Map[String, Any]],
         paired: Seq[Map[String, Any]], modules: Seq[String]): Map[String, Any] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val byId = recs.map(r => r("id").toString -> r).toMap
    var opSecs = 0.0
    var unionJobMs = 0L
    traces.foreach { t =>
      val rec = byId(t.op.id)
      val ok = rec("ok") == true
      val jobIv = t.jobs.map(j => (j.start, math.max(j.end, j.start)))
      val c = rec("construct_s").asInstanceOf[Double]
      if (!c.isNaN) add("SparkEntry.construct_s", c)
      add("SparkEntry.construct_self_s",
        (t.op.constructEnd - t.op.start - Intervals.covered(jobIv, t.op.start, t.op.constructEnd)) / 1e3)
      add("SparkEntry.construct_jobs",
        t.jobs.count(j => j.start >= t.op.start && j.start < t.op.constructEnd).toDouble)
      if (ok) opSecs += rec("secs").asInstanceOf[Double]
      unionJobMs += Intervals.covered(jobIv, t.op.start, t.op.end)
      t.plans.foreach { p =>
        add("plans.plan_s", p.planMs / 1e3)
        Seq("exchanges", "bnl_joins", "broadcast_joins", "sort_merge_joins",
          "codegen_stages").foreach(k => add(s"plans.$k", p.shape.getOrElse(k, 0L).toDouble))
      }
      add("scheduler.jobs", t.jobs.size.toDouble)
      add("scheduler.stages", t.stages.count(_.submit > 0).toDouble)
      add("scheduler.tasks", t.stages.map(_.tasks).sum.toDouble)
      add("scheduler.job_s", jobIv.map { case (a, b) => b - a }.sum / 1e3)
      t.jobs.foreach(j => add(s"${moduleOf(j, t.op)}.job_s", (math.max(j.end, j.start) - j.start) / 1e3))
      t.stages.foreach { s =>
        add("executor.task_s", s.runMs / 1e3)
        add("executor.cpu_s", s.cpuNs / 1e9)
        add("executor.gc_s", s.gcMs / 1e3)
        add("executor.spill_bytes", s.spill.toDouble)
        m("executor.peak_mem_bytes") = math.max(m.getOrElse("executor.peak_mem_bytes", 0.0), s.peakMem.toDouble)
        add("executor.task_failures", s.taskFailures.toDouble)
        add("shuffle.write_bytes", s.shuffleWrite.toDouble)
        add("shuffle.read_bytes", s.shuffleRead.toDouble)
        add("shuffle.fetch_wait_s", s.fetchWaitMs / 1e3)
        add("tables.scan_bytes", s.scanBytes.toDouble)
        add("tables.scan_records", s.scanRecords.toDouble)
      }
    }
    modules.foreach(mod => add(s"$mod.job_s", 0.0))
    m("SparkEntry.construct_share") =
      if (opSecs > 0) m.getOrElse("SparkEntry.construct_s", 0.0) / opSecs else 0.0
    m("scheduler.idle_frac") =
      if (unionJobMs > 0) 1.0 - m.getOrElse("executor.task_s", 0.0) / (unionJobMs / 1e3 * Main.Cores)
      else 0.0
    serve(traces, byId).foreach { case (k, v) => m(k) = v }
    m("trace.overhead_frac") = overhead(paired)
    m.toMap
  }

  /** The serve workload's batch-level ratios and its index build's own
    * job and shuffle numbers. */
  private def serve(traces: Seq[OpTrace], byId: Map[String, Map[String, Any]]): Map[String, Double] = {
    val batches = traces.filter(_.op.name == "batch")
    val build = traces.filter(_.op.name == "build")
    if (batches.isEmpty && build.isEmpty) return Map.empty
    val n = math.max(1, batches.size).toDouble
    val rows = batches.map(t => byId(t.op.id).getOrElse("rows", 0L).asInstanceOf[Long]).sum
    val read = batches.flatMap(_.stages).map(_.scanRecords).sum
    Map(
      "serve.jobs_per_batch" -> batches.map(_.jobs.size).sum / n,
      "serve.cells_per_batch" ->
        batches.flatMap(_.plans).map(_.shape.getOrElse("scan_partitions", 0L)).sum / n,
      "serve.rows_read_per_result" -> (if (rows > 0) read.toDouble / rows else Double.NaN),
      "serve.driver_s_per_batch" -> batches.map { t =>
        val iv = t.jobs.map(j => (j.start, math.max(j.end, j.start)))
        (t.op.end - t.op.start - Intervals.covered(iv, t.op.start, t.op.end)) / 1e3
      }.sum / n,
      "serve.build_jobs" -> build.map(_.jobs.size).sum.toDouble,
      "serve.build_shuffle_bytes" -> build.flatMap(_.stages).map(s => s.shuffleWrite + s.shuffleRead).sum.toDouble)
  }

  /** Traced over untraced time of the same ops, minus one. Only names
    * that ran both ways count, so the mix is the same on both sides. */
  def overhead(recs: Seq[Map[String, Any]]): Double = {
    val ok = recs.filter(_("ok") == true)
    val byName = ok.groupBy(_("name").toString)
    var tr = 0.0
    var un = 0.0
    byName.values.foreach { rs =>
      val (a, b) = rs.partition(_("traced") == true)
      if (a.nonEmpty && b.nonEmpty) {
        tr += median(a.map(_("secs").asInstanceOf[Double]))
        un += median(b.map(_("secs").asInstanceOf[Double]))
      }
    }
    if (un > 0) tr / un - 1.0 else Double.NaN
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The span tree of a traced run: op → phase (construct / drain, or the
  * planning phases of each executed query) → Spark job → stage. Self time
  * is a span's duration minus the part its children cover. */
object Spans {
  private final case class Span(id: Int, parent: Int, kind: String, name: String,
                                start: Long, end: Long, attrs: Map[String, Any])

  def of(traces: Seq[OpTrace]): Seq[Map[String, Any]] = {
    val spans = mutable.ArrayBuffer[Span]()
    def add(parent: Int, kind: String, name: String, start: Long, end: Long,
            attrs: Map[String, Any] = Map.empty): Int = {
      val id = spans.size
      spans += Span(id, parent, kind, name, start, math.max(end, start), attrs)
      id
    }
    traces.foreach { t =>
      val op = add(-1, "op", t.op.id, t.op.start, t.op.end, Map("query" -> t.op.name))
      val construct = add(op, "phase", "construct", t.op.start, t.op.constructEnd)
      val drain = add(op, "phase", "drain", t.op.constructEnd, t.op.end)
      def phaseOf(ts: Long) = if (ts < t.op.constructEnd) construct else drain
      t.plans.foreach(p => p.phases.foreach { case (name, a, b) =>
        add(phaseOf(a), "plan", name, a, b)
      })
      val stageById = t.stages.groupBy(_.id)
      val seen = mutable.Set[Int]()
      t.jobs.foreach { j =>
        val job = add(phaseOf(j.start), "job", s"job ${j.id}", j.start, j.end,
          Map("module" -> Layers.moduleOf(j, t.op), "ok" -> j.ok))
        j.stageIds.filter(seen.add).flatMap(stageById.getOrElse(_, Nil)).filter(_.submit > 0)
          .foreach { s =>
            add(job, "stage", s"stage ${s.id}.${s.attempt}", s.submit, s.end,
              Map("tasks" -> s.tasks, "task_s" -> s.runMs / 1e3, "name" -> s.name))
          }
      }
    }
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (s.end - s.start - Intervals.covered(kids, s.start, s.end))) ++ s.attrs
    }
  }
}
