package perfbench

import scala.collection.mutable

/** Wall-clock milliseconds for a `System.nanoTime` reading, so harness
  * timings and Spark's event times share one axis.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def ms(nano: Long): Double = baseMs + (nano - baseNano) / 1e6
}

/** Span tree of the traced cold pass: workload (id 0) → query → construct /
  * plan / exec → job → stage. A job's parent is the phase that was open when
  * it started (its job tag); a stage's parent is its job. Rows stay in memory
  * until the harness writes the result file.
  */
final class Spans {
  val rows = mutable.ArrayBuffer[Map[String, Any]]()
  private var next = 0

  private def add(kind: String, name: String, parent: Int, startMs: Double,
                  endMs: Double, trace: String): Int = {
    next += 1
    rows += Map("id" -> next, "parent" -> parent, "trace" -> trace, "kind" -> kind,
                "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
    next
  }

  /** The root span of the pass, added once the pass has ended. */
  def workload(name: String, p0: Long, p1: Long): Unit =
    rows += Map("id" -> 0, "parent" -> -1, "trace" -> name, "kind" -> "workload",
                "name" -> name, "start_ms" -> Clock.ms(p0), "end_ms" -> Clock.ms(p1))

  /** Record the spans of one query and return its layer split. `q0`/`q1`
    * bracket the query. plan is the analysis of the constructed DataFrame
    * (taken out of construct, where it ran) plus the analysis, optimization
    * and planning phases of the write's SQL execution; exec is that
    * execution's wall time minus the part of the plan phases that falls
    * inside it, so the three layers do not overlap.
    */
  def query(t: Tracer, name: String, q0: Long, q1: Long,
            timing: PerfBench.Timing): Map[String, Any] = t.synchronized {
    val trace = s"$name@${rows.size}"
    val (s0, s1) = (Clock.ms(q0), Clock.ms(q1))
    val qid = add("query", name, 0, s0, s1, trace)
    val cEnd = s0 + timing.constructS * 1000
    val cid = add("construct", name, qid, s0, cEnd, trace)
    val dfAnalysisMs = timing.analysis.fold(0L) { case (a, b) => b - a }
    timing.analysis.foreach { case (a, b) => add("plan", name, qid, a.toDouble, b.toDouble, trace) }
    val constructS = timing.constructS - dfAnalysisMs / 1000.0
    val writes = t.execs.values.filter(x => x.label.query == name && x.label.phase == "exec").toSeq
    var planMs = dfAnalysisMs.toDouble
    var execMs = 0.0
    var execId = cid
    for (x <- writes) {
      val ph = Seq("analysis", "optimization", "planning").flatMap(x.phases.get)
      ph.foreach { case (a, b) => planMs += b - a }
      if (ph.nonEmpty)
        add("plan", name, qid, ph.map(_._1).min.toDouble, ph.map(_._2).max.toDouble, trace)
      val inside = ph.map { case (a, b) =>
        math.max(0L, math.min(b, x.endMs) - math.max(a, x.startMs))
      }.sum
      execMs += (x.endMs - x.startMs) - inside
      execId = add("exec", name, qid, x.startMs.toDouble, x.endMs.toDouble, trace)
    }
    val jobs = t.jobs.values.filter(_.label.query == name).toSeq
    var jobSelf = 0.0
    for (j <- jobs) {
      val parent = if (j.label.phase == "construct") cid else execId
      val jid = add("job", s"job ${j.id}", parent, j.startMs.toDouble, j.endMs.toDouble, trace)
      val sts = t.stages.values.filter(st => st.job == j.id).toSeq
      val stageIv = sts.map(st => (st.startMs.toDouble, st.endMs.toDouble))
      sts.zip(stageIv).foreach { case (st, (a, b)) => add("stage", s"stage ${st.id}", jid, a, b, trace) }
      jobSelf += (j.endMs - j.startMs) - Spans.cover(stageIv, j.startMs, j.endMs)
    }
    val constructCover = Spans.cover(jobs.filter(_.label.phase == "construct")
      .map(j => (j.startMs.toDouble, j.endMs.toDouble)), s0, cEnd)
    val analysisCover = timing.analysis.fold(0.0) { case (a, b) =>
      Spans.cover(Seq((a.toDouble, b.toDouble)), s0, cEnd) }
    val execCover = writes.map(x => Spans.cover(jobs.filter(_.label.phase == "exec")
      .map(j => (j.startMs.toDouble, j.endMs.toDouble)), x.startMs, x.endMs)).sum
    val querySelf = (s1 - s0) - constructS * 1000 - planMs - execMs
    Map("construct_s" -> constructS, "plan_s" -> planMs / 1000, "exec_s" -> execMs / 1000,
        "residual_s" -> querySelf / 1000,
        "self_construct_s" -> (timing.constructS * 1000 - constructCover - analysisCover) / 1000,
        "self_exec_s" -> (execMs - execCover) / 1000,
        "self_job_s" -> jobSelf / 1000,
        "plan_phases_s" -> Seq("analysis", "optimization", "planning").map { p =>
          p -> (writes.flatMap(_.phases.get(p)).map { case (a, b) => (b - a) / 1000.0 }.sum +
                (if (p == "analysis") dfAnalysisMs / 1000.0 else 0.0))
        }.toMap)
  }
}

object Spans {
  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def cover(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0.0
    var started = false
    for ((a, b) <- clipped) {
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Per-layer totals of one traced cold pass, from the tracer's counters and
  * the per-query layer splits in `recs`. Times are pass sums in seconds, so
  * they add up towards the pass wall time.
  */
object Layers {
  def apply(t: Tracer, recs: Seq[Map[String, Any]], cores: Int): Map[String, Double] = {
    val ok = recs.filter(_("ok") == true)
    def sum(k: String) = ok.map(_(k).asInstanceOf[Double]).sum
    def phase(p: String) = t.counters.collect { case ((_, ph), c) if ph == p => c }.toSeq
    val all = t.counters.values.toSeq
    val cons = phase("construct")
    val exec = phase("exec")
    val mb = 1024.0 * 1024.0
    val jobs = t.jobs.values.toSeq
    val execS = sum("exec_s")
    val busyExec = exec.map(_.busyMs).sum / 1000.0
    val planPhase = (p: String) => ok.map(_("plan_phases_s").asInstanceOf[Map[String, Double]](p)).sum
    Map(
      "session.fresh_s" -> sum("fresh_s"),
      "construct.s" -> sum("construct_s"),
      "construct.jobs" -> jobs.count(_.label.phase == "construct").toDouble,
      "construct.result_mb" -> cons.map(_.resultBytes).sum / mb,
      "plan.analysis_s" -> planPhase("analysis"),
      "plan.optimization_s" -> planPhase("optimization"),
      "plan.planning_s" -> planPhase("planning"),
      "plan.aqe_updates" -> all.map(_.aqeUpdates).sum.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> jobs.count(_.label.phase == "exec").toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_busy_s" -> busyExec,
      "exec.slot_util" -> (if (execS > 0) busyExec / (execS * cores) else 0.0),
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWriteBytes).sum / mb,
      "exec.shuffle_read_mb" -> exec.map(_.shuffleReadBytes).sum / mb,
      "exec.spill_mb" -> exec.map(_.spillBytes).sum / mb,
      "exec.gc_s" -> exec.map(_.gcMs).sum / 1000.0,
      "scan.input_mb" -> all.map(_.inputBytes).sum / mb,
      "scan.input_rows" -> all.map(_.inputRows).sum.toDouble,
      "write.output_mb" -> all.map(_.outputBytes).sum / mb,
      "write.output_rows" -> all.map(_.outputRows).sum.toDouble,
      "stream.triggers" -> t.streams.values.map(_.triggers).sum.toDouble,
      "stream.trigger_s" -> t.streams.values.map(_.triggerMs).sum / 1000.0,
      "stream.state_commit_s" -> t.streams.values.map(_.commitMs).sum / 1000.0,
      "self.construct_s" -> sum("self_construct_s"),
      "self.exec_s" -> sum("self_exec_s"),
      "self.job_s" -> sum("self_job_s"))
  }
}
