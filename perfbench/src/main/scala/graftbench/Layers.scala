package graftbench

import scala.collection.mutable

/** Turns a [[Tracer]]'s records of traced passes into per-layer metrics,
  * spans and the self-checks of those channels. */
final class Layers(t: Tracer, cores: Int) {
  import Harness.{OpRun, Pass}
  import Tracer.{Batch, Tasks, overlapLength, unionLength}

  private val MB = 1024.0 * 1024.0

  /** The op of `pass` whose window holds epoch-millisecond `ms`. */
  private def opAt(pass: Pass, ms: Long): Option[OpRun] =
    pass.ops.find(o => o.startMs <= ms && ms < o.endMs)
      .orElse(pass.ops.find(o => o.startMs <= ms && ms <= o.endMs))

  private def within(o: OpRun, ms: Long) = o.startMs <= ms && ms <= o.endMs

  private final class OpStats(val op: OpRun, val rootExecs: Seq[(Long, Long)],
      val jobs: Seq[(Long, Long)], val nExec: Int, val planS: Double, val exchanges: Int,
      val batches: Seq[Batch], val tasks: Tasks) {
    def clip(iv: Seq[(Long, Long)]) =
      iv.map { case (s, e) => (math.max(s, op.startMs), math.min(e, op.endMs)) }
    val execS: Double = unionLength(clip(rootExecs)) / 1e3
    val jobS: Double = unionLength(clip(jobs)) / 1e3
    val execNoJobS: Double = execS - overlapLength(clip(rootExecs), clip(jobs)) / 1e3
    val outsideExecS: Double = math.max(op.wallS - execS, 0.0)
    val rootExecSumS: Double = clip(rootExecs).map { case (s, e) => math.max(e - s, 0L) }.sum / 1e3
  }

  private def stats(pass: Pass): Seq[OpStats] = t.synchronized {
    pass.ops.map { o =>
      val execs = t.execs.values.filter(e => opAt(pass, e.start).contains(o)).toSeq
      val plans = t.plans.filter(p => opAt(pass, p.startMs).contains(o))
      new OpStats(o,
        execs.filter(_.root).map(e => (e.start, e.end)),
        t.jobs.values.filter(_.tag == o.tag).map(j => (j.start, j.end)).toSeq,
        execs.size, plans.map(_.planS).sum, plans.map(_.exchanges).sum,
        t.batches.filter(b => within(o, b.ms)).toSeq,
        t.tasks.getOrElse(o.tag, new Tasks))
    }
  }

  /** Per-layer metrics of one traced pass. */
  def pass(p: Pass): Map[String, Double] = {
    val st = stats(p)
    def sum(f: OpStats => Double) = st.map(f).sum
    val jobs = st.flatMap(_.jobs)
    val execs = st.flatMap(_.rootExecs)
    val jobS = unionLength(jobs) / 1e3
    val execS = unionLength(execs) / 1e3
    val taskS = sum(_.tasks.runS)
    val hits = sum(_.op.memoHits.toDouble)
    val builds = sum(_.op.memoBuilds.toDouble)
    Map(
      "queries.build_s" -> sum(_.op.buildS),
      "queries.sink_s" -> sum(_.op.sinkS),
      "queries.outside_exec_s" -> math.max(p.wallS - execS, 0.0),
      "catalyst.plan_s" -> sum(_.planS),
      "catalyst.n_exec" -> sum(_.nExec.toDouble),
      "scheduler.job_s" -> jobS,
      "scheduler.exec_no_job_s" -> (execS - overlapLength(execs, jobs) / 1e3),
      "scheduler.task_overhead_s" -> sum(s => s.tasks.durS - s.tasks.runS),
      "scheduler.n_jobs" -> jobs.size.toDouble,
      "scheduler.n_stages" -> sum(_.tasks.stages.toDouble),
      "scheduler.n_tasks" -> sum(_.tasks.n.toDouble),
      "operators.shuffle_write_mb" -> sum(_.tasks.shuffleW / MB),
      "operators.shuffle_read_mb" -> sum(_.tasks.shuffleR / MB),
      "operators.spill_mb" -> sum(_.tasks.spill / MB),
      "operators.n_exchanges" -> sum(_.exchanges.toDouble),
      "operators.memo_build_s" -> sum(_.op.memoBuildS),
      "operators.memo_builds" -> builds,
      "operators.memo_hits" -> hits,
      "operators.memo_hit_ratio" -> (if (hits + builds > 0) hits / (hits + builds) else 0.0),
      "functions.task_s" -> taskS,
      "functions.gc_s" -> sum(_.tasks.gcS),
      "functions.slot_util" -> (if (jobS > 0) taskS / (cores * jobS) else 0.0),
      "sources.input_mb" -> sum(_.tasks.in / MB),
      "sources.output_mb" -> sum(_.tasks.out / MB),
      "streaming.n_batches" -> sum(_.batches.size.toDouble),
      "streaming.batch_s" -> sum(_.batches.map(_.triggerS).sum),
      "streaming.rows_in" -> sum(_.batches.map(_.rows.toDouble).sum))
  }

  /** The channel self-checks on ops `names` of two traced passes: every layer
    * time lies in [0, wall]; time outside root executions plus root-execution
    * time equals the op's wall within 5%; job time does not exceed execution
    * time; counts repeat exactly across the two passes. */
  def selfCheck(passes: Seq[Pass], names: Seq[String]): (Boolean, Seq[String]) = {
    val notes = mutable.ArrayBuffer[String]()
    val slack = 0.01 // s: event times are whole milliseconds
    val per = passes.map(p => stats(p).filter(s => names.contains(s.op.name)))
    for (sts <- per; s <- sts) {
      val w = s.op.wallS
      val times = Seq("build" -> s.op.buildS, "sink" -> s.op.sinkS, "exec" -> s.execS,
        "outside_exec" -> s.outsideExecS, "job" -> s.jobS, "exec_no_job" -> s.execNoJobS,
        "plan" -> s.planS)
      for ((n, v) <- times if v < -slack || v > w + slack)
        notes += f"${s.op.tag}: $n%s ${v}%.3f s outside [0, wall ${w}%.3f s]"
      if (math.abs(s.outsideExecS + s.rootExecSumS - w) > 0.05 * w + slack)
        notes += f"${s.op.tag}: outside_exec ${s.outsideExecS}%.3f + root exec ${s.rootExecSumS}%.3f != wall ${w}%.3f"
      if (s.jobS > s.execS + 0.05 * w + slack)
        notes += f"${s.op.tag}: job ${s.jobS}%.3f s > exec ${s.execS}%.3f s"
    }
    def counts(s: OpStats) = Seq("jobs" -> s.jobs.size.toLong, "stages" -> s.tasks.stages.toLong,
      "tasks" -> s.tasks.n, "memo_builds" -> s.op.memoBuilds.toLong,
      "memo_hits" -> s.op.memoHits, "shuffle_write_bytes" -> s.tasks.shuffleW)
    for (Seq(a, b) <- Seq(per.map(_.sortBy(_.op.name))); (x, y) <- a.zip(b);
         ((n, u), (_, v)) <- counts(x).zip(counts(y)) if u != v)
      notes += s"${x.op.name}: $n $u in one pass, $v in the other"
    (notes.isEmpty, notes.toSeq)
  }

  /** Spans pass -> op -> {build, sink} -> SQL execution -> job, one JSON
    * object per line. */
  def spans(passes: Seq[Pass]): Seq[String] = {
    val lines = mutable.ArrayBuffer[String]()
    def span(id: String, parent: String, name: String, s: Long, e: Long): Unit = {
      val j = new Json
      j.str("id", id); j.str("parent", parent); j.str("name", name)
      j.num("start_ms", s.toDouble); j.num("end_ms", e.toDouble)
      lines += j.render
    }
    for (p <- passes) {
      val pid = s"pass${p.index}"
      span(pid, "", s"pass ${p.index} (${p.kind})", p.startMs, p.endMs)
      val opExecs = mutable.HashSet[Long]()
      for (o <- p.ops) {
        val oid = s"op:${o.tag}"
        span(oid, pid, o.name, o.startMs, o.endMs)
        span(s"$oid/build", oid, "build", o.startMs, o.buildEndMs)
        span(s"$oid/sink", oid, "sink", o.buildEndMs, o.endMs)
        t.synchronized {
          for (e <- t.execs.values if opAt(p, e.start).contains(o)) {
            opExecs += e.id
            val phase = if (e.start < o.buildEndMs) "build" else "sink"
            span(s"exec:${e.id}", s"$oid/$phase", s"sql execution ${e.id}", e.start, e.end)
          }
          for (j <- t.jobs.values if j.tag == o.tag) {
            val parent = if (opExecs.contains(j.exec)) s"exec:${j.exec}" else oid
            span(s"job:${j.id}", parent, s"job ${j.id}", j.start, j.end)
          }
        }
      }
    }
    lines.toSeq
  }
}
