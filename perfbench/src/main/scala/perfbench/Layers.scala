package perfbench

import scala.jdk.CollectionConverters._

import Main.{OpRec, PassRec}

/** Turns a traced run into per-layer metrics and a span file.
  *
  * Every op splits into spans that tile its wall time:
  *  - construct: the query-function call, up to `OpScope.constructed`;
  *  - plan: analysis through physical planning of the first query
  *    whose planning ends after construct (from `QueryExecution.tracker`;
  *    analysis done while constructing counts as construct);
  *  - execute: the end of planning to the end of the op;
  *  - commit: the whole op, for commit ops.
  * A job belongs to the span its start falls in. What the spans leave
  * uncovered (between construct end and the start of analysis) is the
  * op's self time, reported as `trace.residue_share`.
  *
  * The ops and passes given are those of the last session: its cold
  * pass, the warm-up and the timed passes. Per-pass sums are taken over
  * the timed passes and reported as their median, as the end-to-end
  * figures are; `construct.cold_jobs` comes from the cold pass. */
object Layers {
  final case class Split(construct: Double, plan: Double, execute: Double,
                         commit: Double, residue: Double,
                         spans: Seq[(String, Long, Long)],
                         jobs: Map[String, Int])

  def split(o: OpRec, jobs: Seq[Trace.Job], plans: Seq[Trace.Plan]): Split = {
    val wall = (o.endMs - o.startMs) / 1e3
    if (o.commit)
      Split(0, 0, 0, o.secs, 0, Seq(("commit", o.startMs, o.endMs)),
        Map("commit" -> jobs.size))
    else {
      val plan = plans.find(p => p.end > o.constructMs && p.start <= o.endMs)
      val (ps, pe) = plan.map(p => (math.max(p.start, o.constructMs), math.min(p.end, o.endMs)))
        .getOrElse((o.constructMs, o.constructMs))
      val construct = (o.constructMs - o.startMs) / 1e3
      val planS = (pe - ps) / 1e3
      val execute = (o.endMs - pe) / 1e3
      Split(construct, planS, execute, 0, wall - construct - planS - execute,
        Seq(("construct", o.startMs, o.constructMs), ("plan", ps, pe),
          ("execute", pe, o.endMs)),
        Map("construct" -> jobs.count(_.start <= o.constructMs),
          "plan" -> jobs.count(j => j.start > o.constructMs && j.start <= pe),
          "execute" -> jobs.count(_.start > pe)))
    }
  }

  /** Time in [start, end] during which no task of the op was running. */
  def gapMs(start: Long, end: Long, tasks: Seq[Trace.Task]): Long = {
    var covered = 0L
    var reach = start
    for (t <- tasks.sortBy(_.launch)) {
      val a = math.max(t.launch, reach)
      val b = math.min(t.finish, end)
      if (b > a) { covered += b - a; reach = b }
    }
    math.max(0L, end - start - covered)
  }

  def apply(trace: Trace, ops: Seq[OpRec], passes: Seq[PassRec], timedIdx: Set[Int],
            cpus: Int, coldHeapMb: Double, heapMb: Double, spanFile: String)
      : (Map[String, Double], Map[String, Any]) = {
    val jobs = trace.jobList
    val jobsByOp = jobs.groupBy(_.op)
    val jobOp = jobs.map(j => j.id -> j.op).toMap
    val stageJob = trace.stageJob.asScala.map { case (s, j) => s.intValue -> j.intValue }
    val tasks = trace.taskList
    val tasksByOp = tasks.groupBy(t => stageJob.get(t.stage).flatMap(jobOp.get).getOrElse(-1L))
    val plans = trace.planList
    val splits = ops.map(o => o.id -> split(o, jobsByOp.getOrElse(o.id, Nil), plans)).toMap

    def perPass(p: PassRec): Map[String, Double] = {
      val mine = ops.filter(_.pass == p.index)
      val sp = mine.map(o => splits(o.id))
      val ts = mine.flatMap(o => tasksByOp.getOrElse(o.id, Nil))
      val jobIds = mine.flatMap(o => jobsByOp.getOrElse(o.id, Nil)).map(_.id).toSet
      val stages = trace.stageCount(jobIds)
      val byStage = ts.groupBy(_.stage).values.filter(_.size >= 2)
      val skew = (1.0 +: byStage.map { xs =>
        val r = xs.map(_.runMs.toDouble)
        r.max / math.max(1.0, Stats.median(r))
      }.toSeq).max
      val runMs = ts.map(_.runMs).sum.toDouble
      val reads = mine.filter(o => !o.commit && o.rows > 0)
      val readRecords = reads.flatMap(o => tasksByOp.getOrElse(o.id, Nil)).map(_.recordsRead).sum
      def jobsIn(k: String) = sp.map(_.jobs.getOrElse(k, 0)).sum.toDouble
      Map(
        "construct.s" -> sp.map(_.construct).sum,
        "construct.jobs" -> jobsIn("construct"),
        "plan.s" -> sp.map(_.plan).sum,
        "plan.jobs" -> jobsIn("plan"),
        "execute.s" -> sp.map(_.execute).sum,
        "execute.jobs" -> jobsIn("execute"),
        "execute.stages" -> stages.toDouble,
        "execute.tasks" -> ts.size.toDouble,
        "execute.tasks_per_stage" -> (if (stages > 0) ts.size.toDouble / stages else 0.0),
        "execute.gap_ms" -> mine.map(o => gapMs(o.startMs, o.endMs,
          tasksByOp.getOrElse(o.id, Nil))).sum.toDouble,
        "execute.run_ms" -> runMs,
        "execute.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "execute.core_util" -> runMs / (p.secs * 1000.0 * cpus),
        "execute.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "execute.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "execute.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "execute.peak_mem_bytes" -> (0L +: ts.map(_.peakMem)).max.toDouble,
        "execute.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "execute.skew" -> skew,
        "sources.commit_s" -> sp.map(_.commit).sum,
        "sources.commit_share" -> sp.map(_.commit).sum / p.secs,
        "sources.commit_jobs" -> jobsIn("commit"),
        "sources.rows_read_per_row_returned" ->
          (if (reads.isEmpty) 0.0 else readRecords.toDouble / reads.map(_.rows).sum),
        "sources.fs_bytes_read" -> p.fs.bytesRead.toDouble,
        "sources.fs_bytes_written" -> p.fs.bytesWritten.toDouble,
        "sources.fs_read_ops" -> p.fs.readOps.toDouble,
        "sources.fs_write_ops" -> p.fs.writeOps.toDouble,
        "sources.table_files" -> p.table._1.toDouble,
        "sources.table_bytes" -> p.table._2.toDouble,
        "jvm.gc_ms" -> p.gcMs.toDouble,
        "trace.residue_share" -> sp.map(_.residue).sum / math.max(1e-9,
          mine.map(o => (o.endMs - o.startMs) / 1e3).sum),
        "trace.pass_s" -> p.secs)
    }

    val warmPasses = passes.filter(!_.cold)
    val timed = passes.filter(p => timedIdx.contains(p.index))
    val warm = timed.map(perPass)
    val lastCold = passes.filter(_.cold).last
    val opsPerPass = ops.count(o => timed.exists(_.index == o.pass)).toDouble / timed.size
    val metrics = warm.head.keys.map(k => k -> Stats.median(warm.map(_(k)))).toMap ++ Map(
      "construct.cold_jobs" -> perPass(lastCold)("construct.jobs"),
      "jvm.heap_growth_mb" -> (heapMb - coldHeapMb),
      "trace.ops_per_s" -> opsPerPass / Stats.median(timed.map(_.secs)))

    writeSpans(spanFile, ops, passes, splits, jobs)
    val perOp = ops.filter(!_.cold).groupBy(_.name).map { case (n, xs) =>
      val sp = xs.map(o => splits(o.id))
      n -> Map("n" -> xs.size, "wall_s" -> Stats.median(xs.map(_.secs)),
        "construct_s" -> Stats.median(sp.map(_.construct)),
        "plan_s" -> Stats.median(sp.map(_.plan)),
        "execute_s" -> Stats.median(sp.map(_.execute)),
        "commit_s" -> Stats.median(sp.map(_.commit)),
        "self_s" -> Stats.median(sp.map(_.residue)),
        "jobs" -> xs.map(o => jobsByOp.getOrElse(o.id, Nil).size))
    }
    val counts = Seq("construct.jobs", "plan.jobs", "execute.jobs", "execute.stages",
      "execute.tasks", "sources.commit_jobs", "sources.table_files")
    val summary = Map(
      "per_pass" -> warm,
      "warm_pass_s" -> warmPasses.map(_.secs),
      "per_op" -> perOp,
      "cold_pass" -> perPass(lastCold),
      "counts_repeat_across_passes" -> counts.map(k => k -> (warm.map(_(k)).distinct.size == 1)).toMap,
      "unattributed_jobs" -> jobsByOp.getOrElse(-1L, Nil).size)
    (metrics, summary)
  }

  private def writeSpans(path: String, ops: Seq[OpRec], passes: Seq[PassRec],
                         splits: Map[Long, Split], jobs: Seq[Trace.Job]): Unit = {
    val out = new StringBuilder
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long): Unit =
      out ++= Json(Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e)) += '\n'
    span("run", null, "run", "run", passes.head.startMs, passes.last.endMs)
    passes.foreach(p => span(s"pass${p.index}", "run", "pass",
      if (p.cold) "cold" else "warm", p.startMs, p.endMs))
    val jobsByOp = jobs.groupBy(_.op)
    for (o <- ops) {
      span(s"op${o.id}", s"pass${o.pass}", "op", o.name, o.startMs, o.endMs)
      val parts = splits(o.id).spans
      parts.foreach { case (k, s, e) => span(s"op${o.id}.$k", s"op${o.id}", k, k, s, e) }
      for (j <- jobsByOp.getOrElse(o.id, Nil)) {
        val parent = parts.filter(_._2 <= j.start).lastOption.map(_._1).getOrElse(parts.head._1)
        span(s"job${j.id}", s"op${o.id}.$parent", "job", s"job ${j.id}", j.start, j.end)
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out.toString)
  }
}
