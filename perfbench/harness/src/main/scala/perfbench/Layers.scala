package perfbench

import perfbench.Trace._

/** Per-layer metrics of a traced run (median over the timed passes), the
  * per-lane record (median over each lane's timed executions), and the
  * span tree pass → op → build | action → plan | job → stage, with stream
  * batches under the op that drove them. */
object Layers {

  final case class Result(metrics: Map[String, Double], lanes: Seq[Map[String, Any]],
                          spans: Seq[Map[String, Any]])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  private val MB = 1e6

  def compute(t: Trace, ctx: Main.Ctx, passes: Seq[Main.PassRec]): Result = {
    val r = t.resolve(ctx.ops.toSeq.map(o => OpSpan(o.id, o.startMs, o.endMs)))
    val jobsByOp = r.jobs.filter(_.op.isDefined).groupBy(_.op.get)
    val plansByOp = r.plans.filter(_.op.isDefined).groupBy(_.op.get)
    val batchesByOp = r.batches.collect { case (b, Some(op)) => op -> b }.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

    def jobIv(o: Main.OpRec) = jobsByOp.getOrElse(o.id, Nil)
      .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
    def batchIv(o: Main.OpRec) = batchesByOp.getOrElse(o.id, Nil)
      .map(b => (math.max(b.startMs, o.startMs), math.min(b.startMs + b.triggerMs, o.endMs)))
    def agg(js: Seq[JobSpan]): TaskAgg = {
      val a = new TaskAgg
      js.foreach(j => a.add(j.agg))
      a
    }

    def perPass(p: Main.PassRec): Map[String, Double] = {
      val ops = ctx.ops.filter(_.pass == p.idx).toSeq
      val jobs = ops.flatMap(o => jobsByOp.getOrElse(o.id, Nil))
      val eager = jobs.filter(_.phase == "build")
      val plans = ops.flatMap(o => plansByOp.getOrElse(o.id, Nil))
      val batches = ops.flatMap(o => batchesByOp.getOrElse(o.id, Nil))
      val all = agg(jobs)
      val streamOps = ops.filter(o => batchesByOp.contains(o.id))
      def wallOf(o: Main.OpRec) = o.buildS + o.actionS
      def opsNamed(n: String) = ops.filter(_.name == n)
      def timeOf(n: String) = opsNamed(n).map(wallOf).sum
      // layer self times: each op's wall splits into job time, batch
      // time outside jobs, planning, and the rest (driver code)
      var selfExec, selfStream, selfPlan, selfDriver = 0.0
      ops.foreach { o =>
        val wall = (o.endMs - o.startMs).toDouble
        val ex = unionMs(jobIv(o)).toDouble
        val st = (unionMs(batchIv(o)) - overlapMs(batchIv(o), jobIv(o))).toDouble
        val pl = math.min(plansByOp.getOrElse(o.id, Nil).map(_.ms).sum.toDouble,
          math.max(0.0, wall - ex - st))
        selfExec += ex; selfStream += st; selfPlan += pl
        selfDriver += math.max(0.0, wall - ex - st - pl)
      }
      val opWallMs = ops.map(o => (o.endMs - o.startMs).toDouble).sum
      val streamDrive = streamOps.map(wallOf).sum
      val trigger = batches.map(_.triggerMs).sum.toDouble
      val csvBytes = p.extra.getOrElse("csv_bytes", 0.0)
      Map(
        "operators.build_s" -> ops.map(_.buildS).sum,
        "operators.eager_jobs" -> eager.size.toDouble,
        "operators.eager_task_cpu_s" -> agg(eager).cpuNs / 1e9,
        "catalyst.plan_s" -> plans.map(_.ms).sum / 1e3,
        "catalyst.queries" -> plans.size.toDouble,
        "exec.action_s" -> ops.map(_.actionS).sum,
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> jobs.map(_.stages).sum.toDouble,
        "exec.tasks" -> all.tasks.toDouble,
        "exec.task_cpu_s" -> all.cpuNs / 1e9,
        "exec.task_run_s" -> all.runMs / 1e3,
        "exec.cpu_util" -> all.cpuNs / 1e9 / (4.0 * p.wallS),
        "exec.input_mb" -> all.inputBytes / MB,
        "exec.shuffle_write_mb" -> all.shuffleWrite / MB,
        "exec.shuffle_read_mb" -> all.shuffleRead / MB,
        "exec.spill_mb" -> all.spill / MB,
        "exec.gc_s" -> p.gcS,
        "driver.cpu_s" -> (p.cpuS - all.cpuNs / 1e9),
        "streaming.drive_s" -> streamDrive,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.no_data_batches" -> batches.count(_.inputRows == 0).toDouble,
        "streaming.trigger_ms" -> trigger,
        "streaming.add_batch_ms" -> batches.map(_.addBatchMs).sum.toDouble,
        "streaming.query_planning_ms" -> batches.map(_.planningMs).sum.toDouble,
        "streaming.wal_commit_ms" -> batches.map(_.walMs).sum.toDouble,
        "streaming.commit_ms" -> batches.map(_.commitMs).sum.toDouble,
        "streaming.outside_batch_s" -> math.max(0.0, streamDrive - trigger / 1e3),
        "streaming.state_rows" -> batches.map(_.stateRows).sum.toDouble,
        "streaming.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
        "streaming.state_mem_mb" -> (if (batches.isEmpty) 0.0 else batches.map(_.stateMemBytes).max / MB),
        "retail.load_s" -> timeOf("retail.load"),
        "retail.csv_scans" -> (if (csvBytes > 0) all.inputBytes / csvBytes else 0.0),
        "clustering.fit_s" -> timeOf("clustering.fit"),
        "clustering.iters" -> p.extra.getOrElse("iters", 0.0),
        "clustering.fit_jobs" -> opsNamed("clustering.fit").map(o => jobsByOp.getOrElse(o.id, Nil).size).sum.toDouble,
        "clustering.report_s" -> timeOf("clustering.report"),
        "clustering.predict_s" -> timeOf("clustering.predict"),
        "charts.render_s" -> timeOf("charts.render"),
        "staging.bytes_written_mb" -> p.staging.getOrElse("bytes_written_mb", 0.0),
        "staging.files_written" -> p.staging.getOrElse("files_written", 0.0),
        "staging.files_removed" -> p.staging.getOrElse("files_removed", 0.0),
        "cache.mem_mb" -> p.cacheMb,
        "cache.rdds" -> p.cacheRdds.toDouble,
        "self.exec_s" -> selfExec / 1e3,
        "self.streaming_s" -> selfStream / 1e3,
        "self.catalyst_s" -> selfPlan / 1e3,
        "self.driver_s" -> selfDriver / 1e3,
        "self.harness_s" -> math.max(0.0, p.wallS - opWallMs / 1e3),
        "trace.pass_s" -> p.wallS)
    }

    val timed = passes.drop(Main.WarmupPasses + 1).map(perPass)
    val first = passes.head.staging
    val layers = timed.head.keys.map(k => k -> median(timed.map(_(k)))).toMap ++ Map(
      "staging.first_pass_mb" -> first.getOrElse("bytes_written_mb", 0.0),
      "staging.first_pass_files" -> first.getOrElse("files_written", 0.0))

    val lanes = ctx.ops.filter(_.pass > Main.WarmupPasses).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, os) =>
      def med(f: Main.OpRec => Double) = median(os.toSeq.map(f))
      def plansIn(o: Main.OpRec, from: Long) =
        plansByOp.getOrElse(o.id, Nil).filter(_.startMs >= from).map(_.ms).sum / 1e3
      Map(
        "lane" -> name,
        "runs" -> os.size,
        "build_s" -> med(_.buildS),
        "plan_s" -> med(o => plansIn(o, 0L)),
        "exec_s" -> med(o => math.max(0.0, o.actionS - plansIn(o, o.buildEndMs))),
        "jobs" -> med(o => jobsByOp.getOrElse(o.id, Nil).size.toDouble),
        "eager_jobs" -> med(o => jobsByOp.getOrElse(o.id, Nil).count(_.phase == "build").toDouble),
        "stages" -> med(o => jobsByOp.getOrElse(o.id, Nil).map(_.stages).sum.toDouble),
        "tasks" -> med(o => agg(jobsByOp.getOrElse(o.id, Nil)).tasks.toDouble),
        "task_cpu_s" -> med(o => agg(jobsByOp.getOrElse(o.id, Nil)).cpuNs / 1e9),
        "shuffle_bytes" -> med(o => agg(jobsByOp.getOrElse(o.id, Nil)).shuffleWrite.toDouble),
        "spill_bytes" -> med(o => agg(jobsByOp.getOrElse(o.id, Nil)).spill.toDouble))
    }
    Result(layers, lanes, spanTree(r, ctx, passes))
  }

  private def spanTree(r: Resolved, ctx: Main.Ctx, passes: Seq[Main.PassRec]): Seq[Map[String, Any]] = {
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long) =
      Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e)
    val ops = ctx.ops.map(o => o.id -> o).toMap
    def phaseOf(op: Int, ms: Long) =
      if (ms < ops(op).buildEndMs || ops(op).buildEndMs == 0L) s"b$op" else s"a$op"
    val pass = passes.map(p => span(s"p${p.idx}", null, "pass", s"pass ${p.idx}", p.startMs, p.endMs))
    val op = ctx.ops.toSeq.flatMap { o =>
      Seq(span(s"o${o.id}", s"p${o.pass}", "op", o.name, o.startMs, o.endMs),
        span(s"b${o.id}", s"o${o.id}", "build", o.name, o.startMs, o.buildEndMs),
        span(s"a${o.id}", s"o${o.id}", "action", o.name, o.buildEndMs, o.endMs))
    }
    val plan = r.plans.zipWithIndex.collect { case (p, i) if p.op.isDefined =>
      span(s"q$i", phaseOf(p.op.get, p.startMs), "plan", "optimize+plan", p.startMs, p.startMs + p.ms)
    }
    val job = r.jobs.collect { case j if j.op.isDefined =>
      span(s"j${j.jobId}", if (j.phase == "action") s"a${j.op.get}" else s"b${j.op.get}", "job",
        s"job ${j.jobId}", j.startMs, j.endMs)
    }
    val attributed = r.jobs.filter(_.op.isDefined).map(_.jobId).toSet
    val stage = r.stages.collect { case s if s.job.exists(attributed) =>
      span(s"s${s.stageId}", s"j${s.job.get}", "stage", s"stage ${s.stageId}", s.startMs, s.endMs)
    }
    val batch = r.batches.zipWithIndex.collect { case ((b, Some(o)), i) =>
      span(s"m$i", s"b$o", "batch", b.runId, b.startMs, b.startMs + b.triggerMs)
    }
    pass ++ op ++ plan ++ job ++ stage ++ batch
  }
}
