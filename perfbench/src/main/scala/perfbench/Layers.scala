package perfbench

/** The per-layer table of a traced run. Every workload reports every
  * metric; a layer the workload does not exercise reads 0.
  */
object Layers {
  val ServeKinds: Seq[String] = Seq("lookup", "or_lookup", "unrooted", "traverse", "json", "count")
  val StoreReads: Seq[String] = Seq("lookup", "or_lookup", "unrooted", "traverse", "json", "raw_lookup")

  /** Metric name -> unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "store.construct_ms" -> "ms", "store.buckets_read" -> "count", "store.files_read" -> "count",
    "store.bytes_read" -> "B", "store.rows_scanned_per_row_returned" -> "ratio",
    "store.insert_s" -> "s", "store.files_written" -> "count", "store.files_per_bucket" -> "count",
    "store.compact_s" -> "s", "store.bloom_build_ms" -> "ms", "store.bloom_bytes" -> "B",
    "store.diff_probe_ms" -> "ms", "store.diff_rows_per_scanned_row" -> "ratio",
    "expr.compile_us" -> "us",
    "engine.hops" -> "count", "engine.frontier_rows" -> "count",
    "engine.broadcast_semijoins" -> "count",
    "plan.ms" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.tasks_per_op" -> "count", "exec.task_wait_ms" -> "ms",
    "exec.busy_core_ratio" -> "ratio", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.gc_s" -> "s",
    "exec.task_cpu_s" -> "s", "jvm.cpu_s" -> "s", "jvm.jit_s" -> "s",
    "api.construct_jobs" -> "count", "graph.construct_s" -> "s", "graph.exec_s" -> "s",
    "ops.dedup_s" -> "s", "ops.text_s" -> "s", "ops.stats_s" -> "s") ++
    ServeKinds.map(k => s"op.$k.p50_ms" -> "ms") ++
    Sweep.Queries.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.construct_s" -> "s"))

  def of(ctx: Ctx, out: Outcome): Seq[(String, M)] = {
    val ms = ctx.measured
    val acc = ctx.listener.get.perOp
    def perOp(f: OpListener#Acc => Long): Double =
      Stats.mean(ms.map(s => Option(acc.get(s.op)).map(a => f(a).toDouble).getOrElse(0.0)))
    val reads = ms.filter(s => StoreReads.contains(s.kind) && s.plan.isDefined)
    val plans = reads.flatMap(_.plan)
    val trav = ms.filter(_.kind == "traverse").flatMap(_.plan)
    def sumS(kinds: String*) = ms.filter(s => kinds.contains(s.kind)).map(s => Stats.s(s.totalNs)).sum
    /** Per-pass seconds of a set of sweep queries: the sum of their means. */
    def perPass(qs: Seq[String], f: Sample => Long) =
      qs.map(q => Stats.mean(ms.filter(_.kind == q).map(s => Stats.s(f(s))))).sum
    def fam(name: String) = Sweep.Families.toMap.apply(name)
    val taskRunMs = ms.map(s => Option(acc.get(s.op)).map(_.runMs.sum.toDouble).getOrElse(0.0)).sum
    val computed: Map[String, Double] = Map(
      "store.construct_ms" -> Stats.mean(reads.map(s => Stats.ms(s.constructNs))),
      "store.buckets_read" -> Stats.mean(plans.map(_.buckets.toDouble)),
      "store.files_read" -> Stats.mean(plans.map(_.files.toDouble)),
      "store.bytes_read" -> Stats.mean(plans.map(_.bytes.toDouble)),
      "store.rows_scanned_per_row_returned" ->
        plans.map(_.rowsScanned).sum.toDouble / math.max(1L, reads.map(_.rows).sum),
      "store.insert_s" -> sumS("insert", "insert_signed"),
      "store.compact_s" -> sumS("compact"),
      "expr.compile_us" -> Stats.mean(ms.filter(_.compileNs > 0).map(_.compileNs / 1e3)),
      "engine.hops" -> Stats.mean(trav.map(_.semiJoins.toDouble)),
      "engine.frontier_rows" -> Stats.mean(trav.map(_.frontierRows.toDouble)),
      "engine.broadcast_semijoins" -> Stats.mean(trav.map(_.broadcastSemiJoins.toDouble)),
      "plan.ms" -> Stats.mean(ms.filter(_.planNs > 0).map(s => Stats.ms(s.planNs))),
      "exec.jobs_per_op" -> perOp(_.jobs.sum),
      "exec.tasks_per_op" -> perOp(_.tasks.sum),
      "exec.task_wait_ms" -> perOp(_.waitMs.sum),
      "exec.busy_core_ratio" -> taskRunMs / (ctx.windowS * 1000 * ctx.args.cores),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleRead.sum),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleWrite.sum),
      "exec.spill_bytes" -> perOp(_.spill.sum),
      "exec.gc_s" -> ctx.windowGcS,
      // where the window's process CPU goes: Spark tasks, JIT, GC (above);
      // the rest is driver work (construct, plan, codegen) and the harness
      "exec.task_cpu_s" -> ms.flatMap(s => Option(acc.get(s.op))).map(_.cpuNs.sum).sum / 1e9,
      "jvm.cpu_s" -> ctx.windowCpuS,
      "jvm.jit_s" -> ctx.windowJitS,
      "api.construct_jobs" -> perOp(_.constructJobs.sum),
      "graph.construct_s" -> perPass(fam("graph"), _.constructNs),
      "graph.exec_s" -> perPass(fam("graph"), s => s.planNs + s.execNs),
      "ops.dedup_s" -> perPass(fam("dedup"), _.totalNs),
      "ops.text_s" -> perPass(fam("text"), _.totalNs),
      "ops.stats_s" -> perPass(fam("stats"), _.totalNs)) ++
      ServeKinds.map(k => s"op.$k.p50_ms" ->
        Stats.median(ms.filter(_.kind == k).map(s => Stats.ms(s.totalNs)))) ++
      Sweep.Queries.flatMap(q => Seq(s"q.$q.s" -> perPass(Seq(q), _.totalNs),
        s"q.$q.construct_s" -> perPass(Seq(q), _.constructNs)))
    val extra = out.layerExtra.toMap
    Units.map { case (name, unit) =>
      name -> M(extra.getOrElse(name, computed.getOrElse(name, 0.0)), unit)
    }
  }

  private def measuredSpans(ctx: Ctx) = {
    val spans = ctx.tracer.all
    val ops = ctx.measured.map(_.op).toSet
    (spans.filter(s => ops(s.op)), ctx.tracer.selfNs)
  }

  /** Self time per span name (op, construct, plan, execute, job, check)
    * over the measured ops, in ms.
    */
  def selfTimes(ctx: Ctx): Map[String, Any] = {
    val (spans, self) = measuredSpans(ctx)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> Map("self_ms" -> ss.map(s => self(s.id) / 1e6).sum,
        "total_ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum, "spans" -> ss.size)
    }
  }

  /** The first measured op of each kind, split into its phases: duration
    * and self time of each phase, and what of the op the phases leave out.
    */
  def sampleBreakdown(ctx: Ctx): Seq[Map[String, Any]] = {
    val (spans, self) = measuredSpans(ctx)
    val byOp = spans.groupBy(_.op)
    ctx.measured.groupBy(_.kind).values.map(_.minBy(_.op)).toSeq.sortBy(_.op).flatMap { s =>
      byOp.get(s.op).flatMap(ss => ss.find(_.name == "op").map { op =>
        def phase(n: String) = ss.filter(x => x.name == n && x.parent == op.id)
        def dur(n: String) = phase(n).map(x => (x.endNs - x.startNs) / 1e6).sum
        def selfMs(n: String) = phase(n).map(x => self(x.id) / 1e6).sum
        val phaseIds = Seq("construct", "plan", "execute").flatMap(phase).map(_.id).toSet
        val jobMs = ss.filter(j => j.name == "job" && phaseIds(j.parent))
          .map(j => (j.endNs - j.startNs) / 1e6).sum
        val opMs = (op.endNs - op.startNs) / 1e6
        val phases = Seq("construct", "plan", "execute").map(dur).sum
        Map("kind" -> s.kind, "op" -> s.op, "op_ms" -> opMs, "untraced_view_ms" -> Stats.ms(s.totalNs),
          "construct_ms" -> dur("construct"), "plan_ms" -> dur("plan"), "execute_ms" -> dur("execute"),
          "construct_self_ms" -> selfMs("construct"), "plan_self_ms" -> selfMs("plan"),
          "execute_self_ms" -> selfMs("execute"), "spark_jobs_ms" -> jobMs,
          "phases_sum_ms" -> phases, "op_self_ms" -> self(op.id) / 1e6)
      })
    }
  }
}
