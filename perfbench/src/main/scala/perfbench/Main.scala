package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.expr.PatternCompiler
import graft.model.ArrayOp

/** Command-line options of one benchmark run (see run.py for the meaning
  * of each; run.py is the only caller).
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    out: Path, scale: Double, corrupt: Boolean, corpus: String,
    queries: Option[Seq[String]], cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("out")), kv.getOrElse("scale", "1").toDouble,
      kv.getOrElse("corrupt", "0") == "1", kv.getOrElse("corpus", ""),
      kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)),
      kv("cores").toInt)
  }
}

/** One timed operation: its phases, and whether its answer was right. */
final case class Sample(kind: String, op: Long, totalNs: Long, constructNs: Long,
    planNs: Long, execNs: Long, ok: Boolean, rows: Long = 0L,
    plan: Option[PlanStats] = None, compileNs: Long = 0L)

/** Shared state of a run: the session, the tracer, and what was measured. */
final class Ctx(val args: Args, val spark: SparkSession, val sessionStartS: Double) {
  val tracer = new Tracer(args.trace, spark.sparkContext)
  val listener: Option[OpListener] =
    if (args.trace) Some(new OpListener(tracer)) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  val samples = new ConcurrentLinkedQueue[Sample]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val checks = new java.util.concurrent.atomic.AtomicLong()

  /** An output check outside any timed op (counts as one attempt). */
  def check(ok: Boolean, what: => String): Boolean = {
    checks.incrementAndGet()
    if (!ok) fail(what)
    ok
  }
  def fail(what: String): Unit = {
    failures.add(what)
    System.err.println(s"[perfbench] wrong or failed: $what")
  }
  def failed: Seq[String] = failures.asScala.toSeq

  /** Run one operation as construct -> plan -> execute, timing each phase
    * (the plan phase is `queryExecution.executedPlan`, which execution
    * then reuses). With tracing on, the phases become spans of one op and
    * the executed plan's SQL metrics are read after the timed region.
    */
  def timed[R](kind: String, attrs: Map[String, Any] = Map.empty,
      compiles: Option[ArrayOp] = None)(construct: => DataFrame)(
      execute: DataFrame => R)(ok: R => Boolean, rows: R => Long): Sample = {
    val op = tracer.newOp()
    // the expr layer, timed on its own ahead of the op (which compiles the
    // same algebra again inside the store call)
    val compileNs = compiles.filter(_ => args.trace).map { q =>
      val c0 = System.nanoTime()
      PatternCompiler.compile(q)
      PatternCompiler.prunedBuckets(q, Serve.Buckets)
      System.nanoTime() - c0
    }.getOrElse(0L)
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val result = scala.util.Try {
      tracer.span(op, "op", attrs + ("kind" -> kind)) {
        val df = tracer.span(op, "construct")(construct)
        t1 = System.nanoTime()
        tracer.span(op, "plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        (df, tracer.span(op, "execute")(execute(df)))
      }
    }
    val t3 = System.nanoTime()
    val s = result match {
      case scala.util.Success((df, r)) =>
        val good = tracer.span(op, "check")(ok(r))
        if (!good) fail(s"$kind op $op: wrong answer")
        Sample(kind, op, t3 - t0, t1 - t0, t2 - t1, t3 - t2, good, rows(r),
          if (args.trace) Some(PlanStats.of(df)) else None, compileNs)
      case scala.util.Failure(e) =>
        fail(s"$kind op $op: ${e.getClass.getSimpleName}: ${e.getMessage}")
        Sample(kind, op, t3 - t0, t1 - t0, t2 - t1, t3 - t2, ok = false)
    }
    samples.add(s)
    s
  }

  /** Time an action that has no separate construct/plan step. */
  def action[R](kind: String)(body: => R)(ok: R => Boolean): Sample = {
    val op = tracer.newOp()
    val t0 = System.nanoTime()
    val result = scala.util.Try(tracer.span(op, "op", Map("kind" -> kind)) {
      tracer.span(op, "execute")(body)
    })
    val dt = System.nanoTime() - t0
    val good = result.toOption.exists(r => tracer.span(op, "check")(ok(r)))
    if (!good) fail(s"$kind op $op: " + result.failed.map(e =>
      s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse("wrong answer"))
    val s = Sample(kind, op, dt, 0L, 0L, dt, good)
    samples.add(s)
    s
  }

  /** Process CPU time spent making the harness's own inputs, which is
    * not set-up of the program.
    */
  private val inputCpuNs = new java.util.concurrent.atomic.AtomicLong()
  def input[T](body: => T): T = {
    val c0 = Stats.cpuNs
    try body finally inputCpuNs.addAndGet(Stats.cpuNs - c0)
  }

  /** Ops before this id were set-up or warm-up: attempted, not measured. */
  @volatile var measuredFrom = 0L
  private final case class Clock(ns: Long, gcS: Double, cpuNs: Long, jitMs: Long)
  private def clock() = Clock(System.nanoTime(), Stats.gcSeconds, Stats.cpuNs, Stats.jitMs)
  @volatile private var from, to = clock()
  def startMeasuring(): Unit = {
    measuredFrom = tracer.lastId
    from = clock()
  }
  def stopMeasuring(): Unit = to = clock()
  /** Process CPU time (all threads, from JVM start) of the set-up: session
    * start, store loads or the check pass, warm-up; not the harness's
    * input generation. Steadier than set-up wall time on a host whose CPU
    * is shared, and it still shows work moved into set-up.
    */
  def setupCpuS: Double = Stats.s(from.cpuNs - inputCpuNs.get)
  def windowS: Double = Stats.s(to.ns - from.ns)
  def windowGcS: Double = to.gcS - from.gcS
  def windowCpuS: Double = Stats.s(to.cpuNs - from.cpuNs)
  def windowJitS: Double = (to.jitMs - from.jitMs) / 1000.0
  /** Process CPU time (all threads: driver, tasks, GC, JIT) per measured
    * op, in ms: the cost of an op, steadier than wall time on a host whose
    * CPU is shared.
    */
  def cpuMsPerOp: Double = Stats.ms(to.cpuNs - from.cpuNs) / math.max(1, measured.size)
  def measured: Seq[Sample] = samples.asScala.toSeq.filter(_.op > measuredFrom)
  def of(kinds: String*): Seq[Sample] = measured.filter(s => kinds.contains(s.kind))
  def attempted: Long = samples.size + checks.get

  def dir(name: String): String = {
    val p = args.out.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double = ns / 1e9

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers have spent compiling, in ms. */
  def jitMs: Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcSeconds: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args.out.resolve("warehouse").toString)
      .config("spark.local.dir", args.out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(args, spark, (System.nanoTime() - t0) / 1e9)
    val out = args.workload match {
      case "triple_serve"    => Serve.run(ctx)
      case "triple_ingest"   => Ingest.run(ctx)
      case "analytics_sweep" => Sweep.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val e2e = Seq("setup_s" -> M(ctx.setupCpuS, "s"), "cpu_ms_per_op" -> M(ctx.cpuMsPerOp, "ms")) ++
      out.e2e
    val report = e2e ++ out.extra ++ Seq(
      "peak_rss_mb" -> M(Stats.peakRssMb, "MB"),
      "failed_ratio" -> M(ctx.failed.size.toDouble / math.max(1L, ctx.attempted), "ratio"))
    val layers = if (args.trace) Layers.of(ctx, out) else Nil
    if (args.trace) ctx.tracer.writeJsonl(args.out.resolve("spans.jsonl"))
    def ms(xs: Seq[(String, M)]) = ListMap(xs.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit) }: _*)
    val json = Json.obj(Seq(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> args.cores,
      "spark" -> Map("master" -> spark.sparkContext.master,
        "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "version" -> spark.version),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed.size,
      "failures" -> ctx.failed.take(20),
      "end_to_end" -> ms(e2e), "report" -> ms(report), "per_layer" -> ms(layers),
      "layer_self_ms" -> (if (args.trace) Layers.selfTimes(ctx) else Map.empty),
      "samples" -> (if (args.trace) Layers.sampleBreakdown(ctx) else Nil)))
    Files.writeString(args.out.resolve("result.json"), json)
    spark.stop()
  }
}

/** What a workload measured: its end-to-end metrics (set-up and CPU per
  * op are the ones every workload shares, and Main adds them), the other
  * metrics it prints, and the inputs the per-layer table needs.
  */
final case class Outcome(e2e: Seq[(String, M)], extra: Seq[(String, M)],
    layerExtra: Seq[(String, Double)] = Nil)
