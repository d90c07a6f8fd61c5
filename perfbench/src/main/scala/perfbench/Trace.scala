package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.catalyst.plans.LeftSemi

/** Span recording for the traced run. Spans live in memory and are
  * written out once, when the run ends. A span is (id, parent, op, name,
  * start, end); the spans of one operation share its op id. With tracing
  * off every call here is a plain pass-through with no bookkeeping, so
  * the untraced runs time the same calls without it.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, Any])

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** (op, phase) -> span id, so the listener can parent Spark jobs. */
  private val phaseSpan = new ConcurrentHashMap[(Long, String), java.lang.Long]()
  // one clock for spans and listener events (which carry epoch millis)
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def nowNs: Long = System.nanoTime() - baseNs
  def epochMsToNs(ms: Long): Long = (ms - baseEpochMs) * 1000000L

  def newOp(): Long = ids.incrementAndGet()
  def lastId: Long = ids.get

  /** Time `body` as span `name` of `op`, tagging Spark jobs it starts. */
  def span[A](op: Long, name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    phaseSpan.put((op, name), id)
    stack.set(id :: stack.get)
    val prevDesc = sc.getLocalProperty(Tracer.JobDescription)
    sc.setJobDescription(s"pb:$op:$name")
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      sc.setJobDescription(prevDesc)
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, op, name, t0, t1, attrs))
    }
  }

  def add(op: Long, parentName: String, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any]): Unit = if (on) {
    val parent = Option(phaseSpan.get((op, parentName))).map(_.longValue).getOrElse(0L)
    spans.add(Span(ids.incrementAndGet(), parent, op, name, startNs, endNs, attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  /** Self time of every span: its duration minus the union of its
    * children's intervals.
    */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** Spark job and task accounting per op, attributed through the job
  * description the tracer sets (`pb:<op>:<phase>`).
  */
final class OpListener(tracer: Tracer) extends SparkListener {
  final class Acc {
    val jobs, constructJobs, tasks, runMs, cpuNs, waitMs = new LongAdder
    val shuffleRead, shuffleWrite, spill = new LongAdder
  }
  val perOp = new ConcurrentHashMap[Long, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (Long, String, Long, String)]()

  private def acc(op: Long) = perOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobDescription)))
    desc.filter(_.startsWith("pb:")).map(_.split(":", 3)).foreach { case Array(_, op, phase) =>
      val a = acc(op.toLong)
      a.jobs.increment()
      if (phase == "construct") a.constructJobs.increment()
      e.stageIds.foreach(stageOp.put(_, op.toLong))
      val stageName = e.stageInfos.headOption.map(_.name).getOrElse("")
      jobInfo.put(e.jobId, (op.toLong, phase, e.time, stageName))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (op, phase, start, stage) =>
      tracer.add(op, phase, "job", tracer.epochMsToNs(start), tracer.epochMsToNs(e.time),
        Map("job" -> e.jobId, "stage" -> stage))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageOp.get(e.stageId)).foreach { op =>
      val a = acc(op)
      a.tasks.increment()
      if (m != null) {
        a.runMs.add(m.executorRunTime)
        a.cpuNs.add(m.executorCpuTime)
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        a.waitMs.add(delay + m.executorDeserializeTime)
        a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

/** SQL metrics read from an executed plan after its timed region. */
final case class PlanStats(files: Long, bytes: Long, buckets: Long, rowsScanned: Long,
    semiJoins: Int, broadcastSemiJoins: Int, frontierRows: Long)

object PlanStats extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def of(df: DataFrame): PlanStats = {
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s if s.nodeName.startsWith("Scan") && s.metrics.contains("numFiles") => s }
    val semiJoins = collect(plan) {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }
    val semis = collect(plan) { case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }
    val frontier = semis.map { j =>
      collect(j.right) { case b: BroadcastExchangeExec => metric(b, "numOutputRows") }.sum
    }.sum
    PlanStats(
      files = scans.map(metric(_, "numFiles")).sum,
      bytes = scans.map(metric(_, "filesSize")).sum,
      buckets = scans.map(metric(_, "numPartitions")).sum,
      rowsScanned = scans.map(metric(_, "numOutputRows")).sum,
      semiJoins = semiJoins.size,
      broadcastSemiJoins = semis.size,
      frontierRows = frontier)
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
