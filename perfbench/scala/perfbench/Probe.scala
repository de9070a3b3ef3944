package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Everything the benchmark measures about Spark from outside the engine.
  *
  * Untraced runs keep only the aggregate task-time counter (needed for
  * `task_s`). Traced runs additionally record, in memory, one span per
  * call into a layer plus the job, stage and SQL-execution events at the
  * same boundaries; [[Probe.traceJson]] writes them out when the run
  * ends. Jobs carry the op that launched them through a per-op job group
  * set from the benchmark thread. All timestamps are epoch milliseconds
  * on the driver clock (the clock Spark stamps its events with).
  */
final class Probe(sc: SparkContext, val traced: Boolean) {
  private val taskMs = new AtomicLong(0L)
  /** Driver-clock epoch milliseconds: the clock and the resolution Spark
    * stamps its events with, so an event inside a span never reads as
    * outside it. */
  def nowMs(): Double = System.currentTimeMillis().toDouble

  def taskSeconds: Double = taskMs.get() / 1000.0

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        t0: Double, var eager: Double, var t1: Double,
                        var failed: Boolean = false)
  final case class Job(id: Int, op: Int, t0: Long, var t1: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, taskMs: Long, shuffleBytes: Long,
                         spillBytes: Long, outputBytes: Long)
  final case class Execution(id: Long, t0: Long, var t1: Long,
                             planMs: Double, scanRows: Long)

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, Execution]()
  private val current = new AtomicReference[List[Span]](Nil)
  private var nextSpan = 0
  @volatile private var opId = -1
  /** Whether spans and job groups are being recorded right now. */
  @volatile var active = false

  private val GroupPrefix = "perfbench-op-"

  sc.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        if (traced) stages.add(Stage(e.stageInfo.stageId, e.stageInfo.numTasks,
          m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val op = if (g.startsWith(GroupPrefix)) g.stripPrefix(GroupPrefix).toInt
        else -1
      jobs.put(e.jobId, Job(e.jobId, op, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      val j = jobs.get(e.jobId)
      if (j != null) j.t1 = e.time
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.putIfAbsent(s.executionId,
          Execution(s.executionId, s.time, -1L, 0.0, 0L))
      case x: SparkListenerSQLExecutionEnd =>
        val (planMs, rows) = planEvidence(x)
        val prev = execs.get(x.executionId)
        val t0 = if (prev == null) x.time else prev.t0
        execs.put(x.executionId, Execution(x.executionId, t0, x.time, planMs, rows))
      case _ =>
    }
  })

  /** Planning-phase time and scan output rows of a finished execution. The
    * event's QueryExecution is package-private in Spark, so it is fetched
    * reflectively; an event without one contributes nothing. */
  private def planEvidence(x: SparkListenerSQLExecutionEnd): (Double, Long) =
    try {
      val qe = x.getClass.getMethod("qe").invoke(x)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      if (qe == null) (0.0, 0L)
      else {
        val phases = qe.tracker.phases.values.map(p => p.durationMs).sum
        (phases.toDouble, scanRows(qe.executedPlan))
      }
    } catch { case _: Throwable => (0.0, 0L) }

  /** Sum of `numOutputRows` over the leaf operators of an executed plan,
    * looking through adaptive wrappers and query stages. */
  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case leaf if leaf.children.isEmpty =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }

  /** Start an op: every job launched until [[endOp]] carries its id. */
  def beginOp(id: Int, name: String): Unit = if (active) {
    opId = id
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
  }

  def endOp(): Unit = if (active) {
    sc.clearJobGroup()
    opId = -1
  }

  /** Run `call` then `finish` inside one span named `name`; the span's
    * eager mark is the moment `call` returned. */
  def span[A, B](name: String)(call: => A)(finish: A => B): B = {
    if (!active) finish(call)
    else {
      val parent = current.get().headOption
      val s = synchronized {
        val sp = Span(nextSpan, parent.map(_.id).getOrElse(-1), opId, name,
          nowMs(), Double.NaN, Double.NaN)
        nextSpan += 1
        spans += sp
        sp
      }
      current.set(s :: current.get())
      try {
        val a = call
        s.eager = nowMs()
        finish(a)
      } catch { case e: Throwable => s.failed = true; throw e
      } finally {
        s.t1 = nowMs()
        if (s.eager.isNaN) s.eager = s.t1
        current.set(current.get().tail)
      }
    }
  }

  /** Block until the listener bus has delivered every posted event. The
    * bus is Spark-internal, so it is reached reflectively; on failure a
    * short sleep stands in. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(1000) }

  /** The recorded trace as a JSON object. */
  def traceJson(rounds: Seq[(Int, Boolean, Double, Double)]): String = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"t0":${s.t0},"eager":${s.eager},"t1":${s.t1},"failed":${s.failed}}""")
      .mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"op":${j.op},"t0":${j.t0},"t1":${j.t1},"stages":[${j.stages.mkString(",")}]}""")
      .mkString(","))
    sb.append("],\"stages\":[")
    sb.append(stages.asScala.toSeq.map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"task_ms":${s.taskMs},"shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},"output_bytes":${s.outputBytes}}""")
      .mkString(","))
    sb.append("],\"executions\":[")
    sb.append(execs.values.asScala.toSeq.sortBy(_.id).map(e =>
      s"""{"id":${e.id},"t0":${e.t0},"t1":${e.t1},"plan_ms":${e.planMs},"scan_rows":${e.scanRows}}""")
      .mkString(","))
    sb.append("],\"rounds\":[")
    sb.append(rounds.map { case (i, tr, t0, t1) =>
      s"""{"round":$i,"traced":$tr,"t0":$t0,"t1":$t1}""" }.mkString(","))
    sb.append("]}")
    sb.toString
  }
}

/** Minimal JSON writing helpers (the benchmark adds no dependencies). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
