package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark counters attributed to one span (exclusive: work tagged with the
  * span itself, not its children). Written by the listener, read once the
  * bus is drained.
  */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var planMs = 0L
  var sqlStarted = 0L
  var sqlEnded = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toJson: String = {
    val iv = jobIntervals.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""input_bytes":$inputBytes,"input_records":$inputRecords,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""executor_cpu_ns":$executorCpuNs,"gc_ms":$gcMs,"plan_ms":$planMs,""" +
      s""""sql_started":$sqlStarted,"sql_ended":$sqlEnded,"job_intervals_ms":$iv}"""
  }
}

/** The benchmark's own listener. Every job and SQL execution started while
  * a span is open carries the span's job tag (Spark job tags are thread
  * local and inherited by the engine's broadcast/subquery threads); the
  * listener files each event's counters under that tag. Events arrive on
  * Spark's asynchronous listener bus, so [[Tracer.finish]] drains the bus
  * and checks that every tagged SQL execution has delivered its end event
  * before any span's counters are read.
  */
final class TraceListener extends SparkListener {
  private val counters = new ConcurrentHashMap[Long, SparkCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val sqlSpan = new ConcurrentHashMap[Long, Long]()

  def of(span: Long): SparkCounters = counters.computeIfAbsent(span, _ => new SparkCounters)

  private def spanOfTags(tags: Iterable[String]): Option[Long] =
    tags.collect { case t if t.startsWith(Tracer.TagPrefix) =>
      t.stripPrefix(Tracer.TagPrefix).toLong }.maxOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    spanOfTags(tags).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, s))
      val c = of(s)
      c.synchronized { c.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { s =>
      val c = of(s)
      c.synchronized { c.jobIntervals += ((jobStartMs.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val c = of(s)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = of(s)
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.executorCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      spanOfTags(s.jobTags).foreach { sp =>
        sqlSpan.put(s.executionId, sp)
        val c = of(sp)
        c.synchronized { c.sqlStarted += 1 }
      }
    case end: SparkListenerSQLExecutionEnd =>
      Option(sqlSpan.get(end.executionId)).foreach { sp =>
        val c = of(sp)
        val plan = org.apache.spark.sql.PerfbenchAccess.planMs(end)
        c.synchronized { c.sqlEnded += 1; c.planMs += plan }
      }
    case _ =>
  }

  /** Tagged SQL executions whose end event has not arrived yet. */
  def openExecutions: Long = counters.values.asScala.map(c => c.synchronized(c.sqlStarted - c.sqlEnded)).sum
}

/** One recorded span. `op` groups the spans of one client operation. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, var endNs: Long,
                      attrs: mutable.LinkedHashMap[String, Double])

/** In-memory span recorder. Disabled (the untraced runs) it records
  * nothing and tags nothing; `span` then only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile private var listener: Option[TraceListener] = None
  /** Off while warm-up work runs: its spans are not recorded. */
  @volatile var recording = true
  @volatile private var sc: Option[SparkContext] = None

  /** Attach to a (new) session's context; spans before this carry no counters. */
  def attach(context: SparkContext): Unit = if (enabled) {
    val l = new TraceListener
    context.addSparkListener(l)
    listener = Some(l)
    sc = Some(context)
  }

  /** Forget spans recorded so far (set-up work is not reported). */
  def reset(): Unit = spans.synchronized(spans.clear())

  /** Run `body` inside a span named `name`. A span opened with no parent
    * on this thread starts a new op.
    */
  def span[T](name: String)(body: Span => T): T = {
    if (!enabled || !recording) return body(null)
    val parent = stack.get.headOption
    val id = ids.incrementAndGet()
    val s = Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(id),
      name, System.nanoTime(), 0L, mutable.LinkedHashMap.empty)
    spans.synchronized { spans += s }
    stack.set(s :: stack.get)
    sc.foreach { c =>
      parent.foreach(p => c.removeJobTag(Tracer.TagPrefix + p.id))
      c.addJobTag(Tracer.TagPrefix + id)
    }
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      sc.foreach { c =>
        c.removeJobTag(Tracer.TagPrefix + id)
        parent.foreach(p => c.addJobTag(Tracer.TagPrefix + p.id))
      }
    }
  }

  /** Drain the listener bus and wait for every tagged SQL execution's end
    * event, then render all spans with their counters.
    */
  def finish(): Seq[String] = {
    for (c <- sc; l <- listener) {
      org.apache.spark.sql.PerfbenchAccess.drain(c)
      val deadline = System.nanoTime() + 10000000000L
      while (l.openExecutions > 0 && System.nanoTime() < deadline) Thread.sleep(10)
      require(l.openExecutions == 0, s"${l.openExecutions} SQL executions never ended")
    }
    spans.synchronized(spans.toList).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val spark = listener.map(_.of(s.id).toJson).getOrElse("{}")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":$attrs,"spark":$spark}"""
    }
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
