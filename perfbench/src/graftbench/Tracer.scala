package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One timed region. Counters are filled from Spark listener events that
  * arrive while the span is open; the optimizer and Janino readings are
  * deltas of process-wide counters between open and close.
  */
final class Span(val id: Int, val name: String, val parent: Int) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var optimizerNs = 0L
  var janinoCompiles = 0L
  var janinoNs = 0L
  /** Task run intervals (epoch ms), for the driver-only share of the span. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val attrs = mutable.LinkedHashMap.empty[String, String]

  def seconds: Double = (endNs - startNs) / 1e9

  /** Span wall time during which no task of this span was running. */
  def driverSeconds: Double = {
    val sorted = taskIntervals
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, seconds - covered / 1e3)
  }
}

/** Span tracer for the benchmark's own calls into graft's layers.
  *
  * Disabled, [[span]] only runs its body and [[layer]] returns the frame
  * untouched, so an untraced run executes exactly the calls a user makes.
  * Enabled, every span drains the listener bus at its boundaries so each
  * task is charged to the spans open while it ran, and [[layer]]
  * materializes the frame inside its span, because Spark would otherwise
  * run the layer's work later, inside whichever span first needs it.
  */
final class Tracer(spark: SparkSession, trace: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  /** Whether spans record; a traced run switches this per operation. */
  var enabled: Boolean = trace
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Span]

  if (trace) sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open.foreach(_.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (open.nonEmpty) {
      val info = e.taskInfo
      val m = e.taskMetrics
      open.foreach { s =>
        s.tasks += 1
        if (info != null) {
          s.taskMs += info.duration
          s.taskIntervals += ((info.launchTime, info.finishTime))
        }
        if (m != null) {
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private def optimizerNs(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time
  private def janinoNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def janinoCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Run `body` inside a span named `name`; returns the body's value. */
  def span[T](name: String)(body: Span => T): T =
    if (!enabled) body(Tracer.Off)
    else {
      drain()
      val s = synchronized {
        val s = new Span(spans.size, name, open.lastOption.map(_.id).getOrElse(-1))
        spans += s
        open += s
        s
      }
      val opt0 = optimizerNs(); val jn0 = janinoNs(); val jc0 = janinoCount()
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body(s)
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.optimizerNs = optimizerNs() - opt0
        s.janinoNs = janinoNs() - jn0
        s.janinoCompiles = janinoCount() - jc0
        drain()
        synchronized { open -= s }
      }
    }

  /** A layer call returning a lazy frame: traced, the frame is computed
    * and checkpointed inside the span; untraced, it is returned as is.
    */
  def layer(name: String, attrs: => Map[String, String] = Map.empty)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else {
      val a = attrs // computed before the span so its jobs are not charged to it
      span(name) { s =>
        s.attrs ++= a
        val out = df.localCheckpoint(eager = true)
        s.attrs("rows") = out.count().toString
        out
      }
    }

  /** Set an attribute of the innermost open span; untraced, a no-op. */
  def attr(key: String, value: String): Unit =
    if (enabled) synchronized(open.lastOption.foreach(_.attrs(key) = value))

  def all: Seq[Span] = synchronized(spans.toList)

  /** The spans below (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    all.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }
  }

  def toJson: String = all.map { s =>
    val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "s" -> Json.num(s.seconds), "driver_s" -> Json.num(s.driverSeconds),
      "jobs" -> s.jobs.toString, "tasks" -> s.tasks.toString,
      "task_s" -> Json.num(s.taskMs / 1e3), "gc_s" -> Json.num(s.gcMs / 1e3),
      "shuffle_write_mb" -> Json.num(s.shuffleWriteBytes / 1e6),
      "shuffle_read_mb" -> Json.num(s.shuffleReadBytes / 1e6),
      "spill_mb" -> Json.num(s.spillBytes / 1e6),
      "optimizer_ms" -> Json.num(s.optimizerNs / 1e6),
      "janino_compiles" -> s.janinoCompiles.toString,
      "janino_ms" -> Json.num(s.janinoNs / 1e6),
      "attrs" -> attrs,
    ).map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Placeholder span handed to bodies when tracing is off. */
  val Off: Span = new Span(-1, "off", -1)

  /** The per-layer fields reported for every layer, in output order. */
  val Fields: Seq[String] = Seq(
    "s", "driver_s", "jobs", "tasks", "task_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "optimizer_ms",
    "janino_compiles", "janino_ms")

  /** Sum of each field over `spans`. */
  def totals(spans: Seq[Span]): Map[String, Double] = Map(
    "s" -> spans.map(_.seconds).sum,
    "driver_s" -> spans.map(_.driverSeconds).sum,
    "jobs" -> spans.map(_.jobs).sum.toDouble,
    "tasks" -> spans.map(_.tasks).sum.toDouble,
    "task_s" -> spans.map(_.taskMs).sum / 1e3,
    "gc_s" -> spans.map(_.gcMs).sum / 1e3,
    "shuffle_write_mb" -> spans.map(_.shuffleWriteBytes).sum / 1e6,
    "shuffle_read_mb" -> spans.map(_.shuffleReadBytes).sum / 1e6,
    "spill_mb" -> spans.map(_.spillBytes).sum / 1e6,
    "optimizer_ms" -> spans.map(_.optimizerNs).sum / 1e6,
    "janino_compiles" -> spans.map(_.janinoCompiles).sum.toDouble,
    "janino_ms" -> spans.map(_.janinoNs).sum / 1e6)
}

/** Which path `graft.operators.Components` took, read off the queries it
  * ran.
  *
  * Spark records the driver call stack of every SQL query it starts in the
  * execution-start event's `details`. The distributed large-star/small-star
  * rounds run their convergence queries from inside
  * `Components.distributed`; the driver path runs only the edge fetch of
  * `Components.connected` and then solves without a query. So a call that
  * started a query from `distributed` took the distributed path, and one
  * that started Components queries but none from there took the driver
  * path. Registered in every run, traced or not: it only reads
  * query-start events.
  */
final class ComponentsProbe(sc: SparkContext) extends SparkListener {
  private var componentsQueries = 0L
  private var distributedQueries = 0L

  sc.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if x.details.contains("graft.operators.Components$") =>
      synchronized {
        componentsQueries += 1
        if (x.details.contains("graft.operators.Components$.distributed")) distributedQueries += 1
      }
    case _ =>
  }

  /** Run `body`; returns its value and the path its Components calls took:
    * "distributed", "driver", or "none" when they started no query.
    */
  def watch[T](body: => T): (T, String) = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val (c0, d0) = synchronized((componentsQueries, distributedQueries))
    val out = body
    org.apache.spark.graftbench.Bus.drain(sc)
    val (c1, d1) = synchronized((componentsQueries, distributedQueries))
    (out, if (d1 > d0) "distributed" else if (c1 > c0) "driver" else "none")
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision number; non-finite values render as null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
}
