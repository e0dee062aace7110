package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is (id, parent, op, name, start, end);
  * spans of one benchmark operation share `op`. Disabled tracers record
  * nothing and add only a branch, so untraced runs call the program the
  * same way traced runs do. Spans are written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[String](() => "")

  /** Start a new operation on this thread: later spans carry its id, and
    * Spark jobs submitted from this thread are tagged with it. */
  def beginOp(spark: SparkSession, op: String): Unit = if (enabled) {
    opId.set(op)
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, op)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def toJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1)
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val OpProperty = "perfbench.op"
  final case class Span(id: Long, parent: Long, op: String, name: String, t0: Long, t1: Long)
}

/** Spark-side counters for a traced run: job/stage/task events attributed
  * to benchmark operations through the [[Tracer.OpProperty]] local property,
  * task-busy intervals for driver-gap accounting, stage I/O totals, and the
  * durations of SQL actions by name and plan (e.g. table-creating writes). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters.Task
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val io = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val actions = new ConcurrentLinkedQueue[(String, Long)]()

  private def add(op: String, key: String, v: Long): Unit =
    io.computeIfAbsent(s"$op\u0000$key", _ => new AtomicLong).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty))).getOrElse("")
    jobOp.put(e.jobId, op)
    e.stageIds.foreach(s => stageOp.put(s, op))
    add(op, "jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    tasks.add(Task(op, e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      if (m == null) 0L else m.executorRunTime))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null && info.failureReason.isEmpty) {
      val op = Option(stageOp.get(info.stageId)).getOrElse("")
      add(op, "input_bytes", m.inputMetrics.bytesRead)
      add(op, "input_rows", m.inputMetrics.recordsRead)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(op, "spill_disk_bytes", m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.add(s"$funcName:${qe.logical.nodeName}" -> durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Summed duration of SQL actions by "funcName:logical plan node". */
  def actionNs(): Map[String, Long] =
    actions.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  private def counter(op: String, key: String): Long =
    Option(io.get(s"$op\u0000$key")).map(_.get).getOrElse(0L)

  /** Stage I/O totals over all operations whose id starts with `prefix`. */
  def totals(prefix: String): Map[String, Long] =
    Seq("input_bytes", "input_rows", "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes")
      .map(key => key -> io.asScala.collect {
        case (k, v) if k.startsWith(prefix) && k.endsWith(s"\u0000$key") => v.get
      }.sum).toMap

  /** Per operation: jobs, tasks, summed executor run time and the time
    * during which at least one of its tasks was running. */
  def perOp(): Map[String, (Long, Int, Long, Long)] = {
    val byOp = tasks.asScala.toSeq.groupBy(_.op)
    val ops = byOp.keySet ++ jobOp.values.asScala.toSet
    ops.toSeq.map { op =>
      val ts = byOp.getOrElse(op, Nil)
      op -> ((counter(op, "jobs"), ts.size, ts.map(_.runMs).sum, busyMs(ts)))
    }.toMap
  }

  private def busyMs(ts: Seq[Task]): Long = {
    var busy = 0L
    var end = Long.MinValue
    ts.map(t => (t.launch, t.finish)).sortBy(_._1).foreach { case (s, f) =>
      if (s > end) { busy += f - s; end = f }
      else if (f > end) { busy += f - end; end = f }
    }
    busy
  }
}

object SparkCounters {
  final case class Task(op: String, stage: Int, launch: Long, finish: Long, runMs: Long)

  /** Listens to the sessions' shared SparkContext and to each session's
    * SQL actions. */
  def attach(sessions: Seq[SparkSession]): SparkCounters = {
    val c = new SparkCounters
    sessions.head.sparkContext.addSparkListener(c)
    sessions.foreach(_.listenerManager.register(c))
    c
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext, 60000L)
}

/** Minimal JSON writer for the run's raw output (read back by run.py). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => str(d.toString)
    case f: Float if f.isNaN || f.isInfinite => str(f.toString)
    case n: java.lang.Number => n.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
