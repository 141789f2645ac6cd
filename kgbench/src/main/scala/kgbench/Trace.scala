package kgbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.kgbench.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval recorded by the benchmark around a call into the engine.
  * Spans of one run share `run`; `parent` is the enclosing span or -1. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    startNs: Long, endNs: Long)

/** One Spark action as the guard saw it: the action's name ("collect",
  * "count", "overwrite", ...), whether its executed plan writes its rows out
  * (to the noop sink or to files), the plan's node count and whether the
  * plan still sorts globally. */
final case class Action(funcName: String, root: String, write: Boolean, planNodes: Int,
    globalSort: Boolean)

/** A timed job: its wall time and every action it ran, in order. */
final case class JobRecord(name: String, seconds: Double, actions: Vector[Action]) {
  def planNodes: Int = actions.map(_.planNodes).sum
}

object Plans extends AdaptiveSparkPlanHelper {
  def isWrite(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => isWrite(a.inputPlan)
    case _: DataWritingCommandExec | _: V2TableWriteExec => true
    case _ => false
  }
  def nodes(p: SparkPlan): Int = collect(p) { case n => n }.size
  def globalSort(p: SparkPlan): Boolean =
    collect(p) { case s: SortExec if s.global => s }.nonEmpty
}

/** Full-execution guard: records every action Spark runs, so each timed job
  * can be checked to end in the noop sink, a file write or a fully consumed
  * result — never in `count()`, under which Catalyst prunes work. */
final class Guard(spark: SparkSession) extends QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
  spark.listenerManager.register(this)

  def close(): Unit = { spark.listenerManager.unregister(this); seen.clear() }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add((funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    seen.add((funcName, qe))

  /** Actions delivered since the previous call, oldest first. */
  def take(): Vector[Action] = {
    BusAccess.drain(spark.sparkContext)
    val b = Vector.newBuilder[Action]
    while (!seen.isEmpty) {
      val (f, qe) = seen.poll()
      val p = qe.executedPlan
      b += Action(f, p.nodeName, Plans.isWrite(p), Plans.nodes(p), Plans.globalSort(p))
    }
    b.result()
  }
}

object Guard {
  /** A timed job may end in a write (to the noop sink or to files) or in a
    * collected result. */
  def fullyExecuted(a: Action): Boolean = a.write || a.funcName == "collect"

  /** Why a job breaks the full-execution rule, if it does. */
  def violations(job: String, actions: Seq[Action], needsSort: Boolean): Seq[String] =
    actions.lastOption match {
      case None => Seq(s"$job ran no Spark action")
      case Some(a) if !fullyExecuted(a) => Seq(s"$job ended in ${a.funcName}() (${a.root})")
      case Some(a) if needsSort && !a.globalSort => Seq(s"$job lost its final global Sort")
      case _ => Nil
    }
}

/** One finished task: wall and run time (ms), shuffle and spill bytes. */
final case class Task(job: String, stage: Int, ms: Long, runMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Per-task numbers from Spark's scheduler, attributed to the job
  * description the tracer sets around each timed job. */
final class TaskStats extends SparkListener {
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val rows = mutable.ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, d))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) rows.synchronized {
      rows += Task(stageJob.getOrDefault(e.stageId, ""), e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def drainTasks(): Vector[Task] = rows.synchronized { val v = rows.toVector; rows.clear(); v }
}

/** JVM-wide counters read before and after a traced rep. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def allocated: Long = threads.getCurrentThreadAllocatedBytes
  /** Janino compilations so far, and the mean compile time (ms) of the
    * sample Spark's CodegenMetrics histogram keeps. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}

/** Heap in use right after each garbage collection; its maximum is the
  * peak live heap of the measured interval. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var peak = 0L
  @volatile var on = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def peakMiB: Double = peak / 1048576.0
}

/** Runs the timed jobs of a run. With `enabled`, it also keeps spans in
  * memory (written once when the run ends) and per-task scheduler numbers;
  * without, it only times and guards. */
final class Tracer(spark: SparkSession, val run: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[JobRecord]()
  val problems = mutable.ArrayBuffer[String]()
  private val guard = new Guard(spark)
  private var stack: List[Int] = Nil

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, run, name, System.nanoTime(), 0L)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Times `body` as one job named `name` and checks how it ended. */
  def job(name: String, needsSort: Boolean = false)(body: => Unit): Double = {
    val sc = spark.sparkContext
    guard.take() // drop actions that belong to untimed work
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try span(name)(body)
    finally sc.setJobDescription(null)
    val s = (System.nanoTime() - t0) / 1e9
    val actions = guard.take()
    jobs += JobRecord(name, s, actions)
    problems ++= Guard.violations(name, actions, needsSort)
    s
  }

  /** A job that ends in the noop sink: every row is computed, none kept. */
  def noop(name: String, needsSort: Boolean = false)(df: => DataFrame): Double =
    job(name, needsSort)(df.write.format("noop").mode("overwrite").save())

  def close(): Unit = guard.close()

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] if m.forall(_.isInstanceOf[(_, _)]) =>
      obj(m.asInstanceOf[Seq[(String, Any)]])
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
