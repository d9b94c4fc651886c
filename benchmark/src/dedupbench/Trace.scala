package dedupbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One node of a plan that ran, with its final SQL metric values.
  * Adaptive wrappers and query stages are unwrapped to the plan that
  * actually executed; a reused exchange is kept as a leaf so its rows are
  * counted once, under the exchange that produced them. */
final case class PlanNode(name: String, desc: String, metrics: Map[String, Long],
                          children: Seq[PlanNode]) {
  def all: Iterator[PlanNode] = Iterator(this) ++ children.iterator.flatMap(_.all)
  def rows: Long = metrics.getOrElse("numOutputRows", 0L)
}

object PlanNode {
  def of(p: SparkPlan): PlanNode = p match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case q: QueryStageExec => of(q.plan)
    case c: CommandResultExec => of(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => PlanNode(r.nodeName, r.simpleString(100), Map.empty, Nil)
    case n => PlanNode(n.nodeName, n.simpleString(100),
      n.metrics.map { case (k, m) => k -> m.value }, n.children.map(of))
  }
}

/** A finished task as the listener saw it. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def durationMs: Long = finishMs - launchMs
}

/** What one span collected: its own wall and GC time, the tasks of the
  * jobs it started, and the plans of the queries it ran. */
final class SpanStats {
  var wallS = 0.0
  var gcS = 0.0
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val plans = mutable.ArrayBuffer[PlanNode]()

  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1048576.0
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1048576.0
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def cpuUtil: Double = if (wallS <= 0) 0.0 else cpuS / (wallS * Session.Cores)
  def nodes: Iterator[PlanNode] = plans.iterator.flatMap(_.all)
  def taskSkew: Double = Trace.skew(tasks.toSeq)
}

final case class Span(id: Int, name: String, parent: Int, startS: Double, endS: Double)

/**
 * Traces calls into the program's public functions from outside. Each
 * call runs as one span under its own Spark job group; a SparkListener
 * attributes finished tasks to the span whose job group started them, and
 * a QueryExecutionListener keeps the executed plan of every query the
 * span ran, whose SQL metrics give the row counts of what ran. Spans stay
 * in memory and are written out once, at the end of the run.
 */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val GroupPrefix = "dedupbench-span-"
  private val origin = System.nanoTime()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stats = mutable.Map[Int, SpanStats]()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  /** Every finished task, spanned or not, for attribution by time window. */
  val allTasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer[TaskRec]()
  @volatile private var current = -1
  private var open: List[Int] = Nil
  private var nextId = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def spans: Seq[Span] = spanBuf.toSeq
  def statsOf(id: Int): SpanStats = stats(id)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(GroupPrefix)).foreach { s =>
      val id = s.stripPrefix(GroupPrefix).toInt
      js.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m == null) return
    val rec = TaskRec(te.stageId, te.taskInfo.launchTime, te.taskInfo.finishTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    synchronized {
      allTasks += rec
      stats.get(stageSpan.getOrDefault(te.stageId, -1)).foreach(_.tasks += rec)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val id = current
    if (id >= 0) {
      val node = PlanNode.of(qe.executedPlan)
      synchronized(stats.get(id).foreach(_.plans += node))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def nowS: Double = (System.nanoTime() - origin) / 1e9

  /** Run `body` as span `name`, a child of the innermost open span.
    * Returns the body's result and the span's id. */
  def span[T](name: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    val (id, parent) = synchronized {
      nextId += 1
      stats(nextId) = new SpanStats
      (nextId, open.headOption.getOrElse(-1))
    }
    open = id :: open
    current = id
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val gc0 = Host.gcMs()
    val t0 = nowS
    try (body, id)
    finally {
      val t1 = nowS
      BenchBus.drain(sc)
      open = open.tail
      current = open.headOption.getOrElse(-1)
      if (current < 0) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + current, name, interruptOnCancel = false)
      synchronized {
        stats(id).wallS = t1 - t0
        stats(id).gcS = (Host.gcMs() - gc0) / 1000.0
        spanBuf += Span(id, name, parent, t0, t1)
      }
    }
  }

  /** Record a span measured by someone else (a stage wall the program
    * wrote to its own lineage table) as a child of span `parent`. */
  def record(name: String, startS: Double, endS: Double, parent: Int): Unit =
    synchronized {
      nextId += 1
      spanBuf += Span(nextId, name, parent, startS, endS)
    }

  /** Epoch ms of this trace's time origin (for matching task times). */
  val originEpochMs: Long = System.currentTimeMillis() - (System.nanoTime() - origin) / 1000000

  def close(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startS).foreach { s =>
      w.println(Json.encode(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name,
        "parent" -> (if (s.parent < 0) None else Some(s.parent)),
        "start_s" -> s.startS, "end_s" -> s.endS)))
    } finally w.close()
  }
}

object Trace {
  /** max / median task time in the widest stage (most tasks; ties broken
    * by total task time). 0 when the span ran no tasks. */
  def skew(tasks: Seq[TaskRec]): Double =
    if (tasks.isEmpty) 0.0
    else {
      val widest = tasks.groupBy(_.stageId).values
        .maxBy(ts => (ts.size, ts.map(_.durationMs).sum))
      val ds = widest.map(_.durationMs.toDouble)
      val med = Stats.median(ds)
      if (med <= 0) 1.0 else ds.max / med
    }
}
