package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span has a name, the engine module (layer)
  * it times, a start, an end and a parent; spans opened on the same thread
  * nest. Every root span starts a new trace id, so one op is one trace.
  * Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, trace, name, layer, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def json: Seq[Json.Obj] = spans.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      layer: String, startNs: Long, endNs: Long)
}

/** Executor-side totals from task, stage and job events. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, runMs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Shape of every executed plan: exchanges, scans, planning time, and rows
  * leaving file scans.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val queries, exchanges, scans, planningMs, fileRowsScanned = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    queries.increment()
    exchanges.add(collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size)
    scans.add(collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: InMemoryTableScanExec => s
      case s: RDDScanExec => s
    }.size)
    fileRowsScanned.add(collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum)
    val phases = qe.tracker.phases
    planningMs.add(Seq("optimization", "planning").flatMap(phases.get)
      .map(p => p.endTimeMs - p.startTimeMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Every progress report of every stream in the session. */
final class ProgressListener extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[QueryProgressEvent]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** The three public listener kinds, attached for the traced run only. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  val plan = new PlanListener
  val progress = new ProgressListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    spark.streams.addListener(progress)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(progress)
  }

  def json(wallMs: Double, cores: Int): Json.Obj = Json.obj(
    "exec.jobs" -> exec.jobs.sum, "exec.stages" -> exec.stages.sum,
    "exec.tasks" -> exec.tasks.sum,
    "exec.busy_share" -> exec.runMs.sum / math.max(1.0, wallMs * cores),
    "exec.gc_ms" -> exec.gcMs.sum,
    "exec.shuffle_read_bytes" -> exec.shuffleRead.sum,
    "exec.shuffle_write_bytes" -> exec.shuffleWrite.sum,
    "exec.spill_bytes" -> exec.spill.sum,
    "plan.queries" -> plan.queries.sum, "plan.exchanges_total" -> plan.exchanges.sum,
    "plan.scans_total" -> plan.scans.sum, "plan.planning_ms_total" -> plan.planningMs.sum,
    "plan.file_rows_scanned" -> plan.fileRowsScanned.sum)
}

/** Minimal JSON writer for the result file. */
object Json {
  type Obj = ListMap[String, Any]
  def obj(kv: (String, Any)*): Obj = ListMap(kv: _*)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }
}
