package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/** One benchmark run inside one fresh JVM. Measures a workload and writes
  * raw samples, counters, correctness verdicts and (traced) spans to
  * `<work>/result.json`; `run.py` turns that file into the metric line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <work dir> <catalogue data dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cores, work, data) = args
    val ctx = Ctx.open(workload, seed.toLong, seconds.toInt, trace == "1",
      cores.toInt, Paths.get(work), data)
    try {
      workload match {
        case "stream_ingest" => StreamIngest.run(ctx)
        case "daily_gold" => DailyGold.run(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        ctx.check("workload completed", Some(e.toString))
        e.printStackTrace()
    }
    ctx.finish()
    ctx.spark.stop()
  }
}

/** Run context: session, seed, tracer, listeners, and the result record. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val cores: Int, val work: Path,
    val data: String, val sessionS: Double) {

  val tracer = new Tracer(traced)
  val listeners: Option[Listeners] =
    if (traced) Some(new Listeners(spark)) else None
  val out = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[Json.Obj]()
  var attempted = 0L
  var failed = 0L
  private var timedStartNs = 0L
  private var timedMs = 0.0
  private var rssKb = 0L

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Records a correctness verdict; `problem` is None when it held. */
  def check(name: String, problem: Option[String]): Unit = {
    problem.foreach(p => System.err.println(s"[perfbench] check failed: $name: $p"))
    checks += Json.obj("name" -> name, "ok" -> problem.isEmpty,
      "detail" -> problem.getOrElse(""))
  }

  /** Runs one op: counts it, and on failure counts it failed and returns
    * None so a failed op never becomes a fast sample.
    */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] op failed: $e")
        None
    }
  }

  def startTimed(): Unit = {
    listeners.foreach(_.attach())
    timedStartNs = System.nanoTime()
  }

  /** Ends the timed region: detaches the listeners and samples peak RSS. */
  def endTimed(): Unit = {
    timedMs = (System.nanoTime() - timedStartNs) / 1e6
    listeners.foreach(_.detach())
    rssKb = Ctx.peakRssKb()
  }

  def finish(): Unit = {
    if (rssKb == 0) rssKb = Ctx.peakRssKb()
    listeners.foreach(l => layers ++= l.json(timedMs, cores))
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "session_s" -> sessionS, "timed_ms" -> timedMs,
      "peak_rss_kb" -> rssKb, "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.toSeq, "out" -> out.toMap, "layers" -> layers.toMap,
      "spans" -> tracer.json)
    Files.write(work.resolve("result.json"),
      Json.write(result).getBytes(StandardCharsets.UTF_8))
  }
}

object Ctx {
  def open(workload: String, seed: Long, seconds: Int, traced: Boolean,
      cores: Int, work: Path, data: String): Ctx = {
    val spark = graft.core.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    new Ctx(spark, workload, seed, seconds, traced, cores, work, data, sessionS)
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def derbyProps(): java.util.Properties =
    graft.serve.Jdbc.props("app", "app", "org.apache.derby.jdbc.EmbeddedDriver")
}

/** Row-multiset comparison used by every correctness check. */
object Check {
  /** None when `actual` holds exactly the rows of `expected` over `cols`,
    * duplicates included; otherwise a short description of the difference.
    * `actual` is cast to `expected`'s column types first, so a JDBC round
    * trip's type widening is not reported as a difference.
    */
  def sameRows(expected: DataFrame, actual: DataFrame, cols: Seq[String]): Option[String] = {
    val types: Map[String, DataType] = expected.schema.map(f => f.name -> f.dataType).toMap
    val e = expected.select(cols.map(col): _*)
    val a = actual.select(cols.map(c => col(c).cast(types(c)).as(c)): _*)
    val missing = e.exceptAll(a).limit(3).collect()
    val extra = a.exceptAll(e).limit(3).collect()
    if (missing.isEmpty && extra.isEmpty) None
    else Some(s"missing ${missing.mkString(" ")}; unexpected ${extra.mkString(" ")}")
  }
}
