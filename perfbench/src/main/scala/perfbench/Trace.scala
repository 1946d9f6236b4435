package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around its own calls into each layer.
  * A span's name starts with its layer (`sources.`, `ops.`), or `op.`
  * for a whole operation. Spans are kept in memory and written out once
  * the run is over. The innermost open span's name rides on every job
  * the driver thread starts, so the engine listener can attribute jobs
  * to the call that fired them.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, open.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans += s
    open ::= s
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProperty, outer)
    }
  }

  def totalMs(prefix: String): Double = spans.filter(_.name.startsWith(prefix)).map(_.ms).sum

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def toJson: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("start_ns", s.start); m.put("end_ns", s.end)
      m.put("self_ms", selfMs(s))
      out.add(m)
    }
    out
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, start: Long) {
    var end: Long = 0L
    def ms: Double = (end - start) / 1e6
  }
}

/** The traced run's view of the engine: a job/task listener and a
  * query-execution listener on the session, plus the SQL status store
  * for per-operator row counts. Registered only in a traced run, so the
  * untraced run measures the program alone.
  */
final class Engine(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final case class Job(start: Long, span: String) { var end: Long = -1L }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private var tasks, runMs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill, bytesWritten = 0L
  private var planMs = 0.0
  private var codegenAtStart = 0L
  private var executionsBefore = -1L

  spark.sparkContext.addSparkListener(this)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(this)

  private def statusStore =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore

  /** Start counting afresh: everything before this call is forgotten. */
  def reset(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      jobs.clear()
      tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      shuffleWrite = 0; shuffleRead = 0; spill = 0; bytesWritten = 0
      planMs = 0.0
      codegenAtStart = CodeGenerator.compileTime
      executionsBefore = statusStore.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // jobs started without local properties carry null properties
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    jobs(e.jobId) = Job(e.time, span.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Rows out of every `Generate` operator of the queries since [[reset]]. */
  private def generatedRows(): Long = {
    val store = statusStore
    store.executionsList().filter(_.executionId > executionsBefore).map { ex =>
      val values = store.executionMetrics(ex.executionId)
      store.planGraph(ex.executionId).allNodes.filter(_.name == "Generate")
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).sum
    }.sum
  }

  /** Engine counters since [[reset]], once the listener bus has
    * delivered every event; the driver gap is taken over the window from
    * `startMs` to `endMs` (epoch millis).
    */
  def snapshot(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val wallMs = (endMs - startMs).toDouble
      // wall time during which no job was running
      val busy = jobs.values.toSeq.filter(_.end >= 0)
        .map(j => (math.max(j.start, startMs), math.min(j.end, endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = startMs
      busy.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      def jobsIn(prefix: String) = jobs.values.count(_.span.startsWith(prefix)).toDouble
      Map(
        "core.jobs" -> jobs.size.toDouble,
        "core.tasks" -> tasks.toDouble,
        "core.plan_ms" -> planMs,
        "core.codegen_ms" -> (CodeGenerator.compileTime - codegenAtStart) / 1e6,
        "core.driver_gap_ms" -> (wallMs - covered),
        "core.exec_cpu_ms" -> cpuNs / 1e6,
        "core.gc_ms" -> gcMs.toDouble,
        "core.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "core.shuffle_read_bytes" -> shuffleRead.toDouble,
        "core.spill_bytes" -> spill.toDouble,
        "core.slot_util" -> runMs / (wallMs * cores),
        "sources.bytes_written" -> bytesWritten.toDouble,
        "ops.eager_jobs" -> jobsIn("ops.build"),
        "ops.cc_jobs" -> jobsIn("ops.cluster"),
        "ops.rows_exploded" -> generatedRows().toDouble)
    }
  }
}
