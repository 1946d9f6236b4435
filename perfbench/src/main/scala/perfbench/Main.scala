package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.Graft
import org.apache.spark.sql.SparkSession

/** One process of the benchmark: set up the session the way a user's
  * job does, run the workload once over the small instance in
  * `<in>/warmup` to warm the JVM up (JIT, codegen), then run measured
  * passes over the inputs in `<in>` while another pass should end within
  * `<seconds>` (at least one). Each pass writes fresh outputs under
  * `<work>/pass<i>` and has them checked after its clock stops. Prints
  * one result line.
  *
  * Usage: `perfbench.Main <workload> <in> <work> <launch-epoch-ns> <trace 0|1> <seconds>`;
  * workload `setup` stops once the session is ready.
  */
object Main {

  def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, launchNs, traceFlag, seconds) = args
    val spark = Graft.session(s"perfbench-$workload")
    spark.range(1).count()
    val setupS = (epochNs() - launchNs.toLong) / 1e9
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("setup_s", setupS)
    if (workload == "setup") { // a set-up sample alone
      println("PERFBENCH " + mapper.writeValueAsString(result))
      spark.stop()
      return
    }
    val workloadRun: Run => Unit = workload match {
      case "gem_workbooks" => Gem.workbooks
      case "crawl_to_index" => Crawl.run
      case other => sys.error(s"unknown workload $other")
    }
    val engine = if (traceFlag == "1") Some(new Engine(spark)) else None

    def pass(i: Int): (Run, Double, Map[String, Double]) = {
      val run = new Run(spark, if (i == 0) s"$in/warmup" else in, s"$work/pass$i", i,
        engine.isDefined)
      engine.foreach(_.reset())
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      workloadRun(run)
      // A pass's wall runs from its first operation's start to its last
      // one's end: staging the inputs is not part of it.
      val ops = run.trace.spans.filter(_.parent < 0)
      val (first, last) = (ops.map(_.start).min, ops.map(_.end).max)
      val layers = engine.fold(Map.empty[String, Double])(_.snapshot(
        t0Ms + (first - t0) / 1000000L, t0Ms + (last - t0) / 1000000L,
        spark.sparkContext.defaultParallelism))
      (run, (last - first) / 1e9, layers)
    }

    result.put("warmup_s", pass(0)._2)
    val passes = new java.util.ArrayList[java.util.Map[String, Any]]()
    val messages = new java.util.ArrayList[String]()
    var (attempted, failed) = (0, 0)
    var lastRun: Run = null
    var lastLayers = Map.empty[String, Double]
    val t0 = System.nanoTime()
    var lastPassS = 0.0
    def spent = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || spent + lastPassS <= seconds.toDouble) {
      val passStart = System.nanoTime()
      val (run, wallS, layers) = pass(passes.size + 1)
      val p = new java.util.LinkedHashMap[String, Any]()
      p.put("wall_s", wallS)
      p.put("refresh_s", run.refreshS.asJava)
      p.put("out_bytes", run.outBytes())
      passes.add(p)
      // Output checks, and a traced run's extras, after the clock stopped.
      try run.check()
      catch { case NonFatal(e) => run.fail("check", s"output check crashed: $e") }
      attempted += run.attempted
      failed += math.min(run.failedOps.size, run.attempted)
      run.messages.foreach(m => messages.add(s"pass ${run.pass}: $m"))
      lastRun = run
      lastLayers = layers
      lastPassS = (System.nanoTime() - passStart) / 1e9
    }
    result.put("passes", passes)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("messages", messages)
    if (engine.isDefined) { // the last pass's layers
      val out = new java.util.TreeMap[String, Any]()
      ZeroUnlessMeasured.foreach(out.put(_, 0.0))
      (lastLayers ++ lastRun.layers).foreach { case (k, v) => out.put(k, v) }
      out.put("sources.excel_ms", lastRun.trace.totalMs("sources.excel"))
      out.put("sources.write_ms", lastRun.trace.totalMs("sources.write"))
      out.put("ops.build_ms", lastRun.trace.totalMs("ops.build"))
      out.put("core.peak_rss_mb", peakRssMb())
      val wall = passes.get(passes.size - 1).get("wall_s").asInstanceOf[Double]
      out.put("trace.self_time_share",
        lastRun.trace.spans.map(lastRun.trace.selfMs).sum / 1e3 / wall)
      result.put("layers", out)
      mapper.writeValue(Paths.get(work, "spans.json").toFile, lastRun.trace.toJson)
    }
    println("PERFBENCH " + mapper.writeValueAsString(result))
    System.out.flush()
    spark.stop()
  }

  val mapper = new ObjectMapper()

  /** Layer counters a workload may never touch: zero, not missing. */
  val ZeroUnlessMeasured = Seq("sources.excel_rows", "ops.rows_rolled",
    "ops.candidate_pairs", "ops.verified_pairs", "ops.pair_yield",
    "functions.minhash_ms", "functions.html_text_ms", "functions.langid_ms")

  def readJson(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)

  /** Bytes of the data files under `dir` (hidden checksum files excluded). */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }
}

/** State of one pass of a workload: the operations it attempted, the
  * ones that failed (by throwing or by a wrong output), its spans, and
  * the per-layer numbers a traced run adds.
  */
final class Run(val spark: SparkSession, val in: String, val work: String,
    val pass: Int, val traced: Boolean) {
  val trace = new Trace(spark)
  var attempted = 0
  val failedOps = mutable.LinkedHashSet[String]()
  val messages = mutable.ArrayBuffer[String]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Latency of each incremental operation, in seconds. */
  val refreshS = mutable.ArrayBuffer[Double]()
  private var checks: List[() => Unit] = Nil

  /** This pass's name for an index table. */
  def table(name: String): String = s"p${pass}_$name"

  /** Bytes this pass wrote: its CSVs and its index tables. */
  def outBytes(): Long = {
    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val tables = if (!Files.isDirectory(warehouse)) Nil else {
      val s = Files.list(warehouse)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(table(""))).toList
      finally s.close()
    }
    (Paths.get(work, "out") :: tables).map(Main.bytesUnder).sum
  }

  /** One operation, timed as a top-level span; an exception fails it
    * without stopping the run.
    */
  def op(name: String, refresh: Boolean)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try trace.span(name)(body)
    catch { case NonFatal(e) => fail(name, s"$name failed: $e") }
    if (refresh) refreshS += (System.nanoTime() - t0) / 1e9
  }

  def fail(opName: String, msg: String): Unit = {
    failedOps += opName
    messages += msg
  }

  /** Register an output check, run after the clock stops. */
  def afterwards(check: => Unit): Unit = checks ::= (() => check)

  def check(): Unit = checks.reverse.foreach(_())

  def expect(opName: String, ok: Boolean, msg: => String): Unit =
    if (!ok) fail(opName, s"$opName: $msg")
}
