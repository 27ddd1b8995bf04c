package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: sets the session up, then runs one workload's
  * operations as a single-client closed loop and writes every raw
  * measurement to `<out>/raw.json` for `run.py` to reduce.
  *
  * Only the public registry entry point `graft.SparkEntry.queries` is
  * timed. Every timed output is reduced to a digest after its timer stops; the
  * first output of each operation (taken during warm-up) is kept on disk
  * so `run.py` can compare it with the DuckDB answer.
  *
  * Usage: PerfBench <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *          <op,op,...>
  */
object PerfBench {

  /** Untimed passes before the loop. A fresh JVM keeps JIT-compiling the
    * driver-side code for many passes: on 4 cores a `ts_panel` pass burned
    * 16 s of CPU as the fourth pass, 12 s as the sixth and 8-10 s from the
    * tenth on, and runs that were still slow when timing began spread most.
    * Side by side on the same seeds, runs with four passes spread less than
    * runs with three. */
  val WarmupPasses = 4

  /** Wall clock in epoch milliseconds with nanosecond resolution, so
    * benchmark spans and Spark listener times share one time base. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Span(name: String, parent: String, opId: String, start: Double, end: Double)

  final case class Exec(op: String, opId: String, pass: Int, traced: Boolean,
      start: Double, end: Double, ok: Boolean, err: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, opsS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val opNames = opsS.split(",").toSeq.filter(_.nonEmpty)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    new File(outDir).mkdirs()

    // --- set-up: JVM and session start, input registration and WarmupPasses
    // untimed passes; the first pass's outputs become the references
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mix = new Mix(spark, dataDir, outDir)
    Seq("events", "lineitem", "documents", "embeddings")
      .filter(t => new File(s"$dataDir/$t.parquet").exists)
      .foreach(t => graft.core.Tables.read(spark, dataDir, t).schema)
    opNames.foreach(mix.warm)
    for (_ <- 2 to WarmupPasses) {
      resetStorage(spark)
      opNames.foreach(op => mix.run(op, "warm", traced = false))
    }
    val setupS = (nowMs - jvmStartMs) / 1e3

    // --- timed closed loop; with tracing, traced and untraced passes
    // alternate, so both halves see the same JIT and heap state
    val rec = new Recorder
    val execs = mutable.ArrayBuffer.empty[Exec]
    val spans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Long)]
    val deadline = nowMs + seconds * 1e3
    var pass = 0
    var execSeq = 0
    // whole passes only: a pass starts until the deadline, and at least one
    // pass runs (with tracing, one of each kind)
    while (pass < (if (trace) 2 else 1) || nowMs < deadline) {
      val traced = trace && pass % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec.qeListener)
      }
      resetStorage(spark)
      val cpu0 = processCpuNs()
      opNames.foreach { op =>
        execSeq += 1
        val opId = f"e$execSeq%05d"
        val cg0 = (codegenNs(), codegenClasses())
        val r = mix.run(op, opId, traced)
        if (traced) {
          rec.codegen(opId, codegenNs() - cg0._1, codegenClasses() - cg0._2)
          spans += Span("op", "", opId, r.start, r.end)
          r.parts.foreach { case (n, s, e) => spans += Span(n, "op", opId, s, e) }
        }
        execs += Exec(op, opId, pass, traced, r.start, r.end, r.ok, r.err)
      }
      passes += ((pass, traced, processCpuNs() - cpu0))
      if (traced) {
        rec.drain()
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec.qeListener)
      }
      pass += 1
    }

    // --- untimed: references for the DuckDB check, then the raw record
    val refDirs = mix.writeReferences()
    val rss = vmHwmMb()
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${q(workload)},"cores":$cores,"spark_version":${q(spark.version)},"""
    json ++= s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"""
    json ++= s""""setup_s":$setupS,"peak_rss_mb":$rss,"""
    json ++= s""""warm_errors":${obj(mix.warmErrors.toSeq.map { case (k, v) => k -> q(v) })},"""
    json ++= s""""references":${obj(refDirs.map { case (k, v) => k -> q(v) })},"""
    json ++= s""""oracle_sql":${obj(opNames.flatMap(op => graft.SparkEntry.oracleSql.get(op).map(op -> q(_))))},"""
    json ++= s""""passes":${passes.map { case (p, t, cpu) =>
      s"""{"pass":$p,"traced":$t,"cpu_s":${cpu / 1e9}}""" }.mkString("[", ",", "]")},"""
    json ++= s""""execs":${execs.map(e =>
      s"""{"op":${q(e.op)},"id":"${e.opId}","pass":${e.pass},"traced":${e.traced},""" +
      s""""start":${e.start},"end":${e.end},"ok":${e.ok},"err":${q(e.err)}}""")
      .mkString("[\n", ",\n", "]")},"""
    json ++= s""""spans":${spans.map(s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","id":"${s.opId}","start":${s.start},"end":${s.end}}""")
      .mkString("[\n", ",\n", "]")},"""
    json ++= rec.json
    json ++= "}"
    Files.writeString(Paths.get(s"$outDir/raw.json"), json.toString)
    graft.SparkEntry.clearPanelCache(spark)
    spark.stop()
  }

  /** Same clean slate before every pass as `graft.Bench.resetStorage`: no
    * memoized panel or persisted frame of one pass serves the next, and a
    * collection before the pass lets the ContextCleaner drain. */
  def resetStorage(spark: SparkSession): Unit = {
    graft.SparkEntry.clearPanelCache(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
    }
    System.gc()
    Thread.sleep(200)
  }

  /** CPU time of the whole JVM (driver and local executors). */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  /** Digest of an ordered result: position and every value count. */
  def rowsDigest(rows: Array[Row]): String =
    f"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq.map(_.toString))}%08x"
}

/** Outcome of one timed call: its interval, its child spans (build, plan,
  * execute) and whether its output matched the reference. */
final case class RunResult(start: Double, end: Double, ok: Boolean, err: String,
    parts: Seq[(String, Double, Double)])

/** One workload's operations: registry queries
  * (`SparkEntry.queries(name)(spark, dir)`), each result collected the way
  * a caller takes it. */
class Mix(spark: SparkSession, dataDir: String, outDir: String) {
  import PerfBench._
  val warmErrors = mutable.LinkedHashMap.empty[String, String]
  private val refDigest = mutable.Map.empty[String, String]
  private val refRows = mutable.Map.empty[String, (StructType, Array[Row])]

  private def describe(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** Untimed warm-up call; its output becomes the operation's reference. */
  def warm(op: String): Unit =
    try {
      val df = graft.SparkEntry.queries(op)(spark, dataDir)
      val rows = df.collect()
      refDigest(op) = rowsDigest(rows)
      refRows(op) = (df.schema, rows)
    } catch { case e: Throwable => warmErrors(op) = describe(e) }

  /** One timed call, then (untimed) its output digest against the reference.
    * The jobs of each step run in job group `<opId>/<step>`. */
  def run(op: String, opId: String, traced: Boolean): RunResult = {
    val parts = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def step[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobGroup(s"$opId/$name", op, interruptOnCancel = false)
      val s = nowMs
      try f finally {
        parts += ((name, s, nowMs))
        spark.sparkContext.clearJobGroup()
      }
    }
    val t0 = nowMs
    try {
      val df = step("build")(graft.SparkEntry.queries(op)(spark, dataDir))
      if (traced) step("plan")(df.queryExecution.executedPlan)
      val rows = step("execute")(df.collect())
      val t1 = parts.last._3
      val d = rowsDigest(rows)
      val ok = refDigest.get(op).contains(d)
      RunResult(t0, t1, ok,
        if (ok) null else s"output digest $d differs from reference ${refDigest.get(op)}", parts.toSeq)
    } catch {
      case e: Throwable => RunResult(t0, nowMs, ok = false, describe(e), parts.toSeq)
    }
  }

  /** Writes the reference rows as parquet; returns op -> directory. */
  def writeReferences(): Seq[(String, String)] = {
    refRows.foreach { case (op, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ref/$op")
    }
    refDigest.keys.toSeq.sorted.map(op => op -> s"$outDir/ref/$op")
  }
}

/** Plan traversal that also descends into adaptive query stages. */
object AqeWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark listener plus query-execution listener for traced passes. Events
  * are kept in memory and written out once, at the end of the run. */
class Recorder extends SparkListener {
  import PerfBench.q
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val taskRuns = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val qes = new ConcurrentLinkedQueue[String]()
  private val cg = new ConcurrentLinkedQueue[String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile private var lastEvent = System.nanoTime()
  private val open = new java.util.concurrent.atomic.AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    open.incrementAndGet()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart.put(e.jobId, (e.time, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent = System.nanoTime()
    open.decrementAndGet()
    val (t0, group) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, null))
    jobs.add(s"""{"job":${e.jobId},"group":${q(group)},"start":$t0,"end":${e.time}}""")
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEvent = System.nanoTime()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(stageGroup.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    if (e.taskInfo != null)
      taskRuns.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    val s = e.stageInfo
    val m = s.taskMetrics
    val durs = Option(taskRuns.remove(s.stageId)).map(_.asScala.map(_.longValue).toSeq).getOrElse(Nil)
    val fields =
      if (m == null) ""
      else Seq(
        "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_mem" -> m.memoryBytesSpilled, "spill_disk" -> m.diskBytesSpilled,
        "peak_mem" -> m.peakExecutionMemory,
        "scan_bytes" -> m.inputMetrics.bytesRead, "scan_rows" -> m.inputMetrics.recordsRead)
        .map { case (k, v) => s""","$k":$v""" }.mkString
    stages.add(s"""{"stage":${s.stageId},"group":${q(stageGroup.remove(s.stageId))},"tasks":${s.numTasks},""" +
      s""""start":${s.submissionTime.getOrElse(0L)},"end":${s.completionTime.getOrElse(0L)},""" +
      s""""task_ms":${durs.mkString("[", ",", "]")}$fields}""")
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEvent = System.nanoTime()
      val ph = qe.tracker.phases
      def p(n: String) = ph.get(n).map(x => s"""[${x.startTimeMs},${x.endTimeMs}]""").getOrElse("null")
      val writes = AqeWalk.collect(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd.metrics }
      def wm(k: String) = writes.map(_.get(k).map(_.value).getOrElse(0L)).sum
      val end = System.currentTimeMillis()
      qes.add(s"""{"func":${q(funcName)},"end":$end,"dur_ms":${durationNs / 1e6},""" +
        s""""analysis":${p("analysis")},"optimization":${p("optimization")},"planning":${p("planning")},""" +
        s""""write":${writes.nonEmpty},"files":${wm("numFiles")},"bytes":${wm("numOutputBytes")}}""")
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def codegen(opId: String, ns: Long, classes: Long): Unit =
    cg.add(s"""{"id":"$opId","compile_ms":${ns / 1e6},"classes":$classes}""")

  /** Wait until every started job has ended and the bus has been quiet for
    * 100 ms (at most 5 s), so no event of a traced pass is lost. */
  def drain(): Unit = {
    val t0 = System.nanoTime()
    while ((open.get() > 0 || System.nanoTime() - lastEvent < 100000000L) &&
        System.nanoTime() - t0 < 5000000000L) Thread.sleep(10)
  }

  def json: String = {
    def arr(c: ConcurrentLinkedQueue[String]) = c.asScala.mkString("[\n", ",\n", "]")
    s""""jobs":${arr(jobs)},"stages":${arr(stages)},"qes":${arr(qes)},"codegen":${arr(cg)}"""
  }
}
