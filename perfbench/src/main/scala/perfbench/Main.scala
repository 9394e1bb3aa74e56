package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Formatter, ResultFormat, SqlEngine, StatementSplitter}
import graft.tables.Tables

/** One operation of a workload: an `executeSql` call or one query row. */
final case class Op(idx: Int, id: String, sql: String, json: Boolean,
    readback: Boolean, row: String)

/** Outcome of one timed operation. `harnessMs` is the time the harness
  * spent around it on its own checks (read-back, output comparison,
  * artifact marker scans). */
final case class OpRun(seq: Int, op: Int, pass: Int, traced: Boolean,
    start: Double, end: Double, error: String,
    mismatch: Boolean, built: Int, harnessMs: Double)

/** Wall time of one timed pass. */
final case class PassRun(pass: Int, traced: Boolean, start: Double, end: Double)

/**
 * JVM side of the benchmark: runs one workload plan in one process and
 * writes raw observations (set-up times, per-operation times and outputs,
 * spans, Spark jobs and stages) as JSON. perfbench/run.py generates the
 * plan from the workload seed and turns the observations into metrics.
 *
 * Usage: perfbench.Main <plan.json> <result.json>
 */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = new Harness(plan).run()
    mapper.writeValue(new File(args(1)), out)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
}

final class Harness(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val dataDir = plan.get("data_dir").asText
  private val workDir = plan.get("work_dir").asText
  private val artifactRoot = plan.get("artifact_root").asText
  private val seconds = plan.get("seconds").asDouble
  private val traceRun = plan.get("trace").asBoolean
  private val isSql = workload == "sql_interactive"
  private val ops: IndexedSeq[Op] = plan.get("ops").elements.asScala.zipWithIndex.map {
    case (n, i) =>
      def s(k: String) = Option(n.get(k)).map(_.asText).getOrElse("")
      def b(k: String) = Option(n.get(k)).exists(_.asBoolean)
      Op(i, s("id"), s("sql"), b("json"), b("readback"), s("row"))
  }.toIndexedSeq
  private val passes: Seq[Seq[Int]] = plan.get("passes").elements.asScala
    .map(_.elements.asScala.map(_.asInt).toSeq).toSeq

  private val tracer = new Tracer
  private val sparkRec = new SparkRecorder
  private val planRec = new PlanRecorder
  private val streamRec = new StreamRecorder
  private val accErrors = AccumulatorErrors.install()

  // Each workload starts Spark the way the program's own entry point for
  // that surface does: the engine's session factory for SQL calls, the
  // graft.Bench settings for query rows. Static settings the harness owns
  // (warehouse, local dirs, codegen cache) arrive as system properties.
  private val master = plan.get("master").asText
  private val spark: SparkSession =
    if (isSql) SqlEngine.newSession(master).spark
    else SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", plan.get("shuffle_partitions").asText)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  // JVM start to a running SparkContext, before any set-up
  private val contextS = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  // ------------------------------------------------------------ set-up
  private var session: SparkSession = _
  private var engine: SqlEngine = _
  private val setupS = ArrayBuffer[Double]()
  private val registerS = ArrayBuffer[Double]()

  private def tableDdl(name: String) =
    s"CREATE EXTERNAL TABLE $name STORED AS PARQUET LOCATION '$dataDir/$name.parquet'"

  /** Session creation through table registration; the median of several
    * set-ups is `setup_s`. The last set-up's session runs the workload. */
  private def setup(i: Int): Unit = {
    if (session != null && isSql)
      Tables.names.foreach(n => session.sql(s"DROP TABLE IF EXISTS $n"))
    val t0 = Clock.nowMs
    session = spark.newSession()
    val r0 = Clock.nowMs
    if (isSql) {
      engine = new SqlEngine(session)
      Tables.names.foreach(n => engine.executeSql(tableDdl(n)))
    } else Tables.registerAll(session, dataDir)
    val t1 = Clock.nowMs
    registerS += (t1 - r0) / 1000
    setupS += (t1 - t0) / 1000
  }

  // ------------------------------------------------------- artifacts
  private val markerName = "_graft_fingerprint"

  /** Artifact markers on disk (path -> modification time), under the
    * artifact root and the warehouse (bucketed tables live there). */
  private def markers(): Map[String, Long] =
    Seq(artifactRoot, s"$workDir/warehouse").flatMap { root =>
      val p = Paths.get(root)
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator.asScala
          .filter(_.getFileName.toString == markerName)
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toList
        finally s.close()
      }
    }.toMap

  /** Artifacts (re)built between two marker snapshots. */
  private def built(before: Map[String, Long], after: Map[String, Long]): Seq[String] =
    after.collect { case (k, t) if !before.get(k).contains(t) => k }.toSeq

  /** Bytes on disk of the artifacts whose markers are `paths`. */
  private def artifactBytes(paths: Seq[String]): Long = paths.map { m =>
    val s = Files.walk(Paths.get(m).getParent)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }.sum

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  /** Removes every artifact the program keeps under the artifact root, so
    * the next operation that needs one builds it. */
  private def emptyArtifactRoot(): Unit =
    Option(new File(artifactRoot).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).foreach(deleteTree)

  // ------------------------------------------------------ operations
  private lazy val rows = graft.SparkEntry.queries

  private var writeSeq = 0
  private def freshWriteDir(): String = {
    writeSeq += 1
    s"$workDir/writes/w$writeSeq"
  }

  private def format(json: Boolean) =
    if (json) ResultFormat.Json else ResultFormat.Table

  /** The traced copy of `executeSql`: the same split -> executeStatement ->
    * format loop, with a span around each call. Its output must equal
    * `executeSql`'s for the same call; the harness checks that. */
  private def tracedSql(sql: String, json: Boolean, seq: Int): String = {
    val stmts = tracer.span("engine", "split", seq)(StatementSplitter.split(sql))
    stmts.map { stmt =>
      val df = tracer.span("engine", "statement", seq)(engine.executeStatement(stmt))
      val s = tracer.span("engine", "format", seq)(Formatter.format(df, format(json)))
      val ph = df.queryExecution.tracker.phases
      analysisMs += ph.get("analysis").map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      s
    }.mkString("\n")
  }
  private val analysisMs = ArrayBuffer[Double]()
  private val stmtAnalysis = ArrayBuffer[(Int, Double)]()

  /** One `executeSql` call (or its traced copy) on a write directory of
    * its own when the script writes files. */
  private def execSql(op: Op, dir: String, traced: Boolean, seq: Int): String = {
    val sql = op.sql.replace("${OUT}", dir)
    engine.setResultFormat(format(op.json))
    if (!traced) engine.executeSql(sql)
    else {
      analysisMs.clear()
      val o = tracer.span("op", op.id, seq)(tracedSql(sql, op.json, seq))
      stmtAnalysis += ((seq, analysisMs.sum))
      o
    }
  }

  /** Rows a write script left in its directory (read outside the timed
    * region), after which the directory is removed. */
  private def readBack(dir: String): Long = {
    session.sparkContext.setJobGroup("perfbench-readback", "readback")
    try session.read.parquet(dir).count()
    finally deleteTree(new File(dir))
  }

  // ----------------------------------------------------------- check
  private val checkOut = scala.collection.mutable.Map[Int, (String, Long)]()

  /** Untimed pass over every operation: records each output for the
    * run.py checks (DuckDB oracle, recorded row counts) and for the
    * equality check of every timed repetition. Doubles as JIT warm-up.
    * A query row that built artifacts (always, after `coldCheck` emptied
    * the artifact root) is checked again, so the output checked is the
    * warm path's; its first and second times are kept. */
  private def checkPass(coldCheck: Boolean): Map[String, Map[String, Any]] = {
    if (coldCheck) emptyArtifactRoot()
    ops.map { op =>
      val t0 = Clock.nowMs
      val res: Map[String, Any] = try {
        if (isSql) {
          val dir = if (op.readback) freshWriteDir() else ""
          val o = execSql(op, dir, traced = false, -1)
          val back = if (op.readback) readBack(dir) else -1L
          checkOut(op.idx) = (o, back)
          Map("out" -> o, "readback" -> back)
        } else {
          val dir = s"$workDir/check/${op.row}"
          def write(): (String, Double) = {
            val w0 = Clock.nowMs
            val df = rows(op.row)(session, dataDir)
            df.coalesce(1).write.mode("overwrite").parquet(dir)
            (df.schema.simpleString, Clock.nowMs - w0)
          }
          val before = markers()
          val (schema0, firstMs) = write()
          val newMarkers = built(before, markers())
          val (schema, warmMs) =
            if (newMarkers.nonEmpty) write() else (schema0, firstMs)
          Map("dir" -> dir, "schema" -> schema,
            "oracle" -> graft.SparkEntry.oracleSql.get(op.row),
            "built" -> newMarkers.size, "built_bytes" -> artifactBytes(newMarkers),
            "first_ms" -> firstMs, "warm_ms" -> warmMs)
        }
      } catch { case e: Throwable => Map("error" -> Main.errorText(e)) }
      val ms = Clock.nowMs - t0
      System.err.println(f"[perfbench] check ${op.id}%-32s $ms%10.1f ms")
      op.id -> (Map[String, Any]("ms" -> ms, "error" -> null) ++ res)
    }.toMap
  }

  // ----------------------------------------------------------- timed
  private val runs = ArrayBuffer[OpRun]()
  private val passRuns = ArrayBuffer[PassRun]()
  private var seq = 0

  private def timedOp(op: Op, pass: Int, traced: Boolean): Unit = {
    val h0 = Clock.nowMs
    val dir = if (op.readback) freshWriteDir() else ""
    val before = if (isSql) Map.empty[String, Long] else markers()
    val pre = Clock.nowMs - h0
    session.sparkContext.setJobGroup(s"perfbench-op-$seq", op.id)
    tracer.enabled = traced
    val t0 = Clock.nowMs
    var error: String = null
    var out: String = null
    try {
      if (isSql) out = execSql(op, dir, traced, seq)
      else tracer.span("op", op.id, seq) {
        val df = tracer.span("queries", "eager", seq)(rows(op.row)(session, dataDir))
        tracer.span("queries", "exec", seq)(
          df.write.format("noop").mode("overwrite").save())
      }
    } catch { case e: Throwable => error = Main.errorText(e) }
    val t1 = Clock.nowMs
    tracer.enabled = false
    session.sparkContext.clearJobGroup()
    val h1 = Clock.nowMs
    val mismatch = isSql && error == null && {
      val back = try { if (op.readback) readBack(dir) else -1L } catch { case _: Throwable => -2L }
      !checkOut.get(op.idx).contains((out, back))
    }
    val n = if (isSql) 0 else built(before, markers()).size
    runs += OpRun(seq, op.idx, pass, traced, t0, t1, error, mismatch, n,
      pre + (Clock.nowMs - h1))
    seq += 1
  }

  private def addListeners(): Unit = {
    spark.sparkContext.addSparkListener(sparkRec)
    session.listenerManager.register(planRec)
    session.streams.addListener(streamRec)
  }

  private def removeListeners(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkRec)
    session.listenerManager.unregister(planRec)
    session.streams.removeListener(streamRec)
  }

  /** Complete passes until `seconds` of timed wall have elapsed, and at
    * least `min_passes`, so that the sample count (and with it the tail
    * percentile) does not flip with a pass's speed. A traced run alternates
    * untraced and traced passes and ends on a traced one, so both halves
    * see the same mix and warm-up. */
  private def timedPhase(): Unit = {
    val minPasses = plan.get("min_passes").asInt
    val t0 = Clock.nowMs
    var p = 0
    def elapsed = (Clock.nowMs - t0) / 1000
    while (p < passes.length &&
        (p < minPasses || elapsed < seconds || (traceRun && p % 2 == 1))) {
      val traced = traceRun && p % 2 == 1
      if (traced) addListeners()
      val start = Clock.nowMs
      passes(p).foreach(i => timedOp(ops(i), p, traced))
      passRuns += PassRun(p, traced, start, Clock.nowMs)
      if (traced) removeListeners()
      p += 1
    }
  }

  // ------------------------------------------------------------- run
  /** Runs the workload and returns the raw observations run.py reads. */
  def run(): Map[String, Any] = {
    val loadBefore = loadAvg
    val k = plan.get("setups").asInt
    if (traceRun) spark.sparkContext.addSparkListener(sparkRec)
    (1 to k).foreach(setup)
    if (traceRun) {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkRec)
    }
    val setupJobs = sparkRec.jobs.size
    val checkStart = Clock.nowMs
    val check = checkPass(plan.get("cold_check").asBoolean)
    val checkS = (Clock.nowMs - checkStart) / 1000
    timedPhase()
    val result = Map[String, Any](
      "setup_s" -> setupS, "register_s" -> registerS, "setup_jobs" -> setupJobs,
      "context_s" -> contextS, "check_s" -> checkS, "check" -> check,
      "passes" -> passRuns, "vm_hwm_kb" -> vmHwmKb,
      "load_before" -> loadBefore, "load_after" -> loadAvg,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "ops" -> ops.map(_.id), "runs" -> runs, "stmt_analysis" -> stmtAnalysis,
      "spans" -> tracer.spans,
      "jobs" -> sparkRec.jobs.values.toSeq.sortBy(_.id).map { j =>
        Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
          "ok" -> j.ok, "stages" -> j.stages)
      },
      "stages" -> sparkRec.stages.values.toSeq.sortBy(_.id).map { s =>
        val d = s.durations.sorted
        def known(t: Double) = Option(t).filterNot(_.isNaN)
        Map("id" -> s.id, "submit" -> known(s.submit), "end" -> known(s.end),
          "tasks" -> s.tasks, "failed" -> s.failedTasks, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
          "in_bytes" -> s.inBytes, "sh_write" -> s.shuffleWrite,
          "sh_read" -> s.shuffleRead, "spill" -> s.spill,
          "med_ms" -> (if (d.isEmpty) 0L else d(d.length / 2)),
          "max_ms" -> (if (d.isEmpty) 0L else d.last))
      },
      "plans" -> planRec.phases, "batches" -> streamRec.batches,
      "acc_errors" -> accErrors.times)
    spark.stop()
    result
  }

  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  private def vmHwmKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}
