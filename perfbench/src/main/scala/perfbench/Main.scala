package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Tables
import graft.pipeline.{ArticlePipeline, ArticleSchema}

/** Benchmark JVM: runs one workload on one Spark session through graft's
  * public entry points (`SparkEntry.queries` and `ArticlePipeline.run`),
  * one closed-loop client, and writes raw per-operation records as JSON.
  * `perfbench/run.py` builds, launches and summarizes it; see README.md.
  *
  * Each operation is timed in three contiguous parts: the builder call,
  * forcing `queryExecution.executedPlan`, and a full materialization
  * through the `noop` sink. */
object Main {

  /** `order`: the operations of one pass (query names, or the pipeline);
    * `tables`: the tables the queries read, scanned by the warm-up;
    * `passes`: the fewest timed passes, whatever `seconds` allows;
    * `warmup`: untimed passes after the check pass, before timing. */
  final case class Conf(
      workload: String, order: Seq[String], tables: Seq[String], seconds: Double, passes: Int,
      warmup: Int,
      trace: Boolean, data: String, corpus: String, funnel: Seq[Long],
      expected: Map[String, Fingerprint.Value], work: String, out: String,
      record: Option[String], cpus: Int, setups: Int)

  val PipelineOp = "article_pipeline"

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val conf = Conf(
      workload = workload,
      order = kv.get("order").map(_.split(",").toSeq).getOrElse(Seq(PipelineOp)),
      tables = kv.get("tables").map(_.split(",").toSeq).getOrElse(Nil),
      seconds = kv.getOrElse("seconds", "10").toDouble,
      passes = kv.getOrElse("passes", "1").toInt,
      warmup = kv.getOrElse("warmup", "0").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      data = kv.getOrElse("data", ""),
      corpus = kv.getOrElse("corpus", ""),
      funnel = kv.get("funnel").map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil),
      expected = kv.get("expected").map(readExpected).getOrElse(Map.empty),
      work = kv("work"),
      out = kv("out"),
      record = kv.get("record"),
      cpus = kv.getOrElse("cpus", "4").toInt,
      setups = kv.getOrElse("setups", "5").toInt)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(conf.out), json.writeValueAsString(new Run(conf).run()))
  }

  def readExpected(path: String): Map[String, Fingerprint.Value] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> Fingerprint.Value(a(1).toLong, a(2))).toMap

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

final class Run(conf: Main.Conf) {
  import Main._

  private var spark: SparkSession = _
  private var sinkSeq = 0

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The warm-up scan: every input of the workload, read through the same
    * source code the operations use. Returns the input record count. */
  private def warmupScan(): Long =
    if (conf.workload == PipelineOp) ArticleSchema.load(spark, conf.corpus).count()
    else conf.tables.map(t => Tables(spark, conf.data, t).count()).sum

  private def inputBytes: Long =
    if (conf.workload == PipelineOp) Files.size(Paths.get(conf.corpus))
    else conf.tables.map(t => treeSize(Paths.get(s"${conf.data}/$t.parquet"))).sum

  private def treeSize(p: Path): Long =
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    } else Files.size(p)

  /** Releases what an operation left cached: catalog caches, persisted and
    * checkpointed RDD blocks (freed only once their RDDs are collected). */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Outcome of one operation: the frame it returned (for output checks),
    * the pipeline's own funnel, and its timings. */
  final class OpResult(val name: String) {
    var df: Option[DataFrame] = None
    var pipeline: Option[ArticlePipeline.Result] = None
    var sink: Option[Path] = None
    var error: Option[String] = None
    var startMs = 0L
    var buildNs, planNs, materializeNs, gcMs = 0L
    var plan: Option[PlanRec] = None
    def latencyNs: Long = buildNs + planNs + materializeNs
  }

  private def build(op: String, r: OpResult): DataFrame =
    if (op == PipelineOp) {
      sinkSeq += 1
      val sink = Paths.get(conf.work, s"sink-$sinkSeq")
      r.sink = Some(sink)
      val res = ArticlePipeline.run(spark, conf.corpus, sink.toString,
        Paths.get(conf.work, s"report-$sinkSeq.txt").toString)
      r.pipeline = Some(res)
      res.cleaned
    } else SparkEntry.queries(op)(spark, conf.data)

  /** Runs one operation in the three timed parts; never throws. */
  private def execute(op: String): OpResult = {
    val r = new OpResult(op)
    val gc0 = gcMillis()
    r.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t = t0
    def lap(): Long = { val n = System.nanoTime(); val d = n - t; t = n; d }
    try {
      val df = build(op, r); r.buildNs = lap()
      df.queryExecution.executedPlan; r.planNs = lap()
      df.write.format("noop").mode("overwrite").save(); r.materializeNs = lap()
      r.df = Some(df)
      r.plan = Some(PlanRec.of("dataframe", df.queryExecution))
    } catch {
      case NonFatal(e) =>
        lap()
        r.error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    r.gcMs = gcMillis() - gc0
    r
  }

  /** Pipeline check, run on every pass outside the timed region: the
    * funnel must match the generator's, and the sink must hold the passed
    * records. Returns an error or None. */
  private def checkPipeline(r: OpResult): Option[String] = r.error.orElse {
    val st = r.pipeline.get.stats
    val got = Seq(st.originalCount, st.deletedIncomplete, st.deletedDuplicates, st.passed, st.failed)
    val sinkRecords = countLines(r.sink.get)
    if (got != conf.funnel) Some(s"funnel ${got.mkString(",")} != expected ${conf.funnel.mkString(",")}")
    else if (sinkRecords != st.passed) Some(s"sink holds $sinkRecords records, expected ${st.passed}")
    else None
  }

  /** Query check: row count and content hash against the recorded values. */
  private def checkQuery(r: OpResult): (Option[String], Option[Fingerprint.Value]) =
    if (r.error.isDefined) (r.error, None)
    else {
      val got = Fingerprint(r.df.get)
      val failure = conf.expected.get(r.name) match {
        case _ if conf.record.isDefined => None
        case Some(want) if want == got => None
        case Some(want) => Some(s"output $got != expected $want")
        case None => Some("no expected output recorded")
      }
      (failure, Some(got))
    }

  private def countLines(dir: Path): Long = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).asScala.count(_.trim.nonEmpty).toLong).sum
    finally s.close()
  }

  private def release(r: OpResult): Unit = {
    r.pipeline.foreach(_.cleaned.unpersist(blocking = true))
    r.sink.foreach(deleteTree)
    r.df = None
    r.pipeline = None
  }

  private def opRecord(r: OpResult, failure: Option[String], cap: Option[Captured]): Map[String, Any] = {
    val base = Map[String, Any](
      "op" -> r.name, "ok" -> failure.isEmpty, "error" -> failure.orNull,
      "start_ms" -> r.startMs, "build_ms" -> r.buildNs / 1e6, "plan_ms" -> r.planNs / 1e6,
      "materialize_ms" -> r.materializeNs / 1e6, "latency_ms" -> r.latencyNs / 1e6,
      "gc_ms" -> r.gcMs)
    cap.fold(base) { c =>
      val plans = r.plan.toSeq ++ c.plans
      base ++ Map(
        "plans" -> plans.map(p => Map("source" -> p.source, "analysis_ms" -> p.analysisMs,
          "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs)),
        "sql_executions" -> c.sqlExecs.map(e => Map("id" -> e.id, "start_ms" -> e.startMs,
          "end_ms" -> e.endMs, "description" -> e.description.take(200))),
        "jobs" -> c.jobs.map(j => Map(
          "id" -> j.id, "call_site" -> j.callSite, "sql_execution_id" -> j.sqlExecId,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stages,
          "tasks" -> j.tasks, "task_run_ms" -> j.runMs, "task_cpu_ms" -> j.cpuNs / 1e6,
          "task_gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_read_bytes" -> j.shuffleReadBytes, "shuffle_records" -> j.shuffleRecords,
          "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
          "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes,
          "output_records" -> j.outputRecords)))
    }
  }

  /** One set-up: build the session and finish the warm-up scan. Returns
    * its seconds and the input record count. */
  private def setUp(): (Double, Long) = {
    val t0 = System.nanoTime()
    spark = newSession()
    val records = warmupScan()
    ((System.nanoTime() - t0) / 1e9, records)
  }

  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    System.gc()
  }

  def run(): Map[String, Any] = {
    // The cold set-up, in the fresh JVM: its session serves the check pass
    // and the timed passes.
    val (coldSetup, inputRecords) = setUp()

    // Untimed check pass, then `warmup` more: they warm JIT and codegen, and
    // check every output. They run in one fixed order, so every seed's
    // timed passes start from the same warm-up.
    val rounds = if (conf.record.isDefined) 1 else 1 + conf.warmup
    val checks = Seq.fill(rounds)(conf.order.sorted).flatten.map { op =>
      val r = execute(op)
      val (failure, fp) =
        try { if (op == PipelineOp) (checkPipeline(r), None) else checkQuery(r) }
        catch { case NonFatal(e) => (Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}"), None) }
      val rec = opRecord(r, failure, None) ++
        fp.fold(Map.empty[String, Any])(v => Map("rows" -> v.rows, "hash" -> v.hash))
      release(r); cleanup()
      rec
    }
    conf.record.foreach { path =>
      val lines = checks.filter(_("ok") == true)
        .map(c => s"${c("op")}\t${c("rows")}\t${c("hash")}")
      Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
    }

    // Timed passes. The traced run interleaves untraced and traced passes
    // as U T T U (repeating), so warm-up drift cancels in the overhead.
    val tracer = new Tracer(spark)
    val passes = Seq.newBuilder[Map[String, Any]]
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    val minPasses = if (conf.record.isDefined) 0 else if (conf.trace) conf.passes.max(4) else conf.passes
    var n = 0
    while (n < minPasses || (conf.record.isEmpty && System.nanoTime() < deadline)) {
      val traced = conf.trace && (n % 4 == 1 || n % 4 == 2)
      if (traced) tracer.attach()
      val ops = conf.order.map { op =>
        val r = execute(op)
        val cap = if (traced) Some(tracer.take()) else None
        val failure = if (op == PipelineOp) checkPipeline(r) else r.error
        val rec = opRecord(r, failure, cap)
        release(r); cleanup()
        rec
      }
      if (traced) tracer.detach()
      passes += Map("traced" -> traced, "ops" -> ops)
      n += 1
    }
    val peakRss = peakRssKb()

    // Warm set-ups, after the timed passes: the session is stopped and
    // built again, then scans again, in a JVM whose classes are loaded and
    // whose JIT has settled. The cold set-up is mostly class loading and
    // compilation and follows the machine's speed; the warm ones time the
    // session build and the scan themselves.
    val warmSetups = (1 to conf.setups).map { _ => stopSession(); setUp()._1 }
    spark.stop()
    Map[String, Any](
      "setup_s" -> warmSetups,
      "setup_cold_s" -> coldSetup,
      "input_records" -> inputRecords,
      "input_bytes" -> inputBytes,
      "cpus" -> conf.cpus,
      "checks" -> checks,
      "passes" -> passes.result(),
      "peak_rss_kb" -> peakRss)
  }
}
