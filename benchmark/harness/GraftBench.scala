package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** The benchmark's JVM side. One process runs one workload and writes
  * one result file; `benchmark/run.py` builds it, launches it and
  * prints the metrics.
  *
  * {{{
  * graftbench.GraftBench --workload ingest_http|ingest_backlog|query_mix
  *   --seed N --seconds S --trace 0|1 --run-dir DIR --result FILE
  *   [--inputs DIR --loadgen-cp CP] [--tables DIR --expected FILE]
  *   [--record FILE] [--dump DIR]
  * }}}
  *
  * It reaches the program only through its public calls and reads the
  * per-layer numbers from Spark's listener interfaces and its own
  * timers around those calls.
  */
object GraftBench {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // the endpoint's non-daemon threads would keep the JVM alive
    }

  private def run(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val runDir = a("run-dir")
    new File(runDir).mkdirs()
    val load0 = Jvm.loadAvg
    val cpu0 = Jvm.cpuJiffies
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val master = s"local[$cores]"
    // started before the session, so its JVM start-up is not set-up time
    val loadgen = a.get("loadgen-cp").map(cp =>
      new LoadGen(System.getProperty("java.home") + "/bin/java", cp, runDir))
    val t0 = Clock.nowNs // the first call into the program starts set-up
    val spark = GraftSession.build(master, cores.toString)
    GraftSession.tune(spark)
    val sessionS = (Clock.nowNs - t0) / 1e9
    note("session up")
    val jobs = new JobMeter
    val streams = new StreamMeter
    val plans = new PlanMeter
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    spark.listenerManager.register(plans)
    val ctx = Ctx(spark, jobs, streams, plans, new Tracer(a("trace") == "1"), a("seed").toLong,
      runDir, cores, a.get("inputs").getOrElse(""), loadgen.orNull)
    val res = new Result(a("workload"))
    try a("workload") match {
      case "ingest_http" => IngestHttp.run(ctx, res)
      case "ingest_backlog" => IngestBacklog.run(ctx, res)
      case "query_mix" => QueryMix.run(ctx, res, a("tables"), a.get("expected"), a.get("record"),
        a.get("dump"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally loadgen.foreach(_.close())
    require(res.setupEndNs > 0, "workload did not mark the end of its set-up")
    res.e2e("setup_s") = (res.setupEndNs - t0) / 1e9
    res.e2e("ok_frac") = math.max(0.0, 1.0 - res.failed.toDouble / math.max(res.attempted, 1L))
    res.layer("jvm.rss_peak_mb") = Jvm.rssPeakMb
    res.validity ++= Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "local_cores" -> cores.toDouble,
      "loadavg_before" -> load0, "loadavg_after" -> Jvm.loadAvg,
      "session_s" -> sessionS, "cpu_steal_frac" -> {
        val cpu1 = Jvm.cpuJiffies
        (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
      })
    res.validityText ++= Seq("spark_master" -> master)
    note("workload done")
    spark.stop()
    note("session stopped")
    Files.writeString(Paths.get(a("result")), res.json(ctx.tracer), StandardCharsets.UTF_8)
    // leftover non-daemon threads must not keep the process alive
    sys.exit(0)
  }

  /** Progress line in the JVM log, for diagnosing slow runs. */
  def note(msg: String): Unit =
    System.err.println(f"[bench ${System.currentTimeMillis() % 100000000L / 1000.0}%.3f] $msg")

  /** The auth dimension: one row per active user id. */
  def keys(spark: SparkSession): DataFrame =
    spark.range(0L, Users).select(col("id").as("api_key"))
  val Users = 2000L

  /** Parquet files and bytes under `dir`. */
  def fileStats(dir: String): (Int, Long) = {
    val f = new File(dir)
    if (!f.exists) (0, 0L)
    else {
      val files = Files.walk(f.toPath).iterator()
      var n = 0; var bytes = 0L
      while (files.hasNext) {
        val p = files.next()
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) {
          n += 1; bytes += Files.size(p)
        }
      }
      (n, bytes)
    }
  }
}

final case class Ctx(spark: SparkSession, jobs: JobMeter, streams: StreamMeter, plans: PlanMeter,
                     tracer: Tracer, seed: Long, runDir: String, cores: Int, inputs: String,
                     loadgen: LoadGen) {
  private var n = 0
  def freshDir(tag: String): String = synchronized {
    n += 1
    val d = s"$runDir/$tag-$n"
    new File(d).mkdirs()
    d
  }
  def input(name: String): String = s"$inputs/$name"
  /** `key=value` lines of the inputs' manifest. */
  def manifest: Map[String, Long] =
    scala.io.Source.fromFile(input("manifest.txt")).getLines().filter(_.contains('=')).map { l =>
      val Array(k, v) = l.split("=", 2); k.trim -> v.trim.toLong
    }.toMap
}

/** Process numbers over a workload's timed section: the host probe
  * before and after it, and the collector and CPU time of this JVM. */
final class Window(res: Result) {
  res.validity("host_probe_pre_ms") = HostProbe.ms()
  private val gc0 = Jvm.gcMs
  private val cpu0 = Jvm.cpuNs
  /** Closes the window; `ops` is the operations it timed. */
  def end(ops: Long): Unit = {
    res.layer("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
    res.layer("jvm.cpu_ms_per_op") = (Jvm.cpuNs - cpu0) / 1e6 / math.max(ops, 1L)
    res.validity("host_probe_post_ms") = HostProbe.ms()
  }
}

/** What one run measured. */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val validity = mutable.LinkedHashMap.empty[String, Double]
  val validityText = mutable.LinkedHashMap.empty[String, String]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** When set-up ended: the start of the first timed operation. */
  var setupEndNs = 0L

  /** Records one failed operation, and its message while there are
    * fewer than 50. */
  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def json(tracer: Tracer): String = {
    val spans = tracer.all.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    s"""{"workload": ${q(workload)}, "attempted": $attempted, "failed": $failed,
       |"failures": ${failures.map(q).mkString("[", ", ", "]")},
       |"e2e": ${obj(e2e)},
       |"layer": ${obj(layer)},
       |"validity": ${obj(validity)},
       |"validity_text": ${validityText.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")},
       |"traced": ${tracer.enabled},
       |"spans": ${spans.mkString("[", ",\n", "]")}}
       |""".stripMargin
  }
}

/** Streaming-layer numbers shared by both ingest workloads. */
object StreamLayer {
  /** The micro-batch phases of `durationMs`, in execution order, with
    * the span names they are traced under. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
    "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.query_planning",
    "addBatch" -> "operators.add_batch", "commitOffsets" -> "streaming.commit_offsets")

  /** The jobs a micro-batch ran: they carry its batch id and start
    * inside its trigger. */
  def jobsOf(jobs: Seq[JobMeter.Job], b: StreamMeter.Batch): Seq[JobMeter.Job] =
    jobs.filter(j => j.batchId.contains(b.batchId) && j.startMs >= b.startMs && j.startMs <= b.endMs)

  /** Start and end, in epoch ns, of a batch's addBatch phase, with the
    * phases laid end to end from the trigger start. */
  def addBatchNs(b: StreamMeter.Batch): (Long, Long) = {
    val before = Phases.takeWhile(_._1 != "addBatch").map(p => b.d(p._1)).sum
    val s = Clock.msToNs(b.startMs + before)
    (s, s + Clock.msToNs(b.d("addBatch")))
  }

  /** Time in ms from the batch's last Spark job to the end of its
    * addBatch phase: the driver-side commit of the sink. */
  def sinkCommitMs(b: StreamMeter.Batch, jobs: Seq[JobMeter.Job]): Double = {
    val js = jobsOf(jobs, b)
    if (js.isEmpty) 0.0
    else math.max(0.0, (addBatchNs(b)._2 - Clock.msToNs(js.map(_.endOrStartMs).max)) / 1e6)
  }

  /** One `streaming.batch` span per micro-batch, its `durationMs`
    * phases laid end to end from the trigger start, and the batch's
    * Spark jobs under its addBatch phase. */
  def trace(ctx: Ctx, batches: Seq[StreamMeter.Batch], jobs: Seq[JobMeter.Job], parent: Long): Unit =
    if (ctx.tracer.enabled) batches.foreach { b =>
      val s = Clock.msToNs(b.startMs)
      val id = ctx.tracer.span(parent, "streaming.batch", s, Clock.msToNs(b.endMs))
      var t = s
      var addBatch = id
      Phases.foreach { case (k, name) =>
        val d = Clock.msToNs(b.d(k))
        val sid = ctx.tracer.span(id, name, t, t + d)
        if (k == "addBatch") addBatch = sid
        t += d
      }
      jobsOf(jobs, b).foreach(j => ctx.tracer.span(addBatch, "spark.job", Clock.msToNs(j.startMs),
        Clock.msToNs(j.endOrStartMs)))
    }

  /** Fills the `streaming.*`, `operators.*` and
    * `sources.partitions_per_batch` metrics from the batches and jobs
    * of the timed section. `offered` is the rows the source was given,
    * `accepted` those the sink should write. */
  def fill(res: Result, ctx: Ctx, batches: Seq[StreamMeter.Batch], jobs: Seq[JobMeter.Job],
           offered: Long, accepted: Long, filesWritten: Int, bytesWritten: Long): Unit = {
    val L = res.layer
    def p50(f: StreamMeter.Batch => Double) = Stats.median(batches.map(f))
    val batchJobs = batches.flatMap(jobsOf(jobs, _))
    val stages = ctx.jobs.ranStages(batchJobs)
    val nb = math.max(batches.size, 1).toDouble
    L("sources.partitions_per_batch") = Stats.median(batches.map { b =>
      val scans = ctx.jobs.ranStages(jobsOf(jobs, b)).filter(_.sourceScan)
      if (scans.isEmpty) 0.0 else scans.map(_.numTasks).max.toDouble
    })
    L("streaming.batches") = batches.size.toDouble
    L("streaming.rows_per_batch_p50") = p50(_.rows.toDouble)
    L("streaming.trigger_ms_p50") = p50(_.d("triggerExecution").toDouble)
    L("streaming.trigger_ms_p99") = Stats.pct(batches.map(_.d("triggerExecution").toDouble), 99)
    L("streaming.planning_ms_p50") = p50(_.d("queryPlanning").toDouble)
    L("streaming.add_batch_ms_p50") = p50(_.d("addBatch").toDouble)
    L("streaming.checkpoint_ms_p50") = p50(b => (b.d("walCommit") + b.d("commitOffsets")).toDouble)
    L("streaming.offsets_ms_p50") = p50(b => (b.d("latestOffset") + b.d("getBatch")).toDouble)
    L("streaming.jobs_per_batch") = batchJobs.size / nb
    L("streaming.tasks_per_batch") = stages.map(_.tasks.sum).sum / nb
    L("streaming.source_reads_per_row") =
      if (offered == 0) 0.0 else batches.map(_.rows).sum.toDouble / offered
    L("operators.exec_cpu_ms_per_krow") =
      if (accepted == 0) 0.0 else stages.map(_.cpuNs.sum).sum / 1e6 / (accepted / 1000.0)
    L("operators.sink_commit_ms_p50") = p50(b => sinkCommitMs(b, jobs))
    L("operators.files_per_batch") = filesWritten / nb
    L("operators.bytes_out_per_row") = bytesWritten.toDouble / math.max(accepted, 1L)
  }
}
