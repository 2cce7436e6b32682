package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds from the monotonic clock, so the benchmark's own
  * timers and Spark's epoch-millisecond event times share one axis.
  * `System.nanoTime` reads the machine-wide monotonic clock, so raw
  * readings from the load-generator process convert with [[ofNano]]. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  def nowNs: Long = ofNano(System.nanoTime())
  def ofNano(nano: Long): Long = epochNs0 + (nano - nano0)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** In-memory span log. Recording is a no-op unless tracing is on; the
  * spans are written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  /** Records a span and returns its id, for its children. */
  def span(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, name, startNs, endNs))
    id
  }
  def all: Seq[Span] = spans.asScala.toSeq
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length of the union of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark jobs, their stages and task metrics, keyed by the local
  * properties the caller's thread carried when the job started: the
  * micro-batch id Structured Streaming sets, or the benchmark's own
  * query label. */
final class JobMeter extends SparkListener {
  import JobMeter._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)
    val query = p.flatMap(x => Option(x.getProperty(JobMeter.QueryKey)))
    e.stageInfos.foreach { si =>
      stages.putIfAbsent(si.stageId, new Stage(si.numTasks,
        si.rddInfos.exists(_.name.contains("DataSourceRDD"))))
    }
    jobs.put(e.jobId, Job(e.jobId, e.time, batch, query, e.stageInfos.map(_.stageId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.get(e.stageId)
    val m = e.taskMetrics
    if (st != null && m != null) {
      st.tasks.increment()
      st.cpuNs.add(m.executorCpuTime)
      st.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  /** Stages that ran at least one task (skipped stages ran none). */
  def ranStages(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id))).filter(_.tasks.sum > 0)
}

object JobMeter {
  val QueryKey = "graftbench.query"
  final case class Job(id: Int, startMs: Long, batchId: Option[Long], query: Option[String],
                       stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
    def endOrStartMs: Long = math.max(endMs, startMs)
  }
  final class Stage(val numTasks: Int, val sourceScan: Boolean) {
    val tasks = new LongAdder
    val cpuNs = new LongAdder
    val shuffleBytes = new LongAdder
  }
}

/** One record per micro-batch that read rows, from
  * `StreamingQueryProgress`, plus the highest source end offset seen.
  * A batch's source offsets are -1 where the progress has none (the
  * start offset of a stream's first batch). */
final class StreamMeter extends StreamingQueryListener {
  import StreamMeter.Batch
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var lastEndOffset: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def offset(o: String): Option[Long] = scala.util.Try(o.trim.toLong).toOption
    val start = p.sources.headOption.flatMap(s => offset(s.startOffset))
    val end = p.sources.headOption.flatMap(s => offset(s.endOffset))
    if (p.numInputRows > 0) {
      batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, start.getOrElse(-1L), end.getOrElse(-1L),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      end.foreach(v => lastEndOffset = math.max(lastEndOffset, v))
    }
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(b => (b.startMs, b.batchId))
  /** Forgets every batch, for a new stream whose offsets restart at 0. */
  def reset(): Unit = { batches.clear(); lastEndOffset = 0L }

  /** Waits until the stream has committed every row below `offset`. */
  def awaitOffset(offset: Long, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (lastEndOffset < offset && System.nanoTime() < deadline) Thread.sleep(2L)
    lastEndOffset >= offset
  }
}

object StreamMeter {
  final case class Batch(batchId: Long, startMs: Long, rows: Long, startOffset: Long, endOffset: Long,
                         durations: Map[String, Long]) {
    def d(k: String): Long = durations.getOrElse(k, 0L)
    def endMs: Long = startMs + d("triggerExecution")
  }
}

/** Analysis + optimization + physical planning time of every query
  * execution, from `QueryExecution.tracker`, stamped with its wall
  * interval so it can be attributed to the query window it fell in. */
final class PlanMeter extends QueryExecutionListener {
  final case class Plan(startMs: Long, endMs: Long, planningMs: Long)
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans.add(Plan(ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max,
        ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  def all: Seq[Plan] = plans.asScala.toSeq
}

/** Process-wide numbers of the JVM under test, and of the machine. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  /** CPU time of this process, all threads. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def statusKb(key: String): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }.getOrElse(0L)
  def rssPeakMb: Double = statusKb("VmHWM:") / 1024.0
  /** (all, steal) CPU jiffies of the machine, from /proc/stat. */
  def cpuJiffies: (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // user nice system idle iowait irq softirq steal; guest time
        // is already part of user
        val f = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    }.getOrElse((0L, 0L))
  def loadAvg: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .getSystemLoadAverage
}

/** A fixed piece of pure JVM work, independent of Spark and of the
  * program: sorting the same pseudo-random array. Timed before and
  * after a workload's timed section, it shows how fast the host ran
  * then, so host drift can be told apart from a change in the program. */
object HostProbe {
  private val N = 1 << 19
  private val Reps = 9
  private def once(): Long = {
    val a = new Array[Int](N)
    var x = 0x9e3779b9
    var i = 0
    while (i < N) { x ^= x << 13; x ^= x >>> 17; x ^= x << 5; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    a(N / 2).toLong
  }
  /** Wall time of one probe in ms: the fastest of [[Reps]] runs after
    * two untimed ones, so a passing burst of the JVM's own compiler or
    * collector threads does not count as a slower host. */
  def ms(): Double = {
    var sink = once() + once()
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      sink += once()
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42L) System.err.print("")
    ts.min
  }
}
