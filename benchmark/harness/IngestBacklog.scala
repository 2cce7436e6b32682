package graftbench

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{IngestPipeline, Snapshots}
import graft.sources.HttpIngest
import graft.streaming.IngestStream

/** `ingest_backlog`: a consumer catching up. One long-lived stream,
  * `fromEnvelope` → `IngestPipeline.accepted` → `Snapshots.streamAppend`
  * with a `ProcessingTime(0)` trigger, drains equal bursts of envelopes.
  * Each burst is appended through `State.append`, the endpoint
  * handler's own call, while the harness holds the `State` monitor, so
  * the source sees all of it or none of it and one burst is exactly one
  * micro-batch. The burst size and the numbers of warm-up and timed
  * bursts come from the inputs' manifest and are the same in every run. */
object IngestBacklog {
  import GraftBench._

  val CommitWaitMs = 60000L

  private final case class Burst(appendedNs: Long, endOffset: Long, envs: IndexedSeq[Envelope])
  private final case class SinkCall(batchId: Long, startNs: Long, endNs: Long)

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val m = ctx.manifest
    val (burstRows, warmBursts, bursts) = (m("burst_rows").toInt, m("warm_bursts").toInt, m("bursts").toInt)
    // the one-batch gate reads each timed burst's start from the burst before it
    require(warmBursts >= 1, "ingest_backlog needs a warm-up burst")

    // the source truncates a batch's rows only when it plans the next
    // batch, so the previous burst is still buffered when one is appended
    val state = HttpIngest.getOrStart(0, Set.empty, maxBuffered = 2 * burstRows)
    // the first-attachment workaround, as in ingest_http: a continuously
    // triggered stream on an endpoint's first attachment re-delivers
    // its buffer
    state.attach()
    state.detach()
    val table = ctx.freshDir("table")
    val sink = Snapshots.streamAppend(table)
    val ks = keys(spark)
    val sinkCalls = new ConcurrentLinkedQueue[SinkCall]()
    val q = IngestStream.fromEnvelope(
      spark.readStream.format("http-ingest").option("port", state.port.toLong).load())
      .writeStream
      .queryName(s"bench-backlog-${state.port}")
      .option("checkpointLocation", ctx.freshDir("ckpt"))
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = Clock.nowNs
        sink(IngestPipeline.accepted(df, ks), id)
        sinkCalls.add(SinkCall(id, t0, Clock.nowNs))
        ()
      }
      .start()

    val reader = new BufferedReader(new InputStreamReader(
      new FileInputStream(ctx.input("backlog.tsv")), StandardCharsets.UTF_8), 1 << 20)
    def nextBurst(): IndexedSeq[Envelope] = IndexedSeq.fill(burstRows)(Envelope.parse(reader.readLine()))

    /** Appends one burst as one unit and waits until it is committed. */
    def drain(envs: IndexedSeq[Envelope]): Burst = {
      val recs = envs.map(e => HttpIngest.Received(e.body, e.apiKey))
      val (appended, end) = state.synchronized {
        recs.foreach(r => require(state.append(r), "endpoint buffer full"))
        (Clock.nowNs, state.count)
      }
      if (!ctx.streams.awaitOffset(end, CommitWaitMs))
        res.fail(s"burst ending at offset $end was not committed within ${CommitWaitMs / 1000} s")
      Burst(appended, end, envs)
    }

    val all = ArrayBuffer.empty[Burst]
    (0 until warmBursts).foreach { i =>
      all += drain(nextBurst())
      note(s"warm-up burst $i committed")
    }
    res.setupEndNs = Clock.nowNs
    val tableBytes0 = fileStats(table)
    val window = new Window(res)
    val timed = (0 until bursts).map { _ =>
      val envs = nextBurst() // read before timing
      drain(envs)
    }
    window.end(bursts.toLong * burstRows)
    all ++= timed
    reader.close()
    val tableBytes1 = fileStats(table)
    IngestStream.stopGracefully(q)
    HttpIngest.stop(state.port)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    note("drained")

    // correctness: the table holds exactly the valid envelopes, once
    val exp = all.flatMap(_.envs.filter(_.cls == Envelope.Valid).map(_.id)).toArray.sorted
    val got = Snapshots.read(spark, table).select("event_id").collect().map(_.getLong(0)).sorted
    res.attempted = all.map(_.envs.size.toLong).sum
    if (!java.util.Arrays.equals(got, exp)) {
      val gotSet = got.toSet
      val expSet = exp.toSet
      val lost = exp.filterNot(gotSet)
      val dups = got.length - gotSet.size
      val stray = gotSet.filterNot(expSet)
      lost.foreach(id => res.fail(s"valid envelope $id is missing from the table"))
      stray.foreach(id => res.fail(s"event_id $id should not be in the table"))
      if (dups > 0) {
        res.failures += s"$dups duplicated rows in the table"
        res.failed += dups
      }
    }

    // every timed burst must be exactly one micro-batch: the only batch
    // that read rows past the previous burst's end offset, starting at
    // that offset and ending at the burst's own
    val streamBatches = ctx.streams.all
    val matched = timed.zipWithIndex.flatMap { case (t, i) =>
      val prevEnd = all(warmBursts + i - 1).endOffset
      streamBatches.filter(b => b.endOffset > prevEnd && b.endOffset <= t.endOffset) match {
        case Seq(b) if b.startOffset == prevEnd && b.endOffset == t.endOffset => Some(t -> b)
        case bs =>
          res.fail(s"timed burst $i (offsets $prevEnd to ${t.endOffset}) was read by ${bs.size} batches " +
            bs.map(b => s"[${b.startOffset}, ${b.endOffset})").mkString(" ") + ", not one")
          None
      }
    }
    val batches = matched.map(_._2)
    // per burst: appended → the end of the micro-batch that committed it
    val lat = matched.map { case (t, b) => (Clock.msToNs(b.endMs) - t.appendedNs) / 1e6 }
    val accepted = timed.map(_.envs.count(_.cls == Envelope.Valid)).sum.toLong
    val perBurstAccepted = timed.head.envs.count(_.cls == Envelope.Valid)
    res.e2e("latency_p50_ms") = Stats.median(lat)
    res.e2e("throughput_per_s") = Stats.median(matched.map { case (t, b) =>
      t.envs.count(_.cls == Envelope.Valid) / ((Clock.msToNs(b.endMs) - t.appendedNs) / 1e9)
    })

    val jobs = ctx.jobs.allJobs
    StreamLayer.fill(res, ctx, batches, jobs, offered = bursts.toLong * burstRows, accepted = accepted,
      filesWritten = tableBytes1._1 - tableBytes0._1, bytesWritten = tableBytes1._2 - tableBytes0._2)
    // the harness's own timer around the sink call is exact here
    val calls = sinkCalls.asScala.map(c => c.batchId -> c).toMap
    res.layer("operators.sink_commit_ms_p50") = Stats.median(batches.flatMap { b =>
      calls.get(b.batchId).map { c =>
        val js = StreamLayer.jobsOf(jobs, b)
        val lastJob = if (js.isEmpty) c.startNs else Clock.msToNs(js.map(_.endOrStartMs).max)
        math.max(0.0, (c.endNs - lastJob) / 1e6)
      }
    })
    res.layer("sources.buffer_peak_rows") = burstRows.toDouble

    // a batch's trigger may start while its burst is still being
    // appended (latestOffset waits on the monitor), so batches are
    // traced beside their drain, not under it
    if (ctx.tracer.enabled) {
      matched.foreach { case (t, b) =>
        ctx.tracer.span(0L, "streaming.drain", t.appendedNs, Clock.msToNs(b.endMs))
      }
      StreamLayer.trace(ctx, batches, jobs, 0L)
    }
    res.validity ++= Seq("burst_rows" -> burstRows.toDouble, "accepted_per_burst" -> perBurstAccepted.toDouble,
      "warm_bursts" -> warmBursts.toDouble, "bursts" -> bursts.toDouble)
    res.validityText ++= Seq("burst_ms" -> lat.map(l => f"$l%.0f").mkString(","))
  }
}
