package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.HttpIngest
import graft.streaming.IngestStream

/** `ingest_http`: the paper's path. POSTs from the load-generator
  * process reach `HttpIngest`'s endpoint; `IngestStream.start` with a
  * `ProcessingTime(0)` trigger writes parquet plus the DLQ.
  *
  * Order: set-up (endpoint, stream, 10 POSTs until committed), phase B
  * (closed-loop capacity), phase A (open-loop latency), then the
  * un-patched first-attachment probe. */
object IngestHttp {
  import GraftBench._

  val PostRate = 40.0
  val PostTimeoutMs = 2000
  val CapacityS = 3.0
  val CommitWaitMs = 30000L
  val ProbeWaitMs = 1000L
  val ProbeLingerMs = 250L

  private final case class Phase(tag: String, envs: IndexedSeq[Envelope], sent: IndexedSeq[Sent])

  private def startStream(ctx: Ctx, port: Int, tag: String, out: String, dlq: String): StreamingQuery = {
    val src = IngestStream.fromEnvelope(
      ctx.spark.readStream.format("http-ingest").option("port", port.toLong).load())
    IngestStream.start(src, keys(ctx.spark), out, dlq, ctx.freshDir(s"$tag-ckpt"),
      trigger = Trigger.ProcessingTime(0L), queryName = s"bench-$tag-$port")
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val lg = ctx.loadgen
    val workers = ctx.cores
    def envs(tag: String) = Envelope.readAll(ctx.input(s"http-$tag.tsv"))

    // set-up: endpoint, stream, and its first committed batch
    val state = HttpIngest.getOrStart(0, Set(Envelope.ValidKey))
    // Known defect: on an endpoint's FIRST attachment the source treats
    // every deserialized offset as a recovered checkpoint and rebases
    // its buffer past rows it has not committed yet, so a continuously
    // triggered stream re-delivers its buffer. Registering one
    // attachment first puts the stream on the same-JVM-restart path,
    // which numbers rows correctly. firstAttachProbe keeps the defect
    // visible.
    state.attach()
    state.detach()
    val out = ctx.freshDir("out")
    val dlq = ctx.freshDir("dlq")
    val q = startStream(ctx, state.port, "http", out, dlq)
    val setup = Phase("set-up", envs("setup"),
      lg.closed(ctx.input("http-setup.tsv"), state.port, 60.0, 1, PostTimeoutMs * 5))
    val setupDrained = ctx.streams.awaitOffset(state.count, CommitWaitMs)
    res.setupEndNs = Clock.nowNs
    note("set-up done")

    val window = new Window(res)
    // phase B: capacity, closed loop; its rows drain after timing
    val cap = Phase("phase B", envs("cap"),
      lg.closed(ctx.input("http-cap.tsv"), state.port, CapacityS, workers, PostTimeoutMs))
    val capDrained = ctx.streams.awaitOffset(state.count, CommitWaitMs)
    note(s"phase B: ${cap.sent.size} POSTs")

    // phase A: latency, open loop at a fixed rate; set-up and phase B
    // were its warm-up
    val (files0, bytes0) = fileStats(out)
    val (dlqFiles0, dlqBytes0) = fileStats(dlq)
    @volatile var sampling = true
    var peak = 0L
    val sampler = new Thread(() => {
      while (sampling) {
        peak = math.max(peak, state.count - ctx.streams.lastEndOffset)
        Thread.sleep(5L)
      }
    }, "buffer-sampler")
    sampler.setDaemon(true)
    val aStartMs = System.currentTimeMillis()
    sampler.start()
    val a = Phase("phase A", envs("a"), lg.open(ctx.input("http-a.tsv"), state.port, PostRate, workers,
      PostTimeoutMs))
    val aDrained = ctx.streams.awaitOffset(state.count, CommitWaitMs)
    sampling = false
    sampler.join()
    window.end(a.sent.size + cap.sent.size)
    note(s"phase A: ${a.sent.size} POSTs")
    val (files1, bytes1) = fileStats(out)
    val (dlqFiles1, dlqBytes1) = fileStats(dlq)
    IngestStream.stopGracefully(q)
    HttpIngest.stop(state.port)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)

    // correctness: every POST's status, then exactly-once routing
    val phases = Seq(setup, cap, a)
    Seq(setupDrained -> "set-up", capDrained -> "phase B", aDrained -> "phase A").foreach { case (ok, tag) =>
      if (!ok) res.fail(s"stream did not commit the $tag POSTs within ${CommitWaitMs / 1000} s")
    }
    def rows(dir: String, cols: String*): Array[Row] =
      if (fileStats(dir)._1 == 0) Array.empty
      else spark.read.parquet(dir).selectExpr(cols: _*).collect()
    val outRows = rows(out, "event_id", "unix_micros(received_at) AS ra")
    val outCount = outRows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val dlqCount = rows(dlq, "event_id").map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    phases.foreach { p =>
      val sentIdx = p.sent.map(s => s.idx -> s).toMap
      p.envs.zipWithIndex.foreach { case (e, i) =>
        val (inOut, inDlq) = (outCount.getOrElse(e.id, 0), dlqCount.getOrElse(e.id, 0))
        sentIdx.get(i) match {
          case None =>
            if (inOut + inDlq != 0) res.fail(s"${p.tag} envelope ${e.id} was never sent but is in the output")
          case Some(s) =>
            res.attempted += 1
            val routed = e.cls match {
              case Envelope.Valid => inOut == 1 && inDlq == 0
              case Envelope.Malformed => inOut == 0 && inDlq == 1
              case _ => inOut == 0 && inDlq == 0 // auth rejects and HTTP rejects
            }
            if (s.status != e.expectStatus)
              res.fail(s"${p.tag} POST $i (${e.cls}): status ${s.status}, expected ${e.expectStatus}")
            else if (!routed)
              res.fail(s"${p.tag} envelope ${e.id} (${e.cls}): $inOut in output, $inDlq in DLQ")
        }
      }
    }
    val known = phases.flatMap(_.envs.map(_.id)).toSet
    (outCount.keys ++ dlqCount.keys).filterNot(known).foreach(id => res.fail(s"unexpected event_id $id"))

    // phase A latency: from an envelope's scheduled send to the end of
    // the micro-batch that committed it. received_at is the batch's
    // timestamp, taken after the trigger started, so that batch is the
    // last one that started at or before it.
    val batches = ctx.streams.all
    val starts = batches.map(_.startMs).toArray
    def visibleMs(raMicros: Long): Option[Long] = {
      val raMs = raMicros / 1000L
      val i = java.util.Arrays.binarySearch(starts, raMs)
      val k = if (i >= 0) { var j = i; while (j + 1 < starts.length && starts(j + 1) == raMs) j += 1; j } else -i - 2
      if (k < 0) None else Some(batches(k).endMs)
    }
    val aById = a.sent.map(s => a.envs(s.idx).id -> s).toMap
    val vis = outRows.filter(r => aById.contains(r.getLong(0)) && !r.isNullAt(1)).flatMap { r =>
      visibleMs(r.getLong(1)).map(v => (Clock.msToNs(v) - Clock.ofNano(aById(r.getLong(0)).dueNano)) / 1e6)
    }.toSeq
    res.e2e("latency_p50_ms") = Stats.median(vis)
    // phase B: 202 responses per second of the closed loop
    val capOk = cap.sent.count(_.status == 202)
    val capSpanS = if (cap.sent.isEmpty) 0.0
      else (cap.sent.map(_.ackNano).max - cap.sent.map(_.sendNano).min) / 1e9
    res.e2e("throughput_per_s") = if (capSpanS > 0) capOk / capSpanS else 0.0

    val L = res.layer
    val timed = a.sent ++ cap.sent
    // back to back, a POST's send → response time is what caps phase B
    val acks = cap.sent.map(s => (s.ackNano - s.sendNano) / 1e6)
    L("loadgen.late_p99_ms") = Stats.pct(a.sent.map(s => (s.sendNano - s.dueNano) / 1e6), 99)
    L("sources.ack_p50_ms") = Stats.median(acks)
    L("sources.ack_p99_ms") = Stats.pct(acks, 99)
    Seq(202, 400, 401, 503).foreach(c => L(s"sources.acks_$c") = timed.count(_.status == c).toDouble)
    L("sources.timeouts") = timed.count(_.status == -1).toDouble
    L("sources.buffer_peak_rows") = peak.toDouble
    L("streaming.visible_p98_ms") = Stats.pct(vis, 98)
    val aBatches = batches.filter(_.startMs >= aStartMs)
    val aJobs = ctx.jobs.allJobs.filter(_.startMs >= aStartMs)
    StreamLayer.fill(res, ctx, aBatches, aJobs, offered = a.sent.count(_.status == 202).toLong,
      accepted = a.envs.count(_.cls == Envelope.Valid).toLong,
      filesWritten = files1 - files0 + dlqFiles1 - dlqFiles0,
      bytesWritten = bytes1 - bytes0 + dlqBytes1 - dlqBytes0)

    if (ctx.tracer.enabled) {
      timed.foreach { s =>
        val id = ctx.tracer.span(0L, "loadgen.post", Clock.ofNano(s.dueNano), Clock.ofNano(s.ackNano))
        ctx.tracer.span(id, "sources.request", Clock.ofNano(s.sendNano), Clock.ofNano(s.ackNano))
      }
      StreamLayer.trace(ctx, aBatches, aJobs, 0L)
    }
    res.validity ++= Seq("post_rate_per_s" -> PostRate, "client_threads" -> workers.toDouble,
      "connections" -> workers.toDouble, "post_timeout_ms" -> PostTimeoutMs.toDouble,
      "phase_a_posts" -> a.sent.size.toDouble,
      "phase_b_posts" -> cap.sent.size.toDouble, "phase_b_s" -> capSpanS,
      "visible_samples" -> vis.size.toDouble)
    res.validityText ++= Seq("trigger_ms" -> aBatches.map(_.d("triggerExecution")).mkString(","))

    // after everything above is measured: the path the timed phases
    // route around, so the defect stays visible in every run
    val (dupRows, lostRows) = firstAttachProbe(ctx, res)
    L("sources.first_attach_dup_rows") = dupRows.toDouble
    L("sources.first_attach_lost_rows") = lostRows.toDouble
    res.validity ++= Seq("first_attach_dup_rows" -> dupRows.toDouble,
      "first_attach_lost_rows" -> lostRows.toDouble)
  }

  /** The endpoint's first-attachment path, without the attach/detach
    * that [[run]] uses: a fresh endpoint, a continuously triggered
    * stream, 20 valid envelopes POSTed in a closed loop. Once the stream
    * has committed them (or after [[ProbeWaitMs]]) it runs
    * [[ProbeLingerMs]] longer, then stops. Returns the output rows
    * beyond one per envelope and the envelopes missing from the output;
    * both are 0 on a correct source. Neither counts as a failed
    * operation, because the timed phases do not take this path. Every
    * wait is bounded: a stream that re-delivers its buffer never goes
    * idle. */
  private def firstAttachProbe(ctx: Ctx, res: Result): (Long, Long) = {
    val state = HttpIngest.getOrStart(0, Set(Envelope.ValidKey))
    val out = ctx.freshDir("probe-out")
    ctx.streams.reset()
    val q = startStream(ctx, state.port, "probe", out, ctx.freshDir("probe-dlq"))
    val file = ctx.input("http-probe.tsv")
    val ids = Envelope.readAll(file).map(_.id)
    val sent = ctx.loadgen.closed(file, state.port, 60.0, ctx.cores, PostTimeoutMs * 5)
    sent.filter(_.status != 202).foreach(s => res.fail(s"first-attachment probe POST ${s.idx}: status ${s.status}"))
    ctx.streams.awaitOffset(state.count, ProbeWaitMs)
    Thread.sleep(ProbeLingerMs)
    IngestStream.stopGracefully(q, ProbeLingerMs)
    HttpIngest.stop(state.port)
    val got =
      if (fileStats(out)._1 == 0) Array.empty[Long]
      else ctx.spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
    val seen = got.toSet
    note(s"first-attachment probe: ${got.length} rows for ${ids.size} envelopes")
    val found = ids.count(seen).toLong
    (got.length - found, ids.size - found)
  }
}
