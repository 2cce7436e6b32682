package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** S1 end-to-end: the HTTP ingest endpoint as a DSv2 micro-batch
  * source. The request matrix mirrors the reference's handler table
  * test (`publisher/internal/api/handler_test.go:45-182`: 202 / 401
  * missing / 401 invalid / 400 empty / 400 bad JSON / 405 method),
  * then the buffered payloads are consumed as a checkpointed stream.
  */
class HttpIngestSourceSpec extends SparkSpec with BeforeAndAfterAll {

  private val client = HttpClient.newHttpClient()
  private var state: HttpIngest.State = _
  private def port: Int = state.port

  override def beforeAll(): Unit = {
    state = HttpIngest.getOrStart(0, Set("key-1", "key-2"))
    super.beforeAll()
  }
  override def afterAll(): Unit = {
    HttpIngest.stop(port)
    super.afterAll()
  }

  private def post(body: String, key: Option[String]): Int = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/ingest"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    key.foreach(b.header("X-API-Key", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("handler matrix: 202 queued / 401 missing / 401 invalid / 400 empty / 400 bad JSON / 405 method") {
    assert(post("""{"sensor_id": "s1", "temperature": 21.5}""", Some("key-1")) === 202)
    assert(post("""{"k": 1}""", None) === 401)
    assert(post("""{"k": 1}""", Some("wrong-key")) === 401)
    assert(post("", Some("key-1")) === 400)
    assert(post("""{"k": }""", Some("key-1")) === 400)
    // strict whole-string validity, like Go json.Valid (Jackson would accept this)
    assert(post("""{"k": 1}trailing""", Some("key-2")) === 400)
    val get = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/ingest")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(get.statusCode() === 405)
  }

  test("accepted payloads flow through a checkpointed micro-batch stream; rejects never enter") {
    import spark.implicits._
    // the matrix test already queued exactly one valid payload; add two more
    assert(post("""{"sensor_id": "s2", "temperature": 22.0}""", Some("key-2")) === 202)
    assert(post("""{"sensor_id": "s3"}""", Some("key-1")) === 202)
    assert(post("""not json""", Some("key-1")) === 400) // must NOT appear downstream

    val ckpt = Files.createTempDirectory("graft-http-src").toString
    val q = spark.readStream.format("http-ingest")
      .option("port", port.toString)
      .load()
      .writeStream.format("memory").queryName("http_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("http_out").as[(String, String)].collect().sortBy(_._1)
    assert(rows.length === 3)
    assert(rows.map(_._2).toSet === Set("key-1", "key-2"))
    assert(rows.exists(r => r._1.contains("s2") && r._2 == "key-2"))

    // restart from the SAME checkpoint: the WAL has batch 0's end
    // offset, so the resumed query reads only what arrived after it
    // (at-least-once from the first commit on, D1/D2 over HTTP)
    assert(post("""{"sensor_id": "s4"}""", Some("key-2")) === 202)
    // (foreachBatch: the memory sink refuses checkpoint recovery)
    val resumed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q2 = spark.readStream.format("http-ingest")
      .option("port", port.toString)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.as[(String, String)].collect().foreach(resumed.add)
      }
      .start()
    q2.awaitTermination(60000)
    assert(resumed.toArray.toSeq === Seq(("""{"sensor_id": "s4"}""", "key-2")))
  }

  test("curl-to-parquet: HTTP POSTs flow through the full ingest DAG (auth semi-join, DLQ) and answer the reference queries") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    // fresh endpoint so the other tests' payloads don't interleave
    val st = HttpIngest.getOrStart(0, Set("key-1"))
    try {
      def postTo(body: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(s"http://localhost:${st.port}/ingest"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("X-API-Key", "key-1")
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      // full event envelopes, inner props as an escaped JSON string —
      // the publisher README's curl walkthrough (publisher/README.md:106-155)
      assert(postTo("""{"event_id":1,"user_id":1,"event_type":"click","value":1.5,"props":"{\"k\":1}"}""") === 202)
      assert(postTo("""{"event_id":2,"user_id":2,"event_type":"view","value":2.0,"props":"{\"k\": }"}""") === 202) // inner props malformed → DLQ
      assert(postTo("""{"event_id":3,"user_id":99,"event_type":"click","value":3.0,"props":"{\"k\":3}"}""") === 202) // unknown user → auth reject

      val (out, dlq, ckpt) = (
        Files.createTempDirectory("http-e2e-out").toString,
        Files.createTempDirectory("http-e2e-dlq").toString,
        Files.createTempDirectory("http-e2e-ckpt").toString)
      // the shared envelope decode — the same path fromKafka uses
      val events = graft.streaming.IngestStream.fromEnvelope(
        spark.readStream.format("http-ingest")
          .option("port", st.port.toString).load())
      val q = graft.streaming.IngestStream.start(
        events, Seq(1L, 2L).toDF("api_key"), out, dlq, ckpt,
        Trigger.AvailableNow(), Some(lit(777L)))
      q.awaitTermination(60000)

      val t = spark.read.parquet(out)
      // Q1/Q2-style read-back: only event 1 survives parse+auth
      assert(t.count() === 1)
      val r = t.collect().head
      assert(r.getAs[Long]("event_id") === 1L)
      assert(r.getAs[Int]("k") === 1)
      assert(r.getAs[String]("_raw_data") === """{"k":1}""")
      // the malformed-inner-props event landed in the DLQ with its raw payload
      assert(spark.read.parquet(dlq).count() === 1)
    } finally HttpIngest.stop(st.port)
  }

  test("full buffer sheds load with 503 instead of growing without bound") {
    val s = HttpIngest.getOrStart(0, Set.empty, maxBuffered = 2)
    try {
      def postTo(body: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}/ingest"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("X-API-Key", "any")
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(postTo("""{"a":1}""") === 202)
      assert(postTo("""{"a":2}""") === 202)
      assert(postTo("""{"a":3}""") === 503)
      // commit drains the buffer → capacity frees up
      s.truncate(2)
      assert(postTo("""{"a":4}""") === 202)
    } finally HttpIngest.stop(s.port)
  }

  test("recovered checkpoint offsets ahead of a fresh buffer rebase it (driver-restart safety)") {
    val s = HttpIngest.getOrStart(0, Set.empty)
    try {
      // arrivals between server start and query resume
      s.append(HttpIngest.Received("""{"pre":1}""", "k"))
      // resumed query hands the stream its checkpointed offset (5)
      // from before the restart — the fresh buffer must renumber
      // AFTER it, not alias into the already-committed range
      new HttpIngestMicroBatchStream(s.port, Set.empty).deserializeOffset("5")
      s.append(HttpIngest.Received("""{"post":2}""", "k"))
      assert(s.count === 7)
      assert(s.slice(5, 7).map(_.value).toSeq ===
        Seq("""{"pre":1}""", """{"post":2}"""),
        "pre-resume arrivals renumber after the recovered offset and stay deliverable")
      // committing the recovered range must not destroy them
      s.truncate(5)
      assert(s.slice(5, 7).length === 2)
    } finally HttpIngest.stop(s.port)
  }

  test("rebase survives post-restart arrivals OUTNUMBERING the recovered offset") {
    // review-caught data loss: with 6 fresh arrivals and checkpoint
    // offset 5, the old `offset > buffered` guard skipped the rebase
    // and the resumed committed range [0,5) swallowed the first five
    // NEW payloads
    val s = HttpIngest.getOrStart(0, Set.empty)
    try {
      (1 to 6).foreach(i => s.append(HttpIngest.Received(s"""{"n":$i}""", "k")))
      new HttpIngestMicroBatchStream(s.port, Set.empty).deserializeOffset("5")
      assert(s.count === 11, "6 fresh arrivals renumber after offset 5")
      assert(s.slice(5, 11).map(_.value).toSeq ===
        (1 to 6).map(i => s"""{"n":$i}"""),
        "every post-restart payload stays deliverable")
    } finally HttpIngest.stop(s.port)
  }

  test("a second concurrent stream on one endpoint is rejected (commit truncates shared state)") {
    val s = HttpIngest.getOrStart(0, Set.empty)
    try {
      val first = new HttpIngestMicroBatchStream(s.port, Set.empty)
      val ex = intercept[IllegalArgumentException] {
        new HttpIngestMicroBatchStream(s.port, Set.empty)
      }
      assert(ex.getMessage.contains("one stream per"))
      first.stop() // detach → a successor may attach (restart path)
      new HttpIngestMicroBatchStream(s.port, Set.empty).stop()
    } finally HttpIngest.stop(s.port)
  }

  test("commit truncates the driver buffer but offsets stay global (memory bound)") {
    val s = HttpIngest.getOrStart(0, Set.empty)
    try {
      s.append(HttpIngest.Received("""{"a":1}""", "k"))
      s.append(HttpIngest.Received("""{"b":2}""", "k"))
      s.append(HttpIngest.Received("""{"c":3}""", "k"))
      assert(s.count === 3)
      // what the stream's commit(end=2) does after a checkpointed batch
      new HttpIngestMicroBatchStream(s.port, Set.empty).commit(HttpIngestOffset(2))
      assert(s.count === 3, "count is a global offset, not a buffer size")
      assert(s.slice(0, 3).map(_.value).toSeq === Seq("""{"c":3}"""),
        "committed prefix is gone; requests below base clamp to what remains")
      assert(s.slice(2, 3).map(_.value).toSeq === Seq("""{"c":3}"""))
    } finally HttpIngest.stop(s.port)
  }

  /** The rows of each partition `stream` plans for `[from, until)`. */
  private def plan(stream: HttpIngestMicroBatchStream, from: Long,
                   until: Long): Array[Array[HttpIngest.Received]] =
    stream.planInputPartitions(HttpIngestOffset(from), HttpIngestOffset(until))
      .map(_.asInstanceOf[HttpIngestPartition].rows)

  test("a first attachment's own end offsets do not rebase the buffer (no re-delivery)") {
    // Spark deserializes each batch's end offset before commit; on a
    // fresh endpoint that offset was numbered by this stream, so it
    // must not be treated as a recovered checkpoint
    val s = HttpIngest.getOrStart(0, Set.empty)
    try {
      (1 to 3).foreach(i => s.append(HttpIngest.Received(s"""{"n":$i}""", "k")))
      val stream = new HttpIngestMicroBatchStream(s.port, Set.empty)
      assert(stream.latestOffset() === HttpIngestOffset(3))
      assert(plan(stream, 0, 3).flatten.map(_.value).toSeq === (1 to 3).map(i => s"""{"n":$i}"""))
      stream.commit(stream.deserializeOffset("3"))
      assert(s.count === 3, "the committed batch's own end offset left the numbering alone")
      val next = stream.latestOffset().asInstanceOf[HttpIngestOffset].n
      assert(plan(stream, 3, next).flatten.isEmpty, "nothing committed is delivered again")
      stream.stop()
    } finally HttpIngest.stop(s.port)
  }

  test("a fresh endpoint resumed from a committed checkpoint delivers every new row (fewer or more than committed, either trigger)") {
    // the checkpoint's last batch is committed, so nothing replays and
    // the resumed stream's first batch asks for the latest offset; the
    // recovered offset must rebase the fresh buffer before that
    def resume(committed: Int, fresh: Int, trigger: Trigger): Unit = {
      val ckpt = Files.createTempDirectory("graft-http-restart").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def run(p: Int): Unit = {
        val q = spark.readStream.format("http-ingest").option("port", p.toString).load()
          .writeStream.option("checkpointLocation", ckpt).trigger(trigger)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.select("value").collect().foreach(r => got.add(r.getString(0)))
          }.start()
        q.processAllAvailable()
        q.stop()
      }
      val before = HttpIngest.getOrStart(0, Set.empty)
      val p = before.port
      try {
        (1 to committed).foreach(i => before.append(HttpIngest.Received(s"""{"old":$i}""", "k")))
        run(p)
        assert(got.size === committed)
        got.clear()
        // a new endpoint incarnation on the same port: its next stream
        // is a first attachment, like a fresh driver JVM's
        HttpIngest.stop(p)
        val after = HttpIngest.getOrStart(p, Set.empty)
        (1 to fresh).foreach(i => after.append(HttpIngest.Received(s"""{"new":$i}""", "k")))
        run(p)
        assert(got.toArray(Array.empty[String]).toSeq.sorted === (1 to fresh).map(i => s"""{"new":$i}""").sorted,
          s"$trigger, $committed committed, $fresh fresh: every post-restart row arrives once")
        assert(after.count === committed + fresh)
      } finally HttpIngest.stop(p)
    }
    for (t <- Seq(Trigger.ProcessingTime(0L), Trigger.AvailableNow())) {
      resume(committed = 5, fresh = 3, t)
      resume(committed = 3, fresh = 5, t)
    }
  }

  test("50 keep-alive POSTs on one connection are acked well under the Nagle floor") {
    // each ack used to wait ~40 ms for the client's delayed ACK (about
    // 2.2 s for 50); the bound leaves room for a slow machine
    val s = HttpIngest.getOrStart(0, Set.empty)
    val sock = new Socket("127.0.0.1", s.port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(5000)
      val in: InputStream = new BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      val body = """{"a":1}"""
      val req = (s"POST /ingest HTTP/1.1\r\nHost: 127.0.0.1:${s.port}\r\nX-API-Key: k\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body").getBytes(StandardCharsets.US_ASCII)
      def readLine(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      def roundTrip(): Int = {
        out.write(req)
        out.flush()
        val status = readLine().split(' ')(1).toInt
        var len = 0L
        var h = readLine()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) len = h.substring(15).trim.toLong
          h = readLine()
        }
        in.skipNBytes(len)
        status
      }
      val t0 = System.nanoTime()
      val statuses = Seq.fill(50)(roundTrip())
      val ms = (System.nanoTime() - t0) / 1e6
      assert(statuses.forall(_ == 202))
      assert(s.count === 50, "all 50 POSTs went over the one connection and were buffered")
      assert(ms < 1000, f"50 keep-alive POSTs took $ms%.0f ms")
    } finally {
      sock.close()
      HttpIngest.stop(s.port)
    }
  }

  test("a batch plans contiguous in-order slices of at least the floor, at most defaultParallelism") {
    val floor = HttpIngestMicroBatchStream.SliceFloorRows
    val dp = spark.sparkContext.defaultParallelism
    assume(dp >= 2, "splitting needs defaultParallelism >= 2")
    val k = math.min(3, dp)
    val total = 2 * dp * floor
    val s = HttpIngest.getOrStart(0, Set.empty, maxBuffered = total)
    try {
      (0 until total).foreach(i => s.append(HttpIngest.Received(s"""{"n":$i}""", "k")))
      val stream = new HttpIngestMicroBatchStream(s.port, Set.empty)

      // k x floor rows: k slices, in offset order, together the whole range
      val split = plan(stream, 10, 10 + k * floor)
      assert(split.length === k)
      assert(split.forall(_.nonEmpty))
      assert(split.flatten.toSeq === s.slice(10, 10 + k * floor).toSeq)
      // twice defaultParallelism floors: capped at defaultParallelism
      val capped = plan(stream, 0, total)
      assert(capped.length === dp)
      assert(capped.flatten.toSeq === s.slice(0, total).toSeq)
      // below the floor: one partition
      val small = plan(stream, 0, floor - 1)
      assert(small.length === 1)
      assert(small.head.toSeq === s.slice(0, floor - 1).toSeq)
      // an empty range: one empty partition
      val empty = plan(stream, 7, 7)
      assert(empty.length === 1)
      assert(empty.head.isEmpty)
      stream.stop()
    } finally HttpIngest.stop(s.port)
  }
}
