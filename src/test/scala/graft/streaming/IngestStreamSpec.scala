package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** D1-D3 delivery-semantics tests on a MemoryStream source (no Kafka
  * broker needed — the contract is source-agnostic), mirroring
  * `MessageProcessorTest.kt:30-128` and `IngestKafkaListener.kt:51-60`.
  */
case class RawEvent(event_id: Long, user_id: Long, event_type: String,
                    value: Double, props: String)

class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def keysDf =
    Seq(1L, 2L, 3L).toDF("api_key")

  private val validRows = Seq(
    RawEvent(1L, 1L, "click", 1.0, """{"k": 1}"""),
    RawEvent(2L, 2L, "view", 2.0, """{"k": 2}"""))
  private val malformedRows = Seq(
    RawEvent(3L, 3L, "click", 3.0, """{"k": }"""),
    RawEvent(4L, 3L, "click", 4.0, """not json"""))

  test("micro-batch splits accepted vs DLQ and commits (D3: parse failures never block)") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    ms.addData(validRows ++ malformedRows)
    val q = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
      Trigger.AvailableNow(), Some(lit(0L)))
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 2)
    assert(spark.read.parquet(dlq).count() === 2)
  }

  test("all-malformed batch still commits and the stream advances (MessageProcessor.kt:48-52)") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    ms.addData(malformedRows)
    val q1 = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
      Trigger.AvailableNow(), Some(lit(0L)))
    q1.awaitTermination(60000)
    assert(spark.read.parquet(dlq).count() === 2)
    // batch committed: a restart from the same checkpoint must NOT
    // re-deliver the malformed rows
    val q2 = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
      Trigger.AvailableNow(), Some(lit(0L)))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(dlq).count() === 2)
  }

  test("sink failure prevents offset commit; restart replays the batch (D1/D2 commit-after-write)") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    ms.addData(validRows)
    val failOnce = new AtomicBoolean(true)
    def startFlaky() = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (failOnce.getAndSet(false)) sys.error("simulated sink outage")
        IngestStream.processBatch(batch, keysDf, out, dlq, Some(lit(0L)))
      }
      .start()
    val q1 = startFlaky()
    intercept[Exception] { q1.awaitTermination(60000) }
    // nothing was committed — the replayed batch must write all rows
    val q2 = startFlaky()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 2)
  }

  test("empty batch short-circuits without creating sink output (F7)") {
    val (out, dlq) = (tmp(), tmp())
    val empty = Seq.empty[RawEvent].toDF()
    IngestStream.processBatch(empty, keysDf, out, dlq, Some(lit(0L)))
    assert(!Files.list(java.nio.file.Paths.get(out)).findFirst().isPresent)
  }

  test("ingested output answers the reference's integration queries (count / filter+sort / order by ingest time)") {
    // mirrors ClickHouseRepositoryIntegrationTest.kt:110,168,212 —
    // the full loop: stream in, then query the sink like ClickHouse
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    ms.addData(
      RawEvent(3L, 1L, "view", 30.0, """{"k": 3}"""),
      RawEvent(1L, 1L, "click", 10.0, """{"k": 1}"""),
      RawEvent(2L, 2L, "click", 20.0, """{"k": 2}"""),
      RawEvent(4L, 3L, "click", 40.0, """not json"""))
    val q = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
      Trigger.AvailableNow(), Some(lit(777L)))
    q.awaitTermination(60000)

    val t = spark.read.parquet(out)
    // Q1: count()
    assert(t.count() === 3)
    // Q2: equality filter + sort
    val clicks = t.filter(col("event_type") === "click")
      .orderBy(col("event_id"))
      .select(col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(clicks === Seq((1L, 10.0), (2L, 20.0)))
    // Q3: projection + sort by ingest-time enrichment column
    assert(t.orderBy(col("received_at"), col("event_id"))
      .select(col("k")).collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    // and the DLQ holds exactly the malformed payload
    assert(spark.read.parquet(dlq).count() === 1)
  }

  test("runWithRetry restarts a failing query and finishes within the retry budget (D5)") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    ms.addData(validRows)
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    IngestStream.runWithRetry(() => ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (failures.getAndDecrement() > 0) sys.error("flaky")
        IngestStream.processBatch(batch, keysDf, out, dlq, Some(lit(0L)))
      }
      .start(), maxRetries = 3, backoffMs = 10L)
    assert(spark.read.parquet(out).count() === 2)
  }

  test("fromEnvelope routes wire payloads like the reference consumer's typed decode") {
    // the Kafka value (and the HTTP source's value column) carry the
    // FULL event JSON; fromEnvelope must hand the pipeline every
    // envelope column — its (user_id, props)-only predecessor broke
    // the downstream projection (review-caught)
    val wire = Seq(
      // valid envelope, valid inner props → accepted downstream
      """{"event_id":1,"user_id":10,"event_type":"click","value":1.5,"props":"{\"k\":1}"}""",
      // valid envelope, malformed inner props → DLQ (F4 via parse)
      """{"event_id":2,"user_id":10,"event_type":"view","value":2.0,"props":"{\"k\": }"}""",
      // envelope not JSON at all → raw bytes ride in props → DLQ
      """garbage not json""",
      // valid envelope, props missing → NULL props → DLQ's
      // null-payload branch (F3/F6), raw retention empty
      """{"event_id":4,"user_id":10,"event_type":"view","value":4.0}"""
    ).toDF("value")
    val env = IngestStream.fromEnvelope(wire)
    assert(env.columns.toSeq ===
      Seq("event_id", "user_id", "event_type", "value", "props"))
    val keys = Seq(10L).toDF("api_key")
    val parsed = graft.operators.IngestPipeline.parse(env)
    val accepted = graft.operators.IngestPipeline.enriched(
      graft.operators.IngestPipeline.admitted(
        graft.operators.IngestPipeline.validated(parsed, keys)),
      Some(lit(0L)))
    assert(accepted.select("event_id").as[Long].collect().toSeq === Seq(1L))
    val dlqRaw = graft.operators.IngestPipeline.rejectedMalformed(parsed)
      .select(graft.operators.IngestPipeline.corruptCol).as[String].collect().toSet
    // the two corrupt payloads retain their raw bytes; the
    // null-props envelope rides the DLQ's null-payload branch
    assert(dlqRaw === Set("""{"k": }""", "garbage not json", null))
  }

  /** A path that exists as a regular file, so a parquet write to it fails. */
  private def regularFile(): String =
    Files.createTempFile("graft-stream", ".blocker").toString

  private def eventIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("event_id").as[Long].collect().toSet

  test("a failing write fails the batch only after the other write finished; the restart replays it") {
    Seq("accepted", "dlq").foreach { failing =>
      val (ckpt, blocker) = (tmp(), regularFile())
      val out = if (failing == "accepted") blocker else tmp()
      val dlq = if (failing == "dlq") blocker else tmp()
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[RawEvent]
      ms.addData(validRows ++ malformedRows)
      val q1 = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
        Trigger.AvailableNow(), Some(lit(0L)))
      intercept[Exception] { q1.awaitTermination(60000) }
      // the write that did not fail ran to completion before the
      // query failed
      if (failing == "accepted") assert(eventIds(dlq) === Set(3L, 4L))
      else assert(eventIds(out) === Set(1L, 2L))
      // nothing committed: the restart replays the batch into both sinks
      Files.delete(java.nio.file.Paths.get(blocker))
      val q2 = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
        Trigger.AvailableNow(), Some(lit(0L)))
      q2.awaitTermination(60000)
      assert(q2.exception.isEmpty, s"failing $failing")
      assert(eventIds(out) === Set(1L, 2L), s"failing $failing")
      assert(eventIds(dlq) === Set(3L, 4L), s"failing $failing")
    }
  }

  test("every job processBatch launches in a stream carries the query's job group and a phase label") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    val labels = Seq("empty-batch probe", "accepted write", "DLQ write")
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val desc = Option(p.getProperty("spark.job.description")).getOrElse("")
          if (labels.exists(l => desc.endsWith("\n" + l)))
            jobs.add(desc -> p.getProperty("spark.jobGroup.id"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[RawEvent]
      ms.addData(validRows ++ malformedRows)
      val q = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
        Trigger.AvailableNow(), Some(lit(0L)))
      q.awaitTermination(60000)
      val runId = q.runId.toString
      eventually(timeout(Span(20, Seconds))) {
        val seen = jobs.asScala.toSeq
        assert(labels.forall(l => seen.exists(_._1.endsWith(l))), seen)
        assert(seen.forall(_._2 == runId), seen)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("after q.stop() no processBatch helper thread is alive") {
    val (out, dlq, ckpt) = (tmp(), tmp(), tmp())
    def helpers() = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == IngestStream.DlqWriterThread && t.isAlive)
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawEvent]
    val q = IngestStream.start(ms.toDF(), keysDf, out, dlq, ckpt,
      Trigger.ProcessingTime(0L), Some(lit(0L)))
    try {
      // keep batches coming until a helper is caught mid-write, then
      // stop the query under it
      var caught = false
      val deadline = System.nanoTime() + 60L * 1000000000L
      var i = 0L
      while (!caught && System.nanoTime() < deadline) {
        ms.addData((validRows ++ malformedRows).map(r => r.copy(event_id = r.event_id + 10 * i)))
        i += 1
        val pollUntil = System.nanoTime() + 200L * 1000000L
        while (!caught && System.nanoTime() < pollUntil) {
          caught = helpers().nonEmpty
          if (!caught) Thread.sleep(2L)
        }
      }
      assert(caught, "no DLQ helper thread seen while the stream ran")
    } finally q.stop()
    assert(helpers().isEmpty)
  }

  test("joinFully waits out the helper through an interrupt, interrupts it, and restores the flag") {
    val helperInterrupted = new AtomicBoolean(false)
    val helper = new Thread(() => {
      val end = System.nanoTime() + 300L * 1000000L
      while (System.nanoTime() < end)
        try Thread.sleep(5L) catch { case _: InterruptedException => helperInterrupted.set(true) }
    })
    helper.start()
    @volatile var helperAliveAfter = true
    @volatile var flagAfter = false
    val caller = new Thread(() => {
      IngestStream.joinFully(helper)
      helperAliveAfter = helper.isAlive
      flagAfter = Thread.currentThread().isInterrupted
    })
    caller.start()
    Thread.sleep(50L)
    caller.interrupt()
    caller.join(10000L)
    assert(!helperAliveAfter, "joinFully returned before the helper ended")
    assert(helperInterrupted.get, "the helper was not interrupted")
    assert(flagAfter, "the caller's interrupt flag was not restored")
  }

  test("a direct processBatch call leaves the caller's AQE setting and job description unchanged and plans its writes without AQE") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "command") plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val sc = spark.sparkContext
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set(key, aqe)
      plans.clear()
      val (out, dlq) = (tmp(), tmp())
      sc.setJobDescription("caller's own")
      IngestStream.processBatch((validRows ++ malformedRows).toDF(), keysDf, out, dlq, Some(lit(0L)))
      assert(spark.conf.get(key) === aqe)
      assert(sc.getLocalProperty("spark.job.description") === "caller's own")
      assert(eventIds(out) === Set(1L, 2L))
      assert(eventIds(dlq) === Set(3L, 4L))
      eventually(timeout(Span(20, Seconds))) {
        val written = plans.asScala.toSeq.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
        assert(written.size === 2, plans)
        assert(written.forall(!_.contains("AdaptiveSparkPlan")), written)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, before)
      sc.setJobDescription(null)
    }
  }
}
