package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}

import graft.operators.IngestPipeline

/** The reference's streaming ETL pipeline (SURVEY §2: S3/S4 sources,
  * K1-K3 sinks, D1-D3/D5-D7 delivery semantics), re-expressed as one
  * Structured Streaming query.
  *
  * Delivery contract (the union of the two reference consumers,
  * SURVEY §7.4):
  *  - parse failures are diverted to a DLQ, never fail the batch —
  *    offsets advance even when EVERY record is malformed
  *    (`consumer2/.../MessageProcessor.kt:48-52`, D3);
  *  - sink failures rethrow out of `foreachBatch`, so the checkpoint
  *    does NOT commit and the batch is replayed on restart —
  *    at-least-once commit-after-write
  *    (`consumer/.../IngestKafkaListener.kt:51-60`, D1/D2);
  *  - empty micro-batches short-circuit before touching the sink
  *    (`IngestKafkaListener.kt:33-36`, F7).
  */
object IngestStream {

  /** S3/S4: the Kafka source, configured like the reference's
    * consumers (`ingest-topic`, earliest, bounded batches ≈ the
    * 100-record/5 s hybrid flush via maxOffsetsPerTrigger + the
    * processing-time trigger in [[start]]). Compiles without the
    * connector jar; requires spark-sql-kafka on the cluster
    * classpath at runtime.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String,
                  topic: String = "ingest-topic",
                  maxOffsetsPerTrigger: Long = 100L): DataStreamReader =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)

  /** The event-envelope schema the reference's publisher forwards
    * verbatim to Kafka and its consumers decode
    * (`publisher/README.md` walkthrough; `MessageProcessor.kt`
    * typed decode): the full event record, inner `props` as an
    * escaped JSON string.
    */
  val envelopeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props",
        org.apache.spark.sql.types.StringType)))

  /** Raw JSON payloads (one column) → the ingest envelope the rest
    * of the pipeline consumes — the Spark analog of the consumers'
    * typed decode. Routing mirrors the reference:
    *  - valid envelope → its columns (missing keys → NULL fields,
    *    like the consumer's lenient column mapping);
    *  - payload that is not valid JSON at all → the raw bytes ride
    *    in `props`, so [[IngestPipeline.parse]]'s strict gate lands
    *    them in the DLQ (the decode-failure skip of
    *    `MessageProcessor.kt:64-71`);
    *  - valid envelope with no `props` → NULL props, which the DLQ's
    *    null-payload branch collects (F3/F6 — never silently
    *    dropped).
    */
  def fromEnvelope(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.select(from_json(col(valueCol), envelopeSchema).as("e"), col(valueCol).as("_raw"))
      .select(
        col("e.event_id"), col("e.user_id"), col("e.event_type"), col("e.value"),
        coalesce(col("e.props"),
          when(!graft.functions.GraftFunctions.jsonIsValid(col("_raw")), col("_raw")))
          .as("props"))

  /** Kafka wire format → the ingest envelope. The record value
    * carries the full event JSON (the reference publishes the raw
    * request body, `handler.go:81`, with nil key); decoding it to
    * (user_id, props) alone once broke the downstream projection,
    * which needs every envelope column — review-caught, hence the
    * shared [[fromEnvelope]].
    */
  def fromKafka(kafka: DataFrame): DataFrame =
    fromEnvelope(kafka.selectExpr("CAST(value AS STRING) AS value"))

  /** One micro-batch of the ingest contract: split the batch into
    * accepted / DLQ, append both as parquet. Any sink failure
    * propagates (→ no offset commit → replay).
    *
    * Execution model: the batch's fixed cost is its sink, so the two
    * writes run at the same time over the cached parse — the accepted
    * write on the caller's thread, the DLQ write as a second Spark job
    * on a daemon helper thread. The helper is started from the caller,
    * so it inherits its local properties: inside a stream that is the
    * query's job group (`q.stop()` cancels the DLQ job too) and its
    * batch id. The helper is always joined before `unpersist` — also
    * when the caller is interrupted, in which case it interrupts the
    * helper first — and the first failure is thrown only after both
    * writes have finished, so commit-after-write (D1/D2) and the DLQ
    * contract (D3) hold as with sequential writes.
    *
    * Both writes (and the F7 probe) are planned with adaptive query
    * execution off: their only exchange is the API-key broadcast, so
    * AQE has nothing to adapt and only adds a query-stage round per
    * write (the cached parse and the broadcast as separate jobs, then
    * a re-optimization). AQE's planner rule reads the SESSION's conf,
    * not a thread-scoped one, so the switch is set on the batch's
    * session for the call and restored exactly afterwards. Inside a
    * stream that session is the query's own clone, used only by this
    * call; a direct call on a shared session turns AQE off for that
    * session's other threads while it runs. Every job carries a
    * `spark.job.description` label ("empty-batch probe", "accepted
    * write", "DLQ write") after the caller's own description, which
    * is restored afterwards.
    */
  def processBatch(batch: DataFrame, keys: DataFrame, outDir: String,
                   dlqDir: String, receivedAt: Option[Column]): Unit = {
    val sc = batch.sparkSession.sparkContext
    def phase[T](label: String)(body: => T): T = {
      val own = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Option(own).fold(label)(d => s"$d\n$label"))
      try body finally sc.setJobDescription(own)
    }
    withoutAqe(batch.sparkSession) {
      if (!phase("empty-batch probe")(batch.isEmpty)) { // F7: empty-batch short-circuit
        val parsed = IngestPipeline.parse(batch).cache()
        val failures = new ConcurrentLinkedQueue[Throwable]()
        def write(label: String)(body: => Unit): Unit =
          try phase(label)(body) catch { case t: Throwable => failures.add(t) }
        try {
          // D3: malformed rows land in the DLQ and the batch still
          // succeeds — poison messages are never re-polled forever.
          val dlqWriter = new Thread(() => write("DLQ write") {
            IngestPipeline.rejectedMalformed(parsed).write.mode("append").parquet(dlqDir)
          }, DlqWriterThread)
          dlqWriter.setDaemon(true)
          dlqWriter.start()
          write("accepted write") {
            IngestPipeline
              .enriched(
                IngestPipeline.admitted(
                  IngestPipeline.validated(parsed, keys)),
                receivedAt)
              .write.mode("append").parquet(outDir)
          }
          joinFully(dlqWriter)
        } finally parsed.unpersist()
        Option(failures.poll()).foreach { first =>
          failures.forEach(first.addSuppressed(_))
          throw first
        }
      }
    }
  }

  /** Run `body` with adaptive query execution off in `spark`'s conf,
    * then restore the setting exactly (set or unset) as it was. */
  private def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.asInstanceOf[ClassicSession].sessionState.conf
    val key = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val own = if (conf.contains(key)) Some(conf.getConfString(key)) else None
    conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    try body finally own.fold(conf.unsetConf(key))(conf.setConfString(key, _))
  }

  /** Name of [[processBatch]]'s DLQ helper thread. */
  private[streaming] val DlqWriterThread = "graft-ingest-dlq-writer"

  /** Join `t` even when this thread is interrupted (`q.stop()`):
    * interrupt `t` as well, keep waiting, then restore the flag. */
  private[streaming] def joinFully(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join()
      catch { case _: InterruptedException => interrupted = true; t.interrupt() }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Start the checkpointed streaming query. The trigger mirrors the
    * reference's 5 s flush; pair with `maxOffsetsPerTrigger` on the
    * source for the 100-record bound (D7 backpressure).
    */
  def start(source: DataFrame, keys: DataFrame, outDir: String,
            dlqDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            receivedAt: Option[Column] = None,
            queryName: String = "graft-ingest"): StreamingQuery =
    source.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, keys, outDir, dlqDir, receivedAt)
      }
      .start()

  /** D5: poll-error retry with backoff — restart the query from its
    * checkpoint on failure (the Spark analog of
    * `KafkaMessageConsumer.kt:68-72`'s log-delay-continue loop).
    * Returns when the query stops cleanly or retries are exhausted
    * (rethrows the last failure).
    */
  def runWithRetry(mkQuery: () => StreamingQuery, maxRetries: Int = 3,
                   backoffMs: Long = 5000L): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      val q = mkQuery()
      try {
        q.awaitTermination()
        done = true
      } catch {
        // shutdown intent is not a poll error: restore the flag and
        // propagate instead of restarting against it
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        // NonFatal only — retrying on OutOfMemoryError/LinkageError
        // would restart against a broken JVM (review-caught)
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(backoffMs)
      }
    }
  }

  /** D6: graceful shutdown — drain, then stop, then wait.
    *
    * `StreamingQuery.stop()` INTERRUPTS an active micro-batch (its
    * uncommitted writes abort and replay on restart), so this first
    * waits for the current trigger to go idle — best-effort: a
    * trigger can slip in between the idle check and `stop()`, in
    * which case that batch replays, which at-least-once semantics
    * already tolerate. Returns true iff the query fully terminated
    * within `timeoutMs` (callers about to exit the JVM should check —
    * a false means the stream thread is still winding down).
    */
  def stopGracefully(q: StreamingQuery, timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (q.status.isTriggerActive && System.nanoTime() < deadline)
      Thread.sleep(50L)
    q.stop()
    q.awaitTermination(math.max((deadline - System.nanoTime()) / 1000000L, 1L))
  }
}
