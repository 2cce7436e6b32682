package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 — the HTTP ingest endpoint as a Structured Streaming SOURCE
  * (`spark.readStream.format("http-ingest").option("port", …)`):
  * a custom DSv2 `MicroBatchStream` over the JDK's built-in
  * `com.sun.net.httpserver` (zero extra dependencies).
  *
  * Request semantics mirror the reference publisher's handler
  * (`publisher/internal/api/handler.go:30-93`), checks in the same
  * cheapest-first order:
  *   - non-POST → 405 (F8 method guard, `handler.go:32-35`)
  *   - missing `X-API-Key` → 401 (F1, `handler.go:38-43`)
  *   - key not in the configured active set → 401 (F2, `:46-56`)
  *   - empty body → 400 (F3, `:67-71`)
  *   - invalid JSON (strict, Go `json.Valid` semantics via
  *     [[org.apache.spark.sql.graft.JsonIsValid]]) → 400 (F4, `:74-78`)
  *   - accepted → **202 "queued"** — the same at-most-once edge as
  *     the reference's async publish (`handler.go:89-92`): the
  *     payload is buffered in the driver, and durability starts at
  *     the FIRST checkpointed micro-batch commit, exactly like the
  *     reference's durability starting at the Kafka broker. From the
  *     first commit onward the stream is at-least-once.
  *
  * Execution model: the server + buffer live on the driver (the same
  * design as Spark's socket source); each micro-batch ships its rows
  * to executors as contiguous, in-order slices, one per
  * `InputPartition`, so a large batch parses on up to
  * `defaultParallelism` cores (see
  * [[HttpIngestMicroBatchStream.SliceFloorRows]]). `commit(end)` truncates
  * the buffer, bounding driver memory to in-flight batches. This is
  * an ingest-edge source — the Kafka source remains the bulk path;
  * at 100 TB you run many of these behind a load balancer, each
  * feeding the same checkpointed pipeline.
  */
object HttpIngest {

  val schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("api_key", StringType, nullable = false)))

  final case class Received(value: String, apiKey: String)

  /** One running endpoint: HTTP server + offset-addressed buffer.
    * `maxBuffered` bounds driver memory between commits: when the
    * stream isn't draining fast enough the endpoint sheds load with
    * 503 instead of growing without bound — the backpressure analog
    * of the reference's bounded Kafka producer queue.
    */
  final class State(val server: HttpServer, validKeys: Set[String],
                    val maxBuffered: Int = 100000) {
    val port: Int = server.getAddress.getPort
    private val buf = ArrayBuffer.empty[Received]
    private var base = 0L // global offset of buf(0)

    /** false when the buffer is full (caller responds 503). */
    def append(r: Received): Boolean = synchronized {
      if (buf.size >= maxBuffered) false
      else { buf += r; true }
    }
    def count: Long = synchronized { base + buf.size }
    def slice(from: Long, until: Long): Array[Received] = synchronized {
      val s = math.max(from - base, 0L).toInt
      val u = math.max(until - base, 0L).toInt
      buf.slice(s, u).toArray
    }
    /** Drop everything below `upTo` — called on checkpoint commit. */
    def truncate(upTo: Long): Unit = synchronized {
      val n = math.max(math.min(upTo - base, buf.size.toLong), 0L).toInt
      buf.remove(0, n)
      base += n
    }

    private var totalAttachments = 0
    private var activeAttachment = false

    /** Register a stream attaching to this endpoint. EXCLUSIVE:
      * `commit()` truncates the shared buffer, so a second concurrent
      * stream would silently lose whatever the first commits —
      * rejected outright. Returns true iff this is the FIRST stream
      * this endpoint incarnation has ever served (the signal
      * [[rebaseTo]] needs to tell a fresh-JVM recovery from a
      * same-JVM restart).
      */
    def attach(): Boolean = synchronized {
      require(!activeAttachment,
        s"port $port already serves an active stream — one stream per " +
          "endpoint (commit() truncates the shared buffer)")
      activeAttachment = true
      totalAttachments += 1
      totalAttachments == 1
    }
    def detach(): Unit = synchronized { activeAttachment = false }

    /** Adopt a recovered checkpoint offset.
      *
      * `firstAttachment` (fresh-JVM recovery — no stream of this
      * endpoint incarnation ever numbered the buffer): EVERYTHING
      * buffered arrived after the restart, so the base shifts to any
      * recovered offset ahead of it and the buffered payloads
      * renumber AFTER the checkpoint — the recovered committed range
      * can never swallow them, regardless of how many arrived
      * (a `offset > buffered` guard here once lost the first
      * `offset` post-restart payloads whenever arrivals outran the
      * checkpoint — review-caught). Payloads accepted by the
      * PREVIOUS process but never committed are lost: the same
      * at-most-once edge as the reference's 202-on-enqueue;
      * durability starts at the first checkpointed commit.
      *
      * Same-JVM restart (the endpoint kept running while the query
      * bounced): buffered rows retain their numbering — they may BE
      * the uncommitted batch the resumed query must replay — so only
      * an offset beyond everything this incarnation has numbered
      * (impossible unless the checkpoint outlived the server) moves
      * the base.
      */
    def rebaseTo(offset: Long, firstAttachment: Boolean): Unit = synchronized {
      if (firstAttachment) {
        if (offset > base) base = offset
      } else if (offset > base + buf.size) {
        base = offset
      }
    }
    def keyValid(k: String): Boolean = validKeys.isEmpty || validKeys(k)
    def stop(): Unit = server.stop(0)
  }

  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  // one server per port per driver JVM; streams attach by port
  private val states = new ConcurrentHashMap[Int, State]()

  /** Start (or reuse) the endpoint on `port` (0 = ephemeral; the
    * bound port is in the returned state). `validKeys` empty = any
    * present key accepted (auth delegated to the in-stream semi-join).
    *
    * FIRST-CREATOR-WINS: if a server already runs on `port`, it is
    * returned as-is — `validKeys`/`maxBuffered` from later callers
    * (e.g. a stream attaching by port) are ignored, because auth and
    * buffering are properties of the ENDPOINT, owned by whoever
    * started it. Synchronized so concurrent starts of the same port
    * can't race into a BindException.
    *
    * Acks go out without Nagle's delay: before the first
    * `HttpServer.create` this sets the JVM-global system property
    * `sun.net.httpserver.nodelay=true`, unless something already set
    * it. Without it the server writes a response's headers and body as
    * two segments, and the body waits for the client's delayed ACK
    * (about 40 ms per request on keep-alive connections). The JDK reads
    * the property once, when its server configuration class loads, so
    * it applies to every `com.sun.net.httpserver` server in this JVM,
    * and an explicit value (either way) set earlier is left alone.
    */
  def getOrStart(port: Int, validKeys: Set[String] = Set.empty,
                 maxBuffered: Int = 100000): State = synchronized {
    if (port != 0) {
      val existing = states.get(port)
      if (existing != null) return existing
    }
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val state = new State(server, validKeys, maxBuffered)
    server.createContext("/ingest", (ex: HttpExchange) => handle(state, ex))
    server.setExecutor(null)
    server.start()
    states.put(state.port, state)
    state
  }

  def stop(port: Int): Unit = {
    val s = states.remove(port)
    if (s != null) s.stop()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(state: State, ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") { respond(ex, 405, "method not allowed"); return }
      val key = ex.getRequestHeaders.getFirst("X-API-Key")
      if (key == null || key.isEmpty) { respond(ex, 401, "missing API key"); return }
      if (!state.keyValid(key)) { respond(ex, 401, "invalid API key"); return }
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (body.isEmpty) { respond(ex, 400, "empty body"); return }
      if (!org.apache.spark.sql.graft.JsonIsValid.isValid(body)) {
        respond(ex, 400, "invalid JSON"); return
      }
      if (!state.append(Received(body, key))) {
        respond(ex, 503, "buffer full, retry later"); return
      }
      respond(ex, 202, "queued")
    } catch {
      // best-effort 500: if headers already went out (e.g. the client
      // dropped mid-write of a 202 whose payload IS buffered), a
      // second sendResponseHeaders would throw IllegalStateException
      // out of the dispatcher — swallow and just close
      case e: Exception =>
        try respond(ex, 500, s"internal error: ${e.getMessage}")
        catch { case _: Exception => ex.close() }
    }
}

case class HttpIngestOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

case class HttpIngestPartition(rows: Array[HttpIngest.Received]) extends InputPartition

object HttpIngestReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[HttpIngestPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(rows(i).value),
        UTF8String.fromString(rows(i).apiKey)))
      override def close(): Unit = ()
    }
  }
}

class HttpIngestMicroBatchStream(port: Int, validKeys: Set[String],
                                 maxBuffered: Int = 100000)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val state = HttpIngest.getOrStart(port, validKeys, maxBuffered)
  // exclusive attachment; true iff no earlier stream of this endpoint
  // incarnation numbered the buffer (fresh-JVM recovery)
  private val firstAttachment = state.attach()
  // set by the first latestOffset: from then on every offset Spark
  // hands back was numbered by this stream, not recovered
  @volatile private var numbered = false

  override def initialOffset(): Offset = HttpIngestOffset(0L)
  override def latestOffset(): Offset = {
    numbered = true
    HttpIngestOffset(state.count)
  }
  // SupportsAdmissionControl only for its call order: Spark hands this
  // form the start offset, deserialized, so on every recovery path the
  // recovered offset reaches deserializeOffset before the first
  // latestOffset (the plain form is called first when the checkpoint's
  // last batch was committed). No read limit: a batch takes all rows.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()
  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    // a checkpointed offset from a previous incarnation: rebase so
    // new arrivals number after it and the recovered range can never
    // swallow them (see State.rebaseTo for the two restart cases).
    // Recovery deserializes before the first latestOffset; later calls
    // (Spark deserializes each batch's end offset before commit) carry
    // this stream's own numbering and must not rebase.
    if (!numbered) state.rebaseTo(n, firstAttachment)
    HttpIngestOffset(n)
  }
  /** The range as contiguous slices in offset order: one per
    * [[HttpIngestMicroBatchStream.SliceFloorRows]] rows, at most the
    * session's `defaultParallelism`, at least one (an empty range
    * plans one empty partition). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val rows = state.slice(
      start.asInstanceOf[HttpIngestOffset].n,
      end.asInstanceOf[HttpIngestOffset].n)
    val n = rows.length
    val byFloor = n / HttpIngestMicroBatchStream.SliceFloorRows
    val k = if (byFloor < 2) 1
      else math.min(byFloor, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](k)(i =>
      HttpIngestPartition(rows.slice((i.toLong * n / k).toInt, ((i + 1).toLong * n / k).toInt)))
  }
  override def createReaderFactory(): PartitionReaderFactory = HttpIngestReaderFactory
  override def commit(end: Offset): Unit =
    state.truncate(end.asInstanceOf[HttpIngestOffset].n)
  // release the exclusive attachment; server lifetime stays owned by
  // HttpIngest.stop
  override def stop(): Unit = state.detach()
}

object HttpIngestMicroBatchStream {
  /** Rows per slice: a batch splits only into slices of at least this
    * many rows, so small batches stay one partition and one task. */
  val SliceFloorRows = 4096
}

class HttpIngestTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  // required for the declarative path: defaulting to 0 would silently
  // bind an ephemeral port nobody is told about (a stream reading
  // nothing, plus a leaked server per restart). Ephemeral ports are
  // for the programmatic HttpIngest.getOrStart(0) flow, which returns
  // the bound port.
  require(options.containsKey("port"),
    "http-ingest requires .option(\"port\", <n>) — use " +
      "HttpIngest.getOrStart(0) first if you want an ephemeral port")
  private def port: Int = options.getInt("port", 0)
  private def validKeys: Set[String] =
    Option(options.get("validKeys")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  override def name(): String = s"http-ingest:$port"
  override def schema(): StructType = HttpIngest.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = HttpIngest.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new HttpIngestMicroBatchStream(port, validKeys,
            options.getInt("maxBuffered", 100000))
      }
    }
}

/** `spark.readStream.format("http-ingest")` (registered via
  * META-INF/services) or the fully-qualified class name.
  */
class HttpIngestTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "http-ingest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpIngest.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new HttpIngestTable(new CaseInsensitiveStringMap(properties))
}
