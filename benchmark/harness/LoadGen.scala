package graftbench

import java.io.{BufferedInputStream, BufferedReader, File, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** One generated envelope, as `inputs.py` writes it: a line
  * `<class>\t<event_id>\t<body>`. The class fixes the API key the
  * envelope is sent with and the HTTP status the endpoint must answer. */
final case class Envelope(cls: Char, id: Long, body: String) {
  def apiKey: String = if (cls == Envelope.BadKey) Envelope.RevokedKey else Envelope.ValidKey
  def expectStatus: Int = cls match {
    case Envelope.BadJson => 400
    case Envelope.BadKey => 401
    case _ => 202
  }
}

object Envelope {
  val Valid = 'V'
  val UnknownUser = 'U'
  val Malformed = 'M'
  val BadJson = 'J'
  val BadKey = 'K'
  val ValidKey = "bench-key-1"
  val RevokedKey = "bench-key-revoked"

  def parse(line: String): Envelope = {
    val a = line.indexOf('\t')
    val b = line.indexOf('\t', a + 1)
    Envelope(line.charAt(0), line.substring(a + 1, b).toLong, line.substring(b + 1))
  }
  def readAll(file: String): IndexedSeq[Envelope] =
    Files.readAllLines(Paths.get(file), StandardCharsets.UTF_8).asScala.iterator
      .filter(_.nonEmpty).map(parse).toIndexedSeq
}

/** Outcome of one POST, in raw `System.nanoTime` readings of the
  * load-generator process. `status` is -1 on timeout or I/O error. */
final case class Sent(idx: Int, dueNano: Long, sendNano: Long, ackNano: Long, status: Int)

/** Minimal HTTP/1.1 client over one keep-alive socket: the generator
  * owns its connections so it can time each request from the moment it
  * was due, without a client library's pooling in between. */
final class KeepAliveClient(port: Int, timeoutMs: Int) {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _

  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(timeoutMs)
    sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
    in = new BufferedInputStream(sock.getInputStream)
    out = sock.getOutputStream
  }

  def close(): Unit = if (sock != null) { scala.util.Try(sock.close()); sock = null }

  /** Returns the HTTP status, or -1 after a timeout or I/O error (the
    * connection is then dropped and re-opened on the next call). */
  def post(body: String, apiKey: String): Int =
    try {
      if (sock == null) connect()
      val b = body.getBytes(StandardCharsets.UTF_8)
      val head = s"POST /ingest HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"X-API-Key: $apiKey\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n"
      out.write(head.getBytes(StandardCharsets.US_ASCII) ++ b)
      out.flush()
      readResponse()
    } catch {
      case _: SocketTimeoutException | _: java.io.IOException => close(); -1
    }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c == -1 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  private def readResponse(): Int = {
    val status = readLine().split(' ')(1).toInt
    var len = 0
    var chunked = false
    var closeAfter = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0) {
        val k = line.substring(0, i).trim.toLowerCase
        val v = line.substring(i + 1).trim
        if (k == "content-length") len = v.toInt
        if (k == "transfer-encoding" && v.toLowerCase.contains("chunked")) chunked = true
        if (k == "connection" && v.equalsIgnoreCase("close")) closeAfter = true
      }
      line = readLine()
    }
    if (chunked) {
      var n = Integer.parseInt(readLine().trim, 16)
      while (n > 0) { in.skipNBytes(n.toLong); readLine(); n = Integer.parseInt(readLine().trim, 16) }
      readLine()
    } else in.skipNBytes(len.toLong)
    if (closeAfter) close()
    status
  }
}

/** The load generator, a process of its own so that the garbage
  * collector and JIT of the JVM under test never delay a send and its
  * CPU is not charged to the program. It reads one command per line on
  * stdin, answers `done <n>` on stdout when the command has finished,
  * and exits at end of input:
  *
  * {{{
  * open   <envelopes> <port> <rate/s> <workers> <timeout ms> <out>
  * closed <envelopes> <port> <seconds> <workers> <timeout ms> <out>
  * }}}
  *
  * `<envelopes>` is a comma-separated list of files, sent in order.
  * `open` is an open loop: POST i is due at t0 + i / rate whatever the
  * endpoint does, and goes to worker i mod workers. `closed` is a closed
  * loop: each worker POSTs the next unsent envelope as soon as its
  * previous POST was answered, until the time is up or the envelopes run
  * out. Each worker is one thread owning one keep-alive connection. The
  * out file gets one line `idx due send ack status` per POST sent, in
  * raw `System.nanoTime` readings; a closed-loop POST is due when sent. */
object LoadGenMain {
  def main(argv: Array[String]): Unit = {
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    val out = new PrintWriter(System.out, true)
    var line = in.readLine()
    while (line != null) {
      val a = line.trim.split(" ")
      val posts = a(1).split(",").toIndexedSeq.flatMap(Envelope.readAll)
      val (port, workers, timeoutMs) = (a(2).toInt, a(4).toInt, a(5).toInt)
      val sent = a(0) match {
        case "open" => openLoop(port, posts, a(3).toDouble, workers, timeoutMs)
        case "closed" => closedLoop(port, posts, a(3).toDouble, workers, timeoutMs)
      }
      val pw = new PrintWriter(new File(a(6)), "UTF-8")
      try sent.foreach(s => pw.println(s"${s.idx} ${s.dueNano} ${s.sendNano} ${s.ackNano} ${s.status}"))
      finally pw.close()
      out.println(s"done ${sent.size}")
      line = in.readLine()
    }
  }

  def openLoop(port: Int, posts: IndexedSeq[Envelope], ratePerS: Double, workers: Int,
               timeoutMs: Int): Seq[Sent] = {
    val res = new Array[Sent](posts.size)
    val periodNs = (1e9 / ratePerS).toLong
    val t0 = System.nanoTime() + 20000000L
    runWorkers(workers) { w =>
      val client = new KeepAliveClient(port, timeoutMs)
      try {
        var i = w
        while (i < posts.size) {
          val due = t0 + i * periodNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val status = client.post(posts(i).body, posts(i).apiKey)
          res(i) = Sent(i, due, now, System.nanoTime(), status)
          i += workers
        }
      } finally client.close()
    }
    res.toSeq
  }

  def closedLoop(port: Int, posts: IndexedSeq[Envelope], seconds: Double, workers: Int,
                 timeoutMs: Int): Seq[Sent] = {
    val res = new Array[Sent](posts.size)
    val next = new AtomicInteger(0)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    runWorkers(workers) { _ =>
      val client = new KeepAliveClient(port, timeoutMs)
      try {
        var now = System.nanoTime()
        var i = if (now < end) next.getAndIncrement() else posts.size
        while (i < posts.size) {
          val status = client.post(posts(i).body, posts(i).apiKey)
          res(i) = Sent(i, now, now, System.nanoTime(), status)
          now = System.nanoTime()
          i = if (now < end) next.getAndIncrement() else posts.size
        }
      } finally client.close()
    }
    res.toSeq.filter(_ != null)
  }

  private def runWorkers(workers: Int)(body: Int => Unit): Unit = {
    val threads = (0 until workers).map(w => new Thread(() => body(w), s"loadgen-$w"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** The harness's handle on the load-generator process. */
final class LoadGen(javaCmd: String, classpath: String, workDir: String) extends AutoCloseable {
  private val proc = new ProcessBuilder(javaCmd, "-Xms64m", "-Xmx64m", "-XX:+UseSerialGC",
    "-XX:-UsePerfData", "-cp", classpath, "graftbench.LoadGenMain")
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val to = new PrintWriter(proc.getOutputStream, true)
  private val from = new BufferedReader(new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))
  private val n = new AtomicInteger(0)

  private def call(cmd: String, file: String, port: Int, param: Double, workers: Int,
                   timeoutMs: Int): IndexedSeq[Sent] = {
    val out = s"$workDir/loadgen-${n.incrementAndGet()}.txt"
    to.println(s"$cmd $file $port $param $workers $timeoutMs $out")
    val reply = from.readLine()
    require(reply != null && reply.startsWith("done"), s"load generator failed: $reply")
    Files.readAllLines(Paths.get(out)).asScala.iterator.map { l =>
      val f = l.split(" ")
      Sent(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong, f(4).toInt)
    }.toIndexedSeq
  }

  def open(file: String, port: Int, ratePerS: Double, workers: Int, timeoutMs: Int): IndexedSeq[Sent] =
    call("open", file, port, ratePerS, workers, timeoutMs)
  def closed(file: String, port: Int, seconds: Double, workers: Int, timeoutMs: Int): IndexedSeq[Sent] =
    call("closed", file, port, seconds, workers, timeoutMs)

  override def close(): Unit = {
    to.close()
    if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
  }
}
