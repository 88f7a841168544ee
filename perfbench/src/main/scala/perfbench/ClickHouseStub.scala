package perfbench

import java.io.{FilterInputStream, InputStream}
import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPInputStream
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for a ClickHouse HTTP endpoint on the loopback
  * interface. It accepts `INSERT ... FORMAT CSV` posts (gzip or plain,
  * chunked or not) and counts requests, bytes on the wire and rows
  * received. It keeps no rows, and answers anything else with a 500.
  */
final class ClickHouseStub extends AutoCloseable {
  val requests = new AtomicLong()
  val rows = new AtomicLong()
  val wireBytes = new AtomicLong()
  val rawBytes = new AtomicLong()

  private val pool = Executors.newFixedThreadPool(2)
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def port: Int = server.getAddress.getPort

  private def handle(ex: HttpExchange): Unit =
    try {
      val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").map(_.split("=", 2))
        .collect { case Array("query", v) => URLDecoder.decode(v, "UTF-8") }
        .headOption.getOrElse("")
      val gzip = "gzip".equalsIgnoreCase(ex.getRequestHeaders.getFirst("Content-Encoding"))
      val body = ClickHouseStub.readBody(ex.getRequestBody, gzip)
      require(query.startsWith("INSERT"), s"the stub accepts only inserts, got: $query")
      requests.incrementAndGet()
      rows.addAndGet(body.rows)
      wireBytes.addAndGet(body.wireBytes)
      rawBytes.addAndGet(body.rawBytes)
      ex.sendResponseHeaders(200, -1)
    } catch {
      case e: Exception =>
        val msg = e.toString.getBytes("UTF-8")
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally ex.close()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}

object ClickHouseStub {
  /** What one request body carried. */
  final case class Body(rows: Long, wireBytes: Long, rawBytes: Long)

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var count = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) count += n; n
    }
  }

  /** Reads a request body to its end: rows are newline-terminated CSV
    * lines of the decoded body, wire bytes are bytes as sent.
    */
  def readBody(in: InputStream, gzip: Boolean): Body = {
    val wire = new Counting(in)
    val decoded = if (gzip) new GZIPInputStream(wire, 1 << 16) else wire
    val buf = new Array[Byte](1 << 16)
    var lines = 0L
    var raw = 0L
    var n = decoded.read(buf)
    while (n >= 0) {
      raw += n
      var i = 0
      while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
      n = decoded.read(buf)
    }
    Body(lines, wire.count, raw)
  }
}
