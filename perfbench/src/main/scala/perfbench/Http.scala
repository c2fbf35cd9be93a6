package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** One request of a workload, as generated by workloads.py. `target` is the
  * raw (already percent-encoded) path and query. */
final case class Req(id: String, kind: String, method: String, target: String,
    body: String, contentType: String, auth: Boolean, expect: String)

final case class Resp(status: Int, body: Array[Byte])

/** A persistent HTTP/1.1 keep-alive connection, the way a dashboard or a
  * browser holds one: one socket per client, reused across requests, with
  * the socket's default options (no TCP_NODELAY or any other tuning). */
final class KeepAliveClient(port: Int, secret: String) {
  private var sock: Socket = _
  private var in: InputStream = _

  private def connect(): Unit = {
    close()
    sock = new Socket()
    sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
    sock.setSoTimeout(120000)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  }

  def close(): Unit = if (sock != null) { sock.close(); sock = null }

  /** Sends on the open connection; a connection the server closed while
    * it sat idle is reopened once, as browsers do. */
  def send(r: Req): Resp = {
    val reused = sock != null
    if (!reused) connect()
    try exchange(r)
    catch {
      case _: java.io.IOException if reused =>
        connect()
        exchange(r)
    }
  }

  private def exchange(r: Req): Resp = {
    val body = r.body.getBytes(UTF_8)
    val head = new StringBuilder
    head.append(s"${r.method} ${r.target} HTTP/1.1\r\n")
      .append(s"Host: 127.0.0.1:$port\r\n")
    if (r.auth) head.append(s"Authorization: Bearer $secret\r\n")
    if (r.method == "POST")
      head.append(s"Content-Type: ${r.contentType}\r\n")
        .append(s"Content-Length: ${body.length}\r\n")
    head.append("\r\n")
    // one write per request: the request itself never waits on Nagle
    val out = sock.getOutputStream
    out.write(head.toString.getBytes(ISO_8859_1) ++ body)
    out.flush()
    readResponse()
  }

  private def line(): String = {
    val b = new ByteArrayOutputStream(128)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(ISO_8859_1)
  }

  private def readN(n: Int, to: ByteArrayOutputStream): Unit = {
    val buf = new Array[Byte](math.min(n, 1 << 16).max(1))
    var left = n
    while (left > 0) {
      val k = in.read(buf, 0, math.min(left, buf.length))
      if (k < 0) throw new java.io.EOFException("truncated body")
      to.write(buf, 0, k)
      left -= k
    }
  }

  private def readResponse(): Resp = {
    val status = line().split(" ")(1).toInt
    var length = -1
    var chunked = false
    var closing = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val (k, v) = (h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
      if (k == "content-length") length = v.toInt
      if (k == "transfer-encoding" && v.toLowerCase.contains("chunked"))
        chunked = true
      if (k == "connection" && v.equalsIgnoreCase("close")) closing = true
      h = line()
    }
    val body = new ByteArrayOutputStream(math.max(length, 256))
    if (chunked) {
      var n = Integer.parseInt(line().split(";")(0).trim, 16)
      while (n > 0) {
        readN(n, body); line()
        n = Integer.parseInt(line().split(";")(0).trim, 16)
      }
      var t = line()
      while (t.nonEmpty) t = line()
    } else if (length > 0) readN(length, body)
    if (closing) close()
    Resp(status, body.toByteArray)
  }
}
