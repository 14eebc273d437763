package perfbench

import java.io.EOFException
import java.net.{InetAddress, InetSocketAddress, StandardSocketOptions}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, SocketChannel}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.locks.LockSupport

object Http {
  def post(uri: String, body: String): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $uri HTTP/1.1\r\nHost: localhost\r\nContent-Length: ${b.length}\r\n\r\n"
      .getBytes(ISO_8859_1)
    val out = java.util.Arrays.copyOf(head, head.length + b.length)
    System.arraycopy(b, 0, out, head.length, b.length)
    out
  }

  def get(path: String): Array[Byte] =
    s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(ISO_8859_1)

  /** End of the response that starts at `from` in `a(from until to)`, with
    * its status, or null while it is incomplete. */
  def response(a: Array[Byte], from: Int, to: Int): (Int, Int) = {
    var i = from
    while (i + 3 < to && !(a(i) == '\r' && a(i + 1) == '\n' && a(i + 2) == '\r' &&
        a(i + 3) == '\n')) i += 1
    if (i + 3 >= to) null
    else {
      val head = new String(a, from, i - from, ISO_8859_1)
      val status = head.substring(9, 12).toInt
      val k = head.toLowerCase.indexOf("content-length:")
      val clen =
        if (k < 0) 0
        else head.substring(k + 15).takeWhile(_ != '\r').trim.toInt
      val end = i + 4 + clen
      if (end > to) null else (end, status)
    }
  }

  /** One request on a fresh blocking connection; the status, or -1 when
    * the server is not reachable yet. */
  def once(port: Int, request: Array[Byte]): Int =
    try {
      val s = new java.net.Socket(InetAddress.getLoopbackAddress, port)
      try {
        s.getOutputStream.write(request)
        new Blocking(s).read()
      } finally s.close()
    } catch { case _: java.io.IOException => -1 }

  final class Blocking(s: java.net.Socket) {
    private val in = s.getInputStream
    private val buf = new Array[Byte](1 << 16)
    private var n = 0
    def read(): Int = {
      var r: (Int, Int) = null
      while ({ r = response(buf, 0, n); r == null }) {
        val k = in.read(buf, n, buf.length - n)
        if (k < 0) throw new EOFException("connection closed mid-response")
        n += k
      }
      System.arraycopy(buf, r._1, buf, 0, n - r._1)
      n -= r._1
      r._2
    }
  }
}

/** The load generator's connections: `n` keep-alive HTTP/1.1 connections
  * driven from the calling thread with non-blocking I/O. Requests on the
  * pipelined connections are written when they are due whether or not
  * earlier replies have come back; replies arrive in order per
  * connection. In the open loop the first connection is the probe: it
  * holds each request until the previous reply is back, the way a client
  * that waits for its ACK posts. */
final class Client(port: Int, n: Int) {
  require(n >= 2, "the open loop needs a probe and a pipelined connection")
  private val sel = Selector.open()

  private final class Conn(val ch: SocketChannel) {
    val out = new java.util.ArrayDeque[ByteBuffer]()
    val inflight = new java.util.ArrayDeque[Integer]()
    val rbuf: ByteBuffer = ByteBuffer.allocate(1 << 16)
    /** Requests a sequential connection holds while one is in flight. */
    val held = new java.util.ArrayDeque[(Int, Array[Byte])]()
    var sequential = false
  }

  private val conns = (0 until n).map { _ =>
    val ch = SocketChannel.open(
      new InetSocketAddress(InetAddress.getLoopbackAddress, port))
    ch.setOption[java.lang.Boolean](StandardSocketOptions.TCP_NODELAY, true)
    ch.configureBlocking(false)
    val c = new Conn(ch)
    ch.register(sel, SelectionKey.OP_READ, c)
    c
  }

  private def outstanding: Int = conns.map(c => c.inflight.size + c.held.size).sum

  private def flushOut(c: Conn): Unit =
    while (!c.out.isEmpty && { c.ch.write(c.out.peek()); !c.out.peek().hasRemaining })
      c.out.poll()

  private def send(c: Conn, idx: Int, bytes: Array[Byte]): Unit =
    if (c.sequential && !c.inflight.isEmpty) c.held.add((idx, bytes))
    else write(c, idx, bytes)

  private def write(c: Conn, idx: Int, bytes: Array[Byte]): Unit = {
    c.inflight.add(idx)
    c.out.add(ByteBuffer.wrap(bytes))
    flushOut(c)
  }

  /** Reads what has arrived and hands each complete reply to `ack`;
    * returns how many replies completed. */
  private def poll(timeoutMs: Long, ack: (Conn, Int, Int) => Unit): Int = {
    if (timeoutMs <= 0) sel.selectNow() else sel.select(timeoutMs)
    var done = 0
    val it = sel.selectedKeys.iterator
    while (it.hasNext) {
      val c = it.next().attachment.asInstanceOf[Conn]
      it.remove()
      if (c.ch.read(c.rbuf) < 0) throw new EOFException("server closed a connection")
      val b = c.rbuf
      var pos = 0
      var r: (Int, Int) = null
      while ({ r = Http.response(b.array, pos, b.position()); r != null }) {
        pos = r._1
        done += 1
        ack(c, c.inflight.poll(), r._2)
        if (c.sequential && c.inflight.isEmpty && !c.held.isEmpty) {
          val (i, bytes) = c.held.poll()
          write(c, i, bytes)
        }
      }
      b.flip(); b.position(pos); b.compact()
    }
    conns.foreach(c => if (!c.out.isEmpty) flushOut(c))
    done
  }

  /** Request i is due at `t0 + i * intervalNs`; every `probeEvery`-th
    * (i % probeEvery == 0) goes to the probe connection, the others round
    * robin to the pipelined ones. `sent(i, nanoTime)` is called as a
    * request is handed over and `ack(i, status)` when its reply arrives.
    * Returns once every request is answered or `deadline` passes. */
  def openLoop(count: Int, t0: Long, intervalNs: Double, probeEvery: Int,
      request: Int => Array[Byte], sent: (Int, Long) => Unit,
      ack: (Int, Int) => Unit, deadline: Long): Unit = {
    val onAck = (_: Conn, i: Int, st: Int) => ack(i, st)
    conns(0).sequential = true
    var next = 0
    var piped = 0
    while ((next < count || outstanding > 0) && System.nanoTime() < deadline) {
      val now = System.nanoTime()
      while (next < count && t0 + (next * intervalNs).toLong <= now) {
        val c =
          if (next % probeEvery == 0) conns(0)
          else { piped += 1; conns(1 + (piped - 1) % (n - 1)) }
        send(c, next, request(next))
        sent(next, now)
        next += 1
      }
      if (poll(0, onAck) == 0) {
        val wait =
          if (next < count) t0 + (next * intervalNs).toLong - System.nanoTime()
          else Long.MaxValue
        if (wait > 1000000L) poll(1, onAck)
        else if (wait > 0) LockSupport.parkNanos(math.min(wait, 50000L))
      }
    }
  }

  /** Each connection posts back to back until `end`; request indices
    * start at `first`. Returns the number of requests sent. */
  def closedLoop(first: Int, end: Long, request: Int => Array[Byte],
      ack: (Int, Int) => Unit, deadline: Long): Int = {
    conns.foreach(_.sequential = false)
    var next = first
    conns.foreach { c => send(c, next, request(next)); next += 1 }
    val onAck = (c: Conn, i: Int, st: Int) => {
      ack(i, st)
      if (System.nanoTime() < end) { send(c, next, request(next)); next += 1 }
    }
    while (outstanding > 0 && System.nanoTime() < deadline) poll(1, onAck)
    next - first
  }

  def close(): Unit = { conns.foreach(_.ch.close()); sel.close() }
}
