package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The ClickHouse that `proxy_tiny` forwards to. It answers 500 to every
  * 10th first-attempt POST per table, so the proxy's DLQ spill and replay
  * run in every run, and 200 to everything else. A POST whose body equals
  * a body it refused earlier is a replay from the DLQ. Request ids are
  * parsed out of `(id,due_ns)` rows: the first arrival of an id on a
  * first attempt is its freshness stamp, and an id counts as delivered
  * once a POST carrying it was answered 200. */
final class FakeClickHouse(epochNs: () => Long) {
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)

  val firstArrival = new LongBuf(1 << 16) // id -> epoch ns, 0 = not yet
  val delivered = new java.util.BitSet()
  var posts = 0L
  var rows = 0L
  var bytes = 0L
  var failedPosts = 0L
  var replayed = 0L
  var replayedRows = 0L
  val recoverMs = new LongBuf()
  /** (start_ns, end_ns, replay 0/1) per POST, for the traced run. */
  val spans = new LongBuf()
  private val perTable = mutable.Map.empty[String, Int]
  private val refused = mutable.Map.empty[String, Long]

  private def ids(body: String): Iterator[Long] = new Iterator[Long] {
    private var i = body.indexOf('(')
    def hasNext: Boolean = i >= 0
    def next(): Long = {
      var j = i + 1
      var v = 0L
      while (body.charAt(j) != ',') { v = v * 10 + (body.charAt(j) - '0'); j += 1 }
      i = body.indexOf('(', j)
      v
    }
  }

  private def deliver(body: String): Unit = ids(body).foreach { id =>
    delivered.set(id.toInt)
    rows += 1
  }

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val arrival = epochNs()
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val table = "(?i)insert%20into%20([^%]+)%20".r.findFirstMatchIn(query)
      .map(_.group(1)).getOrElse("?")
    var replay = false
    val code = synchronized {
      posts += 1
      bytes += body.length
      refused.remove(body) match {
        case Some(tRefused) =>
          replay = true
          replayed += 1
          recoverMs += (t0 - tRefused) / 1000000L
          val before = rows
          deliver(body)
          replayedRows += rows - before
          200
        case None =>
          ids(body).foreach(id => if (firstArrival.length <= id ||
            firstArrival(id.toInt) == 0) firstArrival(id.toInt) = arrival)
          val n = perTable.getOrElse(table, 0) + 1
          perTable(table) = n
          if (n % 10 == 0) { failedPosts += 1; refused(body) = t0; 500 }
          else { deliver(body); 200 }
      }
    }
    ex.sendResponseHeaders(code, -1)
    ex.close()
    synchronized {
      spans += t0; spans += System.nanoTime(); spans += (if (replay) 1 else 0)
    }
  })

  def start(): FakeClickHouse = { server.setExecutor(pool); server.start(); this }
  def port: Int = server.getAddress.getPort
  def pendingReplays: Int = synchronized(refused.size)
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** Graphite plaintext listener for the proxy's metric flushes (one
  * `name value` line per datagram). A silence of 500 ms ends a flush. */
final class GraphiteListener {
  private val socket = new DatagramSocket(0, InetAddress.getLoopbackAddress)
  private val sums = mutable.Map.empty[String, Long]
  @volatile var flushes = 0L
  private var last = 0L
  private val thread = new Thread(() => {
    val buf = new Array[Byte](65536)
    try while (true) {
      val p = new DatagramPacket(buf, buf.length)
      socket.receive(p)
      val now = System.nanoTime()
      synchronized {
        if (now - last > 500000000L) flushes += 1
        last = now
        new String(p.getData, 0, p.getLength, UTF_8).split('\n').foreach { l =>
          l.trim.split(' ') match {
            case Array(k, v) => sums(k) = sums.getOrElse(k, 0L) + v.toLong
            case _ =>
          }
        }
      }
    } catch { case _: java.net.SocketException => () }
  }, "perfbench-graphite")
  thread.setDaemon(true)

  def start(): GraphiteListener = { thread.start(); this }
  def port: Int = socket.getLocalPort
  def sum(name: String): Long = synchronized(sums.getOrElse(name, 0L))
  def sumMatching(p: String => Boolean): Long =
    synchronized(sums.collect { case (k, v) if p(k) => v }.sum)
  def stop(): Unit = socket.close()
}
