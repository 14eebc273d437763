package graft

import graft.sinks.{ClickHouseSink, MetricStorage}
import graft.sources.RequestSource
import graft.streaming.{IngestPipeline, MetricFlusher}

/** Deployable twin of the reference's process (/root/reference/main.go):
  * the complete proxy assembled as one Spark application — streaming
  * request source → micro-batch concat/count → HTTP forwarder with DLQ
  * spill → periodic DLQ replay → 2 s metric flush. A proxyhouse user
  * points their producer at the drop directory (or swaps in a Kafka
  * source) and their ClickHouse URL at `--fwd`, and gets the same
  * behavior with horizontal scale.
  *
  * Flags mirror the reference's (main.go:36-49 defaults):
  *   --drop <dir>       request drop directory (JSON lines: uri, body)
  *   --fwd <url>        downstream base URL        (default http://localhost:8123)
  *   --dlq <dir>        dead-letter parquet dir    (default ./errors)
  *   --checkpoint <dir> streaming checkpoint       (default ./checkpoint)
  *   --syncsec <n>      flush interval seconds     (default 2)
  *   --resendint <n>    DLQ replay interval seconds(default 60)
  *   --graphite <host:port>  optional metric sink
  *   --listen <port>    HTTP receiver port (main.go:164-260 parity):
  *                      POST / → drop dir, GET / health, /status, /statistic
  *   --edge <jdk|fast>  receiver backend (default jdk; fast = the
  *                      blocking-socket edge, ~2× the accept rate)
  */
object ProxyApp {

  /** The command line, parsed; defaults are the reference's. */
  final case class Flags(
      drop: String = "./drop",
      fwd: String = "http://localhost:8123",
      dlq: String = "./errors",
      checkpoint: String = "./checkpoint",
      syncSec: Int = 2,
      resendInt: Int = 60,
      graphite: Option[(String, Int)] = None,
      listen: Option[Int] = None,
      edge: String = "jdk")

  /** `--flag value` pairs into [[Flags]]. An unknown or repeated flag, a
    * flag with no value, a stray word or a value of the wrong shape is an
    * IllegalArgumentException that names the flag — never a default. */
  def parseFlags(args: Seq[String]): Flags = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
    def int(flag: String, v: String, min: Int, max: Int): Int =
      v.toIntOption.filter(n => n >= min && n <= max).getOrElse(
        bad(s"--$flag needs an integer in [$min, $max], got '$v'"))
    def set(f: Flags, flag: String, v: String): Flags = flag match {
      case "drop" => f.copy(drop = v)
      case "fwd" => f.copy(fwd = v)
      case "dlq" => f.copy(dlq = v)
      case "checkpoint" => f.copy(checkpoint = v)
      case "syncsec" => f.copy(syncSec = int(flag, v, 1, Int.MaxValue))
      case "resendint" => f.copy(resendInt = int(flag, v, 1, Int.MaxValue))
      case "listen" => f.copy(listen = Some(int(flag, v, 0, 65535)))
      case "graphite" => v.lastIndexOf(':') match {
        case i if i > 0 =>
          f.copy(graphite = Some(v.take(i) -> int(flag, v.drop(i + 1), 1, 65535)))
        case _ => bad(s"--graphite needs host:port, got '$v'")
      }
      case "edge" if v == "jdk" || v == "fast" => f.copy(edge = v)
      case "edge" => bad(s"--edge needs jdk or fast, got '$v'")
      case _ => bad(s"unknown flag --$flag")
    }
    @scala.annotation.tailrec
    def go(rest: List[String], f: Flags, seen: Set[String]): Flags =
      rest match {
        case Nil =>
          if (seen("edge") && f.listen.isEmpty) bad("--edge needs --listen")
          f
        case k :: _ if !k.startsWith("--") => bad(s"expected a --flag, got '$k'")
        case k :: _ if seen(k.drop(2)) => bad(s"$k given twice")
        case k :: v :: tail if !v.startsWith("--") =>
          go(tail, set(f, k.drop(2), v), seen + k.drop(2))
        case k :: _ => bad(s"$k needs a value")
      }
    go(args.toList, Flags(), Set.empty)
  }

  def main(args: Array[String]): Unit = {
    val Flags(drop, fwd, dlq, checkpoint, syncSec, resendInt, graphite,
      listen, edge) = try parseFlags(args.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"proxyhousespark: ${e.getMessage}")
        sys.exit(2)
    }

    val spark = Harness.deployed()

    val hostname = java.net.InetAddress.getLocalHost.getHostName
    val metrics = new MetricStorage(hostname)
    val sink = new ClickHouseSink(fwd)

    // world-facing edge (O-1/O-2): HTTP → drop-dir files → fileStream
    val receiver = listen.map { p =>
      val st = () => IngestPipeline.dlqStatus(spark, dlq)
      (edge match {
        case "fast" => new graft.sources.FastHttpReceiver(drop, p, status = st)
        case _ => new graft.sources.HttpReceiver(drop, p, status = st)
      }).start()
    }

    val ingest = IngestPipeline.start(
      RequestSource.fileStream(spark, drop).select("uri", "body"),
      dlq, checkpoint, sink, syncSec, Some(metrics))

    val flusher = graphite.map { case (h, p) =>
      MetricFlusher.start(spark, metrics, MetricFlusher.graphiteTransport(h, p))
    }

    // replay loop (main.go:302-321): a plain driver-side scheduler — the
    // replayer is sequential by design (1 batch at a time, rate-limited)
    val replayer = new Thread(() => {
      while (!Thread.interrupted()) {
        Thread.sleep(resendInt * 1000L)
        // 1 send/s pacing = the reference's replay rate limit (main.go:480)
        try IngestPipeline.replayOnce(spark, dlq, sink, paceMillis = 1000L)
        catch { case e: Exception =>
          System.err.println(s"[replay] ${e.getMessage}")
        }
      }
    }, "dlq-replayer")
    replayer.setDaemon(true)
    replayer.start()

    sys.addShutdownHook {
      receiver.foreach(_.stop()); ingest.stop(); flusher.foreach(_.stop())
    }
    ingest.awaitTermination()
  }
}
