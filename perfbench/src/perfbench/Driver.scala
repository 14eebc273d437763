package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: launches the system under test as its own process,
  * drives it from this process, checks its outputs and prints one JSON
  * line (see `perfbench/README.md` for the workloads and metrics).
  *
  * Usage: Driver --workload proxy_tiny|lake_bulk --seed N --seconds S
  *   --trace 0|1 --rate R --work DIR --system-cp CP --log4j F
  *   --fingerprints F */
object Driver {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, rate: Double, work: Path, systemCp: String,
      log4j: String, fingerprints: Path, nproc: Int)

  /** Launches whose set-up is timed in an untraced run; `setup_s` is
    * their median and the last one carries the load. */
  val SetupLaunches = 2

  /** Everything one pass measured. */
  final class Outcome {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val spans = new SpanLog
  }

  // --- clocks: epoch nanos derived from the monotonic clock ---------------
  // (both read back to back: the lake reader's read times are compared with it)
  private val (monoBase, epochBase) = {
    val i = java.time.Instant.now()
    (System.nanoTime(), i.getEpochSecond * 1000000000L + i.getNano)
  }
  def epochOf(mono: Long): Long = epochBase + (mono - monoBase)
  def epochNow(): Long = epochOf(System.nanoTime())

  // --- system processes ----------------------------------------------------
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Process]()
  sys.addShutdownHook(live.asScala.foreach(p => { p.destroyForcibly(); p.waitFor() }))

  private val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
    "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Starts `main` in `dir` with the same JVM and Spark settings for every
    * system: local[nproc], a 2 GiB heap, scratch space inside `dir`. The
    * traced run adds the two listeners through configuration. */
  def launch(o: Opts, main: String, args: Seq[String], dir: Path,
      traced: Boolean): Process = {
    Files.createDirectories(dir.resolve("tmp"))
    val java = ProcessHandle.current().info().command().orElse("java")
    val trace = if (!traced) Nil else Seq(
      "-Dspark.extraListeners=perfbench.TraceListener",
      "-Dspark.sql.streaming.streamingQueryListeners=perfbench.TraceQueryListener",
      s"-Dperfbench.trace.out=${dir.resolve("trace.tsv")}")
    val cmd = Seq(java) ++ addOpens ++ Seq("-Xms1g", "-Xmx2g", "-XX:-UsePerfData",
      s"-Dspark.hadoop.hadoop.tmp.dir=${dir.resolve("tmp")}",
      s"-Dspark.master=local[${o.nproc}]", "-Dspark.ui.enabled=false",
      s"-Dspark.local.dir=${dir.resolve("tmp")}",
      s"-Djava.io.tmpdir=${dir.resolve("tmp")}",
      s"-Dlog4j2.configurationFile=${o.log4j}") ++ trace ++
      Seq("-cp", o.systemCp, main) ++ args
    val pb = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
      .redirectError(dir.resolve("system.err").toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", o.nproc.toString)
    val p = pb.start()
    live.add(p)
    p
  }

  def stop(p: Process): Unit = {
    p.destroy()
    if (!p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly(); p.waitFor()
    }
    live.remove(p)
  }

  def waitFor(what: String, deadline: Long, p: Process)(cond: => Boolean): Unit =
    while (!cond) {
      if (!p.isAlive) throw new IllegalStateException(s"system exited while waiting for $what")
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }

  def secondsFrom(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // --- shared by both workloads ----------------------------------------------

  /** Seconds of open loop at the start of phase 1 that are sent and
    * checked but not timed: the system's JIT and first batches settle. */
  val WarmSeconds = 4

  /** Interval between the requests the open loop sends on its probe
    * connection, which waits for each ACK before it posts again. */
  val ProbeMs = 10

  /** What the generator sent and what came back. Open-loop requests
    * `0 until warm` are the untimed warm-up; every `probeEvery`-th went
    * over the probe connection. */
  final class Load(val n1: Int, val warm: Int, val probeEvery: Int) {
    val due = new Array[Long](n1)   // monotonic ns, open-loop phase
    val late = new Array[Long](n1)
    val ack = new Array[Long](n1)
    val acked = new java.util.BitSet()
    var ackedBytes = 0L
    var ackedIdSum = 0L
    var ackedCount = 0L
    var refused = 0L
    var sent = 0L
    var closedSent = 0L
    var closedOk = 0L
    var closedWall = 0.0
    def onAck(id: Int, bodyLen: Int, status: Int): Unit =
      if (status == 200) {
        acked.set(id); ackedBytes += bodyLen; ackedIdSum += id; ackedCount += 1
      } else refused += 1
  }

  /** Open loop at `o.rate` for the warm-up plus `o.seconds`, then a
    * closed loop on every connection. Request ids start at 1 (0 is the
    * set-up probe). */
  def drive(o: Opts, port: Int, load: Load, body: (Int, Long) => (String, String),
      closedSeconds: Double, spans: SpanLog): Unit = {
    val client = new Client(port, o.nproc)
    try {
      val interval = 1e9 / o.rate
      val t0 = System.nanoTime() + 20000000L
      val lens = new Array[Int](load.n1)
      for (i <- 0 until load.n1) load.due(i) = t0 + (i * interval).toLong
      client.openLoop(load.n1, t0, interval, load.probeEvery, i => {
        val (uri, b) = body(i + 1, epochOf(load.due(i)))
        lens(i) = b.length
        Http.post(uri, b)
      }, (i, now) => load.late(i) = now - load.due(i),
        (i, st) => { load.ack(i) = System.nanoTime(); load.onAck(i + 1, lens(i), st) },
        t0 + (o.seconds + 60) * 1000000000L)
      load.sent += load.n1
      val closedLens = mutable.LongMap.empty[Int]
      val c0 = System.nanoTime()
      val first = load.n1 + 1
      load.closedSent = client.closedLoop(first, c0 + (closedSeconds * 1e9).toLong,
        id => {
          val (uri, b) = body(id, epochNow())
          closedLens(id) = b.length
          Http.post(uri, b)
        }, (id, st) => {
          if (st == 200) load.closedOk += 1
          load.onAck(id, closedLens.remove(id).getOrElse(0), st)
        },
        c0 + ((closedSeconds + 60) * 1e9).toLong)
      load.closedWall = secondsFrom(c0)
      load.sent += load.closedSent
    } finally client.close()
    for (i <- 0 until load.n1 if load.ack(i) > 0)
      spans.add("request", s"r${i + 1}", "", epochOf(load.due(i)), epochOf(load.ack(i)))
  }

  def newLoad(o: Opts): Load = new Load((o.rate * (WarmSeconds + o.seconds)).toInt,
    (o.rate * WarmSeconds).toInt, math.max(2, math.round(o.rate * ProbeMs / 1000).toInt))

  /** End-to-end metrics both ingest workloads share, over the timed part
    * of the open-loop phase. `allFresh` holds (open-loop index, ms).
    * `ack_p50_ms` is over the probe's requests: on a pipelined connection
    * each small reply waits (Nagle) until the previous one is ACKed, which
    * the client does with its next request there, so it would read the
    * per-connection interval, not the edge. */
  def loadMetrics(o: Opts, load: Load, allFresh: Seq[(Int, Double)], out: Outcome): Unit = {
    val fresh = allFresh.filter(_._1 >= load.warm).map(_._2).toArray
    val timed = (load.warm until load.n1).filter(load.ack(_) > 0)
    def ackMs(i: Int) = (load.ack(i) - load.due(i)) / 1e6
    out.e2e("accept_rps") = load.closedOk / load.closedWall
    out.e2e("ack_p50_ms") =
      Stats.pct(timed.filter(_ % load.probeEvery == 0).map(ackMs).toArray, 50)
    out.e2e("ack_p99_ms") = Stats.pct(timed.map(ackMs).toArray, 99)
    out.e2e("fresh_p50_ms") = Stats.pct(fresh, 50)
    out.e2e("fresh_p99_ms") = Stats.pct(fresh, 99)
    out.layer("edge.accepted") = load.ackedCount.toDouble
    out.layer("edge.refused") = load.refused.toDouble
    out.layer("gen.late_p99_ms") = Stats.pct(load.late.map(_ / 1e6), 99)
    out.attempted += load.sent
    out.failed += load.sent - load.ackedCount // refused or never answered
    val unanswered = load.ack.count(_ == 0)
    if (unanswered > 0) out.problems += s"$unanswered open-loop requests never answered"
  }

  /** Files the stream's file source has committed as processed. */
  def processedFiles(ckpt: Path): Int = {
    val d = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(d)) 0
    else {
      val names = Probe.files(d).map(_.getFileName.toString).filter(!_.startsWith("."))
      def entries(n: String) = Files.readAllLines(d.resolve(n)).asScala.count(_.startsWith("{"))
      val compacts = names.filter(_.endsWith(".compact")).map(_.stripSuffix(".compact").toInt)
      val base = if (compacts.isEmpty) -1 else compacts.max
      (if (base >= 0) entries(s"$base.compact") else 0) +
        names.filter(n => n.forall(_.isDigit) && n.toInt > base).map(entries).sum
    }
  }

  def dropFiles(drop: Path): Seq[Path] =
    Option(drop.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("req-")).map(_.toPath)

  /** Samples spool backlog and DLQ depth every 250 ms while load runs. */
  final class Sampler(dir: Path) {
    val backlog = mutable.ArrayBuffer.empty[(Double, Double)]
    @volatile var dlqMax = 0
    @volatile private var running = true
    private val t0 = System.nanoTime()
    private val th = new Thread(() => while (running) {
      try {
        val b = dropFiles(dir.resolve("drop")).size - processedFiles(dir.resolve("checkpoint"))
        val dlq = dlqLive(dir.resolve("errors"))
        synchronized { backlog += ((secondsFrom(t0), b.toDouble)) }
        dlqMax = math.max(dlqMax, dlq)
      } catch { case _: Exception => () } // files move while the system runs
      Thread.sleep(250)
    }, "perfbench-sampler")
    th.setDaemon(true); th.start()
    def stop(): Unit = { running = false; th.join() }
  }

  def dlqLive(errors: Path): Int = Probe.files(errors).count { f =>
    val lvl = f.getParent.getFileName.toString
    f.getFileName.toString.endsWith(".parquet") && lvl.startsWith("level=") &&
      lvl.stripPrefix("level=").toInt < 10
  }

  // --- traced-run dump --------------------------------------------------------

  final case class Batch(query: String, src: String, id: Long, ts: Long, rows: Long,
      trigger: Long, addBatch: Long, getBatch: Long, offsets: Long, plan: Long, wal: Long)
  final case class Job(id: Int, query: String, batch: String, start: Long, end: Long,
      tasks: Long, execMs: Long, shuffle: Long, entry: String, spill: Long, input: Long)

  def readDump(f: Path): (Seq[Batch], Seq[Job], Double) = {
    val lines = if (Files.exists(f)) Files.readAllLines(f).asScala.map(_.split('\t')).toSeq else Nil
    val bs = lines.collect { case a if a(0) == "P" => Batch(a(1), a(2), a(3).toLong,
      a(4).toLong, a(5).toLong, a(6).toLong, a(7).toLong, a(8).toLong, a(9).toLong,
      a(10).toLong, a(11).toLong) }
    val js = lines.collect { case a if a(0) == "J" => Job(a(1).toInt, a(2), a(3),
      a(4).toLong, a(5).toLong, a(6).toLong, a(7).toLong, a(8).toLong, a(9),
      a(10).toLong, a(11).toLong) }
    val gc = lines.collectFirst { case a if a(0) == "G" => a(1).toDouble }.getOrElse(0.0)
    (bs, js, gc)
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Stream-layer metrics from the ingest query's progress events and the
    * jobs each of its batches ran. Returns the data batches. */
  def streamMetrics(dump: Path, out: Outcome): Seq[Batch] = {
    val (bs, js, gc) = readDump(dump)
    val data = bs.filter(b => b.src.startsWith("FileStreamSource") && b.rows > 0)
    def p50(f: Batch => Double) = Stats.pct(data.map(f).toArray, 50)
    val byBatch = js.groupBy(j => (j.query, j.batch))
    val per = data.map { b =>
      val jobs = byBatch.getOrElse((b.query, b.id.toString), Nil)
      val gap = b.trigger - covered(jobs.map(j =>
        (math.max(j.start, b.ts), math.min(if (j.end < 0) j.start else j.end, b.ts + b.trigger))))
      out.spans.add("batch", s"b${b.id}", "", b.ts * 1000000L, (b.ts + b.trigger) * 1000000L)
      jobs.foreach(j => out.spans.add("job", s"j${j.id}", s"b${b.id}",
        j.start * 1000000L, math.max(j.start, j.end) * 1000000L))
      (jobs.size.toDouble, jobs.map(_.tasks).sum.toDouble, jobs.map(_.execMs).sum.toDouble,
        jobs.map(_.shuffle).sum.toDouble, gap.toDouble)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    out.layer("stream.batches") = data.size.toDouble
    out.layer("stream.rows_per_batch_p50") = p50(_.rows.toDouble)
    out.layer("stream.trigger_ms_p50") = p50(_.trigger.toDouble)
    out.layer("stream.trigger_ms_max") = if (data.isEmpty) 0.0 else data.map(_.trigger).max.toDouble
    out.layer("stream.addbatch_ms_p50") = p50(_.addBatch.toDouble)
    out.layer("stream.offsets_ms_p50") = p50(_.offsets.toDouble)
    out.layer("stream.getbatch_ms_p50") = p50(_.getBatch.toDouble)
    out.layer("stream.plan_ms_p50") = p50(_.plan.toDouble)
    out.layer("stream.wal_ms_p50") = p50(_.wal.toDouble)
    out.layer("stream.rows_per_s") =
      if (data.isEmpty) 0.0 else data.map(_.rows).sum * 1000.0 / math.max(1L, data.map(_.trigger).sum)
    // batches start on multiples of the 2 s trigger unless the previous one overran
    out.layer("stream.late_start_ms_p50") = p50(b => (b.ts % 2000).toDouble)
    out.layer("stream.jobs_per_batch") = mean(per.map(_._1))
    out.layer("stream.tasks_per_batch") = mean(per.map(_._2))
    out.layer("stream.executor_ms_per_batch") = mean(per.map(_._3))
    out.layer("stream.shuffle_bytes_per_batch") = mean(per.map(_._4))
    out.layer("stream.driver_gap_ms_per_batch") = mean(per.map(_._5))
    out.layer("jvm.gc_ms") = gc
    data
  }

  def edgeMetrics(dir: Path, sampler: Sampler, phase1: Double, out: Outcome): Unit = {
    val files = dropFiles(dir.resolve("drop"))
    out.layer("spool.files") = files.size.toDouble
    out.layer("spool.bytes_per_file") =
      if (files.isEmpty) 0.0 else files.map(Files.size).sum.toDouble / files.size
    val bl = sampler.synchronized(sampler.backlog.toList)
    out.layer("spool.backlog_files_max") = if (bl.isEmpty) 0.0 else bl.map(_._2).max
    out.layer("spool.backlog_slope") = Stats.slope(bl.filter(_._1 <= phase1))
  }

  /** Waits until the traced system has written a dump newer than now. */
  def freshDump(dump: Path, p: Process): Unit = {
    val since = System.currentTimeMillis()
    waitFor("trace dump", System.nanoTime() + 10000000000L, p)(
      Files.exists(dump) && Files.getLastModifiedTime(dump).toMillis > since + 50)
  }

  /** Layers a workload does not run report 0. */
  def notApplicable(out: Outcome, names: String*): Unit = names.foreach(out.layer(_) = 0.0)

  // --- proxy_tiny ----------------------------------------------------------

  val proxyTables = Seq("a", "b", "c")
  def proxyUri(id: Long): String =
    s"/?query=INSERT%20INTO%20${proxyTables((id % 3).toInt)}%20VALUES"

  /** Launches `graft.ProxyApp` with default flags apart from ports,
    * directories, `--fwd`, `--graphite` and a 1 s `--resendint`, and
    * returns it with its set-up time: launch until the probe row reaches
    * the fake ClickHouse. */
  def startProxy(o: Opts, dir: Path, ch: FakeClickHouse, gr: GraphiteListener,
      traced: Boolean): (Process, Int, Double) = {
    val port = freePort()
    val t0 = System.nanoTime()
    val p = launch(o, "graft.ProxyApp", Seq("--listen", port.toString,
      "--drop", dir.resolve("drop").toString, "--fwd", s"http://127.0.0.1:${ch.port}",
      "--dlq", dir.resolve("errors").toString,
      "--checkpoint", dir.resolve("checkpoint").toString,
      "--graphite", s"127.0.0.1:${gr.port}", "--resendint", "1"), dir, traced)
    val deadline = t0 + 120000000000L
    val probe = Http.post(proxyUri(0), s"(0,${epochNow()})")
    waitFor("proxy edge", deadline, p)(Http.once(port, probe) == 200 || { Thread.sleep(20); false })
    waitFor("probe delivery", deadline, p)(ch.synchronized(ch.delivered.get(0)))
    (p, port, secondsFrom(t0))
  }

  def proxyTiny(o: Opts, traced: Boolean, launches: Int): Outcome = {
    val out = new Outcome
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (k <- 1 until launches) {
      val dir = o.work.resolve(s"proxy-setup-$k")
      val ch = new FakeClickHouse(() => epochNow()).start()
      val gr = new GraphiteListener().start()
      try {
        val (p, _, s) = startProxy(o, dir, ch, gr, traced = false)
        setupS += s
        stop(p)
      } finally { ch.stop(); gr.stop(); Probe.deleteTree(dir) }
    }
    val dir = o.work.resolve(if (traced) "proxy-traced" else "proxy")
    Probe.deleteTree(dir)
    val ch = new FakeClickHouse(() => epochNow()).start()
    val gr = new GraphiteListener().start()
    try {
      val (p, port, s) = startProxy(o, dir, ch, gr, traced)
      setupS += s
      val load = newLoad(o)
      val sampler = new Sampler(dir)
      // monitoring reads beside the writes: GET /statistic every 50 ms of
      // phase 1 (GET /status was bimodal from run to run: it runs a Spark
      // read of the DLQ whenever the DLQ holds files)
      val reads = new LongBuf()
      var readFails = 0L
      val reader = new Thread(() => {
        val t0 = System.nanoTime()
        var k = 0
        while ((k + 1) * 50 <= (WarmSeconds + o.seconds) * 1000) {
          val due = t0 + k * 50000000L
          val w = due - System.nanoTime()
          if (w > 0) Thread.sleep(w / 1000000L, (w % 1000000L).toInt)
          // a poller's fresh connection per read: on one kept-alive
          // connection the edge's two-segment reply waits out the
          // client's delayed ACK (~40 ms) and that is all it measures
          if (Http.once(port, Http.get("/statistic")) != 200) readFails += 1
          else if (k * 50 >= WarmSeconds * 1000) reads += System.nanoTime() - due
          k += 1
        }
      }, "perfbench-status-reader")
      reader.start()
      drive(o, port, load, (id, due) => (proxyUri(id), s"($id,$due)"),
        math.max(2.0, o.seconds * 0.4), out.spans)
      reader.join()
      val drainStart = System.nanoTime()
      val firstRowsKey = "one_sec.proxyhouse.rows_sent"
      def missing = ch.synchronized {
        val m = load.acked.clone().asInstanceOf[java.util.BitSet]; m.andNot(ch.delivered); m
      }
      def settled = missing.isEmpty && ch.pendingReplays == 0 &&
        dlqLive(dir.resolve("errors")) == 0 &&
        gr.sum("one_sec.proxyhouse.requests_received") == load.ackedCount + 1 &&
        gr.sum(firstRowsKey) == ch.synchronized(ch.rows - ch.replayedRows)
      try waitFor("delivery of every ACKed row", drainStart + 60000000000L, p)(settled)
      catch { case e: IllegalStateException => out.problems += e.getMessage }
      sampler.stop()
      val rss = Probe.status(p.pid, "VmHWM") / 1024.0
      val cpu = Probe.cpuSeconds(p.pid)
      if (traced) freshDump(dir.resolve("trace.tsv"), p)
      out.e2e("setup_s") = Stats.median(setupS.toSeq)
      loadMetrics(o, load, ch.synchronized((1 to load.n1).filter(id =>
        id < ch.firstArrival.length && ch.firstArrival(id) > 0 && load.ack(id - 1) > 0)
        .map(id => (id - 1, (ch.firstArrival(id) - epochOf(load.due(id - 1))) / 1e6))), out)
      val readMs = reads.toArray.map(_ / 1e6)
      out.e2e("read_p50_ms") = Stats.pct(readMs, 50)
      out.e2e("read_p90_ms") = Stats.pct(readMs, 90)
      out.attempted += reads.length + readFails
      out.failed += readFails
      out.e2e("stored_bytes_ratio") = (Probe.bytes(dir.resolve("drop")) +
        Probe.bytes(dir.resolve("errors"))).toDouble / load.ackedBytes
      out.e2e("peak_rss_mb") = rss

      val lost = missing.cardinality()
      out.failed += lost
      if (lost > 0) out.problems += s"$lost ACKed ids never delivered"
      if (dlqLive(dir.resolve("errors")) > 0) out.problems += "DLQ not drained"
      val reported = gr.sum("one_sec.proxyhouse.requests_received")
      if (reported != load.ackedCount + 1)
        out.problems += s"Graphite reported $reported requests received, ${load.ackedCount + 1} ACKed"
      val firstRows = ch.synchronized(ch.rows - ch.replayedRows)
      if (gr.sum(firstRowsKey) != firstRows)
        out.problems += s"Graphite reported ${gr.sum(firstRowsKey)} rows sent, $firstRows delivered on first attempt"

      edgeMetrics(dir, sampler, (WarmSeconds + o.seconds).toDouble, out)
      if (traced) streamMetrics(dir.resolve("trace.tsv"), out)
      ch.synchronized {
        out.layer("sink.posts") = ch.posts.toDouble
        out.layer("sink.rows") = ch.rows.toDouble
        out.layer("sink.bytes_per_post") = ch.bytes.toDouble / math.max(1L, ch.posts)
        out.layer("sink.failed_posts") = ch.failedPosts.toDouble
        out.layer("dlq.spilled_groups") = ch.failedPosts.toDouble
        out.layer("dlq.replayed_groups") = ch.replayed.toDouble
        out.layer("dlq.recover_ms_p50") = Stats.pct(ch.recoverMs.toArray.map(_.toDouble), 50)
        var pass = -1L
        var passEnd = Long.MinValue
        for (k <- 0 until ch.spans.length / 3) {
          val (s, e, replay) = (ch.spans(3 * k), ch.spans(3 * k + 1), ch.spans(3 * k + 2))
          if (replay == 1) {
            if (s - passEnd > 1500000000L) pass += 1
            passEnd = e
            out.spans.add("replay_post", s"p$k", s"rp$pass", epochOf(s), epochOf(e))
          } else out.spans.add("post", s"p$k", "", epochOf(s), epochOf(e))
        }
        out.spans.group("replay_pass", "replay_post")
      }
      val groups = gr.sum("one_sec.proxyhouse.requests_sent") + gr.sum("one_sec.proxyhouse.ch_errors")
      out.layer("sink.send_ms_mean") =
        gr.sumMatching(k => k.startsWith("one_min.proxyhouse.byhost.") &&
          k.endsWith(".send_duration")).toDouble / math.max(1L, groups)
      out.layer("metrics.flushes") = gr.flushes.toDouble
      out.layer("metrics.rows_reported_ratio") = gr.sum(firstRowsKey).toDouble / math.max(1L, firstRows)
      out.layer("dlq.depth_max") = sampler.dlqMax.toDouble
      out.layer("dlq.drained") = if (dlqLive(dir.resolve("errors")) == 0) 1.0 else 0.0
      out.layer("jvm.cpu_s") = cpu
      notApplicable(out, "commit.versions", "commit.ms_p50", "commit.ms_max",
        "commit.files_added", "commit.bytes_written", "commit.log_bytes",
        "commit.checkpoints", "commit.rows_per_s", "read.resolve_ms_p50",
        "read.scan_ms_p50", "read.files_p50", "read.bytes_p50")
      stop(p)
      if (out.problems.isEmpty) Probe.deleteTree(dir)
      out
    } finally { ch.stop(); gr.stop() }
  }

  // --- lake_bulk -----------------------------------------------------------

  /** 64 table URIs, three formats; request `rid` has rows `rid*1000 + j`. */
  final class LakeTraffic(seed: Long, n: Int) {
    private val rnd = new java.util.Random(seed)
    private val cdf = {
      val w = (1 to 64).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private def draw(): (Int, Int, Int) = {
      val u = rnd.nextDouble()
      val t = cdf.indexWhere(_ >= u) match { case -1 => 63; case i => i }
      (t, rnd.nextInt(3), 20 + rnd.nextInt(181))
    }
    private val plan = Array.fill(n)(draw())
    def body(rid: Int, due: Long): (String, String) = {
      val (t, fmt, rows) = if (rid <= n && rid >= 1) plan(rid - 1) else draw()
      val sb = new java.lang.StringBuilder(rows * 32)
      for (j <- 0 until rows) {
        val id = rid.toLong * 1000 + j
        fmt match {
          case 0 => if (j > 0) sb.append(','); sb.append('(').append(id).append(',').append(due).append(')')
          case 1 => if (j > 0) sb.append('\n'); sb.append(id).append('\t').append(due)
          case _ => if (j > 0) sb.append('\n'); sb.append(id).append(',').append(due)
        }
      }
      val f = Seq("VALUES", "FORMAT%20TabSeparated", "FORMAT%20CSV")(fmt)
      (s"/?query=INSERT%20INTO%20t$t%20$f", sb.toString)
    }
  }

  final class LakeProc(val p: Process) {
    @volatile var visible = 0L
    @volatile var reads = 0L
    @volatile var done = false
    private val th = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach { l =>
        if (l.startsWith("VISIBLE ")) { visible = l.stripPrefix("VISIBLE ").toLong; reads += 1 }
        else if (l == "DONE") done = true
      }
    }, "perfbench-lake-stdout")
    th.setDaemon(true); th.start()
  }

  def startLake(o: Opts, dir: Path, traced: Boolean): (LakeProc, Int, Double, Int) = {
    val port = freePort()
    val t0 = System.nanoTime()
    val p = launch(o, "perfbench.LakeSystem", Seq("--listen", port.toString,
      "--drop", dir.resolve("drop").toString, "--table", dir.resolve("table").toString,
      "--checkpoint", dir.resolve("checkpoint").toString,
      "--out", dir.resolve("reader.tsv").toString, "--read-ms", "150"), dir, traced)
    val lp = new LakeProc(p)
    val deadline = t0 + 120000000000L
    val probeBody = s"(0,${epochNow()})"
    val probe = Http.post("/?query=INSERT%20INTO%20t0%20VALUES", probeBody)
    waitFor("lake edge", deadline, p)(Http.once(port, probe) == 200 || { Thread.sleep(20); false })
    waitFor("probe visibility", deadline, p)(lp.visible >= 1)
    (lp, port, secondsFrom(t0), probeBody.length)
  }

  def lakeBulk(o: Opts, traced: Boolean, launches: Int): Outcome = {
    val out = new Outcome
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (k <- 1 until launches) {
      val dir = o.work.resolve(s"lake-setup-$k")
      try {
        val (lp, _, s, _) = startLake(o, dir, traced = false)
        setupS += s
        stop(lp.p)
      } finally Probe.deleteTree(dir)
    }
    val dir = o.work.resolve(if (traced) "lake-traced" else "lake")
    Probe.deleteTree(dir)
    val (lp, port, s, probeLen) = startLake(o, dir, traced)
    val p = lp.p
    setupS += s
    val load = newLoad(o)
    val traffic = new LakeTraffic(o.seed, load.n1)
    val sampler = new Sampler(dir)
    drive(o, port, load, traffic.body, math.max(2.0, o.seconds / 8.0), out.spans)
    // the reader keeps its schedule until every ACKed row is visible and
    // it has taken at least 100 reads
    try waitFor("visibility of every ACKed row", System.nanoTime() + 60000000000L, p)(
      lp.visible >= load.ackedCount + 1 && lp.reads >= 100)
    catch { case e: IllegalStateException => out.problems += e.getMessage }
    sampler.stop()
    val rss = Probe.status(p.pid, "VmHWM") / 1024.0
    val cpu = Probe.cpuSeconds(p.pid)
    if (traced) freshDump(dir.resolve("trace.tsv"), p)
    val stdin = p.getOutputStream
    stdin.write("stop\n".getBytes(UTF_8)); stdin.flush()
    waitFor("final snapshot", System.nanoTime() + 60000000000L, p)(lp.done)
    p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    stop(p)

    val rows = Files.readAllLines(dir.resolve("reader.tsv")).asScala.map(_.split('\t')).toSeq
    val readRows = rows.filter(_(0) == "R")
    val seen = rows.filter(_(0) == "S").map(a => a(1).toInt -> a(2).toLong).toMap
    val fin = rows.find(_(0) == "F").get
    // a request is visible from the end of the first read whose version
    // is at least the one that added it
    val readEnds = readRows.map(a => (a(7).toLong, a(1).toLong + a(2).toLong + a(3).toLong))
      .sortBy(_._2)
    val visibleAt = mutable.LongMap.empty[Long]
    seen.values.toSeq.distinct.foreach(v =>
      readEnds.find(_._1 >= v).foreach(r => visibleAt(v) = r._2))
    val unseen = (1 to load.n1).count(r => seen.get(r).exists(v => !visibleAt.contains(v)))
    if (unseen > 0) {
      out.failed += unseen
      out.problems += s"$unseen open-loop requests in the final snapshot were never seen by a read"
    }
    out.e2e("setup_s") = Stats.median(setupS.toSeq)
    loadMetrics(o, load, (1 to load.n1).filter(r => load.ack(r - 1) > 0 &&
        seen.get(r).exists(visibleAt.contains))
      .map(r => (r - 1, (visibleAt(seen(r)) - epochOf(load.due(r - 1))) / 1e6)), out)
    val phase1End = epochOf(load.due(load.n1 - 1))
    val warmEnd = epochOf(load.due(load.warm))
    val steady = readRows.filter(a => a(1).toLong >= warmEnd && a(1).toLong <= phase1End)
    val readMs = steady.map(a => (a(2).toLong + a(3).toLong) / 1e6).toArray
    out.e2e("read_p50_ms") = Stats.pct(readMs, 50)
    out.e2e("read_p90_ms") = Stats.pct(readMs, 90)
    val readFails = rows.count(_(0) == "X")
    out.attempted += readRows.size + readFails
    out.failed += readFails
    val tableBytes = Probe.bytes(dir.resolve("table"))
    out.e2e("stored_bytes_ratio") = tableBytes.toDouble / load.ackedBytes
    out.e2e("peak_rss_mb") = rss

    val lost = (0 until load.acked.length()).count(i => load.acked.get(i) && !seen.contains(i))
    out.failed += lost
    if (lost > 0) out.problems += s"$lost ACKed requests missing from the final snapshot"
    val (cnt, idSum, bodyBytes) = (fin(1).toLong, fin(2).toLong, fin(3).toLong)
    val want = (load.ackedCount + 1, load.ackedIdSum, load.ackedBytes + probeLen)
    if ((cnt, idSum, bodyBytes) != want)
      out.problems += s"final snapshot has (rows, id sum, body bytes) = " +
        s"${(cnt, idSum, bodyBytes)}, ACKed $want"

    edgeMetrics(dir, sampler, (WarmSeconds + o.seconds).toDouble, out)
    if (traced) {
      val data = streamMetrics(dir.resolve("trace.tsv"), out)
      def p50(xs: Seq[Double]) = Stats.pct(xs.toArray, 50)
      out.layer("commit.ms_p50") = p50(data.map(_.addBatch.toDouble))
      out.layer("commit.ms_max") = if (data.isEmpty) 0.0 else data.map(_.addBatch).max.toDouble
      out.layer("commit.rows_per_s") = cnt * 1000.0 / math.max(1L, data.map(_.addBatch).sum)
    }
    val table = dir.resolve("table")
    val files = Probe.files(table)
    def under(f: Path, top: String) = table.relativize(f).getName(0).toString == top
    val dataFiles = files.filter(f => f.getFileName.toString.endsWith(".parquet") &&
      !under(f, "log") && !under(f, "log_ckpt") && !f.getFileName.toString.startsWith("."))
    out.layer("commit.versions") = fin(4).toDouble + 1
    out.layer("commit.files_added") = dataFiles.size.toDouble
    out.layer("commit.bytes_written") = dataFiles.map(Files.size).sum.toDouble
    out.layer("commit.log_bytes") = files.filter(f => under(f, "log") || under(f, "log_ckpt"))
      .map(Files.size).sum.toDouble
    out.layer("commit.checkpoints") = Option(table.resolve("log_ckpt").toFile.listFiles())
      .map(_.count(_.getName.startsWith("c="))).getOrElse(0).toDouble
    out.layer("read.resolve_ms_p50") = Stats.pct(steady.map(_(2).toLong / 1e6).toArray, 50)
    out.layer("read.scan_ms_p50") = Stats.pct(steady.map(_(3).toLong / 1e6).toArray, 50)
    out.layer("read.files_p50") = Stats.pct(steady.map(_(4).toDouble).toArray, 50)
    out.layer("read.bytes_p50") = Stats.pct(steady.map(_(5).toDouble).toArray, 50)
    out.layer("jvm.cpu_s") = cpu
    notApplicable(out, "sink.posts", "sink.rows", "sink.bytes_per_post",
      "sink.failed_posts", "sink.send_ms_mean", "metrics.flushes",
      "metrics.rows_reported_ratio", "dlq.spilled_groups", "dlq.depth_max",
      "dlq.replayed_groups", "dlq.recover_ms_p50", "dlq.drained")
    readRows.zipWithIndex.foreach { case (a, k) =>
      val (st, res, scan) = (a(1).toLong, a(2).toLong, a(3).toLong)
      out.spans.add("read", s"q$k", "", st, st + res + scan)
      out.spans.add("read_resolve", s"qr$k", s"q$k", st, st + res)
      out.spans.add("read_scan", s"qs$k", s"q$k", st + res, st + res + scan)
    }
    if (out.problems.isEmpty) Probe.deleteTree(dir)
    out
  }

  // --- operators (traced lake_bulk run) ------------------------------------------

  val opsFields = Seq("wall_s", "build_s", "jobs", "tasks", "executor_s",
    "shuffle_bytes", "spill_bytes", "input_bytes", "driver_gap_s")
  val opsMetrics: Seq[String] =
    QuerySystem.Entries.flatMap { case (f, _) => opsFields.map(k => s"ops.$f.$k") } ++
      Seq("query.build_s", "query.mix_s", "query.mix_geomean_s")

  /** Runs `perfbench.QuerySystem` traced and fills the operators layer:
    * per family, the steady pass's wall time, jobs and task totals, the
    * build pass's wall time, and the driver gap (the part of the steady
    * call no job covers). Each call's row count and hash must equal the
    * fingerprints recorded from the seed code. */
  def operators(o: Opts, out: Outcome): Unit = {
    val dir = o.work.resolve("query")
    Probe.deleteTree(dir)
    val p = launch(o, "perfbench.QuerySystem", Seq("--data", dir.resolve("data").toString),
      dir, traced = true)
    val lines = mutable.ArrayBuffer.empty[Array[String]]
    try {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
      Iterator.continually(in.readLine()).takeWhile(l => l != null && l != "DONE")
        .foreach(l => if (l.startsWith("E\t") || l.startsWith("X\t")) lines += l.split('\t'))
      freshDump(dir.resolve("trace.tsv"), p)
    } finally stop(p)
    val want = Files.readAllLines(o.fingerprints).asScala.filter(_.nonEmpty)
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap
    val calls = lines.collect { case a if a(0) == "E" =>
      (a(1), a(2)) -> (a(3).toLong, a(4).toLong, a(5).toLong, a(6)) }.toMap
    for (pass <- QuerySystem.Passes; (_, name) <- QuerySystem.Entries) {
      out.attempted += 1
      calls.get((pass, name)) match {
        case None =>
          out.failed += 1
          val err = lines.find(a => a(0) == "X" && a(1) == pass && a(2) == name)
            .map(_.drop(3).mkString(" ")).getOrElse("no result")
          out.problems += s"$pass pass of $name: $err"
        case Some((_, _, rows, hash)) if !want.get(name).contains((rows, hash)) =>
          out.failed += 1
          out.problems += s"$pass pass of $name returned $rows rows with hash $hash, " +
            s"recorded ${want.get(name).map(w => s"${w._1} rows with hash ${w._2}").getOrElse("nothing")}"
        case _ => ()
      }
    }
    val (_, js, _) = readDump(dir.resolve("trace.tsv"))
    val jobsOf = js.groupBy(_.entry)
    def wallS(pass: String, name: String) = calls.get((pass, name)).map(_._2 / 1e9).getOrElse(Double.NaN)
    QuerySystem.Entries.foreach { case (f, name) =>
      val jobs = jobsOf.getOrElse(s"steady:$name", Nil)
      val (start, wall) = calls.get(("steady", name)).map(c => (c._1, c._2)).getOrElse((0L, 0L))
      val (s0, s1) = (start / 1000000L, (start + wall) / 1000000L)
      out.layer(s"ops.$f.wall_s") = wallS("steady", name)
      out.layer(s"ops.$f.build_s") = wallS("build", name)
      out.layer(s"ops.$f.jobs") = jobs.size.toDouble
      out.layer(s"ops.$f.tasks") = jobs.map(_.tasks).sum.toDouble
      out.layer(s"ops.$f.executor_s") = jobs.map(_.execMs).sum / 1e3
      out.layer(s"ops.$f.shuffle_bytes") = jobs.map(_.shuffle).sum.toDouble
      out.layer(s"ops.$f.spill_bytes") = jobs.map(_.spill).sum.toDouble
      out.layer(s"ops.$f.input_bytes") = jobs.map(_.input).sum.toDouble
      out.layer(s"ops.$f.driver_gap_s") = (s1 - s0 - covered(jobs.map(j =>
        (math.max(j.start, s0), math.min(if (j.end < 0) j.start else j.end, s1))))) / 1e3
      for (pass <- Seq("build", "steady"); c <- calls.get((pass, name))) {
        out.spans.add("entry", s"$pass:$name", "", c._1, c._1 + c._2)
        jobsOf.getOrElse(s"$pass:$name", Nil).foreach(j => out.spans.add("entry_job",
          s"qj${j.id}", s"$pass:$name", j.start * 1000000L, math.max(j.start, j.end) * 1000000L))
      }
    }
    val steady = QuerySystem.Entries.map { case (_, n) => wallS("steady", n) }
    out.layer("query.build_s") = QuerySystem.Entries.map { case (_, n) => wallS("build", n) }.sum
    out.layer("query.mix_s") = steady.sum
    out.layer("query.mix_geomean_s") = math.exp(steady.map(math.log).sum / steady.size)
    if (out.problems.isEmpty) Probe.deleteTree(dir)
  }

  // --- entry point -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("rate").toDouble, Paths.get(a("work")).toAbsolutePath,
      a("system-cp"), a("log4j"), Paths.get(a("fingerprints")),
      Runtime.getRuntime.availableProcessors())
    Files.createDirectories(o.work)
    val calib = Probe.calibrate()
    println(f"calibration probe: $calib%.3f s (fixed CPU loop; compare only runs on one box)")
    val run: (Opts, Boolean, Int) => Outcome = o.workload match {
      case "proxy_tiny" => proxyTiny
      case "lake_bulk" => lakeBulk
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val result = if (!o.trace) run(o, false, SetupLaunches) else {
      // the same seed untraced, then traced: the gap is the tracing overhead
      val plain = run(o, false, 1)
      val traced = run(o, true, 1)
      def pct(k: String, higherIsBetter: Boolean): Double = {
        val (p, t) = (plain.e2e(k), traced.e2e(k))
        100.0 * (if (higherIsBetter) p - t else t - p) / p
      }
      traced.layer("trace.overhead_ack_p50_pct") = pct("ack_p50_ms", higherIsBetter = false)
      traced.layer("trace.overhead_fresh_p50_pct") = pct("fresh_p50_ms", higherIsBetter = false)
      traced.layer("trace.overhead_accept_rps_pct") = pct("accept_rps", higherIsBetter = true)
      // end-to-end figures whose run-to-run spread on this box exceeded
      // the largest bound a benchmark may set; reported here unbounded
      Seq("accept_rps", "ack_p99_ms", "fresh_p99_ms", "read_p90_ms")
        .foreach(k => traced.layer(s"tail.$k") = traced.e2e(k))
      traced.attempted += plain.attempted
      traced.failed += plain.failed
      traced.problems ++= plain.problems
      if (o.workload == "lake_bulk") operators(o, traced)
      else notApplicable(traced, opsMetrics: _*)
      val spanFile = o.work.resolve(s"${o.workload}.spans.tsv")
      traced.spans.write(spanFile)
      println(s"spans: ${traced.spans.size} written to $spanFile; self time by span:")
      traced.spans.selfTimes().foreach { case (name, n, total, self) =>
        println(f"  $name%-14s $n%8d spans $total%12.1f ms total $self%12.1f ms self")
      }
      traced
    }
    result.layer("calib.probe_s") = calib
    result.problems.foreach(p => println(s"problem: $p"))
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val values = if (o.trace) result.layer else result.e2e
    println(s"""{"correct":${result.problems.isEmpty},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"values":${obj(values)}}""")
    sys.exit(0)
  }
}

/** Spans recorded around the benchmark's own calls into each layer, kept
  * in memory and written out once at the end. */
final class SpanLog {
  private val names = mutable.ArrayBuffer.empty[String]
  private val ids = mutable.ArrayBuffer.empty[String]
  private val parents = mutable.ArrayBuffer.empty[String]
  private val starts = new LongBuf()
  private val ends = new LongBuf()

  def size: Int = names.size

  def add(name: String, id: String, parent: String, start: Long, end: Long): Unit = {
    names += name; ids += id; parents += parent; starts += start; ends += end
  }

  /** Adds one `name` span over each set of `child` spans sharing a parent. */
  def group(name: String, child: String): Unit = {
    val kids = names.indices.filter(names(_) == child).groupBy(parents(_))
    kids.toSeq.sortBy(_._1).foreach { case (pid, ks) =>
      add(name, pid, "", ks.map(starts(_)).min, ks.map(ends(_)).max)
    }
  }

  /** (name, count, total ms, self ms): self time is a span's duration less
    * the part of it its children cover. */
  def selfTimes(): Seq[(String, Int, Double, Double)] = {
    val kids = names.indices.filter(parents(_).nonEmpty).groupBy(parents(_))
    names.indices.groupBy(names(_)).toSeq.sortBy(_._1).map { case (name, is) =>
      val total = is.map(i => ends(i) - starts(i)).sum
      val self = is.map { i =>
        val cs = kids.getOrElse(ids(i), Nil).map(c =>
          (math.max(starts(c), starts(i)), math.min(ends(c), ends(i))))
        ends(i) - starts(i) - Driver.covered(cs.filter(c => c._2 > c._1))
      }.sum
      (name, is.size, total / 1e6, self / 1e6)
    }
  }

  def write(f: Path): Unit = {
    val sb = new StringBuilder("name\tid\tparent\tstart_ns\tend_ns\n")
    names.indices.foreach(i => sb.append(names(i)).append('\t').append(ids(i)).append('\t')
      .append(parents(i)).append('\t').append(starts(i)).append('\t').append(ends(i)).append('\n'))
    Files.write(f, sb.toString.getBytes(UTF_8))
  }
}
