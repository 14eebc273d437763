package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{HttpReceiver, RequestSource}
import graft.streaming.CommitLogIngest

/** The system under test for `lake_bulk`: the public parts that
  * `graft.IngestBench` wires in its lake mode, as one process — the JDK
  * HTTP edge spooling into a drop directory, `RequestSource.fileStream`,
  * and the `graft-commitlog` streaming sink on a 2 s trigger — plus a
  * reader thread that takes snapshot reads of the live table on a fixed
  * schedule, the way a consumer beside the writer would.
  *
  * Each read resolves `CommitLogIngest.snapshot` (timed alone) and then
  * counts the visible rows (timed alone); one `VISIBLE <rows>` line goes
  * to stdout after it. On `stop` from stdin the reader ends and the final
  * snapshot is read twice: once for its count, id sum and body bytes, and
  * once for the version that added each request. A request is visible
  * from the end of the first read of a version at least that one.
  * Everything is written as TSV to `--out`:
  *   R start_epoch_ns resolve_ns scan_ns files bytes rows version
  *   S rid version
  *   F count id_sum body_bytes version
  *   X error (a read that threw)
  * (A reader that collected every id on each read was tried first: its
  * reads grew with the table and their cadence made freshness vary by
  * more than a second from run to run.)
  *
  * Usage: LakeSystem --listen P --drop D --table T --checkpoint C --out F
  * --read-ms N */
object LakeSystem {

  /** A request id is the first field of its first row divided by 1000:
    * every format the load generator sends starts with that id. */
  val ridExpr = expr(
    "cast(regexp_extract(substring(body, 1, 24), '^[(]?([0-9]+)', 1) " +
      "as bigint) div 1000")

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val table = opts("table")
    val readMs = opts("read-ms").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName("perfbench-lake")
      .config("spark.sql.shuffle.partitions", cpus)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)

    val rx = new HttpReceiver(opts("drop"), opts("listen").toInt).start()
    val q = RequestSource.fileStream(spark, opts("drop")).select("uri", "body")
      .writeStream.format("graft-commitlog")
      .option("path", table)
      .option("checkpointLocation", opts("checkpoint"))
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()

    val reads = new StringBuilder
    @volatile var running = true
    val reader = new Thread(() => {
      var due = System.nanoTime()
      while (running) {
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        due = math.max(due + readMs * 1000000L, System.nanoTime())
        if (running && CommitLogIngest.latestVersion(table) >= 0) try {
          val start = epochNs()
          val t0 = System.nanoTime()
          val version = CommitLogIngest.latestVersion(table)
          val snap = CommitLogIngest.snapshot(spark, table, version)
          val t1 = System.nanoTime()
          val rows = snap.count()
          val t2 = System.nanoTime()
          val files = snap.inputFiles
          val bytes = files.map(f => Files.size(Paths.get(new java.net.URI(f))))
            .sum
          reads.append(Seq("R", start, t1 - t0, t2 - t1, files.length, bytes,
            rows, version).mkString("\t")).append('\n')
          println(s"VISIBLE $rows")
        } catch { case e: Exception =>
          reads.append(s"X\t${e.toString.replaceAll("\\s+", " ")}\n")
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()
    println("READY")

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    Iterator.continually(in.readLine()).takeWhile(l => l != null && l != "stop")
      .foreach(_ => ())
    running = false
    reader.join()
    val version = CommitLogIngest.latestVersion(table)
    val fin = CommitLogIngest.snapshot(spark, table, version)
      .agg(count(lit(1)), coalesce(sum(ridExpr), lit(0L)),
        coalesce(sum(length(col("body")).cast("long")), lit(0L))).head()
    // file names repeat across versions, so a row's file is matched on
    // the whole path the log recorded for it
    val added = spark.read.parquet(s"$table/log").filter(col("action") === "add")
      .select(col("path"), col("version").cast("long"))
    val out = new StringBuilder
    out.append(reads)
    CommitLogIngest.snapshot(spark, table, version)
      .select(ridExpr.as("rid"), input_file_name().as("file"))
      .join(added, col("file").endsWith(col("path"))).select("rid", "version").collect()
      .foreach(r => out.append(s"S\t${r.getLong(0)}\t${r.getLong(1)}\n"))
    out.append(Seq("F", fin.getLong(0), fin.getLong(1), fin.getLong(2), version)
      .mkString("\t")).append('\n')
    Files.write(Paths.get(opts("out")), out.toString.getBytes(UTF_8))
    q.stop(); rx.stop(); spark.stop()
    println("DONE")
  }
}
