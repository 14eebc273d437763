package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-process half of the traced run. Both listener classes are injected
  * into the system under test through configuration only
  * (`spark.extraListeners` and `spark.sql.streaming.streamingQueryListeners`),
  * so the system's own code is unchanged. They record job spans (with the
  * micro-batch or the query entry that caused them: the entry is the
  * `perfbench.entry` local property), task totals per job and every streaming
  * progress event, keep them in memory, and rewrite one TSV dump every
  * 500 ms to the path named by the `perfbench.trace.out` system property.
  * `perfbench.Driver` reads the last dump before it stops the system. */
object TraceState {
  // job id -> mutable job record
  final class Job(val id: Int, val startMs: Long, val queryId: String,
      val batchId: String, val entry: String) {
    @volatile var endMs = -1L
    var tasks = 0L
    var execMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("-")
    jobs.put(e.jobId, new Job(e.jobId, e.time, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), prop("perfbench.entry")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { job =>
      job.synchronized {
        job.tasks += 1
        job.execMs += m.executorRunTime
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        job.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala
    def dur(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
    val src = p.sources.headOption.map(_.description.split('[').head).getOrElse("-")
    val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.add(Seq("P", p.id.toString, src, p.batchId, ts, p.numInputRows,
      dur("triggerExecution"), dur("addBatch"), dur("getBatch"),
      dur("latestOffset"), dur("queryPlanning"), dur("walCommit")).mkString("\t"))
  }

  private def dump(path: String): Unit = {
    val sb = new StringBuilder
    progress.asScala.foreach(l => sb.append(l).append('\n'))
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      j.synchronized {
        sb.append(Seq("J", j.id, j.queryId, j.batchId, j.startMs, j.endMs,
          j.tasks, j.execMs, j.shuffleBytes, j.entry, j.spillBytes, j.inputBytes)
          .mkString("\t")).append('\n')
      }
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    sb.append(s"G\t$gcMs\n")
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private lazy val writer: Unit = Option(System.getProperty("perfbench.trace.out"))
    .foreach { path =>
      val t = new Thread(() => {
        while (true) {
          try dump(path) catch { case e: Exception =>
            System.err.println(s"[perfbench] trace dump failed: $e") }
          Thread.sleep(500)
        }
      }, "perfbench-trace-dump")
      t.setDaemon(true)
      t.start()
    }

  def ensureWriter(): Unit = writer
}

class TraceListener extends SparkListener {
  TraceState.ensureWriter()
  override def onJobStart(e: SparkListenerJobStart): Unit = TraceState.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = TraceState.onJobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = TraceState.onTaskEnd(e)
}

class TraceQueryListener extends StreamingQueryListener {
  TraceState.ensureWriter()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    TraceState.onProgress(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
