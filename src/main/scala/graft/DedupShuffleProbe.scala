package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-volume probe for the shared dedup pair build (round-15
  * optimization evidence, VERDICT r14 Next #1): times
  * `Dedup.ngramJaccard` at one SF and reports the job's total shuffle
  * read/write bytes from stage metrics — the number the verdict asked to
  * halve at sf10. `SPARK_GRAFT_VERIFY_BCAST_MAX=0` forces the
  * verify-phase SHUFFLE regime (the 100 TB join strategy) so the probe
  * measures the regime that failed at sf100, not the broadcast fast
  * path.
  *
  * Usage: `SPARK_GRAFT_VERIFY_BCAST_MAX=0 sbt "runMain
  * graft.DedupShuffleProbe target/sf10"` — one JSON line on stdout. */
object DedupShuffleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Harness.session("WARN")
    val sw = new java.util.concurrent.atomic.AtomicLong
    val sr = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    val (secs, pairs) =
      Harness.timed(graft.operators.Dedup.ngramJaccard(spark, sfDir).count())
    val fmt = String.format(java.util.Locale.ROOT, "%.2f", Double.box(secs))
    println(s"""{"probe":"dedup_pairs","sf":"$sfDir","pairs":$pairs,""" +
      s""""build_s":$fmt,"shuffle_write_b":${sw.get},""" +
      s""""shuffle_read_b":${sr.get},"bcast_max":"${sys.env
        .getOrElse("SPARK_GRAFT_VERIFY_BCAST_MAX", "default")}"}""")
    spark.stop()
  }
}
