package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job wall-clock probe for any declared query or shared build: runs
  * the target once cold (after the usual sf0.001 warm pass) and prints one
  * line per Spark job — start offset, duration, stage count, description —
  * plus the total. The measurement tool behind the round-15 "where does a
  * 5-second entry on 5000 rows actually go" question: at sf0.1 most slow
  * entries are sequences of tiny jobs, so the fix target is the ACTION
  * COUNT and the gaps between jobs, not any one stage's data work.
  *
  * Usage: `sbt "runMain graft.JobProbe shared_dedup_pairs"` (shared build
  * names resolve to their materializers; anything else to the declared
  * query's count()). */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("ERROR")

    val starts = new ConcurrentHashMap[Int, (Long, Int, String)]()
    @volatile var t0 = 0L
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording) starts.put(j.jobId, (System.nanoTime(), j.stageInfos.size,
          Option(j.properties).map(_.getProperty("spark.job.description", ""))
            .getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (recording) Option(starts.get(j.jobId)).foreach { case (s, n, d) =>
          println(f"  job ${j.jobId}%4d  +${(s - t0) / 1e9}%7.3fs  " +
            f"${(System.nanoTime() - s) / 1e9}%7.3fs  stages=$n%-3d $d")
        }
    })

    def run(name: String): Unit = {
      val build = SharedArtifacts.builds.toMap.getOrElse(name,
        (s: SparkSession, d: String) => { SparkEntry.queries(name)(s, d).count(); () })
      val thunk = (d: String) => build(spark, d)
      thunk("/root/testdata/sf0.001") // warm code paths, small SF
      SharedArtifacts.clearAll()
      println(s"== $name @ $sf")
      recording = true
      t0 = System.nanoTime()
      thunk(sf)
      val total = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(200) // let listener drain
      println(f"== total ${total}%.3f s")
    }

    args.foreach(run)
    spark.stop()
  }
}
