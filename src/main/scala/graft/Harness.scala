package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession, and the one stopwatch the
  * measuring mains share.
  *
  * The core count comes from `SPARK_GRAFT_CPUS`, else every processor the
  * JVM sees; it sizes the local master and the shuffle partitions. Every
  * session gets the graft extensions and the table catalog; callers pass
  * only the confs that are theirs alone. */
object Harness {

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Session for the measuring and inspection mains: `local[cpus]` unless
    * the launcher already set `spark.master`, the UI off, and `logLevel`
    * on the Spark context. */
  def session(logLevel: String, confs: (String, String)*): SparkSession = {
    val spark = build(local = true, confs)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Session for the deployed `ProxyApp`: master, UI and logging stay as
    * its launcher set them. */
  def deployed(): SparkSession =
    build(local = false, Seq("spark.app.name" -> "proxyhousespark"))

  private def build(local: Boolean,
      confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .withExtensions(new graft.plans.GraftExtensions)
    if (local) {
      if (!sys.props.contains("spark.master")) b.master(s"local[$cpus]")
      b.config("spark.ui.enabled", "false")
    }
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark
  }

  /** Seconds `f` took, with what it returned. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The faster of two runs of `f` — the suite's measurement discipline. */
  def minOf2[T](f: => T): (Double, T) = {
    val a = timed(f)
    val b = timed(f)
    if (a._1 <= b._1) a else b
  }
}
