package graft

/** Times declared queries: `sbt "runMain graft.TimeQ [--runs N] <query
  * names...>"` warms each at sf0.001, then runs it N times (default 2) at
  * `SPARK_GRAFT_SF_DIR` and prints one `name: pass1=… passN=…` line. */
object TimeQ {
  def main(argv: Array[String]): Unit = {
    val (runs, args) = argv.toList match {
      case "--runs" :: n :: rest => (n.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"--runs must be a positive integer, got '$n'")), rest)
      case rest => (2, rest)
    }
    args.filterNot(SparkEntry.queries.contains).foreach { q =>
      throw new IllegalArgumentException(
        s"not a declared query: '$q' (usage: TimeQ [--runs N] <query names...>)")
    }
    val spark = Harness.session("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { q => SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count() } // warm
    args.foreach { q =>
      val passes = (1 to runs).map { i =>
        val (s, _) = Harness.timed(SparkEntry.queries(q)(spark, sf).count())
        f"pass$i=$s%.2f"
      }
      println(s"$q: ${passes.mkString(" ")}")
    }
    spark.stop()
  }
}
