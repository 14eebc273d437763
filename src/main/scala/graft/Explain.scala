package graft

/** Plan-inspection utility: `sbt "runMain graft.Explain <query names...>"`
  * prints `explain("formatted")` for each registered query — used to keep
  * pushdown/pruning/broadcast/codegen properties honest (see PLANS.md).
  *
  * Optional session confs (e.g. scale-gate dials) let a plan dump show the
  * at-scale branch of a gated operator:
  *   GRAFT_EXPLAIN_CONF="graft.equiHist.smallInputMaxBytes=0" */
object Explain {

  /** `k=v` entries separated by commas. An empty string holds no entries;
    * an entry with no `=` or an empty key (a trailing comma leaves one
    * empty entry) is rejected, naming it. */
  def parseConf(spec: String): Seq[(String, String)] =
    if (spec.isEmpty) Nil
    else spec.split(",", -1).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"GRAFT_EXPLAIN_CONF entry '$kv' is not of the form key=value")
      }
    }

  def main(args: Array[String]): Unit = {
    val confs = parseConf(sys.env.getOrElse("GRAFT_EXPLAIN_CONF", ""))
    val spark = Harness.session("ERROR", confs: _*)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
