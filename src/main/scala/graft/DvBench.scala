package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Deletion-vector economics, measured (the E-157 claim is quantitative:
  * a selective delete should cost O(matched positions) written instead
  * of O(affected files) rewritten, in exchange for a bounded read tax
  * until OPTIMIZE materializes). Two identical documents-backed tables,
  * one copy-on-write and one DV; the SAME selective delete on each:
  *
  *  - `cow_delete_s` / `dv_delete_s`: wall time of the DELETE commit;
  *  - `cow_bytes_written` / `dv_bytes_written`: bytes the commit landed
  *    (rewritten data files vs mask rows) — the headline ratio;
  *  - `read_clean_s` / `read_masked_s` / `read_optimized_s`: full-scan
  *    census latency before the delete, with the mask live, and after
  *    OPTIMIZE materializes — the read-tax story, min-of-two each;
  *  - `parity`: both tables' post-delete censuses must match exactly or
  *    the bench refuses to report.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.DvBench"` — one
  * JSON line on stdout (recorded in BENCH_STREAM.json / BENCH_NOTES.md). */
object DvBench {

  private def tmp(): String =
    Files.createTempDirectory("graft-dvbench").toString

  private def dirBytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else {
      val s = Files.walk(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
      } finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("WARN")

    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val root = tmp()
    val cow = s"$root/cow"
    val dv = s"$root/dv"
    Seq(cow -> false, dv -> true).foreach { case (t, enable) =>
      val w = docs.write.format("graft-commitlog").option("path", t)
        .option("statsCol", "doc_id").mode("append")
      (if (enable) w.option("enableDv", "true") else w).save()
    }
    // ~0.1% selective and HASH-spread — the GDPR-purge shape: a few
    // rows in EVERY file (the driver's corpus stripes doc_id mod-100
    // across files, so a modulo predicate would hit one file and
    // flatter copy-on-write), forcing CoW to rewrite the whole set
    val pred = pmod(hash(col("doc_id")), lit(1000)) === 7

    def census(t: String) = CommitLogIngest.snapshot(spark, t)
      .agg(count(lit(1)), sum(col("n_chars").cast("long")))
      .collect()(0)

    val readClean = Harness.minOf2(census(cow))._1

    val (cowDeleteS, (_, cowFiles)) = Harness.timed(
      CommitLogIngest.deleteWhere(spark, cow, pred, statsCol = Some("doc_id")))
    // bytes the CoW delete wrote = the rewrite's add files
    val cowV = CommitLogIngest.latestVersion(cow)
    val cowAdds = spark.read.parquet(s"$cow/log/version=$cowV")
      .filter(col("action") === "add").select("path").collect()
      .map(_.getString(0))
    val cowBytes = cowAdds.map(p => Files.size(Paths.get(p))).sum

    val (dvDeleteS, (dvV, dvFiles)) = Harness.timed(
      CommitLogIngest.deleteWhere(spark, dv, pred, statsCol = Some("doc_id")))
    val dvBytes = dirBytes(CommitLogIngest.dvDir(dv, dvV))

    // parity before reporting anything
    val a = census(cow); val b = census(dv)
    require(a == b, s"post-delete censuses diverge: cow=$a dv=$b")

    val readMasked = Harness.minOf2(census(dv))._1
    val optimizeS = Harness.timed(
      CommitLogIngest.optimize(spark, dv, statsCol = Some("doc_id")))._1
    require(census(dv) == a, "OPTIMIZE changed the census")
    val readOptimized = Harness.minOf2(census(dv))._1

    // UPDATE economics (round-12 verdict task 3): the same hash-spread
    // ~0.1% selectivity, n_chars bumped in place — CoW rewrites every
    // affected file, DV writes mask rows + only the re-appended
    // post-image rows. Runs on the post-OPTIMIZE tables so both sides
    // start from clean files.
    val updPred = pmod(hash(col("doc_id")), lit(1000)) === 13
    val updSet: Map[String, org.apache.spark.sql.Column] =
      Map("n_chars" -> (col("n_chars") + lit(1000)))
    val (cowUpdateS, (_, cowUpdFiles)) = Harness.timed(CommitLogIngest
      .updateWhere(spark, cow, updPred, updSet, statsCol = Some("doc_id")))
    val cowUpdV = CommitLogIngest.latestVersion(cow)
    val cowUpdBytes = spark.read.parquet(s"$cow/log/version=$cowUpdV")
      .filter(col("action") === "add").select("path").collect()
      .map(r => Files.size(Paths.get(r.getString(0)))).sum
    val (dvUpdateS, (dvUpdV, dvUpdFiles)) = Harness.timed(CommitLogIngest
      .updateWhere(spark, dv, updPred, updSet, statsCol = Some("doc_id")))
    val dvUpdBytes = dirBytes(CommitLogIngest.dvDir(dv, dvUpdV)) +
      spark.read.parquet(s"$dv/log/version=$dvUpdV")
        .filter(col("action") === "add").select("path").collect()
        .map(r => Files.size(Paths.get(r.getString(0)))).sum
    val a2 = census(cow); val b2 = census(dv)
    require(a2 == b2, s"post-update censuses diverge: cow=$a2 dv=$b2")

    def r3(d: Double) = math.rint(d * 1000) / 1000
    // the PRE-delete table shape (version 0 = the build commit)
    val tableFiles = CommitLogIngest.liveFiles(spark, cow, 0L)
    println(
      s"""{"metric":"dv_delete_economics","sf_dir":"$sfDir",""" +
        s""""table_files":${tableFiles.size},""" +
        s""""table_bytes":${tableFiles
          .map(p => Files.size(Paths.get(p))).sum},""" +
        s""""cow_delete_s":${r3(cowDeleteS)},""" +
        s""""dv_delete_s":${r3(dvDeleteS)},""" +
        s""""cow_files_rewritten":$cowFiles,"dv_files_masked":$dvFiles,""" +
        s""""cow_bytes_written":$cowBytes,"dv_bytes_written":$dvBytes,""" +
        s""""read_clean_s":${r3(readClean)},""" +
        s""""read_masked_s":${r3(readMasked)},""" +
        s""""optimize_s":${r3(optimizeS)},""" +
        s""""read_optimized_s":${r3(readOptimized)},""" +
        s""""cow_update_s":${r3(cowUpdateS)},""" +
        s""""dv_update_s":${r3(dvUpdateS)},""" +
        s""""cow_upd_files_rewritten":$cowUpdFiles,""" +
        s""""dv_upd_files_masked":$dvUpdFiles,""" +
        s""""cow_upd_bytes_written":$cowUpdBytes,""" +
        s""""dv_upd_bytes_written":$dvUpdBytes,"parity":true}""")
    graft.sources.LayoutDirs.deleteQuiet(root)
    spark.stop()
  }
}
