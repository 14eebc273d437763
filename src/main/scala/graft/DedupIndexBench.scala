package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.DedupIndex
import graft.streaming.CommitLogIngest

/** The incremental-dedup economics, measured (the round-13 verdict task
  * 1 "Done" bar: a bench row showing the incremental pass costs
  * O(delta), not O(corpus)). One documents-backed commit-log table:
  *
  *  - 31/32 of the corpus lands as history, the index initializes over
  *    it (the one unavoidable O(corpus) pass, reported as `init_s`);
  *  - the remaining 1/32 arrives as a delta append;
  *  - `advance_s`: wall time to advance the index through the delta
  *    (CDF read + delta-only shingling + keyed merge);
  *  - `new_pairs_s`: "which near-dup pairs did the delta introduce?"
  *    answered from delta signatures probed against the index;
  *  - `full_sig_s` / `full_pairs_s`: the recompute-the-world
  *    comparators — re-shingle the WHOLE corpus and re-run the band
  *    self-join (what d_minhash_lsh pays every run);
  *  - `speedup`: full_pairs_s / (advance_s + new_pairs_s).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.DedupIndexBench"`
  * — one JSON line on stdout (recorded in BENCH_NOTES.md). */
object DedupIndexBench {

  /** Bytes READ by every task between reset() and sum — the O(delta)
    * evidence: wall time at small SF is fixed-cost noise (a dozen tiny
    * Spark jobs per commit), but bytes read scale with what each path
    * actually opens. */
  private final class ReadMeter extends org.apache.spark.scheduler.SparkListener {
    private val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    def reset(): Unit = bytes.set(0)
    def sum(): Long = {
      // the listener bus is async (and its drain API is private): poll
      // until the count is stable — phases are seconds apart, so a
      // stable 200 ms window is conclusive
      var prev = -1L
      var cur = bytes.get()
      var waited = 0
      while (cur != prev && waited < 3000) {
        Thread.sleep(200); waited += 200
        prev = cur; cur = bytes.get()
      }
      cur
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("ERROR")
    val root = Files.createTempDirectory("graft-didx-bench").toString
    val base = root + "/base"
    val index = root + "/index"
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    def append(pred: org.apache.spark.sql.Column): Unit =
      docs.filter(pred)
        .write.format("graft-commitlog").option("path", base)
        .option("statsCol", "doc_id").option("enableCdf", "true")
        .mode("append").save()
    val meter = new ReadMeter
    spark.sparkContext.addSparkListener(meter)
    append(col("doc_id") % 32 =!= 0) // history: 31/32 of the corpus
    val initS = Harness.timed(
      DedupIndex.init(spark, base, index, baseVersion = 0L))._1
    val corpusDocs = CommitLogIngest.snapshot(spark, base).count()
    append(col("doc_id") % 32 === 0) // the delta batch
    val deltaDocs = CommitLogIngest.snapshot(spark, base).count() -
      corpusDocs
    meter.reset()
    if (sys.env.contains("GRAFT_ADVANCE_TRACE"))
      spark.sparkContext.setLogLevel("INFO")
    val advanceS = Harness.timed(DedupIndex.advance(spark, base, index))._1
    spark.sparkContext.setLogLevel("ERROR")
    val (newPairsS, newPairs) = Harness.timed(
      DedupIndex.newPairsAt(spark, base, index, version = 1L).count())
    val incrBytes = meter.sum()
    // the recompute-the-world comparators over the SAME final corpus
    val snap = CommitLogIngest.snapshot(spark, base).select("doc_id", "text")
    meter.reset()
    val fullSigS = Harness.timed(DedupIndex.sigRows(snap).count())._1
    val (fullPairsS, fullPairs) = Harness.timed(
      DedupIndex.pairsOf(DedupIndex.sigRows(snap)).count())
    val fullBytes = meter.sum()
    // sanity: the index answers the same world the recompute sees
    val idxPairs = DedupIndex.pairsFromIndex(spark, index).count()
    require(idxPairs == fullPairs,
      s"index pairs $idxPairs != full recompute $fullPairs — refusing " +
        "to report a bench over diverged answers")
    spark.stop()
    def num(d: Double) = f"$d%.3f"
    val incr = advanceS + newPairsS
    println(
      s"""{"metric":"dedup_index_incremental","sf":"$sfDir",""" +
        s""""corpus_docs":$corpusDocs,"delta_docs":$deltaDocs,""" +
        s""""init_s":${num(initS)},"advance_s":${num(advanceS)},""" +
        s""""new_pairs_s":${num(newPairsS)},""" +
        s""""full_sig_s":${num(fullSigS)},""" +
        s""""full_pairs_s":${num(fullPairsS)},""" +
        s""""pairs":$fullPairs,"new_pairs":$newPairs,""" +
        s""""incr_read_bytes":$incrBytes,"full_read_bytes":$fullBytes,""" +
        s""""read_ratio":${num(fullBytes.toDouble /
          math.max(incrBytes, 1L))},""" +
        s""""speedup":${num(fullPairsS / math.max(incr, 1e-9))}}""")
  }
}
