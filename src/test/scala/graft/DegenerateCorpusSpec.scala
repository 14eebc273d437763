package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Degenerate-input hardening for the round-6 operators: a corpus SMALLER
  * than every structural constant (fewer vectors than PQ's 4 seed cells
  * or the 50-query probe set; docs that are empty or single-token, so
  * bigram/BPE pair tables can run dry). On 100 TB a worst-case partition
  * WILL look like this; the operators must degrade to small-but-sane
  * output, never throw. */
class DegenerateCorpusSpec extends SparkSuite {

  private lazy val tinyDir: String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-tiny").toString
    Seq(
      (0L, "ab ab cd", "en", "web", 8L),
      (1L, "", "en", "web", 0L),
      (2L, "x", "en", "books", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, 0.25f), 0),
      (1L, Array(0.9f, 0.1f, 0.5f, 0.25f), 1),
      (2L, Array(-1.0f, 0.5f, -0.5f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("bigram LM degrades to the docs that have bigrams") {
    val rows = graft.operators.TextAnalysis.bigramSurprisal(spark, tinyDir)
      .collect()
    // only doc 0 has >= 2 tokens, so only its source appears
    assert(rows.map(_.getString(0)).toSet == Set("web"))
    assert(rows.forall(_.getLong(1) == 1L))
  }

  test("BPE survives the pair table running dry") {
    val rows = graft.operators.TextAnalysis.bpeMerges(spark, tinyDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    // vocabulary {ab(x2), cd, x}: round 1 merges (a,b), round 2 (c,d);
    // round 3 has no pairs left and must emit nothing rather than throw
    assert(rows.map(_._2).toSeq == Seq("ab", "cd"))
    assert(rows.map(_._3).toSeq == Seq(2L, 1L))
  }

  test("curation funnel handles empty docs and tiny sources") {
    val rows = graft.operators.Curation.curationFunnel(spark, tinyDir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.keySet == Set("web", "books"))
    rows.values.foreach { case (raw, q, ex, nd, fin) =>
      assert(raw >= q && q >= ex && ex >= nd && nd >= fin)
    }
  }

  test("BPE census survives the pair table running dry (vocab not annihilated)") {
    // vocabulary {ab×2, cd, x}: rounds 1-2 merge (a,b) and (c,d), round 3
    // is dry — the census must reflect the two real merges, not an
    // empty/NULL corpus from a rewrite against the empty winner
    val r = graft.operators.TextAnalysis.bpeTokenize(spark, tinyDir)
      .collect()(0)
    assert(r.getLong(0) == 3L, s"word types: ${r.getLong(0)}")
    assert(r.getLong(1) == 7L, s"symbols before: ${r.getLong(1)}")
    assert(r.getLong(2) == 4L, s"symbols after: ${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 0.4286) < 1e-4)
  }

  private lazy val raggedDir: String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-ragged").toString
    Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, 0.25f), 0),
      (1L, Array(0.9f, 0.1f, 0.5f, 0.25f), 1),
      (2L, Array(-1.0f, 0.5f, -0.5f, 0.0f), 0),
      (3L, Array(0.8f, 0.2f), 1)) // ragged: shorter than its peers
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ragged vectors survive PQ, LSH bucketing, and streaming assignment") {
    graft.operators.Similarity.clearPqCache()
    try {
      // PQ: a null-poisoned distance would rank NULLS FIRST and claim
      // cell 0 silently; the filtered fold must yield real distances
      val top = graft.operators.Similarity.pqAdcTopK(spark, raggedDir)
        .collect()
      assert(top.nonEmpty)
      assert(top.forall(!_.isNullAt(2)), "ADC must never be null")
      val cells = graft.operators.Similarity.pqCells(spark, raggedDir)
        .collect()
      assert(cells.forall(!_.isNullAt(3)), "sq_err must never be null")
      // LSH bucket: missing dims read bit 0, never a task failure
      val buckets = graft.operators.Similarity
        .embedNearDup(spark, raggedDir).collect() // must not throw
      assert(buckets.forall(!_.isNullAt(2)))
      // streaming quantizer: the ragged vector gets a real assignment
      val model = graft.streaming.StreamingQuantizer.modelFor(spark, raggedDir)
      val assigned = graft.streaming.StreamingQuantizer.assign(
        graft.model.Tables.embeddings(spark, raggedDir)
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("embedding")), model)
        .collect()
      assert(assigned.length == 4)
      assert(assigned.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    } finally graft.operators.Similarity.clearPqCache()
  }

  test("PQ trains and serves with fewer vectors than seeds or queries") {
    graft.operators.Similarity.clearPqCache()
    try {
      val cells = graft.operators.Similarity.pqCells(spark, tinyDir).collect()
      // 3 vectors, 4-dim -> 4 subspaces of width 1; <= 3 seed cells used
      assert(cells.nonEmpty)
      assert(cells.map(_.getLong(2)).sum % 3 == 0,
        "per-sub membership must cover the 3 vectors")
      val top = graft.operators.Similarity.pqAdcTopK(spark, tinyDir)
        .collect()
      // every query finds the other 2 vectors, never itself, never > 2
      val perQ = top.groupBy(_.getLong(0))
      assert(perQ.keySet == Set(0L, 1L, 2L))
      perQ.foreach { case (q, rs) =>
        assert(rs.length == 2 && rs.forall(_.getLong(1) != q))
      }
      val rec = graft.operators.Similarity.pqRecall(spark, tinyDir).collect()
      assert(rec.length == 1 && rec(0).getLong(2) == 3L)
    } finally graft.operators.Similarity.clearPqCache()
  }

  test("cross-source contamination over an empty corpus is empty, not a throw") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-nodocs").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.crossContamination(spark, dir)
    assert(df.columns.toSeq == Seq("source_a", "source_b", "n_shared"))
    assert(df.collect().isEmpty)
  }
}
