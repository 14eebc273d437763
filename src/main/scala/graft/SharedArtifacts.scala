package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The build-once artifacts that several declared queries consume, in the
  * order `Bench` times them, and the one list of caches a measuring main
  * drops between passes.
  *
  * Each build persists its result per (session, sfDir), so its consumers
  * time steady-state plans; `Bench` times the builds as their own
  * `shared_*` entries. */
object SharedArtifacts {

  val builds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    ("shared_dedup_pairs", (s, d) => { Dedup.ngramJaccard(s, d).count(); () }),
    ("shared_minhash_mins", Dedup.materializeMinhash),
    // rebuilt once per consumer (d_simhash_pairs and d_detector_votes)
    // every pass before it joined the shared set
    ("shared_simhash_sig", Dedup.materializeSimhash),
    // the LSH-blocked embedding near-dup pair list behind five declared
    // queries, each of which rebuilt it before it joined the shared set
    ("shared_embed_pairs", Similarity.materializeEmbedPairs),
    ("shared_kmeans_model", Similarity.materializeKmeans),
    ("shared_pq_model", Similarity.materializePq),
    ("shared_ivfpq_model", Similarity.materializeIvfPq),
    ("shared_bpe_model", TextAnalysis.materializeBpe),
    ("shared_source_grams", Dedup.materializeSourceGrams))

  /** Drop every build-once model and layout cache. The clears are coarse
    * (`clearPairCache` drops pairs, minhash, simhash and grams together;
    * `clearKmeansCache` also drops the IVF-PQ model derived from it), so
    * callers clear between rounds of builds, never between the two passes
    * of one entry: that would evict a sibling's just-timed build. */
  def clearAll(): Unit = {
    Dedup.clearPairCache()
    Similarity.clearEmbedPairCache()
    Similarity.clearKmeansCache()
    Similarity.clearPqCache()
    TextAnalysis.clearBpeCache()
    graft.sources.ZOrderLayout.clearCache()
    graft.sources.Compaction.clearCache()
    graft.sources.IncrementalRollup.clearCache()
    graft.sources.SchemaEvolution.clearCache()
    graft.sources.FileIndex.clearCache()
  }
}
