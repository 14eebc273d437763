package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.RollupMaintenance

/** Sustained rollup-maintenance throughput — the E-115 streaming loop
  * under load: W waves of synthetic events (each wave spanning ~2 days,
  * the maintenance shape where a batch touches a bounded day set) flow
  * through `RollupMaintenance`'s foreachBatch merge; the timed window is
  * first-wave-in → last-merge-committed. Reported:
  *
  *  - `events_per_s`: raw events absorbed into the maintained rollup per
  *    second, including the per-batch partial agg, the touched-partition
  *    read-merge, and the dynamic-partition-overwrite commit;
  *  - `merges`: micro-batches committed (batchId marker, replay-safe);
  *  - `parity`: the bench REFUSES to report a rate for a wrong rollup —
  *    the final state is compared against a full recompute of every
  *    event sent, and a mismatch exits nonzero.
  *
  * A separate warmup stream (own dir + checkpoint) runs untimed first
  * (JIT + codegen + state-store init), mirroring the Bench/IngestBench
  * warmup discipline.
  *
  * Usage: `sbt "runMain graft.RollupBench [nEvents] [waves]"` — prints
  * one JSON line on stdout (recorded in BENCH_STREAM.json).
  */
object RollupBench {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-rollupbench-$prefix")
      .toString

  // (event_id, ts nanos LONG, user_id, event_type, value, props) — wave w
  // spans days {w, w+1} so every merge touches a bounded partition set
  private def wave(w: Int, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
    (0 until n).map { i =>
      val day = w + (i % 2)
      (w.toLong * 1000000 + i,
        (1704067200000L + day.toLong * 86400000L + i % 86400000) * 1000000L,
        i.toLong % 1000,
        if (i % 3 == 0) "click" else if (i % 3 == 1) "view" else "buy",
        (i % 97) / 10.0, "{}")
    }

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(200000)
    val waves = args.lift(1).map(_.toInt).getOrElse(20)
    val perWave = nEvents / waves
    val spark = Harness.session("ERROR",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    implicit val sc = spark.sqlContext
    import spark.implicits._

    // triggerSec=0: no processing-time trigger, so micro-batches fire as
    // soon as a wave lands and the timed window measures the MERGE path
    // (a timed trigger would quantize every wave to the trigger cadence —
    // the first cut of this bench reported exactly 2.0 s/wave at every
    // batch size, which was the 1 s trigger's alignment, not merge cost).
    // The wall is measured around the wave loop only: query startup and
    // q.stop() stay outside.
    def run(dir: String, ckpt: String, ws: Int, n: Int): (Long, Double) = {
      val stream = MemoryStream[(Long, Long, Long, String, Double, String)]
      val events = stream.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val q = RollupMaintenance.start(events, dir, ckpt, triggerSec = 0)
      try {
        val t0 = System.nanoTime()
        (0 until ws).foreach { w =>
          stream.addData(wave(w, n))
          q.processAllAvailable()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        (RollupMaintenance.lastMerged(dir) + 1, wall)
      } finally q.stop()
    }

    // untimed warmup on its own layout
    run(tmp("warm") + "/rollup", tmp("warmck"), ws = 3, n = 2000)

    val dir = tmp("timed") + "/rollup"
    val (merges, wallS) = run(dir, tmp("timedck"), waves, perWave)

    // parity gate: recompute everything sent and compare
    val sent = (0 until waves).flatMap(w => wave(w, perWave))
    val expect = sent
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .groupBy(expr(s"ts div ${graft.sources.EventsLayout.NanosPerDay}")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val got = spark.read.parquet(dir)
      .select(col("day").cast("long"), col("event_type"),
        col("n_events"), round(col("sum_value"), 4))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val parity = got == expect
    println(
      f"""{"metric":"rollup_maintenance","events":${waves * perWave},""" +
        f""""waves":$waves,"merges":$merges,"wall_s":$wallS%.3f,""" +
        f""""events_per_s":${waves * perWave / wallS}%.1f,""" +
        s""""parity":$parity}""")
    spark.stop()
    if (!parity) sys.exit(1)
  }
}
