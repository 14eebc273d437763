package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The system under test for the operators layer, run by the traced
  * `lake_bulk` run: one Spark session that writes small tables from a
  * fixed seed (the same tables every run) and calls one
  * `SparkEntry.queries` entry per operator family on them, three times —
  * an untimed warm-up pass for the JIT, a build pass after Bench's
  * artifact caches are cleared, and a steady pass. Each call collects its
  * result and prints one TSV line to stdout:
  *   E pass entry start_epoch_ns wall_ns rows hash
  *   X pass entry error   (an entry that threw)
  * then `DONE`. Every job an entry runs carries the `perfbench.entry`
  * local property `<pass>:<entry>`, which the trace listener records.
  *
  * Usage: QuerySystem --data DIR */
object QuerySystem {

  /** (family, entry): the family prefixes of the `ops.<family>.*` metrics. */
  val Entries: Seq[(String, String)] = Seq(
    "o" -> "o27_keyed_concat", "q" -> "q1_pricing_summary",
    "d" -> "d_minhash_lsh", "s" -> "s_cosine_topk", "t" -> "t_tfidf_top",
    "src" -> "src_time_travel", "m" -> "m_png_meta")

  val Passes = Seq("warm", "build", "steady")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val data = opts("data")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName("perfbench-query")
      .config("spark.sql.shuffle.partitions", cpus)
      // results are compared with recorded fingerprints on any box
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    writeTables(spark, data)

    for (pass <- Passes) {
      if (pass == "build") {
        graft.operators.Dedup.clearPairCache()
        graft.operators.Similarity.clearEmbedPairCache()
        graft.operators.Similarity.clearKmeansCache()
        graft.operators.Similarity.clearPqCache()
        graft.operators.TextAnalysis.clearBpeCache()
      }
      for ((_, name) <- Entries) {
        spark.sparkContext.setLocalProperty("perfbench.entry", s"$pass:$name")
        val start = LakeSystem.epochNs()
        val t0 = System.nanoTime()
        try {
          val rows = SparkEntry.queries(name)(spark, data).collect()
          val wall = System.nanoTime() - t0
          println(Seq("E", pass, name, start, wall, rows.length, fingerprint(rows))
            .mkString("\t"))
        } catch { case e: Exception =>
          println(s"X\t$pass\t$name\t${e.toString.replaceAll("\\s+", " ")}")
        }
        spark.sparkContext.setLocalProperty("perfbench.entry", null)
      }
    }
    println("DONE")
    // perfbench.Driver reads the trace dump and then stops this process
    Iterator.continually(System.in.read()).takeWhile(_ >= 0).foreach(_ => ())
    spark.stop()
  }

  /** Order-insensitive hash of a result: each row rendered with its
    * floating-point values rounded to 6 significant digits, the lines
    * sorted, then SHA-256. */
  def fingerprint(rows: Array[Row]): String = {
    def g6(d: Double) = String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    def show(v: Any): String = v match {
      case null => "null"
      case d: Double => g6(d)
      case f: Float => g6(f.toDouble)
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(show).sorted.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The four tables the entries read, in the schemas of the repository's
    * test data, from a fixed seed. Documents repeat earlier ones with a
    * few words changed, so the dedup and text entries find near
    * duplicates; embeddings lie around 10 labelled centres. */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    val rnd = new java.util.Random(20240101L)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val t2024 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    val kinds = Array("click", "purchase", "error", "signup", "view")
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until 20000).map { i =>
        Row(i.toLong, ts(t2024 + i * 400L + rnd.nextInt(400)), rnd.nextInt(200).toLong,
          kinds(rnd.nextInt(5)), rnd.nextInt(50000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
      })

    val t1992 = java.time.Instant.parse("1992-01-01T00:00:00Z").toEpochMilli
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until 20000).map { i =>
        val qty = 1 + rnd.nextInt(50)
        Row((i / 4 + 1).toLong, (1 + rnd.nextInt(2000)).toLong, (1 + rnd.nextInt(100)).toLong,
          i % 4 + 1, qty.toDouble, qty * (900 + rnd.nextInt(100000)) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, "ANR".substring(rnd.nextInt(3)).take(1),
          if (rnd.nextBoolean()) "O" else "F", ts(t1992 + rnd.nextInt(2500) * 86400000L))
      })

    val words = ("the a fast slow key order sort table scan merge part window small " +
      "big hash join batch stream spark group query row data filter customer line " +
      "value agg dup").split(' ')
    val langs = Array("en", "en", "fr", "es", "de", "zh")
    val texts = new Array[String](1000)
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      (0 until 1000).map { i =>
        texts(i) =
          if (i >= 10 && rnd.nextInt(5) == 0) {
            val w = texts(rnd.nextInt(i)).split(' ')
            (0 until 3).foreach(_ => w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.length)))
            w.mkString(" ")
          } else Seq.fill(20 + rnd.nextInt(80))(words(rnd.nextInt(words.length))).mkString(" ")
        Row(i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % 20}",
          texts(i).length.toLong)
      })

    val centres = Array.fill(10, 64)(rnd.nextGaussian())
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until 1000).map { i =>
        val c = rnd.nextInt(10)
        val v = centres(c).map(x => x + 0.5 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
      })
  }
}
