package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness (round 13 optimization): replicate Bench's
  * streamIngestPoint shape in isolation — seed a 20k-doc store with
  * ANN + text indexes, drain 6 × 500-doc micro-batches through
  * startStoreIngest in live-index mode, then 6 more in batched-refresh
  * mode, then time the dedup screen — so the per-batch commit and
  * refresh costs can be measured before/after a KbStore change without
  * paying for a full bench run.
  * Run: `sbt "runMain graft.ProfileStreamIngest"`.
  */
object ProfileStreamIngest {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val dir = "/tmp/graft_profile_stream"
    def clean(): Unit = {
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    clean()
    val provider = new graft.core.Embeddings.EmbeddingProvider {
      def name = "bench-hash"
      def dim = 256
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong * 2654435761L + 17)
        val v = new Array[Float](dim)
        var s = 0.0
        var i = 0
        while (i < dim) {
          val x = rnd.nextGaussian(); v(i) = x.toFloat; s += x * x; i += 1
        }
        val inv = (1.0 / math.sqrt(s)).toFloat
        i = 0
        while (i < dim) { v(i) *= inv; i += 1 }
        v
      }
    }
    val kb = graft.core.KbStore.create(spark, s"$dir/kb",
      provider.params, forceFresh = true)
    val seedDocs = spark.range(20000).select(
      concat(lit("seed doc "), col("id"), lit(" "),
        lit((0 until 30).map(i => s"w$i").mkString(" "))).as("text"))
    kb.bulkAddDocsDistributed(seedDocs, provider)
    kb.buildAnnIndex(nlist = 16, iters = 2)
    kb.buildTextIndex()
    val words = Array("stream", "ingest", "vector", "index", "batch",
      "commit", "refresh", "the", "a", "document")
    def batchTexts(b: Int): Seq[String] = (0 until 500).map { i =>
      val rnd = new java.util.Random(b * 100000L + i)
      val sb = new java.lang.StringBuilder(220)
      sb.append("doc ").append(b).append(' ').append(i).append(' ')
      while (sb.length < 200)
        sb.append(words(rnd.nextInt(words.length))).append(' ')
      sb.toString
    }
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = graft.streaming.StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, provider, s"$dir/ckpt",
      maintainIndex = true)
    try {
      stream.addData(batchTexts(0)) // warmup
      q.processAllAvailable()
      var t0 = System.nanoTime()
      (1 to 6).foreach { b =>
        stream.addData(batchTexts(b))
        q.processAllAvailable()
      }
      println(f"[profile-stream] live-index 6x500: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      try q.stop() catch { case _: Throwable => () }
      val stream2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[String]
      val q2 = graft.streaming.StreamingIngest.startStoreIngest(
        stream2.toDF().toDF("text"), kb, provider, s"$dir/ckpt_fast",
        maintainIndex = false)
      try {
        t0 = System.nanoTime()
        (7 to 12).foreach { b =>
          stream2.addData(batchTexts(b))
          q2.processAllAvailable()
        }
        Seq(graft.core.KbStore.Ann, graft.core.KbStore.Text)
          .foreach(kb.refreshIfStale)
        println(f"[profile-stream] fast 6x500 + one refresh: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } finally { try q2.stop() catch { case _: Throwable => () } }
      kb.buildDedupIndex()
      val fresh20 = batchTexts(20)
      val copies = batchTexts(1).take(50)
      val screen = ((0 until 450).map(i => (9000000L + i, fresh20(i))) ++
        copies.zipWithIndex.map { case (t, i) => (9100000L + i, t) })
        .toDF("doc_id", "text")
      // warm once, then time (the bench reps this point; median-of-3)
      kb.dedupCandidates(screen, threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      t0 = System.nanoTime()
      kb.dedupCandidates(screen, threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      println(f"[profile-stream] dedup screen 500 vs 23k: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    } finally {
      try q.stop() catch { case _: Throwable => () }
      clean()
    }
    spark.stop()
  }
}
