package svsbench

import org.apache.spark.sql.functions.col

import graft.core.Kb
import graft.core.Model.{Doc, Retrieval}

/** Building blocks the workloads share. */
object Common {
  /** Generator streams: each input family draws from its own stream. */
  val BaseStream = 1L
  val QueryStream = 2L
  val IngestStream = 3L

  val QueryPool = 5000

  def queryText(seed: Long, j: Int): String =
    Corpus.text(seed, QueryStream, j, minWords = 8, maxWords = 12)

  /** Zipf(1.0)-skewed pick over the query pool. */
  final class QueryPicker(seed: Long, client: Int) {
    private val cdf = {
      val w = Array.tabulate(QueryPool)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    private val rng = Mix(seed, 0x9E77L, client)
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, QueryPool - 1)
    }
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bulk-load texts `from until until` of `stream` through the
    * distributed add path (the provider embeds inside the executors).
    * Ids are assigned densely from the store's high-water mark, so
    * loading ranges in order gives text i the id `i + 1`. Returns the
    * load seconds.
    */
  def load(ctx: Ctx, kb: Kb, from: Long, until: Long,
      provider: ClusteredProvider, text: (Long, Long) => String): Double = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    val parts = math.max(1, math.min(ctx.sc.defaultParallelism * 2,
      ((until - from) / 1000).toInt))
    val df = ctx.spark.range(from, until, 1, parts)
      .map(i => text(seed, i)).toDF("text")
    val (_, ms) = ctx.timed("core.load") {
      kb.store.bulkAddDocsDistributed(df, provider)
    }
    ms / 1000
  }

  def textBytes(n: Int, text: Long => String): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      acc.addAndGet(text(i.toLong).getBytes("UTF-8").length.toLong)
    }
    acc.get
  }

  /** `Kb.retrieve` as its layer calls — the embedding, `KbStore.index()`,
    * `VectorIndex.topK` and the docs lookup by emb id — each one span.
    * Same result as `Kb.retrieve`.
    */
  def retrieveTraced(ctx: Ctx, kb: Kb, query: String, n: Int): Seq[Retrieval] = {
    val qv = ctx.tracer.span("core.embed") {
      graft.core.Embeddings.checkMagnitude(kb.provider.embed(Seq(query))).head
    }
    val idx = ctx.tracer.span("core.index") { kb.store.index() }
    idx match {
      case None => Seq.empty
      case Some(ix) =>
        val hits = ctx.tracer.span("ops.vector_topk") { ix.topK(qv, n) }
        val byEmb = ctx.tracer.span("core.docs_lookup") {
          val ids = hits.map(_._1)
          kb.store.docs.filter(col("emb_id").isin(ids: _*)).collect()
            .map(d => d.emb_id.get -> d).toMap
        }
        hits.map { case (e, s) => Retrieval(s, byEmb(e)) }
    }
  }

  /** One exact retrieve: its layer calls one by one when `decompose`,
    * else the public call. Traced runs decompose every other retrieve,
    * so the difference of the two medians is the tracing overhead. */
  def retrieve(ctx: Ctx, kb: Kb, query: String, n: Int,
      decompose: Boolean): Seq[Retrieval] =
    if (decompose) retrieveTraced(ctx, kb, query, n) else kb.retrieve(query, n)

  /** Doc ids of a retrieve are the generator indices shifted by one;
    * every returned text must be the one generated for its id. */
  def textsMatch(docs: Seq[Doc], text: Long => String, firstId: Long): Boolean =
    docs.forall(d => d.text == text(d.id - firstId))

  /** Longest delta chain over the store's tables. */
  def chainMax(kb: Kb): Long =
    kb.store.meta.table_deltas.values.map(_.size.toLong).foldLeft(0L)(math.max)

  /** Store-level figures every workload reports at its end. */
  def storeMetrics(ctx: Ctx, kb: Kb, liveDocs: Long, liveTextBytes: Long,
      docsWritten: Long, bytesBefore: Long): Unit = {
    val (bytes, files) = Ctx.dirStats(kb.store.path)
    val user = liveTextBytes + 4L * Corpus.Dim * liveDocs
    ctx.e2e("disk_bytes_per_user_byte") = (bytes.toDouble / user, "ratio")
    ctx.layer("core.store_bytes") = (bytes.toDouble, "bytes")
    ctx.layer("core.store_files") = (files.toDouble, "count")
    ctx.layer("core.delta_chain_max") = (chainMax(kb).toDouble, "count")
    ctx.layer("core.bytes_written_per_doc") =
      ((bytes - bytesBefore).toDouble / math.max(1L, docsWritten), "bytes")
  }

  /** Written by the kernel loop so the JIT cannot drop it. */
  @volatile private var sink = 0.0

  /** `VecKernels.dotPackedAt` at production shapes (d384 rows of this
    * benchmark, d1536 rows of the reference's default model): ns per
    * row dot and the bytes it reads per second.
    */
  def kernelMetrics(ctx: Ctx): Unit = {
    import graft.functions.VecKernels
    def ns(d: Int): (Double, Double) = {
      val rows = 4096
      val rng = Mix(ctx.seed, 0xD07L, d)
      val mat = Array.fill(rows * d * 4)(rng.nextLong().toByte)
      // finite floats only: clear each float's exponent MSB
      var i = 3
      while (i < mat.length) { mat(i) = (mat(i) & 0x3F).toByte; i += 4 }
      val q = Array.fill(d)(rng.nextGaussian().toFloat)
      def pass(): Unit = {
        var r = 0
        var acc = 0.0
        while (r < rows) { acc += VecKernels.dotPackedAt(mat, r * d * 4, q); r += 1 }
        sink = acc
      }
      (0 until 20).foreach(_ => pass())
      val samples = (0 until 15).map { _ =>
        val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0).toDouble / rows
      }
      val med = Stats.median(samples)
      (med, d * 4 / med) // bytes read per ns = GB/s
    }
    val (n384, gbps) = ns(384)
    val (n1536, _) = ns(1536)
    ctx.layer("functions.simd_enabled") =
      (if (VecKernels.simdEnabled) 1.0 else 0.0, "bool")
    ctx.layer("functions.dot_packed_ns_d384") = (n384, "ns")
    ctx.layer("functions.dot_packed_ns_d1536") = (n1536, "ns")
    ctx.layer("functions.dot_gbps") = (gbps, "GB/s")
  }
}
