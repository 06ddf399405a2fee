package svsbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core.Model.Retrieval
import graft.streaming.StreamingIngest

/** `ingest`: a single writer streaming micro-batches into a seeded
  * store while reading it.
  *
  * Set-up opens a store, loads [[Ingest.SeedDocs]] seed docs and warms
  * the read path with [[Ingest.WarmReads]] untimed reads. Then, for the
  * run's seconds and at least [[Ingest.Steps]] steps, each step
  *   1. applies one [[Ingest.Batch]]-doc micro-batch of new texts
  *      through `StreamingIngest.applyIngestBatch(maintainIndex =
  *      false)`, a commit that drops the cached vector index;
  *   2. reads: the first exact retrieve after the commit, then
  *      [[Ingest.ReadsPerStep]] more.
  * The write rate is docs submitted over the steps' seconds; the read
  * latency is the mean over steps of each step's median retrieve.
  * A traced run then also builds the dedup family, applies one batch
  * with planted exact copies of seed docs through the dedup screen
  * (`dedupScreen = Some(0.8)`) and refreshes the family, builds the text
  * family and runs BM25 retrieves, and runs
  * `documentTopPairwiseScores(100)` on the store, whose seed texts hold
  * [[Ingest.Pairs]] planted one-word-edit pairs. The screened path stays
  * out of the untraced runs: a screened batch costs 10-20 s on a 4-core
  * host, against 2-3 s for a plain one, so a run near a minute could
  * time one step of it and no more.
  *
  * Size: [[Ingest.SeedDocs]] seed documents, far below the vector
  * index's 200k driver-local threshold. Every commit drops the cached
  * matrix, so each step pays a fresh index build; reads fold a delta
  * chain that grows by one per step.
  */
object Ingest {
  val SeedDocs = 1500
  val Batch = 200
  val Steps = 5
  val ReadsPerStep = 5
  val WarmReads = 10
  val CopyEvery = 10 // the screened batch: every 10th doc copies a seed doc
  val Bm25Reads = 3
  val Pairs = 100

  /** One exact retrieve: after which step, whether it was the first one
    * after the commit, and whether a traced run decomposed it. */
  final case class Read(step: Int, query: Int, ms: Double, fresh: Boolean,
      decomposed: Boolean, result: Seq[Retrieval])

  def run(ctx: Ctx): Unit = {
    val seed = ctx.seed
    val provider = ClusteredProvider(seed)
    val seedText = (i: Long) => seedCorpus(seed, i)
    ctx.sizes ++= Seq("seed_docs" -> SeedDocs.toLong, "batch" -> Batch.toLong,
      "min_steps" -> Steps.toLong, "reads_per_step" -> ReadsPerStep.toLong,
      "planted_pairs" -> Pairs.toLong)
    val queries = Array.tabulate(Common.QueryPool)(Common.queryText(seed, _))
    import ctx.spark.implicits._

    // ---- set-up
    val t0 = System.nanoTime()
    val (kb, openMs) = ctx.timed("core.open") { ctx.openKb("ingest", provider) }
    val loadS = Common.load(ctx, kb, 0L, SeedDocs, provider, seedCorpus)
    val warm = new Common.QueryPicker(seed, 1)
    (0 until WarmReads).foreach(_ => kb.retrieve(queries(warm.next()), 100))
    val setupS = Common.elapsedS(t0)
    val bytesBefore = Ctx.dirStats(kb.store.path)._1

    // ---- measured window: steps until the window closes
    val pick = new Common.QueryPicker(seed, 0)
    val newTexts = mutable.ArrayBuffer.empty[String]
    val stepMs = mutable.ArrayBuffer.empty[Double]
    val applyMs = mutable.ArrayBuffer.empty[Double]
    val freshMs = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Read]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var step = 0
    while (step < Steps || System.nanoTime() < deadline) {
      step += 1
      val texts = (0 until Batch).map(i =>
        Corpus.text(seed, Common.IngestStream, step.toLong * Batch + i))
      newTexts ++= texts
      val batch = texts.toDF("text")
      val (_, wMs) = ctx.timed("ingest_step", step) {
        val (applied, aMs) = ctx.timed("streaming.apply_batch") {
          StreamingIngest.applyIngestBatch(kb.store, batch, provider,
            "svsbench", step.toLong, maintainIndex = false)
        }
        ctx.attempt(s"apply batch $step") { applied }
        applyMs += aMs
      }
      stepMs += wMs
      val q0 = pick.next()
      val (r0, fMs) = ctx.timed("fresh_retrieve", step) {
        Common.retrieve(ctx, kb, queries(q0), 100, ctx.trace)
      }
      freshMs += fMs
      reads += Read(step, q0, fMs, true, ctx.trace, r0)
      (0 until ReadsPerStep).foreach { i =>
        val q = pick.next()
        // traced runs decompose every other retrieve: the difference of
        // the two medians is the tracing overhead
        val traced = ctx.trace && i % 2 == 0
        val (r, ms) = ctx.timed("retrieve", step) {
          Common.retrieve(ctx, kb, queries(q), 100, traced)
        }
        reads += Read(step, q, ms, false, traced, r)
      }
    }
    val heapMb = Ctx.heapRetainedMb()
    val planted =
      if (ctx.trace) tracedExtras(ctx, kb, provider, queries, pick, step) else Nil

    // ---- correctness
    ctx.sizes("steps") = step.toLong
    val allTexts = (0 until SeedDocs).map(i => seedText(i.toLong)) ++ newTexts
    val expected = allTexts.size.toLong + planted.size
    ctx.sizes("indexed_vectors") = expected
    val live = ctx.timed("check") {
      kb.store.docs.select(col("text")).as[String].collect()
    }._1
    ctx.check("live docs = seed + batches") {
      live.sorted.toSeq == (allTexts ++ planted).sorted
    }
    // durability: a fresh handle on the closed store sees every
    // acknowledged doc
    kb.close()
    val reopened = ctx.openKb("ingest", provider)
    ctx.check("reopen returns every acknowledged doc") {
      reopened.store.meta.max_doc_id == expected && reopened.length == expected
    }
    // every exact retrieve against brute force over the texts live when
    // it ran (seed plus the batches of steps up to its own), keyed by
    // text: the store assigns the ids
    val rowOf = allTexts.zipWithIndex.toMap
    val full = Truth.build(allTexts.size, 0L, provider, i => allTexts(i.toInt))
    reads.groupBy(_.step).foreach { case (s, rs) =>
      val truth = full.prefix(SeedDocs + s * Batch)
      val exact = truth.topKAll(rs.map(r => provider.embed(Seq(queries(r.query))).head).toSeq, 100)
      rs.zip(exact).foreach { case (r, want) =>
        ctx.attempt(s"retrieve step $s q${r.query}") {
          r.result.forall(x => rowOf.contains(x.doc.text)) && Truth.matches(
            r.result.map(x => x.copy(doc = x.doc.copy(id = rowOf(x.doc.text).toLong))), want)
        }
      }
    }

    // ---- metrics
    val plain = reads.filter(r => !r.fresh && !r.decomposed)
    val readMs = plain.map(_.ms).toSeq
    val (tailMs, tailP) = Stats.tail(readMs)
    // reads slow down step by step as the delta chain grows, so the
    // median over all reads would fall in the gap between two steps'
    // latencies and jump with noise; each step's median is steady, and
    // the latency reported is their mean over the steps
    val stepMedians = plain.groupBy(_.step).values.map(rs => Stats.median(rs.map(_.ms).toSeq))
    ctx.e2e("setup_s") = (setupS, "s")
    ctx.e2e("ingest_docs_per_s") = (step * Batch / (stepMs.sum / 1000), "docs/s")
    ctx.e2e("retrieve_p50_ms") = (stepMedians.sum / stepMedians.size, "ms")
    ctx.e2e("heap_retained_mb") = (heapMb, "MiB")
    ctx.extra("steps") = (step.toDouble, "count")
    ctx.extra("retrieve_samples") = (readMs.size.toDouble, "count")
    ctx.extra("retrieve_tail_ms") = (tailMs, "ms")
    ctx.extra("retrieve_tail_percentile") = (tailP, "%")
    ctx.extra("fresh_retrieve_ms") = (Stats.median(freshMs.toSeq), "ms")
    ctx.extra("ingest_batch_tail_ms") = (Stats.tail(stepMs.toSeq)._1, "ms")
    if (ctx.trace) {
      val tracedMs = reads.filter(r => !r.fresh && r.decomposed).map(_.ms).toSeq
      if (tracedMs.nonEmpty && readMs.nonEmpty)
        ctx.layer("trace.overhead_ms") = (Stats.median(tracedMs) - Stats.median(readMs), "ms")
    }
    ctx.layer("core.open_s") = (openMs / 1000, "s")
    ctx.layer("core.load_s") = (loadS, "s")
    ctx.layer("streaming.apply_batch_ms") = (Stats.median(applyMs.toSeq), "ms")
    val written = newTexts.size + planted.size
    Common.storeMetrics(ctx, reopened, expected,
      (allTexts ++ planted).iterator.map(_.getBytes("UTF-8").length.toLong).sum,
      written, bytesBefore)
  }

  /** Traced runs only: the dedup family and one screened batch with
    * planted copies (every copy must be dropped), the text family and
    * BM25 reads, and the exact all-pairs top-k, whose top [[Pairs]] must
    * be the planted pairs. Returns the screened batch's survivors. */
  private def tracedExtras(ctx: Ctx, kb: graft.core.Kb, provider: ClusteredProvider,
      queries: Array[String], pick: Common.QueryPicker, steps: Int): Seq[String] = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    val (_, dedupMs) = ctx.timed("core.dedup_build") { kb.store.buildDedupIndex() }
    val base = (steps + 1).toLong * Batch
    val texts = (0 until Batch).map { i =>
      if (i % CopyEvery == 0)
        seedCorpus(seed, (Mix(seed, 0xC0B1L, i).nextLong() >>> 1) % (SeedDocs - Pairs))
      else Corpus.text(seed, Common.IngestStream, base + i)
    }
    val survivors = texts.indices.filter(_ % CopyEvery != 0).map(texts)
    val before = kb.length
    val (applied, screenMs) = ctx.timed("streaming.screened_batch") {
      StreamingIngest.applyIngestBatch(kb.store, texts.toDF("text"), provider,
        "svsbench", steps + 1L, maintainIndex = false, dedupScreen = Some(0.8))
    }
    ctx.attempt("screened batch") { applied }
    val dropped = Batch - (kb.length - before)
    ctx.attempt("every planted copy screened out") { dropped == Batch / CopyEvery }
    val (_, refreshMs) = ctx.timed("core.refresh_dedup") { kb.store.refreshDedupIndex() }
    val (_, textMs) = ctx.timed("core.text_build") { kb.buildTextIndex() }
    val bm25Ms = (0 until Bm25Reads).map { i =>
      val (b, ms) = ctx.timed("bm25_retrieve", i + 1) { kb.bm25Retrieve(queries(pick.next()), 10) }
      ctx.attempt(s"bm25_retrieve $i") { b.nonEmpty }
      ms
    }
    val (pairs, pairMs) = ctx.timed("pairwise") { kb.documentTopPairwiseScores(Pairs) }
    val plantedPairs = (0 until Pairs).map { p =>
      ((p + 1).toLong, (SeedDocs - Pairs + p + 1).toLong) // ids are index + 1
    }.toSet
    ctx.attempt("pairwise top pairs = planted pairs") {
      pairs.map { case (_, a, b) => (math.min(a.id, b.id), math.max(a.id, b.id)) }.toSet == plantedPairs
    }
    // the pairwise kernel alone, on the packed embeddings of the store
    val (_, blockedMs) = ctx.timed("ops.pairwise_blocked") {
      val packed = kb.store.embeddings.toDF()
        .select($"id", graft.functions.FloatVecPack.floatVecPack($"vec").as("vec"))
      graft.ops.PairwiseTopK.blockedTopKPairs(packed, Corpus.Dim, Pairs,
        math.max(1, math.min(32, kb.length / 4096)).toInt, refTie = true).collect()
    }
    ctx.layer("core.dedup_build_s") = (dedupMs / 1000, "s")
    ctx.layer("streaming.screened_batch_ms") = (screenMs, "ms")
    ctx.layer("core.screen_drop_ratio") = (dropped.toDouble / Batch, "ratio")
    ctx.layer("core.refresh_dedup_ms") = (refreshMs, "ms")
    ctx.layer("core.text_build_s") = (textMs / 1000, "s")
    ctx.layer("ops.pairwise_blocked_s") = (blockedMs / 1000, "s")
    ctx.extra("bm25_retrieve_p50_ms") = (Stats.median(bm25Ms), "ms")
    ctx.extra("pairwise_s") = (pairMs / 1000, "s")
    survivors
  }

  /** Seed text i: the last [[Pairs]] texts are one-word edits of the
    * first [[Pairs]], so the all-pairs top-100 is known. */
  def seedCorpus(seed: Long, i: Long): String =
    if (i < SeedDocs - Pairs) Corpus.text(seed, Common.BaseStream, i)
    else Corpus.nearCopy(Corpus.text(seed, Common.BaseStream, i - (SeedDocs - Pairs)), seed, i)
}
