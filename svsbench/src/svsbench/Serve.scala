package svsbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

import graft.core.Model.Retrieval

/** `serve`: the read path of one store.
  *
  * Set-up opens a store, bulk-loads [[Serve.Docs]] docs, builds the IVF
  * index (`buildAnnIndex` with the library's default nlist and
  * iterations, on the packed path), materializes the vector index and
  * warms the read path with [[Serve.WarmReads]] untimed exact retrieves
  * (the JIT and Spark's code generation keep speeding them up for about
  * a hundred calls) and one `Kb.annRetrieve(q, 10)`, whose result is
  * checked against the exact top-10. Then one client runs a closed loop
  * of exact `Kb.retrieve(q, 100)` over Zipf-skewed texts from a pool of
  * 5k, for the run's seconds and at least [[Serve.MinReads]] calls.
  *
  * The bulk-load rate is that of the set-up load: smaller loads after
  * the loop were tried and spread twice as much from run to run, their
  * time being mostly per-commit overhead.
  *
  * A traced run also times [[Serve.AnnReads]] more `annRetrieve` calls,
  * builds the IVF-PQ tier (`buildPqIndex`, `bucketPqCodes`) and runs
  * `knnJoin` and `pqKnnJoin` of [[Serve.Queries]] query vectors at
  * k = 10, for the plan and shuffle figures.
  *
  * Size: [[Serve.Docs]] docs keep a run near a minute on a 4-core
  * host while the read loop still gets a few dozen samples. The store
  * is below `buildAnnIndex`'s 100k packed-path switch, so the build
  * asks for the packed path the library takes at scale (the array path
  * it would take here costs tens of seconds per build on this store),
  * and below `VectorIndex.materialize`'s 200k driver-local threshold.
  * The vector scan, the kernels and the retrieve join-back do the work;
  * the commit path does none after set-up.
  */
object Serve {
  val Docs = 30000
  val WarmReads = 40
  val MinReads = 40
  val AnnReads = 4
  val Queries = 32
  val K = 10

  final case class Sample(kind: String, query: Int, ms: Double, traced: Boolean,
      result: Seq[Retrieval])

  def run(ctx: Ctx): Unit = {
    val seed = ctx.seed
    val provider = ClusteredProvider(seed)
    val text = (i: Long) => Corpus.text(seed, Common.BaseStream, i)
    ctx.sizes ++= Seq("docs" -> Docs.toLong, "clients" -> 1L, "query_pool" -> Common.QueryPool.toLong, "indexed_vectors" -> Docs.toLong)
    val queries = Array.tabulate(Common.QueryPool)(Common.queryText(seed, _))

    // ---- set-up: open, load, build, materialize, warm the read path
    val t0 = System.nanoTime()
    val (kb, openMs) = ctx.timed("core.open") { ctx.openKb("serve", provider) }
    val loadS = Common.load(ctx, kb, 0L, Docs, provider,
      (s, i) => Corpus.text(s, Common.BaseStream, i))
    val (_, buildMs) = ctx.timed("core.ann_build") { buildIvf(kb) }
    val (_, matMs) = ctx.timed("core.index_materialize") { kb.store.index() }
    val warm = new Common.QueryPicker(seed, 1)
    (0 until WarmReads).foreach(_ => kb.retrieve(queries(warm.next()), 100))
    val annWarmQ = warm.next()
    val annWarm = Sample("ann_retrieve", annWarmQ, 0.0, false,
      kb.annRetrieve(queries(annWarmQ), K))
    val setupS = Common.elapsedS(t0)

    // ---- measured: the read loop
    val samples = mutable.ArrayBuffer.empty[Sample]
    val pick = new Common.QueryPicker(seed, 0)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var op = 0
    while (op < MinReads || System.nanoTime() < deadline) {
      op += 1
      val q = pick.next()
      // traced runs decompose every other retrieve: the difference of
      // the two medians is the tracing overhead
      val traced = ctx.trace && op % 2 == 0
      val (r, ms) = ctx.timed("retrieve", op) {
        Common.retrieve(ctx, kb, queries(q), 100, traced)
      }
      samples += Sample("retrieve", q, ms, traced, r)
    }
    if (ctx.trace) (1 to AnnReads).foreach { i =>
      val q = pick.next()
      val (r, ms) = ctx.timed("ann_retrieve", op + i) { kb.annRetrieve(queries(q), K) }
      samples += Sample("ann_retrieve", q, ms, false, r)
    }
    val rets = samples.filter(_.kind == "retrieve").toSeq
    val anns = annWarm +: samples.filter(_.kind == "ann_retrieve").toSeq
    val sampled = (rets.take(6) ++ anns.take(6)).map(_.query).distinct
    val exact = groundTruth(ctx, kb, provider, text, sampled.map(queries))
      .zip(sampled).map(_.swap).toMap
    val heapMb = Ctx.heapRetainedMb()

    // ---- correctness
    rets.foreach { s =>
      ctx.attempt(s"retrieve q${s.query}") {
        s.result.length == 100 && Common.textsMatch(s.result.map(_.doc), text, 1L) &&
          exact.get(s.query).forall(Truth.matches(s.result, _))
      }
    }
    val annRecalls = anns.flatMap { s =>
      ctx.attempt(s"ann_retrieve q${s.query}") {
        s.result.length == K && Common.textsMatch(s.result.map(_.doc), text, 1L)
      }
      exact.get(s.query).map(t => Truth.recall(s.result.map(_.doc.id), t, K))
    }
    ctx.check("serve doc count") { kb.store.meta.max_doc_id == Docs }

    // ---- metrics
    val retMs = rets.filter(!_.traced).map(_.ms)
    val (tailMs, tailP) = Stats.tail(retMs)
    ctx.e2e("setup_s") = (setupS, "s")
    ctx.e2e("ingest_docs_per_s") = (Docs / loadS, "docs/s")
    ctx.e2e("retrieve_p50_ms") = (Stats.median(retMs), "ms")
    ctx.e2e("heap_retained_mb") = (heapMb, "MiB")
    ctx.extra("retrieve_samples") = (retMs.size.toDouble, "count")
    ctx.extra("retrieve_tail_ms") = (tailMs, "ms")
    ctx.extra("retrieve_tail_percentile") = (tailP, "%")
    if (anns.size > 1) {
      ctx.extra("ann_retrieve_p50_ms") = (Stats.median(anns.tail.map(_.ms)), "ms")
      ctx.extra("ann_retrieve_samples") = (anns.tail.size.toDouble, "count")
    }
    if (annRecalls.nonEmpty)
      ctx.extra("ann_recall_at_10") = (annRecalls.sum / annRecalls.size, "ratio")
    ctx.layer("core.open_s") = (openMs / 1000, "s")
    ctx.layer("core.load_s") = (loadS, "s")
    ctx.layer("core.ann_build_s") = (buildMs / 1000, "s")
    ctx.layer("core.index_materialize_ms") = (matMs, "ms")
    if (ctx.trace) {
      val traced = rets.filter(_.traced).map(_.ms)
      if (traced.nonEmpty && retMs.nonEmpty)
        ctx.layer("trace.overhead_ms") = (Stats.median(traced) - Stats.median(retMs), "ms")
    }
    Common.storeMetrics(ctx, kb, Docs, Common.textBytes(Docs, text), Docs, 0L)
  }

  /** Brute-force top-100 of `queries` over the loaded docs; a traced
    * run's joins also run here, on the store the loop read. The truth
    * matrix lives only in this frame, so it is garbage before the heap
    * is measured. */
  private def groundTruth(ctx: Ctx, kb: graft.core.Kb, provider: ClusteredProvider,
      text: Long => String, queries: Seq[String]): Seq[Array[(Long, Double)]] = {
    val truth = Truth.build(Docs, 1L, provider, text)
    if (ctx.trace) batchPlans(ctx, kb, provider, truth)
    truth.topKAll(queries.map(q => provider.embed(Seq(q)).head), 100)
  }

  /** `buildAnnIndex` with the library defaults, on the packed path. */
  def buildIvf(kb: graft.core.Kb): Unit =
    kb.store.buildAnnIndex(packedPathAbove = 0L)

  /** Traced runs only: the IVF-PQ tier and the two batch joins of
    * [[Queries]] query vectors, with their recall against the exact
    * top-k and the operators of their executed plans. */
  private def batchPlans(ctx: Ctx, kb: graft.core.Kb, provider: ClusteredProvider,
      truth: Truth): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (_, pqMs) = ctx.timed("core.pq_build") { kb.buildPqIndex() }
    val (_, bucketMs) = ctx.timed("core.pq_bucket") { kb.bucketPqCodes() }
    val qVecs = (0 until Queries).map(j =>
      provider.embed(Seq(Common.queryText(ctx.seed, Common.QueryPool + 1 + j))).head)
    val joinQueries = qVecs.zipWithIndex.map { case (v, j) => (j.toLong, v) }
      .toDF("id", "vec").repartition(ctx.sc.defaultParallelism).cache()
    joinQueries.count()
    def collectJoin(kind: String)(df: => DataFrame): (Map[Long, Seq[Long]], Double, SparkPlan) = {
      val ((rows, plan), ms) = ctx.timed(kind) {
        val d = df.select($"qid", $"vec_id", $"rk")
        val rows = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        (rows, d.queryExecution.executedPlan)
      }
      (rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq },
        ms, plan)
    }
    val (knn, knnMs, knnPlan) = collectJoin("knn_join") { kb.knnJoin(joinQueries, K) }
    val (pq, pqJoinMs, pqPlan) = collectJoin("pq_knn_join") { kb.pqKnnJoin(joinQueries, K) }
    joinQueries.unpersist()
    val exactQ = truth.topKAll(qVecs, K)
    val knnRecall = (0 until Queries).map { j =>
      ctx.attempt(s"knn_join q$j") { knn.get(j.toLong).exists(_.size == K) }
      Truth.recall(knn.getOrElse(j.toLong, Nil), exactQ(j), K)
    }
    val pqRecall = (0 until Queries).map { j =>
      ctx.attempt(s"pq_knn_join q$j") { pq.get(j.toLong).exists(_.size == K) }
      Truth.recall(pq.getOrElse(j.toLong, Nil), exactQ(j), K)
    }
    ctx.extra("knn_join_queries_per_s") = (Queries / (knnMs / 1000), "q/s")
    ctx.extra("pq_knn_join_queries_per_s") = (Queries / (pqJoinMs / 1000), "q/s")
    ctx.extra("knn_join_recall_at_10") = (knnRecall.sum / Queries, "ratio")
    ctx.extra("pq_recall_at_10") = (pqRecall.sum / Queries, "ratio")
    ctx.layer("core.pq_build_s") = (pqMs / 1000, "s")
    ctx.layer("core.pq_bucket_s") = (bucketMs / 1000, "s")
    planMetrics(ctx, knnPlan, pqPlan)
  }

  /** Operators in the executed plans of the two joins. */
  private def planMetrics(ctx: Ctx, knnPlan: SparkPlan, pqPlan: SparkPlan): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def count(p: SparkPlan, pred: SparkPlan => Boolean): Double =
      nodes(p).count(pred).toDouble
    val isExchange = (n: SparkPlan) =>
      n.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]
    ctx.layer("plans.adc_join_used") =
      (count(pqPlan, _.isInstanceOf[graft.plans.AdcCodesJoinExec]), "count")
    ctx.layer("plans.exchanges_knn_join") = (count(knnPlan, isExchange), "count")
    ctx.layer("plans.exchanges_pq_knn_join") = (count(pqPlan, isExchange), "count")
  }
}
