package svsbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  * svsbench.Main --workload serve|ingest --seed N --seconds S
  *               --trace 0|1 --root DIR [--source-id ID]
  * }}}
  *
  * `--root` is a scratch directory the run owns (stores, warehouse,
  * Spark local dir); the caller deletes it. The last line of standard
  * output is `SVSBENCH_RESULT {json}`: the correctness tally, the
  * end-to-end and per-layer metrics, the workload's own figures, sizes
  * and the provenance stamp. Traced runs also print `SPAN {json}` lines
  * and the per-layer self-time table before it.
  */
object Main {
  /** Per-layer metrics of layers a workload may not exercise: they read
    * 0 there (no work of that kind ran). */
  val ZeroWhenIdle: Seq[(String, String)] = Seq(
    "core.ann_build_s" -> "s", "core.text_build_s" -> "s",
    "core.dedup_build_s" -> "s", "core.pq_build_s" -> "s",
    "core.pq_bucket_s" -> "s", "core.refresh_dedup_ms" -> "ms",
    "core.screen_drop_ratio" -> "ratio",
    "streaming.apply_batch_ms" -> "ms", "streaming.screened_batch_ms" -> "ms",
    "ops.pairwise_blocked_s" -> "s",
    "plans.adc_join_used" -> "count", "plans.exchanges_knn_join" -> "count",
    "plans.exchanges_pq_knn_join" -> "count")

  /** Op kinds whose Spark work is reported per op. */
  val OpKinds: Seq[String] = Seq("retrieve", "ann_retrieve", "bm25_retrieve",
    "fresh_retrieve", "ingest_step", "knn_join", "pq_knn_join")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts.getOrElse("root", sys.error("--root required")))
      .toAbsolutePath
    Files.createDirectories(root)
    val freeStart = root.toFile.getUsableSpace

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"svsbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", root.resolve("checkpoints").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, seed, seconds, trace, root)
    val t0 = System.nanoTime()
    try {
      workload match {
        case "serve" => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Exception =>
        ctx.failed += 1
        ctx.attempted += 1
        ctx.failures += s"workload aborted: $e"
        e.printStackTrace()
    }
    layerMetrics(ctx, freeStart)
    val runS = Common.elapsedS(t0)
    if (trace) printTrace(ctx)

    val provenance = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cores,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "free_disk_bytes" -> freeStart,
      "simd" -> graft.functions.VecKernels.simdEnabled,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "source" -> opts.getOrElse("source-id", "unknown"),
      "run_s" -> runS)
    spark.stop()
    println("svsbench: failures: " +
      (if (ctx.failures.isEmpty) "none" else ctx.failures.mkString("; ")))
    println("SVSBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "e2e" -> ctx.e2e, "layer" -> ctx.layer, "extra" -> ctx.extra,
      "sizes" -> ctx.sizes, "provenance" -> scala.collection.mutable.LinkedHashMap(provenance: _*),
      "failures" -> ctx.failures.take(20))))
  }

  private def layerMetrics(ctx: Ctx, freeStart: Long): Unit = {
    val L = ctx.layer
    val sc = ctx.sc
    val snap = ctx.counters.snapshot
    def kindAcc(kind: String): Seq[ctx.counters.Acc] =
      if (kind == "ingest_step")
        snap.collect { case (k, a) if k == kind || k.startsWith("streaming.") ||
          k.startsWith("core.refresh_") => a }.toSeq
      else snap.get(kind).toSeq
    OpKinds.foreach { kind =>
      val accs = kindAcc(kind)
      val ops = math.max(1L, ctx.opCounts.getOrElse(kind, 0L)).toDouble
      L(s"spark.$kind.jobs_per_op") = (accs.map(_.jobs).sum / ops, "count")
      L(s"spark.$kind.stages_per_op") = (accs.map(_.stages).sum / ops, "count")
      L(s"spark.$kind.tasks_per_op") = (accs.map(_.tasks).sum / ops, "count")
      L(s"spark.$kind.queue_wait_s") = (accs.map(_.queueWaitMs).sum / 1000.0 / ops, "s")
    }
    val all = snap.values.toSeq
    val cpuS = all.map(_.cpuNs).sum / 1e9
    val runS = all.map(_.runMs).sum / 1e3
    L("spark.shuffle_write_bytes") = (all.map(_.shuffleWrite).sum.toDouble, "bytes")
    L("spark.shuffle_read_bytes") = (all.map(_.shuffleRead).sum.toDouble, "bytes")
    L("spark.spill_bytes") = (all.map(_.spill).sum.toDouble, "bytes")
    L("spark.task_cpu_s") = (cpuS, "s")
    L("spark.task_run_s") = (runS, "s")
    L("spark.cpu_run_ratio") = (if (runS > 0) cpuS / runS else 0.0, "ratio")
    L("spark.gc_s") = (all.map(_.gcMs).sum / 1e3, "s")
    L("spark.cached_rdds_end") = (sc.getPersistentRDDs.size.toDouble, "count")
    L("spark.storage_mem_bytes_end") =
      (sc.getRDDStorageInfo.map(_.memSize).sum.toDouble, "bytes")

    val spans = ctx.tracer.all
    def medMs(name: String, pick: Span => Boolean = _ => true): Double = {
      val xs = spans.filter(s => s.name == name && pick(s)).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val topk = medMs("ops.vector_topk")
    val indexed = ctx.sizes.getOrElse("indexed_vectors", 0L)
    L("ops.vector_topk_ms") = (topk, "ms")
    L("ops.vector_scan_gbps") =
      (if (topk > 0) indexed * Corpus.Dim * 4.0 / (topk * 1e6) else 0.0, "GB/s")
    L("core.docs_lookup_ms") = (medMs("core.docs_lookup"), "ms")
    if (!L.contains("core.index_materialize_ms")) {
      val fresh = spans.filter(_.name == "fresh_retrieve").map(_.id).toSet
      L("core.index_materialize_ms") =
        (medMs("core.index", s => fresh.contains(s.parent)), "ms")
    }
    val self = Tracer.selfTimes(spans)
    def unattributed(parent: String, withKids: Boolean): Double = {
      val parents = spans.filter(_.name == parent)
      val hasKids = spans.map(_.parent).toSet
      val xs = parents.filter(p => !withKids || hasKids(p.id)).map(p => self(p.id) / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    L("trace.retrieve_unattributed_ms") = (unattributed("retrieve", true), "ms")
    L("trace.ingest_step_unattributed_ms") = (unattributed("ingest_step", false), "ms")
    L("trace.span_count") = (spans.size.toDouble, "count")
    if (!L.contains("trace.overhead_ms")) L("trace.overhead_ms") = (0.0, "ms")
    val byLayer = spans.groupBy(s => layerOf(s.name))
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    Seq("core", "ops", "streaming", "bench").foreach { l =>
      L(s"self.${l}_s") = (byLayer.getOrElse(l, 0.0), "s")
    }

    if (ctx.trace) Common.kernelMetrics(ctx)
    else Seq("functions.simd_enabled" -> "bool", "functions.dot_packed_ns_d384" -> "ns",
      "functions.dot_packed_ns_d1536" -> "ns", "functions.dot_gbps" -> "GB/s")
      .foreach { case (n, u) => L(n) = (0.0, u) }
    L("jvm.heap_used_peak_mb") = (Ctx.heapPeakMb(), "MiB")
    L("jvm.gc_count") = (Ctx.gcCount().toDouble, "count")
    L("disk.free_bytes_start") = (freeStart.toDouble, "bytes")
    L("disk.free_bytes_end") = (ctx.root.toFile.getUsableSpace.toDouble, "bytes")
    L("disk.local_dir_bytes_end") =
      (Ctx.dirStats(ctx.root.resolve("local"))._1.toDouble, "bytes")
    ZeroWhenIdle.foreach { case (n, u) => if (!L.contains(n)) L(n) = (0.0, u) }
  }

  /** The layer a span belongs to: its name's prefix for layer calls,
    * `bench` for the workload's own op spans (whose self time is the
    * library work not split further). */
  def layerOf(name: String): String = name.indexOf('.') match {
    case i if i > 0 => name.substring(0, i)
    case _ => "bench"
  }

  private def printTrace(ctx: Ctx): Unit = {
    val spans = ctx.tracer.all
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.sortBy(_.start).foreach { s =>
      println("SPAN " + Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> (s.start - t0) / 1e6,
        "end_ms" -> (s.end - t0) / 1e6)))
    }
    val self = Tracer.selfTimes(spans)
    println(f"svsbench: ${"span"}%-28s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach {
      case (n, ss) =>
        println(f"svsbench: $n%-28s ${ss.size}%7d ${ss.map(_.durNs).sum / 1e9}%10.3f " +
          f"${ss.map(s => self(s.id)).sum / 1e9}%10.3f")
    }
    // a parent's unattributed (self) time is what its children's self
    // times leave of its duration; it should stay within the overhead
    val overhead = math.abs(ctx.layer("trace.overhead_ms")._1)
    println(f"svsbench: tracing overhead $overhead%.3f ms per retrieve (traced minus plain median)")
    Seq("retrieve", "ingest_step").foreach { p =>
      val u = ctx.layer(s"trace.${p}_unattributed_ms")._1
      if (spans.exists(_.name == p))
        println(f"svsbench: $p: children's self times sum to the parent within $u%.3f ms " +
          (if (u <= overhead) "(within the tracing overhead)" else "(NOT within the tracing overhead)"))
    }
  }
}
