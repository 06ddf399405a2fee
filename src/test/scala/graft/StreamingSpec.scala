package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Embeddings.MockProvider
import graft.functions.FloatVecDot
import graft.ops.Dedup
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.UserEvent

/** Streaming operators driven synchronously with MemoryStream. */
class StreamingSpec extends SparkSpec {

  test("windowed agg: streaming result equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.t(spark, sf("0.001"), "events")
      .select($"ts", $"event_type", $"value")
    val rows = events.as[(java.sql.Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    stream.addData(rows)
    val agg = StreamingIngest.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_out")
      .select($"win_start", $"event_type", $"n",
        round($"sum_value", 4).as("sum_value"))
      .orderBy($"win_start", $"event_type").collect().toSeq
    val batch = StreamingIngest.windowedEventCounts(events)
      .select($"win_start", $"event_type", $"n",
        round($"sum_value", 4).as("sum_value"))
      .orderBy($"win_start", $"event_type").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("sessionize: gap splitting and aggregation (batch-driven)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val evs = Seq(
      UserEvent(1, ts(0), "view", 1.0),
      UserEvent(1, ts(10), "click", 2.0),
      UserEvent(1, ts(1000), "view", 3.0), // >gap → new session
      UserEvent(2, ts(5), "view", 5.0)).toDS()
    val sessions = StreamingIngest.sessionize(evs, gapMs = 60000)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    // batch run emits only *closed* sessions (open ones wait for timeout):
    // user 1's first session closed by the 1000s event
    assert(sessions.map(s => (s.user_id, s.n_events, s.sum_value)).toSeq ==
      Seq((1L, 2L, 3.0)))
  }

  test("event-time sessionize: out-of-order replay equals the batch gap-split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 600000L // 10 min, same as the e2 batch twin

    val evs = Tables.t(spark, sf("0.001"), "events")
      .filter($"user_id" < 5L)
      .select($"user_id", $"ts", $"event_type", $"value")
      .as[UserEvent].collect().toSeq
    assert(evs.nonEmpty)

    // expected: per-user ascending-time gap split (e2_sessionize semantics)
    val expected = evs.groupBy(_.user_id).flatMap { case (uid, es) =>
      val sorted = es.sortBy(_.ts.getTime)
      val sessions = sorted.foldLeft(List.empty[List[UserEvent]]) {
        case ((cur @ (last :: _)) :: rest, e)
            if e.ts.getTime - last.ts.getTime <= gapMs => (e :: cur) :: rest
        case (acc, e) => List(e) :: acc
      }.map(_.reverse).reverse
      sessions.map(s => (uid, s.head.ts.getTime, s.last.ts.getTime,
        s.size.toLong, math.round(s.map(_.value).sum * 1e4) / 1e4))
    }.toSet

    // stream the SAME events out of order, but bounded by the 1h
    // watermark: time-ordered slices, each shuffled internally
    // (unbounded disorder within a micro-batch), and each slice's last
    // 30 minutes deferred into the NEXT batch (cross-batch lateness
    // inside the watermark). Then a far-future sentinel advances the
    // watermark past every session so all of them close.
    val rnd = new scala.util.Random(7)
    val sorted = evs.sortBy(_.ts.getTime)
    val slices0 = sorted.grouped(sorted.size / 4 + 1).toSeq
    var carry = Seq.empty[UserEvent]
    val slices = slices0.zipWithIndex.map { case (s, i) =>
      val all = carry ++ s
      if (i == slices0.size - 1) { carry = Nil; rnd.shuffle(all) }
      else {
        val cutoff = s.map(_.ts.getTime).max - 1800000L
        val (stay, defer) = all.partition(_.ts.getTime < cutoff)
        carry = defer
        rnd.shuffle(stay)
      }
    }
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = UserEvent(999L,
      new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000), "flush", 0.0)

    val stream = MemoryStream[UserEvent]
    val q = StreamingIngest.sessionizeEventTime(stream.toDS(), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    slices.foreach { s => stream.addData(s); q.processAllAvailable() }
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    // one more batch so the advanced watermark fires the timeouts
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_out")
      .filter($"user_id" < 5L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3),
        math.round(r.getDouble(4) * 1e4) / 1e4)).toSet
    assert(got == expected,
      s"streamed ${got.size} sessions, expected ${expected.size}")
  }

  test("event-time sessionize drops beyond-watermark events instead of re-emitting sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 600000L
    // offset from epoch: an event at exactly t=0 would equal the INITIAL
    // watermark (0) and be treated as late before any data arrived
    def ev(uid: Long, sec: Long) =
      UserEvent(uid, new java.sql.Timestamp((1000 + sec) * 1000), "e", 1.0)

    val stream = MemoryStream[UserEvent]
    val q = StreamingIngest.sessionizeEventTime(stream.toDS(), gapMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    // one session for user 1, then sentinels advance the watermark far
    // past its close so it is emitted exactly once
    stream.addData(Seq(ev(1L, 0), ev(1L, 60))); q.processAllAvailable()
    val sentinel = ev(999L, 30L * 24 * 3600)
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    assert(spark.table("late_out").filter($"user_id" === 1L).count() == 1L)

    // an event far behind the watermark for the SAME user:
    // flatMapGroupsWithState does not auto-drop it, so without the guard
    // it would surface as a duplicate/overlapping session in append mode
    stream.addData(Seq(ev(1L, 120))); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()
    val got = spark.table("late_out").filter($"user_id" === 1L)
      .collect().map(r => (r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
    assert(got.toSeq == Seq((1000000L, 1060000L, 2L)),
      s"late event must be dropped, got ${got.mkString(",")}")
  }

  test("stream-stream as-of enrichment: on-time views join, late views drop, no-view facts emit nulls") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)

    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingIngest.streamEnrichAsOf(
      purchases.toDF().toDF("user_id", "ts", "amount"),
      views.toDF().toDF("user_id", "vts", "page"),
      key = "user_id", leftTs = "ts", rightTs = "vts",
      lag = "5 minutes", leftWatermark = "10 seconds",
      rightWatermark = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()

    // batch 1 — on-time traffic: user 1 viewed page A 10 s before
    // buying (in window) and page OLD 20 min before (outside the lag);
    // user 2 buys with no view at all
    views.addData(Seq((1L, ts(90), "A"), (1L, ts(-1100), "OLD")))
    purchases.addData(Seq((1L, ts(100), 10.0), (2L, ts(130), 20.0)))
    q.processAllAvailable()
    // batch 2 — a LATE view for user 2: by now we advance both
    // watermarks far past t=130 with fresh traffic, so the t=125 view
    // arrives beyond its stream's watermark and must never match
    views.addData(Seq((9L, ts(5000), "W"))) // watermark pusher
    purchases.addData(Seq((9L, ts(5001), 1.0)))
    q.processAllAvailable()
    views.addData(Seq((2L, ts(125), "LATE")))
    q.processAllAvailable()
    // batch 3 — push watermarks further so unmatched facts flush
    views.addData(Seq((8L, ts(9000), "X")))
    purchases.addData(Seq((8L, ts(9001), 2.0)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("enrich_out")
      .select($"user_id", $"amount", $"r_page")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)))).toSet
    // user 1: exactly the in-window view A (OLD excluded by the lag);
    // user 2: emitted once with nulls — the late view never joined
    assert(got.contains((1L, 10.0, Some("A"))))
    assert(!got.exists(_._3.contains("OLD")))
    assert(got.contains((2L, 20.0, None)))
    assert(!got.exists(_._3.contains("LATE")))

    // batch parity: the same code over batch frames (watermarks no-op)
    // on the ON-TIME subset produces the same matches for users 1 and 2
    val bPurch = Seq((1L, ts(100), 10.0), (2L, ts(130), 20.0))
      .toDF("user_id", "ts", "amount")
    val bViews = Seq((1L, ts(90), "A"), (1L, ts(-1100), "OLD"))
      .toDF("user_id", "vts", "page")
    val batch = StreamingIngest.streamEnrichAsOf(
        bPurch, bViews, "user_id", "ts", "vts", lag = "5 minutes")
      .select($"user_id", $"amount", $"r_page")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)))).toSet
    assert(batch == Set((1L, 10.0, Some("A")), (2L, 20.0, None)))
  }

  test("streaming exact dedup: repeated fingerprints within the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamingIngest.streamingExactDedup(
      stream.toDF().toDF("fp", "ts"), "fp", "ts", watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    stream.addData(Seq(("a", ts(0)), ("b", ts(1)), ("a", ts(2))))
    q.processAllAvailable()
    stream.addData(Seq(("a", ts(3)), ("c", ts(4)))) // 'a' still in state
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("a", "b", "c"))
  }

  test("streaming minhash dedup: near-dup within the watermark is flagged; parity with batch banding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "entirely different content with no shared phrases at all whatsoever"
    // offset from epoch 0: the initial watermark is 0, and the
    // late-event guard (ts > wm) would drop an epoch-0 event
    def ts(s: Int) = new java.sql.Timestamp((86400 + s) * 1000L)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val flags = StreamingIngest.streamingMinhashDedup(
      stream.toDF().toDF("doc_id", "text", "ts"), watermark = "10 minutes")
    val q = flags.writeStream.outputMode("append")
      .format("memory").queryName("dupflags").start()
    stream.addData(Seq((1L, base, ts(0)), (2L, other, ts(5))))
    q.processAllAvailable()
    stream.addData(Seq((3L, base, ts(20)))) // identical text, later arrival
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dupflags").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the later doc is flagged against the earlier one; the unrelated
    // doc collides with nothing
    assert(out.contains((3L, 1L)))
    assert(!out.exists(p => p._1 == 2L || p._2 == 2L))
    assert(out.forall(p => p._1 > p._2), "flags point later -> earlier")
    // batch parity: the flagged pairs are exactly d2's banding-stage
    // candidates over the same corpus
    val corpus = Seq((1L, base), (2L, other), (3L, base)).toDF("doc_id", "text")
    val batchPairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingles(corpus), numHashes = 8), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamPairs = out.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(streamPairs == batchPairs)
  }

  test("streaming keep-best: better variants emit changes, worse ones " +
      "don't; running answer matches the batch keepBestPerKey") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp((86400 + s) * 1000L)
    val stream = MemoryStream[(String, Long, Double, java.sql.Timestamp)]
    val changes = StreamingIngest.streamingKeepBest(
      stream.toDF().toDF("fp", "doc_id", "score", "ts"),
      watermark = "10 minutes")
    val q = changes.writeStream.outputMode("append")
      .format("memory").queryName("best_out").start()
    stream.addData(Seq(("k1", 1L, 0.5, ts(0)), ("k2", 4L, 0.1, ts(1))))
    q.processAllAvailable()
    stream.addData(Seq(
      ("k1", 2L, 0.9, ts(10)), // better -> change
      ("k1", 3L, 0.7, ts(11)), // worse than reigning 0.9 -> silent
      ("k2", 5L, 0.1, ts(12)))) // tie, LARGER id -> silent (batch tie rule)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("best_out").as[StreamingIngest.BestChange]
      .collect().sortBy(c => (c.fp, c.doc_id))
    assert(got.map(c => (c.fp, c.doc_id, c.replaced)).toSeq ==
      Seq(("k1", 1L, -1L), ("k1", 2L, 1L), ("k2", 4L, -1L)))
    // parity: the LAST change per key equals the batch operator
    val streamBest = got.groupBy(_.fp).map { case (fp, cs) =>
      fp -> cs.last.doc_id }
    val batch = graft.ops.Dedup.keepBestPerKey(
      Seq(("k1", 1L, 0.5), ("k1", 2L, 0.9), ("k1", 3L, 0.7),
        ("k2", 4L, 0.1), ("k2", 5L, 0.1)).toDF("fp", "doc_id", "score"),
      keyCol = "fp", scoreCol = "score")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamBest == batch)
  }

  test("HLL registers maintain under streaming: complete-mode state " +
      "equals the batch sketch of everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the register table is a plain groupBy-max, so the SAME operator
    // runs as a streaming stateful aggregation — the live-distincts
    // counter a 100 TB ingest keeps without ever re-scanning
    val events = Tables.t(spark, sf("0.001"), "events")
      .select($"user_id").as[Long].collect().toSeq
    val stream = MemoryStream[Long]
    val regs = graft.ops.Sketches.hllRegisters(
      stream.toDF().toDF("user_id"), "user_id", p = 9)
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    val (first, rest) = events.splitAt(events.size / 2)
    stream.addData(first)
    q.processAllAvailable()
    stream.addData(rest)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Sketches.hllRegisters(
        events.toDF("user_id"), "user_id", p = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming ingest: embed stage through a parquet sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = SparkSpec.tempDir("graft-stream").toString
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    val q = StreamingIngest.startIngest(spark, stream.toDF(),
      MockProvider(4), s"$out/docs", s"$out/ckpt")
    q.processAllAvailable()
    stream.addData(Seq((4L, "delta")))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(s"$out/docs")
    assert(got.count() == 4)
    val vec = got.where($"doc_id" === 4L).select($"vec")
      .head().getAs[Array[Byte]](0)
    assert(FloatVecDot.unpack(vec).toSeq == Seq(1.0f, 0.0f, 0.0f, 0.0f))
  }

  test("streaming ingest keeps the persistent ANN index live across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-skb2")
    val kb = graft.core.KbStore.create(spark,
      dir.resolve("kb").toString, Map("provider" -> "mock"))
    val p = MockProvider(4)
    kb.bulkAddDocs(p) { a => (0 until 20).foreach(i => a.add(s"seed $i")) }
    kb.buildAnnIndex(nlist = 4)
    kb.buildSqIndex() // the int8 tier follows the same live maintenance
    kb.buildTextIndex() // and so does the lexical tier
    // and the IVF-PQ tier, WITH its bucketed mirror: streaming upkeep
    // must keep the exchange-free pqKnnJoin path continuously valid
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2,
      sampleMod = 1, bucketCodes = true, buckets = 4)
    assert(kb.annIndexState == graft.core.KbStore.AnnCurrent)
    assert(kb.sqIndexState == graft.core.KbStore.AnnCurrent)
    assert(kb.textIndexState == graft.core.KbStore.AnnCurrent)
    assert(kb.pqIndexState == graft.core.KbStore.AnnCurrent)

    val stream = MemoryStream[String]
    val q = StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt").toString, maintainIndex = true)
    stream.addData(Seq("streamed alpha", "streamed beta"))
    q.processAllAvailable()
    stream.addData(Seq("streamed gamma"))
    q.processAllAvailable()
    q.stop()

    assert(kb.len == 23)
    // index followed every batch without a rebuild, and serves the
    // streamed docs (MockProvider's constant vectors make every doc an
    // equally-scored hit, so presence in the candidate set is the test)
    assert(kb.annIndexState == graft.core.KbStore.AnnCurrent)
    val hits = kb.annRetrieve("anything", 23, p, nProbe = 4)
    assert(hits.size == 23 &&
      hits.exists(_.doc.text == "streamed gamma"))
    // the compressed tier followed too, with no rebuild
    assert(kb.sqIndexState == graft.core.KbStore.AnnCurrent)
    val sqHits = kb.sqRetrieve("anything", 23, p, rerank = 100)
    assert(sqHits.size == 23 &&
      sqHits.exists(_.doc.text == "streamed gamma"))
    // and the lexical tier serves the streamed text
    assert(kb.textIndexState == graft.core.KbStore.AnnCurrent)
    assert(kb.bm25Retrieve("gamma", 1).head._2.text == "streamed gamma")
    // the IVF-PQ tier followed each batch and its refreshed mirror
    // still routes pqKnnJoin through the custom exchange-free plan
    assert(kb.pqIndexState == graft.core.KbStore.AnnCurrent)
    val pqQueries = kb.embeddings.toDF()
      .where(org.apache.spark.sql.functions.col("id") < 3)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("vec"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pqPlan = kb.pqKnnJoin(pqQueries, k = 2, nProbe = 4, rerank = 100)
        .queryExecution.executedPlan
      assert(pqPlan.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }.isDefined,
        s"streamed refreshes must keep the mirror current:\n$pqPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // replay safety: re-applying an already-committed batch id is a
    // no-op (the marker rides in the same commit as the docs), while
    // the next id applies
    val markerKey = s"__graft_ingest::${dir.resolve("ckpt")}"
    val replay = Seq("streamed gamma").toDF("text")
    assert(!StreamingIngest.applyIngestBatch(
      kb, replay, p, markerKey, batchId = 1L, maintainIndex = true))
    assert(kb.len == 23)
    assert(StreamingIngest.applyIngestBatch(
      kb, Seq("late delta").toDF("text"), p, markerKey, batchId = 2L,
      maintainIndex = true))
    assert(kb.len == 24 &&
      kb.annIndexState == graft.core.KbStore.AnnCurrent)
    kb.close()
  }

  test("dedup-on-ingest: dedupScreen drops archive and batch-internal " +
      "near-dups before the provider is called") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-skb3")
    val kb = graft.core.KbStore.create(spark,
      dir.resolve("kb").toString, Map("provider" -> "mock"))
    val p = MockProvider(4)
    // archive docs: long enough to shingle, distinct vocabulary per doc
    def archDoc(i: Int): String =
      s"archive doc $i " +
        (0 until 30).map(w => s"a${i}w${w}t${(i * 13 + w) % 97}")
          .mkString(" ")
    // fresh docs: a vocabulary no archive doc shares a shingle with
    def freshDoc(tag: String): String =
      s"fresh doc $tag " +
        (0 until 30).map(w => s"f${tag}w${w}n${(w * 7) % 31}").mkString(" ")
    kb.bulkAddDocs(p) { a => (0 until 20).foreach(i => a.add(archDoc(i))) }
    kb.buildDedupIndex()
    assert(kb.dedupIndexState == graft.core.KbStore.AnnCurrent)

    val stream = MemoryStream[String]
    val q = StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt").toString, maintainIndex = true,
      dedupScreen = Some(0.8))
    try {
      // batch 1: two genuinely fresh docs, an exact copy of an ARCHIVED
      // doc (must drop), and a batch-INTERNAL duplicate (second copy
      // must drop, first survives)
      stream.addData(Seq(freshDoc("A"), archDoc(3), freshDoc("B"),
        freshDoc("B")))
      q.processAllAvailable()
      assert(kb.len == 22,
        "archive copy and the later batch-internal copy must be dropped")
      val texts = kb.docs.collect().map(_.text)
      assert(texts.count(_ == freshDoc("A")) == 1)
      assert(texts.count(_ == freshDoc("B")) == 1)
      assert(texts.count(_ == archDoc(3)) == 1) // the ORIGINAL only

      // batch 2: a copy of batch 1's SURVIVOR must also drop — the
      // per-batch refresh is what lets the screen see prior batches
      stream.addData(Seq(freshDoc("A")))
      q.processAllAvailable()
      assert(kb.len == 22, "a dup of a prior batch's survivor must drop")

      // a genuinely new doc still lands, and the family stays current
      stream.addData(Seq(freshDoc("C")))
      q.processAllAvailable()
      assert(kb.len == 23)
      assert(kb.dedupIndexState == graft.core.KbStore.AnnCurrent)
    } finally q.stop()

    // screen-only mode (maintainIndex = false): the screen's own
    // refresh-if-stale keeps the dedup family current batch-to-batch,
    // so high-frequency deployments get dedup-on-ingest without the
    // per-batch ANN/text/PQ refresh cost
    val stream2 = MemoryStream[String]
    val q2 = StreamingIngest.startStoreIngest(
      stream2.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt2").toString, maintainIndex = false,
      dedupScreen = Some(0.8))
    try {
      stream2.addData(Seq(freshDoc("F")))
      q2.processAllAvailable()
      val lenF = kb.len
      stream2.addData(Seq(freshDoc("F"), freshDoc("G"))) // F dups batch 1
      q2.processAllAvailable()
      assert(kb.len == lenF + 1,
        "screen-only mode must see the prior batch's survivors")
      assert(kb.docs.filter($"text" === freshDoc("F")).count() == 1)
    } finally q2.stop()

    // non-text columns ride through the screen intact (r12 review: the
    // first cut projected the batch down to text and silently nulled
    // meta/parent_id on every screened doc)
    val markerKey = s"__graft_ingest::${dir.resolve("ckpt")}"
    val metaBatch = Seq((freshDoc("D"), """{"k":1}"""))
      .toDF("text", "meta")
    assert(StreamingIngest.applyIngestBatch(kb, metaBatch, p, markerKey,
      batchId = 99L, maintainIndex = true, dedupScreen = Some(0.8)))
    val d = kb.docs.filter($"text" === freshDoc("D")).collect()
    assert(d.length == 1 && d(0).meta.contains("""{"k":1}"""),
      "a screened batch must keep its meta column")

    // crash recovery (r12 review): a commit whose maintain-refresh
    // never ran (the replay path skips the re-commit, hence never
    // refreshes) leaves the family stale — the screen must refresh it
    // in place instead of wedging the stream on a loud stale require
    kb.bulkAddDocs(p)(_.add(freshDoc("E")))
    assert(kb.dedupIndexState == graft.core.KbStore.AnnStale)
    val wedge = Seq(freshDoc("E")).toDF("text") // dup of the un-indexed doc
    assert(StreamingIngest.applyIngestBatch(kb, wedge, p, markerKey,
      batchId = 100L, maintainIndex = true, dedupScreen = Some(0.8)))
    assert(kb.docs.filter($"text" === freshDoc("E")).count() == 1,
      "the in-screen refresh must let the screen see the un-indexed doc")
    assert(kb.dedupIndexState == graft.core.KbStore.AnnCurrent)
    kb.close()
  }

  test("semantic dedup-on-ingest: semanticScreen drops paraphrase-" +
      "level near-dups MinHash passes, alone and combined with the " +
      "lexical screen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-skb4")
    val kb = graft.core.KbStore.create(spark,
      dir.resolve("kb").toString, Map("provider" -> "mock"))
    // bag-of-words provider: sorted-token-bag-seeded unit vectors, so
    // a word-order paraphrase embeds IDENTICALLY while its shingle set
    // (hence the MinHash screen) sees a different document
    val p = new SemanticScreenSpec.BagProvider
    def mk(tag: String): String =
      s"sdoc $tag " + (0 until 30).map(w => s"${tag}q${w}z${(w * 5) % 23}")
        .mkString(" ")
    def para(tag: String): String = {
      val toks = mk(tag).split(" ")
      (toks.take(2) ++ toks.drop(2).reverse).mkString(" ")
    }
    kb.bulkAddDocs(p) { a => (0 until 16).foreach(i => a.add(mk(s"s$i"))) }
    kb.buildAnnIndex(nlist = 4)

    // semantic-only mode: no maintainIndex — the screen's own
    // refresh-if-stale keeps the ANN family current batch-to-batch
    val stream = MemoryStream[String]
    val q = StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt").toString, maintainIndex = false,
      semanticScreen = Some(0.9), semanticNProbe = 4)
    try {
      // a paraphrase of an ARCHIVED doc drops; a fresh doc lands; a
      // batch-internal paraphrase pair keeps only the first
      stream.addData(Seq(para("s3"), mk("fA"), para("fA")))
      q.processAllAvailable()
      assert(kb.len == 17,
        "archive paraphrase and the later internal paraphrase must drop")
      assert(kb.docs.toDF().where($"text" === mk("fA")).count() == 1)
      assert(kb.docs.toDF().where($"text" === para("s3")).count() == 0)
      // the next batch screens against the PRIOR batch's survivor
      stream.addData(Seq(para("fA")))
      q.processAllAvailable()
      assert(kb.len == 17)
      assert(kb.annIndexState == graft.core.KbStore.AnnCurrent)
    } finally q.stop()

    // combined mode: the lexical screen takes exact copies (before any
    // provider call), the semantic screen takes the paraphrases
    kb.buildDedupIndex()
    val stream2 = MemoryStream[String]
    val q2 = StreamingIngest.startStoreIngest(
      stream2.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt2").toString, maintainIndex = false,
      dedupScreen = Some(0.8), semanticScreen = Some(0.9),
      semanticNProbe = 4)
    try {
      stream2.addData(Seq(mk("s5"), para("s7"), mk("fB")))
      q2.processAllAvailable()
      assert(kb.len == 18, "exact copy AND paraphrase must both drop")
      assert(kb.docs.toDF().where($"text" === mk("fB")).count() == 1)
      // an all-dup batch still advances (marker) and leaves no extras
      stream2.addData(Seq(mk("fB"), para("fB")))
      q2.processAllAvailable()
      assert(kb.len == 18)
    } finally q2.stop()
    kb.close()
  }

  test("curation-on-ingest: the curate hook filters and rewrites " +
      "batches before the screens and the provider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-skb5")
    val kb = graft.core.KbStore.create(spark,
      dir.resolve("kb").toString, Map("provider" -> "mock"))
    val p = new SemanticScreenSpec.BagProvider
    def mk(tag: String): String =
      s"cdoc $tag " + (0 until 30).map(w => s"${tag}c${w}k${(w * 3) % 17}")
        .mkString(" ")
    kb.bulkAddDocs(p) { a => (0 until 10).foreach(i => a.add(mk(s"a$i"))) }
    kb.buildDedupIndex()

    // curate = drop docs under 5 tokens, redact emails — the standard
    // pipeline order: a rules-dropped doc never reaches a screen or
    // the provider, a rewritten doc is screened/stored in rewritten form
    val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => b.where(size(split(col("text"), " ")) >= 5)
        .withColumn("text", regexp_replace(col("text"),
          "[a-z0-9._]+@[a-z0-9.]+", "[EMAIL]"))

    val stream = MemoryStream[String]
    val q = StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, p,
      dir.resolve("ckpt").toString, maintainIndex = false,
      dedupScreen = Some(0.8), curate = curate)
    try {
      stream.addData(Seq(
        mk("fresh") + " contact me at someone@example.com today",
        "too short",      // curation drop — never screened or embedded
        mk("a4")))        // archived copy — still lexically screened
      q.processAllAvailable()
      assert(kb.len == 11, "only the curated+screened survivor lands")
      val stored = kb.docs.toDF()
        .where($"text".contains("[EMAIL]")).collect()
      assert(stored.length == 1 &&
        !stored(0).getString(3).contains("example.com"),
        "the survivor must be stored in its REDACTED form")
      assert(kb.docs.toDF().where($"text" === "too short").count() == 0)

      // an all-curated-away batch still advances the marker (no wedge):
      // read the exactly-once marker key itself, not just len (a silent
      // marker-advance failure would leave len identical either way)
      val markerKey = "__graft_ingest::" + dir.resolve("ckpt").toString
      val markerBefore = kb.getKeyOr(markerKey, -1L).asInstanceOf[Long]
      stream.addData(Seq("tiny", "also tiny"))
      q.processAllAvailable()
      assert(kb.len == 11)
      val markerAfter = kb.getKeyOr(markerKey, -1L).asInstanceOf[Long]
      assert(markerAfter > markerBefore,
        s"the all-curated-away batch must advance the ingest marker " +
          s"(before=$markerBefore after=$markerAfter)")
      stream.addData(Seq(mk("later")))
      q.processAllAvailable()
      assert(kb.len == 12, "the stream keeps flowing after an " +
        "all-curated-away batch")
    } finally q.stop()
    kb.close()
  }

  test("streaming ingest into the KbStore via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = SparkSpec.tempDir("graft-skb").resolve("kb").toString
    val kb = graft.core.KbStore.create(spark, path, Map("provider" -> "mock"))
    val p = MockProvider(4)

    val stream = MemoryStream[String]
    stream.addData(Seq("alpha", "beta"))
    val q = stream.toDF().toDF("text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) kb.bulkAddDocsDistributed(batch, p): Unit
      }
      .start()
    q.processAllAvailable()
    stream.addData(Seq("gamma"))
    q.processAllAvailable()
    q.stop()

    assert(kb.len == 3)
    assert(kb.embeddings.count() == 3)
    // ids remain dense across micro-batches
    assert(kb.docs.collect().map(_.id).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(kb.retrieve("anything", 1, p).nonEmpty)
    kb.close()
  }

  test("stateless curation ops run unchanged on a stream (pii redact + quality)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // piiRedact and gopherQuality are narrow per-row maps, so the SAME
    // DataFrame transformations apply to a streaming source with no
    // operator changes — the property this test pins
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(
      (1L, "the quick brown fox mails a@b.co and calls 555-123-4567"),
      (2L, "clean well formed text with the usual words in it")))
    val red = graft.ops.TextAnalysis.piiRedact(
      stream.toDF().toDF("doc_id", "text"))
    val q = red.writeStream.outputMode("append")
      .format("memory").queryName("pii_out").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("pii_out").orderBy($"doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getString(1).contains("[EMAIL]") &&
      out(0).getString(1).contains("[PHONE]"))
    assert(out(0).getLong(5) == 2 && out(1).getLong(5) == 0)
  }

  test("streaming vocab: exact batch parity when capacity covers the shard") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsB1 = Seq("alpha beta alpha", "gamma beta")
    val docsB2 = Seq("alpha delta", "beta beta gamma")
    val stream = MemoryStream[String]
    val vocab = StreamingIngest.streamingVocab(
      stream.toDF().toDF("text"), capacity = 100, nShards = 4)
    val q = vocab.writeStream.outputMode("update")
      .format("memory").queryName("vocab_out").start()
    stream.addData(docsB1); q.processAllAvailable()
    stream.addData(docsB2); q.processAllAvailable()
    q.stop()
    // counts only grow while no decrements happen, so the final
    // summary per term is its max emission
    val streamed = spark.table("vocab_out")
      .groupBy($"term")
      .agg(max($"count_lo").as("lo"), max($"count_hi").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = (docsB1 ++ docsB2).flatMap(_.split(" "))
      .groupBy(identity).map { case (t, xs) =>
        (t, xs.length.toLong, xs.length.toLong) }.toSet
    assert(streamed == batch)
  }

  test("streaming vocab: capacity-bounded state keeps valid bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed stream: 'heavy' dominates; 5 distinct terms, capacity 2
    val docs = Seq("heavy heavy heavy heavy heavy a b",
                   "heavy heavy heavy c d heavy")
    val stream = MemoryStream[String]
    val vocab = StreamingIngest.streamingVocab(
      stream.toDF().toDF("text"), capacity = 2, nShards = 1)
    val q = vocab.writeStream.outputMode("update")
      .format("memory").queryName("vocab_cap_out").start()
    stream.addData(docs); q.processAllAvailable()
    q.stop()
    val rows = spark.table("vocab_cap_out")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // summary never exceeds capacity
    assert(rows.length <= 2)
    val heavy = rows.find(_._1 == "heavy")
    assert(heavy.isDefined, s"heavy hitter evicted: ${rows.toSeq}")
    // true count 9 must lie within [lo, hi]
    assert(heavy.get._2 <= 9L && heavy.get._3 >= 9L, heavy.toString)
  }

  test("streaming EWMA: watermark-ordered fold matches the batch ewma " +
      "bit-for-bit, incl out-of-order arrivals and cross-batch folds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val alpha = 0.3
    def ts(s: Long) = new java.sql.Timestamp((1000 + s) * 1000)
    // out-of-order WITHIN each slice (the buffer must reorder by
    // (ts, event_id), incl a same-ts tie broken by id); slice gaps are
    // wide enough that each batch's watermark finalizes the previous
    // slice — exercising the incremental cross-batch fold, not just
    // one flush at the end
    val s1 = Seq((1L, 103L, ts(30), 2.0), (1L, 101L, ts(10), 1.0),
      (2L, 201L, ts(20), 5.0), (1L, 102L, ts(30), 4.0))
    val s2 = Seq((1L, 104L, ts(2000), 3.0), (2L, 202L, ts(1900), 1.0))
    val s3 = Seq((2L, 203L, ts(4000), 2.0), (1L, 105L, ts(4100), 0.5))
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val q = StreamingIngest.streamingEwma(
        stream.toDF().toDF("user_id", "event_id", "ts", "value"),
        alpha, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_out").start()
    Seq(s1, s2, s3).foreach { s => stream.addData(s); q.processAllAvailable() }
    val sentinel = (999L, 1L, ts(30L * 24 * 3600), 0.0)
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()

    // an event far behind the watermark: dropped, never folded out of
    // order (the horizon contract)
    stream.addData(Seq((1L, 900L, ts(50), 9.9))); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()

    val got = spark.table("ewma_out").filter($"user_id" < 100L)
      .as[StreamingIngest.EwmaPoint].collect()
      .map(p => (p.user_id, p.event_id, p.rn, p.ewma))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(!got.exists(_._2 == 900L), s"late event folded: $got")
    val batch = graft.ops.TimeJoins.ewma(
        (s1 ++ s2 ++ s3).toDF("user_id", "event_id", "ts", "value"),
        alpha, keyCol = "user_id")
      .as[(Long, Long, Long, Double)].collect()
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == batch && got.size == 8, s"got $got\nbatch $batch")
  }
}
