package graft

import org.apache.spark.sql.functions._

import graft.core.KbStore

/** Semantic dedup-screen-on-ingest (round 13 — the SemDeDup complement
  * of the MinHash screen, and the ANN family's sixth consumer). Pins:
  *   - the operator: `Dedup.semanticScreen(archive, batch)` drops a
  *     batch doc on an archive hit OR an earlier-batch hit
  *     (keep-first), with the d14 aggregate shape and smaller-id tie
  *     break (the d19 oracle re-pins this vs DuckDB);
  *   - banded-path parity on separated data (exactLimit = 0 forces the
  *     sketch branch on both components);
  *   - the store twin: `screenBatchSemantic` at FULL probe equals the
  *     exact operator (the k3 pattern); partial probe still catches a
  *     planted near-dup through its own cluster;
  *   - provider-call economy: each batch doc is embedded EXACTLY once
  *     — survivors commit through the pre-embedded path, never a
  *     second provider pass;
  *   - the batch twin `bulkAddDocsScreenedSemantic` with a lexical
  *     pre-screen: lexically-visible dups never pay a provider call,
  *     paraphrases (token-reordered text) pass MinHash and fall to the
  *     semantic stage.
  */
class SemanticScreenSpec extends SparkSpec {

  private def freshPath(): String =
    SparkSpec.tempDir("graft-semscreen").resolve("kb").toString

  /** Bag-of-words provider: the vector depends on the SORTED token
    * set, so a word-order paraphrase embeds identically (cos = 1)
    * while its shingle set — hence MinHash — is disjoint from the
    * original's. Distinct texts get independent 64-dim gaussian unit
    * vectors (|cos| ≲ 0.45 w.h.p.), far under the 0.9 threshold.
    */
  import SemanticScreenSpec.BagProvider

  private def doc(tag: String): String =
    s"doc $tag " + (0 until 30).map(w => s"${tag}w${w}x${(w * 11) % 37}")
      .mkString(" ")

  /** The same doc with its tail tokens reversed: identical token BAG
    * (same BagProvider vector) but a disjoint 3-shingle set. */
  private def paraphrase(tag: String): String = {
    val toks = doc(tag).split(" ")
    (toks.take(2) ++ toks.drop(2).reverse).mkString(" ")
  }

  test("semanticScreen drops archive hits and later batch-internal " +
      "dups, with the d14 aggregate shape and smaller-id ties") {
    import spark.implicits._
    // unit vectors with engineered cosines: e0 = e1 (archive twins, tie
    // check), q-dup matches both, q-fresh orthogonal
    val ex = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val ey = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val ez = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val archive = Seq((1L, ex.toSeq), (2L, ex.toSeq), (3L, ey.toSeq))
      .toDF("vec_id", "embedding")
    // 10: dup of archive 1 AND 2 (tie → best_match 1); 11: fresh;
    // 12: dup of 11 (internal, keep-first → 12 drops, best_match 11);
    // 13: dup of archive 3 AND of batch 10? no — ey only
    val batch = Seq((10L, ex.toSeq), (11L, ez.toSeq), (12L, ez.toSeq),
      (13L, ey.toSeq)).toDF("vec_id", "embedding")
    val out = graft.ops.Dedup.semanticScreen(archive, batch, 0.9)
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      (10L, 1L, 2L, 1.0),   // two archive matches, tie to smaller id
      (12L, 11L, 1L, 1.0),  // internal: later arrival drops
      (13L, 3L, 1L, 1.0)))
    // survivors = batch ids minus dropped
    assert(Seq(11L).forall(id => !out.exists(_._1 == id)))
  }

  test("semanticScreen banded path (exactLimit = 0) equals the exact " +
      "path on separated data") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    def unit(): Seq[Float] = {
      val v = Array.fill(32)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val archVecs = (0L until 40L).map(i => (i, unit()))
    val archive = archVecs.toDF("vec_id", "embedding")
    // batch: 3 exact copies of archive vectors + 5 fresh + 1 internal dup
    val fresh = (0 until 5).map(i => (200L + i, unit()))
    val batch = (Seq((100L, archVecs(5)._2), (101L, archVecs(17)._2),
      (102L, archVecs(33)._2)) ++ fresh :+ (300L, fresh(2)._2))
      .toDF("vec_id", "embedding")
    val exact = graft.ops.Dedup.semanticScreen(archive, batch, 0.9)
      .orderBy($"vec_id").collect().map(_.getLong(0)).toSeq
    val banded = graft.ops.Dedup.semanticScreen(archive, batch, 0.9,
        exactLimit = 0L)
      .orderBy($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(exact == Seq(100L, 101L, 102L, 300L))
    assert(banded == exact)
  }

  test("store twin: full-probe screenBatchSemantic equals the exact " +
      "operator, embeds each doc exactly once, commits screen-time " +
      "vectors") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), Map("provider" -> "mock"))
    val p = new BagProvider
    kb.bulkAddDocs(p) { a => (0 until 20).foreach(i => a.add(doc(s"a$i"))) }
    kb.buildAnnIndex(nlist = 4)
    assert(kb.annIndexState == KbStore.AnnCurrent)

    val batch = Seq(paraphrase("a3"), doc("f1"), doc("f2"), doc("f2"))
      .toDF("text")
    p.embedded = 0L
    val (kept, total, cleanup) =
      kb.screenBatchSemantic(batch, 0.9, p, nProbe = 4)
    try {
      assert(total == 4L)
      val texts = kept.select($"text").collect().map(_.getString(0)).toSeq
      // paraphrase of archived a3 drops (cos 1 under BagProvider);
      // f1 survives; first f2 survives, second (internal dup) drops
      assert(texts.sorted == Seq(doc("f1"), doc("f2")).sorted)
      assert(kept.columns.contains("vec"),
        "survivors must carry their screen-time embeddings")
      // exactly one embed per batch doc — the screen's pass, no more
      assert(p.embedded == 4L)
      kb.bulkAddDocsDistributed(kept, p)
      assert(p.embedded == 4L,
        "pre-embedded commit must not call the provider again")
      // the committed vector IS the provider's vector for that text
      val f1vec = p.embed(Seq(doc("f1"))).head.toSeq
      p.embedded = 0L
      val stored = kb.docs.toDF().where($"text" === doc("f1"))
        .select($"emb_id")
        .join(kb.embeddings.toDF().select($"id".as("eid"), $"vec"),
          $"emb_id" === $"eid")
        .select($"vec").collect()
      assert(stored.length == 1 &&
        stored(0).getSeq[Float](0).toSeq == f1vec)
    } finally cleanup()
    kb.close()
  }

  test("partial probe still catches a planted near-dup through its " +
      "own cluster; a stale ANN family is refreshed in place") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), Map("provider" -> "mock"))
    val p = new BagProvider
    kb.bulkAddDocs(p) { a => (0 until 24).foreach(i => a.add(doc(s"c$i"))) }
    kb.buildAnnIndex(nlist = 4)
    // make the family stale: one more archive doc after the build
    kb.bulkAddDocs(p)(_.add(doc("late")))
    assert(kb.annIndexState == KbStore.AnnStale)
    // nProbe = 1: the paraphrase's vector EQUALS the archived doc's, so
    // its nearest centroid is the archived doc's own list — the dup is
    // found in the first probe; the screen must also self-heal the
    // stale family (the 'late' doc only screens if refresh ran)
    val batch = Seq(paraphrase("c7"), paraphrase("late"), doc("g1"))
      .toDF("text")
    val (kept, total, cleanup) =
      kb.screenBatchSemantic(batch, 0.9, p, nProbe = 1)
    try {
      assert(total == 3L)
      val texts = kept.select($"text").collect().map(_.getString(0)).toSeq
      assert(texts == Seq(doc("g1")),
        s"expected only g1 to survive, got $texts")
      assert(kb.annIndexState == KbStore.AnnCurrent)
    } finally cleanup()
    kb.close()
  }

  test("bulkAddDocsScreenedSemantic with a lexical pre-screen: exact " +
      "copies drop before any provider call, paraphrases fall to the " +
      "semantic stage, families end current") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), Map("provider" -> "mock"))
    val p = new BagProvider
    kb.bulkAddDocs(p) { a => (0 until 20).foreach(i => a.add(doc(s"b$i"))) }
    kb.buildDedupIndex()
    kb.buildAnnIndex(nlist = 4)

    val batch = Seq(
      doc("b4"),        // exact archive copy — lexical drop, no embed
      paraphrase("b9"), // passes MinHash, semantic drop
      doc("n1"), doc("n2"))
      .toDF("text")
    p.embedded = 0L
    val (added, dropped) = kb.bulkAddDocsScreenedSemantic(batch, p,
      cosThreshold = 0.9, nProbe = 4, lexicalThreshold = Some(0.8))
    assert((added, dropped) == (2L, 2L))
    // the lexically-dropped doc never reached the provider: only the 3
    // lexical survivors were embedded (once each)
    assert(p.embedded == 3L,
      s"expected 3 provider embeds, got ${p.embedded}")
    assert(kb.docs.toDF().where($"text" === doc("n1")).count() == 1)
    assert(kb.docs.toDF().where($"text" === paraphrase("b9")).count() == 0)
    // both screen families refreshed for the next batch
    assert(kb.dedupIndexState == KbStore.AnnCurrent)
    assert(kb.annIndexState == KbStore.AnnCurrent)
    // a second batch duplicating this one's survivor drops
    val (a2, d2) = kb.bulkAddDocsScreenedSemantic(
      Seq(paraphrase("n1")).toDF("text"), p,
      cosThreshold = 0.9, nProbe = 4, lexicalThreshold = Some(0.8))
    assert((a2, d2) == (0L, 1L),
      "a paraphrase of a prior batch's survivor must drop")
    kb.close()
  }
}

object SemanticScreenSpec {
  val embedCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Top-level (serializable, no outer spec pointer — the distributed
    * embed paths ship the provider into tasks). Call counting goes
    * through the STATIC counter: an instance field would increment on
    * per-task copies; in local mode all tasks share the JVM and the
    * companion counter sees every call. */
  class BagProvider extends graft.core.Embeddings.EmbeddingProvider {
    def name = "bagvec"
    def dim = 64
    def embedded: Long = embedCount.get()
    def embedded_=(v: Long): Unit = embedCount.set(v)
    def embed(texts: Seq[String]): Seq[Array[Float]] = {
      embedCount.addAndGet(texts.size.toLong)
      texts.map { t =>
        val bag = t.split("\\s+").sorted.mkString(" ")
        val rnd = new java.util.Random(bag.hashCode.toLong * 2654435761L)
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
  }
}
