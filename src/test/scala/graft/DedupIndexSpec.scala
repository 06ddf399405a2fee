package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.KbStore

/** The fifth manifest-managed index family: persisted MinHash LSH band
  * keys for cross-snapshot incremental dedup (round 12). Pins:
  *   - the operator twin: `minhashNearDupsIncremental(archive, batch)`
  *     equals `minhashNearDups(archive ∪ batch)` filtered to pairs
  *     touching the batch (the d18 oracle re-pins this vs DuckDB);
  *   - the store lifecycle: build → Current, doc add → Stale,
  *     incremental refresh → Current with O(changed docs) writes;
  *   - `dedupCandidates`: signatures-vs-rescan equality — screening a
  *     pre-ingest batch through the PERSISTED bands finds exactly the
  *     pairs a full rescan of archive ∪ batch finds (restricted to the
  *     batch);
  *   - parameter persistence: refresh and query banding follow the
  *     manifest's recorded MinHash parameters.
  */
class DedupIndexSpec extends SparkSpec {

  private def freshPath(): String =
    SparkSpec.tempDir("graft-dedup").resolve("kb").toString

  private def provider = new graft.core.Embeddings.EmbeddingProvider {
    def name = "hashvec"; def dim = 8
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val rnd = new java.util.Random(t.hashCode.toLong)
      val v = Array.fill(8)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** A corpus with real near-dup structure: every 10th doc is a light
    * edit of its predecessor (one word of ~40 changed, so the exact
    * Jaccard of the shingle sets is ~37/43 ≈ 0.86 > the 0.8 threshold),
    * and every 37th doc is too short to shingle (the sentinel path).
    */
  private def corpusTexts(n: Int, offset: Int = 0): Seq[String] = {
    def body(id: Long, tail: String): String =
      s"document $id body " +
        (0 until 36).map(w => s"w${(id * 31 + w * 7) % 19}x$w")
          .mkString(" ") + s" $tail"
    (0 until n).map { i =>
      val j = (i + offset).toLong
      if (j % 10 == 9) body(j - 1, "CHANGED")
      else if (j % 37 == 5) "tiny doc" // 2 tokens < k=3: no shingles
      else body(j, "sigma")
    }
  }

  test("operator twin: incremental == full pipeline filtered to the batch") {
    import spark.implicits._
    val docs = corpusTexts(120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val archive = docs.where($"doc_id" % 5 =!= 4)
    val batch = docs.where($"doc_id" % 5 === 4)
    val full = graft.ops.Dedup.minhashNearDups(docs,
        k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      .where($"doc1" % 5 === 4 || $"doc2" % 5 === 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val inc = graft.ops.Dedup.minhashNearDupsIncremental(archive, batch,
        k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(full.nonEmpty, "test corpus must produce batch-touching pairs")
    assert(inc == full)
  }

  test("store family: lifecycle, O(batch) refresh, candidates == rescan") {
    import spark.implicits._
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = provider
    val seed = corpusTexts(200)
    kb.bulkAddDocs(p)(a => seed.foreach(a.add(_)))

    assert(kb.dedupIndexState == KbStore.AnnNone)
    intercept[IllegalStateException] { kb.refreshDedupIndex() }
    kb.buildDedupIndex(k = 3, numHashes = 8, rowsPerBand = 2)
    assert(kb.dedupIndexState == KbStore.AnnCurrent)

    // the persisted family covers EVERY doc (sentinel rows for the
    // shingle-less ones), and params landed in the manifest
    val bands = kb.dedupBands
    assert(bands.select($"doc_id").distinct().count() == 200)
    assert(bands.where($"band" === -1L).count() > 0,
      "shingle-less docs must carry the coverage sentinel")
    assert(kb.meta.index_params("dedup_num_hashes") == "8")

    // ---- signatures-vs-rescan equality (the twin gate shape) ----
    // a pre-ingest batch: some genuinely new docs + exact/near copies
    // of archived docs (ids offset past the store's id space)
    val storeDocs = kb.docs.toDF().select($"id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batchRows: Seq[(Long, String)] =
      storeDocs.take(5).map { case (id, t) => (10000L + id, t) }.toSeq ++
        Seq((20001L, "completely fresh document with novel words " +
          "quux corge grault garply waldo fred plugh xyzzy thud end"))
    val batch = batchRows.toDF("doc_id", "text")
    val got = kb.dedupCandidates(batch, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // rescan twin: the plain batch operator over archive ∪ batch,
    // filtered to pairs touching the batch (ids >= 10000)
    val rescan = graft.ops.Dedup.minhashNearDups(
        storeDocs.toSeq.toDF("doc_id", "text").unionByName(batch),
        k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      .where($"doc1" >= 10000L || $"doc2" >= 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(rescan.nonEmpty, "batch copies must near-dup their originals")
    assert(got == rescan)

    // ---- incremental refresh: O(changed docs), correct coverage ----
    def dirBytes(d: String): Long = {
      val root = Paths.get(d)
      if (!Files.isDirectory(root)) 0L
      else {
        val walk = Files.walk(root)
        try walk.filter(f => Files.isRegularFile(f))
          .mapToLong(f => Files.size(f)).sum()
        finally walk.close()
      }
    }
    val baseVer = kb.meta.table_versions(KbStore.DedupBandsTable)
    kb.bulkAddDocs(p)(a => corpusTexts(10, offset = 200).foreach(a.add(_)))
    assert(kb.dedupIndexState == KbStore.AnnStale)
    intercept[IllegalArgumentException] {
      kb.dedupCandidates(batch)
    }
    kb.refreshDedupIndex()
    assert(kb.dedupIndexState == KbStore.AnnCurrent)
    val newVer = kb.meta.table_versions(KbStore.DedupBandsTable)
    val addSeg = dirBytes(s"$path/${KbStore.DedupBandsTable}/v$newVer")
    val baseSeg = dirBytes(s"$path/${KbStore.DedupBandsTable}/v$baseVer")
    assert(addSeg > 0 && addSeg < baseSeg / 3,
      s"10-doc refresh wrote $addSeg bytes vs $baseSeg for the 200-doc build")
    assert(kb.dedupBands
      .select($"doc_id").distinct().count() == 210)

    // a deleted doc's bands tombstone on the next refresh
    val victim = kb.docs.select($"id").orderBy($"id".desc)
      .limit(1).collect()(0).getLong(0)
    kb.bulkDelDocs(Seq(victim))
    assert(kb.dedupIndexState == KbStore.AnnStale)
    kb.refreshDedupIndex()
    assert(kb.dedupBands
      .where($"doc_id" === victim).count() == 0)

    // ---- screened bulk load: the batch twin of the streaming
    // dedup-on-ingest (backfill a dump against the archive) ----
    val lenBefore = kb.len
    val dump = Seq(
      ("brand new dump document with its own vocabulary " +
        (0 until 30).map(w => s"dumpw${w}z${(w * 5) % 17}").mkString(" "),
        """{"src":"dump"}"""),
      (storeDocs(7)._2, null), // exact copy of an archived doc: drop
      ("brand new dump document with its own vocabulary " +
        (0 until 30).map(w => s"dumpw${w}z${(w * 5) % 17}").mkString(" "),
        null) // batch-internal dup of row 1: drop (keep-first)
    ).toDF("text", "meta")
    val (added, dropped) = kb.bulkAddDocsScreened(dump, p, threshold = 0.8)
    assert(added == 1 && dropped == 2, s"got ($added, $dropped)")
    assert(kb.len == lenBefore + 1)
    // the survivor kept its meta and the family is current again, so
    // the SAME dump re-screened drops everything
    val survivor = kb.docs
      .filter($"text".startsWith("brand new dump document")).collect()
    assert(survivor.length == 1 &&
      survivor(0).meta.contains("""{"src":"dump"}"""))
    assert(kb.dedupIndexState == KbStore.AnnCurrent)
    val (added2, dropped2) = kb.bulkAddDocsScreened(dump, p)
    assert(added2 == 0 && dropped2 == 3)
    assert(kb.len == lenBefore + 1)
    kb.close()
  }
}
