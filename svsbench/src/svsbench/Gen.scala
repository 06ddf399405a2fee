package svsbench

import graft.core.Embeddings.EmbeddingProvider

/** SplitMix64: a fully specified 64-bit generator, so the same seed
  * gives byte-identical inputs on every JVM (java.util.Random's
  * Gaussian and the JDK's RandomGenerator defaults are not pinned by
  * the language spec).
  */
final class Mix(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    Mix.fmix(state)
  }
  /** Uniform in [0, 1) with 53 random bits. */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  /** Box-Muller; one draw per call keeps the stream position simple. */
  def nextGaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    val u2 = nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

object Mix {
  def fmix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** An independent stream per (seed, purpose, index). */
  def apply(seed: Long, stream: Long, index: Long): Mix =
    new Mix(fmix(fmix(seed ^ fmix(stream + 0x632BE59BD9B4E019L)) + index))
}

/** The corpus model every workload draws from.
  *
  *  - Vocabulary: [[Corpus.Vocab]] pronounceable words; token draws are
  *    Zipf(1.0) over word rank, like natural text.
  *  - Topics: [[Corpus.Clusters]] clusters, each owning
  *    [[Corpus.TopicWords]] mid-frequency words. A document of cluster
  *    c mixes ~30% topic words of c into its Zipf draws, so BM25 has
  *    discriminative terms and the embedding provider can recover c
  *    from the text alone.
  *
  * Every text is a pure function of (seed, stream, index), so executor
  * tasks and the driver generate identical corpora independently.
  */
object Corpus {
  val Vocab = 20000
  val Clusters = 256
  val TopicWords = 16
  /** Topic words sit at ranks [TopicBase, TopicBase + Clusters·TopicWords). */
  val TopicBase = 4000
  val Dim = 384

  private val syllables = Array("ka", "lo", "mi", "nu", "re", "sa", "ti",
    "vo", "be", "da", "fe", "gi", "ho", "ju", "ke", "la", "ma", "ne", "po",
    "qu", "ri", "so", "tu", "ze")

  /** Word of rank r: fixed-length base-24 syllables, unique per rank. */
  def word(r: Int): String = {
    val digits = if (r < 24 * 24 * 24) 3 else 4
    val sb = new StringBuilder
    var x = r
    var i = 0
    while (i < digits) { sb.append(syllables(x % 24)); x /= 24; i += 1 }
    sb.toString
  }

  lazy val words: Array[String] = Array.tabulate(Vocab)(word)
  lazy val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](Vocab * 2)
    words.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }

  /** Zipf(1.0) cumulative weights over rank, for inverse-CDF draws. */
  private lazy val zipfCdf: Array[Double] = {
    val c = new Array[Double](Vocab)
    var acc = 0.0
    var r = 0
    while (r < Vocab) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    c.map(_ / acc)
  }

  def zipfRank(rng: Mix): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Vocab - 1)
  }

  def topicWord(cluster: Int, j: Int): Int = TopicBase + cluster * TopicWords + j

  /** Cluster of a document: uniform over clusters. */
  def clusterOf(seed: Long, stream: Long, index: Long): Int =
    Mix(seed, stream ^ 0x5A5AL, index).nextInt(Clusters)

  /** Text of document `index` in `stream`: `minWords`..`maxWords` tokens. */
  def text(seed: Long, stream: Long, index: Long,
      minWords: Int = 24, maxWords: Int = 40): String = {
    val c = clusterOf(seed, stream, index)
    val rng = Mix(seed, stream, index)
    val len = minWords + rng.nextInt(maxWords - minWords + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      val r =
        if (rng.nextDouble() < 0.3) topicWord(c, rng.nextInt(TopicWords))
        else zipfRank(rng)
      sb.append(words(r))
      i += 1
    }
    sb.toString
  }

  /** The same text with token `pos` replaced by a different word —
    * a planted near-duplicate (cosine ≈ 0.98 under [[ClusteredProvider]]).
    */
  def nearCopy(text: String, seed: Long, index: Long): String = {
    val toks = text.split(" ")
    val rng = Mix(seed, 0x4E44L, index)
    val pos = rng.nextInt(toks.length)
    var r = zipfRank(rng)
    while (words(r) == toks(pos)) r = (r + 1) % Vocab
    toks(pos) = words(r)
    toks.mkString(" ")
  }
}

/** Per-seed provider tables, built once per JVM: the cluster centres
  * and one Gaussian direction per vocabulary word.
  */
object ProviderTables {
  final class Tables(val centres: Array[Array[Float]],
      val wordVecs: Array[Array[Float]])

  private val cache = new java.util.concurrent.ConcurrentHashMap[Long, Tables]()

  private def gaussUnit(rng: Mix, d: Int): Array[Float] = {
    val v = Array.fill(d)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def get(seed: Long): Tables = cache.computeIfAbsent(seed, s => {
    val d = Corpus.Dim
    val centres = Array.tabulate(Corpus.Clusters)(c =>
      gaussUnit(Mix(s, 0xCE17L, c), d))
    val wordVecs = Array.tabulate(Corpus.Vocab)(w =>
      gaussUnit(Mix(s, 0x3070L, w), d))
    new Tables(centres, wordVecs)
  })
}

/** The benchmark's embedding provider: a local, deterministic stand-in
  * for the reference's remote embedding API, so the numbers measure the
  * engine and not HTTP.
  *
  * A text's vector is `normalize(centre(c) + Σ word(t) / √len)`: the
  * centre of the cluster whose topic words dominate the text, plus a
  * bag-of-words term. The result is anisotropic like real embeddings —
  * 256 clusters for IVF/PQ to find, a shared common-word direction, and
  * texts that share words score close (a one-word edit keeps cosine
  * near 0.98, which is what the planted near-duplicate pairs rely on).
  */
final case class ClusteredProvider(seed: Long) extends EmbeddingProvider {
  def name: String = "svsbench-clustered"
  override def params: Map[String, String] =
    Map("provider" -> name, "seed" -> seed.toString)
  def dim: Int = Corpus.Dim

  def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t = ProviderTables.get(seed)
    texts.map(vector(t, _))
  }

  private def vector(t: ProviderTables.Tables, text: String): Array[Float] = {
    val d = Corpus.Dim
    val acc = new Array[Double](d)
    val votes = new Array[Int](Corpus.Clusters)
    val toks = text.split(" ")
    var n = 0
    toks.foreach { tok =>
      val r = Corpus.rankOf.get(tok)
      if (r != null) {
        val w = t.wordVecs(r)
        var i = 0
        while (i < d) { acc(i) += w(i); i += 1 }
        n += 1
        val off = r - Corpus.TopicBase
        if (off >= 0 && off < Corpus.Clusters * Corpus.TopicWords)
          votes(off / Corpus.TopicWords) += 1
      }
    }
    var best = 0
    var c = 1
    while (c < Corpus.Clusters) { if (votes(c) > votes(best)) best = c; c += 1 }
    // a text with no topic word (rare) still gets a stable cluster
    val cluster =
      if (votes(best) > 0) best
      else java.lang.Math.floorMod(text.hashCode, Corpus.Clusters)
    val centre = t.centres(cluster)
    val scale = if (n > 0) 1.0 / math.sqrt(n.toDouble) else 0.0
    var norm = 0.0
    var i = 0
    while (i < d) {
      acc(i) = centre(i) + acc(i) * scale
      norm += acc(i) * acc(i)
      i += 1
    }
    val inv = 1.0 / math.sqrt(norm)
    val out = new Array[Float](d)
    i = 0
    while (i < d) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    out
  }
}
