package svsbench

import graft.core.Model.Retrieval

/** The benchmark's own copy of a store's vectors, for brute-force
  * ground truth. Row r holds the vector of store id `ids(r)`.
  */
final class Truth(val ids: Array[Long], val mat: Array[Float], val dim: Int) {

  /** Exact top-k by dot product in double precision, in the reference
    * order: score descending, larger id first on ties.
    */
  def topK(q: Array[Float], k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      })
    var r = 0
    while (r < ids.length) {
      val s = score(r, q)
      if (heap.size < k) heap.add((s, ids(r)))
      else {
        val top = heap.peek()
        if (s > top._1 || (s == top._1 && ids(r) > top._2)) {
          heap.poll(); heap.add((s, ids(r)))
        }
      }
      r += 1
    }
    heap.toArray(Array.empty[(Double, Long)])
      .sortBy { case (s, id) => (-s, -id) }
      .map { case (s, id) => (id, s) }
  }

  private def score(r: Int, q: Array[Float]): Double = {
    var acc = 0.0
    val off = r * dim
    var i = 0
    while (i < dim) { acc += mat(off + i).toDouble * q(i); i += 1 }
    acc
  }

  /** The first `n` rows only. */
  def prefix(n: Int): Truth =
    new Truth(ids.take(n), java.util.Arrays.copyOf(mat, n * dim), dim)

  /** Brute-force top-k of many queries, spread over the cores. */
  def topKAll(qs: Seq[Array[Float]], k: Int): Seq[Array[(Long, Double)]] = {
    val arr = qs.toArray
    val out = new Array[Array[(Long, Double)]](arr.length)
    java.util.stream.IntStream.range(0, arr.length).parallel()
      .forEach(i => out(i) = topK(arr(i), k))
    out.toSeq
  }
}

object Truth {
  /** Vectors for texts `0 until n`, stored under ids `firstId + i`. */
  def build(n: Int, firstId: Long, provider: ClusteredProvider,
      text: Long => String): Truth = {
    val d = provider.dim
    val mat = new Array[Float](n * d)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val v = provider.embed(Seq(text(i.toLong))).head
      System.arraycopy(v, 0, mat, i * d, d)
    }
    new Truth(Array.tabulate(n)(i => firstId + i), mat, d)
  }

  /** Tolerance on scores, and the gap below which two scores count as
    * tied (their order may then differ between float kernels). */
  val ScoreTol = 1e-5
  val TieTol = 1e-6

  /** Whether an exact retrieve matches the brute-force answer: same ids
    * in the same order (rank swaps allowed only between near-tied
    * scores) and every score within [[ScoreTol]].
    */
  def matches(got: Seq[Retrieval], want: Array[(Long, Double)]): Boolean =
    got.length == want.length && got.indices.forall { i =>
      val (wid, ws) = want(i)
      val g = got(i)
      math.abs(g.score - ws) <= ScoreTol &&
        (g.doc.id == wid || want.exists { case (id, s) =>
          id == g.doc.id && math.abs(s - ws) <= TieTol })
    }

  /** Recall of `got` ids against the first k ids of `want`. */
  def recall(got: Seq[Long], want: Array[(Long, Double)], k: Int): Double = {
    val truth = want.take(k).map(_._1).toSet
    if (truth.isEmpty) 1.0 else got.take(k).count(truth.contains).toDouble / truth.size
  }
}
