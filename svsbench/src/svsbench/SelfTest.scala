package svsbench

/** The benchmark's own tests: generator determinism, the tail rule and
  * the self-time arithmetic. No Spark session; run with
  * `python3 svsbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String)(ok: => Boolean): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    // ---- generator and provider determinism
    val a = (0 until 200).map(i => Corpus.text(7, Common.BaseStream, i))
    val b = (0 until 200).reverse.map(i => Corpus.text(7, Common.BaseStream, i)).reverse
    expect("same seed, same texts, any order") { a == b }
    expect("another seed, other texts") {
      a != (0 until 200).map(i => Corpus.text(8, Common.BaseStream, i))
    }
    expect("texts are 24-40 vocabulary words") {
      a.forall { t => val w = t.split(" "); w.length >= 24 && w.length <= 40 &&
        w.forall(Corpus.rankOf.containsKey) }
    }
    val p = ClusteredProvider(7)
    val v1 = p.embed(a.take(20))
    val v2 = ClusteredProvider(7).embed(a.take(20))
    expect("provider is byte-identical across instances") {
      v1.zip(v2).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    }
    expect("provider vectors are d384 unit") {
      v1.forall(v => v.length == 384 &&
        math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1) < 1e-4)
    }
    def cos(x: Array[Float], y: Array[Float]) = x.zip(y).map(t => t._1.toDouble * t._2).sum
    val sameCluster = (0 until 2000).filter(i =>
      Corpus.clusterOf(7, Common.BaseStream, i) == Corpus.clusterOf(7, Common.BaseStream, 0))
    expect("clustered: same-cluster docs score above other-cluster docs") {
      val v0 = p.embed(Seq(a.head)).head
      val same = sameCluster.drop(1).take(5).map(i =>
        cos(v0, p.embed(Seq(Corpus.text(7, Common.BaseStream, i))).head))
      val other = (1 until 40).filterNot(sameCluster.contains).take(5).map(i =>
        cos(v0, p.embed(Seq(a(i))).head))
      same.nonEmpty && same.min > other.max
    }
    expect("near copy differs in one word and scores above 0.95") {
      val c = Corpus.nearCopy(a.head, 7, 0)
      val diff = a.head.split(" ").zip(c.split(" ")).count(t => t._1 != t._2)
      diff == 1 && cos(p.embed(Seq(a.head)).head, p.embed(Seq(c)).head) > 0.95
    }

    // ---- tail rule
    expect("tail of 10 samples is the max") {
      Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0))
    }
    expect("tail of 100 samples is the 11th largest, p90") {
      Stats.tail((1 to 100).map(_.toDouble)) == ((90.0, 90.0))
    }
    expect("tail of 21 samples is the 11th largest") {
      Stats.tail((1 to 21).reverse.map(_.toDouble))._1 == 11.0
    }
    expect("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // ---- self-time arithmetic
    val spans = Seq(
      Span(1, 0, 1, "retrieve", 0, 100),
      Span(2, 1, 1, "core.index", 10, 30),
      Span(3, 1, 1, "ops.vector_topk", 30, 70),
      Span(4, 3, 1, "functions.dot", 40, 50),
      Span(5, 1, 1, "core.docs_lookup", 60, 90)) // overlaps span 3
    val self = Tracer.selfTimes(spans)
    expect("parent self = duration minus union of children") { self(1) == 100 - 80 }
    expect("child self excludes its own children") { self(3) == 30 && self(4) == 10 }
    expect("self times sum to the root duration") { self.values.sum == 100 + 10 } // overlap 60-70 counted twice
    expect("union of intervals") {
      Tracer.unionLength(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10
    }
    val t = new Tracer(true)
    t.span("a", 7) { t.span("core.b") { Thread.sleep(2) } }
    expect("tracer nests spans and inherits the op id") {
      val s = t.all
      s.size == 2 && s.find(_.name == "core.b").exists(c =>
        c.op == 7 && c.parent == s.find(_.name == "a").get.id)
    }
    expect("disabled tracer records nothing") {
      val off = new Tracer(false); off.span("x")(1) == 1 && off.all.isEmpty
    }

    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
