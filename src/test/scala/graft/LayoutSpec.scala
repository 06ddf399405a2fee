package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: col k bit j -> output bit j*K+k") {
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("a", "b")
      .select(Layout.zValue(2, col("a"), col("b")).as("z"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 15L, 6L))
    // z(2,1): a bit1 -> pos 2 (4); b bit0 -> pos 1 (2) => 6
  }

  test("zValue rejects too-wide interleaves") {
    intercept[IllegalArgumentException] {
      Layout.zValue(32, col("a"), col("b"))
    }
  }

  test("writeZordered: each file owns a disjoint z-range, so min/max " +
       "stats prune on either dimension") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map(_ =>
      (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("x", "y")
    val dir = SparkSpec.tempDir("graft-zorder").toString + "/t"
    Layout.writeZordered(df, dir,
      Layout.zValue(8, col("x"), col("y")), numFiles = 8)
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"),
        Layout.zValue(8, col("x"), col("y")).as("z"))
    val ranges = back.groupBy(col("f"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .orderBy(col("lo"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    assert(back.count() == 2000)
  }

  test("parquetFileStats reads footer min/max per file; skippingScan " +
       "prunes files on either z-interleaved dimension and matches the " +
       "full scan exactly") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4000).map(i =>
      (i.toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("id", "x", "y")
    val dir = SparkSpec.tempDir("graft-skip").toString + "/t"
    Layout.writeZordered(df, dir,
      Layout.zValue(8, col("x"), col("y")), numFiles = 16)
    val stats = Layout.parquetFileStats(spark, dir, Seq("x", "y")).cache()
    try {
      val nFiles = stats.select("file").distinct().count()
      assert(nFiles == 16, s"expected 16 files, got $nFiles")
      // manifest rows == files x columns; row counts fold to the table
      assert(stats.count() == nFiles * 2)
      assert(stats.where(col("column") === "x")
        .agg(sum(col("rows"))).head.getLong(0) == 4000L)
      // x-range predicate: z-clustered files cover sub-cubes, so a
      // single-dimension range must shed files at the manifest level
      val keptX = Layout.pruneFiles(spark, dir, stats, "x", 0, 31)
      assert(keptX.size < 16, s"x-range pruned nothing (${keptX.size})")
      // ... and on the OTHER interleaved dimension too (the property a
      // plain sort by x would NOT have)
      val keptY = Layout.pruneFiles(spark, dir, stats, "y", 0, 31)
      assert(keptY.size < 16, s"y-range pruned nothing (${keptY.size})")
      // parity: skipping scan == full scan + filter
      val skip = Layout.skippingScan(spark, dir, stats, "x", 0, 31)
        .select("id").as[Long].collect().sorted.toSeq
      val full = spark.read.parquet(dir)
        .where(col("x").between(0, 31))
        .select("id").as[Long].collect().sorted.toSeq
      assert(skip == full && full.nonEmpty)
      // an impossible range prunes everything and yields zero rows
      assert(Layout.pruneFiles(spark, dir, stats, "x", 1000, 2000).isEmpty)
      assert(Layout.skippingScan(spark, dir, stats, "x", 1000, 2000)
        .count() == 0)
    } finally stats.unpersist()
  }

  test("bench z-order block shape: hashed 2-D table, manifest prune " +
       "ratio, aggregate parity (the svs_skip_scan composition)") {
    // the exact composition Bench's skipping point runs, at 1/5 scale —
    // pins the block so the bench can't silently break
    val dir = SparkSpec.tempDir("graft-benchz").toString + "/t"
    val zdf = spark.range(200000L).select(col("id"),
      pmod(hash(col("id")), lit(1024)).cast("long").as("x"),
      pmod(hash(col("id") + 7L), lit(1024)).cast("long").as("y"),
      concat_ws("", (0 until 8).map(i =>
        md5(concat(col("id"), lit(i)))): _*).as("payload"))
    Layout.writeZordered(zdf, dir,
      Layout.zValue(10, col("x"), col("y")), numFiles = 64)
    val stats = Layout.parquetFileStats(spark, dir, Seq("x", "y")).cache()
    try {
      val kept = Layout.pruneFiles(spark, dir, stats, "x", 0, 127)
      // a 1/8 range over a z-layout of 64 files must prune hard: the
      // x-range maps to ~1/8 of z-space (plus boundary files)
      assert(kept.size <= 24, s"kept ${kept.size}/64 files")
      val skip = Layout.skippingScan(spark, dir, stats, "x", 0, 127)
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("s")).head
      val full = spark.read.parquet(dir).where(col("x").between(0, 127))
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("s")).head
      assert(skip == full && skip.getLong(0) > 0)
    } finally stats.unpersist()
  }
}
