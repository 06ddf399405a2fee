package graft

import org.apache.spark.sql.types._

import graft.ops.Csv

/** CSV ingest (S9): parse-and-quarantine semantics, RFC-4180 quoting
  * round trips, and the reference's strip+distinct normalization
  * (`Build Dad Jokes KB.ipynb` cell 5).
  */
class CsvSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("csv: parse-and-quarantine splits malformed and missing rows") {
    val dir = SparkSpec.tempDir("graft-csv")
    val src = dir.resolve("shard.csv")
    java.nio.file.Files.write(src, java.util.Arrays.asList(
      """1,"plain row"""",
      """2,"embedded, comma and ""quote""""",
      """3,""",                // empty text parses as null -> missing
      """notanumber,"text"""", // doc_id unparseable -> malformed
      """4,"  padded  """"))
    val (good, bad) = Csv.readWithQuarantine(
      spark, src.toString, schema, requiredCols = Seq("doc_id", "text"))
    val g = good.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(g.keySet == Set(1L, 2L, 4L))
    assert(g(2L) == """embedded, comma and "quote"""")
    assert(g(4L) == "  padded  ") // parse preserves; ingestDistinct strips
    val q = bad.collect().map(r => (r.getString(0),
      Option(r.getString(1)))).toSeq
    assert(q.contains(("missing:text", None)))
    assert(q.exists { case (reason, raw) =>
      reason == "malformed" && raw.exists(_.startsWith("notanumber")) })
    assert(bad.count() == 2)
  }

  test("csv: ingestDistinct strips, drops empties, dedups (reference " +
      "read_csv -> str.strip -> unique)") {
    import spark.implicits._
    val df = Seq(
      (1L, "  why did the chicken  "),
      (2L, "why did the chicken"), // same after strip, different id
      (3L, "   "),                 // empty after strip -> dropped
      (4L, "unique joke")).toDF("doc_id", "text")
    val out = Csv.ingestDistinct(df, "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // ids differ, so strip-equal texts remain distinct ROWS (the s9
    // fixture dedups exact duplicate lines, same id + same text)
    assert(out == Set((1L, "why did the chicken"),
      (2L, "why did the chicken"), (4L, "unique joke")))
    val textOnly = Csv.ingestDistinct(df.select($"text"), "text")
      .collect().map(_.getString(0)).toSet
    assert(textOnly == Set("why did the chicken", "unique joke"))
  }

  test("csv: write/read round trip is lossless incl quotes and commas") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-csv-rt")
    val df = Seq(
      (1L, """a "quoted" phrase"""),
      (2L, "comma, separated, values"),
      (3L, "plain")).toDF("doc_id", "text")
    val out = dir.resolve("out").toString
    Csv.write(df, out)
    val (again, none) = Csv.readWithQuarantine(
      spark, out, schema, requiredCols = Seq("doc_id", "text"))
    assert(none.isEmpty)
    assert(again.except(df).isEmpty && df.except(again).isEmpty)
  }
}
