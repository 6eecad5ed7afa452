package graft

import java.nio.file.Files

/** The measurement main: its timing record and its replicated inputs. */
class MeasureSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("Measure prints one record per query with jobs >= 1 and wall > 0") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Measure.run(spark, Array(dir, "q01_range_filter", "--reps", "1"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1, lines)
    def field(k: String): Double =
      s""""$k": ([0-9.Ee-]+)""".r.findFirstMatchIn(lines.head)
        .map(_.group(1).toDouble).getOrElse(fail(s"no $k in ${lines.head}"))
    assert(lines.head.startsWith("""{"query": "q01_range_filter", """))
    assert(field("jobs") >= 1)
    assert(field("wall_s") > 0)
  }

  test("replicate 2 writes twice the documents rows with distinct ids") {
    val rep = Measure.replicate(spark, dir, 2)
    try {
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      val docs = spark.read.parquet(s"$rep/documents.parquet")
      assert(docs.count() == 2 * n)
      assert(docs.select("doc_id").distinct().count() == 2 * n)
      assert(docs.schema ==
        spark.read.parquet(s"$dir/documents.parquet").schema)
      assert(Files.isSymbolicLink(rep.resolve("lineitem.parquet")))
    } finally Measure.delete(rep)
    assert(!Files.exists(rep))
  }
}
