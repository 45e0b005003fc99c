package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r6 per-row winnowing kernel replaced the SQL window form
  * (posexplode grams -> per-doc window min -> distinct). This spec pins
  * kernel == window-form inside Spark; HashTwinSpec checks the same query
  * against its DuckDB twin, non-BMP text included. */
class WinnowKernelSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "abcdefgh"),            // exactly one eligible position
    (3L, "short"),               // len in [5,8): no eligible position
    (4L, "tiny"),                // below the shingle length
    (5L, "aaaaaaaaaaaaaaaa"),    // degenerate: one distinct gram
    (6L, "abcabcabcabcabcabc")   // periodic: repeated fingerprints
  ).toDF("doc_id", "text")

  /** The round-5 SQL window form, verbatim (0-based posexplode p,
    * min over rows p..p+3, keep p <= len-8, distinct). */
  private def windowForm(gramHash: org.apache.spark.sql.Column) = {
    val d = docs.where(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    d.select(col("doc_id"), col("len"),
        posexplode(expr("transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))"))
          .as(Seq("p", "g")))
      .select(col("doc_id"), col("len"), col("p"), gramHash.as("h"))
      .withColumn("fp", min(col("h")).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("p")).rowsBetween(0, 3)))
      .where(col("p") <= col("len") - 8)
      .select(col("doc_id"), col("fp")).distinct()
  }

  private def viaQuery(dir: String): Set[(Long, Long)] =
    graft.SparkEntry.queries("q_text_winnow")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("winnow_docs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("kernel == SQL window form, production xxhash64 path") {
    val dir = stage()
    val expected = windowForm(xxhash64(col("g")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaQuery(dir) == expected)
    assert(expected.exists(_._1 == 2L), "len-8 doc must emit its one position")
    assert(!expected.exists(_._1 == 3L), "len-in-[5,8) docs emit nothing")
  }
}
