package osmbench

import graft.core.Splitmix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** One consumed output of an iteration: a hash per row over every column
  * (binary columns enter as crc32 of their bytes), plus the example-id,
  * label and split that the oracle checks. `error` is set when producing it
  * threw. */
final case class Part(name: String, hashes: Array[Long], ids: Array[(String, String, String)],
                      payloadBytes: Long, error: Option[String] = None) {
  def rows: Long = hashes.length.toLong
  def digest: Long = Digest.of(hashes)
}

final case class IterOut(parts: Seq[Part], items: Long)

object Digest {
  def rowHash(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    if (f.dataType == BinaryType) crc32(c) else c
  }: _*)

  /** Order-independent digest of a multiset of row hashes. */
  def of(hashes: Array[Long]): Long = {
    var h = hashes.length.toLong
    for (x <- hashes.sorted) h = Splitmix.mix(h ^ x)
    h
  }

  /** Consumes a labeled dataset-builder output in full; `onPlan` sees the
    * executed plan, its metrics filled. */
  def examples(name: String, df: DataFrame, onPlan: SparkPlan => Unit = _ => ()): Part = {
    val split = if (df.columns.contains("split")) col("split") else lit("all")
    val q = df.select(rowHash(df).as("h"), col("example_id"), col("label"), split.as("split"),
      coalesce(length(col("bytes")), lit(0)).cast("long").as("n"))
    val rows = q.collect()
    onPlan(q.queryExecution.executedPlan)
    Part(name, rows.map(_.getLong(0)), rows.map(r => (r.getString(1), r.getString(2), r.getString(3))),
      rows.map(_.getLong(4)).sum)
  }

  /** Consumes a query result in full. */
  def rows(name: String, df: DataFrame): Part =
    Part(name, df.select(rowHash(df)).collect().map(_.getLong(0)), Array.empty, 0L)

  /** The self-test's corruption: the part loses one row. */
  def dropOneRow(p: Part): Part = {
    val i = if (p.hashes.isEmpty) -1 else p.hashes.indices.minBy(p.hashes(_))
    if (i < 0) p else p.copy(hashes = p.hashes.patch(i, Nil, 1),
      ids = if (p.ids.isEmpty) p.ids else p.ids.patch(i, Nil, 1))
  }
}
