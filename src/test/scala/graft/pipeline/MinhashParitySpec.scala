package graft.pipeline

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** MinHash recall on a corpus with planted duplicates: every planted exact
  * and near-dup pair is found with its exact-Jaccard verdict; plus the
  * winnowing guarantee. The corpus is fixed, so this is deterministic. */
class MinhashParitySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  def text(id: Long): String =
    (0 until 40).map(k => s"w${(id * 53 + k * 13) % 991}").mkString(" ")

  lazy val docs = {
    val base = (0L until 60L).map(i => (i, text(i)))
    val exact = (0L until 10L).map(i => (2000L + i, text(i)))       // jac = 1
    val near = (10L until 20L).map { i =>                            // jac ~0.9
      val words = text(i).split(" ")
      words(7) = "changed"
      (3000L + i, words.mkString(" "))
    }
    (base ++ exact ++ near).toDF("doc_id", "text").cache()
  }

  lazy val pairs: Map[(Long, Long), Long] = Dedup.minhashPairs(docs)
    .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

  test("winnowing: a shared >=8-char substring guarantees a shared fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    val shared = "ABCDEFGHIJKLMNOP" // 16 chars >> the k+w-1 = 8 guarantee bound
    Seq((1L, "xxxxx" + shared + "yyyyyyy"),
        (2L, "qqqqqqq" + shared + "zzzz"),
        (3L, "0123456789abcdefghij")) // shares no 5-gram with 1/2
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = graft.SparkEntry.queries("q_text_winnow")(spark, dir)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty,
      "winnowing guarantee violated: shared substring, no shared fingerprint")
    assert((fp(1L) intersect fp(3L)).isEmpty && (fp(2L) intersect fp(3L)).isEmpty,
      "no shared 5-gram must mean no shared fingerprint")
  }

  test("MinHash finds every planted exact-dup pair at jac = 1") {
    for (i <- 0L until 10L) {
      assert(pairs.get((i, 2000L + i)).contains(1000000L),
        s"exact dup ($i, ${2000 + i}) missing or jac != 1")
    }
  }

  test("MinHash finds every planted near-dup pair with its exact jaccard") {
    for (i <- 10L until 20L) {
      val m = pairs.get((i, 3000L + i))
      assert(m.isDefined, s"missed near-dup ($i, ${3000 + i})")
      assert(m.get >= 800000L, s"planted near-dup similarity unexpectedly low: $m")
    }
  }
}
