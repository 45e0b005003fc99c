package graft

import graft.pipeline.XxhashSql.xxh64Sql
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Connection, DriverManager, ResultSet}
import scala.jdk.CollectionConverters._

/** The xxhash64 path and its DuckDB twins: [[pipeline.XxhashSql]] against
  * Catalyst's XXH64, the ten hash-path queries against their twins at
  * sf0.001, and the winnowing pair on generated non-BMP text. Results
  * compare as tools/oracle_check.py does: columns by name, rows sorted,
  * ints and strings exact, floats NaN-aware. */
class HashTwinSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val sf = sys.props("user.home") + "/testdata/sf0.001"

  private def duck[A](body: Connection => A): A = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    try body(c) finally c.close()
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def xxh(s: String, seed: Long): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** oracle_check's value rule as a canonical string: floats NaN-aware
    * (0.0 == -0.0), everything else exact. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else d.toString
    case f: java.lang.Float => canon(f.toDouble)
    case x => x.toString
  }

  /** Columns sorted by name, then rows sorted. */
  private def table(cols: Seq[String], rows: Seq[Seq[Any]]): (Seq[String], Seq[Seq[String]]) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    (order.map(cols), rows.map(r => order.map(i => canon(r(i))))
      .sortBy(_.mkString("\u0001")))
  }

  private def duckTable(c: Connection, sql: String) = {
    val rs: ResultSet = c.createStatement().executeQuery(sql)
    val md = rs.getMetaData
    val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
    val rows = Iterator.continually(rs).takeWhile(_.next())
      .map(r => cols.indices.map(i => r.getObject(i + 1))).toVector
    rs.close()
    table(cols, rows)
  }

  /** Spark query `name` over `dir` vs its twin over views of the same
    * parquet files; returns the row count. */
  private def twinCheck(c: Connection, name: String, dir: String): Int = {
    val df = SparkEntry.queries(name)(spark, dir)
    val got = table(df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
    val exp = duckTable(c, SparkEntry.oracleSql(name))
    assert(got._1 == exp._1, s"$name: schema")
    val diff = got._2.diff(exp._2).take(3) ++ exp._2.diff(got._2).take(3)
    assert(got._2 == exp._2, s"$name: ${got._2.size} vs ${exp._2.size} rows, e.g. $diff")
    got._2.size
  }

  private def views(c: Connection, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t =>
      exec(c, s"CREATE OR REPLACE VIEW $t AS SELECT * FROM read_parquet('$dir/$t.parquet')"))

  test("xxh64Sql == XXH64.hashUnsafeBytes on 0-31 byte strings; chains; raises at 32") {
    val rnd = new scala.util.Random(20261020L)
    // 1-, 2-, 3- and 4-byte code points: ASCII, Latin-1, a combining mark,
    // CJK, and two non-BMP characters (surrogate pairs in UTF-16)
    val alphabet = Seq("a", "Z", " ", "|", "\u00e9", "\u0301", "\u4e2d", "\ud83d\ude00", "\ud800\udf48")
    val seeds = Seq(42L, 0L, -1L, Long.MinValue, Long.MaxValue)
    val cases = ("", 42L) +: (1 until 640).map { _ =>
      val target = rnd.nextInt(32)
      val sb = new StringBuilder
      var ok = true
      while (ok) {
        val ch = alphabet(rnd.nextInt(alphabet.size))
        if ((sb.toString + ch).getBytes(UTF_8).length <= target) sb.append(ch) else ok = false
      }
      (sb.toString, if (rnd.nextBoolean()) seeds(rnd.nextInt(seeds.size)) else rnd.nextLong())
    }
    assert(cases.map(_._1.getBytes(UTF_8).length).toSet == (0 to 31).toSet)
    assert(cases.exists(_._2 < 0) && cases.exists(_._1.exists(Character.isSurrogate)))
    duck { c =>
      exec(c, "CREATE TABLE t (i BIGINT, s VARCHAR, seed BIGINT)")
      val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?, ?)")
      cases.zipWithIndex.foreach { case ((s, seed), i) =>
        ps.setLong(1, i); ps.setString(2, s); ps.setLong(3, seed); ps.addBatch()
      }
      ps.executeBatch()
      ps.close()
      val got = duckTable(c, s"SELECT i AS a_i, h AS b_h FROM (${xxh64Sql("t", "s", "seed", "h")})")
        ._2.map(r => r(0).toLong -> r(1).toLong).toMap
      assert(got.size == cases.size)
      cases.zipWithIndex.foreach { case ((s, seed), i) =>
        assert(got(i.toLong) == xxh(s, seed), s"'$s' seed $seed")
      }

      // Spark's two-argument xxhash64(a, b): b hashed with seed H(a, 42)
      val pairs = Seq(("cms0|", "abcde"), ("kmv|", "\u4e2d\ud83d\ude00x"), ("", ""), ("hll|", "1234"))
      val spark2 = pairs.toDF("a", "b").select(xxhash64(col("a"), col("b"))).as[Long].collect()
      val values = pairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
      val inner = xxh64Sql(s"(VALUES $values) AS v(a, b)", "a", "42", "ha")
      val chained = duckTable(c, s"SELECT a, b, h FROM (${xxh64Sql(s"($inner)", "b", "ha", "h")})")
      assert(chained._2.map(r => (r(0), r(1)) -> r(2).toLong).toMap ==
        pairs.map { case (a, b) => (a, b) }.zip(spark2).toMap)
      assert(spark2.head == 1880758968310942296L)

      val raised = intercept[java.sql.SQLException](
        duckTable(c, s"SELECT h FROM (${xxh64Sql("(SELECT repeat('a', 32) AS s)", "s", "42", "h")})"))
      assert(raised.getMessage.contains("32 bytes"))
    }
  }

  test("the ten xxhash64 queries equal their DuckDB twins at sf0.001") {
    val names = Seq("q_text_winnow", "q_text_contamination", "q_dedup_minhash",
      "q_dedup_resolve", "q_sketch_cms", "q_sketch_joinsize", "q_sketch_hll",
      "q_sketch_kmv", "q_sketch_theta", "q_sketch_refresh")
    duck { c =>
      views(c, sf, Seq("documents", "events"))
      val sizes = names.map(n => n -> twinCheck(c, n, sf)).toMap
      assert(sizes.forall(_._2 > 0), sizes)
    }
  }

  test("winnowing on non-BMP, CJK and combining-mark text equals its twin") {
    // doc 0 and 97 are the contamination "benchmark" side (doc_id % 97 == 0);
    // later docs copy 8+ code-point runs from them, so hits exist
    val words = Seq("\ud83d\ude00\ud83d\ude01", "\u4e2d\u6587\u5b57", "e\u0301te\u0301",
      "na\u0308ive", "\ud800\udf48\ud800\udf49x", "plain", "\u00fcber", "ok")
    val rnd = new scala.util.Random(97L)
    def text(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (0L until 120L).map(i => i -> text(3 + rnd.nextInt(12)))
    val bench = base.filter(_._1 % 97 == 0).map(_._2)
    val docs = base.map { case (i, t) =>
      if (i % 97 != 0 && i % 5 == 0) {
        val b = bench((i % bench.size).toInt)
        val cps = b.codePoints().toArray
        i -> (t + " " + new String(cps, 0, math.min(cps.length, 10)))
      } else i -> t
    } ++ Seq(200L -> "\ud83d\ude00", 201L -> "\ud83d\ude00" * 9)
    assert(docs.exists(_._2.exists(Character.isSurrogate)))
    // one documents.parquet FILE, the sf dirs' layout
    val dir = java.nio.file.Files.createTempDirectory("graft_hash_twin")
    val tmp = dir.resolve("tmp")
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get finally listing.close()
    java.nio.file.Files.move(part, dir.resolve("documents.parquet"))
    duck { c =>
      views(c, dir.toString, Seq("documents"))
      assert(twinCheck(c, "q_text_winnow", dir.toString) > 0)
      assert(twinCheck(c, "q_text_contamination", dir.toString) > 0)
    }
    tables.StageRunner.rmTree(dir)
  }
}
