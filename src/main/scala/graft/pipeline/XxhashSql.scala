package graft.pipeline

/**
 * Spark's `xxhash64` (XXH64 over UTF-8 bytes, Catalyst's
 * `XXH64.hashUnsafeBytes`) as DuckDB SQL, so the DuckDB twins replay the
 * same hashes the engine computes. The 64-bit state is a `UBIGINT`;
 * multiply, add and rotate widen to `UHUGEINT` and mask back to 64 bits,
 * which is the wrap-around arithmetic of a Java `long`.
 */
object XxhashSql {
  private val Mask = "18446744073709551615"
  private val (p1, p2, p3, p4, p5) = ("11400714785074694791", "14029467366897019727",
    "1609587929392839161", "9650029242287828579", "2870177450012600261")

  /** a * b mod 2^64 over UBIGINT operands. */
  def mul(a: String, b: String): String = s"CAST((CAST($a AS UHUGEINT) * $b) & $Mask AS UBIGINT)"
  /** a + b mod 2^64 over UBIGINT operands. */
  def add(a: String, b: String): String = s"CAST((CAST($a AS UHUGEINT) + $b) & $Mask AS UBIGINT)"
  /** 64-bit rotate left by r (a is referenced twice: pass a column). */
  def rotl(a: String, r: Int): String =
    s"CAST(((CAST($a AS UHUGEINT) << $r) & $Mask) | ($a >> ${64 - r}) AS UBIGINT)"
  def xor(a: String, b: String): String = s"xor($a, $b)"

  /** The little-endian `bytes`-byte word at byte offset `off` of the hex
    * string `__x`. */
  private def lane(off: String, bytes: Int): String =
    (bytes - 1 to 0 by -1).map(i => s"substr(__x, 2 * ($off) + ${2 * i + 1}, 2)")
      .mkString("CAST('0x' || ", " || ", " AS UBIGINT)")

  /** One `SELECT` that adds column `out` = Spark's signed
    * `XXH64(utf8(strCol), seed)` to every row of the FROM item `src`.
    * `seedSql` is a BIGINT expression over `src`'s columns; Spark's
    * two-argument `xxhash64(a, b)` is this hash of b seeded with the hash
    * of a under seed 42. One nested `SELECT * REPLACE` per step keeps every
    * expression single-use. Inputs of 32 bytes or more (XXH64's
    * four-accumulator path) raise inside the value expression. */
  def xxh64Sql(src: String, strCol: String, seedSql: String, out: String): String = {
    def when(c: String, e: String, col: String) = col -> s"CASE WHEN $c THEN $e ELSE $col END"
    val lanes8 = (0 until 3).flatMap { i =>
      val c = s"__n >= ${8 * (i + 1)}"
      Seq(when(c, mul(lane(s"${8 * i}", 8), p2), "__k"), "__k" -> mul(rotl("__k", 31), p1),
        when(c, add(mul(rotl(xor("__h", "__k"), 27), p1), p4), "__h"))
    }
    val lane4 = Seq(when("__n % 8 >= 4", xor("__h", mul(lane("__n // 8 * 8", 4), p1)), "__h"),
      when("__n % 8 >= 4", add(mul(rotl("__h", 23), p2), p3), "__h"))
    val tail = (0 until 3).map(j => when(s"__n % 4 > $j",
      mul(rotl(xor("__h", mul(lane(s"__n - __n % 4 + $j", 1), p5)), 11), p1), "__h"))
    val fmix = Seq("__h" -> mul(xor("__h", "__h >> 33"), p2),
      "__h" -> mul(xor("__h", "__h >> 29"), p3), "__h" -> xor("__h", "__h >> 32"))
    val init = s"SELECT *, hex(encode($strCol)) AS __x, strlen($strCol) AS __n, " +
      s"CAST(CASE WHEN strlen($strCol) < 32 THEN (CAST($seedSql AS HUGEINT) + $p5 + " +
      s"strlen($strCol)) & $Mask ELSE error('xxh64Sql: input of 32 bytes or more') END " +
      s"AS UBIGINT) AS __h, CAST(0 AS UBIGINT) AS __k FROM $src"
    val hashed = (lanes8 ++ lane4 ++ tail ++ fmix).foldLeft(init) { case (q, (c, e)) =>
      s"SELECT * REPLACE ($e AS $c) FROM ($q)" }
    s"SELECT * EXCLUDE (__x, __n, __h, __k), CAST(CAST(__h AS HUGEINT) - " +
      s"CAST(__h >> 63 AS HUGEINT) * 18446744073709551616 AS BIGINT) AS $out FROM ($hashed)"
  }

  /** Spark's `xxhash64(lit(prefix), key)` seed: XXH64(prefix, 42). */
  def prefixSeed(prefix: String): Long = {
    val b = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
