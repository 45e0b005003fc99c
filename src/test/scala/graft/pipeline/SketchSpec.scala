package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Sketch contracts: CMS one-sided overestimate + mergeability + hot-key
 * detection; HLL register exactness vs the sequential hash model,
 * mergeability by register MAX, and bounded estimate error on planted
 * cardinalities (both estimate branches).
 */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  // skewed key stream: key j contributes j occurrences (j = 1..60) —
  // 1830 rows, known exact counts, a clear heavy-hitter tail
  lazy val skewed: DataFrame =
    (1 to 60).flatMap(j => Seq.fill(j)(s"key$j")).toDF("k").cache()

  test("CMS: est >= exact for every key (one-sided guarantee), tight w") {
    val sk = Sketches.cmsBuild(skewed, col("k"), d = 4, w = 16) // heavy collisions
    val est = Sketches.cmsEstimate(sk, skewed.distinct(), col("k"), d = 4, w = 16)
    val exact = skewed.groupBy(col("k")).agg(count(lit(1)).as("exact"))
      .withColumnRenamed("k", "k2")
    val under = est.join(exact, col("k") === col("k2"))
      .where(col("est") < col("exact")).count()
    assert(under == 0L, s"$under keys underestimated — CMS guarantee broken")
  }

  test("CMS: sketch table is bounded by d*w cells and counts conserve") {
    val sk = Sketches.cmsBuild(skewed, col("k"), d = 4, w = 16).cache()
    assert(sk.count() <= 4L * 16)
    // every row of the sketch holds each occurrence exactly once per hash row
    val perRow = sk.groupBy(col("r")).agg(sum(col("c")).as("s")).collect()
    assert(perRow.length == 4 && perRow.forall(_.getLong(1) == 1830L))
  }

  test("CMS: merge of two halves' sketches == whole-corpus sketch") {
    val a = skewed.where(xxhash64(col("k")) % 2 === 0)
    val b = skewed.where(xxhash64(col("k")) % 2 =!= 0)
    val merged = Sketches.cmsBuild(a, col("k"), 4, 32)
      .unionByName(Sketches.cmsBuild(b, col("k"), 4, 32))
      .groupBy(col("r"), col("cl")).agg(sum(col("c")).as("c"))
    val whole = Sketches.cmsBuild(skewed, col("k"), 4, 32)
    assert(merged.collect().map(_.toString).toSet ==
      whole.collect().map(_.toString).toSet)
  }

  test("CMS: the true heaviest key survives into the estimate top set") {
    // overestimates can PROMOTE light keys (collision mass is one-sided),
    // but the heaviest key's own count rides every one of its cells — it
    // can never fall behind a key it shares all comparisons with by more
    // than the collision mass; at w=64 it is in the top set
    val sk = Sketches.cmsBuild(skewed, col("k"), d = 4, w = 64)
    val top = Sketches.cmsEstimate(sk, skewed.distinct(), col("k"), 4, 64)
      .orderBy(col("est").desc, col("k")).limit(5)
      .collect().map(_.getString(0)).toSet
    assert(top.contains("key60"), s"hot-key detection top-5 $top misses key60")
  }

  test("CMS: absent probe key estimates through (possibly zero) collision mass only") {
    val sk = Sketches.cmsBuild(skewed, col("k"), d = 4, w = 4096)
    val ghost = Seq("never-seen-key").toDF("k")
    val est = Sketches.cmsEstimate(sk, ghost, col("k"), 4, 4096)
      .collect()(0).getLong(1)
    assert(est >= 0L && est <= 60L, s"ghost estimate $est outside plausible collision mass")
  }

  test("CMS join-size: est >= exact inner product; collision-only when disjoint") {
    val a = (1 to 40).flatMap(j => Seq.fill(j % 5 + 1)(s"u$j")).toDF("k")
    val b = (21 to 60).flatMap(j => Seq.fill(j % 3 + 1)(s"u$j")).toDF("k")
    val sa = Sketches.cmsBuild(a, col("k"), d = 4, w = 64)
    val sb = Sketches.cmsBuild(b, col("k"), d = 4, w = 64)
    val est = Sketches.cmsJoinSize(sa, sb).as[Long].head()
    val exact = a.groupBy("k").agg(count(lit(1)).as("na"))
      .join(b.groupBy("k").agg(count(lit(1)).as("nb")), "k")
      .agg(coalesce(sum($"na" * $"nb"), lit(0L))).as[Long].head()
    assert(est >= exact, s"one-sided guarantee broken: $est < $exact")
    // slack bound (expectation-level, generous 8x): nA*nB/w per row
    val (na, nb) = (a.count(), b.count())
    assert(est <= exact + 8 * na * nb / 64, s"slack implausibly large: $est vs $exact")
    // disjoint key sets: the true join is empty; anything left is
    // collision mass, bounded by the same slack
    val c = (1000 to 1030).map(j => s"v$j").toDF("k")
    val sc = Sketches.cmsBuild(c, col("k"), d = 4, w = 64)
    val estDisjoint = Sketches.cmsJoinSize(sa, sc).as[Long].head()
    assert(estDisjoint <= 8 * na * c.count() / 64)
    // wide sketch, disjoint keys: some hash row has NO overlapping cell —
    // its inner product is 0 and MUST enter the min (the empty-join case
    // the estimator exists to detect; an inner-join-only min would
    // overestimate or NULL here)
    val wa = Sketches.cmsBuild(Seq("only-a").toDF("k"), col("k"), d = 4, w = 1 << 20)
    val wb = Sketches.cmsBuild(Seq("only-b").toDF("k"), col("k"), d = 4, w = 1 << 20)
    assert(Sketches.cmsJoinSize(wa, wb).as[Long].head() === 0L)
  }

  test("HLL: registers match the sequential XXH64 hash model exactly") {
    val rows = (1 to 500).map(i => ("g", s"item$i")).toDF("grp", "key")
    val got = Sketches.hllRegisters(rows, col("grp"), col("key"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // sequential model: xxhash64("hll|", key) chains the seed (key hashed
    // with seed XXH64("hll|", 42)), h = that >>> 4, reg = low 6 bits,
    // rho = trailing zeros of the high 54 bits + 1 (55 when zero)
    def xxh(s: String, seed: Long) = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    }
    val model = (1 to 500).map { i =>
      val h = xxh(s"item$i", xxh("hll|", 42L)) >>> 4
      val (reg, rest) = (h % 64, h >>> 6)
      reg -> (if (rest == 0L) 55L else java.lang.Long.numberOfTrailingZeros(rest) + 1L)
    }.groupBy(_._1).map { case (reg, o) => reg -> o.map(_._2).max }
    assert(got == model)
  }

  test("HLL: register tables merge by MAX (shard-and-merge == whole)") {
    val rows = (1 to 800).map(i => (s"g${i % 3}", s"item$i")).toDF("grp", "key")
    val a = rows.where(xxhash64(col("key")) % 2 === 0)
    val b = rows.where(xxhash64(col("key")) % 2 =!= 0)
    val merged = Sketches.hllRegisters(a, col("grp"), col("key"))
      .unionByName(Sketches.hllRegisters(b, col("grp"), col("key")))
      .groupBy(col("grp"), col("reg")).agg(max(col("m")).as("m"))
    val whole = Sketches.hllRegisters(rows, col("grp"), col("key"))
    assert(merged.collect().map(_.toString).toSet ==
      whole.collect().map(_.toString).toSet)
    // and the merged registers estimate identically
    assert(Sketches.hllEstimate(merged).collect().map(_.toString).toSet ==
      Sketches.hllEstimate(whole).collect().map(_.toString).toSet)
  }

  test("HLL: bounded relative error across planted cardinalities (both branches)") {
    // n = 12 exercises linear counting (raw <= 2.5m with zero registers);
    // n = 5000 exercises the raw harmonic branch; m = 64 => sigma ~ 13%
    val rows = ((1 to 12).map(i => ("small", s"s$i")) ++
      (1 to 5000).map(i => ("large", s"l$i"))).toDF("grp", "key")
    val est = Sketches.hllEstimate(
        Sketches.hllRegisters(rows, col("grp"), col("key")))
      .collect().map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
    assert(math.abs(est("small") / 12.0 - 1.0) < 0.35,
      s"small-range estimate ${est("small")} vs 12")
    assert(math.abs(est("large") / 5000.0 - 1.0) < 0.35,
      s"large-range estimate ${est("large")} vs 5000")
  }

  test("KMV: exact below k (milli-units), bounded error far above k") {
    val rows = ((1 to 20).map(i => ("tiny", s"t$i")) ++
      (1 to 4000).map(i => ("big", s"b$i"))).toDF("grp", "key")
    val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(rows, col("grp"), col("key"), k = 32), k = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("tiny") == 20000L, s"below-k estimate must be EXACT, got ${est("tiny")}")
    assert(math.abs(est("big") / 1000.0 / 4000.0 - 1.0) < 0.5,
      s"k=32 estimate ${est("big") / 1000.0} vs 4000") // sigma ~ 1/sqrt(30) ~ 18%
  }

  test("KMV: shard-and-merge (union, re-rank, keep k) == whole-corpus sketch") {
    val rows = (1 to 3000).map(i => (s"g${i % 2}", s"item$i")).toDF("grp", "key")
    val a = rows.where(xxhash64(col("key")) % 2 === 0)
    val b = rows.where(xxhash64(col("key")) % 2 =!= 0)
    import org.apache.spark.sql.expressions.Window
    val merged = Sketches.kmvSketch(a, col("grp"), col("key"), 16)
      .unionByName(Sketches.kmvSketch(b, col("grp"), col("key"), 16))
      .select(col("grp"), col("h")).distinct()
      .withColumn("rk", row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
      .where(col("rk") <= 16)
    val whole = Sketches.kmvSketch(rows, col("grp"), col("key"), 16)
    assert(merged.collect().map(_.toString).toSet ==
      whole.collect().map(_.toString).toSet)
  }

  test("theta intersection: planted overlap within tolerance; disjoint -> 0") {
    // A = 1..2000, B = 1001..3000 -> |A ∩ B| = 1000; C disjoint
    val rows = ((1 to 2000).map(i => ("A", s"x$i")) ++
      (1001 to 3000).map(i => ("B", s"x$i")) ++
      (1 to 500).map(i => ("C", s"c$i"))).toDF("grp", "key")
    val sk = Sketches.kmvSketch(rows, col("grp"), col("key"), k = 64)
    val pairs = Seq(("A", "B"), ("A", "C")).toDF("ga", "gb")
    val est = Sketches.thetaIntersect(sk, pairs, k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(math.abs(est(("A", "B")) / 1000.0 / 1000.0 - 1.0) < 0.6,
      s"planted 1000-overlap estimated ${est(("A", "B")) / 1000.0}")
    assert(est(("A", "C")) == 0L, s"disjoint overlap estimated ${est(("A", "C"))}")
  }

  test("theta intersection: below-k groups intersect EXACTLY") {
    // both sketches hold their whole sets -> theta = 2^60 -> exact count
    val rows = ((1 to 20).map(i => ("P", s"x$i")) ++
      (11 to 25).map(i => ("Q", s"x$i"))).toDF("grp", "key")
    val sk = Sketches.kmvSketch(rows, col("grp"), col("key"), k = 32)
    val est = Sketches.thetaIntersect(sk, Seq(("P", "Q")).toDF("ga", "gb"), k = 32)
      .collect()(0).getLong(2)
    assert(est == 10000L, s"exact-mode intersection must be 10 (milli-units), got $est")
  }

  test("histogram quantile: bound brackets the exact quantile within one bin") {
    // planted values 1..1000 (uniform): exact p50 = 500, p90 = 900
    val rows = (1 to 1000).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val hist = Sketches.histogram(rows, col("grp"), col("v"), binWidth = 8.0, nBins = 256)
    val p50 = Sketches.histQuantileBin(hist, 1, 2).collect()(0)
    val p90 = Sketches.histQuantileBin(hist, 9, 10).collect()(0)
    assert(p50.getLong(1) == 1000L)
    val (b50, b90) = (p50.getLong(2) * 8.0, p90.getLong(2) * 8.0)
    assert(b50 <= 500.0 && 500.0 < b50 + 8.0, s"p50 bound $b50 misses 500")
    assert(b90 <= 900.0 && 900.0 < b90 + 8.0, s"p90 bound $b90 misses 900")
    assert(b50 <= b90)
  }

  test("histogram: merge by counter SUM == whole; overflow bin clamps") {
    val rows = (1 to 400).map(i => (s"g${i % 2}", i * 3.0)).toDF("grp", "v")
    val a = rows.where(col("v") < 600.0)
    val b = rows.where(col("v") >= 600.0)
    val merged = Sketches.histogram(a, col("grp"), col("v"), 16.0, 32)
      .unionByName(Sketches.histogram(b, col("grp"), col("v"), 16.0, 32))
      .groupBy(col("grp"), col("bin")).agg(sum(col("c")).as("c"))
    val whole = Sketches.histogram(rows, col("grp"), col("v"), 16.0, 32)
    assert(merged.collect().map(_.toString).toSet ==
      whole.collect().map(_.toString).toSet)
    // values past the domain clamp into the last bin, never drop
    assert(whole.agg(sum(col("c"))).head().getLong(0) == 400L)
    assert(whole.agg(max(col("bin"))).head().getLong(0) == 31L)
  }

  test("production (xxhash64) path: every hash-agnostic guarantee still holds") {
    // CMS one-sidedness
    val sk = Sketches.cmsBuild(skewed, col("k"), 4, 16)
    val exact = skewed.groupBy(col("k")).agg(count(lit(1)).as("exact"))
      .withColumnRenamed("k", "k2")
    val under = Sketches.cmsEstimate(sk, skewed.distinct(), col("k"), 4, 16)
      .join(exact, col("k") === col("k2")).where(col("est") < col("exact")).count()
    assert(under == 0L)
    // KMV exact-below-k
    val tiny = (1 to 20).map(i => ("t", s"x$i")).toDF("grp", "key")
    val est = Sketches.kmvEstimate(
      Sketches.kmvSketch(tiny, col("grp"), col("key"), 32), 32)
      .collect()(0).getLong(1)
    assert(est == 20000L)
    // HLL bounded error on a planted cardinality
    val rows = (1 to 5000).map(i => ("g", s"l$i")).toDF("grp", "key")
    val h = Sketches.hllEstimate(Sketches.hllRegisters(rows, col("grp"), col("key")))
      .collect()(0).getLong(1) / 1000.0
    assert(math.abs(h / 5000.0 - 1.0) < 0.35, s"fast-path HLL estimate $h vs 5000")
  }

  test("HLL: duplicates never move the estimate (distinct-count semantics)") {
    val once = (1 to 300).map(i => ("g", s"item$i")).toDF("grp", "key")
    val tripled = ((1 to 300) ++ (1 to 300) ++ (1 to 300))
      .map(i => ("g", s"item$i")).toDF("grp", "key")
    assert(Sketches.hllEstimate(Sketches.hllRegisters(once, col("grp"), col("key")))
        .collect().map(_.toString).toSet ==
      Sketches.hllEstimate(Sketches.hllRegisters(tripled, col("grp"), col("key")))
        .collect().map(_.toString).toSet)
  }
}
