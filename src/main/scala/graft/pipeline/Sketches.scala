package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Mergeable sketch summaries as TABLES — the bounded-memory aggregation
 * tier for corpus monitoring at 10^12 rows, where exact per-key state is
 * either too large (distinct counting per group) or the point is a
 * fixed-size summary that merges across partitions/days (hot-key
 * detection feeding the salted-join path).
 *
 * All sketches are deterministic and engine-portable: keys hash with
 * codegen'd xxhash64 (see [[keyHash]]), which the DuckDB twins replay
 * through [[XxhashSql]]; float estimate formulas are single shared
 * expression strings evaluated identically by Spark and the twins, and
 * every cross-row reduction is an integer SUM/MAX/MIN (order-free) —
 * never a cross-engine double accumulation.
 *
 * Scale shape: a sketch IS a small relation (d·w counters, or m
 * registers per group) produced by one map-side-combined groupBy over
 * the corpus. Merging two corpora's sketches is a groupBy SUM (CMS) or
 * MAX (HLL) over the concatenated sketch tables — the property that
 * makes them streaming/shard-friendly where exact groupBys are not.
 */
object Sketches {

  /** 60-bit nonnegative keyed hash: xxhash64(prefix, key) >>> 4, so the
    * register/threshold math downstream never sees a sign. Every sketch
    * GUARANTEE (CMS one-sidedness, KMV exact-below-k, HLL error bound,
    * mergeability) is hash-agnostic. */
  private def keyHash(prefix: String, key: Column): Column =
    shiftrightunsigned(xxhash64(lit(prefix), key.cast("string")), 4)

  /** DuckDB twin of [[keyHash]]: (key, r, h) for every distinct `key` of
    * the relation `src` and each `prefixes(r)`. */
  private[graft] def keyHashSql(src: String, key: String, prefixes: Seq[String]): String = {
    val seeds = prefixes.zipWithIndex
      .map { case (p, r) => s"($r, ${XxhashSql.prefixSeed(p)})" }.mkString(", ")
    s"SELECT $key, r, (h >> 4) & 1152921504606846975 AS h FROM (" + XxhashSql.xxh64Sql(
      s"(SELECT DISTINCT $key FROM $src), (VALUES $seeds) AS sd(r, seed)", key, "seed", "h") + ")"
  }

  /** The d per-row cell indexes of a key: pmod(hash("cms<r>|" || key), w)
    * for r in 0 until d. */
  private def cmsCells(key: Column, d: Int, w: Int): Seq[(Int, Column)] =
    (0 until d).map(r =>
      r -> pmod(keyHash(s"cms$r|", key), lit(w.toLong)))

  /** Count-min sketch BUILD: one pass over `rows`, one groupBy — the
    * sketch table (r, cl, c) with d·w counters (absent cells are zero).
    * Counts every occurrence of `key` (a frequency sketch, not distinct).
    * Mergeable: union two sketch tables and groupBy (r, cl) SUM. */
  def cmsBuild(rows: DataFrame, key: Column, d: Int, w: Int): DataFrame = {
    require(d >= 1 && d <= 8, s"d=$d out of [1,8]")
    require(w >= 2 && w <= (1 << 20), s"w=$w out of range")
    rows.select(posexplode(array(cmsCells(key, d, w).map { case (r, cl) =>
        struct(lit(r).as("r"), cl.as("cl")) }: _*)).as(Seq("i", "rc")))
      .groupBy(col("rc.r").as("r"), col("rc.cl").as("cl"))
      .agg(count(lit(1)).as("c"))
  }

  /** Count-min ESTIMATE: each probe key reads its d cells (the sketch —
    * d·w rows — broadcasts) and takes the MIN. Guarantees est >= true
    * count (every cell holds the key's count plus nonnegative collision
    * mass); the standard error bound is est <= true + 2n/w w.p. 1-2^-d.
    * Probes with a missing cell estimate through coalesce-0 (only
    * possible for keys absent from the sketched corpus). */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, key: Column,
                  d: Int, w: Int): DataFrame = {
    val keyed = probes.select(key.as("k"))
    val cells = keyed.select(col("k"),
      posexplode(array(cmsCells(col("k"), d, w).map { case (r, cl) =>
        struct(lit(r).as("r"), cl.as("cl")) }: _*)).as(Seq("i", "rc")))
    cells.select(col("k"), col("rc.r").as("r"), col("rc.cl").as("cl"))
      .join(broadcast(sketch), Seq("r", "cl"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** CMS INNER PRODUCT — equi-join cardinality estimation from two
    * committed sketches (the AMS/CMS classic): for each of the d hash
    * rows the counter inner product Σ_cl cA[r][cl]·cB[r][cl] is
    * ≥ Σ_k fA(k)·fB(k) — the exact join size — with collision slack
    * ≤ n_A·n_B/w in expectation; the min over rows is the estimate.
    * The optimizer-style decision input (broadcast? salt? how many
    * shuffle partitions?) computed at 10^12 rows from two KB-sized
    * committed tables — the raw relations are never touched. */
  def cmsJoinSize(sa: DataFrame, sb: DataFrame): DataFrame = {
    // the min must range over ALL d hash rows: a row with NO overlapping
    // cell has inner product 0 (which is exactly what proves an empty
    // join) — an inner-join-only min would silently drop it and
    // overestimate the one case the estimator exists to detect
    val rows = sa.select(col("r")).distinct()
    val ip = sa.join(sb.select(col("r"), col("cl"), col("c").as("cb")), Seq("r", "cl"))
      .groupBy(col("r")).agg(sum(col("c") * col("cb")).as("ip"))
    rows.join(ip, Seq("r"), "left")
      .agg(coalesce(min(coalesce(col("ip"), lit(0L))), lit(0L)).as("joinsize_est"))
  }

  /** Register count (m = 64, 6 index bits) and the small-range threshold
    * (2.5·m) of the HLL sketch below. */
  val HllM = 64

  /** The shared HLL estimate expression over columns (s_int, v):
    *  - s_int = Σ_j 2^(55 - M_j) — the harmonic-mean denominator scaled
    *    by 2^55 so it is an exact INTEGER sum (order-free; a raw double
    *    Σ 2^-M_j would be accumulation-order-dependent across engines),
    *  - v = number of zero registers.
    * raw = α_64 · m² · 2^55 / s_int with α_64 = 0.709 (Flajolet et al.'s
    * published constant for m = 64); the small-range branch is linear
    * counting m·ln(m/V). Floored to milli-units. Evaluated verbatim by
    * Spark and the DuckDB twin. */
  val hllEstFpSql: String = {
    // literals are explicitly CAST ... AS DOUBLE: a bare `4096.0` parses
    // as DECIMAL in both engines and decimal-arithmetic promotion rules
    // differ (DuckDB overflows DECIMAL(18) on the 2^55-scaled product)
    val raw = "(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * " +
      "CAST(36028797018963968 AS DOUBLE) / s_int)"
    s"CAST(floor(CAST(1000 AS DOUBLE) * (CASE WHEN $raw <= CAST(160 AS DOUBLE) " +
      s"AND v > 0 THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v) " +
      s"ELSE $raw END)) AS BIGINT)"
  }

  /** Per-group HLL REGISTERS: (grp, reg, m) with reg = h % 64 and
    * m = max over the group's keys of rho(h >> 6), where rho = index of
    * the lowest set bit + 1 (Flajolet's bit-pattern observable; trailing
    * zeros counted exactly via the binary-string suffix — no float log).
    * rho = 55 for the all-zero 54-bit remainder. Registers a group never
    * hits are absent (M = 0). Mergeable: union + groupBy MAX. */
  def hllRegisters(rows: DataFrame, grp: Column, key: Column): DataFrame = {
    val h = keyHash("hll|", key)
    val rest = shiftrightunsigned(h, 6)
    val rho = when(rest === 0L, lit(55L))
      .otherwise(length(regexp_extract(bin(rest), "0*$", 0)) + lit(1L))
    rows.select(grp.as("grp"), pmod(h, lit(HllM.toLong)).as("reg"), rho.as("rho"))
      .groupBy(col("grp"), col("reg")).agg(max(col("rho")).as("m"))
  }

  /** Per-group KMV (k-minimum-values / bottom-k) distinct sketch:
    * (grp, rk, h) — the k smallest DISTINCT 60-bit key hashes of the group's
    * keys. Unlike HLL this sketch supports SET OPERATIONS (theta
    * intersection below): the k smallest hashes are a uniform sample of
    * the group's distinct set below its threshold. rank <= k is the
    * WindowGroupLimit shape — each map task forwards at most k rows per
    * group. Mergeable: union two groups' sketches, re-rank, keep k. */
  def kmvSketch(rows: DataFrame, grp: Column, key: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 16), s"k=$k out of range")
    rows.select(grp.as("grp"), keyHash("kmv|", key).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp")).orderBy(col("h"))))
      .where(col("rk") <= k)
  }

  /** The shared KMV estimate expression over columns (n, hk) for sketch
    * size `k`: exact (milli-units) when the sketch holds the whole
    * distinct set (n < k), else the unbiased (k-1)·2^60/h_k. */
  def kmvEstFpSql(k: Int): String =
    s"CASE WHEN n < $k THEN n * CAST(1000 AS BIGINT) " +
      s"ELSE CAST(floor(CAST(1000 AS DOUBLE) * CAST(${k - 1} AS DOUBLE) * " +
      s"CAST(1152921504606846976 AS DOUBLE) / hk) AS BIGINT) END"

  /** Per-group distinct estimate from a [[kmvSketch]] table: (grp, est_fp). */
  def kmvEstimate(sk: DataFrame, k: Int): DataFrame =
    sk.groupBy(col("grp")).agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(col("grp"), expr(kmvEstFpSql(k)).as("est_fp"))

  /** Theta-sketch intersection over KMV sketches: for each (ga, gb) pair,
    * theta = min of the two groups' thresholds (2^60 when a sketch holds
    * its whole set), common = hashes present in BOTH sketches below
    * theta (all such hashes are guaranteed present in both — h < the kth
    * min of g implies membership in g's bottom-k), estimate =
    * common · 2^60 / theta. The distinct-overlap measure HLL cannot
    * provide; the whole pass joins only k-row sketches. */
  def thetaIntersect(sk: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val th = sk.groupBy(col("grp")).agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(col("grp"), when(col("n") < k, lit(1L << 60)).otherwise(col("hk")).as("theta"))
    val pt = pairs
      .join(th.select(col("grp").as("ga"), col("theta").as("theta_a")), "ga")
      .join(th.select(col("grp").as("gb"), col("theta").as("theta_b")), "gb")
      .select(col("ga"), col("gb"), least(col("theta_a"), col("theta_b")).as("theta"))
    val common = pt
      .join(sk.select(col("grp").as("ga"), col("h")), "ga")
      .join(sk.select(col("grp").as("gb"), col("h")), Seq("gb", "h"))
      .where(col("h") < col("theta"))
      .groupBy(col("ga"), col("gb"), col("theta")).agg(count(lit(1)).as("common"))
    pt.join(common, Seq("ga", "gb", "theta"), "left")
      .select(col("ga"), col("gb"), col("theta"),
        coalesce(col("common"), lit(0L)).as("common"))
      .select(col("ga"), col("gb"),
        expr("CAST(floor(CAST(1000 AS DOUBLE) * common * " +
          "CAST(1152921504606846976 AS DOUBLE) / theta) AS BIGINT)").as("est_fp"))
  }

  /** Per-group fixed-width HISTOGRAM sketch: (grp, bin, c) with bin =
    * min(floor(value / binWidth), nBins-1) — the bounded-memory quantile
    * state (nBins counters per group, mergeable by SUM) where an exact
    * per-group quantile needs the full value multiset. One map-side-
    * combined groupBy. */
  def histogram(rows: DataFrame, grp: Column, value: Column,
                binWidth: Double, nBins: Int): DataFrame = {
    require(binWidth > 0 && nBins >= 2 && nBins <= (1 << 20), "bad histogram shape")
    // clamped on BOTH ends (ADVICE r5: a negative value used to mint an
    // unbounded negative bin id, breaking the nBins-counters-per-group
    // bounded-memory contract; the twin already clamps at 0)
    rows.select(grp.as("grp"),
        greatest(least(floor(value / lit(binWidth)), lit(nBins - 1L)), lit(0L))
          .cast("long").as("bin"))
      .groupBy(col("grp"), col("bin")).agg(count(lit(1)).as("c"))
  }

  /** Quantile LOWER BOUND from a [[histogram]]: the smallest bin whose
    * cumulative count reaches num/den of the group total — the integer
    * comparison den·cum >= num·n needs no ceil and no floats. True
    * quantile lies in [bound, bound + binWidth). Output (grp, n,
    * q_bin): multiply q_bin by binWidth for the value-space bound. */
  def histQuantileBin(hist: DataFrame, num: Int, den: Int): DataFrame = {
    require(num >= 1 && num <= den, s"bad quantile $num/$den")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    hist
      .withColumn("cum", sum(col("c")).over(w.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(w))
      .where(col("cum") * den >= col("n") * num)
      .groupBy(col("grp")).agg(max(col("n")).as("n"), min(col("bin")).as("q_bin"))
  }

  /** Per-group HLL distinct-count ESTIMATE from the register table:
    * (grp, est_fp). One groupBy over m rows per group. */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("grp"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(col("grp"),
        (col("s_present") +
          (lit(HllM.toLong) - col("n_present")) * lit(1L << 55)).as("s_int"),
        (lit(HllM.toLong) - col("n_present")).as("v"))
      .select(col("grp"), expr(hllEstFpSql).as("est_fp"))
}
