package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Hierarchical cell-cover algebra over the packed quadtree cell ids of
 * [[graft.core.CellId]] — the relational form of H3/S2 `compact`: a cover
 * set expressed at a fine zoom collapses every COMPLETE 4-sibling quad
 * into its parent, repeatedly, yielding the minimal mixed-zoom cover of
 * exactly the same area. Reference analog: none (the reference fixes one
 * zoom per run, lib/layers.py:107-118); this is the index-maintenance op a
 * planet-scale cover needs — a z19 country cover is billions of cells,
 * its compact form is orders of magnitude smaller, and coverage joins
 * against a compacted set probe one ancestor chain per point instead of
 * one equality per fine cell.
 *
 * All cell math is integer column arithmetic (codegen'd, no UDF), exact
 * and engine-portable — q_cell_compact's DuckDB twin checks it.
 *
 * Scale shape: [[compact]] is a closed form, not per-level rounds — one
 * bounded per-row ancestor explode (<= zMax - zMin rows per cell) and ONE
 * groupBy summing each ancestor's covered area decide which cells are
 * complete, in a fixed number of jobs for any zoom span. No
 * driver-side data movement at any point.
 */
object CellOps {

  private val ZShift = 1L << 58
  private val XYShift = 1L << 29

  /** z level of a packed cell as integer column math (positive cells). */
  def zOf(cell: Column): Column = shiftrightunsigned(cell, 58)

  /** Parent cell one level up — column twin of CellId.parent. */
  def parentOf(cell: Column): Column = {
    val tx = shiftrightunsigned(cell, 29).bitwiseAND(lit(0x1FFFFFFFL))
    val ty = cell.bitwiseAND(lit(0x1FFFFFFFL))
    (zOf(cell) - 1) * lit(ZShift) +
      shiftrightunsigned(tx, 1) * lit(XYShift) + shiftrightunsigned(ty, 1)
  }

  /** Compact a cover set: input one `cell_id` column with cells at levels
    * in (zMin, zMax] (coarser cells pass through untouched); output the
    * equivalent minimal cover with levels in [zMin, zMax]. Input is
    * distinct-ified — a cover is a set. With `keys` non-empty, every key
    * combination holds its OWN cover and compacts independently in the
    * same rounds (quads complete per key group) — one pass over all zones,
    * never a per-zone driver loop. */
  def compact(cells: DataFrame, zMax: Int, zMin: Int,
              keys: Seq[String] = Nil): DataFrame = {
    require(zMax >= zMin && zMin >= 0 && zMax <= 29, s"bad z range [$zMin, $zMax]")
    val kc = keys.map(col)
    // CLOSED FORM (r6 — replaces the per-level promotion loop): an
    // ancestor cell is COMPLETE iff the input covers its whole area, and
    // the compacted cover is exactly {complete ancestors whose parent is
    // not complete} ∪ {input cells whose parent is not complete}. For a
    // DISJOINT input cover (a cover is a set of disjoint cells — the
    // operator's contract; ancestor+descendant both present is malformed)
    // this equals the level-by-level quad promotion: a parent promotes
    // iff its whole subtree is covered, recursively. Coverage is an exact
    // integer sum of 4^(zMax - z_cell) per strict ancestor — one bounded
    // per-row explode (≤ zMax - zMin rows/cell) + ONE groupBy, replacing
    // zMax - zMin checkpointed rounds of groupBy + anti-join + distinct
    // (measured ~8 jobs -> 3 on the z14->z11 covers; same rows, oracle-
    // checked by every q_cell_* twin).
    // A cell FINER than zMax would poison the weight arithmetic the same
    // way it silently passed the old promotion rounds — fail loudly, the
    // same contract as uncompact's finer-than-target check.
    val c0 = cells.select(kc :+ col("cell_id"): _*).distinct()
      .withColumn("cell_id",
        when(zOf(col("cell_id")) > zMax,
          expr(s"CAST(raise_error('compact: input cell finer than zMax=$zMax') AS BIGINT)"))
        .otherwise(col("cell_id")))
      .localCheckpoint(false) // feeds the ancestor explode AND the kept anti-join
    if (zMax == zMin) return c0
    // strict ancestors at levels [zMin, z_cell-1], with the cell's area
    // weight 4^(zMax - z_cell) attached (cells at level <= zMin have no
    // eligible ancestor and are filtered BEFORE the sequence — also
    // avoiding Spark's descending sequence(1, 0))
    val ancExpr = expr(
      s"""transform(sequence(1, CAST(shiftrightunsigned(cell_id, 58) - $zMin AS INT)), d ->
            (shiftrightunsigned(cell_id, 58) - d) * ${ZShift}L +
            shiftright((cell_id % ${ZShift}L) div ${XYShift}L, d) * ${XYShift}L +
            shiftright(cell_id % ${XYShift}L, d))""")
    // REDUNDANT input (a cell AND its descendants — malformed as a cover,
    // tolerated as the old rounds did) must not double-count area: keep
    // only MAXIMAL cells (no strict ancestor ≥ zMin also present) — the
    // absorbed descendants are exactly what the rounds deduped away
    // (CellOpsIvfSpec pins the complete-quad redundancy case).
    val redundant = c0.where(zOf(col("cell_id")) > zMin)
      .select(kc :+ col("cell_id") :+ explode(ancExpr).as("a"): _*)
      .join(c0.select(kc :+ col("cell_id").as("a"): _*), keys :+ "a")
      .select(kc :+ col("cell_id"): _*).distinct()
    val c = c0.join(redundant, keys :+ "cell_id", "left_anti").localCheckpoint(false)
    val contrib = c.where(zOf(col("cell_id")) > zMin)
      .select(kc ++ Seq(explode(ancExpr).as("a"), expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST(2 * ($zMax - shiftrightunsigned(cell_id, 58)) AS INT))")
        .as("w")): _*)
    val comp = contrib.groupBy(kc :+ col("a"): _*).agg(sum(col("w")).as("cov"))
      .where(col("cov") === expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST(2 * ($zMax - shiftrightunsigned(a, 58)) AS INT))"))
      .select(kc :+ col("a").as("cell_id"): _*)
      .localCheckpoint(false) // tiny (the compacted interior); feeds 3 subtrees
    // complete ancestors whose own parent is not complete (a zMin-level
    // ancestor's parent is below the range and never complete)
    val promoted = comp.withColumn("p", parentOf(col("cell_id")))
      .join(comp.select(kc :+ col("cell_id").as("p"): _*), keys :+ "p", "left_anti")
      .select(kc :+ col("cell_id"): _*)
    // input cells not absorbed by any complete ancestor (equivalently:
    // whose immediate parent is not complete — completeness is upward-
    // hereditary only through complete children)
    val kept = c.withColumn("p", parentOf(col("cell_id")))
      .join(comp.select(kc :+ col("cell_id").as("p"): _*), keys :+ "p", "left_anti")
      .select(kc :+ col("cell_id"): _*)
    kept.unionByName(promoted)
  }

  /** Point-in-cover membership join — the operator compaction exists FOR.
    * `points` carry a fine cell (`cell_id` at level zMax); `cover` is a
    * compacted cover (levels in [zMin, zMax], disjoint by construction —
    * compact never keeps a parent and its child). Each point explodes to
    * its zMax-zMin+1 ancestor cells (a bounded per-row map, ≤ 30 short
    * rows) and meets the cover in ONE equi-join; disjointness means at
    * most one ancestor matches, so the output has at most one row per
    * point row, annotated with the containing cover cell.
    *
    * Scale shape: against a z19 country cover (billions of fine cells) the
    * compacted set is orders of magnitude smaller — usually broadcastable,
    * so point-in-cover becomes a broadcast hash join with NO shuffle of
    * the point table, vs an exchange of both sides on the fine cell id. */
  def coverJoin(points: DataFrame, cover: DataFrame, zMax: Int, zMin: Int): DataFrame = {
    require(zMax >= zMin && zMin >= 0 && zMax <= 29, s"bad z range [$zMin, $zMax]")
    val anc = expr(
      s"""transform(sequence(0, ${zMax - zMin}), d ->
            (${zMax}L - d) * ${ZShift}L +
            shiftright((cell_id % ${ZShift}L) div ${XYShift}L, d) * ${XYShift}L +
            shiftright(cell_id % ${XYShift}L, d))""")
    points.withColumn("anc", explode(anc))
      .join(cover.select(col("cell_id").as("cover_cell")),
        col("anc") === col("cover_cell"))
      .drop("anc")
  }

  /** Raster → vector: label the 4-connected regions of a cell mask and
    * emit one VECTOR row per region (area, bbox, perimeter) — the inverse
    * of the rasterize family (R1-R3 paint vectors INTO cell space; this
    * extracts region geometry back OUT of it). Reference analog: none —
    * the reference only rasterizes (helpers.py MercatorPainter); this is
    * the polygonize/region-extraction half of the north rule's
    * raster↔vector pair.
    *
    * Input: one `cell_id` column, all cells at ONE level z ≤ 28 (the mask;
    * distinct-ified — a mask is a set). Two cells are connected iff they
    * share an edge (4-adjacency, the cv2/GDAL default). Output one row per
    * region: `region` (the component's minimum cell id — deterministic,
    * partitioning-invariant), `n_cells`, `min_tx/max_tx/min_ty/max_ty`
    * (the bbox), and `perimeter` (exposed edge segments in cell units =
    * 4·n_cells − 2·n_adjacent_pairs — exact for any shape, holes
    * included).
    *
    * Scale shape: adjacency is TWO self-equi-joins on shifted cell keys
    * (right neighbor = tx+1 ⇒ cell_id + 2^29, down neighbor = ty+1 ⇒
    * cell_id + 1; at one level ≤ 28 neither offset can carry into the
    * next field), never a distance join; components resolve through the
    * shared [[Dedup.resolveClusters]] star-rounds operator (O(log n)
    * rounds for ANY region shape — a planet-scale flood fill); stats are
    * one groupBy on the region label. No driver-side geometry at any
    * point. */
  def labelRegions(mask: DataFrame): DataFrame = {
    val m = mask.select(col("cell_id")).distinct()
    // neighbor-offset equi-joins: a pair exists iff BOTH cells are in the
    // mask; offsets stay within the ty (29-bit) / tx fields for z <= 28
    def adj(offset: Long): DataFrame =
      m.select((col("cell_id") + lit(offset)).as("nb"), col("cell_id").as("ida"))
        .join(m.select(col("cell_id").as("idb")), col("nb") === col("idb"))
        .select(col("ida"), col("idb"))
    // edges feed BOTH the CC resolve (which iterates over them) and the
    // perimeter aggregation below — materialize once or the mask distinct
    // + both self-joins re-execute per consumer (the same barrier rule as
    // compact's per-round checkpoint and simhashPairsFromHashes' banded)
    val edges = adj(XYShift).unionByName(adj(1L)).localCheckpoint(false)
    val lbl = Dedup.resolveClusters(edges)
      .select(col("doc_id").as("cell_id"), col("rep_id").as("region"))
    // isolated cells (no 4-neighbor in the mask) are their own regions
    val iso = m.join(lbl, Seq("cell_id"), "left_anti")
      .select(col("cell_id"), col("cell_id").as("region"))
    val all = lbl.unionByName(iso)
    val perim = all.join(edges.withColumnRenamed("ida", "cell_id"), Seq("cell_id"))
      .groupBy(col("region")).agg(count(lit(1)).as("n_adj"))
    all
      .select(col("region"),
        shiftrightunsigned(col("cell_id"), 29).bitwiseAND(lit(0x1FFFFFFFL)).as("tx"),
        col("cell_id").bitwiseAND(lit(0x1FFFFFFFL)).as("ty"))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("tx")).as("min_tx"), max(col("tx")).as("max_tx"),
        min(col("ty")).as("min_ty"), max(col("ty")).as("max_ty"))
      .join(perim, Seq("region"), "left")
      .select(col("region"), col("n_cells"),
        col("min_tx"), col("max_tx"), col("min_ty"), col("max_ty"),
        (col("n_cells") * 4 - coalesce(col("n_adj"), lit(0L)) * 2).as("perimeter"))
  }

  /** Focal (neighborhood) statistics — the raster-algebra staple: per
    * mask cell, the sum/count/max of the values in its (2r+1)² window.
    * Input: (cell_id, v), all cells at ONE level z ≤ 28 (sparse raster —
    * absent neighbors contribute nothing, the GIS sparse-focal
    * convention); output (cell_id, v, focal_sum, focal_n, focal_max),
    * the window INCLUDING the cell itself.
    *
    * Scale shape: each cell fans out to its (2r+1)² neighbor keys (a
    * bounded per-row explode of a LITERAL offset array — zero shuffle to
    * build) and meets the raster in ONE equi-join + one groupBy on the
    * cell — never a 2D window or a distance join. Offset arithmetic can
    * underflow a border cell's tx/ty field into the adjacent field, but
    * every such phantom key carries a z-field or ty-field no valid
    * level-z (z ≤ 28) cell can have, so it misses the join by
    * construction. */
  def focalStats(raster: DataFrame, radius: Int = 1): DataFrame = {
    require(radius >= 1 && radius <= 8, s"radius=$radius out of [1, 8]")
    val offs = for { dx <- -radius to radius; dy <- -radius to radius }
      yield dx.toLong * XYShift + dy.toLong
    val contrib = raster
      .select(col("cell_id"), col("v"), explode(typedLit(offs)).as("off"))
      .select((col("cell_id") + col("off")).as("tgt"), col("v").as("nv"))
    raster.join(contrib, col("cell_id") === col("tgt"))
      .groupBy(col("cell_id"), col("v"))
      .agg(sum(col("nv")).as("focal_sum"), count(lit(1)).as("focal_n"),
        max(col("nv")).as("focal_max"))
  }

  /** Bounded distance transform — per cell within Chebyshev radius
    * `maxRadius` of the mask, the MINIMUM squared Euclidean distance (in
    * cell units) to any mask cell; mask cells themselves read 0. The
    * buffered-exclusion primitive: the reference's negative sampling
    * excludes exactly the painted cells (make_original.py:46-48 via the
    * painter's pixel test); a planet-scale pipeline wants "no negative
    * within d cells of a positive", which is `where d2 > r²` over this
    * relation. Output: (cell_id, d2).
    *
    * Scale shape: the mask explodes to its (2r+1)² offset window with the
    * offset's squared distance attached (a LITERAL array — zero shuffle
    * to build) and ONE groupBy takes the min per target cell — never an
    * iterative frontier or a distance join. Single-level z ≤ 28 contract
    * as [[focalStats]]; unlike focal there is no mask join to absorb
    * border arithmetic, so targets whose tx/ty under/overflow the level's
    * [0, 2^z) range (field borrow/carry keys included) are filtered out
    * explicitly — the output contains only valid level-z cells. */
  def distanceTransform(mask: DataFrame, maxRadius: Int): DataFrame = {
    require(maxRadius >= 1 && maxRadius <= 8, s"maxRadius=$maxRadius out of [1, 8]")
    val offs = for { dx <- -maxRadius to maxRadius; dy <- -maxRadius to maxRadius }
      yield (dx.toLong * XYShift + dy.toLong, (dx * dx + dy * dy).toLong)
    val z = shiftrightunsigned(col("cell_id"), 58)
    val side = expr("shiftleft(CAST(1 AS BIGINT), CAST(shiftrightunsigned(tgt, 58) AS INT))")
    mask.select(col("cell_id")).distinct()
      .select(col("cell_id"), explode(typedLit(offs)).as("o"))
      .select((col("cell_id") + col("o._1")).as("tgt"), col("o._2").as("d2"),
        z.as("src_z"))
      .where(shiftrightunsigned(col("tgt"), 58) === col("src_z") &&
        shiftrightunsigned(col("tgt"), 29).bitwiseAND(lit(0x1FFFFFFFL)) < side &&
        col("tgt").bitwiseAND(lit(0x1FFFFFFFL)) < side)
      .groupBy(col("tgt").as("cell_id")).agg(min(col("d2")).as("d2"))
  }

  /** Focal CONVOLUTION with the Sobel kernels — raster gradient / edge
    * detection, the weighted generalization of [[focalStats]]: per raster
    * cell the integer Sobel responses gx = Σ dx·(2−|dy|)·v(c+o),
    * gy = Σ dy·(2−|dx|)·v(c+o) and the squared gradient magnitude
    * g2 = gx² + gy². Sparse-raster semantics (absent neighbors read 0);
    * output rows are exactly the input cells.
    *
    * Scale shape: the SCATTER form — each input cell explodes over the
    * LITERAL kernel support carrying v·w per offset (zero shuffle to
    * build), one groupBy on the target key sums both kernels at once, and
    * the join back to the raster absorbs border-arithmetic phantom keys
    * (the [[focalStats]] argument). Any kernel is the same plan with a
    * different literal array — convolution never becomes a 2D window. */
  def sobel(raster: DataFrame): DataFrame = {
    val entries = for { dx <- -1 to 1; dy <- -1 to 1 } yield
      (dx.toLong * XYShift + dy.toLong,
        (dx * (2 - math.abs(dy))).toLong, (dy * (2 - math.abs(dx))).toLong)
    val contrib = raster
      .select(col("cell_id"), col("v"), explode(typedLit(entries)).as("o"))
      .select((col("cell_id") - col("o._1")).as("tgt"),
        (col("v") * col("o._2")).as("cx"), (col("v") * col("o._3")).as("cy"))
    val sums = contrib.groupBy(col("tgt"))
      .agg(sum(col("cx")).as("sgx"), sum(col("cy")).as("sgy"))
    raster.join(sums, col("cell_id") === col("tgt"), "left")
      .select(col("cell_id"), col("v"),
        coalesce(col("sgx"), lit(0L)).as("gx"),
        coalesce(col("sgy"), lit(0L)).as("gy"),
        (coalesce(col("sgx"), lit(0L)) * coalesce(col("sgx"), lit(0L)) +
          coalesce(col("sgy"), lit(0L)) * coalesce(col("sgy"), lit(0L))).as("g2"))
  }

  /** Morton (z-order) key of a packed cell: the level in the top 6 bits
    * and tx/ty bit-INTERLEAVED below — the space-filling write-layout key.
    * Rows sorted/range-partitioned by this key give every axis-aligned
    * 2^k×2^k block ONE contiguous key range (the z-order block property),
    * so a bbox scan over a morton-laid-out table touches a handful of
    * ranges instead of one row-band per y line (what a plain (tx, ty) or
    * cell_id sort yields). Pure shift/mask column math (codegen, exact in
    * any engine) via the standard 5-step bit spread. */
  def mortonOf(cell: Column): Column = {
    def spread(v: Column): Column = {
      // 29-bit value -> even bit positions of 58 bits
      val m1 = v.bitwiseAND(lit(0x1FFFFFFFL))
      val m2 = (m1.bitwiseOR(shiftleft(m1, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      val m3 = (m2.bitwiseOR(shiftleft(m2, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val m4 = (m3.bitwiseOR(shiftleft(m3, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val m5 = (m4.bitwiseOR(shiftleft(m4, 2))).bitwiseAND(lit(0x3333333333333333L))
      (m5.bitwiseOR(shiftleft(m5, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    val tx = shiftrightunsigned(cell, 29).bitwiseAND(lit(0x1FFFFFFFL))
    val ty = cell.bitwiseAND(lit(0x1FFFFFFFL))
    zOf(cell) * lit(ZShift) + (spread(tx).bitwiseOR(shiftleft(spread(ty), 1)))
  }

  /** Inverse of [[mortonOf]]: recover the packed cell from a morton key
    * (bit compaction, the spread steps reversed). */
  def cellOfMorton(morton: Column): Column = {
    def compact(v: Column): Column = {
      val m1 = v.bitwiseAND(lit(0x5555555555555555L))
      val m2 = (m1.bitwiseOR(shiftrightunsigned(m1, 1))).bitwiseAND(lit(0x3333333333333333L))
      val m3 = (m2.bitwiseOR(shiftrightunsigned(m2, 2))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val m4 = (m3.bitwiseOR(shiftrightunsigned(m3, 4))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val m5 = (m4.bitwiseOR(shiftrightunsigned(m4, 8))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      (m5.bitwiseOR(shiftrightunsigned(m5, 16))).bitwiseAND(lit(0xFFFFFFFFL))
    }
    val bits = morton.bitwiseAND(lit(ZShift - 1))
    shiftrightunsigned(morton, 58) * lit(ZShift) +
      compact(bits) * lit(XYShift) + compact(shiftrightunsigned(bits, 1))
  }

  /** The pruning composition of [[mortonOf]] and [[compact]]: each cell
    * of a compacted cover is an axis-aligned block at the layout level
    * `zLeaf`, hence ONE contiguous morton range — (cover_cell, mlo, mhi)
    * with mhi - mlo + 1 = 4^(zLeaf - z). A morton-laid-out table scans a
    * cover with |cover| sargable BETWEEN predicates (file/row-group
    * min-max stats do the skipping), instead of the per-cell equi-join a
    * hash layout needs. Cells finer than zLeaf fail loudly (uncompact's
    * contract). */
  def mortonRangesOfCover(cover: DataFrame, zLeaf: Int): DataFrame = {
    require(zLeaf >= 0 && zLeaf <= 29, s"bad zLeaf $zLeaf")
    val tx = shiftrightunsigned(col("cell_id"), 29).bitwiseAND(lit(0x1FFFFFFFL))
    val ty = col("cell_id").bitwiseAND(lit(0x1FFFFFFFL))
    val side = expr(
      s"""CASE WHEN (cell_id >> 58) > ${zLeaf}L
            THEN CAST(raise_error('mortonRangesOfCover: cover cell finer than zLeaf=$zLeaf') AS BIGINT)
            ELSE shiftleft(CAST(1 AS BIGINT), CAST(${zLeaf}L - (cell_id >> 58) AS INT)) END""")
    cover
      .select(col("cell_id").as("cover_cell"), (tx * side).as("ltx"),
        (ty * side).as("lty"), (side * side).as("area"))
      .select(col("cover_cell"),
        mortonOf(lit(zLeaf.toLong) * lit(ZShift) +
          col("ltx") * lit(XYShift) + col("lty")).as("mlo"),
        col("area"))
      .select(col("cover_cell"), col("mlo"), (col("mlo") + col("area") - 1).as("mhi"))
  }

  /** Cover × cover intersection join — the polygon-overlap test at
    * planet scale: zoned compacted covers `a` (zone_a, cell_id) and `b`
    * (zone_b, cell_id), each zone's cells disjoint at levels in
    * [zMin, zMax], yield every overlapping (zone_a, zone_b) pair with the
    * EXACT intersection area in zMax-level cell units. Quadtree cells
    * intersect iff one is an ancestor-or-equal of the other, so the join
    * is two bounded ancestor-chain explodes meeting in plain equi-joins —
    * never a geometric pair test:
    *   - b-cells climb to their ancestors (self included) and match
    *     a-cells at a coarser-or-equal level; the overlap is the b-cell,
    *     area 4^(zMax - z_b);
    *   - a-cells climb STRICTLY (self excluded) and match b-cells at a
    *     strictly coarser level; overlap is the a-cell, 4^(zMax - z_a).
    * The two directions partition the ancestor-descendant cases (z_a<=z_b
    * vs z_a>z_b) and per-zone disjointness means each overlap region is
    * counted exactly once — the sum per pair is the exact area.
    *
    * Scale shape: chains are ≤ zMax-zMin+1 rows per cover cell (covers
    * are the COMPACTED sets — orders of magnitude below the fine fill);
    * both directions are equi-joins (broadcastable when one cover is a
    * city against a planet) plus ONE groupBy on the zone pair. */
  def coverIntersect(a: DataFrame, b: DataFrame, zMax: Int, zMin: Int): DataFrame = {
    require(zMax >= zMin && zMin >= 0 && zMax <= 29, s"bad z range [$zMin, $zMax]")
    // full ancestor chain of a cell from its OWN level up to zMin
    // (self first); cells coarser than zMin contribute just themselves
    def chain(): Column = expr(
      s"""transform(sequence(0, CAST(greatest((cell_id div ${ZShift}L) - $zMin, 0) AS INT)), d ->
            ((cell_id div ${ZShift}L) - d) * ${ZShift}L +
            shiftright((cell_id % ${ZShift}L) div ${XYShift}L, d) * ${XYShift}L +
            shiftright(cell_id % ${XYShift}L, d))""")
    // area of the finer cell in zMax units: 4^(zMax - z)
    def area: Column =
      expr(s"shiftleft(CAST(1 AS BIGINT), CAST(($zMax - cell_id div ${ZShift}L) * 2 AS INT))")
    val d1 = b.withColumn("anc", explode(chain()))
      .join(a.select(col("zone_a"), col("cell_id").as("ca")), col("anc") === col("ca"))
      .select(col("zone_a"), col("zone_b"), area.as("ar"))
    val strictA = a.withColumn("ancs", chain())
      .withColumn("anc", explode(expr("slice(ancs, 2, greatest(size(ancs) - 1, 0))")))
      .join(b.select(col("zone_b"), col("cell_id").as("cb")), col("anc") === col("cb"))
      .select(col("zone_a"), col("zone_b"), area.as("ar"))
    d1.unionByName(strictA)
      .groupBy(col("zone_a"), col("zone_b"))
      .agg(count(lit(1)).as("n_cell_pairs"), sum(col("ar")).as("cells_zmax"))
  }

  /** Polyfill: polygon -> minimal compacted cell cover (the H3/S2
    * `polyfill` analog). Candidate cells are the polygon's bbox grid at
    * `zMax`; a cell is covered iff its CENTER lies inside the polygon
    * (ray-cast, the same codegen kernel as the F6 point-in-polygon
    * filter); the covered set compacts to mixed zoom [zMin, zMax].
    * Reference analog: the buildings exclusion zones rasterize WKT fills
    * at ONE fixed zoom (make_buildings.py:24-27); this is the
    * index-maintenance form a planet-scale exclusion cover needs.
    *
    * Scale shape: the candidate grid is generated relationally
    * (range × range — bbox-bounded, never collected), containment is a
    * per-row codegen expression, and compaction is the bounded groupBy
    * cascade of [[compact]]. For covers whose bbox at zMax exceeds grid
    * budget, polyfill coarse first and [[uncompact]] selectively — the
    * same algebra, fewer candidates. */
  def coverOfPolygon(spark: org.apache.spark.sql.SparkSession,
                     lats: Seq[Double], lngs: Seq[Double],
                     zMax: Int, zMin: Int): DataFrame = {
    require(lats.length == lngs.length && lats.length >= 3, "need a polygon")
    require(zMax >= zMin && zMin >= 0 && zMax <= 29, s"bad z range [$zMin, $zMax]")
    val scale = (1L << zMax).toDouble
    def txOf(lng: Double): Long = math.floor(graft.core.Mercator.projectX(lng) * scale / 256.0).toLong
    def tyOf(lat: Double): Long = math.floor(graft.core.Mercator.projectY(lat) * scale / 256.0).toLong
    // bbox from the polygon literal (driver-side arithmetic on the
    // operator's arguments, not on data)
    val (txMin, txMax) = (lngs.map(txOf).min, lngs.map(txOf).max)
    val (tyMin, tyMax) = (lats.map(tyOf).min, lats.map(tyOf).max) // projectY inverts lat order; min/max over all vertices is order-free
    val grid = spark.range(txMin, txMax + 1).select(col("id").as("tx"))
      .crossJoin(spark.range(tyMin, tyMax + 1).select(col("id").as("ty")))
    // tile-center inversion (the P2 wgs_at_tile formulas, column form)
    val ctrLat = lit(180.0) / lit(math.Pi) *
      (lit(2.0) * atan(exp((lit(1.0) - lit(2.0) * (col("ty").cast("double") + lit(0.5)) / lit(scale)) * lit(math.Pi))) - lit(math.Pi) / lit(2.0))
    val ctrLng = lit(180.0) * (lit(2.0) * (col("tx").cast("double") + lit(0.5)) / lit(scale) - lit(1.0))
    import org.apache.spark.sql.functions.typedLit
    val covered = grid
      .where(graft.functions.GeoF.pointInPoly(ctrLat, ctrLng, typedLit(lats), typedLit(lngs)))
      .select((lit(zMax.toLong) * lit(ZShift) + col("tx") * lit(XYShift) + col("ty")).as("cell_id"))
    compact(covered, zMax, zMin)
  }

  /** Expand a (possibly compacted) cover back to uniform level `z`: each
    * cell at a coarser level explodes into its 4^(z-zc) descendants —
    * `uncompact`, the inverse used when a consumer wants one fixed zoom.
    * Pure column math: descendant (i, j) of a cell at level zc is
    * pack(z, tx*2^d + i, ty*2^d + j), d = z - zc. */
  def uncompact(cover: DataFrame, z: Int): DataFrame = {
    require(z >= 0 && z <= 29, s"bad z $z")
    val tx = shiftrightunsigned(col("cell_id"), 29).bitwiseAND(lit(0x1FFFFFFFL))
    val ty = col("cell_id").bitwiseAND(lit(0x1FFFFFFFL))
    // a cover cell FINER than the target level cannot be represented at z —
    // silently dropping it would shrink the covered area, so fail the job
    cover
      .select(tx.as("tx"), ty.as("ty"),
        expr(s"""CASE WHEN (cell_id >> 58) > ${z}L
                   THEN CAST(raise_error('uncompact: cover cell finer than target z=$z') AS BIGINT)
                   ELSE shiftleft(CAST(1 AS BIGINT), CAST(${z}L - (cell_id >> 58) AS INT)) END""")
          .as("side"))
      .select(explode(sequence(lit(0L), col("side") * col("side") - 1)).as("q"),
        col("tx"), col("ty"), col("side"))
      .select((lit(z.toLong) * lit(ZShift) +
          (col("tx") * col("side") + col("q") % col("side")) * lit(XYShift) +
          (col("ty") * col("side") + expr("q div side")))
        .as("cell_id"))
  }

  /** Tile-pyramid rollup (the map-tile reduction behind every slippy-map
    * overview level, reference minimap's multi-zoom counterpart): leaf
    * tiles at uniform level `zLeaf` carry integer per-tile measures
    * (mb, mg, mr — e.g. floored mean BGR); each coarser level is ONE
    * groupBy of the PREVIOUS level on its parent id, carrying exact
    * integer channel SUMS + tile counts upward (associative, so
    * hierarchical == direct leaf-to-ancestor grouping — the DuckDB twin
    * replays the flat form and pins the equivalence).
    *
    * Scale shape: L shuffles over a geometrically 4x-shrinking relation —
    * total shuffled rows <= 4/3 of the leaf level, vs L full leaf scans
    * for per-level direct grouping. Emits every level zLeaf..zMin as
    * (cell_id, zl, n_tiles, mean_b, mean_g, mean_r), means = floor(sum/n). */
  def pyramidRollup(leafTiles: DataFrame, zLeaf: Int, zMin: Int): DataFrame = {
    require(zMin >= 0 && zMin <= zLeaf, s"bad pyramid range [$zMin, $zLeaf]")
    val leaf = leafTiles
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"), sum(col("mb")).as("sb"),
        sum(col("mg")).as("sg"), sum(col("mr")).as("sr"))
      // every union branch's lineage starts at this aggregate; without the
      // checkpoint a missed exchange-reuse would re-run the (expensive,
      // often decode-UDF) leaf pass once per level (the compact() lesson)
      .localCheckpoint(false)
    val levels = Iterator.iterate(leaf) { cur =>
      cur.select(parentOf(col("cell_id")).as("cell_id"),
          col("n"), col("sb"), col("sg"), col("sr"))
        .groupBy(col("cell_id"))
        .agg(sum(col("n")).as("n"), sum(col("sb")).as("sb"),
          sum(col("sg")).as("sg"), sum(col("sr")).as("sr"))
    }.take(zLeaf - zMin + 1)
    levels.reduce(_.unionAll(_))
      .select(col("cell_id"), zOf(col("cell_id")).cast("long").as("zl"),
        col("n").as("n_tiles"), expr("sb div n").as("mean_b"),
        expr("sg div n").as("mean_g"), expr("sr div n").as("mean_r"))
  }

  /** floor(m²) GEODESIC (spherical) area of a web-mercator cell, over
    * columns (nt, ty) with nt = 2^z tiles per axis — the metric that
    * turns cover algebra into real-world area accounting (a cover's m²
    * is the SUM of its cells' — zonal stats, exclusion-region budgets,
    * tile-density normalization all need it; cell-unit areas from
    * coverIntersect are only comparable within one level).
    *
    * Exact derivation, no approximation beyond the sphere: a slippy cell
    * spans Δλ = 2π/nt and its latitude edge at tile row y satisfies
    * sin φ(y) = tanh(π(1 − 2y/nt)) (sin∘atan∘sinh collapses to tanh), so
    * the spherical-zone area is R²·Δλ·(sin φ_top − sin φ_bot) with
    * NO trig calls — tanh alone, spelled via exp because DuckDB has no
    * tanh and the twin must evaluate the identical IEEE tree. R =
    * 6371000 m (R² = 40589641000000). Literals are CAST ... AS DOUBLE
    * (bare decimal literals parse as DECIMAL in both engines). */
  val cellAreaM2Sql: String = {
    def tanhAt(row: String): String = {
      val x = s"(pi() * (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * ($row) / nt))"
      s"((exp(CAST(2 AS DOUBLE) * $x) - CAST(1 AS DOUBLE)) / " +
        s"(exp(CAST(2 AS DOUBLE) * $x) + CAST(1 AS DOUBLE)))"
    }
    s"CAST(floor((CAST(2 AS DOUBLE) * pi() / nt) * CAST(40589641000000 AS DOUBLE) * " +
      s"(${tanhAt("ty")} - ${tanhAt("ty + 1")})) AS BIGINT)"
  }

  /** Per-cell geodesic area: input one `cell_id` column (any mix of
    * levels), output (cell_id, area_m2). Pure column math — zero
    * shuffle, codegen'd, works on compacted covers directly. */
  def cellArea(cells: DataFrame): DataFrame =
    cells.select(col("cell_id"),
        expr(s"CAST(shiftleft(CAST(1 AS BIGINT), CAST(cell_id div ${ZShift}L AS INT)) AS DOUBLE)").as("nt"),
        cell_tyCol.as("ty"))
      .select(col("cell_id"), expr(cellAreaM2Sql).as("area_m2"))

  private def cell_tyCol: Column = col("cell_id").bitwiseAND(lit(0x1FFFFFFFL))
}
