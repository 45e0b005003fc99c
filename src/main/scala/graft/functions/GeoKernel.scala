package graft.functions

import graft.core.{CellId, Mercator}
import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Static kernel entry points invoked from whole-stage-generated code (plain
 * `object` => static forwarders on the companion class, so generated Java
 * calls `graft.functions.GeoKernel.cellAtWgs(...)` with primitive
 * arguments — no boxing, no virtual dispatch, stays inside the codegen
 * pipeline).
 */
object GeoKernel {
  /** Packed cell id of the tile containing a WGS point (reference
    * lib/layers.py:107-118 + CellId packing). */
  def cellAtWgs(lat: Double, lng: Double, z: Int, offX: Double, offY: Double): Long = {
    val scale = (1L << z).toDouble
    val px = (Mercator.projectX(lng) + offX) * scale
    val py = (Mercator.projectY(lat) + offY) * scale
    val tx = math.floor(px / Mercator.TileSize).toLong
    val ty = math.floor(py / Mercator.TileSize).toLong
    CellId.pack(z, tx, ty)
  }

  /** Edge filter: true = keep (NOT an outlier). reference lib/layers.py:135-141 */
  def edgeOk(lat: Double, lng: Double, z: Int, offX: Double, offY: Double, edge: Double): Boolean = {
    val scale = (1L << z).toDouble
    val px = (Mercator.projectX(lng) + offX) * scale
    val py = (Mercator.projectY(lat) + offY) * scale
    val rx = px - math.floor(px / Mercator.TileSize) * Mercator.TileSize
    val ry = py - math.floor(py / Mercator.TileSize) * Mercator.TileSize
    !Mercator.isEdgeOutlier(rx, ry, edge)
  }

  /** Ray-cast PIP over packed coordinate ArrayData — reads elements in
    * place, no array materialization. */
  def pointInPoly(lat: Double, lng: Double, lats: ArrayData, lngs: ArrayData): Boolean = {
    val n = lats.numElements()
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = lats.getDouble(i); val xi = lngs.getDouble(i)
      val yj = lats.getDouble(j); val xj = lngs.getDouble(j)
      if ((yi > lat) != (yj > lat) &&
          lng < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Ancestor of a level-`zMax` packed cell, `d` levels up — the kernel
    * twin of CellOps.coverJoin's ancestor-chain arithmetic. */
  def cellAncestor(cell: Long, zMax: Int, d: Int): Long = {
    val tx = (cell >>> 29) & 0x1FFFFFFFL
    val ty = cell & 0x1FFFFFFFL
    ((zMax - d).toLong << 58) + ((tx >> d) << 29) + (ty >> d)
  }

  /** Membership of a level-`zMax` cell in a mixed-zoom [zMin, zMax] cover
    * (the FILTER form of CellOps.coverJoin): true iff some ancestor at
    * levels zMax..zMin is a cover cell. Cells NOT at level zMax are
    * rejected outright — the contract the sargable range gate
    * (plans.CellCoverPushdown) relies on. Linear scan form for per-row
    * cover arrays. */
  def cellInCover(cell: Long, cover: ArrayData, zMax: Int, zMin: Int): Boolean = {
    if ((cell >>> 58) != zMax.toLong) return false
    val n = cover.numElements()
    var d = 0
    while (d <= zMax - zMin) {
      val anc = cellAncestor(cell, zMax, d)
      var i = 0
      while (i < n) {
        if (!cover.isNullAt(i) && cover.getLong(i) == anc) return true
        i += 1
      }
      d += 1
    }
    false
  }

  /** Hash-set form of [[cellInCover]] for a plan-time-constant cover —
    * O(levels) probes per row regardless of cover size. */
  def cellInCoverSet(cell: Long, cover: java.util.HashSet[java.lang.Long],
                     zMax: Int, zMin: Int): Boolean = {
    if ((cell >>> 58) != zMax.toLong) return false
    var d = 0
    while (d <= zMax - zMin) {
      if (cover.contains(cellAncestor(cell, zMax, d))) return true
      d += 1
    }
    false
  }
}
