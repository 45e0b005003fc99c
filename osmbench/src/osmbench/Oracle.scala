package osmbench

import graft.core._
import graft.pipeline.Pipelines
import graft.tables.SyntheticWorld
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col

/**
 * In-process sequential oracles for the dataset builders: the reference
 * algorithms re-run over the collected vector tables with the `core`
 * kernels only (the PipelineSpec / PipelineGoldenSpec pattern), giving the
 * expected (example_id, label, split) multiset of each output.
 */
object Oracle {
  type Ids = Seq[(String, String, String)]

  /** Spark's xxhash64(key, lit(seed)): children hash in order from seed 42. */
  def rank(key: Long, seed: Long): Long = XXH64.hashLong(seed, XXH64.hashLong(key, 42L))

  private def topByRank(keys: Iterable[Long], seed: Long, n: Int): Seq[Long] =
    keys.toSeq.sortBy(k => (rank(k, seed), k)).take(n)

  private def tileId(cell: Long): String = s"x${CellId.tx(cell)}y${CellId.ty(cell)}"
  private def milKey(lat: Double, lng: Double): String =
    s"m_lat${Mercator.mil(lat)}lng${Mercator.mil(lng)}"

  /** The world's vector tables, collected. */
  final class Vectors(in: GeoInputs) {
    private val nodeRows = in.nodes.select(col("node_id"), col("lat"), col("lng"),
      col("tags").getItem("highway")).collect()
    val coords: Map[Long, (Double, Double)] =
      nodeRows.map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val lampIds: Seq[Long] = nodeRows.filter(r => r.getString(3) == "street_lamp").map(_.getLong(0)).toSeq
    val ways: Seq[(Long, Map[String, String], Seq[(Double, Double)])] =
      in.ways.select(col("way_id"), col("tags"), col("node_ids")).collect().toSeq.map { r =>
        (r.getLong(0), r.getMap[String, String](1).toMap, r.getSeq[Long](2).map(coords))
      }
    def roads: Seq[Seq[(Double, Double)]] =
      ways.filter(_._2.get("highway").exists(SyntheticWorld.RoadClasses.contains)).map(_._3)
  }

  private def bboxLamps(v: Vectors, cfg: Pipelines.Config): Seq[(Long, Double, Double)] = {
    val (w, s, e, n) = cfg.bbox
    v.lampIds.map(id => (id, v.coords(id)._1, v.coords(id)._2))
      .filter { case (_, lat, lng) => lat >= s && lat <= n && lng >= w && lng <= e }
      .sortBy { case (id, _, _) => (rank(id, cfg.seed), id) }
  }

  private def painter(cfg: Pipelines.Config): Painter = {
    val (w, s, e, n) = cfg.bbox
    new Painter(cfg.z, cfg.offX, cfg.offY, w, s, e, n)
  }

  private def cellOf(cfg: Pipelines.Config, lat: Double, lng: Double, edge: Double): Option[Long] = {
    val (tx, ty, rx, ry) = Mercator.tileAndPixelAtWgs(lat, lng, cfg.z, cfg.offX, cfg.offY)
    if (Mercator.isEdgeOutlier(rx, ry, edge)) None else Some(CellId.pack(cfg.z, tx, ty))
  }

  /** make_original: sampled lamps' tiles + hash-rank negatives of the
    * complement of {lamp dots, roads width 2}. */
  def originalTiles(v: Vectors, cfg: Pipelines.Config): Ids = {
    val lamps = bboxLamps(v, cfg).take(cfg.limit)
    val pos = lamps.flatMap { case (_, lat, lng) => cellOf(cfg, lat, lng, 16) }
      .map(c => (s"m_${tileId(c)}", "lamp", "all"))
    val p = painter(cfg)
    p.addDotsWgs(lamps.map(l => (l._2, l._3)))
    v.roads.foreach(r => p.addPolylineWgs(r, width = 2))
    val neg = topByRank(p.freeCells, cfg.seed + 1, cfg.limit).map(c => (s"m_${tileId(c)}", "nolamp", "all"))
    pos ++ neg
  }

  /** make_buildings: building-node tiles (edge 24) + negatives of the
    * complement of {outlines width 1, exclusion fill}. */
  def buildings(v: Vectors, cfg: Pipelines.Config, wkt: String): Ids = {
    val bways = v.ways.filter(_._2.contains("building"))
    val posCells = bways.flatMap(_._3).flatMap { case (lat, lng) => cellOf(cfg, lat, lng, cfg.buildingEdge) }.toSet
    val yes = topByRank(posCells, cfg.seed + 3, cfg.limit).map(c => (tileId(c), "yes", "all"))
    val p = painter(cfg)
    bways.foreach(b => p.addPolylineWgs(b._3, width = 1))
    for ((lats, lngs) <- Wkt.latlngsFromWkt(wkt)) p.addFillPolyWgs(lats.zip(lngs).toSeq)
    val no = topByRank(p.freeCells, cfg.seed + 4, cfg.limit).map(c => (s"m_${tileId(c)}", "no", "all"))
    yes ++ no
  }

  /** make_expand: train crops around lamps and tile centres, valid raw tiles. */
  def expandedCrops(v: Vectors, cfg: Pipelines.Config): Ids = {
    val lamps = bboxLamps(v, cfg)
    val (train, valid) = lamps.splitAt(cfg.train)
    val trainPos = train.map { case (_, lat, lng) => milKey(lat, lng) }.distinct
      .map(k => (k, "lamp", "train"))
    val validPos = valid.flatMap { case (_, lat, lng) => cellOf(cfg, lat, lng, 16) }.distinct
      .take(cfg.valid).map(c => (s"m_${tileId(c)}", "lamp", "valid"))
    val p = painter(cfg)
    p.addDotsWgs(lamps.map(l => (l._2, l._3)))
    v.roads.foreach(r => p.addPolylineWgs(r, width = 2))
    val (negTrain, negValid) =
      topByRank(p.freeCells, cfg.seed + 2, cfg.train + cfg.valid).splitAt(cfg.train)
    val trainNeg = negTrain.map { c =>
      val (lat, lng) = Mercator.wgsAtTile(CellId.tx(c), CellId.ty(c), cfg.z)
      (milKey(lat, lng), "nolamp", "train")
    }
    val validNeg = negValid.map(c => (s"m_${tileId(c)}", "nolamp", "valid"))
    trainPos ++ validPos ++ trainNeg ++ validNeg
  }

  /** make_roofshapes: tagged ways whose padded cover crop passes the
    * half-open [128, 1024) size gate. */
  def roofShapes(v: Vectors, cfg: Pipelines.Config): Ids =
    for {
      (wayId, tags, pts) <- v.ways
      if tags.contains("roof:shape") && tags.contains("building")
      (txmin, txmax, tymin, tymax, xmin, ymin, xmax, ymax) =
        Viewport.tilesWay(pts.map(_._1).toArray, pts.map(_._2).toArray, cfg.z, cfg.offX, cfg.offY)
      ch = (math.min(ymax, (tymax - tymin + 1) * 256) - math.max(ymin, 0)).max(0)
      cw = (math.min(xmax, (txmax - txmin + 1) * 256) - math.max(xmin, 0)).max(0)
      if ch >= 128 && ch < 1024 && cw >= 128 && cw < 1024
    } yield (s"m$wayId", tags("roof:shape"), "all")

  /** Mismatch messages of one output part against its expected ids. */
  def compare(p: Part, expected: Ids): Seq[String] = {
    val got = p.ids.toSeq.sorted
    val exp = expected.sorted
    if (got == exp) Nil
    else {
      val missing = exp.diff(got).take(3)
      val extra = got.diff(exp).take(3)
      Seq(s"${p.name}: oracle expects ${exp.size} rows, output has ${got.size}; " +
        s"missing e.g. ${missing.mkString(",")}; unexpected e.g. ${extra.mkString(",")}")
    }
  }
}
