package osmbench

import graft.core._
import graft.functions.{GeoF, GeoKernel, GeoUdfs, Stitch}
import graft.pipeline.Pipelines
import graft.tables.{SyntheticWorld, World}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/**
 * Layer probes of a traced run. `core`: single-thread timed loops over the
 * workload's own tiles, points and roads (tiles are encoded exactly as the
 * corpus stores them). `functions`: rows per second per core of the
 * engine's column functions into a noop sink.
 */
object Probes {
  final case class Inputs(tiles: Array[Array[Byte]], points: Array[(Double, Double)],
                          roads: Array[(Array[Double], Array[Double])],
                          fill: (Array[Double], Array[Double]), cfg: Pipelines.Config, crop: Int)

  def inputs(spark: SparkSession, w: World): Inputs = {
    val (bw, bs, be, bn) = w.bbox
    val cfg = Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn))
    val cells = (0 until 36).map(i => CellId.pack(w.z, w.tx0 + i % 6, w.ty0 + i / 6))
    val tiles = cells.map { c =>
      val fmt = if (Splitmix.mix(c ^ (Worlds.CorpusSeed + 99)) % 32 == 0) "png" else "jpeg"
      ImageCodec.encode(SyntheticWorld.tileRaw(c, Worlds.CorpusSeed), fmt)
    }.toArray
    val points = (0L until math.max(1, w.lamps)).map(k => SyntheticWorld.lampPos(w, k)).toArray
    val roads = Pipelines.waysPacked(SyntheticWorld.osmWays(spark, w), SyntheticWorld.osmNodes(spark, w),
        Pipelines.roadFilter).select(col("lats"), col("lngs")).collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    val fill = Wkt.latlngsFromWkt(Worlds.exclusionWkt(w)).head
    Inputs(tiles, points, roads, fill, cfg, crop = 88 * 2 + Pipelines.TileSize)
  }

  private var sink = 0L

  /** Time per call of `f` in ns: median of five batches after a warm one. */
  private def perOp(n: Int)(f: Int => Long): Double = {
    def batch(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink ^= f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    batch()
    Stats.median(Seq.fill(5)(batch()))
  }

  private def canvasCells(cfg: Pipelines.Config, lats: Array[Double], lngs: Array[Double]) = {
    val ext = cfg.ext
    val xs = new Array[Int](lats.length)
    val ys = new Array[Int](lats.length)
    for (i <- lats.indices) {
      val c = GeoKernel.cellAtWgs(lats(i), lngs(i), ext.z, ext.offX, ext.offY)
      xs(i) = (CellId.tx(c) - ext.txmin).toInt
      ys(i) = (CellId.ty(c) - ext.tymin).toInt
    }
    (new CvRaster.Canvas(ext.width, ext.height), xs, ys)
  }

  /** Cells a width-2 road paints, as the rasterize UDF computes them. */
  private def roadCells(in: Inputs, r: Int): Long = {
    val (canvas, xs, ys) = canvasCells(in.cfg, in.roads(r)._1, in.roads(r)._2)
    CvRaster.polyLine(canvas, xs, ys, isClosed = true, 2, 4)
    canvas.paintedCount
  }

  def core(in: Inputs): Map[String, Double] = {
    val raws = in.tiles.map(ImageCodec.decode)
    val mosaic = ImageCodec.Raw(768, 768, new Array[Byte](768 * 768 * 3))
    val cropped = ImageCodec.centerCrop(mosaic, 384, 384, in.crop, in.crop)
    val np = in.points.length
    val nr = math.max(1, in.roads.length)
    Map(
      "core.decode_us" -> perOp(in.tiles.length)(i => ImageCodec.decode(in.tiles(i)).bgr.length) / 1e3,
      "core.blit_us" -> perOp(raws.length) { i =>
        ImageCodec.blit(mosaic, raws(i), (i % 3) * 256, (i / 3 % 3) * 256); mosaic.bgr(i) } / 1e3,
      "core.crop_us" -> perOp(64)(i => ImageCodec.centerCrop(mosaic, 380 + i % 8, 384, in.crop, in.crop).h) / 1e3,
      "core.encode_us" -> perOp(8)(_ => ImageCodec.encode(cropped, "jpeg").length) / 1e3,
      "core.viewport_ns" -> perOp(20000) { i =>
        val (la, ln) = in.points(i % np)
        Viewport.tilesNearWgs(la, ln, in.cfg.z, in.crop, in.crop, 0, 0)._5 },
      "core.cell_at_wgs_ns" -> perOp(20000) { i =>
        val (la, ln) = in.points(i % np)
        GeoKernel.cellAtWgs(la, ln, in.cfg.z, 0, 0) },
      "core.polyline_us_per_road" -> (if (in.roads.isEmpty) 0.0 else perOp(nr)(r => roadCells(in, r)) / 1e3),
      "core.fill_poly_us" -> perOp(16) { _ =>
        val (canvas, xs, ys) = canvasCells(in.cfg, in.fill._1, in.fill._2)
        CvRaster.fillPoly(canvas, xs, ys, 4)
        canvas.paintedCount })
  }

  /** Seconds to run `df` into the noop sink: median of three after a warm run. */
  private def noop(df: => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  def functions(spark: SparkSession, in: Inputs, cores: Int): Map[String, Double] = {
    import spark.implicits._
    val z = in.cfg.z
    val nPts = 2000000L
    val (lat0, lng0) = in.points.head
    val cellSec = noop(spark.range(0, nPts, 1, cores).select(GeoF.cellAtWgs(
      lit(lat0) + (col("id") % 9973).cast("double") * lit(1e-6),
      lit(lng0) + (col("id") % 7919).cast("double") * lit(1e-6), z).as("c")))

    val reps = math.max(1, 400 / math.max(1, in.roads.length))
    val roadRows = Seq.fill(reps)(in.roads.toSeq).flatten.map { case (a, b) => (a.toSeq, b.toSeq) }
    val roadsDf = roadRows.toDF("lats", "lngs").repartition(cores).cache()
    roadsDf.count()
    val cellsOut = reps.toLong * in.roads.indices.map(r => roadCells(in, r)).sum
    val rasterSec = noop(roadsDf.select(explode(
      GeoUdfs.rasterizePolyline(in.cfg.ext, 2)(col("lats"), col("lngs"))).as("c")))

    val vpRows = 50000
    val vpDf = Seq.tabulate(vpRows)(i => in.points(i % in.points.length)).toDF("lat", "lng")
      .repartition(cores).cache()
    vpDf.count()
    val vpSec = noop(vpDf.select(GeoUdfs.viewportCells(z, in.crop)(col("lat"), col("lng")).as("v")))

    // 3x3 mosaics over the probe tiles, each tile slot decoded and blitted
    val groups = 64
    val slots = for (g <- 0 until groups; s <- 0 until 9) yield (g, s % 3, s / 3, in.tiles((g * 9 + s) % in.tiles.length))
    val slotDf = slots.toDF("k", "dx", "dy", "bytes").repartition(cores, col("k")).cache()
    slotDf.count()
    val stitchSec = noop(slotDf.groupBy(col("k"))
      .agg(Stitch.stitchAgg(struct(col("dx"), col("dy"), lit(3), lit(3), col("bytes"))).as("m")))
    Seq(roadsDf, vpDf, slotDf).foreach(_.unpersist())

    Map(
      "functions.cell_at_wgs_rows_per_s" -> nPts / cellSec / cores,
      "functions.rasterize_polyline_cells_per_s" -> cellsOut / rasterSec / cores,
      "functions.viewport_rows_per_s" -> vpRows / vpSec / cores,
      "functions.stitch_tiles_per_s" -> slots.size / stitchSec / cores)
  }

  /** Time to force the executed plan of the workload's data frames, summed
    * over them; median of three. */
  def planMs(frames: Seq[() => DataFrame]): Double = Stats.median(Seq.fill(3) {
    val t0 = System.nanoTime()
    frames.foreach(f => f().queryExecution.executedPlan)
    (System.nanoTime() - t0) / 1e6
  })

  /** (files read, files in the table) of the images scan of a bbox query. */
  def scanFiles(df: DataFrame, tableDir: String): (Double, Double) = {
    val q = df.select(col("cell_id"))
    q.collect()
    val read = PlanRows.nodes(q.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tableDir))
    val total = try walk.filter(p => p.toString.endsWith(".parquet")).count() finally walk.close()
    (read.toDouble, total.toDouble)
  }
}

/** Row counts read from the metrics of an executed plan: what the engine
  * did, not what the benchmark expects it to do. */
object PlanRows {
  /** Children, looking through adaptive plans and query stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** Rows out of the topmost row-counting nodes of a subtree. */
  private def rowsOut(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(kids(p).map(rowsOut).sum)

  /** Rows entering the probe side of the plan's anti-joins: the candidate
    * cells a negative sampler enumerates before it drops the painted ones. */
  def antiJoinProbeRows(plan: SparkPlan): Long =
    nodes(plan).collect { case j: BaseJoinExec if j.joinType == LeftAnti => rowsOut(j.left) }.sum

  /** Rows out of the plan's joins against tile bytes (a `bytes` column on
    * the right side): the viewport slots a crop builder joins and decodes. */
  def imageJoinRows(plan: SparkPlan): Long =
    nodes(plan).collect { case j: BaseJoinExec if j.right.output.exists(_.name == "bytes") => rowsOut(j) }.sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
