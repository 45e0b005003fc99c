package osmbench

import graft.pipeline.{Pipelines, StagedOriginalTiles}
import graft.tables.{HashRank, Sinks, StageRunner, World}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What every workload knows about its run. */
final case class Ctx(scale: Scale, seed: Long, cache: String, scratch: String, pins: String,
                     queryData: String)

/**
 * One benchmark workload: a dataset builder run as a closed loop with one
 * client over a generated world. Each iteration's outputs are consumed in
 * full and their row hashes checked.
 */
abstract class Workload(val ctx: Ctx, val world: World, val cfg: Pipelines.Config) {
  var in: GeoInputs = _
  lazy val vectors = new Oracle.Vectors(in)
  /** Per-layer numbers only this workload's traced run produces. */
  val layer = mutable.Map.empty[String, Double]
  /** Output digests of the traced run's probe, for pinning. */
  val probeDigests = mutable.Map.empty[String, String]

  /** Generates (cached) and opens the inputs; returns the seconds spent
    * generating, which set-up time excludes. */
  def open(spark: SparkSession): Double = {
    val (g, sec) = Worlds.openGeo(spark, ctx.cache, ctx.scale, world)
    in = g
    sec
  }
  def iterate(spark: SparkSession, t: Option[Tracer]): IterOut
  /** Mismatches of an output against the sequential oracle. */
  def oracle(out: IterOut): Seq[String]
  /** Traced work after the traced iterations, as one more checked
    * operation; returns its output mismatches. */
  def traceProbe(spark: SparkSession, t: Tracer): Seq[String]
  /** The data frames one iteration plans, built fresh per call. */
  def planFrames(spark: SparkSession): Seq[() => DataFrame]

  def params: Map[String, Any] = Map("world" -> world.toString, "bbox_cells" -> cfg.ext.cellCount,
    "limit" -> cfg.limit, "train" -> cfg.train, "valid" -> cfg.valid, "expand_pad" -> cfg.expandPad,
    "exclusion_wkt" -> in.exclusionWkt, "corpus" -> Worlds.corpus(ctx.scale).toString,
    "query_data" -> QueryProbe.DataName)

  protected def span[A](t: Option[Tracer], n: String)(f: => A): A = t.fold(f)(_.span(n)(f))
  protected def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** Binning, rasterizing, the grid anti-join, cell joins and partition
  * pruning; image bytes only pass through. */
final class LampTiles(ctx: Ctx, w: World)
    extends Workload(ctx, w, Worlds.lampConfig(ctx.scale, w)) {

  def iterate(spark: SparkSession, t: Option[Tracer]): IterOut = {
    t.foreach { _ =>
      val lamps = span(t, "pipeline.lamp_sample") {
        checkpoint(HashRank.sample(Pipelines.lampScan(in.nodes, cfg), "node_id", cfg.seed, cfg.limit)
          .select("node_id", "lat", "lng").repartition(col("node_id")))
      }
      val roads = span(t, "pipeline.ways_packed") {
        checkpoint(Pipelines.waysPacked(in.ways, in.nodes, Pipelines.roadFilter))
      }
      val painted = span(t, "pipeline.painted_cells") {
        checkpoint(Pipelines.paintedCells(lamps, roads, cfg))
      }
      val negDf = Pipelines.negativeCells(spark, painted, cfg, cfg.limit, seedTag = 1)
      val neg = span(t, "pipeline.negative_cells")(checkpoint(negDf))
      layer("pipeline.negative_cells.grid_per_pick") =
        PlanRows.antiJoinProbeRows(negDf.queryExecution.executedPlan).toDouble / neg.count()
    }
    val o = span(t, "pipeline.original_tiles") {
      Digest.examples("original_tiles", Pipelines.originalTiles(spark, in.nodes, in.ways, in.images, cfg))
    }
    val b = span(t, "pipeline.buildings") {
      Digest.examples("buildings",
        Pipelines.buildings(spark, in.nodes, in.ways, in.images, cfg, in.exclusionWkt))
    }
    IterOut(Seq(o, b), cfg.ext.cellCount + o.rows + b.rows)
  }

  def oracle(out: IterOut): Seq[String] =
    Oracle.compare(out.parts(0), Oracle.originalTiles(vectors, cfg)) ++
      Oracle.compare(out.parts(1), Oracle.buildings(vectors, cfg, in.exclusionWkt))

  def traceProbe(spark: SparkSession, t: Tracer): Seq[String] =
    StagedExport.run(spark, this, t, Paths.get(ctx.scratch, "stage_root"))

  def planFrames(spark: SparkSession): Seq[() => DataFrame] = Seq(
    () => Pipelines.originalTiles(spark, in.nodes, in.ways, in.images, cfg),
    () => Pipelines.buildings(spark, in.nodes, in.ways, in.images, cfg, in.exclusionWkt))
}

/** Decode, blit, crop and encode: the image codec and the stitch aggregate
  * dominate; neighbouring viewports share tiles. */
final class CropMosaics(ctx: Ctx, w: World)
    extends Workload(ctx, w, Worlds.cropConfig(w)) {

  def iterate(spark: SparkSession, t: Option[Tracer]): IterOut = {
    val crops = t match {
      case None =>
        Digest.examples("expanded_crops", Pipelines.expandedCrops(spark, in.nodes, in.ways, in.images, cfg))
      case Some(_) =>
        val img = Pipelines.imagesInBbox(in.images, cfg)
        val ranked = Pipelines.expandLampsRanked(in.nodes, cfg)
        val (trainLamps, validLamps) = Pipelines.expandLampSplit(ranked, cfg)
        val negDf = Pipelines.expandNegCells(spark, ranked, in.nodes, in.ways, cfg)
        val neg = span(t, "pipeline.expand_neg_cells")(checkpoint(negDf))
        layer("pipeline.negative_cells.grid_per_pick") =
          PlanRows.antiJoinProbeRows(negDf.queryExecution.executedPlan).toDouble / neg.count()
        var slots = 0L
        val countSlots = (p: SparkPlan) => slots += PlanRows.imageJoinRows(p)
        val parts = Seq(
          span(t, "pipeline.expand_train_pos") {
            Digest.examples("train_pos", Pipelines.expandTrainPos(trainLamps, img, cfg), countSlots) },
          span(t, "pipeline.expand_train_neg") {
            Digest.examples("train_neg", Pipelines.expandTrainNeg(neg, img, cfg), countSlots) },
          span(t, "pipeline.expand_valid") {
            Digest.examples("valid", Pipelines.expandValidPos(validLamps, img, cfg)
              .unionByName(Pipelines.expandValidNeg(neg, img, cfg))) })
        layer("pipeline.crop.decodes_per_tile") = slots.toDouble / math.max(1, distinctTiles(trainLamps, neg))
        Part("expanded_crops", parts.flatMap(_.hashes).toArray, parts.flatMap(_.ids).toArray,
          parts.map(_.payloadBytes).sum)
    }
    val roofs = span(t, "pipeline.roof_shapes") {
      Digest.examples("roof_shapes", Pipelines.roofShapes(spark, in.nodes, in.ways, in.images, cfg))
    }
    IterOut(Seq(crops, roofs), crops.rows + roofs.rows)
  }

  /** Distinct tiles under the train crops' viewports: a property of the
    * input, the decodes a crop builder needs at the least. */
  private def distinctTiles(trainLamps: DataFrame, neg: DataFrame): Int = {
    val h = cfg.expandPad * 2 + Pipelines.TileSize
    val pts = trainLamps.select(col("lat"), col("lng")).collect().map(r => (r.getDouble(0), r.getDouble(1))) ++
      neg.where(col("split") === "train").select(graft.functions.GeoF.cellCenter(col("cell_id")).as("c"))
        .select(col("c.lat"), col("c.lng")).collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val slots = pts.toSeq.flatMap { case (lat, lng) =>
      val (x0, x1, y0, y1, _, _) = graft.core.Viewport.tilesNearWgs(lat, lng, cfg.z, h, h, cfg.offX, cfg.offY)
      for (ty <- y0 to y1; tx <- x0 to x1) yield (tx, ty)
    }
    slots.distinct.size
  }

  def oracle(out: IterOut): Seq[String] =
    Oracle.compare(out.parts(0), Oracle.expandedCrops(vectors, cfg)) ++
      Oracle.compare(out.parts(1), Oracle.roofShapes(vectors, cfg))

  def traceProbe(spark: SparkSession, t: Tracer): Seq[String] = QueryProbe.run(spark, this, t)

  def planFrames(spark: SparkSession): Seq[() => DataFrame] = Seq(
    () => Pipelines.expandedCrops(spark, in.nodes, in.ways, in.images, cfg),
    () => Pipelines.roofShapes(spark, in.nodes, in.ways, in.images, cfg))
}

/** The table layer's write path, run once in lamp_tiles' traced run: the
  * staged form of the lamp_tiles plan commits its stages, the labeled sink,
  * the folder tree and the tar are written, then the committed graph is
  * resumed. Returns the oracle's mismatches of the resumed output. */
object StagedExport {
  val Stages = Seq("lamps_sample", "painted_cells", "negative_cells", "labeled")

  def run(spark: SparkSession, w: Workload, t: Tracer, root: Path): Seq[String] = {
    val stageDir = root.resolve("stages").toString
    Fs.rmTree(root)
    val (in, cfg) = (w.in, w.cfg)
    val labeled = t.span("tables.staged_run") {
      StagedOriginalTiles.run(spark, in.nodes, in.ways, in.images, cfg, stageDir)
    }
    t.span("tables.sink_table") { Sinks.writeLabeledTable(labeled, root.resolve("table").toString) }
    t.span("tables.sink_tree") { Sinks.writeFolderTree(labeled, root.resolve("tree").toString) }
    t.span("tables.tar") {
      Sinks.tarDirectory(root.resolve("tree").toString, root.resolve("export.tar").toString)
    }
    val resumed = t.span("tables.stage_resolve") {
      StagedOriginalTiles.run(spark, in.nodes, in.ways, in.images, cfg, stageDir)
    }
    val out = Digest.examples("staged_labeled", resumed)
    val sink = Digest.examples("sink_table", spark.read.parquet(root.resolve("table").toString))
    Seq(out, sink).foreach(p => w.probeDigests(p.name) = p.digest.toString)

    val runner = new StageRunner(spark, stageDir)
    for (s <- Stages; m <- runner.manifestObj(s))
      w.layer(s"tables.stage_commit_s.$s") = m.wall_ms / 1000.0
    val walk = Files.walk(root)
    val sizes = try walk.filter(Files.isRegularFile(_)).toArray.map(p => Files.size(p.asInstanceOf[Path]))
      finally walk.close()
    w.layer("tables.files_written") = sizes.length
    w.layer("tables.bytes_written_mb") = sizes.sum / 1e6
    w.layer("tables.stored_bytes_per_output_byte") = sizes.sum.toDouble / math.max(1L, out.payloadBytes)
    Fs.rmTree(root)
    val pins = Pins.lookup(w.ctx.pins, "staged_export", w.ctx.scale.name, w.ctx.seed.toString)
    val expected = Oracle.originalTiles(w.vectors, cfg)
    Oracle.compare(out, expected) ++ Oracle.compare(sink, expected) ++
      Seq(out, sink).flatMap(p => pins.get(p.name).filter(_ != p.digest.toString)
        .map(want => s"${p.name}: digest ${p.digest} != pinned $want"))
  }
}

/** The seven SparkEntry contract queries ranked next for optimisation,
  * over a copy of the fixed-seed sf0.1 tables they read (documents, events,
  * orders), run in crop_mosaics' traced run: one untraced pass warms them,
  * a traced pass gives query.<name>.*. Each result is consumed in full;
  * both passes must equal the pinned digest. Returns the mismatches. */
object QueryProbe {
  val Names = Seq("q_dedup_incremental", "q_dedup_ngram", "q_dedup_resolve", "q_geo_transitions",
    "q_graph_khop", "q_sketch_theta", "q_text_keywords")
  val DataName = "sf0.1"

  def run(spark: SparkSession, w: Workload, t: Tracer): Seq[String] = {
    val ctx = w.ctx
    val dir = ctx.queryData
    val pins = Pins.lookup(ctx.pins, "queries", DataName)
    def pass(traced: Boolean): Seq[Part] = Names.map { n =>
      val p = try {
        if (traced) t.span(s"query.$n")(Digest.rows(n, graft.SparkEntry.queries(n)(spark, dir)))
        else Digest.rows(n, graft.SparkEntry.queries(n)(spark, dir))
      } catch { case e: Exception => Part(n, Array.empty, Array.empty, 0L, Some(Main.message(e))) }
      spark.catalog.clearCache()
      p
    }
    val warm = pass(traced = false)
    val hot = pass(traced = true)
    warm.foreach(p => w.probeDigests(p.name) = p.digest.toString)
    warm.zip(hot).flatMap { case (a, b) =>
      val want = pins.getOrElse(a.name, a.digest.toString)
      (a.error ++ b.error).map(e => s"${a.name}: $e").toSeq ++
        Seq(a, b).filter(p => p.error.isEmpty && p.digest.toString != want)
          .map(p => s"${p.name}: digest ${p.digest} != expected $want")
    }
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lamp_tiles" => new LampTiles(ctx, Worlds.lampWorld(ctx.scale, ctx.seed))
    case "crop_mosaics" => new CropMosaics(ctx, Worlds.cropWorld(ctx.scale, ctx.seed))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
