package osmbench

import graft.core.Splitmix
import graft.pipeline.Pipelines
import graft.tables.{ImagesTable, SyntheticWorld, World}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

/** Input sizes of one benchmark scale. `full` is what the benchmark
  * measures; `tiny` is the self-test's world, small enough to run every
  * workload in seconds. */
final case class Scale(name: String, corpusSide: Int, bboxSide: Int, cropSide: Int, lampLimit: Int)

object Scale {
  val Full = Scale("full", corpusSide = 256, bboxSide = 128, cropSide = 48, lampLimit = 512)
  val Tiny = Scale("tiny", corpusSide = 32, bboxSide = 16, cropSide = 12, lampLimit = 8)
  def byName(s: String): Scale = s match {
    case "full" => Full
    case "tiny" => Tiny
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

/** The generated world of one run: the images corpus (fixed pixels, shared
  * by every seed) plus the seed's vector tables. The engine sees only the
  * parquet tables written here. */
final case class GeoInputs(exclusionWkt: String, images: DataFrame, nodes: DataFrame,
                           ways: DataFrame, corpusDir: String)

object Worlds {
  val Z = 18
  val Tx0 = 151000L
  val Ty0 = 84350L
  /** Tile pixels are seeded by this constant, not by the run seed: the
    * corpus is generated once per checkout and every seed reads it. */
  val CorpusSeed = 42L

  def corpus(s: Scale): World =
    World(Z, Tx0, Ty0, s.corpusSide, s.corpusSide, lamps = 0, roads = 0, buildings = 0,
      seed = CorpusSeed)

  /** lamp_tiles / staged_export: the centre quadrant of the corpus, lamps
    * about one per 16 tiles, so the bbox grid is ~32x the picks. */
  def lampWorld(s: Scale, seed: Long): World = {
    val side = s.bboxSide
    val off = (s.corpusSide - side) / 2
    World(Z, Tx0 + off, Ty0 + off, side, side, lamps = side * side / 16,
      roads = side / 4, buildings = side / 2, seed = seed, hotCellSkew = 0.2)
  }

  /** crop_mosaics: a smaller block with Bench's lamp density (one per four
    * tiles) so neighbouring viewports share tiles. */
  def cropWorld(s: Scale, seed: Long): World = {
    val side = s.cropSide
    val off = (s.corpusSide - side) / 2
    World(Z, Tx0 + off, Ty0 + off, side, side, lamps = side * side / 4,
      roads = side / 4, buildings = side, seed = seed, hotCellSkew = 0.2)
  }

  def lampConfig(s: Scale, w: World): Pipelines.Config = {
    val (bw, bs, be, bn) = w.bbox
    Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn), limit = s.lampLimit)
  }

  /** Pad 88 = 432 px crops over mosaics of up to 3x3 tiles. */
  def cropConfig(w: World): Pipelines.Config = {
    val (bw, bs, be, bn) = w.bbox
    Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn), limit = w.lamps / 2,
      train = w.lamps / 6, valid = w.lamps / 16, expandPad = 88)
  }

  /** An exclusion square over a seed-chosen block of the bbox. */
  def exclusionWkt(w: World): String = {
    val h = Splitmix.mix(w.seed ^ 0x5EEDL)
    val side = math.max(2, w.gridW / 8)
    val x0 = w.tx0 + 1 + math.floorMod(h, (w.gridW - side - 2).toLong)
    val y0 = w.ty0 + 1 + math.floorMod(Splitmix.mix(h), (w.gridH - side - 2).toLong)
    val (lat0, lng0) = SyntheticWorld.wgsAtPixel(w.z, x0, y0, 0, 0)
    val (lat1, lng1) = SyntheticWorld.wgsAtPixel(w.z, x0 + side - 1, y0 + side - 1, 255, 255)
    s"POLYGON (($lng0 $lat0, $lng1 $lat0, $lng1 $lat1, $lng0 $lat1, $lng0 $lat0))"
  }

  /** Runs `write(tmp)` unless `dir` is already complete; the rename makes a
    * half-written cache entry invisible. Returns seconds spent generating. */
  def cached(dir: String)(write: String => Unit): Double = {
    val done = Paths.get(dir, "_DONE")
    if (Files.exists(done)) return 0.0
    val t0 = System.nanoTime()
    val tmp = s"$dir.tmp"
    Fs.rmTree(Paths.get(tmp))
    Fs.rmTree(Paths.get(dir))
    write(tmp)
    Files.createDirectories(Paths.get(tmp))
    Files.write(Paths.get(tmp, "_DONE"), Array.emptyByteArray)
    Files.move(Paths.get(tmp), Paths.get(dir))
    (System.nanoTime() - t0) / 1e9
  }

  /** Generates (once per checkout) and opens the geo inputs of a workload.
    * Returns the inputs and the seconds spent generating, which set-up
    * time excludes. */
  def openGeo(spark: SparkSession, cache: String, s: Scale, w: World): (GeoInputs, Double) = {
    val cw = corpus(s)
    val corpusDir = s"$cache/corpus_${s.name}_${cw.gridW}x${cw.gridH}"
    val g1 = cached(corpusDir) { tmp =>
      ImagesTable.writeBucketed(spark, SyntheticWorld.images(spark, cw), tmp)
    }
    val vecDir = s"$cache/vectors_${s.name}_x${w.tx0}y${w.ty0}_${w.gridW}x${w.gridH}" +
      s"_l${w.lamps}r${w.roads}b${w.buildings}_s${w.seed}"
    val g2 = cached(vecDir) { tmp =>
      SyntheticWorld.osmNodes(spark, w).write.parquet(s"$tmp/osm_nodes.parquet")
      SyntheticWorld.osmWays(spark, w).write.parquet(s"$tmp/osm_ways.parquet")
    }
    val in = GeoInputs(exclusionWkt(w),
      images = ImagesTable.read(spark, corpusDir),
      nodes = spark.read.parquet(s"$vecDir/osm_nodes.parquet"),
      ways = spark.read.parquet(s"$vecDir/osm_ways.parquet"),
      corpusDir = corpusDir)
    (in, g1 + g2)
  }
}

/** Recursive delete of a benchmark-owned directory. */
object Fs {
  def rmTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
