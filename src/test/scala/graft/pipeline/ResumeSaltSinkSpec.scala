package graft.pipeline

import graft.SparkSuite
import graft.tables.{Sinks, StageRunner, SyntheticWorld}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** North-rule items: checkpoint-resume with per-partition lineage/metrics,
  * explicit hot-cell salting, labeled sinks + deterministic tar. */
class ResumeSaltSinkSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  val w = SyntheticWorld.testWorld
  lazy val nodes = SyntheticWorld.osmNodes(spark, w).cache()
  lazy val ways = SyntheticWorld.osmWays(spark, w).cache()
  lazy val images = SyntheticWorld.images(spark, w).cache()
  val (bw, bs, be, bn) = w.bbox
  val cfg = Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn), limit = 40, train = 30, valid = 10)

  test("staged pipeline: atomic manifests, lineage, per-partition metrics, resume skips work") {
    val dir = Files.createTempDirectory("graft_stages").toString
    val out1 = StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir)
      .select($"example_id", $"label").orderBy($"example_id", $"label").collect().toSeq

    val runner = new StageRunner(spark, dir)
    for (st <- Seq("lamps_sample", "painted_cells", "negative_cells", "labeled")) {
      assert(runner.isCommitted(st), s"$st committed")
      val m = runner.manifest(st).get
      assert(m.contains("\"rows\":") && m.contains("\"partitions\":[{\"pid\""), s"$st metrics")
    }
    assert(runner.manifest("labeled").get.contains("negative_cells"), "lineage recorded")
    assert(runner.rowCount("negative_cells").contains(cfg.limit.toLong))

    // resume: stamp manifests, rerun, assert nothing recomputed + same output
    val stamps = Seq("lamps_sample", "painted_cells", "negative_cells", "labeled")
      .map(s => s -> Files.getLastModifiedTime(runner.manifestPath(s))).toMap
    val out2 = StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir)
      .select($"example_id", $"label").orderBy($"example_id", $"label").collect().toSeq
    assert(out2 == out1, "resume output identical")
    for ((s, t) <- stamps)
      assert(Files.getLastModifiedTime(runner.manifestPath(s)) == t, s"$s not recomputed")

    // partial resume: drop the last stage only; earlier stages stay, final recomputes
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/labeled")).deleteRecursively()
    val out3 = StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir)
      .select($"example_id", $"label").orderBy($"example_id", $"label").collect().toSeq
    assert(out3 == out1, "recovered output identical after losing the final stage")
    assert(Files.getLastModifiedTime(runner.manifestPath("lamps_sample")) == stamps("lamps_sample"))
  }

  test("snapshot ids: touching an upstream stage recomputes exactly its downstream cone") {
    val dir = Files.createTempDirectory("graft_snap").toString
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"example_id", $"label").orderBy($"example_id", $"label").collect().toSeq
    val out1 = ids(StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir))
    val runner = new StageRunner(spark, dir)
    val all = Seq("lamps_sample", "painted_cells", "negative_cells", "labeled")
    val s0 = all.map(s => s -> runner.snapshotId(s).get).toMap
    assert(s0.values.forall(_ == 1L), s"first commits are snapshot 1: $s0")

    // touch painted_cells: its manifest drops, the next run recommits it at
    // snapshot 2 — negative_cells and labeled see a stale input ref and
    // recompute; lamps_sample is untouched and must not
    runner.invalidate("painted_cells")
    val out2 = ids(StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir))
    assert(out2 == out1, "recomputed cone reproduces identical output")
    assert(runner.snapshotId("painted_cells").contains(2L), "touched stage advanced")
    assert(runner.snapshotId("negative_cells").contains(2L), "downstream recomputed")
    assert(runner.snapshotId("labeled").contains(2L), "downstream recomputed")
    assert(runner.snapshotId("lamps_sample").contains(1L), "untouched chain skipped")
    // lineage records the input snapshots actually read
    val m = runner.manifestObj("labeled").get
    assert(m.inputs.toSet == Set(graft.tables.InputRef("lamps_sample", 1L),
      graft.tables.InputRef("negative_cells", 2L)))

    // a further no-op rerun recomputes nothing
    val stamps = all.map(s => s -> Files.getLastModifiedTime(runner.manifestPath(s))).toMap
    ids(StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir))
    for ((s, t) <- stamps)
      assert(Files.getLastModifiedTime(runner.manifestPath(s)) == t, s"$s recomputed on no-op rerun")

    // time travel: both retained snapshots of the touched stage serve, and
    // the deterministic recompute makes them row-identical
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell_id").as[Long].collect().sorted.toSeq
    assert(cells(runner.readAsOf("painted_cells", 1L)) ==
           cells(runner.readAsOf("painted_cells", 2L)), "AS OF 1 == AS OF 2")
    intercept[IllegalArgumentException](runner.readAsOf("painted_cells", 99L))

    // retention: a third commit expires snapshot 1 (keepSnapshots = 2)
    runner.invalidate("painted_cells")
    ids(StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir))
    assert(runner.snapshotId("painted_cells").contains(3L))
    assert(cells(runner.readAsOf("painted_cells", 3L)) ==
           cells(runner.readAsOf("painted_cells", 2L)))
    intercept[IllegalArgumentException](runner.readAsOf("painted_cells", 1L))

    // a crash-orphan data dir (no immutable version manifest) must never
    // serve as a snapshot, even though the directory exists
    Files.createDirectories(Paths.get(s"$dir/painted_cells/data_v99"))
    Files.createDirectories(Paths.get(s"$dir/painted_cells/data_v1"))
    intercept[IllegalArgumentException](runner.readAsOf("painted_cells", 99L))
    intercept[IllegalArgumentException](runner.readAsOf("painted_cells", 1L))
    // ...the next commit reaps STALE orphans (id fell keepSnapshots behind)
    // but grants recent ids the in-flight grace window
    runner.invalidate("painted_cells")
    ids(StagedOriginalTiles.run(spark, nodes, ways, images, cfg, dir))
    assert(runner.snapshotId("painted_cells").contains(4L))
    assert(!Files.exists(Paths.get(s"$dir/painted_cells/data_v1")), "stale orphan reaped")
    assert(Files.exists(Paths.get(s"$dir/painted_cells/data_v99")),
      "recent orphan kept (in-flight writer grace window)")
    intercept[IllegalArgumentException](runner.readAsOf("painted_cells", 99L))
  }

  test("staged expand == expandedCrops; losing a crop stage recomputes only it") {
    val dir = Files.createTempDirectory("graft_stages_exp").toString
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"example_id", $"label", $"split")
        .orderBy($"example_id", $"label", $"split").collect().toSeq
    val direct = ids(Pipelines.expandedCrops(spark, nodes, ways, images, cfg))
    val staged1 = ids(StagedExpand.run(spark, nodes, ways, images, cfg, dir))
    assert(staged1 == direct, "staged graph output == direct pipeline")

    val runner = new StageRunner(spark, dir)
    assert(runner.manifest("labeled").get.contains("train_pos_crops"), "lineage recorded")
    val lampStamp = Files.getLastModifiedTime(runner.manifestPath("lamps_ranked"))
    // lose the heavy train-crop stage + the final union; resume recomputes
    // only those — the ranked lamps snapshot is untouched
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/train_pos_crops")).deleteRecursively()
    new Directory(new java.io.File(s"$dir/labeled")).deleteRecursively()
    val staged2 = ids(StagedExpand.run(spark, nodes, ways, images, cfg, dir))
    assert(staged2 == direct, "recovered output identical")
    assert(Files.getLastModifiedTime(runner.manifestPath("lamps_ranked")) == lampStamp)
  }

  test("a manifest without data_dir or schema_json reads as uncommitted; the stage recomputes") {
    val dir = Files.createTempDirectory("graft_unreadable").toString
    val runner = new StageRunner(spark, dir)
    var runs = 0
    def compute = { runs += 1; Seq((runs.toLong, "v")).toDF("id", "v") }
    runner.stage("s")(compute)
    runner.stage("s")(compute)
    assert(runs == 1, "an intact manifest is served, not recomputed")
    val mapper = graft.tables.ManifestJson.mapper
    for ((field, i) <- Seq("data_dir", "schema_json").zipWithIndex) {
      val m = mapper.readTree(Files.readAllBytes(runner.manifestPath("s")))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      m.remove(field)
      Files.write(runner.manifestPath("s"), mapper.writeValueAsBytes(m))
      assert(runner.manifestObj("s").isEmpty, s"a manifest without $field is not committed")
      val out = runner.stage("s")(compute).as[(Long, String)].collect().toSeq
      assert(runs == i + 2 && out == Seq((runs.toLong, "v")), s"missing $field recomputes")
      assert(runner.manifestObj("s").exists(_.snapshot_id == i + 2L))
    }
  }

  test("salted hot-cell join == plain join, row for row") {
    val skewed = SyntheticWorld.testWorld.copy(lamps = 400, hotCellSkew = 0.5, seed = 7L)
    val pts = SyntheticWorld.osmNodes(spark, skewed)
      .where($"tags".getItem("highway") === "street_lamp")
      .withColumn("cell_id", graft.functions.GeoF.cellAtWgs($"lat", $"lng", skewed.z))
    val imgs = SyntheticWorld.images(spark, skewed).select($"cell_id", $"image_id")

    val hot = SaltedJoin.detectHotCells(pts, threshold = 4.0)
    assert(hot.nonEmpty, "skewed world has detectable hot cells")

    val plain = pts.join(imgs, "cell_id").select($"node_id", $"image_id")
      .as[(Long, String)].collect().sorted.toSeq
    val salted = SaltedJoin.joinOnCell(pts, imgs, hot, saltFactor = 8)
      .select($"node_id", $"image_id").as[(Long, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("labeled sink: partitioned table + reference folder layout + valid tar") {
    val out = Pipelines.originalTiles(spark, nodes, ways, images, cfg)
    val base = Files.createTempDirectory("graft_sink").toString

    Sinks.writeLabeledTable(out, s"$base/table")
    val back = spark.read.parquet(s"$base/table")
    assert(back.count() == out.count())
    assert(Files.list(Paths.get(s"$base/table")).toArray.map(_.toString)
      .exists(_.contains("label=lamp")), "partitioned by label")

    Sinks.writeFolderTree(out.limit(12), s"$base/tree/lamps-orig")
    val jpgs = Files.walk(Paths.get(s"$base/tree")).toArray.map(_.toString)
      .filter(p => p.endsWith(".jpg") || p.endsWith(".png"))
    assert(jpgs.length == 12)
    assert(jpgs.forall(p => p.contains("/lamp/") || p.contains("/nolamp/")))

    Sinks.tarDirectory(s"$base/tree/lamps-orig", s"$base/lamps-orig.tar")
    // validate with system tar (the consumer the reference targets)
    import scala.sys.process._
    val listing = Seq("tar", "tf", s"$base/lamps-orig.tar").!!.trim.split("\n")
    assert(listing.length == 12, s"tar entries: ${listing.length}")
    assert(listing.forall(_.startsWith("lamps-orig/")))
    // deterministic: same input -> byte-identical archive
    Sinks.tarDirectory(s"$base/tree/lamps-orig", s"$base/again.tar")
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(s"$base/lamps-orig.tar")),
      Files.readAllBytes(Paths.get(s"$base/again.tar"))))
  }
}
