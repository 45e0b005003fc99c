package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Knob audit: the engine reads a pinned set of `graft.*`, `GRAFT_*` and
  * `SPARK_GRAFT_*` names from system properties and the environment, so a
  * tuning knob cannot come back unannounced; and the streaming harness's
  * state-partition constant stays scoped to the stream it runs. */
class KnobAuditSpec extends AnyFunSuite {
  private val Read = """(?:sys\.(?:props|env)(?:\.\w+)?|System\.get(?:Property|env))\s*\(\s*("?)([^",)\s]*)""".r
  private val Knob = """(?:graft\.|GRAFT_|SPARK_GRAFT_)[\w.]*""".r

  /** The driver contract's environment: Bench and Verify stay frozen. */
  private val Driver = Map(
    "graft/Bench.scala" -> Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_WORLD",
      "SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXEC_CLASSPATH", "SPARK_GRAFT_EVENTLOG",
      "SPARK_GRAFT_PIPELINE_ONLY"),
    "graft/Verify.scala" -> Set("SPARK_GRAFT_CPUS"))
  private val Engine =
    Set("graft.textStagesDir", "graft.annStagesDir", "SPARK_GRAFT_CPUS")

  test("src/main reads only the pinned graft.*, GRAFT_* and SPARK_GRAFT_* names") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val reads = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      Read.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).map(m => (rel, m))
    }
    val unnamed = reads.collect { case (f, m) if m.group(1).isEmpty => s"$f: ${m.matched}" }
    assert(unnamed.isEmpty, "every property/env read must name its key literally")
    val knobs = reads.collect { case (f, m) if Knob.pattern.matcher(m.group(2)).matches =>
      f -> m.group(2) }
    val byFile = knobs.groupMap(_._1)(_._2).map { case (f, ns) => f -> ns.toSet }
    for ((f, names) <- Driver) assert(byFile.getOrElse(f, Set.empty) == names, f)
    val engine = knobs.filterNot { case (f, _) => Driver.contains(f) }.map(_._2).toSet
    assert(engine == Engine)
  }

  test("a q_stream_* query leaves spark.sql.shuffle.partitions as it found it") {
    val spark = SparkSuite.spark
    import spark.implicits._
    // one single-file events table: the streaming harness watches the file
    val dir = Files.createTempDirectory("graft_knob_stream")
    val tmp = Files.createTempDirectory("graft_knob_events")
    Seq((1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:10:00"), 1.25),
      (2L, "view", java.sql.Timestamp.valueOf("2026-01-01 01:20:00"), 2.5))
      .toDF("user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get finally listing.close()
    Files.move(part, dir.resolve("events.parquet"))

    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      assert(SparkEntry.queries("q_stream_window")(spark, dir.toString).count() == 2)
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.set(key, prev)
    Seq(tmp, dir).foreach((p: Path) => tables.StageRunner.rmTree(p))
  }
}
