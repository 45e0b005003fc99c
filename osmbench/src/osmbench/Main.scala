package osmbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Names and units of the per-layer metrics of a traced run. */
object Metrics {
  val Ops = Seq("lamp_sample", "ways_packed", "painted_cells", "negative_cells", "original_tiles",
    "buildings", "expand_neg_cells", "expand_train_pos", "expand_train_neg", "expand_valid",
    "roof_shapes")
  val OpFields = Seq("s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "task_skew" -> "ratio")
  val QueryFields = Seq("s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB")
  val TableSpans = Seq("sink_table", "sink_tree", "tar", "stage_resolve")

  val PerLayer: Seq[(String, String)] =
    Seq("core.decode_us" -> "us", "core.blit_us" -> "us", "core.crop_us" -> "us",
      "core.encode_us" -> "us", "core.viewport_ns" -> "ns", "core.cell_at_wgs_ns" -> "ns",
      "core.polyline_us_per_road" -> "us", "core.fill_poly_us" -> "us",
      "functions.cell_at_wgs_rows_per_s" -> "1/s", "functions.rasterize_polyline_cells_per_s" -> "1/s",
      "functions.viewport_rows_per_s" -> "1/s", "functions.stitch_tiles_per_s" -> "1/s",
      "plans.plan_ms" -> "ms") ++
    Ops.flatMap(op => OpFields.map { case (f, u) => s"pipeline.$op.$f" -> u }) ++
    Seq("pipeline.negative_cells.grid_per_pick" -> "ratio", "pipeline.crop.decodes_per_tile" -> "ratio",
      "tables.scan_files_read" -> "count", "tables.scan_files_total" -> "count") ++
    StagedExport.Stages.map(s => s"tables.stage_commit_s.$s" -> "s") ++
    TableSpans.map(s => s"tables.${s}_s" -> "s") ++
    Seq("tables.files_written" -> "count", "tables.bytes_written_mb" -> "MB",
      "tables.stored_bytes_per_output_byte" -> "ratio") ++
    QueryProbe.Names.flatMap(q =>
      QueryFields.map { case (f, u) => s"query.$q.$f" -> u }) ++
    Seq("trace.overhead_s" -> "s")
}

/**
 * One benchmark run: set up (from process start: the JVM, the Spark
 * context and session, the rules, opening the world tables and the warm-up
 * iterations; that time minus world generation is `setup_s`), check the
 * first warm-up output against the oracle and the pinned hashes, then
 * run the workload as a closed loop for the given seconds, checking every
 * iteration's output. A traced run (`--trace 1`) records spans and
 * listener counts and reports the per-layer metrics instead.
 */
object Main {
  /** Untimed iterations before the loop; the JIT is still warming after one. */
  val WarmupIters = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, scale: Scale,
                        corrupt: Boolean, cache: String, scratch: String, result: String,
                        traceOut: String, pins: String, queryData: String, t0Ms: Long, commit: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Scale.byName(m("scale")), m("corrupt") == "1", m("cache"), m("scratch"),
      m("result"), m("trace-out"), m("pins"), m("query-data"), m("t0-ms").toLong, m("commit"))
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(4).mkString(" | ")}"

  /** Knobs that change what the engine does; a benchmark run with any of
    * them set would not measure the default configuration. */
  def setKnobs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    sys.env.keys.filter(k => k.startsWith("SPARK_GRAFT_") || k.startsWith("GRAFT_")).toSeq ++
      System.getProperties.stringPropertyNames().asScala.filter(_.startsWith("graft.")).toSeq
  }

  /** Bench's session conf, key for key, on local[cores]; the optimizer rules
    * are registered only when absent. */
  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "32k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    withRules(spark)
  }

  def withRules(spark: SparkSession): SparkSession = {
    val rules = Seq(graft.plans.PipBboxPushdown, graft.plans.CellCoverPushdown)
    val have = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = have ++ rules.filterNot(have.contains)
    spark
  }

  /** Heap still in use after a full collection: state the run keeps, such
    * as a cache of decoded tiles. */
  def retainedHeapMb: Double = {
    // the second collection reclaims what the context cleaner released
    // after the first (broadcasts and shuffles of finished iterations)
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** The JVM's peak resident memory (VmHWM). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val knobs = setKnobs
    if (knobs.nonEmpty) {
      System.err.println(s"refusing to run: engine knobs are set: ${knobs.mkString(", ")}")
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(a.scale, a.seed, a.cache, a.scratch, a.pins, a.queryData)
    val wl = Workloads(a.workload, ctx)
    val localDir = s"${a.scratch}/spark-local"

    // ---- set-up, timed from process start; world generation excluded ----
    def since(ms: Long) = (System.currentTimeMillis() - ms) / 1000.0
    val sessionMs = System.currentTimeMillis()
    val spark = session(cores, localDir)
    val openMs = System.currentTimeMillis()
    val generated = wl.open(spark)
    val warmMs = System.currentTimeMillis()
    val warm = wl.iterate(spark, None)
    spark.catalog.clearCache()
    val warmDigests = Seq.fill(WarmupIters - 1) {
      val out = wl.iterate(spark, None)
      spark.catalog.clearCache()
      out.parts.map(p => p.name -> p.digest)
    }
    val setupS = since(a.t0Ms) - generated
    val setupParts = Map("process_start_s" -> (sessionMs - a.t0Ms) / 1000.0,
      "session_s" -> (openMs - sessionMs) / 1000.0, "open_s" -> ((warmMs - openMs) / 1000.0 - generated),
      "warmup_s" -> since(warmMs))

    // ---- the reference each iteration is checked against ----
    val setupErrors = mutable.ArrayBuffer.empty[String]
    setupErrors ++= warm.parts.flatMap(p => p.error.map(e => s"${p.name} failed at set-up: $e"))
    setupErrors ++= warmDigests.filter(_ != warm.parts.map(p => p.name -> p.digest))
      .map(d => s"warm-up outputs differ: $d")
    setupErrors ++= (Try(wl.oracle(warm)) match {
      case Success(errs) => errs.map(e => s"oracle: $e")
      case Failure(e) => Seq(s"oracle threw: ${message(e)}")
    })
    val pinned = Pins.lookup(a.pins, a.workload, a.scale.name, a.seed.toString)
    for ((part, want) <- pinned; got <- warm.parts.find(_.name == part) if got.error.isEmpty
         if got.digest.toString != want)
      setupErrors += s"pin: $part digest ${got.digest} != pinned $want"
    val expected: Map[String, String] = warm.parts.filter(_.error.isEmpty)
      .map(p => p.name -> pinned.getOrElse(p.name, p.digest.toString)).toMap

    // ---- closed loops ----
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var iteration = 0
    def loop(seconds: Double, minIters: Int, tracer: Option[Tracer]): Seq[(Double, Long)] = {
      val readings = mutable.ArrayBuffer.empty[(Double, Long)]
      val start = System.nanoTime()
      var n = 0
      while (n < minIters || (System.nanoTime() - start) / 1e9 < seconds) {
        spark.catalog.clearCache()
        tracer.foreach(_.run = iteration)
        val t0 = System.nanoTime()
        val res = Try(wl.iterate(spark, tracer))
        val sec = (System.nanoTime() - t0) / 1e9
        res match {
          case Failure(e) =>
            attempted += 1; failed += 1
            failures += s"iteration $iteration: ${message(e)}"
          case Success(out0) =>
            val out = if (a.corrupt && n == 1) out0.copy(parts = Digest.dropOneRow(out0.parts.head) +: out0.parts.tail)
                      else out0
            val bad = out.parts.flatMap { p =>
              p.error.map(e => s"${p.name}: $e").orElse(expected.get(p.name) match {
                case None => Some(s"${p.name}: no reference output (failed at set-up)")
                case Some(want) if want != p.digest.toString =>
                  Some(s"${p.name}: digest ${p.digest} != expected $want (${p.rows} rows)")
                case _ => None
              })
            }
            attempted += 1
            if (bad.nonEmpty) failed += 1
            failures ++= bad.map(b => s"iteration $iteration: $b")
            if (bad.isEmpty && setupErrors.isEmpty) readings += ((sec, out.items))
        }
        iteration += 1
        n += 1
      }
      readings.toSeq
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    def wallOf(r: Seq[(Double, Long)]) = if (r.isEmpty) 0.0 else Stats.median(r.map(_._1))

    if (!a.trace) {
      // read after the fixed work of the set-up: Spark keeps bookkeeping for
      // every query it ran, so a reading after the loop would grow with the
      // number of iterations, that is with speed
      val retained = retainedHeapMb
      val readings = loop(a.seconds, 2, None)
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wallOf(readings), "s")
      metrics("items_per_s") =
        (if (readings.isEmpty) 0.0 else Stats.median(readings.map(r => r._2 / r._1)), "1/s")
      metrics("retained_heap_mb") = (retained, "MB")
      info("peak_rss_mb") = peakRssMb
      info("wall_s_samples") = readings.map(_._1)
      info("wall_s_n") = readings.size
      // the highest percentile with at least ten readings beyond it
      if (readings.size >= 20) {
        val p = 1.0 - 10.0 / readings.size
        val s = readings.map(_._1).sorted
        info(f"wall_s_p${p * 100}%.0f") = s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
      }
      info("items_per_iteration") = readings.headOption.map(_._2).getOrElse(0L)
    } else {
      val untraced = loop(a.seconds / 2, 1, None)
      val tracer = new Tracer(spark.sparkContext)
      val origin = System.nanoTime()
      val traced = loop(a.seconds / 2, 1, Some(tracer))
      val probeBad = Try(wl.traceProbe(spark, tracer)) match {
        case Success(bad) => bad
        case Failure(e) => Seq(message(e))
      }
      attempted += 1
      if (probeBad.nonEmpty) failed += 1
      failures ++= probeBad.map(b => s"trace probe: $b")
      val (layers, unmeasured) = layerMetrics(spark, wl, tracer, cores)
      metrics ++= layers
      info("unmeasured") = unmeasured
      metrics("trace.overhead_s") = (wallOf(traced) - wallOf(untraced), "s")
      tracer.writeJsonl(java.nio.file.Paths.get(a.traceOut), origin)
      tracer.close()
      info("untraced_wall_s") = wallOf(untraced)
      info("traced_wall_s") = wallOf(traced)
      info("spans") = tracer.spans.size
      info("probe_digests") = wl.probeDigests.toMap
      info("trace_file") = a.traceOut
    }
    info("setup_parts") = setupParts
    info("generated_s") = generated
    info("failed_frac") = if (attempted == 0) 0.0 else failed.toDouble / attempted
    info("digests") = warm.parts.map(p => p.name -> p.digest.toString).toMap
    info("rows") = warm.parts.map(p => p.name -> p.rows).toMap
    info("pinned") = pinned.nonEmpty
    info("setup_errors") = setupErrors.toSeq
    info("failures") = failures.take(20).toSeq
    info("env") = Map(
      "nproc" -> cores, "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "commit" -> a.commit, "seed" -> a.seed, "scale" -> a.scale.name,
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap, "params" -> wl.params)
    spark.stop()

    val correct = setupErrors.isEmpty && failed == 0
    val result = Json.obj(
      "correct" -> correct, "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> info.toMap)
    java.nio.file.Files.write(java.nio.file.Paths.get(a.result), result.getBytes("UTF-8"))
  }

  /** Per-layer metrics of a traced run: span medians over the traced
    * iterations, the workload's own counts, and the probes. Every declared
    * metric is returned; the names nothing in this run measured read 0
    * and are listed as the second result. */
  def layerMetrics(spark: SparkSession, wl: Workload, tracer: Tracer,
                   cores: Int): (Seq[(String, (Double, String))], Seq[String]) = {
    val byName = tracer.spans.groupBy(_.name)
    def spanned(name: String)(fields: (String, Span => Double)*): Seq[(String, Double)] =
      byName.get(name).toSeq.flatMap(ss =>
        fields.map { case (f, v) => s"$name.$f" -> Stats.median(ss.map(v).toSeq) })
    val ops = Metrics.Ops.flatMap(op => spanned(s"pipeline.$op")(
      "s" -> (_.seconds), "jobs" -> (s => tracer.inclusive(s).jobs.toDouble),
      "shuffle_mb" -> (s => tracer.inclusive(s).shuffleWriteBytes / 1e6),
      "spill_mb" -> (s => tracer.inclusive(s).spillBytes / 1e6),
      "task_skew" -> (s => tracer.inclusive(s).taskSkew)))
    val queries = QueryProbe.Names.flatMap(q => spanned(s"query.$q")(
      "s" -> (_.seconds), "jobs" -> (s => tracer.inclusive(s).jobs.toDouble),
      "shuffle_mb" -> (s => tracer.inclusive(s).shuffleWriteBytes / 1e6)))
    val tables = Metrics.TableSpans.flatMap(s => byName.get(s"tables.$s")
      .map(ss => s"tables.${s}_s" -> Stats.median(ss.map(_.seconds).toSeq)))
    val probeIn = Probes.inputs(spark, wl.world)
    val (read, total) = Probes.scanFiles(Pipelines.imagesInBbox(wl.in.images, wl.cfg), wl.in.corpusDir)
    val scan = Seq("tables.scan_files_read" -> read, "tables.scan_files_total" -> total)
    val measured: Map[String, Double] = (ops ++ queries ++ tables ++ scan ++ wl.layer.toSeq ++
      Probes.core(probeIn).toSeq ++ Probes.functions(spark, probeIn, cores).toSeq :+
      ("plans.plan_ms" -> Probes.planMs(wl.planFrames(spark)))).toMap
    val declared = Metrics.PerLayer.filterNot(_._1 == "trace.overhead_s")
    (declared.map { case (name, unit) => name -> (measured.getOrElse(name, 0.0), unit) },
      declared.map(_._1).filterNot(measured.contains))
  }

  private val Pipelines = graft.pipeline.Pipelines
}

/** Pinned output digests: {workload: {scale: {seed: {part: digest}}}}, and
  * {"queries": {data: {query: digest}}}. */
object Pins {
  def lookup(path: String, keys: String*): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val node = keys.foldLeft(root)(_.path(_))
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }
}
