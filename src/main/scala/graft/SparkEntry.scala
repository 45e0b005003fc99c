package graft

import graft.functions.GeoF
import graft.core.Mercator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract (see /root/repo/SURVEY.md §7 + builder prompt).
 *
 * `queries` covers the operator inventory of SURVEY.md §2 over the
 * driver-provided parquet tables; each entry with an `oracleSql` twin is
 * value-checked against DuckDB on identical inputs. Numeric discipline for
 * engine-portable results: tile/cell math uses floor-to-integer outputs,
 * money uses half-up integer cents, ranks use a Knuth multiplicative hash
 * (pure 64-bit-safe integer arithmetic, identical in any engine), vector
 * scores quantize to integers before reduction — so hash-equality of
 * results is meaningful, not a ulp lottery.
 *
 * Geo queries derive deterministic WGS points from table keys (pure
 * integer->double arithmetic, exact in IEEE754) inside the Minsk bbox of
 * the reference (make_original.py:22), then apply the engine's formulas;
 * the oracle applies the same published formulas in SQL.
 */
object SparkEntry {

  // ---------- shared literals ----------
  private val Z = 19
  private val OffX = Mercator.MaxarOffsetX // -30/2^19 (lib/layers.py:277)
  private val OffY = Mercator.MaxarOffsetY
  // derived-point generators (exact integer->double arithmetic)
  private def latOf(key: Column): Column = lit(53.8306) + (key % 14000).cast("double") * lit(0.00001)
  private def lngOf(key: Column): Column = lit(27.4026) + (key % 29000).cast("double") * lit(0.00001)
  private val latSqlO = "53.8306::DOUBLE + (o_orderkey % 14000)::DOUBLE * 0.00001::DOUBLE"
  private val lngSqlO = "27.4026::DOUBLE + (o_orderkey % 29000)::DOUBLE * 0.00001::DOUBLE"
  private val latSqlC = "53.8306::DOUBLE + (c_custkey % 14000)::DOUBLE * 0.00001::DOUBLE"
  private val lngSqlC = "27.4026::DOUBLE + (c_custkey % 29000)::DOUBLE * 0.00001::DOUBLE"
  // Knuth multiplicative hash-rank: (key * 2654435761) mod 2^32 for any
  // NON-NEGATIVE key < 2^63, via the 2^31-split decomposition — low half
  // r = key mod 2^31 multiplies safely (r*A < 2^62), and the high half
  // contributes only its parity bit (A odd => (A*q*2^31) mod 2^32 =
  // (q mod 2)*2^31). Bit-identical to DuckDB's exact HUGEINT
  // (key * A) % 2^32, so sf100-scale orderkeys past 2^32 no longer
  // silently diverge from the oracle (KrankSpec pins keys >= 2^33).
  private[graft] def krank(key: Column): Column =
    (key.bitwiseAND(lit(0x7FFFFFFFL)) * lit(2654435761L) % lit(4294967296L) +
      shiftrightunsigned(key, 31).bitwiseAND(lit(1L)) * lit(2147483648L)) % lit(4294967296L)
  // the twin promotes EXPLICITLY to HUGEINT: DuckDB raises an overflow
  // error on BIGINT*BIGINT rather than auto-promoting, so keys >= ~3.47e9
  // would abort the oracle query without the cast (ADVICE r4)
  private def krankSql(key: String) =
    s"(CAST($key AS HUGEINT) * 2654435761) % 4294967296"

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Run `body` with `spark.sql.shuffle.partitions` set to the STREAMING
    * state-partition count, restoring the batch value after. Stateful
    * streaming operators keep one state store instance per shuffle
    * partition, and every micro-batch pays a fixed open/commit/snapshot
    * cost PER PARTITION regardless of rows (measured: the stream-stream
    * join's zero-row eviction batch cost ~4 s at 32 partitions — pure
    * per-partition overhead, the guide §2.2 small-blocks regime). The
    * state-partition count is a deployment knob sized to state volume
    * per micro-batch (here ~100k rows/batch -> 4 partitions ≈ 25k
    * rows/task; measured best-of {32: 13.8 s, 8: 7.0, 4: 3.1, 2: 2.5}
    * for the stream-stream join — 4 is the knee), NOT the batch shuffle
    * width. Results are partition-count-invariant. */
  private def withStreamShuffle[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try body finally s.conf.set(key, prev)
  }
  /** The streaming state-partition count: the measured knee above. */
  private val StreamShufflePartitions = 4L

  /** Drive a Structured Streaming query over the events table to
    * completion through an in-memory sink and return the result table.
    * The file source wants a directory, so the single events file is
    * exposed through a per-invocation symlink dir (cleaned up after).
    * `mode` is the sink output mode: "complete" for full-rollup demos,
    * "append" for bounded-state operators (dedup-within-watermark). */
  private def runStream(s: SparkSession, dir: String, tag: String,
                        mode: String = "complete")(
      build: DataFrame => DataFrame): DataFrame = {
    val schema = t(s, dir, "events").schema
    val streamDir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
    val stream = s.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> event-time type
    val agg = build(stream)
    val qname = s"${tag}_${System.nanoTime()}"
    withStreamShuffle(s) {
      val q = agg.writeStream.outputMode(mode).format("memory").queryName(qname).start()
      try q.processAllAvailable() finally {
        q.stop()
        try {
          java.nio.file.Files.deleteIfExists(streamDir.resolve("events.parquet"))
          java.nio.file.Files.deleteIfExists(streamDir)
        } catch { case _: java.io.IOException => () }
      }
    }
    s.table(qname)
  }

  /** Streaming harness over the DOCUMENTS table with a per-micro-batch
    * BATCH transform (`foreachBatch`) — the documented Structured
    * Streaming pattern for per-batch joins against committed tables.
    * Each micro-batch's result appends to a parquet sink; the returned
    * frame is the sink's final contents. */
  private def runDocStream(s: SparkSession, dir: String, tag: String)(
      batchFn: DataFrame => DataFrame): DataFrame = {
    val schema = t(s, dir, "documents").schema
    val streamDir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet").toAbsolutePath)
    val outDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_ck").toString
    val stream = s.readStream.schema(schema).parquet(streamDir.toString)
    try {
      withStreamShuffle(s) {
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batchFn(batch).write.mode("append").parquet(outDir); ()
          }
          .option("checkpointLocation", ckDir)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // materialize the sink contents NOW (eager localCheckpoint) so the
      // sink/checkpoint dirs can be deleted below without breaking the
      // returned frame (ADVICE r5: the dirs used to leak per invocation)
      s.read.parquet(outDir).localCheckpoint(true)
    } finally {
      try {
        java.nio.file.Files.deleteIfExists(streamDir.resolve("documents.parquet"))
        java.nio.file.Files.deleteIfExists(streamDir)
      } catch { case _: java.io.IOException => () }
      // best-effort: the per-invocation sink/checkpoint dirs must not leak
      // into tmpdir (ADVICE r5), but a failed delete must not fail the query
      for (d <- Seq(outDir, ckDir))
        try tables.StageRunner.rmTree(java.nio.file.Paths.get(d))
        catch { case _: java.io.IOException => () }
    }
  }

  /** Integer-quantized embedding (floor(v*1000) per dim) and exact array
    * dot — one definition, shared with the LSH index. */
  private def quantArr(emb: Column): Column = pipeline.AnnIndex.quant(emb)
  private def intDot(a: Column, b: Column): Column = pipeline.AnnIndex.intDot(a, b)

  /** ANN demonstration corpus: the embeddings table plus 5 planted
    * near-duplicates of each vec_id < 40 (ids 1000000 + vec_id*8 + j,
    * per-dim nudges of at most ±0.0015 — cosine ≥ ~0.999, the similarity
    * regime a sub-linear LSH index targets; the raw synthetic corpus has
    * no near neighbors, so an honest index correctly returns nothing on
    * it). All arithmetic is double-exact and mirrored term-for-term in the
    * SQL twins. */
  private def annCorpus(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("embedding"))
    val aug = e.where(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"), explode(sequence(lit(0L), lit(4L))).as("j"))
      .select((lit(1000000L) + col("vec_id") * 8 + col("j")).as("vec_id"),
        expr("transform(embedding, (v, i) -> CAST(v AS DOUBLE) + " +
          "CAST((vec_id + i * (j + 1)) % 7 - 3 AS DOUBLE) * CAST(0.0005 AS DOUBLE))")
          .as("embedding"))
    base.unionByName(aug)
  }

  /** Winnowing fingerprint relation (doc_id, fp) — MOSS-style: 5-gram
    * hashes at every position, min over each window of 4 consecutive
    * grams, distinct mins. Guarantee: any shared substring of >= k+w-1 = 8
    * chars yields a shared fingerprint; ~1/w of positions survive — a
    * position-robust 4x sketch. Shared by q_text_winnow and the
    * contamination audit. Gram hash = xxhash64 (the winnowing guarantee
    * holds for ANY gram hash; md5 per position is the minhash 9.4s
    * lesson). Per-row kernel, zero shuffle. */
  private def winnowFps(s: SparkSession, dir: String): DataFrame = {
    // ZERO-SHUFFLE form (r6, guide §2.4): the window min over 4
    // consecutive gram hashes and the per-doc distinct are both
    // WITHIN-ROW operations once the gram hashes live in an array — the
    // kernel takes each window's min in a loop (no per-doc window, which
    // cost an exchange + sort on doc_id) and keeps first-occurrence
    // distinct mins (fp sets never span docs, so no global distinct).
    // Eligible positions are 0-based p <= len-8 (the twin's cutoff) over
    // the len-4 gram hashes, len in code points. The kernel is a per-row
    // UDF for the same reason as Dedup's minhash signature kernel: the
    // SQL-expression form pays an O(len) UTF8 character scan PER
    // substring(text, i, 5) call (O(len²) per doc) plus a per-gram string
    // allocation, while the kernel walks the text once.
    wide(s, t(s, dir, "documents").where(length(col("text")) >= 8))
      .select(col("doc_id"), explode(winnowUdf(col("text"))).as("fp"))
  }

  /** Per-row winnowing kernel: gram hashes (xxhash64 seed 42 — identical
    * to the Column xxhash64), min over each 4-gram window at positions
    * p <= len - 8, first-occurrence-distinct — the whole fingerprint SET
    * of a doc in one pass, zero shuffle, zero per-gram UTF8String. Grams
    * and len count code points, as Spark's substring/length and the twin
    * do (a UTF-16 index would split surrogate pairs). */
  private val winnowUdf = udf { (text: String) =>
    val len = text.codePointCount(0, text.length)
    if (len < 8) Array.empty[Long] else {
      val nG = len - 4
      val hs = new Array[Long](nG)
      var i = 0
      var at = 0 // char index of gram i
      while (i < nG) {
        val gb = text.substring(at, text.offsetByCodePoints(at, 5))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          gb, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, gb.length, 42L)
        at = text.offsetByCodePoints(at, 1)
        i += 1
      }
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var p = 0
      while (p <= len - 8) { // the twin's 0-based posexplode p <= len - 8
        var m = hs(p)
        var j = p + 1
        while (j <= p + 3) { if (hs(j) < m) m = hs(j); j += 1 }
        seen.add(m)
        p += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    }
  }

  /** Flagship: the streetlamp original-tiles pipeline (SURVEY.md §3.1) on a
    * deterministic synthetic world — scan, hash-rank sample, edge filter,
    * cell join vs the image corpus, rasterize, anti-join negatives, labeled
    * output. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val w = tables.SyntheticWorld.testWorld
    val nodes = tables.SyntheticWorld.osmNodes(spark, w)
    val ways = tables.SyntheticWorld.osmWays(spark, w)
    val images = tables.SyntheticWorld.images(spark, w)
    val (bw, bs, be, bn) = w.bbox
    val cfg = pipeline.Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn),
      limit = 60, train = 40, valid = 20)
    pipeline.Pipelines.originalTiles(spark, nodes, ways, images, cfg)
      .select("example_id", "cell_id", "label", "split", "caption", "fmt")
  }

  // =====================================================================
  // queries — one per implemented operator (SURVEY.md §2 row in comment)
  // =====================================================================
  /** Build (or resolve, when already committed) every ANN index snapshot
    * the q_ann_* contract queries probe — the train-once half of the
    * lifecycle, exposed so Bench can time BUILD and PROBE separately.
    * Stage names/params MUST match the query bodies. */
  def annEnsureBuilt(s: SparkSession, dir: String): Unit = {
    val corpus = annCorpus(t(s, dir, "embeddings"))
    val st = pipeline.AnnStages.runnerFor(corpus)
    // The build is six INDEPENDENT chains (no shared stage names across
    // chains; the composed indexes share stages only with builds in their
    // OWN chain, which runs them first) — submit them from a thread pool
    // so each chain's many small driver-sequential jobs back-fill the
    // others' stage barriers (guide §2.6 overlap-independent-jobs; the
    // StageRunner ledger read-modify-write is synchronized per base dir).
    // Measured: 5.5 s sequential -> ~2.5 s on local[32].
    val chains: Seq[() => Unit] = Seq(
      () => { // flat IVF, then the composed IVF+PQ that reuses its stages
        val _ = pipeline.IvfIndex.buildStaged(st, corpus, nlist = 16, trainRounds = 2)
        pipeline.PqIndex.buildStagedIvfPq(st, corpus,
          nlist = 16, trainRounds = 2, pqTrainRounds = 2)
        ()
      },
      () => { // two-level IVF, then the composed ivf2+PQ on its stages
        val _ = pipeline.IvfIndex.buildStagedTwoLevel(st, corpus,
          nsuper = 4, nsub = 8, trainRounds = 1, subTrainRounds = 1)
        pipeline.PqIndex.buildStagedIvf2Pq(st, corpus,
          nsuper = 4, nsub = 8, trainRounds = 1, subTrainRounds = 1, pqTrainRounds = 1)
        ()
      },
      () => { pipeline.PqIndex.buildStagedPq(st, corpus, pqTrainRounds = 2); () },
      () => { // q_ann_append's index: quantizer trained+committed on the
        // BASE corpus (its own fingerprint-keyed runner), delta batch
        // committed as an assignment-only stage against the frozen snapshot
        val base = corpus.where(col("vec_id") < 1000000L)
        val stBase = pipeline.AnnStages.runnerFor(base)
        val mBase = pipeline.IvfIndex.buildStaged(stBase, base, nlist = 16, trainRounds = 2)
        pipeline.IvfIndex.appendStaged(stBase, "aug40x5", mBase,
          corpus.where(col("vec_id") >= 1000000L), nlist = 16, trainRounds = 2)
        ()
      },
      () => { // the TEXT index snapshots (q_text_bm25's inverted index) —
        // the index lifecycle is modality-agnostic (runner keyed by the
        // UNwidened docs; the wide form feeds only the token kernels)
        val docs = t(s, dir, "documents")
        pipeline.Bm25.buildStaged(pipeline.TextStages.runnerFor(docs), wide(s, docs))
        ()
      },
      () => { // the committed BASE sketch of q_sketch_refresh (the monitor
        // state a corpus refresh merges into)
        val baseDocs = t(s, dir, "documents").where(col("doc_id") % 2 === 0)
        pipeline.TextStages.runnerFor(baseDocs).stage(CmsStageName)(
          pipeline.Sketches.cmsBuild(shinglesOf(baseDocs), col("g"), d = 4, w = 256))
        ()
      })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.size)
    // The production session disables AQE partition coalescing for the
    // image-decode stages (byte-based coalescing starves CPU-dense
    // tasks — Bench class doc). The index build is the opposite regime:
    // KB-scale relational stages whose 32-way exchanges and 32-file
    // snapshot writes are pure scheduling/file overhead. Scope
    // coalescing ON for the build (same pattern as the CC rounds) so
    // stage outputs size themselves by bytes — small stages commit as
    // one file, large ones keep their width (scale-adaptive, guide §6).
    val conf = s.conf
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = conf.getOption(coalesceKey)
    conf.set(coalesceKey, "true")
    try {
      val futures = chains.map(c => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = c()
      }))
      futures.foreach(_.get()) // propagate the first chain failure
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally {
      pool.shutdown()
      prevCoalesce match {
        case Some(v) => conf.set(coalesceKey, v)
        case None => conf.unset(coalesceKey)
      }
    }
  }

  /** The committed base-CMS stage (the "-xx" suffix names its xxhash64
    * counters; snapshots committed under this name stay servable). */
  private val CmsStageName = "cms-sh5-d4w256-xx"

  /** Scan-width normalization for CPU-dense per-row kernels (shingle
    * explodes, hash signatures, md5 chains): the sf dirs ship ONE small
    * parquet file per table, so the scan side is a single task and the
    * whole map-side kernel runs on one core regardless of cluster width
    * (a row group cannot be split below file granularity). A keyless
    * round-robin repartition of the MB-scale input costs a trivial
    * exchange and restores full parallelism; the width is
    * defaultParallelism (scale-adaptive), never a constant. Production
    * corpora arrive file-split-parallel and would skip this — it is the
    * small-file artifact's antidote, applied only where a heavy per-row
    * kernel follows (guide §2.5 input-skew remedy: "repartition
    * immediately after the read"). */
  private def wide(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** 5-char shingle stream shared by the sketch queries. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    wide(docs.sparkSession, docs)
      .where(length(col("text")) >= 5).select(col("source"), explode(expr(
      "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")).as("g"))

  /** The q_text_bm25 literal query batch (vocabulary drawn from the
    * synthetic documents' word pool; fixed across scale factors). */
  private val bm25Queries: Seq[String] = Seq(
    "table scan fast", "window agg join stream", "customer order big query",
    "vector hash merge batch", "slow filter sort column")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/F2/F3: pruned scan — bbox + tag-style predicate pushed to parquet
    "q_s1_scan_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("price_fl"))
    }),

    // P1: project2web as fixed-point micro-units (floor(w*1e6))
    "q_p1_project" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      o.select(col("o_orderkey"),
        floor((lit(0.5) + col("lng") / 360.0) * lit(256000000.0)).cast("long").as("wx_mil"),
        floor((lit(0.5) -
          log((lit(1.0) + sin(col("lat") * lit(math.Pi) / 180.0)) /
              (lit(1.0) - sin(col("lat") * lit(math.Pi) / 180.0))) / lit(4 * math.Pi))
          * lit(256000000.0)).cast("long").as("wy_mil"))
    }),

    // P3/J2-key: containing tile at z19 with maxar imagery offsets
    "q_p3_cell" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cell = GeoF.cellAtWgs(col("lat"), col("lng"), Z, OffX, OffY)
      o.select(col("o_orderkey"), GeoF.cellTx(cell).as("tx"), GeoF.cellTy(cell).as("ty"))
    }),

    // P4/F1: in-tile pixel remainder + half-open edge filter (edge=16)
    "q_f1_edge" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      o.where(GeoF.edgeOk(col("lat"), col("lng"), Z, OffX, OffY, 16))
        .select(col("o_orderkey"))
    }),

    // P6: mil fixed-point floors negatives down (lib/loaders.py:7-8)
    "q_p6_mil" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        GeoF.milCol(col("o_totalprice") * lit(0.00001) - lit(1.5)).as("mil_key"))
    }),

    // P2: tile-center inversion, fixed-point (negative crops center here)
    "q_p2_center" -> ((s, dir) => {
      val o = t(s, dir, "customer")
        .select((lit(302000L) + col("c_custkey") % 500).as("tx"),
                (lit(168500L) + col("c_custkey") % 300).as("ty"))
      val cell = GeoF.packCell(Z, col("tx"), col("ty"))
      val c = GeoF.cellCenter(cell)
      o.select(col("tx"), col("ty"),
        GeoF.milCol(c.getField("lat")).as("lat_mil"),
        GeoF.milCol(c.getField("lng")).as("lng_mil"))
    }),

    // J1: key join + order-preserving grouped aggregation (way⋈node shape)
    "q_j1_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("rev_cents"))
    }),

    // J2: spatial containment join = cell binning -> equi-join
    "q_j2_cell_join" -> ((s, dir) => {
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cell = GeoF.cellAtWgs(col("lat"), col("lng"), Z, OffX, OffY)
      val binned = pts.select(col("o_orderkey"),
        GeoF.cellTx(cell).as("tx"), GeoF.cellTy(cell).as("ty"))
      // tile store stand-in derived from customer keys
      val tiles = t(s, dir, "customer").select(
        (lit(302050L) + col("c_custkey") % 40).as("tx"),
        (lit(168755L) + col("c_custkey") % 25).as("ty")).distinct()
      binned.join(tiles, Seq("tx", "ty"))
        .groupBy(col("tx"), col("ty")).agg(count(lit(1)).as("n_pts"))
    }),

    // J6/SA2: anti-join complement + deterministic hash-rank sample
    "q_j6_anti_sample" -> ((s, dir) => {
      val grid = s.range(0, 50).toDF("tx")
        .crossJoin(s.range(0, 20).toDF("ty"))
      val painted = t(s, dir, "customer").select(
        (col("c_custkey") % 50).cast("long").as("tx"),
        (col("c_custkey") % 20).cast("long").as("ty")).distinct()
      val free = grid.join(painted, Seq("tx", "ty"), "left_anti")
      val key = col("tx") * 20 + col("ty")
      free.orderBy(krank(key), key).limit(200)
        .select(col("tx"), col("ty"))
    }),

    // SA1: partitioning-invariant sample-limit (hash-rank)
    "q_sa1_sample" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          krank(col("l_orderkey") * 10 + col("l_linenumber")).as("rk"))
        .orderBy(col("rk"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // SA3/J8: disjoint train/valid split by rank over one sample
    "q_sa3_split" -> ((s, dir) => {
      val ranked = t(s, dir, "orders")
        .select(col("o_orderkey"), krank(col("o_orderkey")).as("rk"))
        .withColumn("rn", row_number().over(Window.orderBy(col("rk"), col("o_orderkey"))))
        .where(col("rn") <= 500)
        .withColumn("split", when(col("rn") <= 400, "train").otherwise("valid"))
      ranked.groupBy(col("split")).agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"))
    }),

    // A1/SO2: per-category count + balance cap at min class size (single
    // plan: the min class size joins in as a broadcast scalar, no separate
    // driver-side action)
    "q_a1_balance" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val minN = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("mn"))
      li.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("l_returnflag"))
          .orderBy(krank(col("l_orderkey") * 10 + col("l_linenumber")),
            col("l_orderkey"), col("l_linenumber"))))
        .crossJoin(broadcast(minN))
        .where(col("rn") <= col("mn"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_capped"),
          sum(col("l_orderkey")).as("key_sum"))
    }),

    // W1: window functions — row_number + running integer-exact sum
    "q_w1_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("run_qty", sum(col("l_quantity")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .where(col("rn") <= 5)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("run_qty"))
    }),

    // SO1/SO3: union + distinct
    "q_so1_union_distinct" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val a = p.where(col("p_size") < 10).select(col("p_brand"))
      val b = p.where(col("p_retailprice") > 1500.0).select(col("p_brand"))
      a.unionAll(b).distinct()
    }),

    // SO4: intersect + except (set semantics, deduplicating)
    "q_so4_setops" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val a = p.where(col("p_size") < 25).select(col("p_brand"))
      val b = p.where(col("p_retailprice") > 1200.0).select(col("p_brand"))
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_a")))
    }),

    // P7: wgs2px — canvas-local pixel of a point (tile index minus the
    // bbox canvas origin, reference lib/helpers.py:61-65); origin tiles
    // are plan-time constants from the Minsk bbox at z19
    "q_p7_px" -> ((s, dir) => {
      val (txmin, tymin) = Mercator.tileAtWgs(53.9739, 27.4026, Z, OffX, OffY) // (N, W)
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cell = GeoF.cellAtWgs(col("lat"), col("lng"), Z, OffX, OffY)
      pts.select(col("o_orderkey"),
        (GeoF.cellTx(cell) - lit(txmin)).as("px"),
        (GeoF.cellTy(cell) - lit(tymin)).as("py"))
    }),

    // A5/A6: aggregation battery (count / distinct / conditional)
    "q_agg_battery" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_disc"),
          max(col("l_partkey")).as("max_pk"), min(col("l_suppkey")).as("min_sk"))
    }),

    // O7: sort + early-terminated limit with total tie-break
    "q_so2_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), floor(col("o_totalprice")).cast("long").as("price_fl"))
    }),

    // J9 [GRAFT]: kNN join — top-3 nearest orders-point per customer-probe
    // (exact squared-degree metric; engine uses cell-ring search, oracle is
    // brute force — see KnnJoinSpec for the ring=bruteforce equivalence)
    "q_j9_knn" -> ((s, dir) => {
      val probes = t(s, dir, "customer").where(col("c_custkey") <= 50)
        .select(col("c_custkey").as("probe_id"),
          latOf(col("c_custkey") * 7).as("plat"), lngOf(col("c_custkey") * 13).as("plng"))
      val cands = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      pipeline.KnnJoin.knn(probes, cands, k = 3)
        .select(col("probe_id"), col("rank"), col("o_orderkey"))
    }),

    // fixed-radius distance join in METERS (knn's sibling): every
    // (customer probe, order point) pair within 300 great-circle meters.
    // ONE 3x3 grid-block equi-join (cells sized per axis so the radius
    // can't span a cell), codegen haversine refine. dist floors to whole
    // meters — the engine-portable granularity (raw doubles differ from
    // any other libm in the last ulp; measured 0/60k floored mismatches)
    "q_j_radius" -> ((s, dir) => {
      val probes = t(s, dir, "customer").where(col("c_custkey") <= 50)
        .select(col("c_custkey").as("probe_id"),
          latOf(col("c_custkey") * 7).as("plat"), lngOf(col("c_custkey") * 13).as("plng"))
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      pipeline.KnnJoin.radiusJoin(probes, pts, radiusM = 300.0, maxAbsLat = 54.0)
        .select(col("probe_id"), col("o_orderkey"),
          floor(col("dist_m")).cast("long").as("dist_floor_m"))
    }),

    // J10: as-of (backward) join — each purchase event picks up the
    // latest signup event of the same user at ts <= its own (union +
    // partitioned running window; DuckDB ASOF JOIN is the oracle)
    "q_j10_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val probe = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val build = e.where(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("bid"),
          max_by(floor(col("value") * 100 + 0.5).cast("long"), col("event_id")).as("bcents"))
      pipeline.AsofJoin.asofBackward(probe, build, "user_id", "ts", Seq("bid", "bcents"))
        .select(col("event_id"), col("user_id"), col("asof_bid"), col("asof_bcents"))
    }),

    // J10 (second half): point-in-interval join against overlapping
    // per-user intervals — bucketed equi-join, exact containment filter
    "q_interval_join" -> ((s, dir) => {
      val base = 1704067200000L // 2024-01-01T00:00Z
      val probe = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("tsm"))
      val ivals = t(s, dir, "customer")
        .withColumn("i", explode(typedLit(Seq(0L, 1L))))
        .select((col("c_custkey") * 2 + col("i")).as("interval_id"),
          (col("c_custkey") % 150).as("user_id"), // events user_id spans 0..149 at sf0.01
          (lit(base) + (col("c_custkey") % 60) * 43200000L + col("i") * 1800000L).as("s"),
          (lit(base) + (col("c_custkey") % 60) * 43200000L + col("i") * 1800000L +
            (lit(6L) + col("c_custkey") % 18) * 3600000L).as("e"))
      pipeline.AsofJoin.intervalJoin(probe, ivals, "user_id", "tsm", "s", "e",
          Seq("interval_id"), bucketWidth = 3600000L)
        .select(col("event_id"), col("interval_id"))
    }),

    // F6: exact PIP refinement — convex diamond, ray-cast over packed
    // arrays vs half-plane oracle (vertices off the 1e-5 point grid so no
    // boundary ties)
    "q_f6_pip" -> ((s, dir) => {
      val diamondLat = Seq(53.8381234, 53.8421234, 53.8461234, 53.8421234)
      val diamondLng = Seq(27.4101234, 27.4401234, 27.4101234, 27.3801234)
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey") * 3).as("lng"))
      pts.where(GeoF.pointInPoly(col("lat"), col("lng"),
          typedLit(diamondLat), typedLit(diamondLng)))
        .select(col("o_orderkey"))
    }),

    // S9/P8: tile path codec roundtrip — format z/x{tx}y{ty}.jpg then parse
    // back with the xy_fromfile inverse (reference lib/layers.py:57-66:
    // digits between 'x'..'y' and 'y'..'.') — parse must equal source
    "q_s9_parse" -> ((s, dir) => {
      val files = t(s, dir, "customer").select(
        format_string("z19/x%dy%d.jpg", lit(302000L) + col("c_custkey") % 700,
          lit(168500L) + col("c_custkey") % 450).as("fname")).distinct()
      files.select(col("fname"),
        regexp_extract(col("fname"), "x(\\d+)y", 1).cast("long").as("tx"),
        regexp_extract(col("fname"), "y(\\d+)\\.", 1).cast("long").as("ty"))
    }),

    // P10/F4: outside() half-open size gate [min, max) on both axes
    // (reference helpers.outside; roofshapes 128..1024 band)
    "q_p10_gate" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          (col("p_size").cast("long") * 37 % 1200).as("h"),
          ((col("p_size").cast("long") * 53 + col("p_partkey")) % 1200).as("w"))
        .where(col("h") >= 128 && col("h") < 1024 && col("w") >= 128 && col("w") < 1024)
    }),

    // P11/J4/J5: way bbox + 25%/48px padding + %256 world wrap -> tile
    // cover range (reference lib/layers.py:245-272) via the wayCover kernel
    // UDF; oracle reproduces the published formulas in SQL. z=18, no
    // provider offsets; rint-based crop corners excluded (round-half-even
    // has no DuckDB twin), tile ranges are floor-exact.
    "q_p11_cover" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem").select(
        (col("l_orderkey") % 500).as("wid"),
        latOf(col("l_orderkey") * 2 + col("l_linenumber")).as("lat"),
        lngOf(col("l_orderkey") * 3 + col("l_linenumber")).as("lng"))
      val grouped = pts.groupBy(col("wid"))
        .agg(collect_list(col("lat")).as("lats"), collect_list(col("lng")).as("lngs"))
      grouped.select(col("wid"),
          functions.GeoUdfs.wayCover(18, 0, 0)(col("lats"), col("lngs")).as("cov"))
        .select(col("wid"), col("cov.txmin").as("txmin"), col("cov.txmax").as("txmax"),
          col("cov.tymin").as("tymin"), col("cov.tymax").as("tymax"),
          ((col("cov.txmax") - col("cov.txmin") + 1) *
           (col("cov.tymax") - col("cov.tymin") + 1)).as("n_tiles"))
    }),

    // SA4: take rows until N distinct keys — scale pattern: the first N
    // distinct keys by hash-rank (TakeOrdered) broadcast-semi-join back
    "q_sa4_distinct_cap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val keys = li.select(col("l_orderkey")).distinct()
        .orderBy(krank(col("l_orderkey")), col("l_orderkey")).limit(50)
      li.join(broadcast(keys), "l_orderkey")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).cast("long").as("sum_qty"))
    }),

    // S13: WKT source — parse a POLYGON literal with the engine's WKT
    // reader, then exact PIP over derived points (polygon == q_f6 diamond,
    // different point derivation; oracle uses the literal half-planes)
    "q_s13_wkt_pip" -> ((s, dir) => {
      val wkt = "POLYGON ((27.4101234 53.8381234, 27.4401234 53.8421234, " +
        "27.4101234 53.8461234, 27.3801234 53.8421234, 27.4101234 53.8381234))"
      val (lats, lngs) = graft.core.Wkt.latlngsFromWkt(wkt).head
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        latOf(col("o_orderkey") * 11).as("lat"), lngOf(col("o_orderkey") * 7).as("lng"))
      pts.where(GeoF.pointInPoly(col("lat"), col("lng"),
          typedLit(lats.toSeq), typedLit(lngs.toSeq)))
        .select(col("o_orderkey"))
    }),

    // A4: busy/free index per canvas row — the painted/unpainted counts
    // behind negative sampling (reference helpers.MercatorPainter busy map)
    "q_a4_busyfree" -> ((s, dir) => {
      val grid = s.range(0, 50).toDF("tx").crossJoin(s.range(0, 20).toDF("ty"))
      val painted = t(s, dir, "customer").select(
        (col("c_custkey") % 50).cast("long").as("tx"),
        (col("c_custkey") % 20).cast("long").as("ty")).distinct()
        .withColumn("busy", lit(1))
      grid.join(painted, Seq("tx", "ty"), "left")
        .groupBy(col("tx"))
        .agg(sum(when(col("busy").isNull, 1).otherwise(0)).as("n_free"),
          sum(when(col("busy").isNotNull, 1).otherwise(0)).as("n_busy"))
    }),

    // streaming-shape batch: hourly tumbling-window event rollup
    "q_events_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    }),

    // deterministic per-class weighted sampling: each class keeps rows
    // whose Knuth hash-rank falls under the class's rate threshold —
    // hash-Bernoulli, so the draw is exact, partitioning-invariant and
    // replayable (the "10% of class A, 50% of class B" rebalance every
    // training-data pipeline runs). Zero shuffle: a per-row predicate.
    "q_sa_weighted" -> ((s, dir) => {
      val rate = when(col("o_orderstatus") === "F", lit(429496729L))   // ~10%
        .when(col("o_orderstatus") === "O", lit(2147483648L))          // ~50%
        .otherwise(lit(858993459L))                                    // ~20%
      t(s, dir, "orders")
        .where(krank(col("o_orderkey")) < rate)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_kept"), sum(col("o_orderkey")).as("key_sum"))
    }),

    // semi-structured extraction: JSON payload column -> typed field ->
    // relational rollup (get_json_object stays inside codegen; no UDF) —
    // the schema-on-read step every event-log pipeline runs first
    "q_json_extract" -> ((s, dir) => {
      // parse via DOUBLE then floor: Spark's string->long cast truncates
      // where DuckDB's rounds (and DuckDB's plain CAST hard-errors on
      // garbage where Spark nulls) — the double->floor form is identical
      // in both engines for any k, not just the clean-integer fixture
      val k = floor(get_json_object(col("props"), "$.k").cast("double")).cast("long")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(k).as("k_sum"), count(when(k > 50, 1)).as("n_high"))
    }),

    // batch sessionization (the batch twin of q_stream_session's gap
    // sessions): per-user lag + running sum — a new session starts when
    // the gap to the previous event exceeds 30 minutes. Integer
    // microsecond arithmetic end-to-end; one window + one groupBy, both
    // keyed on user_id (a single exchange reused by AQE).
    "q_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          // NTZ -> TIMESTAMP at the session's UTC zone = DuckDB's epoch_us
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      e.withColumn("new_s",
          when(lag(col("us"), 1).over(w).isNull, 1L)
            .when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("session_start_us"), max(col("us")).as("session_end_us"),
          count(lit(1)).as("n_events"))
    }),

    // exact group quantiles by rank arithmetic (p50/p90 of lineitem
    // quantity per return flag): the value at sorted position
    // floor((n-1)*p)+1 — pure integer position math, no interpolation
    // mode to diverge between engines. One window per group + a filter.
    "q_quantiles" -> ((s, dir) => {
      val wr = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      val wn = Window.partitionBy(col("l_returnflag"))
      val r = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          row_number().over(wr).as("rn"), count(lit(1)).over(wn).as("n"))
      def pick(num: Int, den: Int, p: Long) =
        r.where(col("rn") === expr(s"((n - 1) * $num) div $den + 1"))
          .select(col("l_returnflag"), lit(p).as("p"),
            floor(col("l_quantity") * 100).cast("long").as("qty_c"))
      pick(1, 2, 50L).unionByName(pick(9, 10, 90L))
    }),

    // ---------- training-data ops: dedup / text / similarity ----------

    // exact dedup: canonical-hash groupBy (portable md5)
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .where(col("n_dups") >= 1)
    }),

    // document fingerprint: canonical-form hash (lower, strip, collapse)
    "q_text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "))).as("fp"))
    }),

    // token count (BPE-ish \S+ segmentation) + char stats
    "q_text_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_tokens"),
        length(col("text")).as("n_chars_q"))
    }),

    // sequence packing (concat-and-chunk): docs concatenate in md5 order,
    // the token stream cuts into 512-token bins, boundary docs split —
    // the pass between dedup and the tokenizer shards. Distributed form:
    // md5-PREFIX shards make the global cumsum two phases (per-shard
    // windows + a bounded 256-row offset broadcast), never one
    // single-partition window over the corpus.
    "q_pack_chunks" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      pipeline.Pack.packChunks(d, budget = 512)
    }),

    // quality scoring: fixed-point ratios (vowel/space/digit density)
    "q_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = length(col("text"))
      def cnt(re: String): Column = size(regexp_extract_all(col("text"), lit(re), lit(0)))
      d.select(col("doc_id"),
        floor(cnt("[aeiou]") * lit(1000000.0) / n).cast("long").as("vowel_fp"),
        floor(cnt(" ") * lit(1000000.0) / n).cast("long").as("space_fp"),
        cnt("[0-9]").as("n_digits"))
    }),

    // language-ID: stopword-vote heuristic with deterministic tie-break
    "q_text_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def votes(re: String): Column = size(regexp_extract_all(col("text"), lit(re), lit(0)))
      val en = votes("\\b(the|and|of|to)\\b")
      val es = votes("\\b(el|la|de|que)\\b")
      val de = votes("\\b(der|die|und|ist)\\b")
      val fr = votes("\\b(le|la|les|et)\\b")
      d.select(col("doc_id"),
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de").otherwise("fr").as("lang_guess"))
    }),

    // similarity search: exact top-10 by integer-quantized inner product
    // against the vec_id=0 query vector. Scale shape: per-row zip_with
    // array dot (NO posexplode — r1 shuffled n×d rows) + broadcast of the
    // single probe + TakeOrdered; an embarrassingly-parallel full scan.
    // LSH-routed variant: q_ann_lsh.
    "q_ann_mips" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qvec = e.where(col("vec_id") === 0).select(quantArr(col("embedding")).as("qq"))
      e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qvec))
        .select(col("vec_id"), intDot(quantArr(col("embedding")), col("qq")).as("dot"))
        .orderBy(col("dot").desc, col("vec_id")).limit(10)
    }),

    // cosine variant: exact fixed-point cosine (IEEE-exact sqrt/division)
    "q_ann_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qvec = e.where(col("vec_id") === 0).select(quantArr(col("embedding")).as("qq"))
      val scored = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qvec))
        .select(col("vec_id"), quantArr(col("embedding")).as("vq"), col("qq"))
        .select(col("vec_id"), intDot(col("vq"), col("qq")).as("dot"),
          intDot(col("vq"), col("vq")).as("na"), intDot(col("qq"), col("qq")).as("nb"))
        .select(col("vec_id"),
          floor(col("dot").cast("double") * 1000000.0 /
            sqrt(col("na").cast("double") * col("nb").cast("double"))).cast("long").as("cos_fp"))
      scored.orderBy(col("cos_fp").desc, col("vec_id")).limit(10)
    }),

    // embedding near-dup pairs among the first 300 vectors: broadcast
    // nested-loop over the scoped side with per-pair array dots (no
    // shingle-style n×d explode)
    "q_sim_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 300)
        .select(col("vec_id"), quantArr(col("embedding")).as("vq"))
      val a = e.toDF("ida", "va")
      val b = e.toDF("idb", "vb")
      a.crossJoin(broadcast(b)).where(col("ida") < col("idb"))
        .select(col("ida"), col("idb"), intDot(col("va"), col("vb")).as("dot"),
          intDot(col("va"), col("va")).as("na2"), intDot(col("vb"), col("vb")).as("nb2"))
        .select(col("ida"), col("idb"),
          floor(col("dot").cast("double") * 1000000.0 /
            sqrt(greatest(col("na2"), lit(1L)).cast("double") *
                 greatest(col("nb2"), lit(1L)).cast("double"))).cast("long").as("cos_fp"))
        .where(col("cos_fp") >= 400000)
    }),

    // ANN index: random-hyperplane LSH bucket routing (md5-derived integer
    // hyperplanes -> 64 sign bits -> 4x16-bit chunk buckets, expected
    // unrelated-candidate fraction ~6e-5 — sub-linear routing, not the r2
    // 23%-scan), exact integer scoring of candidates only, over the
    // planted-near-dup corpus (annCorpus). The whole index has a DuckDB
    // twin, so approximation error is pinned, not hidden.
    "q_ann_lsh" -> ((s, dir) =>
      pipeline.AnnIndex.topK(annCorpus(t(s, dir, "embeddings")),
        probeVecId = 0, k = 10, dim = 64)),

    // batch multi-probe ANN: 30 probes route through the chunk buckets in
    // one equi-join, per-probe top-3 by exact integer dot (window on
    // probe_id, never global). The J9 kNN-join shape on the LSH index.
    "q_ann_join" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      pipeline.AnnIndex.knnJoin(corpus.where(col("vec_id") < 30), corpus, k = 3, dim = 64)
    }),

    // multi-probe variant: each probe chunk key plus its 16 one-bit flips
    // (recall guarantee widens from code hamming <=3 to <=7 at 17x the
    // bucket lookups — still ~0.1% expected unrelated-candidate fraction)
    "q_ann_multiprobe" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      pipeline.AnnIndex.knnJoin(corpus.where(col("vec_id") < 20), corpus,
        k = 3, dim = 64, multiProbe = true)
    }),

    // IVF ANN: md5-seeded coarse quantizer TRAINED with 2 deterministic
    // Lloyd's rounds (16 lists, broadcast centroid TABLE — no closure),
    // probes route to their 2 nearest-L2 lists, corpus meets probes in ONE
    // equi-join on the list id, exact integer scoring, per-probe top-3.
    // Candidate cost ~ nprobe/nlist of the corpus BY CONSTRUCTION — the
    // tunable complement to the LSH index's geometry-driven buckets.
    // LIFECYCLE (r5): every q_ann_* contract query routes through a
    // COMMITTED StageRunner snapshot — the first execution per corpus
    // trains and commits (centroids/codebooks/lists/codes as
    // lineage-linked stages); every later execution probes the snapshot
    // and runs ZERO training/assignment jobs (AnnStagedSpec pins this).
    // Same math, same oracle rows — training merely moved from per-query
    // to per-index-build, the shape a 10^12-row corpus requires.
    "q_ann_ivf" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.IvfIndex.buildStaged(pipeline.AnnStages.runnerFor(corpus),
        corpus, nlist = 16, trainRounds = 2)
      pipeline.IvfIndex.probe(m, corpus.where(col("vec_id") < 20), k = 3, nprobe = 2)
    }),

    // index QUALITY evaluation — recall@3 of the committed IVF probe vs
    // the exact top-3 (the measurement loop every production index runs:
    // after a build, after an append, when tuning nprobe). Probes the
    // SAME committed snapshot as q_ann_ivf (zero extra build); the exact
    // baseline is one linear corpus scan against the broadcast probe
    // panel, so evaluation cost never multiplies into the corpus.
    "q_ann_recall" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.IvfIndex.buildStaged(pipeline.AnnStages.runnerFor(corpus),
        corpus, nlist = 16, trainRounds = 2)
      val probes = corpus.where(col("vec_id") < 20)
      pipeline.AnnEval.recallAtK(
        pipeline.IvfIndex.probe(m, probes, k = 3, nprobe = 2),
        pipeline.AnnEval.exactTopK(probes, corpus, k = 3), k = 3)
    }),

    // recall@3 of the TWO-LEVEL probe — the same evaluation operator over
    // the hierarchical index (the committed snapshot q_ann_ivf2 probes):
    // at nprobeSuper=2/nprobe=4 of a 4x8 index the routing is lossy by
    // design; the recall row is what makes that loss a measured number
    // instead of a hope.
    "q_ann_recall2" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.IvfIndex.buildStagedTwoLevel(pipeline.AnnStages.runnerFor(corpus),
        corpus, nsuper = 4, nsub = 8, trainRounds = 1, subTrainRounds = 1)
      val probes = corpus.where(col("vec_id") < 10)
      pipeline.AnnEval.recallAtK(
        pipeline.IvfIndex.probeTwoLevel(m, probes, k = 3, nprobeSuper = 2, nprobe = 4),
        pipeline.AnnEval.exactTopK(probes, corpus, k = 3), k = 3)
    }),

    // two-level (hierarchical) IVF — the path PAST the flat index's
    // broadcast ceiling: only 4 super centroids broadcast; the 4x8
    // sub-lists are keyed by super cell and meet corpus/probes in
    // ordinary equi-joins on scid, so total list count is unbounded by
    // broadcast size. Probe -> 2 nearest supers -> 4 nearest of THEIR
    // sub-lists -> one equi-join on the sub-list id, exact dot, top-3.
    "q_ann_ivf2" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.IvfIndex.buildStagedTwoLevel(pipeline.AnnStages.runnerFor(corpus),
        corpus, nsuper = 4, nsub = 8,
        trainRounds = 1, subTrainRounds = 1)
      pipeline.IvfIndex.probeTwoLevel(m, corpus.where(col("vec_id") < 10),
        k = 3, nprobeSuper = 2, nprobe = 4)
    }),

    // PQ (product quantization) ADC scoring: the corpus compresses to 8
    // nearest-codeword ids under TRAINED codebooks (md5-seeded + 2
    // deterministic per-subspace Lloyd's rounds; exact integer squared-L2
    // encoding — a ~32x memory cut), probes build
    // (subspace, codeword) -> exact-dot LUTs, and scoring is one equi-join
    // on (s, code) + a per-probe sum — the scoring-side companion to the
    // IVF/LSH routers for 10^12-row passes.
    "q_ann_pq" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.PqIndex.buildStagedPq(pipeline.AnnStages.runnerFor(corpus),
        corpus, pqTrainRounds = 2)
      pipeline.PqIndex.probePq(m, corpus.where(col("vec_id") < 10), k = 3)
    }),

    // IVF+PQ composed — the billion-scale recipe end-to-end: probes route
    // through the trained IVF lists (sub-linear candidates), and only
    // candidates are scored via RESIDUAL PQ lookup tables (the corpus side
    // carries one list id + 8 residual codes; score = probe-centroid dot +
    // summed residual LUT hits — exact by linearity). Broadcast probe
    // sides on both joins; per-probe top-3.
    "q_ann_ivfpq" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.PqIndex.buildStagedIvfPq(pipeline.AnnStages.runnerFor(corpus),
        corpus, nlist = 16, trainRounds = 2, pqTrainRounds = 2)
      pipeline.PqIndex.probeIvfPq(m, corpus.where(col("vec_id") < 10),
        k = 3, nprobe = 2)
    }),

    // two-stage retrieval with exact re-rank — the refine pass every ADC
    // deployment ends with: a 12-candidate compressed-index shortlist
    // (same committed stages as q_ann_ivfpq — param-keyed names, zero
    // extra build), then one equi-join fetches ONLY those 12 true
    // embeddings per probe for an exact integer-dot top-3. The corpus
    // pass stays embedding-free; exactness is confined to 12 rows/probe.
    "q_ann_refine" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.PqIndex.buildStagedIvfPq(pipeline.AnnStages.runnerFor(corpus),
        corpus, nlist = 16, trainRounds = 2, pqTrainRounds = 2)
      pipeline.PqIndex.probeIvfPqRefined(m, corpus.where(col("vec_id") < 10), corpus,
        k = 3, kShort = 12, nprobe = 2)
    }),

    // two-level routing × residual ADC — the composed 10^12 recipe as ONE
    // operator (r4 Next #6): candidates come from the hierarchical router
    // (only 4 super centroids broadcast; sub-lists equi-join on scid),
    // scoring is dot(probe, sub centroid) + residual LUT hits against the
    // SUB-list centroids. Staged like the others; twin replays the whole
    // chain (super round, per-cell sub round, residual codebook round,
    // ADC) in ANSI SQL.
    "q_ann_ivf2pq" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.PqIndex.buildStagedIvf2Pq(pipeline.AnnStages.runnerFor(corpus),
        corpus, nsuper = 4, nsub = 8,
        trainRounds = 1, subTrainRounds = 1, pqTrainRounds = 1)
      pipeline.PqIndex.probeIvf2Pq(m, corpus.where(col("vec_id") < 10),
        k = 3, nprobeSuper = 2, nprobe = 4)
    }),

    // the COMPLETE 10^12 composition: hierarchical routing (only 4 super
    // centroids broadcast; sub-lists equi-join) x residual ADC shortlist
    // (12 candidates, corpus side carries codes only) x exact re-rank
    // over just those 12 fetched embeddings per probe — same committed
    // stages as q_ann_ivf2pq, zero extra build
    "q_ann_refine2" -> ((s, dir) => {
      val corpus = annCorpus(t(s, dir, "embeddings"))
      val m = pipeline.PqIndex.buildStagedIvf2Pq(pipeline.AnnStages.runnerFor(corpus),
        corpus, nsuper = 4, nsub = 8,
        trainRounds = 1, subTrainRounds = 1, pqTrainRounds = 1)
      pipeline.PqIndex.probeIvf2PqRefined(m, corpus.where(col("vec_id") < 10), corpus,
        k = 3, kShort = 12, nprobeSuper = 2, nprobe = 4)
    }),

    // index MAINTENANCE as a first-class operator: the quantizer trained
    // and committed on the BASE corpus stays frozen; the synthetic
    // near-dup rows (vec_id >= 1000000) arrive as a DELTA batch that
    // assigns against the snapshot — a per-row broadcast map over only
    // the delta, committed as its own lineage-linked stage; probes see
    // base ∪ delta. Never retrain-on-append (retraining = an explicit
    // new snapshot + downstream recompute). Twin trains on the
    // pre-append rows and assigns/routes the full corpus.
    "q_ann_append" -> ((s, dir) => {
      val full = annCorpus(t(s, dir, "embeddings"))
      val base = full.where(col("vec_id") < 1000000L)
      val delta = full.where(col("vec_id") >= 1000000L)
      val st = pipeline.AnnStages.runnerFor(base)
      val m = pipeline.IvfIndex.buildStaged(st, base, nlist = 16, trainRounds = 2)
      val appended = pipeline.IvfIndex.appendStaged(st, "aug40x5", m, delta,
        nlist = 16, trainRounds = 2)
      pipeline.IvfIndex.probe(appended, full.where(col("vec_id") < 20), k = 3, nprobe = 2)
    }),

    // H3/S2-style compact: order points -> z14 cell cover -> collapse
    // complete sibling quads into parents down to z11 (the minimal
    // mixed-zoom cover of the same area). Pure integer column math; each
    // of the 3 rounds is one groupBy on the parent id, replayed
    // term-for-term by the DuckDB twin.
    "q_cell_compact" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cells = o.select(GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id"))
      pipeline.CellOps.compact(cells, zMax = 14, zMin = 11)
        .select(col("cell_id"),
          shiftrightunsigned(col("cell_id"), 58).cast("long").as("zl"))
    }),

    // point-in-cover join — what compaction exists FOR: customer points
    // probe the compacted z14->z11 orders cover through their 4-level
    // ancestor chain (a bounded per-row map) in ONE equi-join against the
    // small compacted set, instead of exchanging both sides on the fine
    // cell id. Disjoint cover => at most one match per point.
    "q_cell_cover_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cover = pipeline.CellOps.compact(
        ord.select(GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id")),
        zMax = 14, zMin = 11)
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        GeoF.cellAtWgs(latOf(col("c_custkey")), lngOf(col("c_custkey")), 14).as("cell_id"))
      pipeline.CellOps.coverJoin(pts, cover, zMax = 14, zMin = 11)
        .select(col("c_custkey"), col("cell_id"), col("cover_cell"))
    }),

    // point-in-cover FILTER (the predicate form of coverJoin, for covers
    // small enough to be plan constants): the compacted orders cover
    // folds to a hash set inside a codegen CellInCoverExpr — O(levels)
    // probes per customer row — and the CellCoverPushdown optimizer rule
    // (active in Verify/Bench) injects the sargable cell_id range
    // conjunct that reaches PushedFilters, so a cell-sorted corpus skips
    // row groups before the exact probe runs. The collect is
    // driver-bounded BY PURPOSE: compaction exists to make covers tiny.
    "q_cell_cover_filter" -> ((s, dir) => {
      import s.implicits._
      val ord = t(s, dir, "orders").select(
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cover = pipeline.CellOps.compact(
          ord.select(GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id")),
          zMax = 14, zMin = 11)
        .as[Long].collect().sorted.toSeq
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        GeoF.cellAtWgs(latOf(col("c_custkey")), lngOf(col("c_custkey")), 14).as("cell_id"))
      pts.where(GeoF.cellInCover(col("cell_id"), typedLit(cover), zMax = 14, zMin = 11))
        .select(col("c_custkey"), col("cell_id"))
    }),

    // zonal statistics — the named GIS rollup: per compacted-cover cell
    // (the "zone"), the count and money rollup of the points it contains.
    // coverJoin routes each point to its UNIQUE covering cell (disjoint
    // cover), then one groupBy on the zone — the broadcastable-zone form
    // of raster zonal stats at any scale.
    "q_cell_zonal" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cover = pipeline.CellOps.compact(
        ord.select(GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id")),
        zMax = 14, zMin = 12)
      val pts = ord.select(col("o_orderkey"), col("price_cents"),
        GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id"))
      pipeline.CellOps.coverJoin(pts, cover, zMax = 14, zMin = 12)
        .groupBy(col("cover_cell"))
        .agg(count(lit(1)).as("n_pts"),
          sum(col("price_cents")).as("price_cents_sum"),
          min(col("o_orderkey")).as("min_key"))
    }),

    // Morton (z-order) layout key: tx/ty bit-interleaved under the level
    // prefix — the write-layout key that makes any axis-aligned 2^k
    // block ONE contiguous key range (vs a row-band per y line under a
    // plain cell_id sort). Emits the key and the inverse-roundtrip cell
    // over the distinct z17 order cells; the twin replays the identical
    // shift/mask cascade, so the codec is pinned engine-portably exact.
    "q_morton_layout" -> ((s, dir) => {
      val cells = t(s, dir, "orders").select(
        GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 17).as("cell_id"))
        .distinct()
      cells.select(col("cell_id"),
          pipeline.CellOps.mortonOf(col("cell_id")).as("morton"))
        .withColumn("cell_rt", pipeline.CellOps.cellOfMorton(col("morton")))
    }),

    // cover x cover intersection join — polygon overlap at planet scale:
    // per-status orders covers meet per-segment customer covers (both
    // zone-compacted z14->z11 in ONE pass via keyed compact) through two
    // bounded ancestor-chain equi-joins; output = every overlapping
    // (status, segment) pair with its EXACT intersection area in z14
    // cell units. Never a geometric pair test, never cover x cover rows.
    "q_cell_cover_intersect" -> ((s, dir) => {
      val ca = pipeline.CellOps.compact(
        t(s, dir, "orders").select(col("o_orderstatus").as("zone_a"),
          GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 14).as("cell_id")),
        zMax = 14, zMin = 11, keys = Seq("zone_a"))
      val cb = pipeline.CellOps.compact(
        t(s, dir, "customer").select(col("c_mktsegment").as("zone_b"),
          GeoF.cellAtWgs(latOf(col("c_custkey")), lngOf(col("c_custkey")), 14).as("cell_id")),
        zMax = 14, zMin = 11, keys = Seq("zone_b"))
      pipeline.CellOps.coverIntersect(ca, cb, zMax = 14, zMin = 11)
    }),

    // polyfill: polygon -> minimal compacted cover. Candidate z17 cells
    // over the diamond's bbox keep iff their CENTER passes the F6 ray-cast
    // (codegen kernel; the twin uses the convex half-plane form, as
    // q_f6_pip does), then 3 compact rounds collapse to mixed zoom
    // [14, 17] — the exclusion-zone index a planet-scale cover needs.
    "q_cell_polyfill" -> ((s, dir) => {
      val diamondLat = Seq(53.8381234, 53.8421234, 53.8461234, 53.8421234)
      val diamondLng = Seq(27.4101234, 27.4401234, 27.4101234, 27.3801234)
      pipeline.CellOps.coverOfPolygon(s, diamondLat, diamondLng, zMax = 17, zMin = 14)
        .select(col("cell_id"),
          shiftrightunsigned(col("cell_id"), 58).cast("long").as("zl"))
    }),

    // raster -> vector region extraction (polygonize) — the inverse of
    // the rasterize family (R1-R3 paint vectors INTO cell space; this
    // extracts region geometry back OUT): a thinned order-cell mask at
    // z18 (hash-Bernoulli 40% keep — sub-percolation, so regions stay
    // small and the twin's closure stays bounded) labels its 4-connected
    // regions through the shared CC operator and emits one VECTOR row
    // per region: area in cells, bbox, exact perimeter
    // (4n - 2*adjacent_pairs). Adjacency = two neighbor-offset
    // self-equi-joins on the packed cell key — never a distance join.
    "q_raster_polygonize" -> ((s, dir) => {
      val mask = t(s, dir, "orders")
        .where(krank(col("o_orderkey")) % 10 < 4)
        .select(GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 18).as("cell_id"))
      pipeline.CellOps.labelRegions(mask)
    }),

    // semantic dedup at scale: LSH-bucketed all-pairs embedding near-dup
    // (never n² — candidates share a chunk bucket) -> exact fixed-point
    // cosine verify -> connected components -> keep-min decisions. The
    // scale path that replaces q_sim_pairs' scoped brute force; planted
    // dup clusters resolve to their original vector.
    "q_sim_resolve" -> ((s, dir) => {
      val pairs = pipeline.AnnIndex.nearDupPairs(
        annCorpus(t(s, dir, "embeddings")), dim = 64, minCosFp = 999000L)
      pipeline.Dedup.resolveClusters(pairs.select(col("ida"), col("idb")))
    }),

    // winnowing document fingerprints (the rolling-hash fingerprint
    // family, MOSS-style): 5-gram h60 hashes at every position, min over
    // each window of 4 consecutive grams, distinct mins = the doc's
    // fingerprint set. Guarantee: any shared substring of >= k+w-1 = 8
    // chars yields a shared fingerprint; ~1/w of positions survive — a
    // position-robust 4x sketch (unlike the whole-doc md5 fingerprint,
    // which any edit breaks). Per-row explode + one per-doc window.
    "q_text_winnow" -> ((s, dir) => winnowFps(s, dir)),

    // benchmark-contamination audit — the decontamination step every
    // training corpus runs against held-out eval sets: corpus docs that
    // share a winnowing fingerprint with the "benchmark" set (doc_id %
    // 97 == 0 stands in for the benchmark corpus; in production it is a
    // second table). The winnowing contract makes this sound: any shared
    // substring of >= 8 chars GUARANTEES a shared fingerprint, so
    // thresholding n_shared_fps is the standard overlap filter. Scale
    // shape: ONE equi-join on the fingerprint hash (the benchmark side
    // is small -> broadcast) + one doc-keyed groupBy — never a doc x
    // benchmark pair space.
    "q_text_contamination" -> ((s, dir) => {
      // the fingerprint relation feeds BOTH join sides — materialize once
      // (auto-released) instead of running the per-doc window twice
      val fps = winnowFps(s, dir).localCheckpoint(false)
      val bench = fps.where(col("doc_id") % 97 === 0)
        .select(col("fp"), col("doc_id").as("bench_id"))
      fps.where(col("doc_id") % 97 =!= 0)
        .join(bench, "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("fp")).as("n_shared_fps"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
    }),

    // repetition quality signals (the Gopher-style repetition filters):
    // per doc the token count, distinct-token count, the most-repeated
    // token's count and the most-repeated word-2-gram's count — the
    // integer signals repetition thresholds divide (no float fractions to
    // diverge between engines). Scale shape: bigrams are a per-row zip
    // (zero shuffle to build), then two doc-keyed groupBys with map-side
    // combine — never an O(n²)-per-row expression.
    "q_text_repetition" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), filter(split(col("text"), "\\s+"), x => x =!= "").as("toks"))
      val tok = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
      val tokStats = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_tok_n"))
      val bigrams = toks.where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))")).as("bg"))
      val bgStats = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
      tokStats.join(bgStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"), col("n_distinct"), col("top_tok_n"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
    }),

    // keyword extraction (the relational tf-idf form, kept integer-exact):
    // per-doc top-5 terms by term frequency, rarer-corpus-wide terms first
    // on ties (df ASC — the idf ordering without the float), then term.
    // Scale shape: tf groupBy on (doc, term), df groupBy on term, one join
    // on term (common-term skew is AQE's case), per-DOC top-k window.
    "q_text_keywords" -> ((s, dir) => {
      val terms = wide(s, t(s, dir, "documents")).select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]{3,}', 0)")).as("term"))
      // tf IS the distinct (doc, term) relation — df derives from it
      // (one regexp pass + one exchange instead of two of each)
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(false) // feeds the join AND the df rollup
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(dfq, "term")
        .withColumn("rank", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term"))))
        .where(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
    }),

    // n-gram (3-char shingle) Jaccard near-dup among small doc sample —
    // set ops expressed relationally (exact, portable)
    "q_dedup_ngram" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") < 100)
      val sh = d.select(col("doc_id"),
          explode(expr("transform(sequence(1, greatest(length(text)-2, 0)), i -> substring(text, i, 3))")).as("g"))
        .distinct()
      val na = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")).toDF("ida", "na")
      val ja = sh.toDF("ida", "g").join(sh.toDF("idb", "g"), "g")
        .where(col("ida") < col("idb"))
        .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("inter"))
      ja.join(na, "ida").join(na.toDF("idb", "nb"), "idb")
        .select(col("ida"), col("idb"),
          floor(col("inter") * lit(1000000.0) / (col("na") + col("nb") - col("inter")))
            .cast("long").as("jac_fp"))
        .where(col("jac_fp") >= 500000)
    }),

    // MinHash-LSH near-dup candidates (xxhash64 permutation hashes, 16
    // perms, 4 bands) verified by exact Jaccard; the DuckDB twin replays
    // the whole signature/banding/verification chain.
    "q_dedup_minhash" -> ((s, dir) =>
      pipeline.Dedup.minhashPairs(wide(s, t(s, dir, "documents")), shingleLen = 5,
          numPerm = 16, bands = 4)
        .select(col("ida"), col("idb"), col("jac_fp"))),

    // k-hop neighborhood audit over the near-dup graph — the diagnostic a
    // dedup pipeline runs BEFORE resolving: per doc, distinct neighbors at
    // 1 hop and within 2 hops. A 2-hop count exploding past the 1-hop
    // count flags chain-collapse risk (CC will glue those docs) and
    // banding pathologies. Scale shape: one edge self-join bounded by
    // degree² on the BANDED graph (degrees are banding-bounded, the same
    // argument as the pair generators) — never an all-pairs reach.
    "q_graph_khop" -> ((s, dir) => {
      val pr = pipeline.Dedup.simhashPairs(wide(s, t(s, dir, "documents")), verifyHamming = 8)
        .select(col("ida"), col("idb"))
      // the symmetric edge list feeds FOUR subtrees (hop2 twice, d1, the
      // reach union) — materialize once or the banding join + hamming
      // verification replays per consumer
      val e = pr.unionByName(pr.select(col("idb").as("ida"), col("ida").as("idb")))
        .distinct().localCheckpoint(false)
      val hop2 = e.as("x").join(e.as("y"), col("x.idb") === col("y.ida"))
        .select(col("x.ida").as("ida"), col("y.idb").as("idb"))
        .where(col("ida") =!= col("idb"))
      // e is distinct by construction, so a plain count equals
      // count(DISTINCT); the 2-hop reach dedupes INSIDE one aggregation
      // (partial collect_set per map task) — one exchange on ida instead
      // of a (ida, idb) distinct exchange followed by an ida exchange;
      // per-group set size is degree-bounded by the banding contract
      val d1 = e.groupBy(col("ida")).agg(count(lit(1)).as("n_hop1"))
      e.unionByName(hop2)
        .groupBy(col("ida"))
        .agg(size(collect_set(col("idb"))).cast("long").as("n_within2"))
        .join(d1, "ida")
        .select(col("ida").as("doc_id"), col("n_hop1"), col("n_within2"))
    }),

    // dedup cluster RESOLUTION: verified near-dup pairs -> connected
    // components -> keep-min-per-component (the actual "which rows to
    // keep" deliverable; exact dedup's keep-min rule generalized to the
    // near-dup graph). Oracle: DuckDB recursive-CTE transitive closure
    // over the same minhash pair chain.
    "q_dedup_resolve" -> ((s, dir) =>
      pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashPairs(wide(s, t(s, dir, "documents")), shingleLen = 5,
            numPerm = 16, bands = 4)
          .where(col("jac_fp") >= 600000))),

    // SimHash 60-bit near-dup pairs via 15-bit chunk banding (guaranteed
    // recall at hamming<=3 = chunks-1; the 4..8 band is best-effort
    // verification — see Dedup banding contract) — exact DuckDB twin
    "q_dedup_simhash" -> ((s, dir) =>
      pipeline.Dedup.simhashPairs(wide(s, t(s, dir, "documents")), verifyHamming = 8)
        .select(col("ida"), col("idb"), col("hamming"))),

    // INCREMENTAL dedup — the corpus-refresh shape (delta docs arrive;
    // the committed keep-set must merge with delta-involved pairs ONLY,
    // never a recomputed old×old pair space): committed = the old
    // corpus' resolve; delta pairs come from the |delta|-proportional
    // band join (simhashDeltaPairs); resolveDelta merges via the
    // committed star edges. The ORACLE is the FULL RERUN over the grown
    // corpus — the row-identical equivalence is the operator's whole
    // guarantee, checked end-to-end by DuckDB (and again, graph-shaped,
    // by DedupIncrementalSpec).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("doc_id") < 2500).select(col("doc_id"), col("text"))
      val hs = pipeline.Dedup.simhash(docs).localCheckpoint(false) // feeds old + delta passes
      val isDelta = pmod(col("doc_id"), lit(4L)) === 0L
      val committed = pipeline.Dedup.resolveClusters(
          pipeline.Dedup.simhashPairsFromHashes(hs.where(!isDelta), verifyHamming = 8)
            .select(col("ida"), col("idb")))
        .select(col("doc_id"), col("rep_id"))
      val deltaPairs = pipeline.Dedup.simhashDeltaPairs(hs, isDelta, verifyHamming = 8)
      pipeline.Dedup.resolveDelta(committed, deltaPairs.select(col("ida"), col("idb")))
    }),

    // ---------- streaming ----------

    // streaming corpus-refresh ADMISSION GATE — incremental dedup meets
    // the streaming family: delta documents (doc_id % 4 == 0) ARRIVE AS
    // A STREAM; each micro-batch gates against the COMMITTED corpus'
    // simhash band-bucket table (the index form of Dedup.simhashBuckets)
    // with ONE |batch|-proportional equi-join on (chunk, ck) + the
    // hamming<=8 verification, and only docs that near-dup NOTHING
    // committed append to the sink. foreachBatch is the documented
    // pattern for per-batch joins; no stream state — the committed
    // index IS the state, and it lives in a table, not an executor.
    // Intra-batch dups are the batch dedup operator's job (documented).
    "q_stream_admit" -> ((s, dir) => {
      val docs = wide(s, t(s, dir, "documents").where(col("doc_id") < 2500)
        .select(col("doc_id"), col("text")))
      val committed = pipeline.Dedup.simhashBuckets(
          pipeline.Dedup.simhash(docs.where(pmod(col("doc_id"), lit(4L)) =!= 0L)))
        .select(col("chunk"), col("ck"), col("doc_id").as("cid"), col("sh").as("csh"))
        .localCheckpoint(false) // stands in for the committed bucket table
      runDocStream(s, dir, "stream_admit") { batch =>
        val arr = pipeline.Dedup.simhash(
          batch.where(col("doc_id") < 2500 && pmod(col("doc_id"), lit(4L)) === 0L)
            .select(col("doc_id"), col("text")))
        val rejected = pipeline.Dedup.simhashBuckets(arr)
          .join(committed, Seq("chunk", "ck"))
          .where(col("doc_id") =!= col("cid") &&
            bit_count(col("sh").bitwiseXOR(col("csh"))) <= 8)
          .select(col("doc_id")).distinct()
        arr.join(rejected, Seq("doc_id"), "left_anti")
      }
    }),

    // Structured Streaming: tumbling hourly window with watermark over the
    // events table driven to completion via an in-memory sink; value-equal
    // to the batch oracle (same rollup as q_events_window)
    "q_stream_window" -> ((s, dir) => {
      runStream(s, dir, "stream_window") { stream =>
        stream
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
          .select(unix_millis(col("window.start")).as("hour_ms"), col("event_type"),
            col("n"), col("value_cents"))
      }
    }),

    // stream-static join: the event stream broadcast-joins the static
    // customer dim (left, null segment -> -1), then a stateful rollup;
    // value-equal to the batch oracle
    "q_stream_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey").as("segment"))
      runStream(s, dir, "stream_join") { stream =>
        stream.join(broadcast(dim), Seq("user_id"), "left")
          .withColumn("seg", coalesce(col("segment"), lit(-1)))
          .withWatermark("ts", "1 hour")
          .groupBy(col("seg"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
      }
    }),

    // streaming geofence (geospatial x streaming composition): events
    // stream in, each row maps to its user's z14 cell and gates by
    // membership in the COMMITTED orders cover (compacted z14->z11,
    // computed from the batch table) through the same ancestor-chain
    // broadcast equi-join coverJoin uses — stateless per row, so the
    // watermarked per-zone rollup is the ONLY state; the cover table is
    // the scalable geofence state, exactly like q_stream_admit's bucket
    // table
    // stream-STREAM interval join — the last Structured Streaming join
    // shape the engine lacked (stream-static and per-batch gates exist):
    // purchases and signups are two filtered views of the event stream,
    // joined per user with an event-time range condition; BOTH sides
    // carry watermarks, which is what lets Spark bound the symmetric
    // hash-join state (rows older than watermark + range are evicted).
    // Oracle-equality caveat as the rest of the family: the single-file
    // source delivers one micro-batch, within which no state is evicted,
    // so the append output equals the batch join; in a live feed,
    // late rows beyond the watermark are dropped BY DESIGN.
    "q_stream_sjoin" -> ((s, dir) => {
      runStream(s, dir, "stream_sjoin", mode = "append") { stream =>
        val p = stream.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val g = stream.where(col("event_type") === "signup")
          .select(col("user_id").as("g_user"), col("event_id").as("g_event"),
            col("ts").as("g_ts"))
          .withWatermark("g_ts", "1 hour")
        p.join(g, col("user_id") === col("g_user") &&
            col("g_ts") <= col("p_ts") &&
            col("g_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
          .select(col("user_id"), col("p_event"), col("g_event"),
            unix_micros(col("p_ts")).as("p_us"), unix_micros(col("g_ts")).as("g_us"))
      }
    }),

    "q_stream_geofence" -> ((s, dir) => {
      val cover = pipeline.CellOps.compact(
        t(s, dir, "orders").select(
          GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 14).as("cell_id")),
        zMax = 14, zMin = 11)
      runStream(s, dir, "stream_geofence") { stream =>
        val pts = stream.withColumn("cell_id",
          GeoF.cellAtWgs(latOf(col("user_id") * 3), lngOf(col("user_id") * 5), 14))
        pipeline.CellOps.coverJoin(pts, cover, zMax = 14, zMin = 11)
          .withWatermark("ts", "1 hour")
          .groupBy(col("cover_cell"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
      }
    }),

    // streaming stateful dedup: dropDuplicatesWithinWatermark on
    // (user_id, event_type) — the BOUNDED-STATE pattern (state for a key is
    // evicted once the watermark passes its event time + delay; plain
    // dropDuplicates keeps keyless-in-event-time state forever — VERDICT r2
    // "What's wrong" #2) — in append mode (deduped rows emit as they
    // arrive; no complete-mode re-collection per trigger). The distinct-
    // user rollup runs as a batch agg over the sink table. Oracle-equality
    // caveat, stated plainly: count(DISTINCT) equality holds because the
    // single-file source delivers ONE micro-batch, within which all state
    // is retained; in a genuinely incremental feed, duplicates arriving
    // after the watermark passed their key's first event time + 1h are
    // re-emitted BY DESIGN — that re-emission is the price of bounded
    // state and is the documented semantics of the operator, not a bug.
    "q_stream_dedup" -> ((s, dir) => {
      val deduped = runStream(s, dir, "stream_dedup", mode = "append") { stream =>
        stream
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      }
      deduped.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    }),

    // streaming session windows: per-user sessions with a 30-min gap via
    // the built-in session_window (the declarative form — no hand-rolled
    // state). Append mode with a zero watermark delay: a session emits
    // once the watermark (= max event time seen) passes its end, so the
    // open tail sessions stay in state BY DESIGN — the oracle mirrors the
    // finalization cutoff exactly (sessions with end <= global max ts).
    "q_stream_session" -> ((s, dir) => {
      runStream(s, dir, "stream_session", mode = "append") { stream =>
        stream
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
          .select(col("user_id"),
            unix_millis(col("session_window.start")).as("start_ms"),
            unix_millis(col("session_window.end")).as("end_ms"),
            col("n"), col("value_cents"))
      }
    }),

    // streaming custom state (flatMapGroupsWithState): per-user admission
    // cap — emit only each user's FIRST 3 events by (event time, id), the
    // streaming form of the per-class cap (A1 balance). State per key is
    // one counter (bounded); within the micro-batch the group iterator is
    // sorted before admitting, so output is arrival-order-independent.
    "q_stream_cap" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      runStream(s, dir, "stream_cap", mode = "append") { stream =>
        // FULL microsecond precision for the admission order — the oracle
        // orders by the raw (us) timestamp; ms truncation could reorder
        // same-user events inside one millisecond
        stream.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"))
          .as[(Long, Long, Long)]
          .groupByKey(_._2)
          .flatMapGroupsWithState[Long, (Long, Long)](
              OutputMode.Append(), GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[Long]) =>
              val seen = state.getOption.getOrElse(0L)
              val admitted = rows.toSeq.sortBy(r => (r._3, r._1))
                .take(math.max(0, (3 - seen).toInt))
              state.update(seen + admitted.size)
              admitted.map(r => (r._1, user)).iterator
          }.toDF("event_id", "user_id")
      }
    }),

    // ---------- multimodal / image ops over the synthetic corpus ----------
    // (engine-only rows checks: the sf dirs carry no image table; these run
    // on the deterministic synthetic world regardless of `dir`)

    // I1: decode + metadata extraction; verifies stored w/h/phash per row
    "q_i1_decode_meta" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      images.select(col("image_id"),
          functions.ImageUdfs.decodeDims(col("bytes")).as("dims"),
          functions.ImageUdfs.phashUdf(col("bytes")).as("ph"), col("phash"), col("fmt"))
        .select(col("image_id"), col("dims._1").as("h"), col("dims._2").as("w"),
          bit_count(col("ph").bitwiseXOR(col("phash"))).as("phash_drift"))
        .where(col("h") === 256 && col("w") === 256 && col("phash_drift") <= 8)
    }),

    // image QUALITY gate — the blank/low-contrast filter an image
    // training corpus runs before anything else (the pixel-modality
    // sibling of the Gopher-style text quality signals): per tile ONE
    // decode yields integer BT.601 luma stats, and mean/variance/range +
    // the gate flags derive as exact integer column math — the decode
    // kernel is spec-pinned, every relational step downstream is
    // DuckDB-replayed over the aux export (the q_i1_decode_meta pattern)
    "q_image_quality" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      images.select(col("image_id"),
          functions.ImageUdfs.grayStatsUdf(col("bytes")).as("gs"))
        .select(col("image_id"), col("gs._1").as("yn"), col("gs._2").as("ysum"),
          col("gs._3").as("ysumsq"), col("gs._4").as("ymin"), col("gs._5").as("ymax"))
        // zero-pixel tiles are excluded (they are a decode-meta failure,
        // not a quality judgement; and yn=0 would NULL in Spark but
        // raise in DuckDB — the twin filters identically)
        .where(col("yn") >= 1)
        .select(col("image_id"),
          expr("ysum * 1000 div yn").as("y_mean_fp"),
          expr("(ysumsq * yn - ysum * ysum) div (yn * yn)").as("y_var"),
          (col("ymax") - col("ymin")).cast("long").as("y_range"))
        .select(col("image_id"), col("y_mean_fp"), col("y_var"), col("y_range"),
          when(col("y_range") <= 4, 1L).otherwise(0L).as("flag_blank"),
          when(col("y_var") < 100, 1L).otherwise(0L).as("flag_low_contrast"))
    }),

    // A3/S18: minimap — mean tile color per cell (diagnostic aggregate)
    "q_a3_minimap" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      images.select(col("cell_id"), functions.ImageUdfs.meanColorUdf(col("bytes")).as("bgr"))
        .select(col("cell_id"), floor(col("bgr")(0)).cast("long").as("b"),
          floor(col("bgr")(1)).cast("long").as("g"), floor(col("bgr")(2)).cast("long").as("r"))
    }),

    // tile-pyramid rollup: every slippy-map overview level z18..z14 from
    // ONE leaf decode pass — each coarser level is one groupBy of the
    // PREVIOUS level on its parent id, carrying exact integer channel
    // sums + tile counts (associative, so the hierarchical path equals
    // the flat leaf-to-ancestor grouping the DuckDB twin replays). L
    // shuffles over a 4x-shrinking relation: total shuffled rows <= 4/3
    // of the leaf level, vs L full leaf re-scans for per-level grouping.
    "q_tile_pyramid" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      val leafTiles = images
        .select(col("cell_id"), functions.ImageUdfs.meanColorUdf(col("bytes")).as("bgr"))
        .select(col("cell_id"), floor(col("bgr")(0)).cast("long").as("mb"),
          floor(col("bgr")(1)).cast("long").as("mg"),
          floor(col("bgr")(2)).cast("long").as("mr"))
      pipeline.CellOps.pyramidRollup(leafTiles, zLeaf = 18, zMin = 14)
    }),

    // cross-modal consistency audit over the image+caption corpus: pairs
    // whose CAPTIONS near-dup (text simhash band join, hamming<=8) get
    // their decoded phash distance attached — `audit` flags the
    // caption-dup-but-pixels-differ rows (stale/copy-pasted captions, the
    // multimodal quality check a 10^12 image+caption table needs). Both
    // banding chains are the committed-shape candidate generators; never
    // an image×image pair space.
    "q_crossmodal_audit" -> ((s, _) => {
      // caption chain + phash chain both scan the synthetic corpus —
      // generate once
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
        .localCheckpoint(false)
      val caps = images.select(col("cell_id").as("doc_id"), col("caption").as("text"))
      val ph = images.select(col("cell_id").as("id"),
        functions.ImageUdfs.phashUdf(col("bytes")).as("ph"))
      pipeline.Dedup.simhashPairs(caps, verifyHamming = 8)
        .join(ph.select(col("id").as("ida"), col("ph").as("pha")), "ida")
        .join(ph.select(col("id").as("idb"), col("ph").as("phb")), "idb")
        .select(col("ida"), col("idb"), col("hamming").as("caption_hamming"),
          bit_count(col("pha").bitwiseXOR(col("phb"))).as("pixel_hamming"))
        .withColumn("audit", col("pixel_hamming") > 10)
    }),

    // PIXEL-content pyramid (servable overview tiles): parents = 2x2
    // child mosaics halved by exact box average, two levels up from the
    // z18 leaves. Engine-only (image bytes) — self-checked against the
    // INTEGER mean rollup of the same leaves: on full quads the decoded
    // parent mean must sit within the floor-rounding band (<=3/channel)
    // of the rollup mean scaled by presence n/4; emitted rows are the
    // parents that PASS (all of them, or the count shifts and the
    // rows-only gate trips).
    "q_image_pyramid" -> ((s, _) => {
      // the synthetic corpus (576 jpeg encodes) feeds the pyramid AND the
      // leaf-mean evidence — generate once (localCheckpoint, auto-released)
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
        .localCheckpoint(false)
      val pyr = pipeline.ImagePyramid.build(
        images.select(col("cell_id"), col("bytes")), zLeaf = 18, zMin = 16)
      val leafMeans = images
        .select(col("cell_id"), functions.ImageUdfs.meanColorUdf(col("bytes")).as("bgr"))
        .select(col("cell_id"), floor(col("bgr")(0)).cast("long").as("mb"),
          floor(col("bgr")(1)).cast("long").as("mg"),
          floor(col("bgr")(2)).cast("long").as("mr"))
      val roll = pipeline.CellOps.pyramidRollup(leafMeans, zLeaf = 18, zMin = 16)
        .where(col("zl") < 18)
      val dims = functions.ImageUdfs.decodeDims(col("bytes"))
      pyr.join(roll.drop("zl"), Seq("cell_id"))
        .select(col("cell_id"), col("zl"), col("n_tiles"),
          functions.ImageUdfs.meanColorUdf(col("bytes")).as("pm"),
          col("mean_b"), col("mean_g"), col("mean_r"), dims.as("dims"))
        // presence scaling: the rollup's n_tiles counts LEAVES under the
        // cell; full coverage at level zl is 4^(18-zl) leaves, and black
        // fill dilutes the pixel mean by exactly the missing fraction
        .withColumn("fullq", pow(lit(4.0), lit(18) - col("zl")))
        .select(col("cell_id"), col("zl"), col("n_tiles"),
          greatest(
            abs(col("pm")(0) * col("fullq") / col("n_tiles") - col("mean_b")),
            abs(col("pm")(1) * col("fullq") / col("n_tiles") - col("mean_g")),
            abs(col("pm")(2) * col("fullq") / col("n_tiles") - col("mean_r")))
            .as("drift"),
          (col("n_tiles") === col("fullq")).as("full"),
          col("dims._1").as("h"), col("dims._2").as("w"))
        .where(col("h") === 256 && col("w") === 256 &&
          (!col("full") || col("drift") <= 3.0))
        .select(col("cell_id"), col("zl"), col("n_tiles"),
          floor(col("drift") * 100).cast("long").as("drift_c"))
    }),

    // phash near-dup buckets over the corpus (perceptual dedup; I-ops + LSH
    // banding reused from SimHash machinery)
    "q_phash_neardup" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      val hs = images.select(col("cell_id").as("doc_id"), col("phash").as("sh"))
      // reuse the 16-bit chunk banding on the stored 64-bit phash
      pipeline.Dedup.simhashPairsFromHashes(hs, verifyHamming = 6, hashBits = 64)
        .select(col("ida"), col("idb"), col("hamming"))
    }),

    // image dedup end-to-end: perceptual near-dup PAIRS (tight hamming<=2
    // budget — the duplicate-strength regime) resolve to keep/drop
    // decisions through the same connected-components operator as text
    // and semantic dedup — the two-stage design closed over every
    // modality the engine carries
    "q_phash_resolve" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      val hs = images.select(col("cell_id").as("doc_id"), col("phash").as("sh"))
      val pairs = pipeline.Dedup.simhashPairsFromHashes(hs, verifyHamming = 2, hashBits = 64)
      pipeline.Dedup.resolveClusters(pairs.select(col("ida"), col("idb")))
    }),

    // multimodal frame sampling: the REAL operator over a derived videos
    // table; the frame_png column is dropped so Catalyst prunes the stub
    // decode and the oracle value-checks the relational plumbing (frame
    // selection + exact pts) — pixel plumbing is spec'd in MultimodalSpec
    "q_video_frames" -> ((s, dir) => {
      val videos = t(s, dir, "customer").where(col("c_custkey") <= 200).select(
        col("c_custkey").as("video_id"),
        col("c_name").cast("binary").as("bytes"),
        (lit(24) + col("c_custkey") % 6).cast("int").as("fps"),
        (col("c_custkey") % 50 + 1).cast("int").as("n_frames"))
      pipeline.VideoOps.sampleFrames(videos, everyNth = 5)
        .select(col("video_id"), col("frame_idx"), col("pts_ms"))
    }),

    // I-ops: deterministic box-average resize over the corpus — single
    // decode per tile (resizeSelfCheck), emits only tiles whose resize
    // preserves dims + mean color; MultimodalSpec pins the row count to
    // the FULL corpus so a regression fails a spec instead of silently
    // shrinking this output
    "q_i_resize" -> ((s, _) => {
      val images = tables.SyntheticWorld.images(s, tables.SyntheticWorld.testWorld)
      images.select(col("cell_id"),
          functions.ImageUdfs.resizeSelfCheck(col("bytes")).as("c"))
        .where(col("c._1") === 64 && col("c._2") === 64 && col("c._3") < 2.0)
        .select(col("cell_id"))
    }),

    // BM25 ranked retrieval against the COMMITTED inverted index — the
    // text-index lifecycle (build-once/commit/probe-many, the ANN stack's
    // contract applied to full-text retrieval): 5 literal queries, top-5
    // docs each. Every per-term score is ONE shared double expression
    // floored to integer micro-units BEFORE the per-doc sum (cross-engine
    // double accumulation order never matters); ranking orders by the
    // integer score. Twin replays index build + the identical expression.
    "q_text_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = pipeline.Bm25.buildStaged(pipeline.TextStages.runnerFor(docs), wide(s, docs))
      val queries = s.range(1, bm25Queries.length + 1L)
        .select(col("id").as("query_id"),
          element_at(array(bm25Queries.map(lit): _*), col("id").cast("int")).as("qtext"))
      pipeline.Bm25.topK(m, queries, k = 5)
    }),

    // count-min frequency sketch over the 5-char shingle stream (the
    // boilerplate/hot-key monitor): 4x256 counters built in ONE map-side-
    // combined groupBy; every distinct shingle probed back through the
    // broadcast sketch (min over its 4 cells) next to its exact count —
    // est >= exact always (the one-sided CMS guarantee; SketchSpec pins
    // it per key, the twin pins every counter and estimate).
    "q_sketch_cms" -> ((s, dir) => {
      // the 1.5M-row shingle stream feeds THREE consumers (sketch build,
      // exact counts, distinct probes) — materialize once
      // (localCheckpoint, auto-released) instead of re-running the
      // generate per consumer (guide §2.4 shared-subtree rule)
      val sh = wide(s, t(s, dir, "documents")).where(length(col("text")) >= 5)
        .select(explode(expr(
          "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")).as("g"))
        .localCheckpoint(false)
      val sketch = pipeline.Sketches.cmsBuild(sh, col("g"), d = 4, w = 256)
      val exact = sh.groupBy(col("g")).agg(count(lit(1)).as("exact"))
      pipeline.Sketches.cmsEstimate(sketch, sh.distinct(), col("g"), d = 4, w = 256)
        .join(exact, col("k") === col("g"))
        .select(col("k"), col("est"), col("exact"))
    }),

    // equi-join CARDINALITY estimation from two committed CMS sketches
    // (AMS/CMS inner product) — the optimizer-style decision input
    // (broadcast? salt? partition count?) from KB-sized tables, never
    // touching the raw relations: est = min_r Σ_cl cA·cB >= the exact
    // join size (DuckDB-checked beside it). Purchases x clicks on
    // user_id; d=4, w=256.
    "q_sketch_joinsize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // each side feeds its sketch AND the exact join-size evidence —
      // materialize once per side
      val a = ev.where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("g")).localCheckpoint(false)
      val b = ev.where(col("event_type") === "click")
        .select(col("user_id").cast("string").as("g")).localCheckpoint(false)
      val sa = pipeline.Sketches.cmsBuild(a, col("g"), d = 4, w = 256)
      val sb = pipeline.Sketches.cmsBuild(b, col("g"), d = 4, w = 256)
      val exact = a.groupBy(col("g")).agg(count(lit(1)).as("na"))
        .join(b.groupBy(col("g")).agg(count(lit(1)).as("nb")), "g")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("joinsize_exact"))
      pipeline.Sketches.cmsJoinSize(sa, sb).crossJoin(exact)
    }),

    // per-source distinct-shingle cardinality via 64-register HLL — the
    // bounded-memory distinct counter whose register TABLE merges by MAX
    // (exact distinct per group at 10^12 rows needs a full (grp, key)
    // exchange; the sketch needs 64 rows per group). rho is the exact
    // trailing-zero observable (binary-string suffix — no float log);
    // the harmonic-mean denominator sums as a SCALED INTEGER so no
    // cross-engine double accumulation exists. exact attached as
    // evidence (SketchSpec bounds the relative error).
    "q_sketch_hll" -> ((s, dir) => {
      // two consumers (registers + exact distinct) — materialize once
      val sh = wide(s, t(s, dir, "documents")).where(length(col("text")) >= 5)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")).as("g"))
        .localCheckpoint(false)
      val regs = pipeline.Sketches.hllRegisters(sh, col("source"), col("g"))
      pipeline.Sketches.hllEstimate(regs)
        .join(sh.groupBy(col("source")).agg(countDistinct(col("g")).as("exact")),
          col("grp") === col("source"))
        .select(col("grp"), col("est_fp"), col("exact"))
    }),

    // per-source distinct estimate via k-minimum-values (bottom-k) —
    // the SET-OPERATION-capable distinct sketch (theta intersection
    // below); exact in milli-units whenever the sketch holds the whole
    // set (n < k), the unbiased (k-1)*2^60/h_k beyond
    "q_sketch_kmv" -> ((s, dir) => {
      val sh = wide(s, t(s, dir, "documents")).where(length(col("text")) >= 5)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")).as("g"))
      pipeline.Sketches.kmvEstimate(
        pipeline.Sketches.kmvSketch(sh, col("source"), col("g"), k = 32), k = 32)
    }),

    // theta-sketch distinct INTERSECTION between source pairs from their
    // bottom-k sketches alone (k-row joins — never the exact pairwise
    // set intersection a 10^12-doc overlap audit can't afford); exact
    // intersection attached as evidence
    "q_sketch_theta" -> ((s, dir) => {
      // sh feeds the sketch AND the exact-overlap evidence; sk feeds four
      // join subtrees (theta_a/theta_b/ga/gb) — without materialization
      // the plan replayed the full shingle generate 16 times (measured in
      // plans/r06/q_sketch_theta_before.txt)
      val sh = wide(s, t(s, dir, "documents")).where(length(col("text")) >= 5)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")).as("g"))
        .localCheckpoint(false)
      val sk = pipeline.Sketches.kmvSketch(sh, col("source"), col("g"), k = 32)
        .localCheckpoint(false) // tiny: <= k rows per source
      val pairs = Seq(("src0", "src1"), ("src0", "src2"), ("src1", "src2"))
      val pdf = s.range(0, 3).select(
        element_at(array(pairs.map(p => lit(p._1)): _*), col("id").cast("int") + 1).as("ga"),
        element_at(array(pairs.map(p => lit(p._2)): _*), col("id").cast("int") + 1).as("gb"))
      // ONE distinct pass feeds both sides of the exact-overlap self-join
      // (the two differently-renamed distincts never shared an exchange)
      val dst = sh.distinct().localCheckpoint(false)
      val exact = dst.toDF("ga", "g")
        .join(dst.toDF("gb", "g"), "g")
        .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("exact"))
      pipeline.Sketches.thetaIntersect(sk, pdf, k = 32)
        .join(exact, Seq("ga", "gb"))
        .select(col("ga"), col("gb"), col("est_fp"), col("exact"))
    }),

    // geodesic (spherical) cell area in whole m² over the distinct z14
    // order cells — cover algebra to real-world area accounting: tanh-
    // only spherical-zone math (no trig), the shared expression string
    // evaluated identically by the twin
    "q_cell_area" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      val cells = ord.select(
        GeoF.cellAtWgs(col("lat"), col("lng"), 14).as("cell_id")).distinct()
      pipeline.CellOps.cellArea(cells)
    }),

    // per-user trajectory accounting (the GPS-track QA op): events order
    // by (ts, event_id) per user, each segment's great-circle meters
    // FLOOR per segment before the sum (order-free integer reduction —
    // a raw double path sum would be accumulation-order-dependent), plus
    // the net first->last displacement. path >= net (triangle
    // inequality) up to floor slack; straightness = net/path derivable.
    // ONE window pass + one aggregation, both keyed by user.
    "q_trajectory" -> ((s, dir) => {
      // positions are md5-derived (portable) — a LINEAR key->coord map
      // would make every track collinear (path == net, degenerate)
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"),
        (lit(53.8306) + (pipeline.Dedup.h60(concat(lit("tla|"),
          col("event_id").cast("string"))) % 14000).cast("double") * lit(0.00001)).as("lat"),
        (lit(27.4026) + (pipeline.Dedup.h60(concat(lit("tlg|"),
          col("event_id").cast("string"))) % 29000).cast("double") * lit(0.00001)).as("lng"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val seg = ev
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plng", lag(col("lng"), 1).over(w))
        .where(col("plat").isNotNull)
        .select(col("user_id"), floor(GeoF.haversineMeters(
          col("plat"), col("plng"), col("lat"), col("lng"))).cast("long").as("seg_m"))
      val ends = ev.groupBy(col("user_id")).agg(
          min_by(struct(col("lat"), col("lng")), struct(col("ts"), col("event_id"))).as("f"),
          max_by(struct(col("lat"), col("lng")), struct(col("ts"), col("event_id"))).as("l"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"), floor(GeoF.haversineMeters(
          col("f.lat"), col("f.lng"), col("l.lat"), col("l.lng"))).cast("long").as("net_m"))
      seg.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_segs"), sum(col("seg_m")).as("path_m"))
        .join(ends, "user_id")
        .select(col("user_id"), col("n_events"), col("n_segs"),
          col("path_m"), col("net_m"))
    }),

    // Sobel gradient over the z17 count raster — focal CONVOLUTION, the
    // weighted generalization of q_raster_focal (any kernel is the same
    // scatter-explode + one groupBy with a different literal array);
    // integer responses + squared magnitude, the density-edge detector
    // that finds urban-boundary cells in a point-count raster.
    "q_raster_sobel" -> ((s, dir) => {
      val raster = t(s, dir, "orders").select(
        GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 17).as("cell_id"))
        .groupBy(col("cell_id")).agg(count(lit(1)).as("v"))
      pipeline.CellOps.sobel(raster)
    }),

    // bounded distance transform — the buffered-exclusion primitive: per
    // cell within Chebyshev radius 3 of the thinned z18 order mask, the
    // MIN squared Euclidean distance (cell units) to a mask cell. The
    // reference's negative sampling excludes exactly the painted cells;
    // `where d2 > r²` over this relation is the planet-scale "no negative
    // within r cells of a positive" form. One literal offset explode +
    // one min groupBy — never an iterative frontier.
    "q_raster_dt" -> ((s, dir) => {
      val mask = t(s, dir, "orders")
        .where(krank(col("o_orderkey")) % 10 < 4)
        .select(GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 18).as("cell_id"))
      pipeline.CellOps.distanceTransform(mask, maxRadius = 3)
    }),

    // IDW spatial interpolation — estimate a field value at probe
    // points from the samples within R meters (the kriging-lite every
    // geo pipeline runs for gap filling): gather via the grid-blocked
    // radiusJoin (never a cross product), integer weights
    // 10^6 div (floor_meters + 1), estimate = floor-weighted mean —
    // all integer and order-free, so the twin is bit-exact. Probes with
    // no sample in range drop (IDW is undefined there), deterministically.
    "q_geo_idw" -> ((s, dir) => {
      val probes = t(s, dir, "customer").where(col("c_custkey") <= 50)
        .select(col("c_custkey").as("probe_id"),
          latOf(col("c_custkey") * 7).as("plat"), lngOf(col("c_custkey") * 13).as("plng"))
      val pts = t(s, dir, "orders").select(
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"),
        latOf(col("o_orderkey")).as("lat"), lngOf(col("o_orderkey")).as("lng"))
      pipeline.KnnJoin.radiusJoin(probes, pts, radiusM = 300.0, maxAbsLat = 54.0)
        .withColumn("w", expr("CAST(1000000 AS BIGINT) div (CAST(floor(dist_m) AS BIGINT) + 1)"))
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_samples"),
          sum(expr("w * v")).as("wv"), sum(col("w")).as("ws"))
        .select(col("probe_id"), col("n_samples"), expr("wv div ws").as("idw_fp"))
    }),

    // focal (neighborhood) statistics — the raster-algebra staple
    // (focal sum/count/max over the 3×3 window) on the z17 order-count
    // raster: each cell fans out to its 9 neighbor keys (literal offset
    // explode, zero shuffle to build) and meets the raster in ONE
    // equi-join + one cell groupBy — never a 2D window. With polygonize
    // and the pyramid this closes the raster family: paint (R1-R3),
    // extract (polygonize), neighborhood (focal), overview (pyramid).
    "q_raster_focal" -> ((s, dir) => {
      val raster = t(s, dir, "orders").select(
        GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 17).as("cell_id"))
        .groupBy(col("cell_id")).agg(count(lit(1)).as("v"))
      pipeline.CellOps.focalStats(raster, radius = 1)
    }),

    // explicit hot-key SALTED join under the oracle gate — the skew
    // handling the north rule names, DuckDB-checked for row identity:
    // the 3 hottest point cells (bounded 3-row driver action,
    // deterministic tie order) spread over 8 salt sub-keys while the
    // matching dimension rows replicate — the plan-level skew split AQE
    // cannot apply when a positional aggregation follows. The twin is
    // the PLAIN join: equality IS the operator's guarantee.
    "q_salted_cell_join" -> ((s, dir) => {
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 14).as("cell_id"))
      val img = t(s, dir, "customer").select(
        GeoF.cellAtWgs(latOf(col("c_custkey")), lngOf(col("c_custkey")), 14).as("cell_id"))
        .groupBy(col("cell_id")).agg(count(lit(1)).as("c_n"))
      val hot = pts.groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("cell_id")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      pipeline.SaltedJoin.joinOnCell(pts, img, hot, saltFactor = 8,
        pointKey = "o_orderkey")
    }),

    // geofence TRANSITION log (enter/exit events) — the trajectory ×
    // cover composition: each event resolves its zone against the
    // compacted orders cover (coverJoin; outside the cover = zone -1),
    // and a per-user lag window emits exactly the rows where the zone
    // CHANGED — the state-transition feed a fleet-monitoring pipeline
    // stores (q_stream_geofence is the rollup form; this is the event
    // form). Scale shape: one broadcast cover join (chain-length rows
    // per event, never an exchange of the event table) + one user-keyed
    // window — per-event cost is bounded by the z range.
    "q_geo_transitions" -> ((s, dir) => {
      val cover = pipeline.CellOps.compact(
        t(s, dir, "orders").select(
          GeoF.cellAtWgs(latOf(col("o_orderkey")), lngOf(col("o_orderkey")), 14).as("cell_id")),
        zMax = 14, zMin = 11)
      // wide scan (the md5 h60 chain runs twice per event) + one
      // materialization: ev feeds BOTH the zone join and the final join
      val ev = wide(s, t(s, dir, "events")).select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        (lit(53.8306) + (pipeline.Dedup.h60(concat(lit("tla|"),
          col("event_id").cast("string"))) % 14000).cast("double") * lit(0.00001)).as("lat"),
        (lit(27.4026) + (pipeline.Dedup.h60(concat(lit("tlg|"),
          col("event_id").cast("string"))) % 29000).cast("double") * lit(0.00001)).as("lng"))
        .withColumn("cell_id", GeoF.cellAtWgs(col("lat"), col("lng"), 14))
        .localCheckpoint(false)
      val zoned = pipeline.CellOps.coverJoin(
        ev.select(col("event_id"), col("cell_id")), cover, zMax = 14, zMin = 11)
        .select(col("event_id"), col("cover_cell").as("zone"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev.join(zoned, Seq("event_id"), "left")
        .withColumn("zone", coalesce(col("zone"), lit(-1L)))
        .withColumn("from_zone", lag(col("zone"), 1).over(w))
        .where(col("from_zone").isNotNull && col("from_zone") =!= col("zone"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("from_zone"), col("zone").as("to_zone"))
    }),

    // sketch LIFECYCLE — the corpus-refresh shape for monitor state
    // (q_ann_append's contract applied to sketches): the BASE corpus'
    // CMS is a COMMITTED StageRunner snapshot; the delta batch sketches
    // independently (|delta|-proportional) and merges by counter SUM.
    // The twin computes the whole-corpus sketch directly, so the
    // DuckDB-checked equality IS the linearity/mergeability proof.
    "q_sketch_refresh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.where(col("doc_id") % 2 === 0)
      val delta = docs.where(col("doc_id") % 2 =!= 0)
      val committed = pipeline.TextStages.runnerFor(base).stage(CmsStageName)(
        pipeline.Sketches.cmsBuild(shinglesOf(base), col("g"), d = 4, w = 256))
      committed.unionByName(
          pipeline.Sketches.cmsBuild(shinglesOf(delta), col("g"), d = 4, w = 256))
        .groupBy(col("r"), col("cl")).agg(sum(col("c")).as("c"))
    }),

    // per-type value-quantile sketch: fixed 256-bin histogram (width 2,
    // mergeable counters) -> p50/p90 LOWER BOUNDS via the integer
    // den*cum >= num*n comparison (no ceil, no floats); bounds emitted
    // in centi-units of the value domain
    "q_sketch_quantile" -> ((s, dir) => {
      val hist = pipeline.Sketches.histogram(t(s, dir, "events"),
        col("event_type"), col("value"), binWidth = 2.0, nBins = 256)
      val p50 = pipeline.Sketches.histQuantileBin(hist, 1, 2)
        .select(col("grp"), col("n"), (col("q_bin") * 200L).as("p50_lb_c"))
      val p90 = pipeline.Sketches.histQuantileBin(hist, 9, 10)
        .select(col("grp"), (col("q_bin") * 200L).as("p90_lb_c"))
      p50.join(p90, "grp")
        .select(col("grp"), col("n"), col("p50_lb_c"), col("p90_lb_c"))
    }),

    // ---------- the four reference pipelines end-to-end (rows checks;
    // full semantics pinned by PipelineSpec goldens) ----------
    "q_pipeline_original" -> ((s, _) => pipelineCounts(s)(pipeline.Pipelines.originalTiles(s, _, _, _, _))),
    "q_pipeline_expand" -> ((s, _) => pipelineCounts(s)(pipeline.Pipelines.expandedCrops(s, _, _, _, _))),
    "q_pipeline_buildings" -> ((s, _) => pipelineCounts(s)(pipeline.Pipelines.buildings(s, _, _, _, _, ""))),
    "q_pipeline_roofshapes" -> ((s, _) => pipelineCounts(s)(pipeline.Pipelines.roofShapes(s, _, _, _, _, false))),
  )

  private def pipelineCounts(s: SparkSession)(
      f: (DataFrame, DataFrame, DataFrame, pipeline.Pipelines.Config) => DataFrame): DataFrame = {
    val w = tables.SyntheticWorld.testWorld
    val (bw, bs, be, bn) = w.bbox
    val cfg = pipeline.Pipelines.Config(z = w.z, bbox = (bw, bs, be, bn),
      limit = 60, train = 40, valid = 20)
    // generate each synthetic input ONCE (expand consumes the image table
    // in four branches — un-materialized, each branch re-ran the 576
    // jpeg-encode generation)
    f(tables.SyntheticWorld.osmNodes(s, w).localCheckpoint(false),
      tables.SyntheticWorld.osmWays(s, w).localCheckpoint(false),
      tables.SyntheticWorld.images(s, w).localCheckpoint(false), cfg)
      // deterministic per-(label,split) example-ID checksum: any change to
      // membership (not just counts) flips ids_hash (overflow-free: 40-bit
      // summands over bounded example counts)
      .groupBy(col("label"), col("split")).agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("example_id")), lit(1L << 40))).as("ids_hash"))
  }

  // =====================================================================
  // DuckDB oracles — same tables, same math, ANSI SQL
  // =====================================================================

  /** Twin of the CMS cell hashes: (g, r, h) for each distinct `g` of
    * `src` and hash row r in 0 until 4. */
  private def cmsKeyHashSql(src: String): String =
    pipeline.Sketches.keyHashSql(src, "g", (0 until 4).map(r => s"cms$r|"))

  /** Shared CTE chain of the KMV twins: source shingles `sh` -> distinct
    * (grp, kmv key hash) -> per-source bottom-32 sketch `sk`. */
  private val kmvCtes: String =
    s"""sh AS MATERIALIZED (
           SELECT source, substring(text, i::INT, 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)
           WHERE length(text) >= 5),
         hs AS (
           SELECT DISTINCT source AS grp, h
           FROM sh JOIN (${pipeline.Sketches.keyHashSql("sh", "g", Seq("kmv|"))}) USING (g)),
         rk AS (
           SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
           FROM hs),
         sk AS (SELECT grp, h FROM rk WHERE rk <= 32)"""

  /** Shared CTE chain of the winnowing twin (5-gram xxhash64 seed 42, hashed
    * once per distinct gram -> 4-gram window min -> distinct `fps`). */
  private val winnowCtes: String =
    s"""grams AS MATERIALIZED (
           SELECT doc_id, length(text) AS len, i - 1 AS p,
             substring(text, CAST(i AS INTEGER), 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)
           WHERE length(text) >= 5),
         gh AS (${pipeline.XxhashSql.xxh64Sql("(SELECT DISTINCT g FROM grams)", "g", "42", "h")}),
         wins AS (
           SELECT doc_id, p, len,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM grams JOIN gh USING (g)),
         fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE p <= len - 8)"""

  /** Shared CTE chain of the MinHash twin (shingles -> 16-perm xxhash64
    * hashes, one row per distinct shingle -> per-doc signatures -> 4-band
    * keys -> candidate pairs -> exact-Jaccard verification as `vpairs`) —
    * used by q_dedup_minhash and q_dedup_resolve. `sh` and `vpairs` are
    * MATERIALIZED: inlined, the recursive resolve re-ran the whole chain. */
  private val minhashCtes: String = {
    val permAggs = (0 until 16).map(p => s"min(h) FILTER (WHERE p = $p) AS h$p").mkString(", ")
    val minAggs = (0 until 16).map(p => s"min(h$p) AS h$p").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 4 until (b + 1) * 4).map(p => s"h$p").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS bh FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""sh AS MATERIALIZED (
           SELECT DISTINCT doc_id, substring(text, i, 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)),
         ph AS (SELECT g, $permAggs FROM (${pipeline.XxhashSql.xxh64Sql(
           "(SELECT DISTINCT g FROM sh), range(0, 16) AS perm(p)", "g", "p", "h")}) GROUP BY g),
         sig AS (SELECT doc_id, $minAggs FROM sh JOIN ph USING (g) GROUP BY doc_id),
         banded AS (
           $bandSelects),
         cand AS (
           SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         na AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.ida, c.idb, count(*) AS inter
           FROM cand c JOIN sh x ON x.doc_id = c.ida
                       JOIN sh y ON y.doc_id = c.idb AND y.g = x.g
           GROUP BY c.ida, c.idb),
         vpairs AS MATERIALIZED (
           SELECT c.ida, c.idb,
             CAST(floor(coalesce(i.inter, 0) * 1000000.0 /
               (a.n + b.n - coalesce(i.inter, 0))) AS BIGINT) AS jac_fp
           FROM cand c
           LEFT JOIN inter i ON i.ida = c.ida AND i.idb = c.idb
           JOIN na a ON a.doc_id = c.ida
           JOIN na b ON b.doc_id = c.idb)"""
  }

  /** Shared CTE chain of the sign-LSH twin: md5-derived integer hyperplanes
    * (64 planes) -> per-vector sign bits -> 4 chunk bucket values of 16
    * bits each (built directly per chunk — never a signed 64-bit word, so
    * shift semantics cannot diverge) as `chunks`, plus `quant`. The quant
    * relation is the annCorpus twin: the raw table UNION ALL the planted
    * near-dups (same ids, same per-dim double nudges, term-for-term). */
  private val annQuantCte: String =
    """quant AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS vq
           FROM embeddings
           UNION ALL
           SELECT 1000000 + b.vec_id * 8 + j.range AS vec_id, b.pos,
             CAST(floor((CAST(b.v AS DOUBLE) +
               CAST((b.vec_id + b.pos * (j.range + 1)) % 7 - 3 AS DOUBLE) * 0.0005::DOUBLE) * 1000) AS BIGINT) AS vq
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) - 1 AS pos
                 FROM embeddings WHERE vec_id < 40) b, range(0, 5) j)"""

  private val annChunkCtes: String =
    s"""hp AS (
           SELECT j.range AS j, i.range AS i,
             CAST('0x' || substr(md5('hp|' || CAST(j.range AS VARCHAR) || '|' || CAST(i.range AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000 AS hq
           FROM range(0, 64) j, range(0, 64) i),
         $annQuantCte,
         bits AS (
           SELECT q.vec_id, h.j,
             CASE WHEN sum(q.vq * h.hq) > 0 THEN 1 ELSE 0 END AS bit
           FROM quant q JOIN hp h ON q.pos = h.i GROUP BY q.vec_id, h.j),
         chunks AS (
           SELECT vec_id, j // 16 AS c,
             CAST(sum(CAST(bit AS BIGINT) << CAST(j % 16 AS INTEGER)) AS BIGINT) AS ck
           FROM bits GROUP BY vec_id, j // 16)"""

  /** One Lloyd's round (twin of an IvfIndex.centroidTable loop iteration):
    * squared-L2 assignment under `cin`, integer-exact per-dim mean
    * (floorDiv via the pmod identity — Spark `div` and DuckDB `//` agree
    * because the numerator is exactly divisible), empty lists keep their
    * previous centroid. */
  private def ivfRoundCtes(cin: String, r: Int, cout: String,
                           tq: String = "quant"): String =
    s"""d$r AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM $tq q JOIN $cin c ON c.pos = q.pos GROUP BY q.vec_id, c.cid),
         a$r AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM d$r) WHERE rn = 1),
         m$r AS (
           SELECT cid, pos, (s - ((s % n) + n) % n) // n AS c
           FROM (SELECT a.cid, q.pos, CAST(sum(q.vq) AS BIGINT) AS s, count(*) AS n
                 FROM a$r a JOIN $tq q ON q.vec_id = a.vec_id
                 GROUP BY a.cid, q.pos)),
         $cout AS (
           SELECT c.cid, c.pos, COALESCE(m.c, c.cq) AS cq
           FROM $cin c LEFT JOIN m$r m ON m.cid = c.cid AND m.pos = c.pos)"""

  /** Shared IVF-routing CTE chain (twin of IvfIndex.centroidTable +
    * assign): md5-seeded centroids, 2 unrolled Lloyd's rounds, squared-L2
    * coarse assignment (ties -> smaller cid). Yields `c2` (cid, pos, cq) —
    * the trained centroids — plus `assign` (vec_id, cid) and `cdist`
    * (vec_id, cid, d) for probe routing. Composes after `quant`. */
  private lazy val ivfRouteCtes: String =
    s"""cids AS (
           SELECT vec_id AS cid FROM (SELECT DISTINCT vec_id FROM quant) v
           ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         c0 AS (SELECT c.cid, q.pos, q.vq AS cq FROM cids c JOIN quant q ON q.vec_id = c.cid),
         ${ivfRoundCtes("c0", 0, "c1")},
         ${ivfRoundCtes("c1", 1, "c2")},
         cdist AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM quant q JOIN c2 c ON c.pos = q.pos GROUP BY q.vec_id, c.cid),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist) WHERE rn = 1)"""

  /** Shared IVF probe-chain CTEs (the tail of q_ann_ivf / q_ann_append /
    * q_ann_recall): vec_id < 20 probes route to their 2 nearest centroids
    * of whatever `cdist`/`assign` the preceding index CTEs define, list
    * candidates score by exact join-on-pos dot, and `ranked` carries the
    * per-probe (dot DESC, vec_id) row numbers. */
  private lazy val ivfProbeTopkCtes: String =
    s"""proute AS (
           SELECT vec_id AS probe_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist WHERE vec_id < 20) WHERE rn <= 2),
         cand AS (
           SELECT p.probe_id, a.vec_id FROM proute p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM cand c
           JOIN quant q ON q.vec_id = c.vec_id
           JOIN quant pq ON pq.vec_id = c.probe_id AND pq.pos = q.pos
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, dot,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM scored)"""

  /** Twin of the append-maintenance index (q_ann_append): the quantizer
    * trains ONLY on the pre-append rows (`baseq`, vec_id < 1000000) —
    * seeding and both Lloyd's rounds draw from baseq — but assignment and
    * probe routing run over the FULL corpus, exactly the frozen-snapshot
    * append contract (per-row argmin makes delta-only assignment equal a
    * full re-assignment against the same centroids). */
  private lazy val ivfAppendCtes: String =
    s"""baseq AS (SELECT * FROM quant WHERE vec_id < 1000000),
         cids AS (
           SELECT vec_id AS cid FROM (SELECT DISTINCT vec_id FROM baseq) v
           ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         c0 AS (SELECT c.cid, q.pos, q.vq AS cq FROM cids c JOIN baseq q ON q.vec_id = c.cid),
         ${ivfRoundCtes("c0", 0, "c1", "baseq")},
         ${ivfRoundCtes("c1", 1, "c2", "baseq")},
         cdist AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM quant q JOIN c2 c ON c.pos = q.pos GROUP BY q.vec_id, c.cid),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist) WHERE rn = 1)"""

  /** Shared two-level-IVF INDEX CTE chain (twin of IvfIndex.buildTwoLevel
    * at nsuper=4, nsub=8, trainRounds=1, subTrainRounds=1): 4 md5-seeded
    * super centroids + 1 unrolled Lloyd's round, per-super md5 'ivf2' sub
    * seeding (8/cell) + 1 unrolled PER-CELL sub training round, own-cell
    * sub-assignment. Yields `cdist` (probe routing input), `subq` (trained
    * sub centroids: scid, cid, pos, cq) and `assign2` (vec_id, cid — the
    * sub lists). Composes after `quant`. */
  private lazy val ivf2IndexCtes: String =
    s"""cids AS (
           SELECT vec_id AS cid FROM (SELECT DISTINCT vec_id FROM quant) v
           ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
         c0 AS (SELECT c.cid, q.pos, q.vq AS cq FROM cids c JOIN quant q ON q.vec_id = c.cid),
         ${ivfRoundCtes("c0", 0, "c1")},
         cdist AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM quant q JOIN c1 c ON c.pos = q.pos GROUP BY q.vec_id, c.cid),
         sassign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist) WHERE rn = 1),
         subs AS (
           SELECT scid, vec_id AS cid FROM (
             SELECT a.cid AS scid, a.vec_id,
               row_number() OVER (PARTITION BY a.cid
                 ORDER BY md5('ivf2|' || CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rn
             FROM sassign a) WHERE rn <= 8),
         subq0 AS (SELECT s.scid, s.cid, q.pos, q.vq AS cq
                   FROM subs s JOIN quant q ON q.vec_id = s.cid),
         -- one per-cell Lloyd's round for the sub level (twin of
         -- subTrainRounds = 1): own-cell argmin assignment, integer
         -- floor-division means per sub-list, empty lists keep
         ssd0 AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM quant q
           JOIN sassign a ON a.vec_id = q.vec_id
           JOIN subq0 c ON c.scid = a.cid AND c.pos = q.pos
           GROUP BY q.vec_id, c.cid),
         ssa0 AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM ssd0) WHERE rn = 1),
         ssm0 AS (
           SELECT cid, pos, (sm - ((sm % n) + n) % n) // n AS c
           FROM (SELECT a.cid, q.pos, CAST(sum(q.vq) AS BIGINT) AS sm, count(*) AS n
                 FROM ssa0 a JOIN quant q ON q.vec_id = a.vec_id
                 GROUP BY a.cid, q.pos)),
         subq AS (
           SELECT c.scid, c.cid, c.pos, COALESCE(m.c, c.cq) AS cq
           FROM subq0 c LEFT JOIN ssm0 m ON m.cid = c.cid AND m.pos = c.pos),
         sd AS (
           SELECT q.vec_id, c.cid, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d
           FROM quant q
           JOIN sassign a ON a.vec_id = q.vec_id
           JOIN subq c ON c.scid = a.cid AND c.pos = q.pos
           GROUP BY q.vec_id, c.cid),
         assign2 AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM sd) WHERE rn = 1)"""

  /** Two-level PROBE routing CTEs (twin of IvfIndex.routeTwoLevel at
    * nprobeSuper=2, nprobe=4): filtered probes -> 2 nearest super cells
    * (from `cdist`) -> 4 nearest of THEIR trained sub-lists. Yields
    * `proute2` (probe_id, cid). Composes after [[ivf2IndexCtes]]. */
  private def ivf2ProbeCtes(probeFilter: String): String =
    s"""sroute AS (
           SELECT vec_id AS probe_id, cid AS scid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist WHERE $probeFilter) WHERE rn <= 2),
         pd AS (
           SELECT p.vec_id AS probe_id, c.cid, sum((p.vq - c.cq) * (p.vq - c.cq)) AS d
           FROM quant p
           JOIN sroute r ON r.probe_id = p.vec_id
           JOIN subq c ON c.scid = r.scid AND c.pos = p.pos
           GROUP BY p.vec_id, c.cid),
         proute2 AS (
           SELECT probe_id, cid FROM (
             SELECT probe_id, cid,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cid) AS rn
             FROM pd) WHERE rn <= 4)"""

  /** One per-subspace Lloyd's round (twin of a PqIndex.codebooksTrainedQ
    * loop iteration over relation `rel`(vec_id, pos, `vcol`)): subvector
    * argmin assignment under `cin`, integer floor-division means per
    * (subspace, codeword, dim), codewords with empty cells keep their
    * previous value (LEFT JOIN from `cin` — positions absent from the
    * seed stay absent). CTE names carry `tag` so the raw and residual
    * chains can coexist. */
  private def pqRoundCtes(rel: String, vcol: String, tag: String,
                          cin: String, r: Int, cout: String): String =
    s"""${tag}pd$r AS (
           SELECT q.vec_id, c.s, c.j, sum((q.$vcol - c.cq) * (q.$vcol - c.cq)) AS d2
           FROM $rel q JOIN $cin c ON c.s = q.pos // 8 AND c.i = q.pos % 8
           GROUP BY q.vec_id, c.s, c.j),
         ${tag}pa$r AS (
           SELECT vec_id, s, j FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
             FROM ${tag}pd$r) WHERE rn = 1),
         ${tag}pm$r AS (
           SELECT s, j, i, (sm - ((sm % n) + n) % n) // n AS c
           FROM (SELECT a.s, a.j, q.pos % 8 AS i,
                        CAST(sum(q.$vcol) AS BIGINT) AS sm, count(*) AS n
                 FROM ${tag}pa$r a
                 JOIN $rel q ON q.vec_id = a.vec_id AND q.pos // 8 = a.s
                 GROUP BY a.s, a.j, q.pos % 8)),
         $cout AS (
           SELECT c.s, c.j, c.i, COALESCE(m.c, c.cq) AS cq
           FROM $cin c LEFT JOIN ${tag}pm$r m ON m.s = c.s AND m.j = c.j AND m.i = c.i)"""

  /** Shared PQ CTE chain (twin of PqIndex codebooksTrained + encode):
    * md5-first donor SEED -> 2 unrolled per-subspace Lloyd's rounds ->
    * integer-L2 argmin codes under the trained codebooks. Yields `cb`
    * (s, j, i, cq — trained) and `codes` (vec_id, s, code). Composes
    * after `quant`. */
  private lazy val pqCodeCtes: String =
    s"""donors AS (
           SELECT vec_id, rn - 1 AS j FROM (
             SELECT vec_id,
               row_number() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM (SELECT DISTINCT vec_id FROM quant)) WHERE rn <= 16),
         cb0 AS (
           SELECT q.pos // 8 AS s, d.j, q.pos % 8 AS i, q.vq AS cq
           FROM donors d JOIN quant q ON q.vec_id = d.vec_id),
         ${pqRoundCtes("quant", "vq", "q", "cb0", 0, "cb1")},
         ${pqRoundCtes("quant", "vq", "q", "cb1", 1, "cb")},
         pqdists AS (
           SELECT q.vec_id, c.s, c.j, sum((q.vq - c.cq) * (q.vq - c.cq)) AS d2
           FROM quant q JOIN cb c ON c.s = q.pos // 8 AND c.i = q.pos % 8
           GROUP BY q.vec_id, c.s, c.j),
         codes AS (
           SELECT vec_id, s, j AS code FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
             FROM pqdists) WHERE rn = 1)"""

  /** Shared PQ probe-LUT CTE (twin of PqIndex.probeLuts): K·M exact dots
    * between each filtered probe's subvectors and every codeword.
    * Composes after `quant` and `cb`. */
  private def pqLutCte(probeFilter: String): String =
    s"""luts AS (
           SELECT p.vec_id AS probe_id, c.s, c.j AS code, sum(p.vq * c.cq) AS pdot
           FROM quant p JOIN cb c ON c.s = p.pos // 8 AND c.i = p.pos % 8
           WHERE $probeFilter
           GROUP BY p.vec_id, c.s, c.j)"""

  /** Shared cover-construction CTE chain (twin of the q_cell_compact
    * pipeline): order points -> web-mercator world coords -> distinct z14
    * cells -> 3 compact rounds ending in `r11` — the compacted cover both
    * cell twins consume. */
  private lazy val cellCoverCtes: String =
    s"""pts AS (
            SELECT
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders),
          r14 AS (
            SELECT DISTINCT
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM pts),
          ${compactRoundCtes("r14", 14, "r13")},
          ${compactRoundCtes("r13", 13, "r12")},
          ${compactRoundCtes("r12", 12, "r11")}"""

  /** One compact round (twin of a CellOps.compact loop iteration): cells of
    * `cur` at level `z` group by parent; complete quads (n=4) promote to the
    * parent cell, partial quads pass through, other levels pass through. */
  private def compactRoundCtes(cur: String, z: Int, out: String): String = {
    val zs = 1L << 58
    val xy = 1L << 29
    s"""lvl$z AS (
           SELECT cell_id,
             ${z - 1} * $zs + ((cell_id % $zs) // $xy // 2) * $xy + ((cell_id % $xy) // 2) AS p
           FROM $cur WHERE cell_id // $zs = $z),
         cnt$z AS (SELECT p, count(*) AS n FROM lvl$z GROUP BY p),
         $out AS (
           SELECT DISTINCT cell_id FROM (
             SELECT l.cell_id FROM lvl$z l JOIN cnt$z c ON l.p = c.p WHERE c.n < 4
             UNION ALL
             SELECT p AS cell_id FROM cnt$z WHERE n = 4
             UNION ALL
             SELECT cell_id FROM $cur WHERE cell_id // $zs <> $z))"""
  }

  /** One ZONED compact round (twin of a keyed CellOps.compact iteration):
    * quads complete per `zn` group — cells of `cur` at level `z` group by
    * (zn, parent); n=4 promotes within the zone, partials and other
    * levels pass through with their zone. */
  private def compactZonedRoundCtes(pfx: String, cur: String, z: Int, out: String): String = {
    val zs = 1L << 58
    val xy = 1L << 29
    s"""${pfx}lvl$z AS (
           SELECT zn, cell_id,
             ${z - 1} * $zs + ((cell_id % $zs) // $xy // 2) * $xy + ((cell_id % $xy) // 2) AS p
           FROM $cur WHERE cell_id // $zs = $z),
         ${pfx}cnt$z AS (SELECT zn, p, count(*) AS n FROM ${pfx}lvl$z GROUP BY zn, p),
         $out AS (
           SELECT DISTINCT zn, cell_id FROM (
             SELECT l.zn, l.cell_id FROM ${pfx}lvl$z l
               JOIN ${pfx}cnt$z c ON l.zn = c.zn AND l.p = c.p WHERE c.n < 4
             UNION ALL
             SELECT zn, p AS cell_id FROM ${pfx}cnt$z WHERE n = 4
             UNION ALL
             SELECT zn, cell_id FROM $cur WHERE cell_id // $zs <> $z))"""
  }

  /** Zoned z14 cell derivation + 3 compact rounds for `table`: zone
    * expression `znSql`, point key `latSql`/`lngSql` — ends in `${pfx}r11`
    * (zn, cell_id). The web-mercator chain is cellCoverCtes' with the zone
    * carried through every round. */
  private def zonedCoverCtes(pfx: String, table: String, znSql: String,
                             latSql: String, lngSql: String): String =
    s"""${pfx}pts AS (
            SELECT $znSql AS zn,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSql) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSql) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSql) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM $table),
          ${pfx}r14 AS (
            SELECT DISTINCT zn,
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM ${pfx}pts),
          ${compactZonedRoundCtes(pfx, s"${pfx}r14", 14, s"${pfx}r13")},
          ${compactZonedRoundCtes(pfx, s"${pfx}r13", 13, s"${pfx}r12")},
          ${compactZonedRoundCtes(pfx, s"${pfx}r12", 12, s"${pfx}r11")}"""

  /** Shared connected-components twin of [[pipeline.Dedup.resolveClusters]]
    * (recursive-CTE transitive closure -> component min as representative):
    * `pairsSelect` must yield (ida, idb); compose as
    * `WITH RECURSIVE <ctes>, ${ccResolveCtes(...)} $ccResolveSelect`. */
  /** SimHash pair CTE chain (twin of Dedup.simhash +
    * simhashPairsFromHashes) over `documents` rows matching `docFilter`:
    * whitespace tokens -> 60-bit md5 sign hash -> 4x15-bit chunk banding
    * -> distinct canonical pairs with popcount hamming. Yields `spairs`
    * (ida, idb, hamming) — the caller applies its verifyHamming gate. */
  /** Full IVF+PQ residual-chain twin CTEs through `ranked` (scored ADC
    * candidates with a per-probe rank) — shared by q_ann_ivfpq (rank<=k
    * cut) and q_ann_refine (shortlist cut + exact re-rank). */
  private def ivfPqRankedCtes: String =
    s"""$annQuantCte,
         $ivfRouteCtes,
         resid AS (
           SELECT q.vec_id, a.cid, q.pos, q.vq - c.cq AS rv
           FROM quant q
           JOIN assign a ON a.vec_id = q.vec_id
           JOIN c2 c ON c.cid = a.cid AND c.pos = q.pos),
         rdonors AS (
           SELECT vec_id, rn - 1 AS j FROM (
             SELECT vec_id,
               row_number() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM (SELECT DISTINCT vec_id FROM quant)) WHERE rn <= 16),
         cbr0 AS (
           SELECT r.pos // 8 AS s, d.j, r.pos % 8 AS i, r.rv AS cq
           FROM rdonors d JOIN resid r ON r.vec_id = d.vec_id),
         ${pqRoundCtes("resid", "rv", "r", "cbr0", 0, "cbr1")},
         ${pqRoundCtes("resid", "rv", "r", "cbr1", 1, "cbr")},
         rdists AS (
           SELECT r.vec_id, c.s, c.j, sum((r.rv - c.cq) * (r.rv - c.cq)) AS d2
           FROM resid r JOIN cbr c ON c.s = r.pos // 8 AND c.i = r.pos % 8
           GROUP BY r.vec_id, c.s, c.j),
         rcodes AS (
           SELECT vec_id, s, j AS code FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
             FROM rdists) WHERE rn = 1),
         proute AS (
           SELECT vec_id AS probe_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM cdist WHERE vec_id < 10) WHERE rn <= 2),
         rluts AS (
           SELECT p.vec_id AS probe_id, c.s, c.j AS code, sum(p.vq * c.cq) AS pdot
           FROM quant p JOIN cbr c ON c.s = p.pos // 8 AND c.i = p.pos % 8
           WHERE p.vec_id < 10
           GROUP BY p.vec_id, c.s, c.j),
         ctr AS (
           SELECT p.vec_id AS probe_id, c.cid, sum(p.vq * c.cq) AS cdot
           FROM quant p JOIN c2 c ON c.pos = p.pos
           WHERE p.vec_id < 10
           GROUP BY p.vec_id, c.cid),
         cand AS (
           SELECT p.probe_id, a.vec_id, a.cid
           FROM proute p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id,
             CAST(sum(l.pdot) + min(t.cdot) AS BIGINT) AS score
           FROM cand c
           JOIN rcodes k ON k.vec_id = c.vec_id
           JOIN rluts l ON l.probe_id = c.probe_id AND l.s = k.s AND l.code = k.code
           JOIN ctr t ON t.probe_id = c.probe_id AND t.cid = c.cid
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
           FROM scored)"""

  /** Full two-level-IVF + residual-PQ twin CTEs through `ranked` (scored
    * hierarchical-ADC candidates with a per-probe rank) — shared by
    * q_ann_ivf2pq (rank<=k cut) and q_ann_refine2 (shortlist + exact
    * re-rank). */
  private def ivf2PqRankedCtes: String =
    s"""$annQuantCte,
         $ivf2IndexCtes,
         resid2 AS (
           SELECT q.vec_id, a.cid, q.pos, q.vq - c.cq AS rv
           FROM quant q
           JOIN assign2 a ON a.vec_id = q.vec_id
           JOIN subq c ON c.cid = a.cid AND c.pos = q.pos),
         rdonors AS (
           SELECT vec_id, rn - 1 AS j FROM (
             SELECT vec_id,
               row_number() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM (SELECT DISTINCT vec_id FROM quant)) WHERE rn <= 16),
         cbr0 AS (
           SELECT r.pos // 8 AS s, d.j, r.pos % 8 AS i, r.rv AS cq
           FROM rdonors d JOIN resid2 r ON r.vec_id = d.vec_id),
         ${pqRoundCtes("resid2", "rv", "r2", "cbr0", 0, "cbr")},
         rdists AS (
           SELECT r.vec_id, c.s, c.j, sum((r.rv - c.cq) * (r.rv - c.cq)) AS d2
           FROM resid2 r JOIN cbr c ON c.s = r.pos // 8 AND c.i = r.pos % 8
           GROUP BY r.vec_id, c.s, c.j),
         rcodes AS (
           SELECT vec_id, s, j AS code FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
             FROM rdists) WHERE rn = 1),
         ${ivf2ProbeCtes("vec_id < 10")},
         rluts AS (
           SELECT p.vec_id AS probe_id, c.s, c.j AS code, sum(p.vq * c.cq) AS pdot
           FROM quant p JOIN cbr c ON c.s = p.pos // 8 AND c.i = p.pos % 8
           WHERE p.vec_id < 10
           GROUP BY p.vec_id, c.s, c.j),
         ctr AS (
           SELECT p.vec_id AS probe_id, c.cid, sum(p.vq * c.cq) AS cdot
           FROM quant p JOIN subq c ON c.pos = p.pos
           WHERE p.vec_id < 10
           GROUP BY p.vec_id, c.cid),
         cand AS (
           SELECT p.probe_id, a.vec_id, a.cid
           FROM proute2 p JOIN assign2 a ON a.cid = p.cid
           WHERE a.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id,
             CAST(sum(l.pdot) + min(t.cdot) AS BIGINT) AS score
           FROM cand c
           JOIN rcodes k ON k.vec_id = c.vec_id
           JOIN rluts l ON l.probe_id = c.probe_id AND l.s = k.s AND l.code = k.code
           JOIN ctr t ON t.probe_id = c.probe_id AND t.cid = c.cid
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
           FROM scored)"""

  private def simhashShvCtes(docFilter: String): String =
    s"""toks AS (
           SELECT doc_id, t FROM (
             SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
             FROM documents WHERE $docFilter) u
           WHERE t <> ''),
         th AS (
           SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, j.range AS j,
             sum(CASE WHEN ((h >> j.range) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
           FROM th, range(0, 60) j GROUP BY doc_id, j.range),
         shv AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS sh
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, sh, c.range AS chunk,
             (sh >> CAST(c.range * 15 AS INTEGER)) & 32767 AS ck
           FROM shv, range(0, 4) c)"""

  private def simhashPairCtes(docFilter: String): String =
    s"""${simhashShvCtes(docFilter)},
         spairs AS (
           SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
             CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
           FROM banded a JOIN banded b
             ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id)"""

  private def ccResolveCtes(pairsSelect: String): String =
    s"""fpairs AS ($pairsSelect),
         edges AS (SELECT ida AS a, idb AS b FROM fpairs
                   UNION SELECT idb, ida FROM fpairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         lbl AS (SELECT a AS doc_id, least(a, min(b)) AS rep_id FROM reach GROUP BY a)"""
  private val ccResolveSelect =
    """SELECT doc_id, rep_id,
           CAST(CASE WHEN doc_id = rep_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM lbl"""

  def oracleSql: Map[String, String] = Map(
    "q_s1_scan_filter" ->
      """SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price_fl
         FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0""",

    "q_p1_project" ->
      s"""SELECT o_orderkey,
            CAST(floor((0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE) * 256000000.0::DOUBLE) AS BIGINT) AS wx_mil,
            CAST(floor((0.5::DOUBLE - ln((1.0::DOUBLE + sin(($latSqlO) * pi() / 180.0::DOUBLE))
                / (1.0::DOUBLE - sin(($latSqlO) * pi() / 180.0::DOUBLE))) / (4 * pi()))
                * 256000000.0::DOUBLE) AS BIGINT) AS wy_mil
          FROM orders""",

    "q_p3_cell" ->
      s"""WITH pts AS (
            SELECT o_orderkey,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders)
          SELECT o_orderkey,
            CAST(floor((wx + (-30.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) AS tx,
            CAST(floor((wy + (10.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) AS ty
          FROM pts""",

    "q_f1_edge" ->
      s"""WITH px AS (
            SELECT o_orderkey,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE) + (-30.0::DOUBLE / 524288)) * 524288 AS px,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0 - least(greatest(sin(($latSqlO) * pi() / 180.0), -0.9999), 0.9999))) / (4 * pi()))
               + (10.0 / 524288)) * 524288 AS py
            FROM orders),
          r AS (SELECT o_orderkey,
              px - floor(px / 256) * 256 AS rx, py - floor(py / 256) * 256 AS ry FROM px)
          SELECT o_orderkey FROM r
          WHERE NOT (rx < 16 OR rx >= 240 OR ry < 16 OR ry >= 240)""",

    "q_p6_mil" ->
      """SELECT o_orderkey,
           CAST(floor((o_totalprice * 0.00001::DOUBLE - 1.5::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS mil_key
         FROM orders""",

    "q_p2_center" ->
      """WITH tiles AS (
           SELECT 302000 + c_custkey % 500 AS tx, 168500 + c_custkey % 300 AS ty
           FROM customer)
         SELECT tx, ty,
           CAST(floor((180.0::DOUBLE / pi() * (2 * atan(exp((1 - 2 * ((ty + 0.5::DOUBLE) / 524288.0::DOUBLE)) * pi())) - pi() / 2)) * 1000000.0) AS BIGINT) AS lat_mil,
           CAST(floor((180.0::DOUBLE * (2 * ((tx + 0.5::DOUBLE) / 524288.0::DOUBLE) - 1)) * 1000000.0) AS BIGINT) AS lng_mil
         FROM tiles""",

    "q_j1_join" ->
      """SELECT o_custkey, count(*) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_custkey""",

    "q_j2_cell_join" ->
      s"""WITH pts AS (
            SELECT o_orderkey,
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE) + (-30.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) AS tx,
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0 - least(greatest(sin(($latSqlO) * pi() / 180.0), -0.9999), 0.9999))) / (4 * pi()))
                 + (10.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) AS ty
            FROM orders),
          tiles AS (SELECT DISTINCT 302050 + c_custkey % 40 AS tx, 168755 + c_custkey % 25 AS ty FROM customer)
          SELECT p.tx, p.ty, count(*) AS n_pts
          FROM pts p JOIN tiles t ON p.tx = t.tx AND p.ty = t.ty
          GROUP BY p.tx, p.ty""",

    "q_j6_anti_sample" ->
      """WITH grid AS (
           SELECT gx.range AS tx, gy.range AS ty
           FROM range(0, 50) gx, range(0, 20) gy),
         painted AS (SELECT DISTINCT CAST(c_custkey % 50 AS BIGINT) AS tx,
                            CAST(c_custkey % 20 AS BIGINT) AS ty FROM customer),
         free AS (SELECT g.tx, g.ty FROM grid g ANTI JOIN painted p
                  ON g.tx = p.tx AND g.ty = p.ty)
         SELECT tx, ty FROM free
         ORDER BY ((tx * 20 + ty) * 2654435761) % 4294967296, tx * 20 + ty
         LIMIT 200""",

    "q_sa1_sample" ->
      s"""SELECT l_orderkey, l_linenumber FROM lineitem
          ORDER BY ${krankSql("(l_orderkey * 10 + l_linenumber)")}, l_orderkey, l_linenumber
          LIMIT 100""",

    "q_sa3_split" ->
      s"""WITH ranked AS (
            SELECT o_orderkey,
              row_number() OVER (ORDER BY ${krankSql("o_orderkey")}, o_orderkey) AS rn
            FROM orders)
          SELECT CASE WHEN rn <= 400 THEN 'train' ELSE 'valid' END AS split,
            count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
          FROM ranked WHERE rn <= 500 GROUP BY 1""",

    "q_a1_balance" ->
      s"""WITH counts AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1),
          m AS (SELECT min(n) AS mn FROM counts),
          ranked AS (
            SELECT l_returnflag, l_orderkey,
              row_number() OVER (PARTITION BY l_returnflag
                ORDER BY ${krankSql("(l_orderkey * 10 + l_linenumber)")}, l_orderkey, l_linenumber) AS rn
            FROM lineitem)
          SELECT l_returnflag, count(*) AS n_capped, CAST(sum(l_orderkey) AS BIGINT) AS key_sum
          FROM ranked, m WHERE rn <= mn GROUP BY l_returnflag""",

    "q_w1_window" ->
      """WITH w AS (
           SELECT l_suppkey, l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn,
             CAST(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_qty
           FROM lineitem)
         SELECT l_suppkey, rn, l_orderkey, l_linenumber, run_qty FROM w WHERE rn <= 5""",

    "q_so1_union_distinct" ->
      """SELECT DISTINCT p_brand FROM (
           SELECT p_brand FROM part WHERE p_size < 10
           UNION ALL
           SELECT p_brand FROM part WHERE p_retailprice > 1500.0)""",

    "q_agg_battery" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           count(DISTINCT l_orderkey) AS n_orders,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
           max(l_partkey) AS max_pk, min(l_suppkey) AS min_sk
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_so2_topk" ->
      """SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price_fl
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",

    "q_j9_knn" ->
      """WITH probes AS (
           SELECT c_custkey AS probe_id,
             53.8306::DOUBLE + ((c_custkey * 7) % 14000)::DOUBLE * 0.00001::DOUBLE AS plat,
             27.4026::DOUBLE + ((c_custkey * 13) % 29000)::DOUBLE * 0.00001::DOUBLE AS plng
           FROM customer WHERE c_custkey <= 50),
         cands AS (
           SELECT o_orderkey,
             53.8306::DOUBLE + (o_orderkey % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + (o_orderkey % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM orders),
         scored AS (
           SELECT probe_id, o_orderkey,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY (lat - plat) * (lat - plat) + (lng - plng) * (lng - plng), o_orderkey) AS rank
           FROM probes CROSS JOIN cands)
         SELECT probe_id, rank, o_orderkey FROM scored WHERE rank <= 3""",

    // radius-join twin: brute-force pair filter with the IDENTICAL
    // haversine operation order; membership and the floored meters agree
    // engine-portably (boundary ties would need |d - R| below ~1e-9 m)
    "q_j_radius" ->
      """WITH probes AS (
           SELECT c_custkey AS probe_id,
             53.8306::DOUBLE + ((c_custkey * 7) % 14000)::DOUBLE * 0.00001::DOUBLE AS plat,
             27.4026::DOUBLE + ((c_custkey * 13) % 29000)::DOUBLE * 0.00001::DOUBLE AS plng
           FROM customer WHERE c_custkey <= 50),
         pts AS (
           SELECT o_orderkey,
             53.8306::DOUBLE + (o_orderkey % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + (o_orderkey % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM orders),
         d AS (
           SELECT probe_id, o_orderkey,
             2.0 * 6371008.8 * asin(sqrt(
               sin((lat - plat) * pi() / 360.0) * sin((lat - plat) * pi() / 360.0) +
               cos(plat * pi() / 180.0) * cos(lat * pi() / 180.0) *
                 sin((lng - plng) * pi() / 360.0) * sin((lng - plng) * pi() / 360.0))) AS dist_m
           FROM probes CROSS JOIN pts)
         SELECT probe_id, o_orderkey, CAST(floor(dist_m) AS BIGINT) AS dist_floor_m
         FROM d WHERE dist_m <= 300.0""",

    "q_j10_asof" ->
      """WITH probe AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         build AS (
           SELECT user_id, ts, max(event_id) AS bid,
             max_by(CAST(floor(value * 100 + 0.5) AS BIGINT), event_id) AS bcents
           FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, b.bid AS asof_bid, b.bcents AS asof_bcents
         FROM probe p ASOF LEFT JOIN build b
           ON p.user_id = b.user_id AND p.ts >= b.ts""",

    "q_interval_join" ->
      """WITH probe AS (SELECT event_id, user_id, epoch_ms(ts) AS tsm FROM events),
         ivals AS (
           SELECT c_custkey * 2 + i.range AS interval_id, c_custkey % 150 AS user_id,
             1704067200000 + (c_custkey % 60) * 43200000 + i.range * 1800000 AS s,
             1704067200000 + (c_custkey % 60) * 43200000 + i.range * 1800000 + (6 + c_custkey % 18) * 3600000 AS e
           FROM customer, range(0, 2) i)
         SELECT p.event_id, v.interval_id
         FROM probe p JOIN ivals v
           ON p.user_id = v.user_id AND v.s <= p.tsm AND p.tsm < v.e""",

    "q_f6_pip" ->
      """WITH pts AS (
           SELECT o_orderkey,
             53.8306::DOUBLE + (o_orderkey % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + ((o_orderkey * 3) % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM orders)
         SELECT o_orderkey FROM pts
         WHERE ((27.4401234 - 27.4101234) * (lat - 53.8381234) - (53.8421234 - 53.8381234) * (lng - 27.4101234)) > 0
           AND ((27.4101234 - 27.4401234) * (lat - 53.8421234) - (53.8461234 - 53.8421234) * (lng - 27.4401234)) > 0
           AND ((27.3801234 - 27.4101234) * (lat - 53.8461234) - (53.8421234 - 53.8461234) * (lng - 27.4101234)) > 0
           AND ((27.4101234 - 27.3801234) * (lat - 53.8421234) - (53.8381234 - 53.8421234) * (lng - 27.3801234)) > 0""",

    "q_s9_parse" ->
      """WITH files AS (
           SELECT DISTINCT concat('z19/x', CAST(302000 + c_custkey % 700 AS VARCHAR),
             'y', CAST(168500 + c_custkey % 450 AS VARCHAR), '.jpg') AS fname
           FROM customer)
         SELECT fname,
           CAST(regexp_extract(fname, 'x(\d+)y', 1) AS BIGINT) AS tx,
           CAST(regexp_extract(fname, 'y(\d+)\.', 1) AS BIGINT) AS ty
         FROM files""",

    "q_p10_gate" ->
      """SELECT p_partkey,
           CAST(p_size AS BIGINT) * 37 % 1200 AS h,
           (CAST(p_size AS BIGINT) * 53 + p_partkey) % 1200 AS w
         FROM part
         WHERE p_size * 37 % 1200 >= 128 AND p_size * 37 % 1200 < 1024
           AND (p_size * 53 + p_partkey) % 1200 >= 128
           AND (p_size * 53 + p_partkey) % 1200 < 1024""",

    // SQL twin of Viewport.tilesWay (z=18, no offsets): project -> bbox ->
    // 25%/48px pad -> python-% 256 wrap -> floor tile range. All scale
    // multiplies are powers of two (exact in IEEE754, immune to
    // reassociation); the wrap mirrors the kernel's branch form.
    "q_p11_cover" ->
      """WITH pts AS (
           SELECT (l_orderkey % 500) AS wid,
             53.8306::DOUBLE + ((l_orderkey * 2 + l_linenumber) % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + ((l_orderkey * 3 + l_linenumber) % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM lineitem),
         proj AS (
           SELECT wid,
             256.0::DOUBLE * (0.5::DOUBLE + lng / 360.0::DOUBLE) AS x,
             256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(lat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
               / (1.0::DOUBLE - least(greatest(sin(lat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi())) AS y
           FROM pts),
         box AS (
           SELECT wid, min(x) AS wmin, max(x) AS emax, min(y) AS nmin, max(y) AS smax
           FROM proj GROUP BY wid),
         pad AS (
           SELECT wid, wmin, emax, nmin, smax,
             CASE WHEN ((emax - wmin) * 0.25::DOUBLE) * 262144.0::DOUBLE < 48.0::DOUBLE
                  THEN 48.0::DOUBLE / 262144.0::DOUBLE ELSE (emax - wmin) * 0.25::DOUBLE END AS padwe,
             CASE WHEN ((smax - nmin) * 0.25::DOUBLE) * 262144.0::DOUBLE < 48.0::DOUBLE
                  THEN 48.0::DOUBLE / 262144.0::DOUBLE ELSE (smax - nmin) * 0.25::DOUBLE END AS padns
           FROM box),
         wrapped AS (
           SELECT wid,
             CASE WHEN ((wmin - padwe) % 256.0::DOUBLE) < 0 THEN ((wmin - padwe) % 256.0::DOUBLE) + 256.0::DOUBLE ELSE ((wmin - padwe) % 256.0::DOUBLE) END AS w1,
             CASE WHEN ((emax + padwe) % 256.0::DOUBLE) < 0 THEN ((emax + padwe) % 256.0::DOUBLE) + 256.0::DOUBLE ELSE ((emax + padwe) % 256.0::DOUBLE) END AS e1,
             CASE WHEN ((nmin - padns) % 256.0::DOUBLE) < 0 THEN ((nmin - padns) % 256.0::DOUBLE) + 256.0::DOUBLE ELSE ((nmin - padns) % 256.0::DOUBLE) END AS n1,
             CASE WHEN ((smax + padns) % 256.0::DOUBLE) < 0 THEN ((smax + padns) % 256.0::DOUBLE) + 256.0::DOUBLE ELSE ((smax + padns) % 256.0::DOUBLE) END AS s1
           FROM pad),
         tiles AS (
           SELECT wid,
             CAST(floor((w1 * 262144.0::DOUBLE) / 256.0::DOUBLE) AS BIGINT) AS txmin,
             CAST(floor((e1 * 262144.0::DOUBLE) / 256.0::DOUBLE) AS BIGINT) AS txmax,
             CAST(floor((n1 * 262144.0::DOUBLE) / 256.0::DOUBLE) AS BIGINT) AS tymin,
             CAST(floor((s1 * 262144.0::DOUBLE) / 256.0::DOUBLE) AS BIGINT) AS tymax
           FROM wrapped)
         SELECT wid, txmin, txmax, tymin, tymax,
           (txmax - txmin + 1) * (tymax - tymin + 1) AS n_tiles
         FROM tiles""",

    "q_sa4_distinct_cap" ->
      s"""WITH keys AS (
            SELECT DISTINCT l_orderkey FROM lineitem
            ORDER BY ${krankSql("l_orderkey")}, l_orderkey LIMIT 50)
          SELECT l.l_orderkey, count(*) AS n_rows,
            CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
          FROM lineitem l JOIN keys k ON l.l_orderkey = k.l_orderkey
          GROUP BY l.l_orderkey""",

    "q_s13_wkt_pip" ->
      """WITH pts AS (
           SELECT o_orderkey,
             53.8306::DOUBLE + ((o_orderkey * 11) % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + ((o_orderkey * 7) % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM orders)
         SELECT o_orderkey FROM pts
         WHERE ((27.4401234 - 27.4101234) * (lat - 53.8381234) - (53.8421234 - 53.8381234) * (lng - 27.4101234)) > 0
           AND ((27.4101234 - 27.4401234) * (lat - 53.8421234) - (53.8461234 - 53.8421234) * (lng - 27.4401234)) > 0
           AND ((27.3801234 - 27.4101234) * (lat - 53.8461234) - (53.8421234 - 53.8461234) * (lng - 27.4101234)) > 0
           AND ((27.4101234 - 27.3801234) * (lat - 53.8421234) - (53.8381234 - 53.8421234) * (lng - 27.3801234)) > 0""",

    // phash banding re-run in SQL over the corpus metadata exported by
    // Verify (fixed path; arithmetic >> + mask == logical >> on the low
    // bits, so negative 64-bit phashes band identically in both engines)
    "q_phash_neardup" ->
      s"""WITH h AS (
            SELECT cell_id AS doc_id, phash AS sh
            FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')),
          banded AS (
            SELECT doc_id, sh, c.range AS chunk,
              (sh >> CAST(c.range * 16 AS INTEGER)) & 65535 AS ck
            FROM h, range(0, 4) c)
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
            CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
          FROM banded a JOIN banded b
            ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 6""",

    // decode-metadata gate replayed over the aux export: Verify dumps the
    // engine-DECODED (h, w, ph) beside the stored metadata, so the filter
    // and drift arithmetic downstream of the decode are DuckDB-pinned
    // (the decode kernel itself stays spec-pinned — MultimodalSpec/PSNR)
    // minimap twin over the aux export: the decoded floored mean colors
    // are exported per tile, so the diagnostic aggregate is DuckDB-checked
    // too (was the last convertible engine-only row)
    "q_a3_minimap" ->
      s"""SELECT cell_id, mb AS b, mg AS g, mr AS r
          FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')""",

    "q_i1_decode_meta" ->
      s"""SELECT image_id, h, w,
            CAST(bit_count(xor(ph, phash)) AS INTEGER) AS phash_drift
          FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')
          WHERE h = 256 AND w = 256 AND bit_count(xor(ph, phash)) <= 8""",

    // quality-gate twin over the same aux export: identical integer
    // mean/variance/range arithmetic and flag thresholds in SQL
    "q_image_quality" ->
      s"""SELECT image_id,
            ysum * 1000 // yn AS y_mean_fp,
            (ysumsq * yn - ysum * ysum) // (yn * yn) AS y_var,
            CAST(ymax - ymin AS BIGINT) AS y_range,
            CAST(CASE WHEN ymax - ymin <= 4 THEN 1 ELSE 0 END AS BIGINT) AS flag_blank,
            CAST(CASE WHEN (ysumsq * yn - ysum * ysum) // (yn * yn) < 100
              THEN 1 ELSE 0 END AS BIGINT) AS flag_low_contrast
          FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')
          WHERE yn >= 1""",

    // resize self-check gate over the same aux export: dims + mean-color
    // drift of the 64x64 box resize, thresholds replayed in SQL
    "q_i_resize" ->
      s"""SELECT cell_id
          FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')
          WHERE rh = 64 AND rw = 64 AND rdrift < 2.0::DOUBLE""",

    // flat twin of the hierarchical pyramid: every level grouped DIRECTLY
    // from the leaf means via ancestor bit-math — equality with the
    // engine's level-by-level rollup is exactly the associativity claim
    "q_tile_pyramid" ->
      s"""WITH leaf AS (
            SELECT cell_id, mb, mg, mr
            FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')),
          anc AS (
            SELECT ((cell_id >> 58) - k.range) * (1::BIGINT << 58)
                 + (((cell_id >> 29) & 536870911) >> k.range) * (1::BIGINT << 29)
                 + ((cell_id & 536870911) >> k.range) AS cell_id,
              mb, mg, mr
            FROM leaf, range(0, 5) k)
          SELECT cell_id, cell_id >> 58 AS zl,
            CAST(COUNT(*) AS BIGINT) AS n_tiles,
            CAST(SUM(mb) AS BIGINT) // COUNT(*) AS mean_b,
            CAST(SUM(mg) AS BIGINT) // COUNT(*) AS mean_g,
            CAST(SUM(mr) AS BIGINT) // COUNT(*) AS mean_r
          FROM anc GROUP BY cell_id""",

    // exact SQL twin of the perceptual-dedup resolve: same chunk-banded
    // candidate pairs at hamming <= 2, recursive-CTE connected components
    "q_phash_resolve" ->
      s"""WITH RECURSIVE h AS (
            SELECT cell_id AS doc_id, phash AS sh
            FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')),
          banded AS (
            SELECT doc_id, sh, c.range AS chunk,
              (sh >> CAST(c.range * 16 AS INTEGER)) & 65535 AS ck
            FROM h, range(0, 4) c),
          cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM banded a JOIN banded b
              ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 2),
          ${ccResolveCtes("SELECT ida, idb FROM cand")}
          $ccResolveSelect""",

    "q_a4_busyfree" ->
      """WITH grid AS (
           SELECT gx.range AS tx, gy.range AS ty FROM range(0, 50) gx, range(0, 20) gy),
         painted AS (SELECT DISTINCT CAST(c_custkey % 50 AS BIGINT) AS tx,
                            CAST(c_custkey % 20 AS BIGINT) AS ty, 1 AS busy FROM customer)
         SELECT g.tx,
           CAST(sum(CASE WHEN p.busy IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_free,
           CAST(sum(CASE WHEN p.busy IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_busy
         FROM grid g LEFT JOIN painted p ON g.tx = p.tx AND g.ty = p.ty
         GROUP BY g.tx""",

    "q_events_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",

    "q_so4_setops" ->
      """SELECT p_brand, 'both' AS op FROM (
           SELECT p_brand FROM part WHERE p_size < 25
           INTERSECT
           SELECT p_brand FROM part WHERE p_retailprice > 1200.0)
         UNION ALL
         SELECT p_brand, 'only_a' AS op FROM (
           SELECT p_brand FROM part WHERE p_size < 25
           EXCEPT
           SELECT p_brand FROM part WHERE p_retailprice > 1200.0)""",

    "q_p7_px" -> {
      val (txmin, tymin) = Mercator.tileAtWgs(53.9739, 27.4026, Z, OffX, OffY)
      s"""WITH pts AS (
            SELECT o_orderkey,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders)
          SELECT o_orderkey,
            CAST(floor((wx + (-30.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) - $txmin AS px,
            CAST(floor((wy + (10.0::DOUBLE / 524288)) * 524288 / 256) AS BIGINT) - $tymin AS py
          FROM pts"""
    },

    "q_stream_join" ->
      """SELECT coalesce(c.c_nationkey, -1) AS seg, e.event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2""",

    // cross-modal audit twin: the caption-simhash chain (identical to the
    // documents chain, over the aux captions) banded into pairs, decoded
    // phash distance attached from the same aux rows
    "q_crossmodal_audit" ->
      s"""WITH aux AS (
            SELECT cell_id AS doc_id, caption, ph
            FROM read_parquet('${Verify.AuxImagesMeta}/*.parquet')),
          toks AS (
            SELECT doc_id, t FROM (
              SELECT doc_id, unnest(string_split_regex(caption, '\\s+')) AS t
              FROM aux) u
            WHERE t <> ''),
          th AS (
            SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
            FROM toks),
          bits AS (
            SELECT doc_id, j.range AS j,
              sum(CASE WHEN ((h >> j.range) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
            FROM th, range(0, 60) j GROUP BY doc_id, j.range),
          shv AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS sh
            FROM bits GROUP BY doc_id),
          banded AS (
            SELECT doc_id, sh, c.range AS chunk,
              (sh >> CAST(c.range * 15 AS INTEGER)) & 32767 AS ck
            FROM shv, range(0, 4) c),
          spairs AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
              CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM banded a JOIN banded b
              ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id)
          SELECT s.ida, s.idb, s.hamming AS caption_hamming,
            CAST(bit_count(xor(pa.ph, pb.ph)) AS INTEGER) AS pixel_hamming,
            bit_count(xor(pa.ph, pb.ph)) > 10 AS audit
          FROM spairs s
          JOIN aux pa ON pa.doc_id = s.ida
          JOIN aux pb ON pb.doc_id = s.idb
          WHERE s.hamming <= 8""",

    // geofence twin: the SAME orders-cover chain as q_cell_cover_join
    // (ends in r11), event points -> z14 cells -> 4-level ancestor chain
    // meets the cover, per-(zone, type) rollup
    "q_stream_geofence" ->
      s"""WITH $cellCoverCtes,
          epts AS (
            SELECT event_type, value,
              (256.0::DOUBLE * (0.5::DOUBLE + (27.4026::DOUBLE + ((user_id * 5) % 29000)::DOUBLE * 0.00001::DOUBLE) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin((53.8306::DOUBLE + ((user_id * 3) % 14000)::DOUBLE * 0.00001::DOUBLE) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin((53.8306::DOUBLE + ((user_id * 3) % 14000)::DOUBLE * 0.00001::DOUBLE) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM events),
          ecell AS (
            SELECT event_type, value,
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM epts),
          eanc AS (
            SELECT event_type, value,
              ((cell_id >> 58) - k.range) * ${1L << 58}
                + (((cell_id >> 29) & 536870911) >> k.range) * ${1L << 29}
                + ((cell_id & 536870911) >> k.range) AS anc
            FROM ecell, range(0, 4) k)
          SELECT r.cell_id AS cover_cell, e.event_type,
            count(*) AS n,
            CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
          FROM eanc e JOIN r11 r ON e.anc = r.cell_id
          GROUP BY 1, 2""",

    // twin of the Sobel convolution: the z17 count raster, the scatter
    // form with identical integer weights, LEFT join back + zero fill
    "q_raster_sobel" ->
      s"""WITH op AS (
            SELECT
              17 * ${1L << 58} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) * 131072 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) * 131072 / 256) AS BIGINT) AS cell_id
            FROM orders),
          rast AS (SELECT cell_id, count(*) AS v FROM op GROUP BY 1),
          ct AS (
            SELECT r.cell_id - (a.range * ${1L << 29} + b.range) AS tgt,
              r.v * (a.range * (2 - abs(b.range))) AS cx,
              r.v * (b.range * (2 - abs(a.range))) AS cy
            FROM rast r, range(-1, 2) a, range(-1, 2) b),
          sums AS (
            SELECT tgt, CAST(sum(cx) AS BIGINT) AS gx, CAST(sum(cy) AS BIGINT) AS gy
            FROM ct GROUP BY 1)
          SELECT r.cell_id, r.v,
            COALESCE(s.gx, 0) AS gx, COALESCE(s.gy, 0) AS gy,
            COALESCE(s.gx, 0) * COALESCE(s.gx, 0)
              + COALESCE(s.gy, 0) * COALESCE(s.gy, 0) AS g2
          FROM rast r LEFT JOIN sums s ON r.cell_id = s.tgt""",

    // twin of the bounded distance transform: identical mask, the 7×7
    // offset lateral with squared distances, identical level-validity
    // filter, min per target cell
    "q_raster_dt" ->
      s"""WITH pts AS (
            SELECT
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders WHERE ${krankSql("o_orderkey")} % 10 < 4),
         mask AS (
           SELECT DISTINCT CAST(18 * ${1L << 58} AS BIGINT)
             + CAST(floor(wx * 262144 / 256) AS BIGINT) * ${1L << 29}
             + CAST(floor(wy * 262144 / 256) AS BIGINT) AS cell_id
           FROM pts),
         tg AS (
           SELECT m.cell_id + a.range * ${1L << 29} + b.range AS tgt,
             a.range * a.range + b.range * b.range AS d2,
             m.cell_id >> 58 AS src_z
           FROM mask m, range(-3, 4) a, range(-3, 4) b)
         SELECT tgt AS cell_id, CAST(min(d2) AS BIGINT) AS d2
         FROM tg
         WHERE (tgt >> 58) = src_z
           AND ((tgt >> 29) & 536870911) < (1 << (tgt >> 58))
           AND (tgt & 536870911) < (1 << (tgt >> 58))
         GROUP BY tgt""",

    // twin of the IDW interpolation: brute-force radius gather with the
    // identical haversine, identical integer weight and floored mean
    "q_geo_idw" ->
      """WITH probes AS (
           SELECT c_custkey AS probe_id,
             53.8306::DOUBLE + ((c_custkey * 7) % 14000)::DOUBLE * 0.00001::DOUBLE AS plat,
             27.4026::DOUBLE + ((c_custkey * 13) % 29000)::DOUBLE * 0.00001::DOUBLE AS plng
           FROM customer WHERE c_custkey <= 50),
         pts AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             53.8306::DOUBLE + (o_orderkey % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + (o_orderkey % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM orders),
         d AS (
           SELECT probe_id, v,
             2.0 * 6371008.8 * asin(sqrt(
               sin((lat - plat) * pi() / 360.0) * sin((lat - plat) * pi() / 360.0) +
               cos(plat * pi() / 180.0) * cos(lat * pi() / 180.0) *
                 sin((lng - plng) * pi() / 360.0) * sin((lng - plng) * pi() / 360.0))) AS dist_m
           FROM probes CROSS JOIN pts),
         wd AS (
           SELECT probe_id, v,
             1000000 // (CAST(floor(dist_m) AS BIGINT) + 1) AS w
           FROM d WHERE dist_m <= 300.0)
         SELECT probe_id, count(*) AS n_samples,
           CAST(CAST(sum(w * v) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS idw_fp
         FROM wd GROUP BY probe_id""",

    // twin of the 3×3 focal statistics: the z17 count raster, the 9
    // neighbor offsets as a range×range lateral, one equi-join + groupBy
    "q_raster_focal" ->
      s"""WITH op AS (
            SELECT
              17 * ${1L << 58} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) * 131072 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) * 131072 / 256) AS BIGINT) AS cell_id
            FROM orders),
          rast AS (SELECT cell_id, count(*) AS v FROM op GROUP BY 1),
          contrib AS (
            SELECT r.cell_id + a.range * ${1L << 29} + b.range AS tgt, r.v AS nv
            FROM rast r, range(-1, 2) a, range(-1, 2) b)
          SELECT r.cell_id, r.v,
            CAST(sum(c.nv) AS BIGINT) AS focal_sum,
            count(*) AS focal_n,
            CAST(max(c.nv) AS BIGINT) AS focal_max
          FROM rast r JOIN contrib c ON c.tgt = r.cell_id
          GROUP BY r.cell_id, r.v""",

    // twin of the salted hot-cell join: the PLAIN equi-join — salting is
    // a physical-plan rewrite, so the row sets must be identical
    "q_salted_cell_join" ->
      s"""WITH op AS (
            SELECT o_orderkey,
              14 * ${1L << 58} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) * 16384 / 256) AS BIGINT) AS cell_id
            FROM orders),
          cc AS (
            SELECT
              14 * ${1L << 58} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlC) / 360.0::DOUBLE)) * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) * 16384 / 256) AS BIGINT) AS cell_id,
              count(*) AS c_n
            FROM customer GROUP BY 1)
          SELECT o.cell_id, o.o_orderkey, c.c_n
          FROM op o JOIN cc c ON o.cell_id = c.cell_id""",

    // twin of the stream-stream interval join: the batch join — value
    // equality holds within the single-micro-batch feed (stated caveat)
    "q_stream_sjoin" ->
      """WITH p AS (
           SELECT user_id, event_id AS p_event, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         g AS (
           SELECT user_id, event_id AS g_event, epoch_us(ts) AS g_us
           FROM events WHERE event_type = 'signup')
         SELECT p.user_id, p_event, g_event, p_us, g_us
         FROM p JOIN g ON p.user_id = g.user_id
           AND g_us <= p_us AND g_us >= p_us - 604800000000""",

    // twin of the geofence transition log: the shared orders cover chain
    // (z14 -> z11 compact rounds), trajectory-derived event positions,
    // ancestor-chain zone resolution (LEFT join — outside = -1), then
    // the per-user lag window keeping only zone changes
    "q_geo_transitions" ->
      s"""WITH $cellCoverCtes,
          ev AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
              53.8306::DOUBLE + (CAST('0x' || substr(md5('tla|' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
              27.4026::DOUBLE + (CAST('0x' || substr(md5('tlg|' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
            FROM events),
          ecell AS (
            SELECT user_id, event_id, ts_us,
              14 * ${1L << 58} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE + lng / 360.0::DOUBLE)) * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor((256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(lat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(lat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) * 16384 / 256) AS BIGINT) AS cell_id
            FROM ev),
          eanc AS (
            SELECT event_id,
              ((cell_id >> 58) - k.range) * ${1L << 58}
                + (((cell_id >> 29) & 536870911) >> k.range) * ${1L << 29}
                + ((cell_id & 536870911) >> k.range) AS anc
            FROM ecell, range(0, 4) k),
          zonedj AS (
            SELECT e.event_id, r.cell_id AS zone
            FROM eanc e JOIN r11 r ON e.anc = r.cell_id),
          zoned AS (
            SELECT c.user_id, c.event_id, c.ts_us, COALESCE(z.zone, -1) AS zone
            FROM ecell c LEFT JOIN zonedj z ON c.event_id = z.event_id),
          tr AS (
            SELECT user_id, event_id, ts_us, zone,
              lag(zone) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS from_zone
            FROM zoned)
          SELECT user_id, event_id, ts_us, from_zone, zone AS to_zone
          FROM tr WHERE from_zone IS NOT NULL AND from_zone <> zone""",

    // twin of the admission gate: delta docs (doc_id % 4 = 0) that share
    // a verified (hamming<=8) band bucket with NO old doc
    "q_stream_admit" ->
      s"""WITH ${simhashShvCtes("doc_id < 2500")},
         rej AS (
           SELECT DISTINCT a.doc_id FROM banded a
           JOIN banded b ON a.chunk = b.chunk AND a.ck = b.ck
             AND a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
           WHERE bit_count(xor(a.sh, b.sh)) <= 8)
         SELECT doc_id, sh FROM shv
         WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT doc_id FROM rej)""",

    "q_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type""",

    // gaps-and-islands sessionization twin of session_window(30 min), in
    // MICROSECONDS (Spark sessionizes on the raw us event time; an
    // ms-truncated twin splits/merges differently at sub-ms boundaries):
    // Spark merges an event whose window start equals the running session
    // end (UpdatingSessionsIterator splits only on start > end), so a new
    // session starts when the gap is STRICTLY greater than 30 min. The
    // final filter mirrors streaming finalization — a session emits when
    // end <= watermark, and the watermark tracks event time floored to ms.
    "q_stream_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
         flags AS (
           SELECT user_id, tsu, value,
             CASE WHEN lag(tsu) OVER w IS NULL
                  OR tsu - lag(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
         sess AS (
           SELECT user_id, tsu, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM flags),
         agg AS (
           SELECT user_id, sid, min(tsu) AS start_us,
             max(tsu) + 1800000000 AS end_us, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
           FROM sess GROUP BY 1, 2),
         cutoff AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS wm_us FROM events)
         SELECT user_id, start_us // 1000 AS start_ms, end_us // 1000 AS end_ms,
           n, value_cents
         FROM agg, cutoff WHERE end_us <= wm_us""",

    // first-3-per-user admission cap (custom-state twin)
    "q_stream_cap" ->
      """SELECT event_id, user_id FROM (
           SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 3""",

    // the streaming rollup must equal the batch oracle exactly
    "q_stream_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",

    "q_video_frames" ->
      """WITH v AS (
           SELECT c_custkey AS video_id, 24 + c_custkey % 6 AS fps,
             c_custkey % 50 + 1 AS n_frames
           FROM customer WHERE c_custkey <= 200)
         SELECT video_id, CAST(f.g AS INTEGER) AS frame_idx,
           CAST((f.g * 1000) // fps AS BIGINT) AS pts_ms
         FROM v, unnest(generate_series(0, n_frames - 1, 5)) AS f(g)""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) HAVING count(*) >= 1""",

    "q_text_fingerprint" ->
      """SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
         FROM documents""",

    "q_text_tokens" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_tokens,
           length(text) AS n_chars_q
         FROM documents""",

    // exact twin of the two-phase packing cumsum: ONE global running sum
    // ordered by (md5, doc_id) — identical to the engine's sharded form
    // because the shard key is the md5's own prefix, so shard order
    // refines into global key order
    "q_pack_chunks" ->
      """WITH toks AS (
           SELECT doc_id, md5('pack|' || CAST(doc_id AS VARCHAR)) AS pk,
                  len(regexp_extract_all(text, '\S+')) AS n
           FROM documents),
         cum AS (
           SELECT doc_id, n,
             sum(n) OVER (ORDER BY pk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend
           FROM toks WHERE n > 0),
         spans AS (
           SELECT doc_id, CAST(cend AS BIGINT) AS cend,
                  CAST(cend - n AS BIGINT) AS cstart
           FROM cum),
         b AS (
           SELECT s.doc_id, s.cstart, s.cend, gs.g AS bin_id
           FROM spans s,
             unnest(generate_series(s.cstart // 512, (s.cend - 1) // 512)) AS gs(g))
         SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(greatest(cstart, bin_id*512) - cstart AS BIGINT) AS doc_off,
           CAST(greatest(cstart, bin_id*512) - bin_id*512 AS BIGINT) AS bin_off,
           CAST(least(cend, (bin_id+1)*512) - greatest(cstart, bin_id*512) AS BIGINT) AS len
         FROM b""",

    // exact SQL twin of the weighted hash-Bernoulli sample
    "q_sa_weighted" ->
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_kept,
            CAST(sum(o_orderkey) AS BIGINT) AS key_sum
          FROM orders
          WHERE ${krankSql("o_orderkey")} <
            CASE o_orderstatus WHEN 'F' THEN 429496729
                               WHEN 'O' THEN 2147483648 ELSE 858993459 END
          GROUP BY o_orderstatus""",

    // exact SQL twin of the JSON extraction (DuckDB's ->> operator;
    // TRY_CAST to DOUBLE + floor mirrors Spark's null-on-garbage and
    // truncate-not-round semantics exactly)
    "q_json_extract" ->
      """SELECT event_type,
           CAST(sum(CAST(floor(TRY_CAST(props ->> 'k' AS DOUBLE)) AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(count(*) FILTER (WHERE CAST(floor(TRY_CAST(props ->> 'k' AS DOUBLE)) AS BIGINT) > 50) AS BIGINT) AS n_high
         FROM events GROUP BY event_type""",

    // exact SQL twin of the batch sessionization: same lag/new-session
    // rule, same microsecond arithmetic, same running-sum session ids
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         m AS (
           SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL THEN 1
                  WHEN us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM m)
         SELECT user_id, sid, min(us) AS session_start_us, max(us) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid""",

    // exact SQL twin of the rank-arithmetic quantiles: same position math
    "q_quantiles" ->
      """WITH r AS (
           SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag, 50 AS p, CAST(floor(l_quantity * 100) AS BIGINT) AS qty_c
         FROM r WHERE rn = (n - 1) // 2 + 1
         UNION ALL
         SELECT l_returnflag, 90 AS p, CAST(floor(l_quantity * 100) AS BIGINT) AS qty_c
         FROM r WHERE rn = ((n - 1) * 9) // 10 + 1""",

    // exact SQL twin of the winnowing fingerprint: same 5-gram xxhash64
    // hashes, same 4-gram window min, same full-window tail exclusion
    "q_text_winnow" -> s"""WITH $winnowCtes SELECT doc_id, fp FROM fps""",

    // exact SQL twin of the contamination audit: same winnowing
    // fingerprints, fp equi-join vs the % 97 benchmark subset, per-doc
    // hit rollup
    "q_text_contamination" ->
      s"""WITH $winnowCtes,
         bench AS (SELECT fp, doc_id AS bench_id FROM fps WHERE doc_id % 97 = 0),
         hits AS (
           SELECT f.doc_id, f.fp, b.bench_id
           FROM fps f JOIN bench b ON b.fp = f.fp
           WHERE f.doc_id % 97 <> 0)
         SELECT doc_id, count(*) AS n_hits,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_fps,
           CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
         FROM hits GROUP BY doc_id""",

    // exact SQL twin of q_text_repetition: tokens renumbered after the
    // empty filter (adjacency = surviving tokens, as the engine's
    // filtered-array zip), bigrams by a pos+1 self-join, integer counts
    "q_text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos,
                  unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         tk AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p, tok
           FROM toks WHERE tok <> ''),
         tstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n
           FROM (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY doc_id, tok)
           GROUP BY doc_id),
         bg AS (
           SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
           FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.p = a.p + 1),
         bstats AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n
           FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
           GROUP BY doc_id)
         SELECT t.doc_id, t.n_toks, t.n_distinct, t.top_tok_n,
                COALESCE(b.top_bigram_n, 0) AS top_bigram_n
         FROM tstats t LEFT JOIN bstats b ON b.doc_id = t.doc_id""",

    // exact SQL twin of the keyword extraction: same token regex, same
    // (tf DESC, df ASC, term) ordinal scoring — no float idf to diverge
    "q_text_keywords" ->
      """WITH terms AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df
                FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         ranked AS (
           SELECT t.doc_id, t.term, t.tf, d.df,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY t.tf DESC, d.df ASC, t.term) AS rank
           FROM tf t JOIN df d ON d.term = t.term)
         SELECT doc_id, rank, term, tf, df FROM ranked WHERE rank <= 5""",

    "q_text_quality" ->
      """SELECT doc_id,
           CAST(floor(len(regexp_extract_all(text, '[aeiou]')) * 1000000.0 / length(text)) AS BIGINT) AS vowel_fp,
           CAST(floor(len(regexp_extract_all(text, ' ')) * 1000000.0 / length(text)) AS BIGINT) AS space_fp,
           len(regexp_extract_all(text, '[0-9]')) AS n_digits
         FROM documents""",

    "q_text_langid" ->
      """SELECT doc_id,
           CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_guess
         FROM (SELECT doc_id,
             len(regexp_extract_all(text, '\b(the|and|of|to)\b')) AS en,
             len(regexp_extract_all(text, '\b(el|la|de|que)\b')) AS es,
             len(regexp_extract_all(text, '\b(der|die|und|ist)\b')) AS de,
             len(regexp_extract_all(text, '\b(le|la|les|et)\b')) AS fr
           FROM documents)""",

    "q_ann_mips" ->
      """WITH q AS (
           SELECT u.pos, CAST(floor(u.v * 1000) AS BIGINT) AS qq
           FROM (SELECT unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) - 1 AS pos
                 FROM embeddings WHERE vec_id = 0) u),
         c AS (
           SELECT vec_id, u.pos, CAST(floor(u.v * 1000) AS BIGINT) AS vq
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) - 1 AS pos
                 FROM embeddings WHERE vec_id <> 0) u)
         SELECT c.vec_id, CAST(sum(c.vq * q.qq) AS BIGINT) AS dot
         FROM c JOIN q ON c.pos = q.pos
         GROUP BY c.vec_id ORDER BY dot DESC, vec_id LIMIT 10""",

    "q_ann_cosine" ->
      """WITH quant AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS vq
           FROM embeddings),
         q AS (SELECT pos, vq AS qq FROM quant WHERE vec_id = 0),
         s AS (
           SELECT c.vec_id, CAST(sum(c.vq * q.qq) AS BIGINT) AS dot,
             sum(c.vq * c.vq) AS na, sum(q.qq * q.qq) AS nb
           FROM quant c JOIN q ON c.pos = q.pos WHERE c.vec_id <> 0
           GROUP BY c.vec_id)
         SELECT vec_id,
           CAST(floor(CAST(dot AS DOUBLE) * 1000000.0 /
             sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_fp
         FROM s ORDER BY cos_fp DESC, vec_id LIMIT 10""",

    // exact SQL twin of AnnIndex.topK: md5-derived integer hyperplanes ->
    // 64 sign bits -> 4x16-bit chunk routing -> exact scoring of candidates
    "q_ann_lsh" ->
      s"""WITH $annChunkCtes,
         probe AS (SELECT c, ck FROM chunks WHERE vec_id = 0),
         cand AS (
           SELECT DISTINCT ch.vec_id FROM chunks ch
           JOIN probe p ON ch.c = p.c AND ch.ck = p.ck
           WHERE ch.vec_id <> 0),
         qv AS (SELECT pos, vq AS qq FROM quant WHERE vec_id = 0)
         SELECT q.vec_id, CAST(sum(q.vq * v.qq) AS BIGINT) AS dot
         FROM quant q JOIN cand c ON q.vec_id = c.vec_id JOIN qv v ON q.pos = v.pos
         GROUP BY q.vec_id
         ORDER BY dot DESC, q.vec_id LIMIT 10""",

    // exact SQL twin of AnnIndex.knnJoin: every probe (vec_id < 30) routes
    // through the same chunk buckets; per-probe top-3 by exact integer dot
    "q_ann_join" ->
      s"""WITH $annChunkCtes,
         pch AS (SELECT vec_id AS probe_id, c, ck FROM chunks WHERE vec_id < 30),
         cand AS (
           SELECT DISTINCT p.probe_id, ch.vec_id
           FROM chunks ch JOIN pch p ON ch.c = p.c AND ch.ck = p.ck
           WHERE ch.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM cand c
           JOIN quant q ON q.vec_id = c.vec_id
           JOIN quant pq ON pq.vec_id = c.probe_id AND pq.pos = q.pos
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, dot,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, rank, vec_id, dot FROM ranked WHERE rank <= 3""",

    // exact SQL twin of knnJoin(multiProbe = true): probe chunk keys plus
    // all 16 one-bit flips per chunk
    "q_ann_multiprobe" ->
      s"""WITH $annChunkCtes,
         pch AS (
           SELECT vec_id AS probe_id, c,
             CASE WHEN f.range = 16 THEN ck
                  ELSE xor(ck, CAST(1 AS BIGINT) << CAST(f.range AS INTEGER)) END AS ck
           FROM chunks, range(0, 17) f WHERE vec_id < 20),
         cand AS (
           SELECT DISTINCT p.probe_id, ch.vec_id
           FROM chunks ch JOIN pch p ON ch.c = p.c AND ch.ck = p.ck
           WHERE ch.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM cand c
           JOIN quant q ON q.vec_id = c.vec_id
           JOIN quant pq ON pq.vec_id = c.probe_id AND pq.pos = q.pos
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, dot,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, rank, vec_id, dot FROM ranked WHERE rank <= 3""",

    // exact SQL twin of IvfIndex.knnJoin: md5-seeded centroids, 2 unrolled
    // Lloyd's rounds, squared-L2 assignment/routing (ties -> smaller cid),
    // probes route to their 2 nearest lists, candidates scored with the
    // exact dot, per-probe top-3
    "q_ann_ivf" ->
      s"""WITH $annQuantCte,
         $ivfRouteCtes,
         $ivfProbeTopkCtes
         SELECT probe_id, rank, vec_id, dot FROM ranked WHERE rank <= 3""",

    // recall@3 of the IVF probe chain vs the exact top-3: the identical
    // shared probe CTEs supply `ranked`; the exact side is a plain
    // join-on-pos dot over all (probe, corpus) pairs, ranked with the
    // SAME (dot DESC, vec_id) tie rule; probes the index recovered
    // nothing for emit n_hits = 0
    "q_ann_recall" ->
      s"""WITH $annQuantCte,
         $ivfRouteCtes,
         $ivfProbeTopkCtes,
         escored AS (
           SELECT pq.vec_id AS probe_id, q.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM quant q JOIN quant pq ON pq.pos = q.pos
             AND pq.vec_id < 20 AND q.vec_id <> pq.vec_id
           GROUP BY pq.vec_id, q.vec_id),
         eranked AS (
           SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM escored),
         hits AS (
           SELECT e.probe_id, count(*) AS n_hits
           FROM eranked e JOIN ranked a
             ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
           WHERE e.rank <= 3 AND a.rank <= 3 GROUP BY 1)
         SELECT p.probe_id, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(floor(COALESCE(h.n_hits, 0) * 1000000 / 3) AS BIGINT) AS recall_fp
         FROM (SELECT DISTINCT vec_id AS probe_id FROM quant WHERE vec_id < 20) p
         LEFT JOIN hits h ON p.probe_id = h.probe_id""",

    // twin of the append-maintenance index: centroids train on the
    // pre-append rows only; assignment + routing over the full corpus
    // (the shared probe CTEs consume whatever `cdist`/`assign` the
    // preceding index CTEs define — here the append form)
    "q_ann_append" ->
      s"""WITH $annQuantCte,
         $ivfAppendCtes,
         $ivfProbeTopkCtes
         SELECT probe_id, rank, vec_id, dot FROM ranked WHERE rank <= 3""",

    // recall twin over the two-level chain: the shared ivf2 index/probe
    // CTEs supply the approximate ranking; exact side + hit counting as
    // q_ann_recall (vec_id < 10 probe panel)
    "q_ann_recall2" ->
      s"""WITH $annQuantCte,
         $ivf2IndexCtes,
         ${ivf2ProbeCtes("vec_id < 10")},
         cand AS (
           SELECT p.probe_id, a.vec_id FROM proute2 p JOIN assign2 a ON a.cid = p.cid
           WHERE a.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM cand c
           JOIN quant q ON q.vec_id = c.vec_id
           JOIN quant pq ON pq.vec_id = c.probe_id AND pq.pos = q.pos
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM scored),
         escored AS (
           SELECT pq.vec_id AS probe_id, q.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM quant q JOIN quant pq ON pq.pos = q.pos
             AND pq.vec_id < 10 AND q.vec_id <> pq.vec_id
           GROUP BY pq.vec_id, q.vec_id),
         eranked AS (
           SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM escored),
         hits AS (
           SELECT e.probe_id, count(*) AS n_hits
           FROM eranked e JOIN ranked a
             ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
           WHERE e.rank <= 3 AND a.rank <= 3 GROUP BY 1)
         SELECT p.probe_id, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(floor(COALESCE(h.n_hits, 0) * 1000000 / 3) AS BIGINT) AS recall_fp
         FROM (SELECT DISTINCT vec_id AS probe_id FROM quant WHERE vec_id < 10) p
         LEFT JOIN hits h ON p.probe_id = h.probe_id""",

    // exact SQL twin of IvfIndex.knnJoinTwoLevel: 4 md5-seeded super
    // centroids + 1 unrolled Lloyd's round, per-super md5 'ivf2' sub
    // seeding (8/cell) + 1 unrolled PER-CELL sub training round,
    // own-cell sub-assignment, 2-super -> 4-sub-list probe routing,
    // exact-dot scoring, per-probe top-3
    "q_ann_ivf2" ->
      s"""WITH $annQuantCte,
         $ivf2IndexCtes,
         ${ivf2ProbeCtes("vec_id < 10")},
         cand AS (
           SELECT p.probe_id, a.vec_id FROM proute2 p JOIN assign2 a ON a.cid = p.cid
           WHERE a.vec_id <> p.probe_id),
         scored AS (
           SELECT c.probe_id, c.vec_id, CAST(sum(q.vq * pq.vq) AS BIGINT) AS dot
           FROM cand c
           JOIN quant q ON q.vec_id = c.vec_id
           JOIN quant pq ON pq.vec_id = c.probe_id AND pq.pos = q.pos
           GROUP BY c.probe_id, c.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, dot,
             row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, rank, vec_id, dot FROM ranked WHERE rank <= 3""",

    // exact SQL twin of PqIndex.ivf2AdcTopK — the composed two-level +
    // residual-PQ chain: the shared ivf2 index CTEs supply assign2 (sub
    // lists) and subq (trained sub centroids); residuals are taken against
    // each vector's OWN sub centroid, PQ-encoded from md5-ranked donors
    // after 1 unrolled per-subspace Lloyd's round, and the score
    // decomposes exactly as dot(probe, sub centroid) + sum_s LUT_s[code_s]
    "q_ann_ivf2pq" ->
      s"""WITH $ivf2PqRankedCtes
         SELECT probe_id, rank, vec_id, score FROM ranked WHERE rank <= 3""",

    // refine over the two-level composition: the SAME hierarchical-ADC
    // chain cut at a 12-candidate shortlist, then the exact join-on-pos
    // integer dot over only those candidates, re-ranked
    "q_ann_refine2" ->
      s"""WITH $ivf2PqRankedCtes,
         short AS (SELECT probe_id, vec_id FROM ranked WHERE rank <= 12),
         exact AS (
           SELECT s.probe_id, s.vec_id, CAST(sum(p.vq * q.vq) AS BIGINT) AS edot
           FROM short s
           JOIN quant q ON q.vec_id = s.vec_id
           JOIN quant p ON p.vec_id = s.probe_id AND p.pos = q.pos
           GROUP BY s.probe_id, s.vec_id),
         reranked AS (
           SELECT probe_id, vec_id, edot,
             row_number() OVER (PARTITION BY probe_id ORDER BY edot DESC, vec_id) AS rank
           FROM exact)
         SELECT probe_id, rank, vec_id, edot FROM reranked WHERE rank <= 3""",

    // exact SQL twin of PqIndex.adcTopK: md5-first donor SEED -> 2
    // unrolled per-subspace Lloyd's rounds -> integer-L2 argmin encoding
    // under the trained codebooks -> probe LUTs -> (s, code) equi-join ->
    // per-probe top-3 by summed exact dots
    "q_ann_pq" ->
      s"""WITH $annQuantCte,
         $pqCodeCtes,
         ${pqLutCte("p.vec_id < 10")},
         scored AS (
           SELECT l.probe_id, k.vec_id, CAST(sum(l.pdot) AS BIGINT) AS score
           FROM codes k JOIN luts l ON l.s = k.s AND l.code = k.code
           WHERE k.vec_id <> l.probe_id
           GROUP BY l.probe_id, k.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, rank, vec_id, score FROM ranked WHERE rank <= 3""",

    // exact SQL twin of PqIndex.ivfAdcTopK, RESIDUAL path: the trained IVF
    // CTEs pick candidates AND supply each vector's list centroid; the
    // residual (vq - centroid) is PQ-encoded from md5-ranked residual
    // donors, and the score decomposes exactly as
    // dot(probe, centroid) + sum_s LUT_s[code_s]
    "q_ann_ivfpq" ->
      s"""WITH $ivfPqRankedCtes
         SELECT probe_id, rank, vec_id, score FROM ranked WHERE rank <= 3""",

    // refine twin: the SAME ADC chain cut at a 12-candidate shortlist,
    // then the exact integer dot (join-on-pos, as every exact twin) over
    // only those candidates, re-ranked
    "q_ann_refine" ->
      s"""WITH $ivfPqRankedCtes,
         short AS (SELECT probe_id, vec_id FROM ranked WHERE rank <= 12),
         exact AS (
           SELECT s.probe_id, s.vec_id, CAST(sum(p.vq * q.vq) AS BIGINT) AS edot
           FROM short s
           JOIN quant q ON q.vec_id = s.vec_id
           JOIN quant p ON p.vec_id = s.probe_id AND p.pos = q.pos
           GROUP BY s.probe_id, s.vec_id),
         reranked AS (
           SELECT probe_id, vec_id, edot,
             row_number() OVER (PARTITION BY probe_id ORDER BY edot DESC, vec_id) AS rank
           FROM exact)
         SELECT probe_id, rank, vec_id, edot FROM reranked WHERE rank <= 3""",

    // exact SQL twin of CellOps.compact over the z14 order-point cover:
    // cell packing is pure integer arithmetic (z*2^58 + tx*2^29 + ty), and
    // each of the 3 rounds replays one groupBy-on-parent promotion
    "q_cell_compact" ->
      s"""WITH $cellCoverCtes
          SELECT cell_id, CAST(cell_id // ${1L << 58} AS BIGINT) AS zl FROM r11""",

    // exact SQL twin of CellOps.coverJoin: same compacted orders cover,
    // customer points explode to their 4 ancestor cells (z14..z11), one
    // equi-join against the cover
    "q_cell_cover_join" ->
      s"""WITH $cellCoverCtes,
          cpts AS (
            SELECT c_custkey,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlC) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM customer),
          ccell AS (
            SELECT c_custkey,
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM cpts),
          anc AS (
            SELECT c_custkey, cell_id,
              (14 - d.range) * ${1L << 58} +
              (((cell_id % ${1L << 58}) // ${1L << 29}) >> d.range) * ${1L << 29} +
              ((cell_id % ${1L << 29}) >> d.range) AS anc
            FROM ccell, range(0, 4) d)
          SELECT a.c_custkey, a.cell_id, r.cell_id AS cover_cell
          FROM anc a JOIN r11 r ON a.anc = r.cell_id""",

    // exact SQL twin of the cover FILTER: the same compacted-cover chain,
    // customer points kept iff an ancestor-chain cell is in the cover
    // (disjoint cover => the semi-join emits at most one row per point)
    "q_cell_cover_filter" ->
      s"""WITH $cellCoverCtes,
          cpts AS (
            SELECT c_custkey,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlC) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlC) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM customer),
          ccell AS (
            SELECT c_custkey,
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM cpts),
          anc AS (
            SELECT c_custkey, cell_id,
              (14 - d.range) * ${1L << 58} +
              (((cell_id % ${1L << 58}) // ${1L << 29}) >> d.range) * ${1L << 29} +
              ((cell_id % ${1L << 29}) >> d.range) AS anc
            FROM ccell, range(0, 4) d)
          SELECT a.c_custkey, a.cell_id
          FROM anc a JOIN r11 r ON a.anc = r.cell_id""",

    // exact SQL twin of the zonal rollup: the cover-join twin's ancestor
    // chain -> one GROUP BY on the matched cover cell, half-up money cents
    "q_cell_zonal" ->
      s"""WITH $cellCoverCtes,
          opts AS (
            SELECT o_orderkey,
              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders),
          ocell AS (
            SELECT o_orderkey, price_cents,
              14 * ${1L << 58} +
              CAST(floor(wx * 16384 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 16384 / 256) AS BIGINT) AS cell_id
            FROM opts),
          anc AS (
            SELECT o_orderkey, price_cents,
              (14 - d.range) * ${1L << 58} +
              (((cell_id % ${1L << 58}) // ${1L << 29}) >> d.range) * ${1L << 29} +
              ((cell_id % ${1L << 29}) >> d.range) AS anc
            FROM ocell, range(0, 3) d)
          SELECT r.cell_id AS cover_cell, count(*) AS n_pts,
            CAST(sum(a.price_cents) AS BIGINT) AS price_cents_sum,
            min(a.o_orderkey) AS min_key
          FROM anc a JOIN r12 r ON a.anc = r.cell_id
          GROUP BY r.cell_id""",

    // exact SQL twin of CellOps.labelRegions over the thinned z18 order
    // mask: mask cells, the two neighbor-offset joins, the recursive
    // transitive closure (the shared CC twin), isolated cells as their
    // own regions, and the per-region area/bbox/perimeter stats
    "q_raster_polygonize" ->
      s"""WITH RECURSIVE pts AS (
            SELECT
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders WHERE ${krankSql("o_orderkey")} % 10 < 4),
         mask AS (
           SELECT DISTINCT CAST(18 * ${1L << 58} AS BIGINT)
             + CAST(floor(wx * 262144 / 256) AS BIGINT) * ${1L << 29}
             + CAST(floor(wy * 262144 / 256) AS BIGINT) AS cell_id
           FROM pts),
         e0 AS (
           SELECT a.cell_id AS ida, b.cell_id AS idb FROM mask a
             JOIN mask b ON b.cell_id = a.cell_id + ${1L << 29}
           UNION ALL
           SELECT a.cell_id, b.cell_id FROM mask a
             JOIN mask b ON b.cell_id = a.cell_id + 1),
         ${ccResolveCtes("SELECT ida, idb FROM e0")},
         lbl2 AS (
           SELECT m.cell_id, COALESCE(l.rep_id, m.cell_id) AS region
           FROM mask m LEFT JOIN lbl l ON m.cell_id = l.doc_id),
         ec AS (
           SELECT l.region, count(*) AS n_adj FROM e0 e
             JOIN lbl2 l ON e.ida = l.cell_id GROUP BY 1)
         SELECT l.region, count(*) AS n_cells,
           min((l.cell_id % ${1L << 58}) // ${1L << 29}) AS min_tx,
           max((l.cell_id % ${1L << 58}) // ${1L << 29}) AS max_tx,
           min(l.cell_id % ${1L << 29}) AS min_ty,
           max(l.cell_id % ${1L << 29}) AS max_ty,
           count(*) * 4 - COALESCE(ec.n_adj, 0) * 2 AS perimeter
         FROM lbl2 l LEFT JOIN ec ON l.region = ec.region
         GROUP BY l.region, ec.n_adj""",

    // exact SQL twin of CellOps.coverOfPolygon: bbox bounds from the
    // vertex list (same mercator formulas; power-of-two scalings are
    // IEEE-exact so the floors agree bit-for-bit), candidate grid via a
    // static over-approximate range (DuckDB range() takes no lateral
    // args; 64 >= any test bbox side), tile-center inversion (the P2
    // formulas), convex half-plane containment (the q_f6_pip form of the
    // same diamond), then 3 compact rounds z17 -> z14
    // morton twin: the identical spread/compact shift-mask cascade as CTE
    // steps (a textual expansion would copy the input 2^5 times per step)
    "q_morton_layout" ->
      s"""WITH pts AS (
            SELECT
              (256.0::DOUBLE * (0.5::DOUBLE + ($lngSqlO) / 360.0::DOUBLE)) AS wx,
              (256.0::DOUBLE * (0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                 / (1.0::DOUBLE - least(greatest(sin(($latSqlO) * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi()))) AS wy
            FROM orders),
          cells AS (
            SELECT DISTINCT
              17 * ${1L << 58} + CAST(floor(wx * 131072 / 256) AS BIGINT) * ${1L << 29} +
              CAST(floor(wy * 131072 / 256) AS BIGINT) AS cell_id
            FROM pts),
          m0 AS (SELECT cell_id, (cell_id >> 29) & 536870911 AS x, cell_id & 536870911 AS y FROM cells),
          m1 AS (SELECT cell_id, (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM m0),
          m2 AS (SELECT cell_id, (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM m1),
          m3 AS (SELECT cell_id, (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM m2),
          m4 AS (SELECT cell_id, (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM m3),
          m5 AS (SELECT cell_id, (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM m4),
          mk AS (SELECT cell_id, (cell_id // ${1L << 58}) * ${1L << 58} + (x | (y << 1)) AS morton FROM m5),
          c0 AS (SELECT cell_id, morton, (morton % ${1L << 58}) & 6148914691236517205 AS x, ((morton % ${1L << 58}) >> 1) & 6148914691236517205 AS y FROM mk),
          c1 AS (SELECT cell_id, morton, (x | (x >> 1)) & 3689348814741910323 AS x, (y | (y >> 1)) & 3689348814741910323 AS y FROM c0),
          c2 AS (SELECT cell_id, morton, (x | (x >> 2)) & 1085102592571150095 AS x, (y | (y >> 2)) & 1085102592571150095 AS y FROM c1),
          c3 AS (SELECT cell_id, morton, (x | (x >> 4)) & 71777214294589695 AS x, (y | (y >> 4)) & 71777214294589695 AS y FROM c2),
          c4 AS (SELECT cell_id, morton, (x | (x >> 8)) & 281470681808895 AS x, (y | (y >> 8)) & 281470681808895 AS y FROM c3),
          c5 AS (SELECT cell_id, morton, (x | (x >> 16)) & 4294967295 AS x, (y | (y >> 16)) & 4294967295 AS y FROM c4)
          SELECT cell_id, morton,
            (morton >> 58) * ${1L << 58} + x * ${1L << 29} + y AS cell_rt
          FROM c5""",

    // cover x cover intersection twin: per-zone compact replayed for both
    // sides (quads complete per zone), then the two ancestor-chain
    // directions — b up to ancestor-or-self meets a; a STRICTLY up meets
    // b — partition the z_a<=z_b / z_a>z_b cases, each overlap counted
    // once at the finer cell's 4^(14-z) area
    "q_cell_cover_intersect" ->
      s"""WITH ${zonedCoverCtes("ia", "orders", "o_orderstatus", latSqlO, lngSqlO)},
         ${zonedCoverCtes("ib", "customer", "c_mktsegment", latSqlC, lngSqlC)},
         acov AS (SELECT zn AS zone_a, cell_id FROM iar11),
         bcov AS (SELECT zn AS zone_b, cell_id FROM ibr11),
         banc AS (
           SELECT zone_b, cell_id,
             ((cell_id // ${1L << 58}) - g.d) * ${1L << 58} +
             (((cell_id % ${1L << 58}) // ${1L << 29}) >> g.d) * ${1L << 29} +
             ((cell_id % ${1L << 29}) >> g.d) AS anc
           FROM bcov,
             unnest(generate_series(0, CAST(cell_id // ${1L << 58} AS INT) - 11)) AS g(d)),
         d1 AS (
           SELECT a.zone_a, b.zone_b,
             (1::BIGINT << CAST(2 * (14 - b.cell_id // ${1L << 58}) AS INT)) AS ar
           FROM banc b JOIN acov a ON a.cell_id = b.anc),
         aanc AS (
           SELECT zone_a, cell_id,
             ((cell_id // ${1L << 58}) - g.d) * ${1L << 58} +
             (((cell_id % ${1L << 58}) // ${1L << 29}) >> g.d) * ${1L << 29} +
             ((cell_id % ${1L << 29}) >> g.d) AS anc
           FROM acov,
             unnest(generate_series(1, CAST(cell_id // ${1L << 58} AS INT) - 11)) AS g(d)),
         d2 AS (
           SELECT a.zone_a, b.zone_b,
             (1::BIGINT << CAST(2 * (14 - a.cell_id // ${1L << 58}) AS INT)) AS ar
           FROM aanc a JOIN bcov b ON b.cell_id = a.anc)
         SELECT zone_a, zone_b, CAST(count(*) AS BIGINT) AS n_cell_pairs,
           CAST(sum(ar) AS BIGINT) AS cells_zmax
         FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
         GROUP BY zone_a, zone_b""",

    "q_cell_polyfill" ->
      s"""WITH verts(vlat, vlng) AS (VALUES
            (53.8381234::DOUBLE, 27.4101234::DOUBLE),
            (53.8421234::DOUBLE, 27.4401234::DOUBLE),
            (53.8461234::DOUBLE, 27.4101234::DOUBLE),
            (53.8421234::DOUBLE, 27.3801234::DOUBLE)),
          bounds AS (
            SELECT
              min(CAST(floor((0.5::DOUBLE + vlng / 360.0::DOUBLE) * 131072) AS BIGINT)) AS txmin,
              max(CAST(floor((0.5::DOUBLE + vlng / 360.0::DOUBLE) * 131072) AS BIGINT)) AS txmax,
              min(CAST(floor((0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(vlat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                / (1.0::DOUBLE - least(greatest(sin(vlat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi())) * 131072) AS BIGINT)) AS tymin,
              max(CAST(floor((0.5::DOUBLE - ln((1.0::DOUBLE + least(greatest(sin(vlat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))
                / (1.0::DOUBLE - least(greatest(sin(vlat * pi() / 180.0::DOUBLE), -0.9999::DOUBLE), 0.9999::DOUBLE))) / (4 * pi())) * 131072) AS BIGINT)) AS tymax
            FROM verts),
          grid AS (
            SELECT b.txmin + gx.range AS tx, b.tymin + gy.range AS ty
            FROM bounds b, range(0, 64) gx, range(0, 64) gy
            WHERE b.txmin + gx.range <= b.txmax AND b.tymin + gy.range <= b.tymax),
          ctr AS (
            SELECT tx, ty,
              180.0::DOUBLE / pi() * (2 * atan(exp((1 - 2 * ((ty + 0.5::DOUBLE) / 131072.0::DOUBLE)) * pi())) - pi() / 2) AS lat,
              180.0::DOUBLE * (2 * ((tx + 0.5::DOUBLE) / 131072.0::DOUBLE) - 1) AS lng
            FROM grid),
          p17 AS (
            SELECT DISTINCT 17 * ${1L << 58} + tx * ${1L << 29} + ty AS cell_id
            FROM ctr
            WHERE ((27.4401234 - 27.4101234) * (lat - 53.8381234) - (53.8421234 - 53.8381234) * (lng - 27.4101234)) > 0
              AND ((27.4101234 - 27.4401234) * (lat - 53.8421234) - (53.8461234 - 53.8421234) * (lng - 27.4401234)) > 0
              AND ((27.3801234 - 27.4101234) * (lat - 53.8461234) - (53.8421234 - 53.8461234) * (lng - 27.4101234)) > 0
              AND ((27.4101234 - 27.3801234) * (lat - 53.8421234) - (53.8381234 - 53.8421234) * (lng - 27.3801234)) > 0),
          ${compactRoundCtes("p17", 17, "p16")},
          ${compactRoundCtes("p16", 16, "p15")},
          ${compactRoundCtes("p15", 15, "p14")}
          SELECT cell_id, CAST(cell_id // ${1L << 58} AS BIGINT) AS zl FROM p14""",

    // exact SQL twin of nearDupPairs + resolveClusters: same chunk-bucket
    // candidate pairs, same fixed-point cosine, recursive-CTE components
    "q_sim_resolve" ->
      s"""WITH RECURSIVE $annChunkCtes,
         cand AS (
           SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
           FROM chunks a JOIN chunks b
             ON a.c = b.c AND a.ck = b.ck AND a.vec_id < b.vec_id),
         vp AS (
           SELECT c.ida, c.idb,
             CAST(floor(CAST(sum(qa.vq * qb.vq) AS DOUBLE) * 1000000.0 /
               sqrt(CAST(greatest(sum(qa.vq * qa.vq), 1) AS DOUBLE) *
                    CAST(greatest(sum(qb.vq * qb.vq), 1) AS DOUBLE))) AS BIGINT) AS cos_fp
           FROM cand c
           JOIN quant qa ON qa.vec_id = c.ida
           JOIN quant qb ON qb.vec_id = c.idb AND qb.pos = qa.pos
           GROUP BY c.ida, c.idb),
         ${ccResolveCtes("SELECT ida, idb FROM vp WHERE cos_fp >= 999000")}
         $ccResolveSelect""",

    "q_sim_pairs" ->
      """WITH quant AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS vq
           FROM embeddings WHERE vec_id < 300)
         SELECT a.vec_id AS ida, b.vec_id AS idb,
           CAST(floor(CAST(sum(a.vq * b.vq) AS DOUBLE) * 1000000.0 /
             sqrt(CAST(greatest(sum(a.vq * a.vq), 1) AS DOUBLE) *
                  CAST(greatest(sum(b.vq * b.vq), 1) AS DOUBLE))) AS BIGINT) AS cos_fp
         FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id
         HAVING CAST(floor(CAST(sum(a.vq * b.vq) AS DOUBLE) * 1000000.0 /
             sqrt(CAST(greatest(sum(a.vq * a.vq), 1) AS DOUBLE) *
                  CAST(greatest(sum(b.vq * b.vq), 1) AS DOUBLE))) AS BIGINT) >= 400000""",

    // exact SQL twin of Dedup.minhashPairs: same xxhash64
    // permutation hashes, same '_'-joined band keys, same verification
    "q_dedup_minhash" ->
      s"""WITH $minhashCtes
         SELECT ida, idb, jac_fp FROM vpairs""",

    // exact SQL twin of Dedup.resolveClusters over the verified minhash
    // pairs (jac >= 0.6): recursive-CTE transitive closure -> component
    // min as the kept representative (min-label propagation's fixpoint)
    // twin of the k-hop audit: the simhash pair chain, symmetrized edges,
    // one edge self-join for hop 2, distinct neighbor counts
    "q_graph_khop" ->
      s"""WITH ${simhashPairCtes("TRUE")},
         e AS (
           SELECT ida, idb FROM spairs WHERE hamming <= 8
           UNION
           SELECT idb, ida FROM spairs WHERE hamming <= 8),
         h2 AS (
           SELECT x.ida, y.idb FROM e x JOIN e y ON x.idb = y.ida
           WHERE x.ida <> y.idb),
         d1 AS (SELECT ida, count(DISTINCT idb) AS n_hop1 FROM e GROUP BY 1),
         w2 AS (
           SELECT ida, count(DISTINCT idb) AS n_within2 FROM (
             SELECT ida, idb FROM e UNION SELECT ida, idb FROM h2)
           GROUP BY 1)
         SELECT w2.ida AS doc_id, d1.n_hop1, w2.n_within2
         FROM w2 JOIN d1 ON w2.ida = d1.ida""",

    "q_dedup_resolve" ->
      s"""WITH RECURSIVE $minhashCtes,
         ${ccResolveCtes("SELECT ida, idb FROM vpairs WHERE jac_fp >= 600000")}
         $ccResolveSelect""",

    // exact SQL twin of Dedup.simhashPairs: 60-bit sign-aggregated token
    // hash, 4x15-bit chunk banding, popcount verification
    "q_dedup_simhash" ->
      s"""WITH ${simhashPairCtes("TRUE")}
         SELECT ida, idb, hamming FROM spairs WHERE hamming <= 8""",

    // oracle of Dedup.resolveDelta = the FULL RERUN over the grown corpus
    // (old pairs ∪ delta pairs == ALL simhash pairs): the incremental
    // Spark result must be row-identical to recomputing connected
    // components from scratch — the equivalence that IS the operator's
    // contract (star edges of the committed resolve reproduce old
    // components exactly)
    "q_dedup_incremental" ->
      s"""WITH RECURSIVE ${simhashPairCtes("doc_id < 2500")},
         ${ccResolveCtes("SELECT ida, idb FROM spairs WHERE hamming <= 8")}
         $ccResolveSelect""",

    "q_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
         sh AS (
           SELECT DISTINCT doc_id, substring(text, i, 3) AS g
           FROM d, unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS t(i)),
         na AS (SELECT doc_id AS ida, count(*) AS na FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
           FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT i.ida, i.idb,
           CAST(floor(i.inter * 1000000.0 / (x.na + y.na - i.inter)) AS BIGINT) AS jac_fp
         FROM inter i JOIN na x ON i.ida = x.ida JOIN na y ON i.idb = y.ida
         WHERE floor(i.inter * 1000000.0 / (x.na + y.na - i.inter)) >= 500000""",

    // BM25: the whole index build (postings/doclens/dfs/stats) + the
    // IDENTICAL per-term score expression (shared string — both engines
    // evaluate the same IEEE double tree), integer sum across terms,
    // rank by the integer score
    "q_text_bm25" -> {
      val values = bm25Queries.zipWithIndex
        .map { case (q, i) => s"(CAST(${i + 1} AS BIGINT), '$q')" }.mkString(", ")
      s"""WITH queries(query_id, qtext) AS (VALUES $values),
         tm AS (
           SELECT doc_id, u.term FROM documents,
             unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS u(term)),
         postings AS (SELECT term, doc_id, count(*) AS tf FROM tm GROUP BY 1, 2),
         doclens AS (SELECT doc_id, count(*) AS dl FROM tm GROUP BY 1),
         dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM doclens),
         qterms AS (
           SELECT DISTINCT query_id, u.term FROM queries,
             unnest(regexp_extract_all(lower(qtext), '[a-z]{3,}')) AS u(term)),
         scored AS (
           SELECT q.query_id, p.doc_id,
             CAST(sum(${pipeline.Bm25.termScoreFpSql}) AS BIGINT) AS score_fp
           FROM qterms q
           JOIN postings p ON p.term = q.term
           JOIN dfs f ON f.term = q.term
           JOIN doclens d ON d.doc_id = p.doc_id
           CROSS JOIN stats
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, doc_id, score_fp,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_fp DESC, doc_id) AS rank
           FROM scored)
         SELECT query_id, rank, doc_id, score_fp FROM ranked WHERE rank <= 5"""
    },

    // CMS: every counter of the 4x256 sketch and every probe's min-cell
    // estimate replayed (xxhash64 cell hashes per distinct shingle,
    // integer counts throughout)
    "q_sketch_cms" ->
      s"""WITH sh AS (
           SELECT substring(text, i::INT, 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)
           WHERE length(text) >= 5),
         pcells AS (SELECT g, r, h % 256 AS cl FROM (${cmsKeyHashSql("sh")})),
         sketch AS (
           SELECT r, cl, count(*) AS c FROM sh JOIN pcells USING (g) GROUP BY 1, 2),
         est AS (
           SELECT p.g, min(coalesce(s.c, 0)) AS est
           FROM pcells p LEFT JOIN sketch s ON s.r = p.r AND s.cl = p.cl
           GROUP BY 1),
         exact AS (SELECT g, count(*) AS exact FROM sh GROUP BY 1)
         SELECT e.g AS k, e.est, x.exact
         FROM est e JOIN exact x ON x.g = e.g""",

    // twin of the CMS join-size estimate: both sketches replayed, row
    // inner products, min, exact Σ na·nb beside it
    "q_sketch_joinsize" ->
      s"""WITH a AS (
           SELECT CAST(user_id AS VARCHAR) AS g FROM events
           WHERE event_type = 'purchase'),
         b AS (
           SELECT CAST(user_id AS VARCHAR) AS g FROM events
           WHERE event_type = 'click'),
         kh AS (SELECT g, r, h % 256 AS cl FROM (${cmsKeyHashSql(
           "(SELECT g FROM a UNION SELECT g FROM b)")})),
         sa2 AS (SELECT r, cl, count(*) AS c FROM a JOIN kh USING (g) GROUP BY 1, 2),
         sb2 AS (SELECT r, cl, count(*) AS c FROM b JOIN kh USING (g) GROUP BY 1, 2),
         rws AS (SELECT DISTINCT r FROM sa2),
         ip AS (
           SELECT w.r, CAST(COALESCE(sum(s1.c * s2.c), 0) AS BIGINT) AS ip
           FROM rws w
           LEFT JOIN sa2 s1 ON s1.r = w.r
           LEFT JOIN sb2 s2 ON s2.r = s1.r AND s2.cl = s1.cl
           GROUP BY 1),
         ex AS (
           SELECT CAST(COALESCE(sum(x.na * y.nb), 0) AS BIGINT) AS joinsize_exact
           FROM (SELECT g, count(*) AS na FROM a GROUP BY 1) x
           JOIN (SELECT g, count(*) AS nb FROM b GROUP BY 1) y ON x.g = y.g)
         SELECT CAST(COALESCE(min(ip), 0) AS BIGINT) AS joinsize_est,
           (SELECT joinsize_exact FROM ex) AS joinsize_exact
         FROM ip""",

    // KMV: distinct xxhash64 key hashes -> per-group bottom-32 window ->
    // the shared estimate expression (exact below k, (k-1)*2^60/h_k beyond)
    "q_sketch_kmv" ->
      (s"""WITH $kmvCtes,
         agg AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n, max(h) AS hk
           FROM sk GROUP BY 1)
         SELECT grp, """ + pipeline.Sketches.kmvEstFpSql(32) +
      """ AS est_fp FROM agg"""),

    // theta intersection: per-pair min threshold, common sketch hashes
    // below it, the shared scale-up — next to the exact overlap
    "q_sketch_theta" ->
      s"""WITH $kmvCtes,
         th AS (
           SELECT grp, CASE WHEN count(*) < 32 THEN 1152921504606846976
             ELSE max(h) END AS theta
           FROM sk GROUP BY grp),
         pairs(ga, gb) AS (VALUES ('src0', 'src1'), ('src0', 'src2'), ('src1', 'src2')),
         pt AS (
           SELECT p.ga, p.gb, least(a.theta, b.theta) AS theta
           FROM pairs p JOIN th a ON a.grp = p.ga JOIN th b ON b.grp = p.gb),
         common AS (
           SELECT pt.ga, pt.gb, count(*) AS common
           FROM pt JOIN sk x ON x.grp = pt.ga
                   JOIN sk y ON y.grp = pt.gb AND y.h = x.h
           WHERE x.h < pt.theta GROUP BY 1, 2),
         outp AS (
           SELECT pt.ga, pt.gb,
             CAST(floor(CAST(1000 AS DOUBLE) * coalesce(c.common, 0) *
               CAST(1152921504606846976 AS DOUBLE) / pt.theta) AS BIGINT) AS est_fp
           FROM pt LEFT JOIN common c ON c.ga = pt.ga AND c.gb = pt.gb),
         exact AS (
           SELECT a.ga, b.gb, count(*) AS exact
           FROM (SELECT DISTINCT source AS ga, g FROM sh) a
           JOIN (SELECT DISTINCT source AS gb, g FROM sh) b ON b.g = a.g
           GROUP BY 1, 2)
         SELECT o.ga, o.gb, o.est_fp, e.exact
         FROM outp o JOIN exact e ON e.ga = o.ga AND e.gb = o.gb""",

    // geodesic cell area: the r14 distinct-cell CTE (shared web-mercator
    // chain) + the identical tanh-via-exp spherical-zone expression
    "q_cell_area" ->
      s"""WITH $cellCoverCtes,
         c AS (
           SELECT cell_id,
             CAST((CAST(1 AS BIGINT) << CAST(cell_id // 288230376151711744 AS INTEGER)) AS DOUBLE) AS nt,
             cell_id % 536870912 AS ty
           FROM r14)
         SELECT cell_id, ${pipeline.CellOps.cellAreaM2Sql} AS area_m2 FROM c""",

    // trajectory twin: the identical lag window, per-segment floored
    // haversine (same operation order as every meter twin), first/last
    // via rank windows, integer sums
    "q_trajectory" ->
      """WITH ev AS (
           SELECT user_id, event_id, ts,
             53.8306::DOUBLE + (CAST('0x' || substr(md5('tla|' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 14000)::DOUBLE * 0.00001::DOUBLE AS lat,
             27.4026::DOUBLE + (CAST('0x' || substr(md5('tlg|' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 29000)::DOUBLE * 0.00001::DOUBLE AS lng
           FROM events),
         seg AS (
           SELECT user_id,
             lag(lat) OVER w AS plat, lag(lng) OVER w AS plng, lat, lng
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         segm AS (
           SELECT user_id, CAST(floor(2.0 * 6371008.8 * asin(sqrt(
               sin((lat - plat) * pi() / 360.0) * sin((lat - plat) * pi() / 360.0) +
               cos(plat * pi() / 180.0) * cos(lat * pi() / 180.0) *
                 sin((lng - plng) * pi() / 360.0) * sin((lng - plng) * pi() / 360.0)))) AS BIGINT) AS seg_m
           FROM seg WHERE plat IS NOT NULL),
         pathagg AS (
           SELECT user_id, count(*) AS n_segs, CAST(sum(seg_m) AS BIGINT) AS path_m
           FROM segm GROUP BY 1),
         ranked AS (
           SELECT user_id, lat, lng,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM ev),
         ends AS (
           SELECT f.user_id, f.n AS n_events,
             CAST(floor(2.0 * 6371008.8 * asin(sqrt(
               sin((l.lat - f.lat) * pi() / 360.0) * sin((l.lat - f.lat) * pi() / 360.0) +
               cos(f.lat * pi() / 180.0) * cos(l.lat * pi() / 180.0) *
                 sin((l.lng - f.lng) * pi() / 360.0) * sin((l.lng - f.lng) * pi() / 360.0)))) AS BIGINT) AS net_m
           FROM (SELECT * FROM ranked WHERE rn = 1) f
           JOIN (SELECT * FROM ranked WHERE rn = n) l ON l.user_id = f.user_id)
         SELECT p.user_id, e.n_events, p.n_segs, p.path_m, e.net_m
         FROM pathagg p JOIN ends e ON e.user_id = p.user_id""",

    // sketch-refresh twin: the WHOLE-corpus counters directly — equality
    // with the Spark committed-base + delta merge is the linearity proof
    "q_sketch_refresh" ->
      s"""WITH sh AS (
           SELECT substring(text, i::INT, 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)
           WHERE length(text) >= 5),
         kh AS (${cmsKeyHashSql("sh")})
         SELECT r, h % 256 AS cl, count(*) AS c FROM sh JOIN kh USING (g) GROUP BY 1, 2""",

    // histogram-quantile twin: identical binning, cumulative window, and
    // the integer den*cum >= num*n bound selection
    "q_sketch_quantile" ->
      """WITH h AS (
           SELECT event_type AS grp,
             CAST(least(floor(value / 2.0), 255) AS BIGINT) AS bin, count(*) AS c
           FROM events GROUP BY 1, 2),
         cum AS (
           SELECT grp, bin, c,
             sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY grp) AS n
           FROM h),
         p50 AS (
           SELECT grp, CAST(max(n) AS BIGINT) AS n, min(bin) * 200 AS p50_lb_c
           FROM cum WHERE cum * 2 >= n * 1 GROUP BY 1),
         p90 AS (
           SELECT grp, min(bin) * 200 AS p90_lb_c
           FROM cum WHERE cum * 10 >= n * 9 GROUP BY 1)
         SELECT p50.grp, p50.n, p50.p50_lb_c, p90.p90_lb_c
         FROM p50 JOIN p90 ON p90.grp = p50.grp""",

    // HLL: registers (xxhash64 key hash, exact trailing-zero rho via the
    // binary-string suffix), scaled-INTEGER harmonic denominator, and
    // the shared estimate expression — plus the exact distinct evidence
    "q_sketch_hll" ->
      s"""WITH sh AS (
           SELECT source, substring(text, i::INT, 5) AS g
           FROM documents, unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS t(i)
           WHERE length(text) >= 5),
         hs AS (
           SELECT source, h
           FROM sh JOIN (${pipeline.Sketches.keyHashSql("sh", "g", Seq("hll|"))}) USING (g)),
         rr AS (SELECT source, h % 64 AS reg, h // 64 AS rest FROM hs),
         rho AS (
           SELECT source, reg,
             CASE WHEN rest = 0 THEN 55
               ELSE length(regexp_extract(bin(rest), '0*$$', 0)) + 1 END AS rho
           FROM rr),
         regs AS (SELECT source, reg, max(rho) AS m FROM rho GROUP BY 1, 2),
         agg AS (
           SELECT source,
             CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INTEGER)) AS BIGINT) AS s_present,
             CAST(count(*) AS BIGINT) AS n_present
           FROM regs GROUP BY 1),
         est AS (
           SELECT source AS grp,
             s_present + (64 - n_present) * CAST(36028797018963968 AS BIGINT) AS s_int,
             64 - n_present AS v
           FROM agg),
         outp AS (SELECT grp, ${pipeline.Sketches.hllEstFpSql} AS est_fp FROM est),
         exact AS (SELECT source, count(DISTINCT g) AS exact FROM sh GROUP BY 1)
         SELECT o.grp, o.est_fp, x.exact
         FROM outp o JOIN exact x ON x.source = o.grp""",
  )
}
