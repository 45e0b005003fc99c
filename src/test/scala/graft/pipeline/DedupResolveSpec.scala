package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster resolution contract: candidate pairs -> connected components ->
  * keep exactly the min id of every component. */
class DedupResolveSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  /** `localMaxEdges = 0` disables the small-graph driver path so the
    * DISTRIBUTED star rounds are what the structural tests exercise. */
  private val Distributed = 0L

  test("min-label propagation: chain, clique and pair components resolve to keep-min") {
    // chain 1-2-3-4 (diameter 3: forces multiple propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("ida", "idb")
    val got = Dedup.resolveClusters(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val expect = Map(
      1L -> (1L, 1L), 2L -> (1L, 0L), 3L -> (1L, 0L), 4L -> (1L, 0L),
      10L -> (10L, 1L), 11L -> (10L, 0L), 12L -> (10L, 0L),
      20L -> (20L, 1L), 21L -> (20L, 0L))
    assert(got == expect)
  }

  test("random graphs: resolveClusters == driver-side union-find, 10 seeds") {
    // the planted fixtures pin shapes we thought of; random edge lists pin
    // the ones we didn't (multi-component forests, cross-links, dupes,
    // reversed edges)
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(1000 + seed)
      val n = 5 + rnd.nextInt(40)
      val edges = Seq.fill(3 + rnd.nextInt(60)) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a == b) (a, b + 1) else (a, b)
      }
      val got = Dedup.resolveClusters(edges.toDF("ida", "idb"), Distributed)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val reps = unionFind(edges)
      // this union-find attaches the larger root under the smaller, so the
      // final roots already ARE component minima; the normalization is kept
      // as a guard should the union rule ever change
      val minOfRoot = reps.groupBy(_._2).map { case (root, m) => root -> m.keys.min }
      val expect = reps.map { case (id, root) =>
        val rep = minOfRoot(root)
        id -> (rep, if (id == rep) 1L else 0L)
      }
      assert(got == expect, s"seed $seed: ${edges.take(8)}...")
    }
  }

  test("a 200-node chain (diameter 199) resolves — O(log n) star rounds, not O(diameter)") {
    // the r3 min-label propagation walked one hop per round and
    // require-failed past diameter 64; large-star/small-star must resolve
    // an adversarial long path in logarithmically many rounds
    val chain = (0L until 199L).map(i => (i, i + 1))
    // interleave reversed + shuffled-id edges so the path is not presented
    // in id order (the adversarial presentation for min-propagation)
    val pairs = chain.map { case (a, b) => (1000 - b, 1000 - a) } // ids 801..1000, still a path
    val got = Dedup.resolveClusters(pairs.toDF("ida", "idb"), Distributed)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 801L), s"all 200 nodes label to the chain minimum 801")
    assert(got.count(_._3 == 1L) == 1 && got.find(_._3 == 1L).get._1 == 801L)
  }

  test("large random graphs (2000 nodes): star rounds == union-find, 3 seeds") {
    // the 10-seed suite covers small graphs; this pins the star rounds on
    // graphs big enough to have deep trees and many mid-size components
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(7000 + seed)
      // sparse: ~0.6 edges/node leaves long chains and many components
      val edges = Seq.fill(1200) {
        (rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong)
      }.filter(e => e._1 != e._2)
      val got = Dedup.resolveClusters(edges.toDF("ida", "idb"), Distributed)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
      val reps = unionFind(edges)
      val minOfRoot = reps.groupBy(_._2).map { case (root, m) => root -> m.keys.min }
      val expect = reps.map { case (id, root) => id -> minOfRoot(root) }
      assert(got == expect, s"seed $seed mismatch")
    }
  }

  test("empty pair set resolves to an empty decision set") {
    val empty = Seq.empty[(Long, Long)].toDF("ida", "idb")
    assert(Dedup.resolveClusters(empty).count() == 0)
    assert(Dedup.resolveClusters(empty, Distributed).count() == 0)
  }

  test("small-graph driver path == distributed star rounds, bit for bit") {
    // the fast path must be indistinguishable from the at-scale path:
    // same rows, same reps, same keep bits — across random graphs with
    // self-pairs mixed in (self-pairs exercise the nodes-vs-edges split)
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(300 + seed)
      val n = 10 + rnd.nextInt(80)
      val edges = Seq.fill(5 + rnd.nextInt(120)) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) // self-pairs allowed
      }
      val df = edges.toDF("ida", "idb")
      val local = Dedup.resolveClusters(df)
        .as[(Long, Long, Long)].collect().toSet
      val dist = Dedup.resolveClusters(df, Distributed)
        .as[(Long, Long, Long)].collect().toSet
      assert(local == dist, s"seed $seed: local and star-round paths diverge")
    }
  }

  test("driver path caps edge endpoints plus self-pair ids at 2·localMaxEdges") {
    // 3 edges (6 endpoints) and one self-pair-only id: at localMaxEdges = 3
    // the edge count passes the threshold but the 7-id node set exceeds
    // 2·3, so the distributed rounds must run; at 4 the driver path fits
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 7L)).toDF("ida", "idb")
    def isLocal(r: org.apache.spark.sql.DataFrame): Boolean =
      r.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val capped = Dedup.resolveClusters(df, localMaxEdges = 3)
    assert(!isLocal(capped), "combined node set over 2·localMaxEdges took the driver path")
    val fits = Dedup.resolveClusters(df, localMaxEdges = 4)
    assert(isLocal(fits), "a node set within 2·localMaxEdges should take the driver path")
    val expect = Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 3L, 1L), (4L, 3L, 0L),
      (5L, 5L, 1L), (6L, 5L, 0L), (7L, 7L, 1L))
    assert(capped.as[(Long, Long, Long)].collect().toSet == expect)
    assert(fits.as[(Long, Long, Long)].collect().toSet == expect)
  }

  test("end-to-end: planted near-dup cliques keep exactly one doc each") {
    // 100 base docs with doc-unique vocabularies (zero cross-doc shingle
    // overlap — an LCG word pool here creates accidental near-dups between
    // docs whose id offset aligns the sequences); docs 0..4 each get 3
    // near-dup variants (one word swapped) — every planted cluster is a
    // 4-doc component whose min id is the base doc
    def text(id: Long): String =
      (0 until 40).map(k => s"d${id}w$k").mkString(" ")
    val base = (0L until 100L).map(i => (i, text(i)))
    val dups = for (i <- 0L until 5L; c <- 0L until 3L) yield {
      val words = text(i).split(" ")
      words(5 + c.toInt * 7) = s"v$c"
      (1000L + i * 10 + c, words.mkString(" "))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs).where($"jac_fp" >= 600000)
    val resolved = Dedup.resolveClusters(pairs)
      .as[(Long, Long, Long)].collect()

    val byRep = resolved.groupBy(_._2)
    assert(byRep.size == 5, s"expected 5 planted components, got ${byRep.keySet}")
    for ((rep, members) <- byRep) {
      assert(rep < 5, s"component rep $rep should be a base doc id 0..4")
      assert(members.map(_._1).toSet ==
        Set(rep) ++ (0L until 3L).map(c => 1000L + rep * 10 + c),
        s"component $rep members wrong: ${members.map(_._1).toSeq.sorted}")
      assert(members.count(_._3 == 1L) == 1, s"component $rep must keep exactly one")
      assert(members.find(_._3 == 1L).get._1 == rep, s"component $rep keeps its min id")
    }
    // untouched docs never appear in the decision set (trivially kept)
    assert(resolved.map(_._1).forall(id => id < 5 || id >= 1000L))
  }
}
