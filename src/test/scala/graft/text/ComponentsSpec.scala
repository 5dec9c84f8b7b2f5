package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.tools.QueryTime

/** Connected-components correctness against a driver-side union-find
  * reference across graph shapes that stress the star algorithm
  * differently (long chains → many rounds; cliques → fat stars;
  * random graphs → both). */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference union-find over the same edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // second pass: full path compression so every node maps to its min root
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  private def rowsOf(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    rowsOf(Components.connectedComponents(edges.toDF("src", "dst")))

  /** Force the distributed star fixpoint (cutoff -1 disables the
    * driver union-find short-circuit) so BOTH paths stay covered. */
  private def ccStarOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    rowsOf(Components.connectedComponents(edges.toDF("src", "dst"),
      driverCutoff = -1L))

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val expect = unionFind(edges)
    assert(ccOf(edges) === expect)      // driver path (default at test sizes)
    assert(ccStarOf(edges) === expect)  // distributed star fixpoint
  }

  /** Jobs started by building `cc` and collecting it, read through
    * QueryTime's drained listener. */
  private def jobsOf(cc: => DataFrame): Long = {
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      val (before, _, _) = counter.totals()
      cc.collect()
      val (after, _, _) = counter.totals()
      after - before
    } finally counter.close()
  }

  /** Which path built `cc`: the driver union-find returns a local
    * relation, the star fixpoint reads the checkpointed edge frontier. */
  private def tookDriverPath(cc: DataFrame): Boolean =
    cc.queryExecution.logical.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** A seeded random graph of `SeamCutoff + 1` distinct loop-free
    * edges, each oriented low→high, so every edge survives the input's
    * self-loop filter and distinct. */
  private val SeamCutoff = 40
  private lazy val seamEdges: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(11)
    Iterator.continually((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a < b }.distinct.take(SeamCutoff + 1).toSeq
  }

  private def seamCc(edges: Seq[(Long, Long)]): DataFrame =
    Components.connectedComponents(edges.toDF("src", "dst"),
      driverCutoff = SeamCutoff.toLong)

  test("driverCutoff seam: cutoff edges take the driver path, cutoff + 1 the star path, both equal the union-find") {
    val atCutoff = seamEdges.take(SeamCutoff)
    val small = seamCc(atCutoff)
    assert(tookDriverPath(small))
    assert(rowsOf(small) === unionFind(atCutoff))
    val above = seamCc(seamEdges)
    assert(!tookDriverPath(above))
    assert(rowsOf(above) === unionFind(seamEdges))
  }

  test("the driver path runs 2 jobs: the distinct behind the checkpoint, and the probe") {
    // a fingerprint aggregate (2 jobs) plus a second collect of the
    // same edges made it 4
    val n = jobsOf(seamCc(seamEdges.take(SeamCutoff)))
    assert(n === 2L, s"driver path ran $n jobs")
  }

  test("above the seam, the probe adds no job to the star path (27 on this graph)") {
    // the probe's job replaces the emptiness check, which the
    // fingerprint's count now answers
    val n = jobsOf(seamCc(seamEdges))
    assert(n <= 27L, s"star path ran $n jobs")
  }

  test("path graph collapses to one component rooted at the min") {
    check((1L until 20L).map(i => (i, i + 1)))
  }

  test("two disjoint triangles stay separate") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L)))
  }

  test("star centered on the max node roots at the min leaf") {
    check((1L to 9L).map(i => (100L, i)))
  }

  test("duplicate and reversed edges are harmless") {
    check(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (2L, 1L)))
  }

  test("empty edge list yields empty assignment") {
    assert(ccOf(Seq.empty).isEmpty)
  }

  test("seeded random graphs match union-find") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(50)(
        (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      check(edges)
    }
  }

  test("self-loops are ignored on BOTH dispatch paths (round-10 contract)") {
    // A node whose only edge is a self-loop is not emitted: the star
    // rounds contract (7,7) away, and before the input filter the
    // driver union-find emitted (7,7) — the paths disagreed on exactly
    // this input class. Now both drop it, and a self-loop on a
    // connected node changes nothing.
    val edges = Seq((1L, 2L), (2L, 2L), (7L, 7L))
    val expect = Map(1L -> 1L, 2L -> 1L) // no node 7, loop on 2 inert
    assert(ccOf(edges) === expect)
    assert(ccStarOf(edges) === expect)
    // and a random graph WITH self-loops left in: paths still agree
    val rng = new scala.util.Random(7)
    val noisy = Seq.fill(60)(
      (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
    val expect2 = unionFind(noisy.filter { case (a, b) => a != b })
    assert(ccOf(noisy) === expect2)
    assert(ccStarOf(noisy) === expect2)
  }

  test("dedupComponents: every doc labeled, pairs co-labeled, singletons self-labeled") {
    val docs = graft.model.Tables.documents(spark, SparkTestSession.Sf0001)
    val cc = Components.dedupComponents(docs, 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === docs.count())
    val pairs = Dedup.jaccardPairs(docs, 0.4)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(cc(a) === cc(b), s"pair ($a,$b) split across components")
    }
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    cc.foreach { case (doc, comp) =>
      if (!paired(doc)) assert(comp === doc, s"singleton $doc relabeled")
      assert(comp <= doc, "component id must be the min member")
    }
  }

  private def incrOf(assignments: Seq[(Long, Long)],
                     waveEdges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.incrementalComponents(
        assignments.toDF("node", "component"),
        waveEdges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incrementalComponents: wave node bridges two old components") {
    // yesterday: {1,2} (comp 1), {5,6} (comp 5), singleton 9
    val yesterday = Seq(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
    // wave node 13 links both clusters; they must merge to comp 1
    val got = incrOf(yesterday, Seq(13L -> 2L, 13L -> 6L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 9L,
      13L -> 1L))
  }

  test("incrementalComponents: smaller-id wave node becomes the new min") {
    val yesterday = Seq(9L -> 9L, 11L -> 9L, 20L -> 20L)
    val got = incrOf(yesterday, Seq(0L -> 9L))
    assert(got === Map(0L -> 0L, 9L -> 0L, 11L -> 0L, 20L -> 20L))
  }

  test("incrementalComponents: wave-only edges leave old components alone") {
    val yesterday = Seq(1L -> 1L, 2L -> 1L)
    val got = incrOf(yesterday, Seq(30L -> 31L, 31L -> 32L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 30L -> 30L, 31L -> 30L,
      32L -> 30L))
  }

  test("yesterdayComponents layout == live derivation (and q164 path == batch)") {
    import org.apache.spark.sql.functions.{lit, pmod}
    val sf = SparkTestSession.Sf0001
    val docs = graft.model.Tables.documents(spark, sf)
    val pairs = graft.sources.PairsLayout.jaccardPairs(spark, sf, 0.4)
    val live = Components.componentsOver(
        docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        pairs.filter(pmod(col("doc_a"), lit(10)) < 8 &&
            pmod(col("doc_b"), lit(10)) < 8)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val layout = graft.sources.ComponentLayout
      .yesterdayComponents(spark, sf, 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(layout === live)
  }

  test("incrementalComponents == batch recompute on a random split") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(300)((rng.nextInt(120).toLong,
      rng.nextInt(120).toLong)).filter(e => e._1 != e._2)
    val isWave = (n: Long) => n % 5 == 0
    val oldEdges = edges.filterNot(e => isWave(e._1) || isWave(e._2))
    val waveEdges = edges.filter(e => isWave(e._1) || isWave(e._2))
    val yesterday = ccOf(oldEdges)
    // nodes in no old edge are absent from yesterday's table — the
    // operator must treat them as new, same as the corpus join-back
    val got = incrOf(yesterday.toSeq, waveEdges)
    val batch = ccOf(edges)
    // compare on nodes incident to any edge (singletons are join-back)
    assert(got.view.filterKeys(batch.contains).toMap === batch)
  }
}
