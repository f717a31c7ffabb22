package graft

import org.apache.spark.sql.functions._
import graft.operators.{Csr, CsrDirect, GraphOps, PageRank}
import graft.plans.Checkpointer

/** PageRank vs the dense in-JVM power-iteration oracle — the north-rule bar
  * is allclose 1e-6 per vertex (BASELINE.json).
  */
class PageRankSpec extends SparkSpec {

  private def collectRanks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select(col("vid"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double],
                          tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet, "vertex sets differ")
    for ((v, w) <- want)
      assert(math.abs(got(v) - w) <= tol, s"vid=$v got=${got(v)} want=$w")
  }

  private val cases = Seq(
    "path8" -> Fixtures.path8, "cycle9" -> Fixtures.cycle9,
    "star17" -> Fixtures.star17, "twoCliques" -> Fixtures.twoCliques,
    "grid4x4" -> Fixtures.grid4x4, "zipf200" -> Fixtures.zipf(200))

  /** `iters` fixed iterations of the DataFrame loop, no checkpointer. */
  private def runRanks(e: Seq[(Long, Long, Long)], verts: Seq[Long],
                       iters: Int): Map[Long, Double] =
    collectRanks(PageRank.run(spark, edgesDf(e), vertsDf(verts), 0.85,
      maxIter = iters, tol = 0.0, numParts = 4).ranks)

  private def assertSumsToOne(ranks: Map[Long, Double], what: String): Unit =
    assert(math.abs(ranks.values.sum - 1.0) <= 1e-9,
      s"$what: ranks sum to ${ranks.values.sum}")

  test("run(tol = 0) matches the dense oracle on all fixtures, plus one isolated vertex") {
    for ((name, e) <- cases; verts <- Seq(Fixtures.vertsOf(e), Fixtures.vertsOf(e) :+ 9999L)) {
      val what = s"$name (${verts.size} vertices)"
      val got = runRanks(e, verts, 8)
      withClue(s"$what: ")(assertClose(got, Oracles.pageRank(e, verts, 0.85, 8)))
      assertSumsToOne(got, what)
    }
  }

  test("run() with isolated vertices redistributes dangling mass and sums to 1") {
    val (e, verts) = Fixtures.withIslands(100)
    val res = PageRank.run(spark, edgesDf(e), vertsDf(verts),
      damping = 0.85, maxIter = 12, tol = 0.0)
    val got = collectRanks(res.ranks)
    val want = Oracles.pageRank(e, verts, 0.85, 12)
    assertClose(got, want)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(res.iterations == 12)
  }

  test("run() converges under tol and reports a small residual") {
    val e = Fixtures.twoCliques
    val res = PageRank.run(spark, edgesDf(e), vertsDf(Fixtures.vertsOf(e)),
      maxIter = 100, tol = 1e-10)
    assert(res.residual <= 1e-10)
    assert(res.iterations < 100, "should converge well before maxIter")
  }

  test("kill-resume: run() stopped after 3 iterations resumes to a fresh 8-iteration run") {
    val (e, verts) = Fixtures.withIslands(100)
    val root = java.nio.file.Files.createTempDirectory("graft-pr").toString
    def run(maxIter: Int, ckpt: Option[Checkpointer]) =
      PageRank.run(spark, edgesDf(e), vertsDf(verts), maxIter = maxIter,
        tol = 0.0, ckpt = ckpt, numParts = 4)
    run(3, Some(new Checkpointer(spark, root))) // "killed" after iteration 3
    val resumed = run(8, Some(new Checkpointer(spark, root)))
    assert(resumed.iterations == 8)
    assertClose(collectRanks(resumed.ranks), collectRanks(run(8, None).ranks),
      tol = 1e-12)
    // iterations 1..3 were not recomputed: one ledger line per iteration
    assert(ledger(root, "pagerank").map(_.get("iter").asInt) == (1 to 8))
  }

  test("CSR-kernel PageRank matches the dense oracle on both block layouts") {
    for ((name, e) <- cases) {
      val verts = Fixtures.vertsOf(e) :+ 9999L // incl. an isolated vertex
      val want = Oracles.pageRank(e, verts, 0.85, 8)
      val df = runRanks(e, verts, 8)
      val bounds = GraphOps.edgeBalancedRanges(edgesDf(e), 4)
      // edge-granular layout splits hubs but must compute the same function
      for ((layout, blocks) <- Seq(
          "vid ranges" -> Csr.build(edgesDf(e), bounds),
          "balanced" -> Csr.buildBalanced(edgesDf(e), 4))) {
        val got = collectRanks(CsrDirect.pageRank(spark, blocks, vertsDf(verts), 0.85, 8))
        withClue(s"$name $layout: ")(assertClose(got, want))
        // the DataFrame loop spreads the isolated vertex's mass the same way
        withClue(s"$name $layout vs run: ")(assertClose(got, df, tol = 1e-9))
        assertSumsToOne(got, s"$name $layout")
      }
    }
  }

  test("single-exchange path (CsrDirect) computes the same ranks") {
    // the large-graph entry point (prepareRows → iterate → toRanksDf)
    def direct(e: Seq[(Long, Long, Long)], verts: Seq[Long], nIso: Long): Map[Long, Double] = {
      val st = CsrDirect.prepareRows(spark, edgesDf(e), vertsDf(verts), numBlocks = 4)
      assert(st.nIso == nIso)
      val got = collectRanks(CsrDirect.toRanksDf(spark, st, 0.85, 8, vertsDf(verts)))
      st.unpersistAll()
      got
    }
    for ((name, e) <- cases) {
      val verts = Fixtures.vertsOf(e) :+ 9999L // incl. an isolated vertex
      val got = direct(e, verts, nIso = 1)
      withClue(s"$name: ")(assertClose(got, Oracles.pageRank(e, verts, 0.85, 8)))
      assertSumsToOne(got, name)
    }
    // 5 isolated vertices: the dangling mass is a share of every update
    val (e, verts) = Fixtures.withIslands(100)
    val got = direct(e, verts, nIso = 5)
    assertClose(got, runRanks(e, verts, 8), tol = 1e-9)
    assertSumsToOne(got, "withIslands")
  }

  test("a block whose dictionary spans 2 tiles: srcT ascends per tile, ranks match the oracle") {
    // a 70k-leaf star plus a few cross edges, one block: > 2^16 distinct
    // destinations, so the counting sort by tile actually reorders edges
    val leaves = 70000L
    val e = (1L to leaves).map(l => (0L, l, 1L + l % 3)) ++
      Seq((1L, 2L, 2L), (5L, 66000L, 1L), (69998L, 70000L, 4L), (3L, 65537L, 1L))
    val verts = Fixtures.vertsOf(e)
    val blocks = Csr.buildBalanced(edgesDf(e), 1)
    val b = blocks.collect().map(_._2).head
    assert(b.dstVids.length > (1 << 16), "dictionary must span >= 2 tiles")
    val tile = b.dstT.map(_ >> 16)
    assert(tile.distinct.length >= 2)
    // edges are grouped by tile, and the stable sort keeps CSR (src
    // ascending) order inside each tile: the bit-identity invariant
    for (j <- 1 until tile.length) {
      assert(tile(j - 1) <= tile(j), s"edge $j: tiles out of order")
      if (tile(j - 1) == tile(j))
        assert(b.srcT(j - 1) <= b.srcT(j), s"edge $j: srcT descends in tile ${tile(j)}")
    }
    assertClose(collectRanks(
      CsrDirect.pageRank(spark, blocks, vertsDf(verts), 0.85, 5)),
      Oracles.pageRank(e, verts, 0.85, 5), tol = 1e-10)
  }

  test("CsrDirect state save/load round-trip is bit-exact") {
    val e = Fixtures.zipf(300)
    val verts = Fixtures.vertsOf(e) ++ Seq(9997L, 9998L, 9999L) // 3 isolated
    val st = CsrDirect.prepareRows(spark, edgesDf(e),
      vertsDf(verts), numBlocks = 4)
    val want = collectRanks(CsrDirect.toRanksDf(spark, st, 0.85, 6, vertsDf(verts)))
    val dir = java.nio.file.Files.createTempDirectory("graft-dstate")
      .toString
    CsrDirect.saveState(st, dir)
    st.unpersistAll()
    val st2 = CsrDirect.loadState(spark, dir)
    // the isolated count comes back from the blocks, not the meta line
    assert(st2.n == st.n && st2.nBlocks == st.nBlocks && st2.nIso == 3)
    val got = collectRanks(CsrDirect.toRanksDf(spark, st2, 0.85, 6, vertsDf(verts)))
    st2.unpersistAll()
    assert(got == want, "loaded state must reproduce ranks bit-exactly")
    assertClose(got, runRanks(e, verts, 6), tol = 1e-9)
    assertSumsToOne(got, "loaded state")
  }
}
