package graft.partitioner

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM units for the k-way hill sweep ([[InitialPartition.hillSweepK]]
  * — the engine's one hill scanner, after the reference's
  * S_par_kwayrefine_HS, src/kwayrefine.c:1217-1550, run on the coarsest
  * graph by [[SerialMultilevel]] and between FM runs by [[BoundaryFm]]).
  */
class HillSweepKSpec extends AnyFunSuite {

  /** Welded-pair fixture: vertices 0,1 share a heavy internal edge (w=5),
    * each pulled into B with w=3 — every single move has negative gain,
    * the joint move refunds the weld (jgain +5).
    */
  private def weldedPair() = {
    val edges = Array(
      (0L, 1L, 5L),
      (0L, 2L, 1L),
      (0L, 5L, 3L), (1L, 6L, 3L),
      (2L, 3L, 2L), (3L, 4L, 2L),
      (5L, 6L, 4L), (6L, 7L, 2L), (7L, 8L, 2L), (8L, 9L, 2L))
    val verts = (0L to 9L).map(v => (v, 1L)).toArray
    InitialPartition.fromEdges(edges, verts)
  }

  test("hillSweepK moves a welded pair that single-vertex greedy cannot") {
    val g = weldedPair()
    val where = g.vids.map(v => if (v <= 4L) 0 else 1)
    // greedy alone is provably stuck at cut 6
    val greedy = InitialPartition.refineGreedy(g, 2, where.clone(), 1.4)
    assert(InitialPartition.cutOf(g, greedy) === 6L)
    val moved = InitialPartition.hillSweepK(g, 2, where, 1.4)
    assert(moved, "hill sweep must move the welded pair")
    assert(InitialPartition.cutOf(g, where) === 1L)
    assert(where(0) === 1 && where(1) === 1, "the pair moved together")
  }

  test("hillSweepK grows past pairs: welded quad + greedy clean-up") {
    // welded quad: path 0-1-2-3 welded (6,5,6), each pulled into B (w=3),
    // anchored into A at the ends (w=1); round-1 pairs {0,1} and {2,3}
    // are still stuck (jgain 6-18+12 = 0). The sweep
    // freezes as soon as a partial hill turns profitable; the follow-up
    // greedy sweep (the same phase order SerialMultilevel runs) drags the
    // remainder across — final cut = the two anchors.
    val quadEdges = Array(
      (0L, 1L, 6L), (1L, 2L, 5L), (2L, 3L, 6L),
      (0L, 10L, 3L), (1L, 11L, 3L), (2L, 12L, 3L), (3L, 13L, 3L),
      (0L, 4L, 1L), (3L, 5L, 1L),
      (4L, 5L, 4L), (4L, 6L, 4L), (5L, 7L, 4L), (6L, 8L, 4L), (7L, 9L, 4L),
      (10L, 11L, 4L), (11L, 12L, 4L), (12L, 13L, 4L), (13L, 14L, 4L),
      (14L, 15L, 4L), (15L, 16L, 4L), (16L, 17L, 4L), (17L, 18L, 4L),
      (18L, 19L, 4L))
    val verts = (0L to 19L).map(v => (v, 1L)).toArray
    val g = InitialPartition.fromEdges(quadEdges, verts)
    var where = g.vids.map(v => if (v <= 9L) 0 else 1)
    where = InitialPartition.refineGreedy(g, 2, where, 1.7)
    assert(InitialPartition.cutOf(g, where) === 12L, "greedy is stuck")
    if (InitialPartition.hillSweepK(g, 2, where, 1.7))
      where = InitialPartition.refineGreedy(g, 2, where, 1.7)
    assert(InitialPartition.cutOf(g, where) === 2L)
    (0 to 3).foreach(i => assert(where(i) === 1, s"vid $i stayed"))
  }

  test("hillSweepK respects both balance bounds (profitable hill rejected)") {
    val g = weldedPair()
    val where = g.vids.map(v => if (v <= 4L) 0 else 1)
    // ub=1.03 on 10 unit vertices: maxW=6 and minW=4 both forbid 3/7
    val moved = InitialPartition.hillSweepK(g, 2, where, 1.03)
    assert(!moved, "infeasible hill must not move")
    assert(InitialPartition.cutOf(g, where) === 6L)
    assert(where.count(_ == 0) === 5)
  }

  /** A random level in the shape of PartitionerSpec's handshake generator:
    * Zipf-skewed endpoints (hubs), spread-out vids with a fifth of them
    * islands, weights 1-3 per constraint; plus k ∈ {2, 4, 8}, ncon ∈ {1, 2},
    * a random locked set, a balance factor, and a start that is either
    * random or grown + greedy-refined (where single moves are stuck and
    * hills have work).
    */
  private val levelGen = for {
    n <- Gen.choose(20, 80)
    m <- Gen.choose(n, 4 * n)
    ends <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0.0, 1.0),
      Gen.choose(1L, 4L)))
    k <- Gen.oneOf(2, 4, 8)
    ncon <- Gen.oneOf(1, 2)
    wgts <- Gen.listOfN((n + n / 5) * ncon, Gen.choose(1L, 3L))
    lockFrac <- Gen.oneOf(0.0, 0.1, 0.3)
    locks <- Gen.listOfN(n + n / 5, Gen.choose(0.0, 1.0))
    ub <- Gen.oneOf(1.03, 1.1, 1.5)
    grown <- Gen.oneOf(true, false)
    starts <- Gen.listOfN(n + n / 5, Gen.choose(0, k - 1))
  } yield {
    def vid(i: Int) = 7L + 3L * i
    val edges = ends.map { case (a, u, w) =>
      val b = (math.pow(u, 3) * n).toInt.min(n - 1)
      (vid(a min b), vid(a max b), w)
    }.filter(t => t._1 != t._2).groupBy(t => (t._1, t._2)).values
      .map(_.head).toArray.sortBy(t => (t._1, t._2))
    val verts = (0 until n + n / 5).map(i =>
      (vid(i), wgts.slice(i * ncon, (i + 1) * ncon).toArray)).toArray
    val g = InitialPartition.fromEdgesMC(edges, verts, ncon)
    val where =
      if (grown) InitialPartition.partition(g, k, ub)
      else starts.toArray
    (g, k, ub, where, locks.toArray.map(_ < lockFrac))
  }

  test("hillSweepK on random levels: cut never rises, locks and bounds hold") {
    var changedCases = 0
    var lockedCases = 0
    for (i <- 0 until 300) {
      val (g, k, ub, where0, locked) =
        levelGen.pureApply(Gen.Parameters.default, Seed(20261019L + i))
      val where = where0.clone()
      val moved = InitialPartition.hillSweepK(g, k, where, ub, locked = locked)
      val clue = s"case $i (k=$k, ncon=${g.ncon}, ub=$ub, n=${g.nvtxs})"
      assert(moved == !where.sameElements(where0),
        s"$clue: returned $moved")
      assert(InitialPartition.cutOf(g, where) <= InitialPartition.cutOf(g, where0),
        s"$clue: cut rose")
      assert(locked.indices.forall(v => !locked(v) || where(v) == where0(v)),
        s"$clue: a locked vertex moved")
      // per-(part, constraint) bounds tpwgts·tvwgt·ub^±1, uniform targets
      def inBounds(w: Array[Int]): Boolean = (0 until g.ncon).forall { c =>
        val tv = (0 until g.nvtxs).map(g.w(_, c)).sum
        val pw = new Array[Long](k)
        w.indices.foreach(v => pw(w(v)) += g.w(v, c))
        pw.forall(p => p <= math.ceil(tv.toDouble / k * ub).toLong &&
          p >= math.floor(tv.toDouble / k / ub).toLong)
      }
      if (inBounds(where0)) assert(inBounds(where), s"$clue: bounds broken")
      if (moved) changedCases += 1
      if (moved && locked.exists(identity)) lockedCases += 1
    }
    info(s"$changedCases of 300 cases moved a hill, $lockedCases with locks")
    // not vacuous: hills moved, also next to locked vertices
    assert(changedCases >= 100 && lockedCases >= 60,
      s"$changedCases cases moved a hill, $lockedCases of them with locks")
  }
}
