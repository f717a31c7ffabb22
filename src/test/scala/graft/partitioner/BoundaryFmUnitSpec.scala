package graft.partitioner

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM units for the serial FM internals (no SparkSession): the
  * 2-way use of R2 hill-scanning ([[InitialPartition.hillSweepK]] with
  * k = 2, reference S_par_kwayrefine_HS src/kwayrefine.c:1217, S_build_hill
  * :599-772) and FM rollback (FM1S, src/eseprefine.c:363-534).
  */
class BoundaryFmUnitSpec extends AnyFunSuite {

  /** A={0,1,2,3}, B={4,5}; pair {2,3} is internally welded (w=10) and
    * pulled toward B (w=3 each): individually each has gain −8, together
    * +4 — exactly the single-vertex-stuck shape hills exist for.
    */
  private def weldedPair() = {
    val edges = Array(
      (0L, 1L, 1L), (0L, 2L, 1L), (1L, 3L, 1L), // A internal
      (2L, 3L, 10L),                            // the weld
      (2L, 4L, 3L), (3L, 5L, 3L),               // pull toward B
      (4L, 5L, 1L))                             // B internal
    val verts = (0L to 5L).map(v => (v, 1L)).toArray
    InitialPartition.fromEdges(edges, verts)
  }

  test("hillSweepK moves a welded pair with positive combined gain") {
    val g = weldedPair()
    val idx = g.vids.zipWithIndex.toMap
    val where = g.vids.map(v => if (v <= 3L) 0 else 1)
    val before = InitialPartition.cutOf(g, where)
    // ub 1.34 on 6 unit vertices: maxW = 5, minW = 2 — 4/2 and 2/4 both fit
    assert(InitialPartition.hillSweepK(g, 2, where, 1.34),
      "the welded pair is a movable hill")
    val after = InitialPartition.cutOf(g, where)
    assert(after < before, s"cut must drop: $before -> $after")
    assert(where(idx(2L)) == 1 && where(idx(3L)) == 1, "both welded vertices moved")
  }

  test("hillSweepK respects balance bounds") {
    val g = weldedPair()
    val where = g.vids.map(v => if (v <= 3L) 0 else 1)
    // ub 1.0: maxW = 3 forbids B from growing past one more vertex, so the
    // profitable two-vertex hill must NOT move
    assert(!InitialPartition.hillSweepK(g, 2, where, 1.0))
    assert(where.count(_ == 1) == 2, "assignment unchanged")
  }

  test("hillSweepK never moves or absorbs a locked vertex inside the hill") {
    val g = weldedPair()
    val idx = g.vids.zipWithIndex.toMap
    val where = g.vids.map(v => if (v <= 3L) 0 else 1)
    val before = where.clone()
    // lock 3, one half of the profitable hill {2,3}: grown without it, the
    // hill from 2 runs through A's interior and never turns profitable
    val locked = g.vids.map(_ == 3L)
    assert(!InitialPartition.hillSweepK(g, 2, where, 1.34, locked = locked))
    assert(where(idx(3L)) == 0, "the locked vertex kept its part")
    assert(where.sameElements(before), "no hill moved without it")
  }

  test("fm2way rolls back a pass that finds no feasible improvement") {
    // two triangles joined by a single edge, already optimally split
    val edges = Array(
      (0L, 1L, 1L), (0L, 2L, 1L), (1L, 2L, 1L),
      (3L, 4L, 1L), (3L, 5L, 1L), (4L, 5L, 1L),
      (2L, 3L, 1L))
    val g = InitialPartition.fromEdges(edges, (0L to 5L).map(v => (v, 1L)).toArray)
    val where0 = g.vids.map(v => if (v <= 2L) 0 else 1)
    val out = BoundaryFm.fm2way(g, where0, Array.fill(6)(false),
      maxW = Array(4L, 4L), minW = Array(2L, 2L), passes = 4)
    assert(out.toSeq == where0.toSeq, "optimal split must survive unchanged")
    assert(InitialPartition.cutOf(g, out) == 1L)
  }
}
