package graft.partitioner

import scala.util.Random
import InitialPartition.LocalGraph

/** In-driver multilevel V-cycle for whole graphs small enough to gather —
  * the reference's own small-graph rule: whenever the graph fits, it runs
  * SERIAL METIS instead of the thread-team path (metis_initcut /
  * metis_kway, reference src/imetis.c:147-223; serial FM dispatch when
  * `nedges < 32768·√nthreads`, src/eseprefine.c:1060-1097). A distributed
  * V-cycle on a few-thousand-vertex graph pays ~12 driver actions ×
  * Catalyst replanning per level of pure overhead (NOTES.md round 2);
  * here the whole coarsen→init→refine cycle is primitive-array Scala.
  *
  * Pipeline per level (mirrors [[Multilevel]] stage-for-stage):
  *   SHEM matching (ascending-degree visit order, heaviest eligible edge
  *   under the per-constraint weight cap — reference S_coarsen_match_SHEM
  *   src/aggregate.c:1326-1593), with the P4 fallback to random matching
  *   when SHEM leaves ≥ ⅓ self-matched (src/aggregate.c:2049-2087);
  *   contraction (A1: summed vertex/edge weights, internal edges dropped —
  *   src/contract.c:695-715); stop when nvtxs ≤ coarsenTo or the shrink
  *   ratio exceeds stopRatio (P6, src/partition.c:216-223). Initial
  *   partition and per-level greedy refinement reuse [[InitialPartition]]
  *   (best-of-8 growing, max+min balance bounds per constraint).
  *
  * Hill-scanning (R2, [[InitialPartition.hillSweepK]]) runs once per
  * solve, on the coarsest graph, followed by a greedy sweep when a hill
  * moved. This is also how [[Multilevel.partitionMC]] solves its gathered
  * coarsest level: a graph already at or below coarsenTo is not coarsened
  * (best-of-8 growing, then hills, then greedy).
  */
object SerialMultilevel {

  /** mtch(v) = partner index, or v for a self-match. */
  private def shemMatch(g: LocalGraph, caps: Array[Long], seed: Long,
                        random: Boolean): Array[Int] = {
    val n = g.nvtxs
    val mtch = Array.fill(n)(-1)
    val rnd = new Random(seed)
    val salt = Array.fill(n)(rnd.nextInt())
    val order = (0 until n).toArray
    val deg = Array.tabulate(n)(i => g.xadj(i + 1) - g.xadj(i))
    // SHEM: ascending degree, shuffled ties (W1); RM: fully shuffled
    val key: Int => (Int, Int) =
      if (random) i => (0, salt(i)) else i => (deg(i), salt(i))
    scala.util.Sorting.stableSort(order,
      (a: Int, b: Int) => { val (ka, kb) = (key(a), key(b))
        ka._1 < kb._1 || (ka._1 == kb._1 && ka._2 < kb._2) })
    def fits(v: Int, u: Int): Boolean = {
      var c = 0
      while (c < g.ncon) {
        if (g.w(v, c) + g.w(u, c) > caps(c)) return false
        c += 1
      }
      true
    }
    var oi = 0
    while (oi < n) {
      val v = order(oi)
      if (mtch(v) == -1) {
        var best = -1
        var bw = Long.MinValue
        var j = g.xadj(v)
        while (j < g.xadj(v + 1)) {
          val u = g.adjncy(j)
          if (u != v && mtch(u) == -1 && fits(v, u)) {
            val w = g.adjwgt(j)
            // heaviest edge; random scheme ranks by salt instead
            val score = if (random) salt(u).toLong else w
            if (score > bw || (score == bw && (best == -1 || u < best))) {
              bw = score; best = u
            }
          }
          j += 1
        }
        if (best >= 0) { mtch(v) = best; mtch(best) = v } else mtch(v) = v
      }
      oi += 1
    }
    mtch
  }

  /** Sequential first-choice clustering fall-through on a stalled match
    * (M3 serial mirror — the reference's FC sweep IS sequential,
    * src/aggregate.c:1608-1837): every still-singleton vertex joins the
    * neighbor CLUSTER with the best `ceil(cwgt/sqrt(twgt))` score under
    * the per-constraint cap (ties: lighter cluster, then lower root id).
    * Matching alone cannot coarsen hub-and-spoke shapes past ~2x — without
    * this the serial tail stops shrinking early and the initial partition
    * runs on a graph far above coarsenTo (measured: +1.7% final cut).
    * Returns a cluster label per vertex (label = some member's index).
    */
  private def fcAugment(g: LocalGraph, caps: Array[Long], mtch: Array[Int],
                        seed: Long): Array[Int] = {
    val n = g.nvtxs
    val lbl = Array.tabulate(n)(v => math.min(v, mtch(v)))
    val cw = new Array[Long](n * g.ncon)
    val members = new Array[Int](n)
    var v = 0
    while (v < n) {
      var c = 0
      while (c < g.ncon) { cw(lbl(v) * g.ncon + c) += g.w(v, c); c += 1 }
      members(lbl(v)) += 1
      v += 1
    }
    val rnd = new Random(seed)
    val salt = Array.fill(n)(rnd.nextInt())
    val deg = Array.tabulate(n)(i => g.xadj(i + 1) - g.xadj(i))
    val order = (0 until n).toArray
    scala.util.Sorting.stableSort(order,
      (a: Int, b: Int) => deg(a) < deg(b) ||
        (deg(a) == deg(b) && salt(a) < salt(b)))
    def fits(u: Int, root: Int): Boolean = {
      var c = 0
      while (c < g.ncon) {
        if (cw(root * g.ncon + c) + g.w(u, c) > caps(c)) return false
        c += 1
      }
      true
    }
    val conn = new scala.collection.mutable.LongMap[Long]()
    var oi = 0
    while (oi < n) {
      val u = order(oi)
      if (lbl(u) == u && members(u) == 1) {
        conn.clear()
        var j = g.xadj(u)
        while (j < g.xadj(u + 1)) {
          val r = lbl(g.adjncy(j))
          if (r != u) conn(r) = conn.getOrElse(r.toLong, 0L) + g.adjwgt(j)
          j += 1
        }
        var best = -1
        var bestScore = Double.MinValue
        var bestW = Long.MaxValue
        conn.foreachEntry { (rL, cwgt) =>
          val r = rL.toInt
          if (fits(u, r)) {
            val tw = math.max(1L, cw(r * g.ncon))
            val score = math.ceil(cwgt.toDouble / math.sqrt(tw.toDouble))
            if (score > bestScore || (score == bestScore &&
                (tw < bestW || (tw == bestW && (best == -1 || r < best))))) {
              best = r; bestScore = score; bestW = tw
            }
          }
        }
        if (best >= 0) {
          members(best) += 1; members(u) = 0
          var c = 0
          while (c < g.ncon) { cw(best * g.ncon + c) += g.w(u, c); c += 1 }
          lbl(u) = best
        }
      }
      oi += 1
    }
    lbl
  }

  /** Contract an arbitrary cluster labeling (label = member index):
    * returns (coarse graph, fine→coarse index).
    */
  private def contractLabels(g: LocalGraph, lbl: Array[Int]): (LocalGraph, Array[Int]) = {
    val n = g.nvtxs
    val rootIdx = Array.fill(n)(-1)
    var cn = 0
    var v = 0
    while (v < n) {
      if (rootIdx(lbl(v)) == -1) { rootIdx(lbl(v)) = cn; cn += 1 }
      v += 1
    }
    val cmap = Array.tabulate(n)(v => rootIdx(lbl(v)))
    contractCmap(g, cmap, cn)
  }

  /** Contract matched pairs: returns (coarse graph, fine→coarse index). */
  private def contract(g: LocalGraph, mtch: Array[Int]): (LocalGraph, Array[Int]) = {
    val n = g.nvtxs
    val cmap = Array.fill(n)(-1)
    var cn = 0
    var v = 0
    while (v < n) {
      if (cmap(v) == -1) {
        cmap(v) = cn
        if (mtch(v) != v) cmap(mtch(v)) = cn
        cn += 1
      }
      v += 1
    }
    contractCmap(g, cmap, cn)
  }

  /** Shared contraction body over a fine→coarse index map. */
  private def contractCmap(g: LocalGraph, cmap: Array[Int],
                           cn: Int): (LocalGraph, Array[Int]) = {
    val n = g.nvtxs
    val cvw = new Array[Long](cn * g.ncon)
    var v = 0
    while (v < n) {
      var c = 0
      while (c < g.ncon) { cvw(cmap(v) * g.ncon + c) += g.w(v, c); c += 1 }
      v += 1
    }
    val adj = Array.fill(cn)(new scala.collection.mutable.LongMap[Long]())
    v = 0
    while (v < n) {
      val cv = cmap(v)
      var j = g.xadj(v)
      while (j < g.xadj(v + 1)) {
        val cu = cmap(g.adjncy(j))
        if (cu != cv) {
          val m = adj(cv)
          m(cu) = m.getOrElse(cu.toLong, 0L) + g.adjwgt(j)
        }
        j += 1
      }
      v += 1
    }
    val xadj = new Array[Int](cn + 1)
    var i = 0
    while (i < cn) { xadj(i + 1) = xadj(i) + adj(i).size; i += 1 }
    val adjncy = new Array[Int](xadj(cn))
    val adjwgt = new Array[Long](xadj(cn))
    i = 0
    while (i < cn) {
      var p = xadj(i)
      adj(i).toSeq.sortBy(_._1).foreach { case (u, w) =>
        adjncy(p) = u.toInt; adjwgt(p) = w; p += 1
      }
      i += 1
    }
    (LocalGraph(Array.tabulate(cn)(_.toLong), xadj, adjncy, adjwgt, cvw,
      g.ncon), cmap)
  }

  /** Full serial V-cycle; returns (where aligned to g.vids, level count). */
  def partition(g: LocalGraph, k: Int, ubFactor: Double, coarsenTo: Int,
                stopRatio: Double = 0.85, seed: Long = 42L, nRuns: Int = 1,
                targets: Array[Double] = null): (Array[Int], Int) = {
    if (g.nvtxs == 0) return (Array.empty, 0)
    val tgt = if (targets != null) targets else Array.fill(k)(1.0 / k)
    val tv = new Array[Long](g.ncon)
    for (v <- 0 until g.nvtxs; c <- 0 until g.ncon) tv(c) += g.w(v, c)
    // P7 matching weight cap (reference src/coarsen.c:78-88)
    val caps = tv.map(t => (1.5 * (t.toDouble / math.max(1, coarsenTo) + 2)).toLong)

    var levels = List.empty[(LocalGraph, Array[Int])] // (finer, cmap)
    var cur = g
    var lvlSeed = seed
    var shrinking = true
    while (cur.nvtxs > coarsenTo && shrinking) {
      var m = shemMatch(cur, caps, lvlSeed, random = false)
      // P4: SHEM ineffective (self-matched ≥ ⅓) → try RM, keep the better
      var paired = m.indices.count(v => m(v) != v) / 2
      var stalled = Matching.stalled(cur.nvtxs - 2 * paired, cur.nvtxs)
      if (stalled) {
        val rm = shemMatch(cur, caps, lvlSeed + 101, random = true)
        val rmPaired = rm.indices.count(v => rm(v) != v) / 2
        if (rmPaired > paired) { m = rm; paired = rmPaired }
        stalled = Matching.stalled(cur.nvtxs - 2 * paired, cur.nvtxs)
      }
      lvlSeed += 1
      // M3 fall-through, mirroring [[Multilevel]]'s dispatch: still-stalled
      // levels coarsen by many-to-one FC clustering instead of 1-to-1
      // pairs. Single-constraint only: many-to-one clusters are lumpy in
      // the secondary constraints, and the coarsest-level integrality slack
      // they cost is exactly what multi-constraint balance cannot spare
      // (the reference likewise never combines clustering with
      // multi-constraint, src/aggregate.c:1614)
      val (cg, cmap) =
        if (stalled && g.ncon == 1)
          contractLabels(cur, fcAugment(cur, caps, m, lvlSeed + 202))
        else contract(cur, m)
      shrinking = cg.nvtxs.toDouble / cur.nvtxs <= stopRatio
      if (cg.nvtxs < cur.nvtxs) {
        levels = (cur, cmap) :: levels
        cur = cg
      } else shrinking = false
    }

    var bestWhere: Array[Int] = null
    var bestCut = Long.MaxValue
    for (run <- 0 until nRuns) {
      var where = InitialPartition.partition(cur, k, ubFactor, 8,
        seed + 7919L * run, targets = tgt)
      // hills at the COARSEST graph only (free at ≤ coarsenTo vertices,
      // where single moves are coarsest-grained and most often stuck).
      // Measured at 26.5M edges: per-LEVEL serial hills in this loop cost
      // ~9 min of driver time across the best-of-4 solves AND ended 3%
      // worse — hill+clean-up chains pin the tail at the balance cap,
      // starving the finer distributed refinement of feasible moves.
      if (InitialPartition.hillSweepK(cur, k, where, ubFactor, tgt))
        where = InitialPartition.refineGreedy(cur, k, where, ubFactor,
          targets = tgt)
      for ((fg, cmap) <- levels) {
        val projected = Array.tabulate(fg.nvtxs)(v => where(cmap(v)))
        where = InitialPartition.refineGreedy(fg, k, projected, ubFactor,
          targets = tgt)
      }
      val cut = InitialPartition.cutOf(g, where)
      if (cut < bestCut) { bestCut = cut; bestWhere = where }
    }
    (bestWhere, levels.size)
  }
}
