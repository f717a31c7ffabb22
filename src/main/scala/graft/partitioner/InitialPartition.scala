package graft.partitioner

import scala.collection.mutable
import scala.util.Random

/** Driver-side initial partition of the coarsest graph — the Spark
  * re-expression of the reference's replicate-and-solve stage (P10:
  * par_graph_gather src/graph.c:2501-2597 gathers the coarsest graph to
  * every thread; par_initpart_cut src/initpart.c:30-77 runs
  * `ninitsolutions` seeded serial solves and keeps the minimum cut).
  *
  * By the coarsening stop rule the coarsest graph has ≤ coarsenTo vertices
  * (reference ctrl.c:260: 1000·nparts), so a `collect()` is the gather and
  * plain Scala is the serial solver. Greedy graph-growing (BFS region
  * growing from a seed, the GGP scheme serial METIS uses for initial
  * bisection) + one pass of boundary greedy refinement, best-of-N by cut.
  *
  * Balance machinery mirrors the reference exactly:
  *   - multi-constraint weights: `ncon` weights per vertex, flat row-major
  *     `vwgt(v*ncon+c)` (reference src/graph.h:44,55, vwgt layout
  *     src/mtmetis_bin.c:524-530) — every balance check quantifies over
  *     constraints;
  *   - per-part target fractions `targets` (the reference's tpwgts), so
  *     recursive bisection can ask for a k1:k2 split;
  *   - max AND min part-weight bounds: maxwgt/minwgt =
  *     tpwgts·tvwgt·ubfactor^±1 (reference src/kwayrefine.c:1056-1059) —
  *     a part may neither overfill nor drain.
  */
object InitialPartition {

  /** Compact in-driver CSR; `vwgt` is flat row-major (v*ncon+c). */
  final case class LocalGraph(vids: Array[Long], xadj: Array[Int],
                              adjncy: Array[Int], adjwgt: Array[Long],
                              vwgt: Array[Long], ncon: Int = 1) {
    def nvtxs: Int = vids.length
    def w(v: Int, c: Int): Long = vwgt(v * ncon + c)
  }

  def fromEdges(edges: Array[(Long, Long, Long)],
                verts: Array[(Long, Long)]): LocalGraph =
    fromEdgesMC(edges, verts.map { case (v, w) => (v, Array(w)) }, 1)

  /** Multi-constraint constructor: `verts` carries `ncon` weights each. */
  def fromEdgesMC(edges: Array[(Long, Long, Long)],
                  verts: Array[(Long, Array[Long])], ncon: Int): LocalGraph = {
    val vids = verts.map(_._1).sorted
    val idx = vids.zipWithIndex.toMap
    val vwgt = new Array[Long](vids.length * ncon)
    verts.foreach { case (v, ws) =>
      require(ws.length == ncon, s"vertex $v has ${ws.length} weights, ncon=$ncon")
      System.arraycopy(ws, 0, vwgt, idx(v) * ncon, ncon)
    }
    val deg = new Array[Int](vids.length)
    edges.foreach { case (s, d, _) => deg(idx(s)) += 1; deg(idx(d)) += 1 }
    val xadj = new Array[Int](vids.length + 1)
    for (i <- vids.indices) xadj(i + 1) = xadj(i) + deg(i)
    val pos = xadj.clone()
    val adjncy = new Array[Int](edges.length * 2)
    val adjwgt = new Array[Long](edges.length * 2)
    edges.foreach { case (s, d, w) =>
      val (si, di) = (idx(s), idx(d))
      adjncy(pos(si)) = di; adjwgt(pos(si)) = w; pos(si) += 1
      adjncy(pos(di)) = si; adjwgt(pos(di)) = w; pos(di) += 1
    }
    LocalGraph(vids, xadj, adjncy, adjwgt, vwgt, ncon)
  }

  def cutOf(g: LocalGraph, where: Array[Int]): Long = {
    var cut = 0L
    var i = 0
    while (i < g.nvtxs) {
      var j = g.xadj(i)
      while (j < g.xadj(i + 1)) {
        if (where(g.adjncy(j)) != where(i)) cut += g.adjwgt(j)
        j += 1
      }
      i += 1
    }
    cut / 2
  }

  /** Per-constraint totals. */
  private def totals(g: LocalGraph): Array[Long] = {
    val t = new Array[Long](g.ncon)
    var v = 0
    while (v < g.nvtxs) {
      var c = 0
      while (c < g.ncon) { t(c) += g.w(v, c); c += 1 }
      v += 1
    }
    t
  }

  /** Balance bounds per (part, constraint): maxW/minW =
    * targets(p)·tvwgt(c)·ub^±1 (reference kwayrefine.c:1056-1059).
    */
  private def bounds(g: LocalGraph, k: Int, targets: Array[Double],
                     ubFactor: Double): (Array[Long], Array[Long]) = {
    val tv = totals(g)
    val maxW = new Array[Long](k * g.ncon)
    val minW = new Array[Long](k * g.ncon)
    for (p <- 0 until k; c <- 0 until g.ncon) {
      val t = targets(p) * tv(c)
      maxW(p * g.ncon + c) = math.ceil(t * ubFactor).toLong
      minW(p * g.ncon + c) = math.floor(t / ubFactor).toLong
    }
    (maxW, minW)
  }

  private def uniform(k: Int): Array[Double] = Array.fill(k)(1.0 / k)

  /** One seeded greedy graph-growing k-way partition + refinement pass. */
  private def growOnce(g: LocalGraph, k: Int, ubFactor: Double, seed: Long,
                       targets: Array[Double]): Array[Int] = {
    val rnd = new Random(seed)
    val n = g.nvtxs
    val ncon = g.ncon
    val tv = totals(g)
    val (maxW, _) = bounds(g, k, targets, ubFactor)
    val where = Array.fill(n)(-1)
    val pwgt = new Array[Long](k * ncon)
    var assigned = 0
    def fits(v: Int, p: Int): Boolean = {
      var c = 0
      while (c < ncon) {
        if (pwgt(p * ncon + c) + g.w(v, c) > maxW(p * ncon + c)) return false
        c += 1
      }
      true
    }
    def add(v: Int, p: Int): Unit = {
      var c = 0
      while (c < ncon) { pwgt(p * ncon + c) += g.w(v, c); c += 1 }
      where(v) = p; assigned += 1
    }
    // grow parts 0..k-2 by BFS from random unassigned seeds (primary
    // constraint c=0 drives growth); rest -> k-1
    for (p <- 0 until k - 1) {
      val target0 = targets(p) * tv(0)
      val queue = mutable.Queue.empty[Int]
      while (pwgt(p * ncon) < target0 && assigned < n) {
        if (queue.isEmpty) {
          // new seed: random unassigned vertex
          var s = rnd.nextInt(n)
          var tries = 0
          while (where(s) != -1 && tries < 4 * n) { s = (s + 1) % n; tries += 1 }
          if (where(s) != -1) return fallback(g, k) // shouldn't happen
          queue.enqueue(s)
        }
        val v = queue.dequeue()
        if (where(v) == -1 && fits(v, p)) {
          add(v, p)
          var j = g.xadj(v)
          while (j < g.xadj(v + 1)) {
            if (where(g.adjncy(j)) == -1) queue.enqueue(g.adjncy(j))
            j += 1
          }
        } else if (where(v) == -1 && queue.isEmpty) {
          // vertex too heavy for this part; skip it via a fresh seed
          return refineGreedy(g, k, completeRest(g, k, where, pwgt),
            ubFactor, targets = targets)
        }
      }
    }
    refineGreedy(g, k, completeRest(g, k, where, pwgt), ubFactor,
      targets = targets)
  }

  private def completeRest(g: LocalGraph, k: Int, where: Array[Int],
                           pwgt: Array[Long]): Array[Int] = {
    // remaining vertices: lightest part (primary constraint) first
    // (island restore F4 flavour, reference par_graph_restoreislands
    // src/graph.c:3271-3382)
    for (i <- 0 until g.nvtxs if where(i) == -1) {
      val p = (0 until k).minBy(p0 => pwgt(p0 * g.ncon))
      where(i) = p
      var c = 0
      while (c < g.ncon) { pwgt(p * g.ncon + c) += g.w(i, c); c += 1 }
    }
    where
  }

  private def fallback(g: LocalGraph, k: Int): Array[Int] =
    Array.tabulate(g.nvtxs)(i => i % k)

  /** Greedy boundary refinement sweeps (serial flavour of R1,
    * S_par_kwayrefine_GREEDY src/kwayrefine.c:1004-1214): move a vertex to
    * the neighbor part with max positive gain if balance stays feasible
    * under BOTH bounds (max target, min floor — reference
    * kwayrefine.c:1056-1059) for EVERY constraint;
    * ≤ 8 passes (nrefpass default, ctrl.c:39) or until no move.
    */
  def refineGreedy(g: LocalGraph, k: Int, where: Array[Int],
                   ubFactor: Double, passes: Int = 8,
                   targets: Array[Double] = null): Array[Int] = {
    val ncon = g.ncon
    val tgt = if (targets != null) targets else uniform(k)
    val (maxW, minW) = bounds(g, k, tgt, ubFactor)
    val pwgt = new Array[Long](k * ncon)
    for (i <- where.indices; c <- 0 until ncon)
      pwgt(where(i) * ncon + c) += g.w(i, c)
    def feasible(v: Int, from: Int, to: Int): Boolean = {
      var c = 0
      while (c < ncon) {
        if (pwgt(to * ncon + c) + g.w(v, c) > maxW(to * ncon + c)) return false
        if (pwgt(from * ncon + c) - g.w(v, c) < minW(from * ncon + c)) return false
        c += 1
      }
      true
    }
    var pass = 0
    var moved = true
    val conn = new Array[Long](k)
    while (pass < passes && moved) {
      moved = false
      var i = 0
      while (i < g.nvtxs) {
        java.util.Arrays.fill(conn, 0L)
        var j = g.xadj(i)
        while (j < g.xadj(i + 1)) {
          conn(where(g.adjncy(j))) += g.adjwgt(j); j += 1
        }
        val home = where(i)
        var best = home
        var bestGain = 0L
        var p = 0
        while (p < k) {
          if (p != home && feasible(i, home, p)) {
            val gain = conn(p) - conn(home)
            if (gain > bestGain ||
                (gain == bestGain && gain > 0 &&
                  pwgt(p * ncon) < pwgt(best * ncon)))
              { best = p; bestGain = gain }
          }
          p += 1
        }
        if (best != home && bestGain > 0) {
          var c = 0
          while (c < ncon) {
            pwgt(home * ncon + c) -= g.w(i, c)
            pwgt(best * ncon + c) += g.w(i, c)
            c += 1
          }
          where(i) = best; moved = true
        }
        i += 1
      }
      pass += 1
    }
    where
  }

  // reference hillsize (src/ctrl.c:44)
  private val HillSize = 16

  /** Hill-scanning (R2 — reference S_par_kwayrefine_HS
    * src/kwayrefine.c:1217-1550, hill gain identity :599-772), the engine's
    * one hill scanner: a connected same-part set H of individually-stuck
    * boundary vertices may still move TOGETHER with positive combined gain
    *   jgain(H→p) = Σ_{v∈H} conn_v(p) − (Σ_{v∈H} conn_v(home) − 2·w(E⊆H))
    * (edges inside H stay internal when the whole hill moves). Hills grow
    * from each stuck seed along the heaviest connection into the hill
    * (maximizing the refund) up to [[HillSize]] vertices;
    * the first feasible positive target wins, under both bounds for every
    * constraint. Runs once per V-cycle, on the coarsest graph
    * ([[SerialMultilevel.partition]]), and between the 2-way FM runs of
    * [[BoundaryFm.refineBisection]]. `locked` vertices (default: none)
    * are never seeds and never absorbed. Mutates `where`; returns true if
    * any hill moved.
    */
  private[partitioner] def hillSweepK(g: LocalGraph, k: Int,
                                      where: Array[Int], ubFactor: Double,
                                      targets: Array[Double] = null,
                                      locked: Array[Boolean] = null): Boolean = {
    val ncon = g.ncon
    val tgt = if (targets != null) targets else uniform(k)
    val (maxW, minW) = bounds(g, k, tgt, ubFactor)
    val pwgt = new Array[Long](k * ncon)
    for (i <- where.indices; c <- 0 until ncon)
      pwgt(where(i) * ncon + c) += g.w(i, c)
    val n = g.nvtxs
    val conn = new Array[Long](k)
    def connOf(v: Int): Unit = {
      java.util.Arrays.fill(conn, 0L)
      var j = g.xadj(v)
      while (j < g.xadj(v + 1)) {
        conn(where(g.adjncy(j))) += g.adjwgt(j); j += 1
      }
    }
    val inHill = new Array[Boolean](n)
    // vertices no hill may take: the locked ones and members of moved hills
    val moved = if (locked != null) locked.clone() else new Array[Boolean](n)
    var movedAny = false
    val hconn = new Array[Long](k) // Σ conn_v(p) over hill members
    val hw = new Array[Long](ncon) // hill weight per constraint
    // candidate map u → w(u→hill), maintained INCREMENTALLY as members are
    // absorbed (one adjacency scan per member) — recomputing w(u→hill) per
    // growth step per candidate is quadratic in hub degree and stalls on
    // dense levels
    val cand = new mutable.LongMap[Long]()
    var seed = 0
    while (seed < n) {
      val from = where(seed)
      if (!moved(seed) && !inHill(seed)) {
        connOf(seed)
        var bestExt = 0L
        var ext = 0L
        var p = 0
        while (p < k) {
          if (p != from) { ext += conn(p); if (conn(p) > bestExt) bestExt = conn(p) }
          p += 1
        }
        // stuck boundary seed: external edges, no positive single move
        if (ext > 0 && bestExt <= conn(from)) {
          val hill = scala.collection.mutable.ArrayBuffer(seed)
          inHill(seed) = true
          System.arraycopy(conn, 0, hconn, 0, k)
          var c = 0
          while (c < ncon) { hw(c) = g.w(seed, c); c += 1 }
          var intW = 0L // edge weight inside the hill
          cand.clear()
          def absorb(v: Int): Unit = {
            var j = g.xadj(v)
            while (j < g.xadj(v + 1)) {
              val u = g.adjncy(j)
              if (!inHill(u) && !moved(u) && where(u) == from)
                cand(u) = cand.getOrElse(u.toLong, 0L) + g.adjwgt(j)
              j += 1
            }
            cand.remove(v.toLong)
            ()
          }
          absorb(seed)
          def jgain(p: Int): Long = hconn(p) - (hconn(from) - 2L * intW)
          def feasible(p: Int): Boolean = {
            var c = 0
            while (c < ncon) {
              if (pwgt(p * ncon + c) + hw(c) > maxW(p * ncon + c)) return false
              if (pwgt(from * ncon + c) - hw(c) < minW(from * ncon + c))
                return false
              c += 1
            }
            true
          }
          def bestTarget: Int = {
            var b = -1; var bg = 0L; var p = 0
            while (p < k) {
              if (p != from && jgain(p) > bg && feasible(p)) { b = p; bg = jgain(p) }
              p += 1
            }
            b
          }
          var target = bestTarget
          var grown = true
          while (target < 0 && hill.size < HillSize && grown) {
            // heaviest same-part connection into the hill (the refund)
            var best = -1
            var bestW = 0L
            cand.foreachEntry { (uL, w) =>
              val u = uL.toInt
              if (!moved(u) && !inHill(u) &&
                  (w > bestW || (w == bestW && (best < 0 || u < best)))) {
                best = u; bestW = w
              }
            }
            if (best < 0) grown = false
            else {
              connOf(best)
              var p = 0
              while (p < k) { hconn(p) += conn(p); p += 1 }
              var c = 0
              while (c < ncon) { hw(c) += g.w(best, c); c += 1 }
              intW += bestW
              hill += best
              inHill(best) = true
              absorb(best)
              target = bestTarget
            }
          }
          if (target >= 0) {
            hill.foreach { h =>
              var c = 0
              while (c < ncon) {
                pwgt(from * ncon + c) -= g.w(h, c)
                pwgt(target * ncon + c) += g.w(h, c)
                c += 1
              }
              where(h) = target
              moved(h) = true
            }
            movedAny = true
          } else hill.foreach(h => inHill(h) = false) // free for other hills
        }
      }
      seed += 1
    }
    movedAny
  }

  /** Best-of-N seeded solves by cut (reference ninitsolutions=8,
    * src/ctrl.c:41, min-reduce src/initpart.c:70-77). `targets` = per-part
    * weight fractions (reference tpwgts), default uniform.
    */
  def partition(g: LocalGraph, k: Int, ubFactor: Double = 1.03,
                nSolutions: Int = 8, seed: Long = 42L,
                targets: Array[Double] = null): Array[Int] = {
    if (g.nvtxs == 0) return Array.empty
    if (k <= 1) return new Array[Int](g.nvtxs)
    val tgt = if (targets != null) targets else uniform(k)
    require(tgt.length == k, s"targets length ${tgt.length} != k=$k")
    val candidates = (0 until nSolutions).map { s =>
      val w = growOnce(g, k, ubFactor, seed + s, tgt)
      (cutOf(g, w), w)
    }
    candidates.minBy(_._1)._2
  }
}
