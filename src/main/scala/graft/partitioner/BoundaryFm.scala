package graft.partitioner

import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Boundary-subgraph extraction + serial FM — the Spark re-expression of
  * the reference's edge-separator refinement pair:
  *
  *   J7  boundary-subgraph extraction (par_graph_extract_boundary decl
  *       reference src/graph.h:545-563, S_par_graph_bndgraph
  *       src/graph.c:508-663): boundary vertices (any neighbor in the other
  *       part) plus TWO super-vertices standing in for the immovable part
  *       cores; boundary→core edges collapse onto the super-vertex by a
  *       groupBy, core→core edges vanish (they can never change state).
  *       The result is small by construction — O(boundary), not O(V) — so
  *       it travels to the driver even when the graph doesn't.
  *
  *   R3  serial 1-sided FM with rollback to the best seen state (FM1S,
  *       reference src/eseprefine.c:363-534; serial dispatch when the graph
  *       is small, src/eseprefine.c:1060-1097): gain priority queue with
  *       lazy invalidation, negative-gain hill moves bounded by a
  *       no-improvement budget, per-move balance feasibility under BOTH
  *       bounds (maxwgt/minwgt = tpwgts·tvwgt·ub^±1,
  *       src/kwayrefine.c:1056-1059), super-vertices locked.
  *
  *   R2  one 2-way [[InitialPartition.hillSweepK]] sweep between FM runs,
  *       with the two super-vertices locked (never seeds, never absorbed).
  *
  * Because the super-vertices carry the exact core weights, part weights on
  * the boundary graph EQUAL part weights on the full graph — balance checks
  * need no side channel, and a cut improvement on the boundary graph is the
  * same improvement on the full graph.
  */
object BoundaryFm {

  /** Super-vertex ids (outside the non-negative vid domain). */
  private val Core0 = -1L
  private val Core1 = -2L

  /** J7: boundary subgraph of a bisection.
    * Returns (bndVerts(vid, vwgt), bndEdges(src, dst, wgt)) where
    * vid ∈ {boundary vids} ∪ {-1 (part-0 core), -2 (part-1 core)}.
    */
  def extractBoundary(edges: DataFrame, vertices: DataFrame,
                      assign: DataFrame): (DataFrame, DataFrame) = {
    val a = assign.select(col("vid"), col("part"))
    val lab = GraphOps.symmetrize(edges)
      .join(a.select(col("vid").as("src"), col("part").as("sp")), "src")
      .join(a.select(col("vid").as("dst"), col("part").as("dp")), "dst")
    val bnd = lab.filter(col("sp") =!= col("dp"))
      .select(col("src").as("vid")).distinct().ckpt()
    val vw = vertices.select(col("vid"), col("vwgt"))
    val bndV = vw.join(bnd, "vid").join(a, "vid")
      .select(col("vid"), col("vwgt"), col("part"))
    // core weight per part = total − boundary
    val coreW = vw.join(a, "vid")
      .join(bnd.withColumn("isb", lit(1)), Seq("vid"), "left")
      .filter(col("isb").isNull)
      .groupBy(col("part")).agg(sum(col("vwgt")).as("w")).collect()
      .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    val s = edges.sparkSession
    import s.implicits._
    val superV = Seq((Core0, coreW.getOrElse(0, 0L), 0),
      (Core1, coreW.getOrElse(1, 0L), 1)).toDF("vid", "vwgt", "part")
    // edge classes over CANONICAL edges (src < dst): b-b kept; b-core
    // collapsed onto the core's super-vertex; core-core dropped
    val isB = (c: org.apache.spark.sql.Column) =>
      c.isNotNull
    val e2 = edges
      .join(bnd.select(col("vid").as("src"), lit(1).as("sb")), Seq("src"), "left")
      .join(bnd.select(col("vid").as("dst"), lit(1).as("db")), Seq("dst"), "left")
      .join(a.select(col("vid").as("src"), col("part").as("sp")), "src")
      .join(a.select(col("vid").as("dst"), col("part").as("dp")), "dst")
    val bb = e2.filter(isB(col("sb")) && isB(col("db")))
      .select(col("src"), col("dst"), col("wgt"))
    val bc = e2.filter(isB(col("sb")) =!= isB(col("db")))
      .select(
        when(isB(col("sb")), col("src")).otherwise(col("dst")).as("src"),
        when(isB(col("sb")), when(col("dp") === 0, lit(Core0)).otherwise(lit(Core1)))
          .otherwise(when(col("sp") === 0, lit(Core0)).otherwise(lit(Core1)))
          .as("dst"),
        col("wgt"))
      .groupBy(col("src"), col("dst")).agg(sum(col("wgt")).as("wgt"))
    // both sides are consumed by count + collect actions downstream: the
    // ~10-join plans evaluate once here instead of once per action
    (bndV.unionByName(superV).ckpt(), bb.unionByName(bc).ckpt())
  }

  /** R3: refine a bisection by collecting the J7 boundary graph and running
    * serial FM; returns the (possibly improved) full assignment. Falls back
    * to the input when the boundary exceeds `maxBoundary` (the serial path
    * is the reference's small-graph dispatch, not a scale path).
    */
  def refineBisection(spark: SparkSession, edges: DataFrame,
                      vertices: DataFrame, assign: DataFrame,
                      ubFactor: Double = 1.03,
                      targets: Array[Double] = Array(0.5, 0.5),
                      passes: Int = 8,
                      maxBoundary: Long = 200000L): DataFrame = {
    val (bv, be) = extractBoundary(edges, vertices, assign)
    val nBnd = bv.count() - 2
    // bound BOTH gathers: a boundary of HUBS carries Σ deg(boundary)
    // edge rows — unbounded by the vertex count alone; -1 = not counted
    // (the vertex bound already tripped)
    val nBe = if (nBnd > maxBoundary) -1L else be.count()
    if (nBnd > maxBoundary ||
        nBe > SeparatorRefine.edgeBound(maxBoundary)) {
      // never silent (repo rule): count + log the skipped refinement
      graft.plans.Metrics.event("boundary_fm_skipped",
        s"boundary $nBnd vtxs / " +
          s"${if (nBe < 0) "uncounted" else nBe.toString} edge rows > " +
          s"maxBoundary $maxBoundary — returning input unrefined")
      return assign
    }
    if (nBnd <= 0) return assign // no boundary: nothing to refine
    val vArr = bv.select(col("vid"), col("vwgt"), col("part")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
      .sortBy(_._1)
    val eArr = be.select(col("src"), col("dst"), col("wgt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val g = InitialPartition.fromEdges(eArr, vArr.map(t => (t._1, t._2)))
    val whereMap = vArr.map(t => t._1 -> t._3).toMap
    val where = g.vids.map(whereMap)
    val locked = g.vids.map(v => v == Core0 || v == Core1)
    val tv = vArr.map(_._2).sum
    val maxW = targets.map(t => math.ceil(t * tv * ubFactor).toLong)
    val minW = targets.map(t => math.floor(t * tv / ubFactor).toLong)
    var refined = fm2way(g, where, locked, maxW, minW, passes)
    // R2 hill-scanning: clusters whose members are individually stuck
    // (gain ≤ 0) can still move with positive combined gain; a follow-up
    // FM pass cleans up around moved hills. The super-vertices carry the
    // core weights, so hillSweepK's bounds over g equal maxW/minW
    if (InitialPartition.hillSweepK(g, 2, refined, ubFactor, targets, locked))
      refined = fm2way(g, refined, locked, maxW, minW, passes)
    val moved = g.vids.indices.iterator
      .filter(i => !locked(i) && refined(i) != where(i))
      .map(i => (g.vids(i), refined(i))).toSeq
    if (moved.isEmpty) return assign
    import spark.implicits._
    val movedDf = moved.toDF("vid", "newpart")
    assign.join(movedDf, Seq("vid"), "left")
      .select(col("vid"),
        coalesce(col("newpart"), col("part")).cast("int").as("part"))
      .ckpt()
  }

  /** Serial 2-way FM with rollback (FM1S shape, reference
    * src/eseprefine.c:363-534): gain PQ with lazy invalidation; every
    * unlocked vertex moves at most once per pass; moves may be negative-
    * gain (hill climbing) but the pass aborts after `badLimit` consecutive
    * non-improving moves; the pass commits the prefix of moves achieving
    * the best feasible cut and rolls the rest back. Deterministic: ties
    * break on vertex id.
    */
  private[partitioner] def fm2way(g: InitialPartition.LocalGraph,
                                  where0: Array[Int],
                                  locked: Array[Boolean],
                                  maxW: Array[Long], minW: Array[Long],
                                  passes: Int): Array[Int] = {
    val n = g.nvtxs
    val where = where0.clone()
    val pw = Array.ofDim[Long](2)
    for (v <- 0 until n) pw(where(v)) += g.w(v, 0)
    var bestCut = InitialPartition.cutOf(g, where)
    val badLimit = math.max(64, n / 20)

    var pass = 0
    var improvedPass = true
    while (pass < passes && improvedPass) {
      improvedPass = false
      // gain(v) = ed − id for the flip
      val gain = new Array[Long](n)
      for (v <- 0 until n) {
        var gsum = 0L
        var j = g.xadj(v)
        while (j < g.xadj(v + 1)) {
          if (where(g.adjncy(j)) != where(v)) gsum += g.adjwgt(j)
          else gsum -= g.adjwgt(j)
          j += 1
        }
        gain(v) = gsum
      }
      val moved = new Array[Boolean](n)
      // lazy-invalidated max-heap on (gain, -v)
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](
        Ordering.by(t => (t._1, -t._2)))
      for (v <- 0 until n; if !locked(v)) pq.enqueue((gain(v), v))
      var cut = bestCut
      // move log for rollback: (vertex, cut-after-move)
      val log = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var bestIdx = -1
      var bestSeen = bestCut
      var bad = 0
      var done = false
      while (!done && pq.nonEmpty && bad < badLimit) {
        // pop until a valid, feasible entry surfaces
        var pick = -1
        while (pick < 0 && pq.nonEmpty) {
          val (gv, v) = pq.dequeue()
          if (!moved(v) && !locked(v) && gv == gain(v)) {
            val from = where(v); val to = 1 - from
            val w = g.w(v, 0)
            if (pw(to) + w <= maxW(to) && pw(from) - w >= minW(from)) pick = v
            // infeasible entries stay out: they re-enter via neighbor
            // updates if their gain changes
          }
        }
        if (pick < 0) done = true
        else {
          val v = pick
          val from = where(v); val to = 1 - from
          pw(from) -= g.w(v, 0); pw(to) += g.w(v, 0)
          where(v) = to
          moved(v) = true
          cut -= gain(v)
          log += ((v, cut))
          if (cut < bestSeen) { bestSeen = cut; bestIdx = log.size - 1; bad = 0 }
          else bad += 1
          // neighbor gain updates: edge (v,u) flips its cut state
          var j = g.xadj(v)
          while (j < g.xadj(v + 1)) {
            val u = g.adjncy(j)
            if (!moved(u) && !locked(u)) {
              gain(u) +=
                (if (where(u) == to) -2L * g.adjwgt(j) else 2L * g.adjwgt(j))
              pq.enqueue((gain(u), u))
            }
            j += 1
          }
          gain(v) = -gain(v)
        }
      }
      // rollback past the best prefix
      var i = log.size - 1
      while (i > bestIdx) {
        val (v, _) = log(i)
        val from = where(v); val to = 1 - from
        pw(from) -= g.w(v, 0); pw(to) += g.w(v, 0)
        where(v) = to
        i -= 1
      }
      if (bestSeen < bestCut) { bestCut = bestSeen; improvedPass = true }
      pass += 1
    }
    where
  }
}
