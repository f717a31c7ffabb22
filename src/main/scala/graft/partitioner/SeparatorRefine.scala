package graft.partitioner

import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.GraphOps
import graft.plans.{Metrics, Plans}
import graft.plans.Plans.CheckpointOps

/** Vertex-separator refinement — the reference's parallel separator scheme
  * SFG (S_vseprefine_SFG, reference src/vseprefine.c:2373-2460; ctrl.c:300-306
  * picks it for VSEP/ND whenever nthreads > 1): a greedy flow pass, then
  * segmented FM. Here the gathered segmented FM runs alone while the
  * separator region fits the gather bound; the distributed greedy flow runs
  * first only when it does not.
  *
  * Labels are 3-way (A=0/B=1/SEP=2). A separator vertex v moves to side s;
  * every neighbor of v on the OPPOSITE side is pulled INTO the separator
  * (otherwise an A–B edge would escape), so the gain is w(v) − Σ w(pulled).
  * Every path keeps the best separator seen, so the output separator is
  * never heavier than the input and no A–B edge appears.
  *
  * Distribution shape (J8, the boundary-gather pattern of
  * par_graph_extract_separator, reference src/graph.h:566-603): only
  * SEP ∪ N(SEP) with its full adjacency (plus the sides and weights of the
  * 2-hop ring) is gathered, bounded by the session conf
  * `spark.graft.vsep.maxGather` (vertices, and 8x that in adjacency rows;
  * default 200000), while side weights count the WHOLE graph via one
  * aggregate, so balance is global. The rest of the graph never moves.
  */
object SeparatorRefine {

  // reference ubfactor for separators; each side may hold ceil(ub·tv/2)
  private val UbFactor = 1.2
  // reference nrefpass (src/ctrl.c:39): SFM half-pass pairs
  private val NRefPass = 8
  // reference hillsize: non-improving moves one SFM flow tolerates
  private val HillSize = 16
  // distributed greedy half-passes (S_pass_GREEDY)
  private val GreedyPasses = 4
  // bounded admit of the greedy pass: top AdmitCap per hash bucket
  private val AdmitBuckets = 32
  private val AdmitCap = 1024
  private val DefaultMaxGather = 200000L

  /** Edge-gather bound = 8x the vertex bound, overflow-safe for callers
    * that pass a huge bound to effectively disable the guard.
    */
  private[partitioner] def edgeBound(mg: Long): Long =
    8L * math.min(mg, Long.MaxValue / 8L)

  private def maxSide(tv: Long): Long = math.ceil(UbFactor * tv / 2.0).toLong

  /** Whole-graph weight per side of `w(vid, side)`. */
  private def sideWeights(w: DataFrame, vwgt: DataFrame): Array[Long] = {
    val out = Array.fill(3)(0L)
    w.join(vwgt, "vid").groupBy(col("side")).agg(sum(col("vwgt")).as("sw"))
      .collect().foreach(r => out(r.get(0).toString.toInt) = r.getLong(1))
    out
  }

  /** Refine `where(vid, side)` (side ∈ {0,1,2}); returns (vid, side).
    * `vwgt(vid, vwgt)` supplies vertex weights. The gathered segmented FM
    * runs when the separator region fits the gather bound. Otherwise SFG:
    * the distributed greedy flow ([[refineGreedyDist]]) shrinks the
    * separator, and the gather is retried; if it still does not fit, the
    * greedy labels stand. Both fallbacks are counted
    * (`vsep_refine_dist_fallback`, `vsep_sfm_skipped`).
    */
  def refine(spark: SparkSession, edges: DataFrame, where: DataFrame,
             vwgt: DataFrame): DataFrame = {
    val mg = spark.conf.get("spark.graft.vsep.maxGather",
      DefaultMaxGather.toString).toLong
    val w = where.select(col("vid"), col("side")).ckpt()
    sfmGathered(spark, edges, w, vwgt, mg) match {
      case Right(out) => out
      case Left(over) =>
        Metrics.event("vsep_refine_dist_fallback",
          s"$over — running SFG (distributed greedy flow, then gathered SFM)")
        val g = refineGreedyDist(spark, edges, w, vwgt)
        Plans.unpersist(w) // g is its own checkpoint
        sfmGathered(spark, edges, g, vwgt, mg) match {
          case Right(out) => out
          case Left(over2) =>
            Metrics.event("vsep_sfm_skipped",
              s"$over2 after the greedy flow — keeping the greedy labels")
            g
        }
    }
  }

  /** Segmented FM over the gathered separator region (S_vseprefine_SFM,
    * reference src/vseprefine.c:2207-2285): SEP ∪ N(SEP) is gathered with
    * its COMPLETE adjacency (so pulls and onward flows are exact), the
    * 2-hop ring with sides and weights only — ring vertices can be pulled
    * into the separator but never move out (the shared-memory reference
    * always has full adjacency). Left(what was counted) when the region is
    * over the bound `mg`: vertices, or [[edgeBound]] adjacency rows.
    */
  private def sfmGathered(spark: SparkSession, edges: DataFrame,
                          w: DataFrame, vwgt: DataFrame,
                          mg: Long): Either[String, DataFrame] = {
    val sepV = w.filter(col("side") === 2).select(col("vid"))
    if (sepV.isEmpty) return Right(w)
    val sym = GraphOps.symmetrize(edges).select(col("src"), col("dst"))
    def ckptCounted(df: DataFrame) =
      GraftSqlInternals.statlessLocalCheckpointCounted(df,
        StorageLevel.MEMORY_AND_DISK)
    // movable set: SEP ∪ N(SEP), whose full adjacency is gathered
    val (movableIds, nMovable) = ckptCounted(sepV.unionByName(
        sym.join(sepV.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
          .select(col("dst").as("vid")))
      .distinct())
    if (nMovable > mg) {
      Plans.unpersist(movableIds)
      return Left(s"separator region $nMovable vtxs > maxGather $mg")
    }
    // bound the edge gather too (a separator of hubs carries Σ deg
    // adjacency rows behind a small vertex count), then the ring
    val (gAdj, nAdjE) = ckptCounted(sym.join(
      movableIds.withColumnRenamed("vid", "src"), Seq("src"), "left_semi"))
    val universe = movableIds
      .unionByName(gAdj.select(col("dst").as("vid"))).distinct()
    val overE = nAdjE > edgeBound(mg)
    val nGather = if (overE) 0L else universe.count()
    if (overE || nGather > mg) {
      Plans.unpersist(movableIds); Plans.unpersist(gAdj)
      return Left(s"separator region $nMovable vtxs / $nAdjE adj rows" +
        (if (overE) "" else s" ($nGather vtxs with its ring)") +
        s" > maxGather $mg")
    }
    val sideW = sideWeights(w, vwgt)
    val gathered = universe.join(w, "vid").join(vwgt, "vid")
      .select(col("vid"), col("side"), col("vwgt")).collect()
      .map(r => (r.getLong(0), r.get(1).toString.toInt, r.getLong(2)))
      .sortBy(_._1)
    val ids = gathered.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val side = gathered.map(_._2)
    val vw = gathered.map(_._3)
    // gAdj's sources are exactly the movable vertices with an edge, so
    // movable = a source or a (possibly isolated) separator member
    val canMove = side.map(_ == 2)
    // adjacency symmetric within the gathered universe: a ring vertex's
    // (partial) reverse adjacency is exactly its gathered neighbors, which
    // is all the con-update loop ever needs (SEP ⊂ gathered)
    val adjSets = Array.fill(ids.length)(
      scala.collection.mutable.Set.empty[Int])
    gAdj.collect().foreach { r =>
      val a = idx(r.getLong(0)); val b = idx(r.getLong(1))
      canMove(a) = true
      adjSets(a) += b; adjSets(b) += a
    }
    val adj = adjSets.map(_.toArray.sorted)
    Plans.unpersist(movableIds); Plans.unpersist(gAdj)
    val before = side.clone()
    sfm1s(side, vw, adj, canMove, sideW, maxSide(sideW.sum))
    if (side.sameElements(before)) return Right(w)
    val updated = spark.createDataFrame(
        ids.toIndexedSeq.zipWithIndex.collect {
          case (v, i) if side(i) != before(i) => (v, side(i)) })
      .toDF("vid", "nside")
    Right(w.join(updated, Seq("vid"), "left")
      .select(col("vid"),
        coalesce(col("nside"), col("side")).cast("int").as("side")))
  }

  /** Distributed one-sided greedy separator refinement — the Spark
    * re-expression of the reference's PARALLEL flow pass (S_flow_GREEDY,
    * reference src/vseprefine.c:482-623, dispatched per half-pass by
    * S_pass_GREEDY :1303-1371): per half-pass pick ONE target side s
    * (starting with the lighter side, alternating — :1323-1329), move
    * positive-gain separator vertices to s (gain = w(v) − Σ w(neighbors on
    * the other side); :538-543), pull their other-side neighbors into the
    * separator (:579-599), and stop after two consecutive zero-move
    * half-passes (:1360-1365).
    *
    * BSP shape (same pattern as [[Refinement]]'s bounded-admit greedy):
    * gains for ALL separator vertices in one join+aggregate, candidates
    * admitted in gain order under a cumulative-weight prefix so the target
    * side never exceeds maxpwgt (reference :556-559) — the prefix window
    * runs on a pre-truncated candidate set (top `AdmitCap` per hash
    * bucket), so the single-task window is bounded by AdmitBuckets×AdmitCap
    * rows regardless of |SEP|. Unlike the serial per-move loop,
    * simultaneous movers sharing a pulled neighbor can jointly regress, so
    * the best assignment seen is kept FM-style (pass-granular rollback).
    *
    * This is the SCALE path: it never gathers the separator to the driver,
    * so it refines separators of any size.
    */
  def refineGreedyDist(spark: SparkSession, edges: DataFrame,
                       where: DataFrame, vwgt: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var w = where.select(col("vid"), col("side").cast("int").as("side")).ckpt()
    val vw = vwgt.select(col("vid"), col("vwgt"))
    val sym = GraphOps.symmetrize(edges).select(col("src"), col("dst")).ckpt()
    var sw = sideWeights(w, vw)
    val cap = maxSide(sw.sum)
    // first half-pass targets the LIGHTER side (reference :1323-1329)
    val o = if (sw(0) > sw(1)) 1 else 0
    var bestW = w
    var bestSep = sw(2)
    var nnone = 0
    var d = 0
    while (d < GreedyPasses && nnone < 2 && sw(2) > 0) {
      val s = (d + o) % 2
      val other = 1 - s
      val sepIds = w.filter(col("side") === 2).select(col("vid"))
      // pull weight per separator vertex: Σ vwgt of neighbors on `other`
      val pull = sym
        .join(sepIds.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
        .join(w.filter(col("side") === other)
          .select(col("vid").as("dst")), Seq("dst"), "left_semi")
        .join(vw.select(col("vid").as("dst"), col("vwgt").as("dvw")), "dst")
        .groupBy(col("src").as("vid")).agg(sum(col("dvw")).as("pull"))
      val cand = sepIds.join(pull, Seq("vid"), "left")
        .na.fill(0L, Seq("pull")).join(vw, "vid")
        .withColumn("gain", col("vwgt") - col("pull"))
        // positive gain only; zero gain admitted while s is the lighter
        // side (reference :538-543)
        .filter(col("gain") > 0 ||
          (col("gain") === 0 && lit(sw(s) < sw(other))))
      val quota = cap - sw(s)
      val movers =
        if (quota <= 0) spark.range(0).select(col("id").as("vid"))
        else {
          // bounded admit (Refinement pattern): pre-truncate per hash
          // bucket so the exact cumulative prefix below is a single task
          // over ≤ AdmitBuckets×AdmitCap rows, never O(|SEP|)
          val capped = cand
            .withColumn("bkt", pmod(xxhash64(col("vid")), lit(AdmitBuckets)))
            .withColumn("r", row_number().over(Window.partitionBy(col("bkt"))
              .orderBy(col("gain").desc, col("vid"))))
            .filter(col("r") <= AdmitCap).drop("bkt", "r")
          val wCum = Window.orderBy(col("gain").desc, col("vid"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          capped.withColumn("cumw", sum(col("vwgt")).over(wCum))
            .filter(col("cumw") <= quota).select(col("vid"))
        }
      val mv = movers.ckpt()
      val nMoves = mv.count()
      if (nMoves == 0) {
        Plans.unpersist(mv)
        nnone += 1
      } else {
        // other-side neighbors of every mover enter the separator
        val pulled = sym
          .join(mv.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
          .select(col("dst").as("vid")).distinct()
          .join(w.filter(col("side") === other).select(col("vid")),
            Seq("vid"), "left_semi")
        val prev = w
        w = prev
          .join(mv.withColumn("mv", lit(true)), Seq("vid"), "left")
          .join(pulled.withColumn("pl", lit(true)), Seq("vid"), "left")
          .select(col("vid"),
            when(col("mv"), lit(s)).when(col("pl"), lit(2))
              .otherwise(col("side")).cast("int").as("side"))
          .ckpt()
        Plans.unpersist(mv)
        sw = sideWeights(w, vw)
        if (sw(2) < bestSep) {
          if (!(bestW eq prev)) Plans.unpersist(bestW)
          bestSep = sw(2)
          bestW = w
        }
        if (!(prev eq bestW)) Plans.unpersist(prev)
        nnone = 0
      }
      d += 1
    }
    if (!(w eq bestW)) Plans.unpersist(w)
    Plans.unpersist(sym)
    bestW
  }

  /** Alternating half-pass driver (S_pass_SFM1S, reference
    * src/vseprefine.c:1227-1301): up to `2*NRefPass` one-sided flow
    * half-passes, the first targeting the lighter side (side 0 on a tie —
    * :1252-1258 at level parity 0), stopping after two consecutive empty
    * half-passes. Arrays updated in place; returns total retained moves.
    */
  private[partitioner] def sfm1s(side: Array[Int], vw: Array[Long],
      adj: Array[Array[Int]], canMove: Array[Boolean], sideW: Array[Long],
      maxSide: Long): Int = {
    val o = if (sideW(0) > sideW(1)) 1 else 0
    var total = 0; var nnone = 0; var d = 0
    while (d < 2 * NRefPass && nnone < 2 && sideW(2) > 0) {
      val s = (d + o) % 2
      val nm = sfmFlow(side, vw, adj, canMove, sideW, s, maxSide, HillSize)
      if (nm == 0) nnone += 1 else { total += nm; nnone = 0 }
      d += 1
    }
    total
  }

  /** One-sided segmented-FM flow half-pass (S_flow_SFM, reference
    * src/vseprefine.c:771-1026): pop separator vertices by gain toward the
    * fixed side `s` (gain = w(v) − con_other(v)); a move pulls the
    * mover's other-side neighbors into the separator, where they re-enter
    * the queue and may flow onward to `s` (the "segmented" behaviour that
    * drains corridor-shaped separators); neighbors' gains are updated as
    * the pulled weight leaves `other` (:929-946). Stops when the target
    * side hits `maxSide` (:836-843) or `limit` consecutive moves fail to
    * improve the (separator weight, |balance|) objective (:853-868), then
    * rolls back to the best prefix in reverse move order (:1000-1026).
    * Vertices with `!canMove` (gathered without adjacency) are pulled but
    * never moved. Returns the number of RETAINED moves.
    */
  private[partitioner] def sfmFlow(side: Array[Int], vw: Array[Long],
      adj: Array[Array[Int]], canMove: Array[Boolean], sideW: Array[Long],
      s: Int, maxSide: Long, limit: Int): Int = {
    val other = 1 - s
    val n = side.length
    // con(v) = Σ w of v's gathered neighbors currently on `other`
    val con = new Array[Long](n)
    def calcCon(v: Int): Unit = {
      var c = 0L
      adj(v).foreach(u => if (side(u) == other) c += vw(u))
      con(v) = c
    }
    // lazy-deletion max-heap on (gain, -vid): stale entries are skipped on
    // pop by comparing against curGain (the vw_pq with updates, serially)
    val q = scala.collection.mutable.PriorityQueue
      .empty[(Long, Int)](Ordering.by(p => (p._1, -p._2)))
    val curGain = new Array[Long](n)
    def push(v: Int): Unit = {
      val g = vw(v) - con(v); curGain(v) = g; q.enqueue((g, v))
    }
    var i = 0
    while (i < n) {
      if (side(i) == 2 && canMove(i)) { calcCon(i); push(i) }
      i += 1
    }
    // move log for rollback: (mover, vertices it pulled into SEP)
    val moves = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Int])]
    var minMove = 0
    var curSep = sideW(2)
    var minSep = curSep
    var minBal = math.abs(sideW(0) - sideW(1))
    var stop = false
    while (!stop && q.nonEmpty) {
      val (g, v) = q.dequeue()
      // skip stale heap entries and vertices no longer movable separator
      // members
      if (side(v) == 2 && canMove(v) && g == curGain(v)) {
        if (sideW(s) >= maxSide) stop = true
        else if (sideW(s) + vw(v) <= maxSide) {
          curSep -= (vw(v) - con(v))
          val newBal =
            math.abs((sideW(s) + vw(v)) - (sideW(other) - con(v)))
          val improved =
            curSep < minSep || (curSep == minSep && newBal < minBal)
          side(v) = s
          sideW(s) += vw(v); sideW(2) -= vw(v)
          val pulled = scala.collection.mutable.ArrayBuffer.empty[Int]
          adj(v).foreach { k =>
            if (side(k) == other) {
              pulled += k
              side(k) = 2
              sideW(other) -= vw(k); sideW(2) += vw(k)
              if (canMove(k)) { calcCon(k); push(k) }
              // k left `other`: every gathered SEP neighbor's pull toward
              // `other` shrinks by w(k) — their gains improve
              adj(k).foreach { m =>
                if (side(m) == 2 && canMove(m) && m != v) {
                  con(m) -= vw(k)
                  push(m)
                }
              }
            }
          }
          moves += ((v, pulled.toArray))
          if (improved) {
            minSep = curSep; minBal = newBal; minMove = moves.length
          } else if (moves.length - minMove > limit) stop = true
        }
        // else: this vertex would overfill side s right now — drop it; a
        // later con update re-enqueues it (reference :845-847 continue)
      }
    }
    // rollback to the best prefix, newest move first (reference :1000-1026)
    var m = moves.length
    while (m > minMove) {
      m -= 1
      val (v, pulled) = moves(m)
      side(v) = 2
      sideW(s) -= vw(v); sideW(2) += vw(v)
      pulled.foreach { k =>
        side(k) = other
        sideW(2) -= vw(k); sideW(other) += vw(k)
      }
    }
    minMove
  }
}
