package graft.partitioner

import graft.plans.Metrics
import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.GraphOps

/** Bulk-synchronous greedy boundary refinement — the Spark re-expression of
  * the reference's chunked greedy k-way refinement
  * (par_kwayrefine_chunk, reference src/kwayrefine_chunk.c:471-843).
  *
  * Per pass (≤ 8, reference nrefpass=8 src/ctrl.c:39):
  *   1. J5 neighbor-partition join (S_partparams_kway src/refine.c:39-211):
  *      per (vertex, neighbor part) summed edge weight → internal degree
  *      `id`, external degrees `ed(p)`;
  *   2. boundary predicate `ed ≥ id` (reference is_bnd, src/base.h:512-522);
  *   3. candidate move per boundary vertex: max-gain target part
  *      (gain = ed(p) − id > 0);
  *   4. anti-oscillation: the reference's two-phase S_right_side rule
  *      (kwayrefine.c:142-167 — phase 0 moves only to higher pids, phase 1
  *      only lower) applied verbatim to suppress A↔B swap thrash;
  *   5. balance feasibility under BOTH bounds for EVERY constraint
  *      (maxwgt/minwgt = tpwgts·tvwgt·ub^±1, reference
  *      kwayrefine.c:1056-1059; multi-constraint check
  *      IsHBalanceBetterTT kwayrefine_chunk.c:405-438): candidates are
  *      admitted in gain order under two cumulative-weight windows — the
  *      target part's inflow may not exceed its max headroom, and the
  *      source part's outflow may not drain it below the floor. Both
  *      prefixes are conservative (a candidate rejected by one window
  *      still counts in the other's prefix), so admitted move sets are
  *      always jointly feasible;
  *   6. pwgts re-synced from scratch per pass (S_par_sync_pwgts,
  *      kwayrefine.c:774-807) — consistent by construction in BSP;
  *   7. keep the best assignment seen (mincut tracking, kwayrefine.c:1186)
  *      and return it with the cut and part weights its pass measured.
  *
  * Hill-scanning (R2) is not run here: it runs once per V-cycle, on the
  * gathered coarsest graph ([[InitialPartition.hillSweepK]] inside
  * [[SerialMultilevel.partition]]).
  *
  * Vertex weights are multi-constraint: `vertices(vid, vwgts array<bigint>)`
  * with `ncon` entries each (reference vwgt layout src/graph.h:44,55);
  * `targets` = per-part weight fractions (reference tpwgts), uniform by
  * default.
  */
object Refinement {

  /** A refined level: its assignment (a checkpoint), the edge cut of that
    * assignment over the level's edges and its constraint-0 part weights
    * (`pwgts(p)`, k exact longs). The V-cycle reports the finest level's
    * cut and imbalance from these, with no rescan of the graph.
    */
  case class Refined(assign: DataFrame, cut: Long, pwgts: Array[Long])

  // reference nrefpass (src/ctrl.c:39) and the relative improvement a pass
  // must beat for another pass to run
  private val Passes = 8
  private val MinImpFrac = 5e-4

  /** Multi-constraint entry point: vertices(vid, vwgts array<bigint>).
    *
    * Scale shape (the two levers that took the finest level of the 130M-edge
    * V-cycle from ~870 s to a handful of edge scans):
    *   - `sym` is persisted REPARTITIONED BY src, so every per-vertex
    *     groupBy in the pass pipeline partial-aggregates V-sized output with
    *     ZERO additional exchange (HashPartitioning(src) already satisfies
    *     any grouping that starts with src/vid);
    *   - all V-sized state (assign, vwgts, admitted moves) joins the E-sized
    *     scans via [[GraphOps.dimSide]] broadcast when |V| is under the
    *     threshold — each BSP phase is then ONE map-only scan of the cached
    *     adjacency instead of a full-edge shuffle join. Above the threshold
    *     the same plan degrades gracefully to shuffle joins.
    */
  def refineMC(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
               assign0: DataFrame, k: Int, ubFactor: Double = 1.03,
               ncon: Int = 1, targets: Array[Double] = null,
               nVerts: Long = -1L): Refined = {
    val tgt = if (targets != null) targets else Array.fill(k)(1.0 / k)
    require(tgt.length == k, s"targets length ${tgt.length} != k=$k")
    val vw = vertices.select(col("vid"), col("vwgts")).persist()
    val nV = if (nVerts >= 0) nVerts else vw.count()
    if (nV == 0) {
      vw.unpersist()
      return Refined(assign0, 0L, new Array[Long](k))
    }
    val sym = GraphOps.symmetrize(edges).repartition(col("src")).persist()
    def dim(df: DataFrame): DataFrame = GraphOps.dimSide(df, nV)
    def wc(c: Int) = element_at(col("vwgts"), c + 1)
    val tvCols = (0 until ncon).map(c => sum(wc(c)).as(s"t$c"))
    val tvRow = vw.agg(tvCols.head, tvCols.tail: _*).head()
    val tv = (0 until ncon).map(c => tvRow.getLong(c)).toArray
    // per-(part, constraint) bounds: maxwgt/minwgt = tpwgts·tvwgt·ub^±1 —
    // k·ncon driver-side longs, inlined as literals into the admit
    // predicate (joins here would bloat the per-phase plan that Catalyst
    // re-optimizes on every action). maxW is floored, so every admitted
    // move set passes the pass-acceptance test below (a ceiling admits a
    // part one unit over ub, and the pass that fills it is thrown away)
    val maxW = Array.tabulate(k, ncon)((p, c) =>
      math.floor(tgt(p) * tv(c) * ubFactor).toLong)
    val minW = Array.tabulate(k, ncon)((p, c) =>
      math.floor(tgt(p) * tv(c) / ubFactor).toLong)
    // literal lookup column: keyCol == p -> values(p)(c)
    def byPart(keyCol: org.apache.spark.sql.Column,
               values: Int => Long): org.apache.spark.sql.Column =
      (0 until k).foldLeft(lit(Long.MinValue)) { (e, p) =>
        when(keyCol === p, lit(values(p))).otherwise(e)
      }
    // ONE action per pass for both outputs (edge-cut and imbalance under
    // targets): the aggregates ride a tagged union — per-pass driver job
    // count is the BSP loop's fixed cost, so metrics are batched
    def cutAndImbalance(a: DataFrame): (Long, Array[Long], Double) = {
      val cutDf = edges
        .join(dim(a.select(col("vid").as("src"), col("part").as("sp"))), "src")
        .join(dim(a.select(col("vid").as("dst"), col("part").as("dp"))), "dst")
        .filter(col("sp") =!= col("dp"))
        .agg(coalesce(sum(col("wgt")), lit(0L)).as("v"))
        .select(lit(-1L).as("k"), col("v"))
      val pwDf = a.join(dim(vw), "vid").groupBy(col("part"))
        .agg(sum(wc(0)).as("v"))
        .select(col("part").cast("long").as("k"), col("v"))
      val rows = cutDf.unionByName(pwDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val cut = rows.collectFirst { case (-1L, v) => v }.getOrElse(0L)
      val pws = rows.filter(_._1 >= 0)
      val pw = new Array[Long](k)
      pws.foreach { case (p, v) => pw(p.toInt) = v }
      val imb = if (pws.isEmpty) 1.0
        else pws.map { case (p, v) => v.toDouble / (tgt(p.toInt) * tv(0)) }.max
      (cut, pw, imb)
    }

    var best = assign0.select(col("vid"), col("part")).ckpt()
    // a level can arrive over ub: the serial levels above it admit up to
    // ceil(tgt·tv·ub). The floored admit never adds to a part at or over
    // maxW, so a pass stays within max(ub, the arriving imbalance)
    val (cut0, pw0, imb0) = cutAndImbalance(best)
    val imbCap = math.max(ubFactor, imb0) + 1e-9
    var bestCut = cut0
    var bestPw = pw0

    // one greedy pass = the reference's two S_right_side phases.
    // Phase-0's checkpoint is folded into phase-1's and released — leaked
    // per-pass checkpoints pin O(passes·levels·|V|) rows otherwise.
    def onePass(a0: DataFrame): DataFrame = {
      var cur = a0
      for (phase <- 0 to 1) {
        val a = cur
        // 1. neighbor-partition aggregation (J5) — broadcast the V-sized
        // assignment; sym is partitioned by src, so the groupBy needs no
        // exchange and the per-task partial-agg map stays |V|/P-sized
        val nbr = sym
          .join(dim(a.select(col("vid").as("dst"), col("part").as("dpart"))),
            "dst")
          .groupBy(col("src").as("vid"), col("dpart"))
          .agg(sum(col("wgt")).as("conn"))
        val withHome = nbr.join(dim(a), "vid")
        // 3+4. best eligible move per vertex under the phase direction
        // rule, in ONE conditional aggregation (internal degree and best
        // external target fold into the same groupBy — no id/ext
        // self-join; gain ordering is unchanged since id is constant per
        // vertex)
        val dirOk =
          if (phase == 0) col("dpart") > col("part") else col("dpart") < col("part")
        val cand = withHome
          .groupBy(col("vid"), col("part"))
          .agg(
            max(when(col("dpart") === col("part"), col("conn"))).as("idw"),
            max(when(col("dpart") =!= col("part") && dirOk,
              struct(col("conn"), (-col("dpart")).as("np")))).as("b"))
          .filter(col("b").isNotNull)
          .withColumn("gain",
            col("b.conn") - coalesce(col("idw"), lit(0L)))
          .filter(col("gain") > 0)
          .select(col("vid"), col("part").as("from"), (-col("b.np")).as("to"),
            col("gain"))
          .join(dim(vw), "vid")
        // 5. admit by gain order within the target part's max headroom AND
        //    the source part's min floor, per constraint. Phase-start pwgts
        //    are k·ncon longs — gathered to the driver (one tiny job) and
        //    inlined, keeping the admit plan join-free on the bounds side
        val pwCols = (0 until ncon).map(c => sum(wc(c)).as(s"pw$c"))
        val pwRows = a.join(dim(vw), "vid").groupBy(col("part"))
          .agg(pwCols.head, pwCols.tail: _*).collect()
        val pw = Array.ofDim[Long](k, ncon)
        pwRows.foreach { r =>
          val p = r.get(0).toString.toInt
          (0 until ncon).foreach(c => pw(p)(c) = r.getLong(c + 1))
        }
        // pre-truncate to the top-`admitCap` gains per (part, hash bucket):
        // the exact per-part prefix windows below are single-task per part —
        // fine once bounded, a straggler if the boundary is O(V). Dropping
        // low-gain candidates only SHRINKS the admitted set (the feasibility
        // prefixes shrink with it), so admitted move sets stay jointly
        // feasible; dropped candidates get later passes.
        val admitBuckets = 32
        val admitCap = 1024
        val bkt = pmod(xxhash64(col("vid")), lit(admitBuckets))
        val wPreTo = Window.partitionBy(col("to"), col("bkt"))
          .orderBy(col("gain").desc, col("vid"))
        val wPreFrom = Window.partitionBy(col("from"), col("bkt"))
          .orderBy(col("gain").desc, col("vid"))
        val capped = cand.withColumn("bkt", bkt)
          .withColumn("rTo", row_number().over(wPreTo))
          .withColumn("rFrom", row_number().over(wPreFrom))
          .filter(col("rTo") <= admitCap && col("rFrom") <= admitCap)
          .drop("bkt", "rTo", "rFrom")
        val wTo = Window.partitionBy(col("to"))
          .orderBy(col("gain").desc, col("vid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wFrom = Window.partitionBy(col("from"))
          .orderBy(col("gain").desc, col("vid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val okCond = (0 until ncon).map { c =>
          (sum(wc(c)).over(wTo) <=
            byPart(col("to"), p => maxW(p)(c) - pw(p)(c))) &&
          (sum(wc(c)).over(wFrom) <=
            byPart(col("from"), p => pw(p)(c) - minW(p)(c)))
        }.reduce(_ && _)
        val admitted = capped
          .withColumn("ok", okCond)
          .filter(col("ok"))
          .select(col("vid"), col("to"))
        // Plans.checkpoint (not raw localCheckpoint): the metrics union
        // below sits directly above this LogicalRDD — the Spark 4.1
        // stale-constraint crash shape
        val next = graft.plans.Plans.checkpoint(
          a.join(dim(admitted), Seq("vid"), "left")
            .select(col("vid"), coalesce(col("to"), col("part")).as("part")))
        if (a ne a0) graft.plans.Plans.unpersist(a) // phase-0 intermediate
        cur = next
      }
      cur
    }

    var cur = best
    var pass = 0
    var improved = true
    while (pass < Passes && improved) {
      val tPass = System.nanoTime()
      val in = cur
      cur = onePass(in)
      if (in ne best) graft.plans.Plans.unpersist(in)
      val (cut, pw, imb) = cutAndImbalance(cur)
      val better = cut < bestCut && imb <= imbCap
      // convergence stop: keep ANY improvement, but only spend another
      // full-edge-scan pass when this one beat the relative floor
      // (measured: passes 2–6 at the finest level bought 0.06% of cut for
      // ~20 s; the reference's serial pass costs ~nothing, ours is 3 edge
      // scans)
      improved = better && cut + (bestCut * MinImpFrac).toLong < bestCut
      if (better) {
        val oldBest = best
        bestCut = cut; bestPw = pw; best = cur
        if (oldBest ne cur) graft.plans.Plans.unpersist(oldBest)
      }
      Metrics.log("refine_pass", "pass" -> pass, "nvtxs" -> nV, "cut" -> cut,
        "imbalance" -> imb, "wall_s" -> Metrics.secondsSince(tPass))
      pass += 1
    }
    if (cur ne best) graft.plans.Plans.unpersist(cur)
    sym.unpersist(); vw.unpersist()
    Refined(best, bestCut, bestPw)
  }
}
