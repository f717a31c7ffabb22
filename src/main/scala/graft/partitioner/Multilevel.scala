package graft.partitioner

import graft.plans.Metrics
import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** The multilevel k-way partitioner V-cycle re-expressed as iterative
  * DataFrame joins (north rule item 3; reference S_par_partition_mlevel,
  * src/partition.c:197-310):
  *
  *   islands:  degree-0 vertices split off before coarsening (F4,
  *             par_graph_removeislands src/graph.c:3104-3269) and restored
  *             afterwards into underweight parts
  *             (par_graph_restoreislands src/graph.c:3271-3382);
  *   coarsen:  [matching (M1 SHEM→handshake joins; RM fallback when SHEM
  *             leaves ≥ ⅓ self-matched — P4, src/aggregate.c:2049-2087) →
  *             contraction (A1 groupBy)] until nvtxs ≤ coarsenTo or shrink
  *             ratio > stopRatio (P6, partition.c:216-223, ctrl.c:57,260);
  *   init:     collect coarsest to the driver, best-of-8 greedy growing,
  *             then hill-scanning (R2) and greedy refinement, all in
  *             [[SerialMultilevel.partition]] (P10, initpart.c:30-77);
  *   uncoarsen: per level, projection join through cmap (J4,
  *             S_project_kway src/project.c:35-230) then bulk-synchronous
  *             greedy boundary refinement (R1) under per-constraint
  *             max/min bounds;
  *   nruns:    the init+uncoarsen phase repeats `nRuns` times with distinct
  *             seeds, keeping the min-cut feasible result (P11,
  *             src/partition.c:501-596; coarsening is deterministic here so
  *             it is shared across runs rather than recomputed).
  *
  * Vertex weights are multi-constraint (`ncon` weights per vertex,
  * reference src/graph.h:44); `targets` carries per-part fractions
  * (reference tpwgts) so recursive bisection can ask for uneven halves.
  * Level state lives in local checkpoints for one call only: unlike the
  * reference's out-of-core level dumps (src/asyncio.c), nothing is written
  * durably and an interrupted V-cycle starts again from the finest level.
  * A level's V-sized state (cmap, weights, assignment) is broadcast against
  * its E-sized scans whenever its vertex count is
  * [[GraphOps.broadcastable]]; under the same rule the matching's
  * handshake state stays in the driver for the whole call
  * ([[Matching.cmapRounds]]), so a handshake round is one Spark job.
  */
object Multilevel {

  case class Level(edges: DataFrame, vertices: DataFrame, cmap: DataFrame,
                   nvtxs: Long)

  case class PartitionResult(assign: DataFrame, cut: Long, imbalance: Double,
                             levels: Int)

  // edge bounds of the serial dispatches below (whole graph; tail): no
  // caller sets them, serialGraphVertices = 0 turns both dispatches off
  private val SerialGraphEdges = 2000000L
  private val SerialTailEdges = 8000000L

  /** Scalar-weight entry point (vertices(vid, vwgt)). */
  def partition(spark: SparkSession, edges0: DataFrame, vertices0: DataFrame,
                k: Int, ubFactor: Double = 1.03, coarsenTo0: Int = 0,
                stopRatio: Double = 0.85, seed: Long = 42L,
                nRuns: Int = 1): PartitionResult =
    partitionMC(spark, edges0,
      vertices0.select(col("vid"), array(col("vwgt")).as("vwgts")),
      k, ncon = 1, ubFactor = ubFactor, coarsenTo0 = coarsenTo0,
      stopRatio = stopRatio, seed = seed, nRuns = nRuns)

  /** Multi-constraint entry point (vertices(vid, vwgts array<bigint>)).
    *
    * `serialRefineThreshold`: levels at or below this many vertices refine
    * SERIALLY on the gathered level (the reference's own dispatch rule —
    * serial FM whenever the graph is small enough,
    * src/eseprefine.c:1060-1097 `nedges < 32768·√nthreads`); larger levels
    * run the distributed BSP refinement. Only the coarse tail of the
    * V-cycle is ever below the threshold at scale — the finest (expensive)
    * levels stay distributed.
    */
  def partitionMC(spark: SparkSession, edges0: DataFrame, vertices0: DataFrame,
                  k: Int, ncon: Int, ubFactor: Double = 1.03,
                  coarsenTo0: Int = 0, stopRatio: Double = 0.85,
                  seed: Long = 42L, nRuns: Int = 1,
                  targets: Array[Double] = null,
                  serialRefineThreshold: Long = 4096L,
                  serialGraphVertices: Long = 50000L,
                  serialTailVertices: Long = 200000L): PartitionResult = {
    val tgt = if (targets != null) targets else Array.fill(k)(1.0 / k)
    val coarsenTo = if (coarsenTo0 > 0) coarsenTo0 else math.max(30 * k, 200)
    val tInputs = System.nanoTime()
    // materialize both inputs ONCE (stats-free checkpoint), so the dispatch
    // counts, the island split, and (on the serial path) the collects never
    // re-derive the upstream plan. Spill-level: these live for the whole
    // V-cycle as the finest level's state — serialized storage keeps the
    // level stack 3-4x smaller so the active level's sort-merge joins keep
    // their execution memory (at 130M edges the deserialized stack starves
    // the unified pool and matching dies with UNABLE_TO_ACQUIRE_MEMORY)
    // (the counted checkpoints hand back the row counts their
    // materialization took — no separate count jobs)
    val (allVerts, nAll) = vertices0.select(col("vid"), col("vwgts"))
      .ckptSpillCounted()
    val (allEdges, eAll) = edges0.select(col("src"), col("dst"), col("wgt"))
      .ckptSpillCounted()
    if (nAll == 0)
      return PartitionResult(
        spark.createDataFrame(Seq.empty[(Long, Int)]).toDF("vid", "part"),
        0L, 1.0, 0)
    // serial whole-graph dispatch (the reference runs serial METIS whenever
    // the graph is small, src/imetis.c:147-223): a distributed V-cycle on a
    // gatherable graph is pure scheduling overhead — collect once, solve in
    // the driver, parallelize only the result
    if (nAll <= serialGraphVertices && eAll <= SerialGraphEdges)
      return partitionSerialWhole(spark, allEdges, allVerts, k, ncon, ubFactor,
        coarsenTo, stopRatio, seed, nRuns, tgt)
    // F4: degree-0 islands skip the V-cycle entirely. One vertex checkpoint
    // carries a `touched` flag (the island split's one materialization):
    // the connected vertices and the islands are narrow filters over it,
    // and one aggregate counts the connected vertices with the weight
    // totals, so the island count costs no job of its own
    def wc(c: Int) = element_at(col("vwgts"), c + 1)
    val flagged = allVerts
      .join(GraphOps.edgeVertices(allEdges).withColumn("touched", lit(true)),
        Seq("vid"), "left")
      .select(col("vid"), col("vwgts"),
        coalesce(col("touched"), lit(false)).as("touched"))
      .ckptSpill()
    graft.plans.Plans.unpersist(allVerts)
    val inCols = count_if(col("touched")).as("n") +:
      (0 until ncon).map(c => sum(wc(c)).as(s"t$c"))
    val inRow = flagged.agg(inCols.head, inCols.tail: _*).head()
    var nvtxs = inRow.getLong(0)
    val tv = (0 until ncon).map(c => inRow.getLong(c + 1)).toArray
    var vertices = flagged.filter(col("touched"))
      .select(col("vid"), col("vwgts"))
    val islands = flagged.filter(!col("touched"))
      .select(col("vid"), col("vwgts"))
    val nIsl = nAll - nvtxs
    // the islands' driver copy, (vid, weight) in vid order, whenever they
    // are few enough to pass through the driver
    val isl =
      if (nIsl == 0 || !GraphOps.broadcastable(nIsl)) Array.empty[(Long, Long)]
      else islands.select(col("vid"), wc(0)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var edges = allEdges
    var nedges = eAll
    // serial-tail dispatch bound (reference: serial FM/METIS below a size
    // threshold, src/eseprefine.c:1060-1097, src/imetis.c:147-223): once a
    // level is gatherable, EVERY remaining distributed level is pure
    // scheduling overhead — measured at 26.5M edges, the sub-tail levels
    // cost ~136 s of the 487 s V-cycle for work a driver-side solve does in
    // seconds. Tail bounds are wider than the whole-graph dispatch bounds
    // (the collect is a one-off, not the whole job); serialGraphVertices=0
    // (the force-distributed override) disables the tail too.
    val tailV = if (serialGraphVertices <= 0) 0L else serialTailVertices
    // P7 matching weight cap per constraint: 1.5 * (tvwgt / coarsenTo + 2)
    // (reference src/coarsen.c:78-88)
    val caps = tv.map(t => (1.5 * (t.toDouble / coarsenTo + 2)).toLong)
    Metrics.log("vcycle_inputs", "nvtxs" -> nvtxs, "nedges" -> eAll,
      "islands" -> nIsl, "wall_s" -> Metrics.secondsSince(tInputs))

    var levels = List.empty[Level] // finest first
    var shrinking = true
    var levelSeed = seed
    while (nvtxs > coarsenTo && shrinking &&
           !(nvtxs <= tailV && nedges <= SerialTailEdges)) {
      val tLevel = System.nanoTime()
      var schemes = "shem"
      // level-shared adjacency state: the symmetrized edge table
      // (partitioned by src) and the degree table are reused by every
      // matching scheme the M5 dispatch tries at this level — without
      // sharing, a stalled level re-shuffles and re-persists the E-sized
      // adjacency up to four times (SHEM, RM, 2-hop, FC)
      val symL = GraphOps.symmetrize(edges).repartition(col("src")).persist()
      val degL = symL.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("deg"), sum(col("wgt")).as("wdeg")).persist()
      // matching keeps this level's vertex state in the driver whenever
      // nvtxs is broadcastable (Matching.cmapRounds); the returned pair
      // counts feed the P4 checks below without a count job
      val (shem, shemRounds, paired) = Matching.cmapRounds(edges, vertices,
        caps, nVerts = nvtxs, symIn = symL, degIn = degL)
      var cmap = shem
      // P4: SHEM ineffective (self-matched ratio >= 1/3) -> rerun with RM
      if (Matching.stalled(nvtxs - 2 * paired, nvtxs)) {
        val (rm, _, rmPaired) = Matching.cmapRounds(edges, vertices, caps,
          scheme = Matching.RM, seed = levelSeed, nVerts = nvtxs,
          symIn = symL, degIn = degL)
        // release the losing cmap now, not whenever a GC clears it
        if (rmPaired > paired) {
          graft.plans.Plans.unpersist(cmap); cmap = rm
        } else graft.plans.Plans.unpersist(rm)
        schemes += "+rm"
        // still stalled after RM -> 2-hop augmentation (leaf/twin pairs,
        // the star/hub shape neither edge-matching scheme can coarsen)
        val best = math.max(paired, rmPaired)
        if (Matching.stalled(nvtxs - 2 * best, nvtxs)) {
          val pre2hop = cmap
          cmap = Matching.augment2Hop(edges, vertices, cmap, caps(0),
            symIn = symL, degIn = degL)
          graft.plans.Plans.unpersist(pre2hop)
          schemes += "+2hop"
          // M3 fall-through (mirror of the reference's scheme selection,
          // src/aggregate.c:2018-2135): if even leaf/twin pairing leaves
          // >= 1/3 of the level self-matched — e.g. hub-and-spoke shapes
          // whose spokes are neither leaves nor twins — many-to-one FC
          // clustering coarsens what 1-to-1 matching cannot
          val selfAfter = cmap.groupBy(col("coarse"))
            .agg(count(lit(1)).as("n")).filter(col("n") === 1).count()
          if (Matching.stalled(selfAfter, nvtxs)) {
            Metrics.event("m3_clustering_dispatch",
              s"level ${levels.size}: $selfAfter/$nvtxs self-matched after " +
                "SHEM+RM+2hop — falling through to FC clustering")
            val preFc = cmap
            cmap = Clustering.cmap(edges,
              vertices.select(col("vid"),
                element_at(col("vwgts"), 1).as("vwgt")),
              caps(0), seed = levelSeed, symIn = symL,
              earlyStopSingles = nvtxs / 8)
            graft.plans.Plans.unpersist(preFc)
            schemes += "+fc"
          }
        }
      }
      levelSeed += 1
      // symL/degL persist lazily, so their first build (the symmetrize
      // shuffle and the degree aggregate) runs inside the first matching
      // call: match_s includes it
      val matchSec = Metrics.secondsSince(tLevel)
      val tContract = System.nanoTime()
      val (ce, cv) = Contraction.contractMC(edges, vertices, cmap, ncon,
        nVerts = nvtxs)
      val (cEdges, cne) = ce.ckptSpillCounted()
      val (cVerts, cn) = cv.ckptSpillCounted()
      symL.unpersist(); degL.unpersist() // level-shared state is dead
      Metrics.log("coarsen_level", "level" -> levels.size, "nvtxs" -> nvtxs,
        "nedges" -> nedges, "schemes" -> schemes, "shem_rounds" -> shemRounds,
        "match_s" -> matchSec, "contract_s" -> Metrics.secondsSince(tContract),
        "coarse_nvtxs" -> cn, "coarse_nedges" -> cne)
      shrinking = cn.toDouble / nvtxs <= stopRatio
      if (cn < nvtxs) {
        levels = Level(edges, vertices, cmap, nvtxs) :: levels
        edges = cEdges; vertices = cVerts; nvtxs = cn; nedges = cne
      } else {
        shrinking = false
        graft.plans.Plans.unpersist(cEdges)
        graft.plans.Plans.unpersist(cVerts)
        graft.plans.Plans.unpersist(cmap)
      }
    }

    // the coarsest graph is solved in the driver by the serial V-cycle:
    // below coarsenTo that is best-of-8 growing + hills + greedy (P10); a
    // level the coarsen loop left above coarsenTo (the serial-tail bounds)
    // first coarsens further — greedy growing alone on a 200k-vertex graph
    // is NOT an initial partitioner
    val tGather = System.nanoTime()
    val (eArr, vArr) = gather(edges, vertices)
    val g = InitialPartition.fromEdgesMC(eArr, vArr, ncon)
    var serialSec = Metrics.secondsSince(tGather)
    var cutSec = 0.0
    var tailLevels = 0

    // P11 best-of-nruns over the init+uncoarsen phase (coarsening is
    // deterministic and shared)
    var best: Refinement.Refined = null
    for (run <- 0 until nRuns) {
      // best-of-4 serial solves: the serial V-cycle costs seconds where the
      // distributed levels it replaces cost minutes — spend some of that
      // budget buying back init variance
      val tSolve = System.nanoTime()
      val (where0, nl) = SerialMultilevel.partition(g, k, ubFactor, coarsenTo,
        stopRatio, seed + 7919L * run, 4, tgt)
      tailLevels = nl
      var assign = assignOf(spark, g.vids, where0)
      serialSec += Metrics.secondsSince(tSolve)

      // uncoarsen: project + refine per level, finest last. The coarsest
      // level needs no distributed refine — InitialPartition.refineGreedy
      // already refined it serially on the gathered graph (P10)
      var refined: Refinement.Refined = null
      var levelIdx = levels.size
      for (lvl <- levels) {
        levelIdx -= 1
        val tLvl = System.nanoTime()
        // J4 projection join: fine inherits coarse part through cmap
        val projected = lvl.cmap
          .join(GraphOps.dimSide(assign.withColumnRenamed("vid", "coarse"),
            lvl.nvtxs), "coarse")
          .select(col("vid"), col("part"))
          .ckpt()
        // the coarser level's assignment is folded into `projected` — dead
        // now (it is never the best: that is only ever a FINEST-level
        // assignment from a previous run)
        graft.plans.Plans.unpersist(assign)
        val serial = lvl.nvtxs <= serialRefineThreshold
        refined =
          if (serial) serialRefine(spark, lvl, projected, k, ncon, ubFactor, tgt)
          else Refinement.refineMC(spark, lvl.edges, lvl.vertices,
            projected, k, ubFactor, ncon = ncon, targets = tgt,
            nVerts = lvl.nvtxs)
        assign = refined.assign
        // refine returned its own checkpoint; the projection is dead
        graft.plans.Plans.unpersist(projected)
        Metrics.log("uncoarsen_level", "run" -> run, "level" -> levelIdx,
          "nvtxs" -> lvl.nvtxs, "serial_refine" -> serial,
          "wall_s" -> Metrics.secondsSince(tLvl))
      }
      // the finest level's cut and constraint-0 part weights: its refine
      // measured them; with no distributed level, they are summed over the
      // gathered graph
      val tCut = System.nanoTime()
      if (refined == null) refined = Refinement.Refined(assign,
        InitialPartition.cutOf(g, where0), partWeights(g, where0, k))
      cutSec += Metrics.secondsSince(tCut)
      if (best == null || refined.cut < best.cut) {
        if (best != null) graft.plans.Plans.unpersist(best.assign)
        best = refined
      } else graft.plans.Plans.unpersist(assign)
    }

    // F4 restore: islands fill the parts' remaining weight headroom
    // (reference round-robins them into underweight parts,
    // src/graph.c:3271-3382) — deterministic deficit-proportional fill over
    // the vid-ordered island sequence. Islands have no edges, so the finest
    // level's cut is already the final cut; `pw` gains the islands' weights
    val tIslands = System.nanoTime()
    val pw = best.pwgts.clone()
    val fullAssign =
      if (nIsl == 0) best.assign
      else if (isl.nonEmpty) {
        val islWhere = placeIslands(pw, isl, tgt, tv(0))
        val full = graft.plans.Plans.checkpoint(best.assign
          .select(col("vid"), col("part").cast("int").as("part"))
          .unionByName(spark.createDataFrame(
            isl.indices.map(i => (isl(i)._1, islWhere(i)))).toDF("vid", "part")))
        graft.plans.Plans.unpersist(best.assign)
        full
      } else restoreIslands(spark, best.assign, islands, pw, tgt, tv(0))
    val islandsSec = Metrics.secondsSince(tIslands)
    val tImb = System.nanoTime()
    val imb = imbalanceOf(pw, tgt, tv(0))
    Metrics.log("vcycle_result", "runs" -> nRuns, "cut" -> best.cut,
      "imbalance" -> imb, "islands" -> nIsl, "serial_s" -> serialSec,
      "cut_s" -> cutSec, "islands_s" -> islandsSec,
      "imbalance_s" -> Metrics.secondsSince(tImb))
    PartitionResult(fullAssign, best.cut, imb, levels.size + tailLevels)
  }

  /** Whole-graph serial dispatch: gather the (small) graph, run the entire
    * V-cycle in the driver ([[SerialMultilevel]]), fill islands
    * deficit-proportionally, compute metrics serially — ZERO Spark jobs
    * beyond the two collects and the final parallelize (the reference's
    * serial-METIS small-graph rule, src/imetis.c:147-223).
    */
  private def partitionSerialWhole(spark: SparkSession, edges0: DataFrame,
                                   vertices0: DataFrame, k: Int, ncon: Int,
                                   ubFactor: Double, coarsenTo: Int,
                                   stopRatio: Double, seed: Long, nRuns: Int,
                                   tgt: Array[Double]): PartitionResult = {
    val (eArr, vArr) = gather(edges0, vertices0)
    val tv0 = vArr.iterator.map(_._2(0)).sum
    // F4: split degree-0 islands off the V-cycle
    val touched = new scala.collection.mutable.HashSet[Long]
    eArr.foreach { case (s, d, _) => touched += s; touched += d }
    val (conn, isl) = vArr.partition(v => touched(v._1))
    val g = InitialPartition.fromEdgesMC(eArr, conn, ncon)
    val (whereConn, nLevels) =
      if (conn.isEmpty) (Array.empty[Int], 0)
      else SerialMultilevel.partition(g, k, ubFactor, coarsenTo, stopRatio,
        seed, nRuns, tgt)
    // serial metrics (A4 cut; A7 imbalance vs targets) and the F4 restore
    val pwgt = partWeights(g, whereConn, k)
    val islWhere = placeIslands(pwgt, isl.map(v => (v._1, v._2(0))), tgt, tv0)
    val rows = (g.vids.zip(whereConn) ++ isl.map(_._1).zip(islWhere))
      .sortBy(_._1).toIndexedSeq
    val assign = graft.plans.Plans.checkpoint(
      spark.createDataFrame(rows).toDF("vid", "part")
        .select(col("vid"), col("part").cast("int").as("part")))
    PartitionResult(assign, InitialPartition.cutOf(g, whereConn),
      imbalanceOf(pwgt, tgt, tv0), nLevels)
  }

  /** Serial refinement of one gathered sub-threshold level (the
    * small-graph dispatch — reference src/eseprefine.c:1060-1097): collect
    * the level, run the greedy sweep in the driver, re-parallelize, and
    * sum the cut and part weights over the gathered level (no job).
    * Deterministic: vids sorted, sequential sweep.
    */
  private def serialRefine(spark: SparkSession, lvl: Level,
                           projected: DataFrame, k: Int, ncon: Int,
                           ubFactor: Double,
                           tgt: Array[Double]): Refinement.Refined = {
    val (eArr, vArr) = gather(lvl.edges, lvl.vertices)
    val g = InitialPartition.fromEdgesMC(eArr, vArr, ncon)
    val whereMap = projected.collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    val where = g.vids.map(whereMap)
    val refined = InitialPartition.refineGreedy(g, k, where, ubFactor,
      targets = tgt)
    Refinement.Refined(assignOf(spark, g.vids, refined),
      InitialPartition.cutOf(g, refined), partWeights(g, refined, k))
  }

  /** A driver-side assignment as a (vid, part) checkpoint. */
  private def assignOf(spark: SparkSession, vids: Array[Long],
                       where: Array[Int]): DataFrame =
    spark.createDataFrame(vids.zip(where).toSeq).toDF("vid", "part").ckpt()

  /** Constraint-0 weight of each of the k parts of a gathered level. */
  private def partWeights(g: InitialPartition.LocalGraph, where: Array[Int],
                          k: Int): Array[Long] = {
    val pw = new Array[Long](k)
    var v = 0
    while (v < g.nvtxs) { pw(where(v)) += g.w(v, 0); v += 1 }
    pw
  }

  /** One level in the driver: edges sorted by (src, dst), vertices by vid.
    * collect() row order is shuffle-fetch-order dependent and the serial
    * solvers visit neighbors in adjacency insertion order, so unsorted
    * input would make their results run-dependent.
    */
  private def gather(edges: DataFrame, vertices: DataFrame)
      : (Array[(Long, Long, Long)], Array[(Long, Array[Long])]) = {
    val eArr = edges.select(col("src"), col("dst"), col("wgt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val vArr = vertices.select(col("vid"), col("vwgts")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    (eArr, vArr)
  }

  /** max_p pwgt(p) / (targets(p)·tvwgt) — imbalance under target fractions
    * (reference graph_imbalance, src/graph.c:1975-2000, generalized to
    * tpwgts) over the driver's constraint-0 part weights; 1.0 for a
    * weightless graph.
    */
  private def imbalanceOf(pw: Array[Long], tgt: Array[Double],
                          tv0: Long): Double =
    if (tv0 == 0) 1.0
    else pw.indices.map(p => pw(p).toDouble / (tgt(p) * tv0)).max

  /** The island-placement rule shared by both F4 restores: cumulative
    * island-weight bounds that cut the vid-ordered islands into k
    * contiguous runs, run p sized by part p's primary-weight deficit vs its
    * target (by the targets themselves when no part is short).
    */
  private def islandBounds(pw: Array[Long], tgt: Array[Double], tv0: Long,
                           totalIsland: Long): Array[Long] = {
    val deficits = pw.indices.map(p => math.max(0.0, tgt(p) * tv0 - pw(p)))
    val defSum = deficits.sum
    val shares =
      if (defSum > 0) deficits.map(_ / defSum) else tgt.toIndexedSeq
    shares.scanLeft(0.0)(_ + _).tail
      .map(f => math.ceil(f * totalIsland).toLong).toArray
  }

  /** F4 restore in the driver: the islands `isl` ((vid, weight), vid
    * order) are cut into k contiguous runs by [[islandBounds]] over the
    * core part weights `pw`. Returns each island's part and adds the
    * islands' weights into `pw`.
    */
  private[partitioner] def placeIslands(pw: Array[Long],
                                        isl: Array[(Long, Long)],
                                        tgt: Array[Double],
                                        tv0: Long): Array[Int] = {
    val cumBounds = islandBounds(pw, tgt, tv0, isl.iterator.map(_._2).sum)
    var cum = 0L
    isl.map { case (_, w) =>
      cum += w
      var p = 0
      while (p < pw.length - 1 && cum > cumBounds(p)) p += 1
      pw(p) += w
      p
    }
  }

  /** [[placeIslands]] for more islands than pass through the driver
    * ([[GraphOps.broadcastable]]): the same rule over the bucketed
    * cumulative weight ([[GraphOps.cumDegByVid]]). `islands(vid, vwgts)`;
    * adds the islands' weights into `pw` and returns the core assignment
    * with the islands as one checkpoint (`coreAssign` itself when there
    * are none).
    */
  private[partitioner] def restoreIslands(spark: SparkSession,
                                          coreAssign: DataFrame,
                                          islands: DataFrame, pw: Array[Long],
                                          tgt: Array[Double],
                                          tv0: Long): DataFrame = {
    val iw = islands.select(col("vid"),
      element_at(col("vwgts"), 1).as("deg")).ckpt()
    val agg = iw.agg(count(lit(1)), coalesce(sum(col("deg")), lit(0L))).head()
    if (agg.getLong(0) == 0L) {
      graft.plans.Plans.unpersist(iw)
      return coreAssign
    }
    val cumBounds = islandBounds(pw, tgt, tv0, agg.getLong(1))
    // FULL cumBounds (cum ≤ cumBounds.last == ceil(totalIsland) always
    // holds): passing .init made rangeIdFor's fallback index k-2, so part
    // k-1 never received islands (for k=2, part 1 got none)
    val islandAssign = GraphOps.cumDegByVid(iw)
      .select(col("vid"), col("deg"),
        GraphOps.rangeIdFor(col("cum"), cumBounds).cast("int").as("part"))
      .ckpt()
    islandAssign.groupBy(col("part")).agg(sum(col("deg"))).collect()
      .foreach(r => pw(r.getInt(0)) += r.getLong(1))
    val full = coreAssign.select(col("vid"), col("part").cast("int").as("part"))
      .unionByName(islandAssign.select(col("vid"), col("part"))).ckpt()
    graft.plans.Plans.unpersist(iw); graft.plans.Plans.unpersist(islandAssign)
    full
  }
}
