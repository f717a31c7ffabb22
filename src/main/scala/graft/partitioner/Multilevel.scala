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
    // F4: degree-0 islands skip the V-cycle entirely
    val (connected0, islands) = GraphOps.splitIslands(allVerts, allEdges)
    var edges = allEdges
    var (vertices, nvtxs) = connected0.select(col("vid"), col("vwgts"))
      .ckptSpillCounted()
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
    def wc(c: Int) = element_at(col("vwgts"), c + 1)
    val tvCols = (0 until ncon).map(c => sum(wc(c)).as(s"t$c"))
    val tvAll = allVerts.agg(tvCols.head, tvCols.tail: _*).head()
    val tv = (0 until ncon).map(c => tvAll.getLong(c)).toArray
    // P7 matching weight cap per constraint: 1.5 * (tvwgt / coarsenTo + 2)
    // (reference src/coarsen.c:78-88)
    val caps = tv.map(t => (1.5 * (t.toDouble / coarsenTo + 2)).toLong)

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
        // release the losing cmap — superseded checkpoints never evict
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
    val (eArr, vArr) = gather(edges, vertices)
    val g = InitialPartition.fromEdgesMC(eArr, vArr, ncon)
    val finestEdges = if (levels.nonEmpty) levels.last.edges else edges
    val finestVerts = if (levels.nonEmpty) levels.last.vertices else vertices
    var tailLevels = 0

    // P11 best-of-nruns over the init+uncoarsen phase (coarsening is
    // deterministic and shared)
    var bestAssign: DataFrame = null
    var bestCut = Long.MaxValue
    for (run <- 0 until nRuns) {
      // best-of-4 serial solves: the serial V-cycle costs seconds where the
      // distributed levels it replaces cost minutes — spend some of that
      // budget buying back init variance
      val (where0, nl) = SerialMultilevel.partition(g, k, ubFactor, coarsenTo,
        stopRatio, seed + 7919L * run, 4, tgt)
      tailLevels = nl
      var assign = spark.createDataFrame(
        g.vids.zip(where0).toSeq.map { case (v, p) => (v, p) }
      ).toDF("vid", "part").ckpt()

      // uncoarsen: project + refine per level, finest last. The coarsest
      // level needs no distributed refine — InitialPartition.refineGreedy
      // already refined it serially on the gathered graph (P10)
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
        // now (it is never bestAssign: that is only ever a FINEST-level
        // assignment from a previous run)
        graft.plans.Plans.unpersist(assign)
        val serial = lvl.nvtxs <= serialRefineThreshold
        assign =
          if (serial) serialRefine(spark, lvl, projected, k, ncon, ubFactor, tgt)
          else Refinement.refineMC(spark, lvl.edges, lvl.vertices,
            projected, k, ubFactor, ncon = ncon, targets = tgt,
            nVerts = lvl.nvtxs)
        // refine returned its own checkpoint; the projection is dead
        graft.plans.Plans.unpersist(projected)
        Metrics.log("uncoarsen_level", "run" -> run, "level" -> levelIdx,
          "nvtxs" -> lvl.nvtxs, "serial_refine" -> serial,
          "wall_s" -> Metrics.secondsSince(tLvl))
      }
      val cut = GraphOps.edgeCut(finestEdges, assign,
        if (levels.nonEmpty) levels.last.nvtxs else nvtxs)
      if (cut < bestCut) {
        if (bestAssign != null) graft.plans.Plans.unpersist(bestAssign)
        bestCut = cut; bestAssign = assign
      } else graft.plans.Plans.unpersist(assign)
    }

    // F4 restore: islands fill the parts' remaining weight headroom
    // (reference round-robins them into underweight parts,
    // src/graph.c:3271-3382) — deterministic deficit-proportional fill over
    // the vid-ordered island sequence, no global window. Islands have no
    // edges, so the finest level's cut is already the final cut
    val fullAssign = restoreIslands(spark, bestAssign, finestVerts, islands,
      k, tgt, tv)
    val scalarVerts = allVerts.select(col("vid"), wc(0).as("vwgt"))
    val imb = imbalanceTargets(fullAssign, scalarVerts, tgt, tv(0))
    PartitionResult(fullAssign, bestCut, imb, levels.size + tailLevels)
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
    val (whereConn, nLevels) =
      if (conn.isEmpty) (Array.empty[Int], 0)
      else {
        val g = InitialPartition.fromEdgesMC(eArr, conn, ncon)
        SerialMultilevel.partition(g, k, ubFactor, coarsenTo, stopRatio,
          seed, nRuns, tgt)
      }
    val connVids = conn.map(_._1)
    val pwgt = new Array[Long](k)
    conn.indices.foreach(i => pwgt(whereConn(i)) += conn(i)._2(0))
    // F4 restore, serial mirror of [[restoreIslands]] ([[islandBounds]])
    val islWhere = new Array[Int](isl.length)
    if (isl.nonEmpty) {
      val cumBounds = islandBounds(pwgt, tgt, tv0, isl.map(_._2(0)).sum)
      var cum = 0L
      isl.indices.foreach { i =>
        cum += isl(i)._2(0)
        var p = 0
        while (p < k - 1 && cum > cumBounds(p)) p += 1
        islWhere(i) = p
        pwgt(p) += isl(i)._2(0)
      }
    }
    // serial metrics (A4 cut over canonical edges; A7 imbalance vs targets)
    val whereOf = new scala.collection.mutable.HashMap[Long, Int]
    connVids.indices.foreach(i => whereOf(connVids(i)) = whereConn(i))
    isl.indices.foreach(i => whereOf(isl(i)._1) = islWhere(i))
    var cut = 0L
    eArr.foreach { case (s, d, w) => if (whereOf(s) != whereOf(d)) cut += w }
    val imb =
      if (tv0 == 0) 1.0
      else (0 until k).map(p => pwgt(p).toDouble / (tgt(p) * tv0)).max
    val rows = vArr.map { case (v, _) => (v, whereOf(v)) }.toIndexedSeq
    val assign = graft.plans.Plans.checkpoint(
      spark.createDataFrame(rows).toDF("vid", "part")
        .select(col("vid"), col("part").cast("int").as("part")))
    PartitionResult(assign, cut, imb, nLevels)
  }

  /** Serial refinement of one gathered sub-threshold level (the
    * small-graph dispatch — reference src/eseprefine.c:1060-1097): collect
    * the level, run the greedy sweep in the driver, re-parallelize.
    * Deterministic: vids sorted, sequential sweep.
    */
  private def serialRefine(spark: SparkSession, lvl: Level,
                           projected: DataFrame, k: Int, ncon: Int,
                           ubFactor: Double,
                           tgt: Array[Double]): DataFrame = {
    val (eArr, vArr) = gather(lvl.edges, lvl.vertices)
    val g = InitialPartition.fromEdgesMC(eArr, vArr, ncon)
    val whereMap = projected.collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    val where = g.vids.map(whereMap)
    val refined = InitialPartition.refineGreedy(g, k, where, ubFactor,
      targets = tgt)
    spark.createDataFrame(
      g.vids.zip(refined).toSeq.map { case (v, p) => (v, p) })
      .toDF("vid", "part").ckpt()
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
    * tpwgts).
    */
  private def imbalanceTargets(assign: DataFrame, scalarVerts: DataFrame,
                               tgt: Array[Double], tv: Long): Double = {
    val rows = assign.join(scalarVerts, "vid")
      .groupBy(col("part")).agg(sum(col("vwgt")).as("pw")).collect()
    rows.map(r => r.getLong(1).toDouble /
      (tgt(r.get(0).toString.toInt) * tv)).max
  }

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

  /** Deficit-proportional island placement: islands (vid-ordered, exact
    * bucketed cumulative weight) are cut by [[islandBounds]]. Returns a
    * checkpoint (`coreAssign` itself when there are no islands).
    */
  private def restoreIslands(spark: SparkSession, coreAssign: DataFrame,
                             connected: DataFrame, islands: DataFrame,
                             k: Int, tgt: Array[Double],
                             tv: Array[Long]): DataFrame = {
    // `islands` is an anti-join against the edge table: scan it once
    val iw = islands.select(col("vid"),
      element_at(col("vwgts"), 1).as("deg")).ckpt()
    val agg = iw.agg(count(lit(1)), coalesce(sum(col("deg")), lit(0L))).head()
    if (agg.getLong(0) == 0L) {
      graft.plans.Plans.unpersist(iw)
      return coreAssign
    }
    val totalIsland = agg.getLong(1)
    // per-part weight of the core assignment
    val pw = new Array[Long](k)
    coreAssign
      .join(connected.select(col("vid"),
        element_at(col("vwgts"), 1).as("w")), "vid")
      .groupBy(col("part")).agg(sum(col("w")).as("pw")).collect()
      .foreach(r => pw(r.get(0).toString.toInt) = r.getLong(1))
    val cumBounds = islandBounds(pw, tgt, tv(0), totalIsland)
    // FULL cumBounds (cum ≤ cumBounds.last == ceil(totalIsland) always
    // holds): passing .init made rangeIdFor's fallback index k-2, so part
    // k-1 never received islands (for k=2, part 1 got none)
    val islandAssign = GraphOps.cumDegByVid(iw)
      .select(col("vid"),
        GraphOps.rangeIdFor(col("cum"), cumBounds).cast("int").as("part"))
    val full = coreAssign.select(col("vid"), col("part").cast("int").as("part"))
      .unionByName(islandAssign).ckpt()
    graft.plans.Plans.unpersist(iw)
    full
  }
}
