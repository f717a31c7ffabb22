package perfbench

import graft.operators._
import graft.partitioner._
import graft.plans.{Checkpointer, Metrics}
import graft.plans.Plans.CheckpointOps
import graft.sources.Transcripts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark workload: an input materialised by [[setup]], and a timed
  * operation run by [[pass]] in a closed loop (one job in flight).
  */
trait Workload {
  def setup(): Unit
  /** Runs one timed pass, checks its outputs, returns its wall seconds. */
  def pass(i: Int): Double
  /** Traced runs only, after the passes, with tracing on: extra traced
    * calls, or figures read from the stages the passes recorded.
    */
  def replay(): Unit = ()
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "link_analytics"   => new LinkAnalytics(c)
    case "partition_vcycle" => new PartitionVcycle(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Checks on records the program writes about its own run rather than
    * on its computed results: a failure counts in `failed`, not against
    * `correct`.
    */
  val recordChecks = Set("checkpoint_ledger_strict_json")

  /** Driver-side union-find component count over `vids`. */
  def components(vids: Array[Long], edges: Array[(Long, Long)]): Int = {
    val idx = vids.zipWithIndex.toMap
    val parent = Array.tabulate(vids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    var sets = vids.length
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) { parent(ra) = rb; sets -= 1 }
    }
    sets
  }

  def collectEdges(edges: DataFrame): Array[(Long, Long, Long)] =
    edges.select(col("src"), col("dst"), col("wgt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  def dirBytes(root: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }
}

/** Transcript link analytics: a parquet source table of synthesised
  * transcripts is scanned, the link graph derived, and the analytics run
  * over it, PageRank and components with a durable parquet checkpointer.
  * The partitioner does no work here.
  */
final class LinkAnalytics(c: Ctx) extends Workload {
  private val NConv = 3000L
  private val Iters = 5
  private val LpRounds = 3
  private val Damping = 0.85
  private val source = c.work.resolve("transcripts").toString

  def setup(): Unit = c.tr.span("transcripts", "synthesize") {
    Transcripts.synthesize(c.spark, NConv, 24, c.seed)
      .write.mode("overwrite").parquet(source)
  }

  def pass(i: Int): Double = {
    val root = c.work.resolve(s"ckpt-$i")
    val t0 = Clock.nowMs
    val ts = c.spark.read.parquet(source)
    val (verts, edges, pv, nEdges) = c.tr.span("edge_deriver", "edges") {
      val v = EdgeDeriver.vertices(ts).ckpt()
      val e = EdgeDeriver.simpleGraph(EdgeDeriver.edges(ts, v)).ckpt()
      // PageRank runs over the vertices that have edges: CsrDirect gives
      // an isolated vertex the damping base while PageRank.run spreads
      // dangling mass, so the two engines agree only without isolates
      (v, e, GraphOps.edgeVertices(e).ckpt(), e.count())
    }
    val tPrep = Clock.nowMs
    val st = c.tr.span("csr_direct", "prepareRows") {
      CsrDirect.prepareRows(c.spark, edges, pv, 2 * c.cpus)
    }
    val tIter = Clock.nowMs
    val csr = c.tr.span("csr_direct", "iterate") {
      CsrDirect.ranks(st, CsrDirect.iterate(st, Damping, Iters)).collect().toMap
    }
    val iterS = c.seconds(tIter)
    st.unpersistAll()
    val ck = new Checkpointer(c.spark, root.toString)
    val pr = c.tr.span("pagerank", "run") {
      PageRank.run(c.spark, edges, pv, Damping, maxIter = Iters, tol = 0.0,
        ckpt = Some(ck), numParts = c.cpus).ranks.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val nComp = c.tr.span("connected_components", "run") {
      ConnectedComponents.run(c.spark, edges, verts, ckpt = Some(ck))
        .agg(countDistinct(col("component"))).head().getLong(0)
    }
    c.tr.span("label_propagation", "run") {
      LabelPropagation.run(edges, verts, LpRounds)
        .agg(countDistinct(col("label"))).head().getLong(0)
    }
    c.tr.span("triangles", "count")(Triangles.count(edges))
    val wall = c.seconds(t0)

    // resume probe, outside the pass wall: the newest snapshot back
    val tResume = Clock.nowMs
    c.tr.span("checkpointer", "resume") {
      ck.latest("pagerank").map(k => ck.read("pagerank", k).count())
    }
    val resumeS = c.seconds(tResume)

    // output checks
    val maxDiff = csr.keySet.union(pr.keySet).iterator.map { v =>
      math.abs(csr.getOrElse(v, Double.NaN) - pr.getOrElse(v, Double.NaN))
    }.foldLeft(0.0)((a, b) => if (b.isNaN || a.isNaN) Double.NaN else math.max(a, b))
    c.check("pagerank_csr_matches_dataframe", maxDiff <= 1e-6,
      s"max |csr - dataframe| = $maxDiff over ${csr.size}/${pr.size} vertices")
    val rankSum = csr.values.sum
    c.check("pagerank_sums_to_one", math.abs(rankSum - 1.0) <= 1e-6,
      s"sum = $rankSum")
    val vids = verts.select(col("vid")).collect().map(_.getLong(0))
    val uf = Workload.components(vids,
      Workload.collectEdges(edges).map(e => (e._1, e._2)))
    c.check("components_match_union_find", uf == nComp,
      s"connected_components = $nComp, union-find = $uf")
    val ledger = java.nio.file.Files.readAllLines(root.resolve("metrics.jsonl")).asScala
    val bad = ledger.count(l => Json.parse(l).isEmpty)
    c.check("checkpoint_ledger_strict_json", bad == 0,
      s"$bad of ${ledger.size} metrics.jsonl lines are not strict JSON")

    c.figure("pipeline_s", "s", wall)
    c.figure("pagerank_iters_per_s", "1/s", Iters / iterS)
    c.figure("graph_vertices", "count", vids.length.toDouble)
    c.figure("graph_edges", "count", nEdges.toDouble)
    if (c.tr.tracing) {
      c.layerFigure("edge_deriver.rows_out", nEdges.toDouble)
      c.layerFigure("csr_direct.prepare_s", (tIter - tPrep) / 1e3)
      c.layerFigure("checkpointer.write_mb", Workload.dirBytes(root) / 1048576.0)
      c.layerFigure("checkpointer.snapshots", ledger.size.toDouble)
      c.layerFigure("checkpointer.resume_s", resumeS)
      c.layerFigure("connected_components.rounds",
        ledger.count(_.contains("\"step\":\"cc_pairs\"")).toDouble)
      // wedges the triangle join enumerates: Σ_m indeg(m) · outdeg(m) over
      // the degree-oriented edges
      val o = Triangles.orient(edges)
      c.layerFigure("triangles.wedge_rows",
        o.groupBy(col("b").as("m")).agg(count(lit(1)).as("i"))
          .join(o.groupBy(col("a").as("m")).agg(count(lit(1)).as("o")), "m")
          .agg(coalesce(sum(col("i") * col("o")), lit(0L))).head().getLong(0).toDouble)
    }
    c.release()
    deleteTree(root)
    wall
  }

  override def replay(): Unit = c.tr.find("csr_direct", "iterate").foreach { s =>
    val stages = c.tr.stagesOf(s)
    val ms = stages.map(_.durMs)
    c.layerFigure("csr_direct.iter_p50_ms", Stats.median(ms))
    c.layerFigure("csr_direct.iter_p90_ms", Stats.pct(ms, 90))
    c.layerFigure("csr_direct.exchange_mb_per_iter",
      stages.map(_.shuffleBytes).sum / 1048576.0 / Iters)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
}

/** The multilevel k-way V-cycle on a hub-heavy transcript graph: the
  * finest level coarsens distributed, through the whole SHEM → RM → 2-hop →
  * FC dispatch the hubs stall it into, then the serial tail and the
  * refinement back up run.
  *
  * Sizing: the graph (about 3.7k connected vertices, 70k edges) is above
  * the dispatch bounds passed below, so level 0 coarsens distributed, and
  * under partitionMC's serial refinement threshold (4096 vertices), so level
  * 0 refines through the serial dispatch. A level-0 distributed refinement
  * costs about 30 s more per pass on a 4-vCPU host, which the benchmark's
  * per-run time budget does not hold.
  */
final class PartitionVcycle(c: Ctx) extends Workload {
  private val NConv = 3000L
  private val K = 8
  private val UbFactor = 1.03
  private val SerialRefineThreshold = 4096L
  private val SerialGraphVertices = 2000L
  private val SerialTailVertices = 2500L
  private val edgesPath = c.work.resolve("edges").toString
  private val vertsPath = c.work.resolve("vertices").toString

  def setup(): Unit = {
    val ts = c.tr.span("transcripts", "synthesize") {
      Transcripts.synthesize(c.spark, NConv, 24, c.seed).ckpt()
    }
    c.tr.span("edge_deriver", "edges") {
      val v = EdgeDeriver.vertices(ts).ckpt()
      EdgeDeriver.simpleGraph(EdgeDeriver.edges(ts, v))
        .write.mode("overwrite").parquet(edgesPath)
      v.select(col("vid"), array(lit(1L)).as("vwgts"))
        .write.mode("overwrite").parquet(vertsPath)
    }
    c.release()
  }

  private def edges = c.spark.read.parquet(edgesPath)
  private def verts = c.spark.read.parquet(vertsPath)

  def pass(i: Int): Double = {
    val m3 = Metrics.count("m3_clustering_dispatch")
    val t0 = Clock.nowMs
    val r = c.tr.span("multilevel", "partitionMC") {
      Multilevel.partitionMC(c.spark, edges, verts, K, ncon = 1,
        ubFactor = UbFactor, serialRefineThreshold = SerialRefineThreshold,
        serialGraphVertices = SerialGraphVertices,
        serialTailVertices = SerialTailVertices)
    }
    val wall = c.seconds(t0)

    val assign = r.assign.select(col("vid"), col("part").cast("int"))
      .collect().map(x => x.getLong(0) -> x.getInt(1))
    val vids = verts.select(col("vid")).collect().map(_.getLong(0))
    val where = assign.toMap
    c.check("partition_one_part_per_vertex",
      assign.length == vids.length && where.size == vids.length &&
        vids.forall(where.contains) && assign.forall(a => a._2 >= 0 && a._2 < K),
      s"${assign.length} assignments for ${vids.length} vertices, " +
        s"${where.size} distinct")
    val es = Workload.collectEdges(edges)
    val cut = es.iterator.filter(e => where.get(e._1) != where.get(e._2)).map(_._3).sum
    c.check("partition_cut_recomputes", cut == r.cut,
      s"reported ${r.cut}, recomputed $cut")
    c.check("partition_imbalance_within_bound", r.imbalance <= UbFactor + 1e-9,
      s"imbalance ${r.imbalance} > $UbFactor")

    c.figure("partition_s", "s", wall)
    c.figure("edge_cut", "count", r.cut.toDouble)
    c.figure("imbalance", "ratio", r.imbalance)
    c.figure("levels", "count", r.levels.toDouble)
    c.figure("m3_dispatches", "count", (Metrics.count("m3_clustering_dispatch") - m3).toDouble)
    c.figure("graph_vertices", "count", vids.length.toDouble)
    c.figure("graph_edges", "count", es.length.toDouble)
    if (c.tr.tracing) {
      c.layerFigure("multilevel.levels", r.levels.toDouble)
      c.layerFigure("multilevel.m3_dispatches",
        (Metrics.count("m3_clustering_dispatch") - m3).toDouble)
    }
    c.release()
    wall
  }

  /** The phases `partitionMC` runs inside one call, called one by one on
    * this workload's graph in the order `partitionMC` uses them, for the
    * levels it coarsens distributed; then the serial tail, projection and
    * refinement back up.
    */
  override def replay(): Unit = {
    val tr = c.tr
    val coarsenTo = math.max(30 * K, 200)
    val stopRatio = 0.85
    val tgt = Array.fill(K)(1.0 / K)
    val (allEdges, connected, nAll) = tr.span("multilevel", "inputs") {
      val ae = edges.select(col("src"), col("dst"), col("wgt")).ckptSpill()
      val av = verts.select(col("vid"), col("vwgts")).ckptSpill()
      val (conn, _) = GraphOps.splitIslands(av, ae)
      (ae, conn.select(col("vid"), col("vwgts")).ckptSpill(), av.count())
    }
    var edgesL = allEdges
    var vertsL = connected
    var nvtxs = vertsL.count()
    var nedges = edgesL.count()
    val tv = vertsL.agg(sum(element_at(col("vwgts"), 1))).head().getLong(0)
    val caps = Array((1.5 * (tv.toDouble / coarsenTo + 2)).toLong)
    val levels = mutable.ArrayBuffer.empty[(DataFrame, DataFrame, DataFrame, Long)]
    var shrinking = true
    var levelSeed = 42L
    while (nvtxs > coarsenTo && shrinking &&
           !(nvtxs <= SerialTailVertices && nedges <= 8000000L)) {
      val first = levels.isEmpty
      val (symL, degL, shem, paired) = tr.span("matching", "shem") {
        val s = GraphOps.symmetrize(edgesL).repartition(col("src")).persist()
        val d = s.groupBy(col("src").as("vid"))
          .agg(count(lit(1)).as("deg"), sum(col("wgt")).as("wdeg")).persist()
        val m = Matching.cmapMC(edgesL, vertsL, caps, nVerts = nvtxs, symIn = s, degIn = d)
        (s, d, m, m.filter(col("vid") =!= col("coarse")).count())
      }
      if (first) c.layerFigure("matching.shem_matched_frac", 2.0 * paired / nvtxs)
      var cmap = shem
      var rmPaired = 0L
      if (nvtxs - 2 * paired >= nvtxs / 3) {
        val (rm, rp) = tr.span("matching", "rm") {
          val m = Matching.cmapMC(edgesL, vertsL, caps, scheme = Matching.RM,
            seed = levelSeed, nVerts = nvtxs, symIn = symL, degIn = degL)
          (m, m.filter(col("vid") =!= col("coarse")).count())
        }
        rmPaired = rp
        if (rp > paired) cmap = rm
        if (nvtxs - 2 * math.max(paired, rp) >= nvtxs / 3) {
          val (aug, selfAfter) = tr.span("matching", "2hop") {
            val a = Matching.augment2Hop(edgesL, vertsL, cmap, caps(0),
              symIn = symL, degIn = degL)
            (a, a.groupBy(col("coarse")).agg(count(lit(1)).as("n"))
              .filter(col("n") === 1).count())
          }
          cmap = aug
          if (selfAfter >= nvtxs / 3) cmap = tr.span("clustering", "fc") {
            val m = Clustering.cmap(edgesL,
              vertsL.select(col("vid"), element_at(col("vwgts"), 1).as("vwgt")),
              caps(0), seed = levelSeed, symIn = symL, earlyStopSingles = nvtxs / 8)
            m.count()
            m
          }
        }
      }
      if (first) c.layerFigure("matching.rm_matched_frac", 2.0 * rmPaired / nvtxs)
      levelSeed += 1
      val (ce, cv, cn, cne) = tr.span("contraction", "contractMC") {
        val (e, v) = Contraction.contractMC(edgesL, vertsL, cmap, 1, nVerts = nvtxs)
        val ce = e.ckptSpill()
        val cv = v.ckptSpill()
        (ce, cv, cv.count(), ce.count())
      }
      symL.unpersist(); degL.unpersist()
      if (first) c.layerFigure("contraction.shrink_ratio", cn.toDouble / nvtxs)
      shrinking = cn.toDouble / nvtxs <= stopRatio
      if (cn < nvtxs) {
        levels += ((edgesL, vertsL, cmap, nvtxs))
        edgesL = ce; vertsL = cv; nvtxs = cn; nedges = cne
      } else shrinking = false
    }
    var assign = tr.span("serial_multilevel", "partition") {
      val eArr = Workload.collectEdges(edgesL).sortBy(t => (t._1, t._2))
      val vArr = vertsL.select(col("vid"), col("vwgts")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      val g = InitialPartition.fromEdgesMC(eArr, vArr, 1)
      val (w, _) = SerialMultilevel.partition(g, K, UbFactor, coarsenTo,
        stopRatio, 42L, 4, tgt)
      c.spark.createDataFrame(g.vids.zip(w).toSeq).toDF("vid", "part").ckpt()
    }
    var gain = 0.0
    levels.reverseIterator.foreach { case (le, lv, lcmap, ln) =>
      val projected = tr.span("multilevel", "project") {
        lcmap.join(GraphOps.dimSide(assign.withColumnRenamed("vid", "coarse"), ln),
          "coarse").select(col("vid"), col("part")).ckpt()
      }
      val before = GraphOps.edgeCut(le, projected, ln)
      require(ln <= SerialRefineThreshold,
        s"level of $ln vertices would refine distributed; resize the workload")
      assign = tr.span("refinement", "serial") {
          val eArr = Workload.collectEdges(le).sortBy(t => (t._1, t._2))
          val vArr = lv.select(col("vid"), col("vwgts")).collect()
            .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
          val g = InitialPartition.fromEdgesMC(eArr, vArr, 1)
          val whereMap = projected.collect()
            .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
          val refined = InitialPartition.refineGreedy(g, K, g.vids.map(whereMap),
            UbFactor, targets = tgt)
          c.spark.createDataFrame(g.vids.zip(refined).toSeq).toDF("vid", "part").ckpt()
        }
      gain += before - GraphOps.edgeCut(le, assign, ln)
    }
    c.layerFigure("refinement.cut_gain", gain)
    c.release()
  }
}
