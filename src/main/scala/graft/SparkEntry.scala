package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.sources.Transcripts

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), with DuckDB oracle SQL for everything SQL-expressible.
  *
  * Graph queries run over the transcript-shaped adaptation of the `events`
  * table ([[EventsGraph]]) so the *entire* derivation chain — stable turn
  * ordering → edge derivation (turn-adjacency window, hub-capped
  * shared-tool) → analytics (PR / CC / LP / triangles) — is verified
  * value-for-value against DuckDB. Iterative operators are pinned to fixed
  * synchronous round counts so Spark and the unrolled-CTE SQL compute the
  * same function; floats are rounded on both sides.
  */
object SparkEntry {

  private def ev(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/events.parquet")
  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  private val EC = EventsGraph.edgesCte
  private val VC = EventsGraph.vertsCte
  private val NumRanges = 8
  // stop-gram document-frequency cap for the n-gram Jaccard family (baked
  // into the oracle SQL; see TextOps.ngramJaccardPairs)
  private val NgramMaxDf = 128
  // strong-tie weight threshold for the twin/leaf queries (the full events
  // graph has no leaves or twins at any sf; the heavy-edge subgraph does)
  private val StrongTie = 15
  // recall floor for the k-means IVF gate (q_knn_ivf_kmeans): measured
  // recall@5 vs brute force is deterministic per SF (seeded everything) —
  // 0.86 at sf0.001 / 0.78 at sf0.01 / 0.70 at sf0.1 with nprobe 8 of 16
  // lists; 0.6 sits below all three while still above the ~0.5 a
  // structure-blind quantizer would score probing half the lists
  private val IvfKmeansRecallTau = 0.6

  /** ND vertex separator over the gate graph, derived once per session:
    * q_vsep / q_vsep_sfm / q_vsep_flow all refine THIS separator (same
    * input graph, same default seed), so the multilevel bisection + cover
    * + refine runs once per Verify/Bench session instead of 3x. Same
    * memo pattern (and lifecycle) as the gate edges/vertices themselves.
    */
  private def gateVsep(s: SparkSession, d: String): DataFrame =
    EventsGraph.memoized(s, d, "vsep") {
      graft.plans.Plans.checkpoint(
        graft.partitioner.NestedDissection.vertexSeparator(
          s, EventsGraph.edges(s, d), EventsGraph.vertices(s, d)))
    }

  /** Edge-granular balanced CSR blocks of the gate graph, derived once per
    * session: q_pagerank_direct and q_csr_edge_stats read the SAME layout,
    * and rebuilding it per query re-ran the |E|-row per-src window +
    * prefix sums + assembly each time (~19 s each at sf0.1).
    */
  private def gateBlocks(s: SparkSession, d: String): RDD[(Int, Csr.Block)] =
    EventsGraph.memoized(s, d, "csr_balanced") {
      val b = Csr.buildBalanced(EventsGraph.edges(s, d), NumRanges)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count() // materialize once, here, not per consumer
      b
    }

  /** Flagship: PageRank over the sf0.001 events-derived link graph. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val edges = EventsGraph.edges(spark, dir)
    val verts = EventsGraph.vertices(spark, dir)
    PageRank.run(spark, edges, verts, 0.85, maxIter = 5, tol = 0.0,
      numParts = spark.sparkContext.defaultParallelism).ranks.orderBy(col("rank").desc).limit(10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources / derivation (SURVEY §2.1, §2.3 north-rule joins) ----
    "q_transcripts" -> ((s, d) => Transcripts.fromEvents(ev(s, d))),
    "q_vertex_dict" -> { (s, d) =>
      val ts = EventsGraph.transcripts(s, d)
      EdgeDeriver.vertices(ts)
        .agg(count(lit(1)).as("n_keys"),
          countDistinct(col("vid")).as("n_distinct"),
          min(col("vid")).as("min_vid"), max(col("vid")).as("max_vid"))
    },
    "q_edges" -> ((s, d) => EventsGraph.edges(s, d)
      .select(col("src"), col("dst"), col("wgt"))),
    "q_hub_stats" -> { (s, d) =>
      EdgeDeriver.hubStats(EventsGraph.transcripts(s, d),
        EdgeDeriver.Config(hubCap = EventsGraph.HubCap))
        .select(col("tool"), col("n_convs"), col("clique_edges"), col("kept_edges"))
    },
    // S1 METIS .graph write→read round-trip under the hard gate: a
    // formula-defined 20-vertex weighted cycle (vwgt i%5+1, adjwgt i%3+1)
    // goes through writeMetis + readMetis; the oracle computes the SAME
    // totals from the formula via DuckDB range() — reader bugs (1-based
    // ids, fmt flags, weight parsing, symmetry) all corrupt a total
    "q_metis_io" -> { (s, d) =>
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target", "tmp"))
      val p = dir.resolve("metis_gate_fixture.graph").toString
      val vs = s.range(20).select(col("id").as("vid"),
        (pmod(col("id"), lit(5L)) + 1L).as("vwgt"))
      val es = s.range(20).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(20L)).as("b"),
          (pmod(col("id"), lit(3L)) + 1L).as("wgt"))
        .select(least(col("a"), col("b")).as("src"),
          greatest(col("a"), col("b")).as("dst"), col("wgt"))
      graft.sources.GraphFiles.writeMetis(es, vs, p)
      val (e2, v2) = graft.sources.GraphFiles.readMetis(s, p)
      e2.agg(count(lit(1)).as("n_edges"), sum(col("wgt")).as("total_wgt"))
        .crossJoin(v2.agg(count(lit(1)).as("n_vertices"),
          sum(col("vwgt")).as("total_vwgt")))
        .select(col("n_vertices"), col("n_edges"), col("total_vwgt"),
          col("total_wgt"))
    },
    // S3 SNAP edge-list reader under the hard gate: fixture includes the
    // formats the reader must survive (comments, blank lines, duplicate +
    // reversed duplicates, self-loops); totals again formula-predicted
    "q_snap_read" -> { (s, d) =>
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target", "tmp"))
      val p = dir.resolve("snap_gate_fixture.txt")
      val body = (0 until 20).map(i => s"$i\t${(i + 1) % 20}") ++
        Seq("# comment line", "", "5 5", "0 1", "1 0", "19 0")
      java.nio.file.Files.write(p, body.mkString("\n").getBytes)
      val e = graft.sources.GraphFiles.readSnap(s, p.toString)
      e.agg(count(lit(1)).as("n_edges"), sum(col("wgt")).as("total_wgt"))
        .crossJoin(e.select(col("src").as("vid"))
          .unionByName(e.select(col("dst").as("vid"))).distinct()
          .agg(count(lit(1)).as("n_vertices")))
        .select(col("n_vertices"), col("n_edges"), col("total_wgt"))
    },
    // ---- graph core (SURVEY §2.4 A2/A8, §4 P1) ----
    "q_degrees" -> ((s, d) =>
      GraphOps.degrees(EventsGraph.edges(s, d))),
    "q_edge_ranges" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      // degrees feeds BOTH the range computation and the output join:
      // materialize once instead of re-aggregating |E| rows twice
      val deg = graft.plans.Plans.checkpoint(GraphOps.degrees(e))
      val bounds = GraphOps.edgeBalancedRangesFromDeg(deg, NumRanges)
      deg.select(col("vid"),
        GraphOps.rangeIdFor(col("vid"), bounds).cast("bigint").as("range_id"))
    },
    "q_csr_stats" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val bounds = GraphOps.edgeBalancedRanges(e, NumRanges)
      Csr.stats(s, Csr.build(e, bounds))
        .select(col("block_id").cast("bigint").as("block_id"),
          col("nvtxs").cast("bigint").as("nvtxs"),
          col("nedges").cast("bigint").as("nedges"))
    },
    // ---- analytics (north rule item 2) ----
    "q_pagerank" -> ((s, d) =>
      // one partition per core: the default 32 doubles this gate's wall
      PageRank.run(s, EventsGraph.edges(s, d), EventsGraph.vertices(s, d), 0.85,
          maxIter = 5, tol = 0.0, numParts = s.sparkContext.defaultParallelism).ranks
        .select(col("vid"), round(col("rank"), 9).as("rank"))),
    "q_pagerank_direct" -> { (s, d) =>
      // single-exchange block loop (CsrDirect) over edge-granular balanced
      // blocks (hub-splitting, P15): rank state co-located with the
      // out-edge owner, ONE all-to-all per iteration
      graft.operators.CsrDirect.pageRank(s, gateBlocks(s, d),
          EventsGraph.vertices(s, d), 0.85, 5)
        .select(col("vid"), round(col("rank"), 6).as("rank"))
    },
    "q_csr_edge_stats" -> { (s, d) =>
      Csr.stats(s, gateBlocks(s, d))
        .select(col("block_id").cast("bigint").as("block_id"),
          col("nvtxs").cast("bigint").as("nvtxs"),
          col("nedges").cast("bigint").as("nedges"))
    },
    "q_cc_hashmin" -> ((s, d) =>
      ConnectedComponents.hashMinIterations(EventsGraph.edges(s, d),
        EventsGraph.vertices(s, d), 10)),
    "q_cc" -> ((s, d) =>
      ConnectedComponents.run(s, EventsGraph.edges(s, d),
        EventsGraph.vertices(s, d))),
    "q_labelprop" -> ((s, d) =>
      LabelPropagation.run(EventsGraph.edges(s, d),
        EventsGraph.vertices(s, d), 4)),
    "q_triangles" -> { (s, d) =>
      val n = Triangles.count(EventsGraph.edges(s, d))
      s.createDataFrame(Seq(Tuple1(n))).toDF("n_triangles")
    },
    "q_triangles_pv" -> ((s, d) =>
      Triangles.perVertex(EventsGraph.edges(s, d),
        EventsGraph.vertices(s, d))),
    // O2 hash-sorted twins + M4 leaf matching run on the strong-tie
    // subgraph (wgt >= StrongTie): the full events graph is dense enough
    // that no vertex is a leaf and no two share an adjacency list
    "q_twins" -> ((s, d) =>
      GraphOps.twinGroups(EventsGraph.edges(s, d)
        .filter(col("wgt") >= StrongTie))),
    "q_leaf_pairs" -> { (s, d) =>
      val e = EventsGraph.edges(s, d).filter(col("wgt") >= StrongTie)
      val v = GraphOps.edgeVertices(e).withColumn("vwgt", lit(1L))
      graft.partitioner.Matching.matchLeaves(e, v, Long.MaxValue)
    },
    // M3 FC clustering on the strong-tie subgraph. Invariant gate (the
    // q_vsep pattern): totality (every vertex labeled once), the HARD
    // weight cap (unit weights -> cluster size <= cap), and every label a
    // root (clusters never merge/chain) — each SQL-predictable as an
    // exact value (n, n, 0, 0)
    "q_clustering" -> { (s, d) =>
      val e = EventsGraph.edges(s, d).filter(col("wgt") >= StrongTie)
      val v = GraphOps.edgeVertices(e).withColumn("vwgt", lit(1L))
      val cap = 4L
      val cm = graft.plans.Plans.checkpoint(
        graft.partitioner.Clustering.cmap(e, v, cap))
      val nV = v.count()
      val nMapped = cm.count()
      val over = cm.groupBy(col("coarse")).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).count()
      val nonRoot = cm.select(col("coarse")).distinct()
        .join(cm.filter(col("vid") === col("coarse")).select(col("coarse")),
          Seq("coarse"), "left_anti").count()
      s.createDataFrame(Seq((nV, nMapped, over, nonRoot)))
        .toDF("n_vertices", "n_mapped", "overweight", "nonroot_labels")
    },
    // W1 counting-sort visit order (capped degree asc, multiplicative-hash
    // shuffled ties)
    "q_visit_order" -> ((s, d) =>
      GraphOps.visitOrder(EventsGraph.edges(s, d))),
    // ---- partition metrics (SURVEY §2.4 A4/A5/A7) ----
    "q_cut_metrics_mod" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val assign = EventsGraph.vertices(s, d)
        .select(col("vid"), pmod(col("vid"), lit(4L)).cast("int").as("part"))
      val cut = GraphOps.edgeCut(e, assign)
      val vol = GraphOps.commVolume(e, assign)
      s.createDataFrame(Seq((cut, vol))).toDF("edge_cut", "comm_volume")
    },
    // F2 weight-ignore projection (reference -W): same cut metrics with all
    // edge weights forced to 1 — the cut becomes an edge COUNT, which the
    // oracle predicts independently
    "q_cut_unweighted" -> { (s, d) =>
      val e = GraphOps.ignoreWeights(EventsGraph.edges(s, d))
      val assign = EventsGraph.vertices(s, d)
        .select(col("vid"), pmod(col("vid"), lit(4L)).cast("int").as("part"))
      val cut = GraphOps.edgeCut(e, assign)
      val vol = GraphOps.commVolume(e, assign)
      s.createDataFrame(Seq((cut, vol))).toDF("edge_cut", "comm_volume")
    },
    // ---- multilevel partitioner (north rule item 3) — rows-only gate;
    //      cut/balance quality is asserted in ScalaTest vs a serial oracle
    // coarsenTo0=60 forces the full V-cycle (matching -> contraction ->
    // projection -> refinement) even on the small sf dirs, so the driver
    // gate exercises the coarsening path, not just init+refine
    // hard gate: assignment totality (every vertex assigned exactly once)
    // and part-range validity, both SQL-predictable; cut/balance quality is
    // asserted in PartitionerSpec vs a serial oracle
    "q_partition_kway" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d).withColumn("vwgt", lit(1L))
      val assign = graft.partitioner.Multilevel
        .partition(s, e, v, 4, coarsenTo0 = 60).assign
      val missing = v.select(col("vid"))
        .join(assign.select(col("vid")), Seq("vid"), "left_anti").count()
      assign.agg(
          count(lit(1)).as("n_assigned"),
          countDistinct(col("vid")).as("n_distinct"),
          max(when(col("part") >= 0 && col("part") < 4, 0L).otherwise(1L))
            .as("out_of_range"))
        .withColumn("n_missing", lit(missing))
        .select(col("n_assigned"), col("n_distinct"), col("out_of_range"),
          col("n_missing"))
    },
    // recursive bisection (reference MTMETIS_PartGraphRecursive,
    // src/mtmetis.c:362-391) — same totality/range gate
    "q_partition_rb" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d).withColumn("vwgt", lit(1L))
      val assign = graft.partitioner.Recursive.partition(s, e, v, 4,
        coarsenTo0 = 60)
      val missing = v.select(col("vid"))
        .join(assign.select(col("vid")), Seq("vid"), "left_anti").count()
      assign.agg(
          count(lit(1)).as("n_assigned"),
          countDistinct(col("vid")).as("n_distinct"),
          max(when(col("part") >= 0 && col("part") < 4, 0L).otherwise(1L))
            .as("out_of_range"))
        .withColumn("n_missing", lit(missing))
        .select(col("n_assigned"), col("n_distinct"), col("out_of_range"),
          col("n_missing"))
    },
    // multi-constraint partition (reference ncon>1, src/graph.h:44) on the
    // reference's own -l data path (src/mtmetis_bin.c:592-627): a
    // deterministic training list is materialized as the S8 text format,
    // read back through GraphFiles.readTrainingList, and its 0/1 in_train
    // column becomes the SECOND balance constraint. Gate: totality/range
    // plus a sanity bound on the train constraint's imbalance (tight
    // balance asserted in PartitionerExtSpec)
    "q_partition_mc" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v0 = EventsGraph.vertices(s, d)
      val listDir = java.nio.file.Paths.get("target", "tmp")
      java.nio.file.Files.createDirectories(listDir)
      val listPath = listDir.resolve(
        s"train_list_${new java.io.File(d).getName}.txt")
      // deterministic membership (~1/3 of vertices train) — the file IS the
      // reference's -l input; single-node interchange format by design.
      // BOUNDED collect (first 100k by vid): the text list is single-node
      // interchange, and the gate path must stay runnable at |V| = 10^9 —
      // at gate scale the limit is never reached, so values are unchanged
      val trainVids = v0.select(col("vid"))
        .filter(pmod(col("vid") * lit(2654435761L), lit(97L)) < 32)
        .orderBy(col("vid")).limit(100000).collect().map(_.getLong(0))
      java.nio.file.Files.write(listPath,
        trainVids.mkString("", "\n", "\n").getBytes)
      val v = graft.sources.GraphFiles
        .readTrainingList(s, listPath.toString, v0)
        .select(col("vid"), array(lit(1L), col("in_train")).as("vwgts"))
      val r = graft.partitioner.Multilevel.partitionMC(s, e, v, 4, ncon = 2,
        coarsenTo0 = 60)
      val pw1 = r.assign.join(v, "vid").groupBy(col("part"))
        .agg(sum(element_at(col("vwgts"), 2)).as("pw")).collect()
      val tv1 = pw1.map(_.getLong(1)).sum
      val imb1 = pw1.map(_.getLong(1)).max.toDouble * 4 / tv1
      // integrality slack: with 0/1 train weights the best achievable max
      // load is ceil(total/k), i.e. imbalance up to 1 + k*wmax/total above
      // perfect — at sf0.001 (~6 train vertices over k=4) the bare 1.5
      // gate is unsatisfiable (reference balances modulo unit weights too)
      val mcBound = 1.5 + 4.0 / math.max(1L, tv1)
      val missing = v.select(col("vid"))
        .join(r.assign.select(col("vid")), Seq("vid"), "left_anti").count()
      r.assign.agg(
          count(lit(1)).as("n_assigned"),
          countDistinct(col("vid")).as("n_distinct"),
          max(when(col("part") >= 0 && col("part") < 4, 0L).otherwise(1L))
            .as("out_of_range"))
        .withColumn("n_missing", lit(missing))
        .withColumn("mc_sane", lit(imb1 <= mcBound))
        .select(col("n_assigned"), col("n_distinct"), col("out_of_range"),
          col("n_missing"), col("mc_sane"))
    },
    // nested-dissection ordering (reference MTMETIS_NodeND,
    // src/mtmetis.c:426-461): the output must be a permutation of [0, n)
    "q_nd_perm" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d)
      graft.partitioner.NestedDissection.order(s, e, v).agg(
        count(lit(1)).as("n_vertices"),
        countDistinct(col("perm")).as("n_distinct_perm"),
        min(col("perm")).as("min_perm"),
        max(col("perm")).as("max_perm"))
    },
    // vertex-separator bisection (reference par_partition_vertexseparator,
    // src/partition.c:854; A6 separator metrics S_ser_calc_vsep
    // src/partition.c:155-179). Hard invariants the oracle predicts:
    // totality (3 sides cover all vertices) and violations == 0 (no A–B
    // edge escapes the separator) — Spark computes violations from its OWN
    // labeling, so a broken separator fails the gate
    "q_vsep" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d)
      val where = gateVsep(s, d)
      val m = GraphOps.vsepMetrics(e, v.withColumn("vwgt", lit(1L)), where)
      m.select((col("n_a") + col("n_b") + col("n_sep")).as("n_total"),
        col("violations"))
    },
    // R4 flow family: the DISTRIBUTED greedy separator pass
    // (SeparatorRefine.refineGreedyDist, reference S_flow_GREEDY
    // src/vseprefine.c:482-623) applied on top of the ND separator — the
    // scale path used when the separator exceeds the gather bound. Gate:
    // totality preserved, zero A-B violations, separator never heavier
    // than its input (pass-granular FM rollback guarantees it)
    "q_vsep_flow" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d)
      val vw = v.withColumn("vwgt", lit(1L)).select(col("vid"), col("vwgt"))
      val where0 = gateVsep(s, d)
      val sep0 = GraphOps.vsepMetrics(e, vw, where0).head().getLong(3)
      val out = graft.partitioner.SeparatorRefine
        .refineGreedyDist(s, e, where0, vw)
      val m = GraphOps.vsepMetrics(e, vw, out)
      m.select((col("n_a") + col("n_b") + col("n_sep")).as("n_total"),
        col("violations"), (col("sep_weight") <= lit(sep0)).as("sep_no_worse"))
    },
    // R4: the separator refiner (SeparatorRefine.refine — segmented FM,
    // reference S_vseprefine_SFM src/vseprefine.c:2207-2285 / S_flow_SFM
    // :771-1026, behind the SFG greedy fallback) applied again on the ND
    // separator — pulled vertices flow onward instead of locking. Same
    // hard gate: totality, zero violations, separator never heavier than
    // its input (move-ordered rollback)
    "q_vsep_sfm" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d)
      val vw = v.withColumn("vwgt", lit(1L)).select(col("vid"), col("vwgt"))
      val where0 = gateVsep(s, d)
      val sep0 = GraphOps.vsepMetrics(e, vw, where0).head().getLong(3)
      val out = graft.partitioner.SeparatorRefine.refine(s, e, where0, vw)
      val m = GraphOps.vsepMetrics(e, vw, out)
      m.select((col("n_a") + col("n_b") + col("n_sep")).as("n_total"),
        col("violations"), (col("sep_weight") <= lit(sep0)).as("sep_no_worse"))
    },
    // A10 internal/external vertex counts (par_graph_intext_vtx,
    // src/graph.c:3004-3042) under the deterministic pmod(vid, 4)
    // assignment — fully recomputable in SQL, so the METRIC itself is
    // value-gated (same pattern as q_cut_metrics_mod)
    "q_intext" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val a = EventsGraph.vertices(s, d)
        .select(col("vid"), pmod(col("vid"), lit(4)).cast("int").as("part"))
      GraphOps.intExtCounts(e, a)
    },
    // J7+R3: boundary-subgraph extraction + serial FM on a bisection.
    // Gate: totality, the cut of the pmod(vid, 2) start (recomputed by the
    // oracle) and the FM invariant cut_after <= cut_before against it
    "q_boundary_fm" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d).withColumn("vwgt", lit(1L))
      val a0 = v.select(col("vid"),
        pmod(col("vid"), lit(2)).cast("int").as("part"))
      val a1 = graft.partitioner.BoundaryFm.refineBisection(s, e, v, a0,
        ubFactor = 1.10)
      val c0 = GraphOps.edgeCut(e, a0)
      val c1 = GraphOps.edgeCut(e, a1)
      a1.agg(count(lit(1)).as("n_assigned"),
          countDistinct(col("vid")).as("n_distinct"))
        .withColumn("cut_before", lit(c0))
        .withColumn("cut_not_worse", lit(c1 <= c0))
    },
    "q_partition_quality" -> { (s, d) =>
      val e = EventsGraph.edges(s, d)
      val v = EventsGraph.vertices(s, d).withColumn("vwgt", lit(1L))
      val r = graft.partitioner.Multilevel.partition(s, e, v, 4, coarsenTo0 = 60)
      val n = v.count()
      // integrality allowance: with n/k vertices per part, one extra unit-
      // weight vertex costs k/n of imbalance — tiny graphs can't hit 1.03
      val bound = math.max(1.10, 1.0 + 2.0 * 4 / n)
      s.createDataFrame(Seq((n, 4L, r.imbalance <= bound)))
        .toDF("n_vertices", "n_parts", "balanced")
    },
    // ---- dedup / text analysis (training-data ops) ----
    "q_dedup_exact" -> ((s, d) => TextOps.dedupExact(docs(s, d))),
    "q_token_stats" -> ((s, d) => TextOps.tokenStats(docs(s, d))),
    "q_quality" -> ((s, d) => TextOps.qualityScore(docs(s, d))),
    "q_ngram_jaccard" -> ((s, d) =>
      TextOps.ngramJaccardPairs(docs(s, d), 3, 0.5, maxDf = NgramMaxDf)),
    "q_ngram_df_stats" -> ((s, d) =>
      TextOps.ngramDfStats(docs(s, d), 3, maxDf = NgramMaxDf)),
    "q_lang_id" -> ((s, d) => TextOps.langId(docs(s, d))),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d))),
    "q_minhash_pairs" -> ((s, d) =>
      NearDup.minhashLshPairs(docs(s, d), 64, 16, 3, 0.5)),
    "q_simhash" -> ((s, d) => NearDup.simhash(docs(s, d))),
    "q_simhash_pairs" -> ((s, d) => NearDup.simhashPairs(docs(s, d), 3)),
    // ---- multimodal columns (binary payload + typed metadata) ----
    "q_media_meta" -> ((s, d) =>
      Multimodal.metadata(Multimodal.mediaFromDocs(docs(s, d)))),
    "q_media_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaFromDocs(docs(s, d)), 66, 4)),
    // decode path: the feature VALUES come from the documented stub (no
    // codecs in this environment) — the gate checks the batch plumbing:
    // one row per media row, byte counts, fixed feature width
    "q_media_features" -> { (s, d) =>
      Multimodal.decodeStub(s, Multimodal.mediaFromDocs(docs(s, d)), dim = 8)
        .toDF()
        .select(col("doc_id"), col("media_type"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          size(col("features")).cast("bigint").as("dim"))
    },
    // ---- similarity search ----
    // embedding-cosine near-dup (the embedding leg of the dedup family):
    // axis-sign LSH buckets are SQL-replicable, so the FULL pipeline —
    // bucketing, candidate join, exact cosine re-rank — is value-gated.
    // The synthetic embeddings hold no true near-dups (max cosine ≈ 0.51),
    // so the gate takes the top-20 candidate pairs above a low τ
    "q_embed_neardup" -> ((s, d) =>
      Ann.cosinePairs(emb(s, d), 64, 0.2)
        .orderBy(col("cosine").desc, col("a"), col("b")).limit(20)),
    "q_knn_brute" -> ((s, d) => Ann.bruteForceTopK(emb(s, d), 5, 10)),
    "q_knn_lsh" -> ((s, d) => Ann.lshTopK(emb(s, d), 64, 5, 10)),
    // the gated IVF variant uses the seeded SQL-replicable quantizer, so
    // the full pipeline (centroids → lists → probe → re-rank) is value-
    // gated; the k-means flavour (ivfTopK) is recall-tested in ScalaTest
    "q_knn_ivf" -> ((s, d) => Ann.ivfTopKSeeded(s, emb(s, d), 64)),
    // k-means IVF recall gate: the quantizer itself has no SQL twin
    // (driver-side Lloyd), so the oracle-predictable value is the BOUND —
    // recall@5 of the k-means IVF (nprobe 8 of 16 lists) against the exact
    // brute-force top-5 on the same embeddings. Every input is
    // deterministic (seeded sample, seeded init, fixed Lloyd iterations,
    // synthetic data), so the measured recall is a constant per SF and the
    // gate is non-flaky; the raw recall goes out as a `knn_recall` event.
    "q_knn_ivf_kmeans" -> { (s, d) =>
      val e = emb(s, d)
      val kk = 5; val nQ = 10
      val truth = Ann.bruteForceTopK(e, kk, nQ)
        .select(col("qid"), col("neighbor"))
      val got = Ann.ivfTopK(s, e, 64, nLists = 16, nprobe = 8, k = kk,
        nQueries = nQ).select(col("qid"), col("neighbor"))
      val nTruth = truth.count()
      val nHits = truth.join(got, Seq("qid", "neighbor")).count()
      val recall = nHits.toDouble / math.max(1L, nTruth)
      graft.plans.Metrics.log("knn_recall", "query" -> "q_knn_ivf_kmeans",
        "k" -> kk, "recall" -> recall, "hits" -> nHits, "truth" -> nTruth)
      s.createDataFrame(Seq((nTruth, recall >= IvfKmeansRecallTau)))
        .toDF("n_truth", "recall_ge_tau")
    },
    // ---- generic relational coverage (scan/filter/agg/join/window/topk) --
    "q1_agg" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_rows"))),
    "q_join_topk" -> { (s, d) =>
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 4).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(10)
    },
    "q_window_sessions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("rn")).as("max_rn"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    }
  )

  // the vertex count every totality row predicts: users + tools
  private val NCte =
    """WITH n AS (
      |  SELECT (SELECT COUNT(DISTINCT user_id) FROM events)
      |       + (SELECT COUNT(DISTINCT event_type) FROM events) AS n)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_transcripts" -> Transcripts.fromEventsSql,
    "q_vertex_dict" ->
      s"""$NCte
        |SELECT n AS n_keys, n AS n_distinct, CAST(0 AS BIGINT) AS min_vid,
        |       n - 1 AS max_vid FROM n""".stripMargin,
    "q_edges" -> s"WITH e AS ($EC) SELECT src, dst, wgt FROM e ORDER BY src, dst",
    "q_metis_io" ->
      """WITH i AS (SELECT range AS i FROM range(20))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
        |       CAST(COUNT(*) AS BIGINT) AS n_edges,
        |       CAST(SUM(i % 5 + 1) AS BIGINT) AS total_vwgt,
        |       CAST(SUM(i % 3 + 1) AS BIGINT) AS total_wgt FROM i""".stripMargin,
    "q_snap_read" ->
      """WITH i AS (SELECT range AS i FROM range(20))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
        |       CAST(COUNT(*) AS BIGINT) AS n_edges,
        |       CAST(COUNT(*) AS BIGINT) AS total_wgt FROM i""".stripMargin,
    "q_hub_stats" ->
      s"""WITH ct0 AS (SELECT DISTINCT event_type AS tool, user_id FROM events)
         |SELECT tool, CAST(n_convs AS BIGINT) AS n_convs,
         |       CAST(n_convs * (n_convs - 1) / 2 AS BIGINT) AS clique_edges,
         |       CAST(n_convs - 1 AS BIGINT) AS kept_edges
         |FROM (SELECT tool, COUNT(*) AS n_convs FROM ct0 GROUP BY tool)
         |WHERE n_convs > ${EventsGraph.HubCap}""".stripMargin,
    "q_degrees" ->
      s"""WITH e_canon AS ($EC),
         |sym AS (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon)
         |SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg,
         |       CAST(SUM(wgt) AS BIGINT) AS wdeg
         |FROM sym GROUP BY src ORDER BY vid""".stripMargin,
    "q_edge_ranges" -> rangesSql,
    "q_csr_stats" ->
      s"""WITH e_canon AS ($EC),
         |sym AS (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon),
         |deg AS (SELECT src AS vid, COUNT(*) AS deg FROM sym GROUP BY src),
         |tot AS (SELECT CAST(SUM(deg) AS BIGINT) AS t FROM deg),
         |q AS (SELECT GREATEST(1, t // $NumRanges) AS quota FROM tot),
         |rng AS (
         |  SELECT vid, LEAST((cum - 1) // (SELECT quota FROM q), ${NumRanges - 1}) AS range_id
         |  FROM (SELECT vid, SUM(deg) OVER (ORDER BY vid
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM deg))
         |SELECT CAST(r.range_id AS BIGINT) AS block_id,
         |       CAST(COUNT(DISTINCT s.src) AS BIGINT) AS nvtxs,
         |       CAST(COUNT(*) AS BIGINT) AS nedges
         |FROM sym s JOIN rng r ON s.src = r.vid
         |GROUP BY r.range_id ORDER BY block_id""".stripMargin,
    "q_pagerank" -> PageRank.oracleSql(EC, VC, 0.85, 5, 9),
    "q_pagerank_direct" -> PageRank.oracleSql(EC, VC, 0.85, 5, 6),
    "q_csr_edge_stats" ->
      s"""WITH e_canon AS ($EC),
         |sym AS (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon),
         |deg AS (SELECT src AS vid, COUNT(*) AS deg FROM sym GROUP BY src),
         |tot AS (SELECT CAST(SUM(deg) AS BIGINT) AS t FROM deg),
         |q AS (SELECT GREATEST(1, (t + $NumRanges - 1) // $NumRanges) AS quota FROM tot),
         |offs AS (SELECT vid, COALESCE(SUM(deg) OVER (ORDER BY vid
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM deg),
         |blk AS (
         |  SELECT s.src, LEAST((o.off + ROW_NUMBER() OVER (PARTITION BY s.src ORDER BY s.dst) - 1)
         |           // (SELECT quota FROM q), ${NumRanges - 1}) AS block_id
         |  FROM sym s JOIN offs o ON s.src = o.vid)
         |SELECT CAST(block_id AS BIGINT) AS block_id,
         |       CAST(COUNT(DISTINCT src) AS BIGINT) AS nvtxs,
         |       CAST(COUNT(*) AS BIGINT) AS nedges
         |FROM blk GROUP BY block_id ORDER BY block_id""".stripMargin,
    "q_cc_hashmin" -> ConnectedComponents.hashMinOracleSql(EC, VC, 10),
    "q_cc" ->
      s"""WITH RECURSIVE e_canon AS ($EC),
         |verts AS ($VC),
         |sym AS (SELECT src, dst FROM e_canon UNION ALL SELECT dst, src FROM e_canon),
         |reach(vid, comp) AS (
         |  SELECT vid, vid AS comp FROM verts
         |  UNION
         |  SELECT s.dst AS vid, r.comp
         |  FROM sym s JOIN reach r ON s.src = r.vid
         |  WHERE r.comp < s.dst)
         |SELECT vid, CAST(MIN(comp) AS BIGINT) AS component
         |FROM reach GROUP BY vid ORDER BY vid""".stripMargin,
    "q_labelprop" -> LabelPropagation.oracleSql(EC, VC, 4),
    "q_triangles" -> Triangles.oracleSql(EC),
    "q_triangles_pv" -> Triangles.perVertexOracleSql(EC, VC),
    "q_twins" ->
      s"""WITH e_canon AS ($EC),
         |f AS (SELECT * FROM e_canon WHERE wgt >= $StrongTie),
         |s AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
         |sig AS (SELECT src AS vid,
         |  md5(string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst)) AS sig
         |  FROM s GROUP BY src)
         |SELECT sig, count(*) AS n_twins, min(vid) AS min_vid
         |FROM sig GROUP BY sig HAVING count(*) >= 2 ORDER BY sig""".stripMargin,
    "q_leaf_pairs" ->
      s"""WITH e_canon AS ($EC),
         |f AS (SELECT * FROM e_canon WHERE wgt >= $StrongTie),
         |s AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
         |d AS (SELECT src AS vid, count(*) AS deg FROM s GROUP BY src),
         |l AS (SELECT s.src AS leaf, s.dst AS parent,
         |        row_number() OVER (PARTITION BY s.dst ORDER BY s.src) AS r
         |      FROM s JOIN d ON s.src = d.vid WHERE d.deg = 1),
         |p AS (SELECT parent, (r - 1) // 2 AS pid, min(leaf) AS u,
         |        max(leaf) AS v, count(*) AS n
         |      FROM l GROUP BY parent, (r - 1) // 2)
         |SELECT u, v FROM p WHERE n = 2 ORDER BY u""".stripMargin,
    "q_clustering" ->
      s"""WITH e_canon AS ($EC),
         |f AS (SELECT * FROM e_canon WHERE wgt >= $StrongTie),
         |v AS (SELECT DISTINCT vid FROM
         |  (SELECT src AS vid FROM f UNION ALL SELECT dst AS vid FROM f)),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
         |SELECT n AS n_vertices, n AS n_mapped,
         |  CAST(0 AS BIGINT) AS overweight,
         |  CAST(0 AS BIGINT) AS nonroot_labels FROM n""".stripMargin,
    "q_visit_order" ->
      s"""WITH e_canon AS ($EC),
         |s AS (SELECT src, dst FROM e_canon UNION ALL SELECT dst, src FROM e_canon),
         |d AS (SELECT src AS vid, count(*) AS deg FROM s GROUP BY src),
         |a AS (SELECT CAST(floor(0.7 * avg(deg)) AS BIGINT) + 1 AS cap FROM d)
         |SELECT vid, least(deg, cap) AS capped_deg,
         |  CAST(row_number() OVER (ORDER BY least(deg, cap),
         |    (vid * 2654435761) % 2147483647, vid) AS BIGINT) AS visit_rank
         |FROM d, a ORDER BY vid""".stripMargin,
    "q_cut_metrics_mod" ->
      s"""WITH e_canon AS ($EC),
         |cut AS (SELECT CAST(COALESCE(SUM(wgt), 0) AS BIGINT) AS edge_cut
         |        FROM e_canon WHERE src % 4 <> dst % 4),
         |sym AS (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon),
         |vol AS (SELECT CAST(COALESCE(SUM(ext), 0) AS BIGINT) AS comm_volume FROM (
         |  SELECT src, COUNT(DISTINCT dst % 4) AS ext FROM sym
         |  WHERE src % 4 <> dst % 4 GROUP BY src))
         |SELECT cut.edge_cut, vol.comm_volume FROM cut, vol""".stripMargin,
    "q_cut_unweighted" ->
      s"""WITH e_canon AS ($EC),
         |cut AS (SELECT CAST(COUNT(*) AS BIGINT) AS edge_cut
         |        FROM e_canon WHERE src % 4 <> dst % 4),
         |sym AS (SELECT src, dst FROM e_canon UNION ALL SELECT dst, src FROM e_canon),
         |vol AS (SELECT CAST(COALESCE(SUM(ext), 0) AS BIGINT) AS comm_volume FROM (
         |  SELECT src, COUNT(DISTINCT dst % 4) AS ext FROM sym
         |  WHERE src % 4 <> dst % 4 GROUP BY src))
         |SELECT cut.edge_cut, vol.comm_volume FROM cut, vol""".stripMargin,
    "q_partition_quality" ->
      """SELECT (SELECT COUNT(DISTINCT user_id) FROM events)
        |     + (SELECT COUNT(DISTINCT event_type) FROM events) AS n_vertices,
        |     CAST(4 AS BIGINT) AS n_parts, TRUE AS balanced""".stripMargin,
    "q_partition_kway" ->
      s"""$NCte
        |SELECT n AS n_assigned, n AS n_distinct,
        |       CAST(0 AS BIGINT) AS out_of_range,
        |       CAST(0 AS BIGINT) AS n_missing FROM n""".stripMargin,
    "q_partition_rb" ->
      s"""$NCte
        |SELECT n AS n_assigned, n AS n_distinct,
        |       CAST(0 AS BIGINT) AS out_of_range,
        |       CAST(0 AS BIGINT) AS n_missing FROM n""".stripMargin,
    "q_partition_mc" ->
      s"""$NCte
        |SELECT n AS n_assigned, n AS n_distinct,
        |       CAST(0 AS BIGINT) AS out_of_range,
        |       CAST(0 AS BIGINT) AS n_missing, TRUE AS mc_sane FROM n""".stripMargin,
    "q_nd_perm" ->
      s"""$NCte
        |SELECT n AS n_vertices, n AS n_distinct_perm,
        |       CAST(0 AS BIGINT) AS min_perm, n - 1 AS max_perm FROM n""".stripMargin,
    "q_vsep" ->
      s"""$NCte
        |SELECT n AS n_total, CAST(0 AS BIGINT) AS violations FROM n""".stripMargin,
    "q_vsep_flow" ->
      s"""$NCte
        |SELECT n AS n_total, CAST(0 AS BIGINT) AS violations,
        |       TRUE AS sep_no_worse FROM n""".stripMargin,
    "q_vsep_sfm" ->
      s"""$NCte
        |SELECT n AS n_total, CAST(0 AS BIGINT) AS violations,
        |       TRUE AS sep_no_worse FROM n""".stripMargin,
    "q_intext" ->
      s"""WITH e_canon AS ($EC), v AS ($VC),
         |sym AS (SELECT src, dst FROM e_canon
         |        UNION ALL SELECT dst, src FROM e_canon),
         |ext AS (SELECT src AS vid,
         |               MAX(CASE WHEN src % 4 <> dst % 4 THEN 1 ELSE 0 END) AS is_ext
         |        FROM sym GROUP BY src)
         |SELECT CAST(v.vid % 4 AS INT) AS part,
         |       CAST(SUM(CASE WHEN COALESCE(ext.is_ext, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_internal,
         |       CAST(SUM(COALESCE(ext.is_ext, 0)) AS BIGINT) AS n_external
         |FROM v LEFT JOIN ext ON v.vid = ext.vid
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_boundary_fm" ->
      s"""$NCte,
        |e_canon AS ($EC),
        |cut AS (SELECT CAST(COALESCE(SUM(wgt), 0) AS BIGINT) AS cut_before
        |        FROM e_canon WHERE src % 2 <> dst % 2)
        |SELECT n AS n_assigned, n AS n_distinct, cut.cut_before,
        |       TRUE AS cut_not_worse FROM n, cut""".stripMargin,
    "q_embed_neardup" -> {
      val bucketExpr = (0 until 8).map(j =>
        s"(CASE WHEN embedding[tno*8+${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tbl AS (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS tno),
         |b AS (SELECT vec_id, tno, ($bucketExpr) AS bucket
         |      FROM embeddings CROSS JOIN tbl),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |         FROM b x JOIN b y
         |           ON x.tno = y.tno AND x.bucket = y.bucket
         |          AND x.vec_id < y.vec_id),
         |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sims AS (SELECT c.a, c.b,
         |                ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 3) AS cosine
         |         FROM cand c
         |         JOIN e2 ea ON ea.vec_id = c.a
         |         JOIN e2 eb ON eb.vec_id = c.b)
         |SELECT a, b, cosine FROM sims WHERE cosine >= 0.2
         |ORDER BY cosine DESC, a, b LIMIT 20""".stripMargin
    },
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY text_md5""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |       ROUND(CAST(LENGTH(text) - LEN(STRING_SPLIT(text, ' ')) + 1 AS DOUBLE)
        |             / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |  CAST(LEN(toks) AS BIGINT) AS n_tokens,
        |  CAST(LEN(LIST_FILTER(LIST_DISTINCT(toks),
        |       x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop_kinds,
        |  CAST(LEN(toks) - LEN(LIST_DISTINCT(toks)) AS BIGINT) AS n_repeats,
        |  ROUND(CAST(LEN(toks) - LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 6)
        |       AS repeat_ratio
        |FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH g0 AS (
        |  SELECT DISTINCT d.doc_id, SUBSTR(d.text, CAST(u.i AS INT), 3) AS gram
        |  FROM documents d,
        |       UNNEST(GENERATE_SERIES(1, GREATEST(1, LENGTH(d.text) - 2))) AS u(i)
        |  WHERE LENGTH(SUBSTR(d.text, CAST(u.i AS INT), 3)) = 3),
        |g AS (SELECT * FROM g0 WHERE gram NOT IN (
        |  SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) > $NgramMaxDf)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
        |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin,
    "q_ngram_df_stats" ->
      s"""WITH g AS (
        |  SELECT DISTINCT d.doc_id, SUBSTR(d.text, CAST(u.i AS INT), 3) AS gram
        |  FROM documents d,
        |       UNNEST(GENERATE_SERIES(1, GREATEST(1, LENGTH(d.text) - 2))) AS u(i)
        |  WHERE LENGTH(SUBSTR(d.text, CAST(u.i AS INT), 3)) = 3)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df,
        |       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS pairs_cut
        |FROM g GROUP BY gram HAVING COUNT(*) > $NgramMaxDf
        |ORDER BY gram""".stripMargin,
    "q_lang_id" -> langIdSql,
    "q_minhash_pairs" -> NearDup.minhashPairsOracleSql(64, 16, 3, 0.5),
    "q_simhash" -> NearDup.simhashOracleSql,
    "q_simhash_pairs" -> NearDup.simhashPairsOracleSql(3),
    "q_fingerprint" ->
      """SELECT doc_id,
        |  LIST_REDUCE(
        |    LIST_PREPEND(CAST(0 AS BIGINT),
        |      LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(text)),
        |        i -> CAST(ASCII(SUBSTR(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  CAST(OCTET_LENGTH(ENCODE(text)) % 640 + 16 AS BIGINT) AS width,
        |  CAST(OCTET_LENGTH(ENCODE(text)) % 480 + 16 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_frames" ->
      """WITH m AS (SELECT doc_id, UPPER(HEX(ENCODE(text))) AS hx,
        |                  OCTET_LENGTH(ENCODE(text)) AS n
        |           FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, hx,
        |        UNNEST(LIST_FILTER(GENERATE_SERIES(0,
        |          CAST(CEIL(n / 66.0) AS INT) - 1), i -> i % 4 = 0)) AS fi
        |      FROM m)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |       MD5(SUBSTRING(hx, CAST(fi * 132 + 1 AS INT), 132)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_features" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  CAST(8 AS BIGINT) AS dim
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_knn_lsh" -> Ann.lshOracleSql(64, 5, 10),
    "q_knn_ivf" -> Ann.ivfSeededOracleSql(),
    // the k-means quantizer has no SQL twin; the oracle pins the recall
    // BOUND and the truth-set size: per query (vec_id < 10), the top-5
    // cut of its candidates (vec_id >= 0, every vector but itself)
    "q_knn_ivf_kmeans" ->
      """SELECT CAST(COALESCE(SUM(LEAST(5, (SELECT COUNT(*) FROM embeddings c
        |    WHERE c.vec_id >= 0 AND c.vec_id <> q.vec_id))), 0)
        |  AS BIGINT) AS n_truth,
        |  CAST(1 AS BOOLEAN) AS recall_ge_tau
        |FROM embeddings q WHERE q.vec_id < 10""".stripMargin,
    "q_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |         ROUND(LIST_COSINE_SIMILARITY(q.v, e.v), 3) AS cosine
        |  FROM e q JOIN e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cosine DESC, vec_id) AS rnk
        |  FROM sims)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id AS neighbor, cosine
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_topk" ->
      """SELECT c.c_custkey, c.c_name,
        |       ROUND(SUM(o.o_totalprice), 4) AS total_spent,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY total_spent DESC, c.c_custkey LIMIT 10""".stripMargin,
    "q_window_sessions" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(rn) AS BIGINT) AS max_rn,
        |       MIN(ts) AS first_ts, MAX(ts) AS last_ts
        |FROM (SELECT user_id, ts,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin
  )

  private def rangesSql: String =
    s"""WITH e_canon AS ($EC),
       |sym AS (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon),
       |deg AS (SELECT src AS vid, COUNT(*) AS deg FROM sym GROUP BY src),
       |tot AS (SELECT CAST(SUM(deg) AS BIGINT) AS t FROM deg),
       |q AS (SELECT GREATEST(1, t // $NumRanges) AS quota FROM tot)
       |SELECT vid, CAST(LEAST((cum - 1) // (SELECT quota FROM q), ${NumRanges - 1}) AS BIGINT) AS range_id
       |FROM (SELECT vid, SUM(deg) OVER (ORDER BY vid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM deg)
       |ORDER BY vid""".stripMargin

  private def langIdSql: String = {
    // per-lang distinct-marker hit counts; argmax with tie -> greatest lang
    // string (matches the Scala struct-max tie-break)
    val langs = TextOps.LangMarkers.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (lang, ms) =>
      val set = ms.map(m => s"'${m}'").mkString(", ")
      s"CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')), x -> x IN ($set))) AS BIGINT) AS h_$lang"
    }.mkString(",\n  ")
    // descending lang order: a lang wins ties against all earlier ones
    val desc = langs.map(_._1).sorted.reverse
    val caseExpr = desc.init.map { l =>
      val others = desc.filter(_ != l).map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("\n    ")
    val scoreCase = desc.init.map { l =>
      val others = desc.filter(_ != l).map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $others THEN h_$l"
    }.mkString("\n    ")
    s"""WITH h AS (SELECT doc_id, lang AS labeled_lang,
       |  $hitCols
       |FROM documents)
       |SELECT doc_id, labeled_lang,
       |  CASE $caseExpr ELSE '${desc.last}' END AS predicted_lang,
       |  CASE $scoreCase ELSE h_${desc.last} END AS score
       |FROM h ORDER BY doc_id""".stripMargin
  }
}
