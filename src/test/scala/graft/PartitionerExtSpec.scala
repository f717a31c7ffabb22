package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps
import graft.partitioner.{Matching, Multilevel, NestedDissection, Recursive, Refinement}

/** Round-2 partitioner surface: multi-constraint weights (reference ncon,
  * src/graph.h:44), island split/restore (F4, src/graph.c:3104-3382), RM
  * matching (src/aggregate.c:1133-1311), best-of-nruns (P11,
  * src/partition.c:501-596), the min-weight floor
  * (src/kwayrefine.c:1056-1059), recursive bisection
  * (MTMETIS_PartGraphRecursive, src/mtmetis.c:362-391) and nested
  * dissection (MTMETIS_NodeND, src/mtmetis.c:426-461, W2 numbering
  * src/order.c:155-159).
  */
class PartitionerExtSpec extends SparkSpec {

  private def mcVerts(vids: Seq[Long]) =
    spark.createDataFrame(vids.map(v => Tuple1(v))).toDF("vid")
      .select(col("vid"), array(lit(1L), pmod(col("vid"), lit(2L))).as("vwgts"))

  test("multi-constraint: both constraints balanced end-to-end") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val k = 4
    val r = Multilevel.partitionMC(spark, edgesDf(e), mcVerts(vids), k,
      ncon = 2, coarsenTo0 = 60)
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "totality")
    // c0 (unit) balance within ub + integrality
    assert(r.imbalance <= 1.03 + 2.0 * k / vids.size + 1e-9,
      s"c0 imbalance ${r.imbalance}")
    // c1 (parity) may drift but must stay bounded — the MC machinery caps
    // every move against BOTH constraints' bounds
    val tv1 = vids.count(_ % 2 == 1).toDouble
    val pw1 = parts.toSeq.groupBy(_._2)
      .map { case (_, g) => g.map(_._1 % 2).sum.toDouble }
    assert(pw1.max * k / tv1 <= 1.35, s"c1 imbalance ${pw1.max * k / tv1}")
  }

  test("multi-constraint matching cap blocks on the second constraint") {
    // edge (1,2): c0 fine (2+2 <= 100) but c1 = 60+60 > 100 -> no merge
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (2L, 3L, 1L))
    val vw = spark.createDataFrame(Seq(
      (0L, Seq(2L, 1L)), (1L, Seq(2L, 60L)), (2L, Seq(2L, 60L)),
      (3L, Seq(2L, 1L)))).toDF("vid", "vwgts")
    val cmap = Matching.cmapMC(edgesDf(e), vw, Array(100L, 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cmap(1L) != cmap(2L), "pair over the c1 cap must not merge")
  }

  test("RM matching produces a valid matching") {
    val e = Fixtures.zipf(200)
    val vids = Fixtures.vertsOf(e)
    val vw = spark.createDataFrame(vids.map(v => (v, Seq(1L)))).toDF("vid", "vwgts")
    val cmap = Matching.cmapMC(edgesDf(e), vw, Array(100L),
      scheme = Matching.RM, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cmap.keySet == vids.toSet)
    val clusters = cmap.groupBy(_._2).map(_._2.size)
    assert(clusters.max <= 2)
    val edgeSet = e.map(t => (t._1, t._2)).toSet
    val pairs = cmap.groupBy(_._2).values.filter(_.size == 2)
      .map(g => { val s = g.keys.toSeq.sorted; (s(0), s(1)) })
    assert(pairs.forall(edgeSet.contains), "RM matches cross real edges only")
    assert(pairs.nonEmpty, "RM must match something on a dense graph")
  }

  test("islands are split off and restored into underweight parts (F4)") {
    val (e, vids) = Fixtures.withIslands(120)
    val vw = spark.createDataFrame(vids.map(v => (v, 1L))).toDF("vid", "vwgt")
    val k = 4
    val r = Multilevel.partition(spark, edgesDf(e), vw, k, coarsenTo0 = 40)
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "islands must be assigned too")
    assert(parts.values.forall(p => p >= 0 && p < k))
    assert(r.imbalance <= 1.03 + 2.0 * k / vids.size + 1e-9,
      s"imbalance ${r.imbalance} after island restore")
  }

  test("distributed result path: reported cut and imbalance recompute (F4)") {
    // serialGraphVertices = 0 skips the whole-graph serial dispatch, so
    // the islands are restored after the V-cycle and the finest level's
    // cut is reported as the final cut. The finest level refines serially
    // (4096) or through Refinement.refineMC (0), whose best pass supplies
    // the cut and the core part weights the islands are placed against
    val (e, vids) = Fixtures.withIslands(120)
    val k = 4
    val v = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    for (threshold <- Seq(4096L, 0L)) {
      val r = Multilevel.partitionMC(spark, edgesDf(e), v, k, ncon = 1,
        coarsenTo0 = 40, serialRefineThreshold = threshold,
        serialGraphVertices = 0L)
      val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      assert(parts.keySet == vids.toSet, "islands must be assigned too")
      assert(r.cut == GraphOps.edgeCut(edgesDf(e), r.assign))
      assert(r.cut == Oracles.cut(e, parts))
      val imb = Oracles.imbalance(parts, vids.map(_ -> 1L).toMap, k)
      assert(math.abs(r.imbalance - imb) < 1e-12,
        s"threshold $threshold: reported ${r.imbalance}, recomputed $imb")
      val pw = r.assign.groupBy(col("part")).agg(count(lit(1)).as("pw"))
        .collect().map(x => x.getLong(1))
      assert(math.abs(r.imbalance - pw.max.toDouble * k / vids.size) < 1e-12,
        s"threshold $threshold: part weights ${pw.mkString(",")}")
    }
  }

  test("refinement respects the min-weight floor") {
    val e = Fixtures.grid4x4
    val vids = Fixtures.vertsOf(e)
    val vw = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    val bad = assignDf(vids.map(v => v -> (v % 2).toInt).toMap)
    val refined = Refinement.refineMC(spark, edgesDf(e), vw, bad, k = 2).assign
    val pw = refined.groupBy(col("part")).count().collect()
      .map(r => r.getLong(1))
    // target 8, ub 1.03: floor(8/1.03)=7, ceil(8*1.03)=9 (the admit cap
    // is floor(8*1.03)=8)
    assert(pw.forall(w => w >= 7 && w <= 9), s"part weights ${pw.mkString(",")}")
  }

  test("refineMC keeps a pass that fills a part to its admit bound") {
    // 100 unit vertices, k=2, ub=1.03: tgt·tv·ub = 51.5. Part 0 = {0..48}
    // (49), part 1 = {49..99} (51); two paths keep both sides internally
    // connected. 97, 98 and 99 each have two edges into part 0 and one to
    // 96: gain 1 toward part 0, and no other vertex has a positive gain.
    // Admitting under ceil(51.5) = 52 moved all three (part 0 = 52,
    // imbalance 1.04 > ub) and the pass was thrown away; under
    // floor(51.5) = 51 two move, imbalance 1.02, cut 6 -> 4
    val e = (0L until 48L).map(i => (i, i + 1, 1L)) ++
      (49L until 96L).map(i => (i, i + 1, 1L)) ++
      Seq(97L, 98L, 99L).flatMap { v =>
        val a = 2L * (v - 97L)
        Seq((a, v, 1L), (a + 1, v, 1L), (96L, v, 1L))
      }
    val vids = 0L until 100L
    val vw = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    val a0 = assignDf(vids.map(v => v -> (if (v < 49L) 0 else 1)).toMap)
    assert(Oracles.cut(e, vids.map(v => v -> (if (v < 49L) 0 else 1)).toMap) == 6)
    val r = Refinement.refineMC(spark, edgesDf(e), vw, a0, k = 2)
    val out = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(out.keySet == vids.toSet, "totality")
    val imb = Oracles.imbalance(out, vids.map(_ -> 1L).toMap, 2)
    assert(imb <= 1.03 + 1e-9, s"imbalance $imb over ub")
    assert(Oracles.cut(e, out) == 4, s"the pass must be kept: cut ${Oracles.cut(e, out)}")
    assert(r.cut == 4 && r.pwgts.toSeq == Seq(51L, 49L),
      s"reported cut ${r.cut}, part weights ${r.pwgts.mkString(",")}")
  }

  test("refineMC keeps a pass on a level that arrives over ub") {
    // 100 unit vertices, k=4, ub=1.03: parts of 26/25/25/24 along four
    // paths, so part 0 arrives at 26/25 = 1.04 (the serial levels admit up
    // to ceil(25.75) = 26). 75 (end of part 2's path) has two edges into
    // part 3: moving it cuts 2 -> 1 and leaves part 0 at 1.04. A pass that
    // does not worsen the arriving imbalance must be kept
    val start = (v: Long) => if (v < 26L) 0 else if (v < 51L) 1
      else if (v < 76L) 2 else 3
    val e = Seq((0L, 25L), (26L, 50L), (51L, 75L), (76L, 99L))
      .flatMap { case (a, b) => (a until b).map(i => (i, i + 1, 1L)) } ++
      Seq((75L, 76L, 1L), (75L, 77L, 1L))
    val vids = 0L until 100L
    val vw = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    val a0 = vids.map(v => v -> start(v)).toMap
    assert(Oracles.cut(e, a0) == 2)
    val out = Refinement.refineMC(spark, edgesDf(e), vw, assignDf(a0), k = 4)
      .assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val imb = Oracles.imbalance(out, vids.map(_ -> 1L).toMap, 4)
    assert(imb <= 1.04 + 1e-9, s"imbalance $imb over the arriving 1.04")
    assert(Oracles.cut(e, out) == 1, s"the pass must be kept: cut ${Oracles.cut(e, out)}")
  }

  test("best-of-nruns never loses to the single run (P11)") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val vw = spark.createDataFrame(vids.map(v => (v, 1L))).toDF("vid", "vwgt")
    val r1 = Multilevel.partition(spark, edgesDf(e), vw, 4, coarsenTo0 = 60)
    val r2 = Multilevel.partition(spark, edgesDf(e), vw, 4, coarsenTo0 = 60,
      nRuns = 2)
    assert(r2.cut <= r1.cut,
      s"best-of-2 (${r2.cut}) must be <= single run (${r1.cut})")
  }

  test("recursive bisection: bridge graph k=2 finds the unit cut") {
    val e = Fixtures.twoCliques
    val vw = spark.createDataFrame(Fixtures.vertsOf(e).map(v => (v, 1L)))
      .toDF("vid", "vwgt")
    val assign = Recursive.partition(spark, edgesDf(e), vw, 2)
    val a = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Oracles.cut(e, a) == 1L, "RB must find the bridge")
  }

  test("recursive bisection k=4: totality, range, quality, determinism") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val vw = spark.createDataFrame(vids.map(v => (v, 1L))).toDF("vid", "vwgt")
    val k = 4
    val a1 = Recursive.partition(spark, edgesDf(e), vw, k, coarsenTo0 = 60)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1.keySet == vids.toSet)
    assert(a1.values.forall(p => p >= 0 && p < k))
    assert(a1.values.toSet.size == k, "all parts used")
    // quality: comparable to the direct k-way serial oracle
    val g = graft.partitioner.InitialPartition.fromEdges(e.toArray,
      vids.map((_, 1L)).toArray)
    val oracleCut = graft.partitioner.InitialPartition.cutOf(g,
      graft.partitioner.InitialPartition.partition(g, k, 1.03))
    assert(Oracles.cut(e, a1) <= math.max(oracleCut * 2, oracleCut + 10),
      s"RB cut ${Oracles.cut(e, a1)} too far above k-way oracle $oracleCut")
    val a2 = Recursive.partition(spark, edgesDf(e), vw, k, coarsenTo0 = 60)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2, "same seed must reproduce")
  }

  test("nested dissection: output is a permutation; separator on top (W2)") {
    val e = Fixtures.twoCliques
    val v = vertsDf(Fixtures.vertsOf(e))
    val perm = NestedDissection.order(spark, edgesDf(e), v, leafSize = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perm.keySet == Fixtures.vertsOf(e).toSet)
    assert(perm.values.toSeq.sorted == (0L until 10L), "a permutation of 0..9")
    // the separator of the bridge bisection is one bridge endpoint — it
    // must take the highest label (reference perm[sep[i]] = --lastvtx)
    val top = perm.maxBy(_._2)._1
    assert(Set(0L, 5L).contains(top), s"top label on $top, not the bridge")
  }

  test("vertex separator: valid cover, both sides non-empty, small on bridge") {
    val e = Fixtures.twoCliques
    val v = vertsDf(Fixtures.vertsOf(e))
    val where = NestedDissection.vertexSeparator(spark, edgesDf(e), v)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(where.keySet == Fixtures.vertsOf(e).toSet, "totality")
    // invariant: no A-B edge escapes the separator
    val bad = e.filter { case (s, d, _) =>
      (where(s) == 0 && where(d) == 1) || (where(s) == 1 && where(d) == 0)
    }
    assert(bad.isEmpty, s"uncovered A-B edges: $bad")
    // bridge graph: one endpoint separates the cliques
    assert(where.values.count(_ == 2) == 1, "separator = 1 bridge endpoint")
    assert(where.values.count(_ == 0) >= 4 && where.values.count(_ == 1) >= 4)
  }

  test("boundary FM: extraction invariants + cut non-increase from bad split") {
    val e = Fixtures.grid4x4
    val vids = Fixtures.vertsOf(e)
    val v = vertsDf(vids).withColumn("vwgt", lit(1L))
    // interleaved-columns split: every vertex is boundary, cut = 16; the
    // optimal left/right halving has cut 4
    val a0 = spark.createDataFrame(vids.map(vid => (vid, (vid % 2).toInt)))
      .toDF("vid", "part")
    val c0 = GraphOps.edgeCut(edgesDf(e), a0)
    val a1 = graft.partitioner.BoundaryFm.refineBisection(spark, edgesDf(e),
      v, a0, ubFactor = 1.10)
    val parts = a1.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "totality after FM")
    val c1 = GraphOps.edgeCut(edgesDf(e), a1)
    assert(c1 < c0, s"FM must improve the interleaved split: $c0 -> $c1")
    val pw = parts.values.groupBy(identity).map(_._2.size)
    assert(pw.max <= math.ceil(vids.size / 2.0 * 1.10), "balance kept")
  }

  test("boundary FM: core super-vertices carry exact core weights") {
    val e = Fixtures.twoCliques
    val vids = Fixtures.vertsOf(e)
    val v = vertsDf(vids).withColumn("vwgt", lit(1L))
    val a = spark.createDataFrame(vids.map(vid => (vid, if (vid < 5) 0 else 1)))
      .toDF("vid", "part")
    val (bv, be) = graft.partitioner.BoundaryFm.extractBoundary(edgesDf(e), v, a)
    val rows = bv.collect().map(r => r.getLong(0) -> (r.getLong(1), r.get(2).toString.toInt))
    val m = rows.toMap
    // boundary of the bridge split = the two bridge endpoints
    assert(m.keySet == Set(0L, 5L, -1L, -2L), s"got ${m.keySet}")
    assert(m(-1L)._1 == 4L && m(-2L)._1 == 4L, "core weights = 4 each")
    // edges: bridge (0,5) kept; each endpoint's 4 clique edges collapse
    // onto its own core super-vertex with weight 4
    val em = be.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(em((0L, 5L)) == 1L, "bridge edge kept")
    assert(em.view.filterKeys(k => k._1 == 0L && k._2 == -1L).values.sum == 4L ||
      em.view.filterKeys(k => (k._1 == 0L && k._2 == -1L) || (k._1 == -1L && k._2 == 0L)).values.sum == 4L,
      s"clique edges collapsed: $em")
  }

  test("training-list constraint (S8 -l): in_train balanced end-to-end") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val k = 4
    // the reference's -l input: a text file of train vertex ids
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target", "tmp"))
    val path = dir.resolve("spec_train_list.txt")
    val train = vids.filter(v => v * 2654435761L % 97 < 32)
    java.nio.file.Files.write(path, train.mkString("", "\n", "\n").getBytes)
    val v = graft.sources.GraphFiles.readTrainingList(spark, path.toString,
        vertsDf(vids))
      .select(col("vid"), array(lit(1L), col("in_train")).as("vwgts"))
    val r = Multilevel.partitionMC(spark, edgesDf(e), v, k, ncon = 2,
      coarsenTo0 = 60)
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "totality")
    // the train constraint must balance within ub + integrality allowance
    val tv1 = train.size.toDouble
    val pw1 = (0 until k).map(p => train.count(parts(_) == p).toDouble)
    assert(pw1.max * k / tv1 <= 1.03 + 2.0 * k / tv1 + 1e-9,
      s"train imbalance ${pw1.max * k / tv1} (train=${train.size})")
  }

  test("distributed V-cycle (serial dispatch off) keeps quality bounds") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val k = 4
    val v = vertsDf(vids)
      .select(col("vid"), array(lit(1L)).as("vwgts"))
    val r = Multilevel.partitionMC(spark, edgesDf(e), v, k, ncon = 1,
      coarsenTo0 = 60, serialGraphVertices = 0L)
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "totality")
    assert(r.imbalance <= 1.03 + 2.0 * k / vids.size + 1e-9,
      s"imbalance ${r.imbalance}")
    val g = graft.partitioner.InitialPartition.fromEdges(e.toArray,
      vids.map((_, 1L)).toArray)
    val oracleCut = graft.partitioner.InitialPartition.cutOf(g,
      graft.partitioner.InitialPartition.partition(g, k, 1.03))
    assert(Oracles.cut(e, parts) <= math.max(oracleCut * 2, oracleCut + 10),
      s"distributed cut ${Oracles.cut(e, parts)} vs oracle $oracleCut")
  }

  test("fully-distributed refinement matches serial cut quality on a grid") {
    // the sibling test above leaves serialRefineThreshold at 4096, so on a
    // 300-vertex graph every level still refines via the gathered serial
    // FM — this one zeroes EVERY serial dispatch bound, forcing the BSP
    // bounded-admit refinement on every distributed level (hills run once,
    // on the gathered coarsest graph), and uses a structured graph (24x24 grid, ideal bisection cut 24) where
    // refinement quality actually shows (a zipf expander hides it)
    val n = 24
    val e: Seq[(Long, Long, Long)] = for {
      r <- 0 until n; c <- 0 until n
      (dr, dc) <- Seq((0, 1), (1, 0))
      if r + dr < n && c + dc < n
    } yield ((r * n + c).toLong, ((r + dr) * n + (c + dc)).toLong, 1L)
    val vids = (0L until (n * n).toLong)
    val v = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    val r = Multilevel.partitionMC(spark, edgesDf(e), v, 2, ncon = 1,
      coarsenTo0 = 60, serialRefineThreshold = 0L,
      serialGraphVertices = 0L, serialTailVertices = 0L)
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet, "totality")
    assert(r.imbalance <= 1.03 + 4.0 / (n * n) + 1e-9,
      s"imbalance ${r.imbalance}")
    val g = graft.partitioner.InitialPartition.fromEdges(e.toArray,
      vids.map((_, 1L)).toArray)
    val oracleCut = graft.partitioner.InitialPartition.cutOf(g,
      graft.partitioner.InitialPartition.partition(g, 2, 1.03))
    val distCut = Oracles.cut(e, parts)
    assert(distCut <= math.max(2 * oracleCut, oracleCut + 8),
      s"distributed cut $distCut vs serial oracle $oracleCut (ideal ${n})")
  }

  test("separator FM: strict shrink when a sep vertex has no far side") {
    // path 0-1-2 plus pendant 3 on vertex 0; labels A={0,3's side}, B={2}
    // cover left {1,3} in SEP but 3 has NO B-neighbor -> FM moves it to A
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 3L, 1L))
    val where0 = spark.createDataFrame(Seq(
      (0L, 0), (1L, 2), (2L, 1), (3L, 2))).toDF("vid", "side")
    val vw = vertsDf(Seq(0L, 1L, 2L, 3L)).withColumn("vwgt", lit(1L))
    val out = graft.partitioner.SeparatorRefine
      .refine(spark, edgesDf(e), where0, vw)
      .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    assert(out(3L) != 2, "pendant must leave the separator")
    assert(out.values.count(_ == 2) == 1, s"sep must shrink to {1}: $out")
    // invariant preserved
    val bad = e.filter { case (s, d, _) =>
      (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
    assert(bad.isEmpty, s"uncovered A-B edges: $bad")
  }

  test("distributed greedy separator (R4 flow): pendant leaves, validity holds") {
    // same fixture as the FM strict-shrink test: pendant 3 has no B-side
    // neighbor, so the one-sided greedy pass must move it out of SEP
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 3L, 1L))
    val where0 = spark.createDataFrame(Seq(
      (0L, 0), (1L, 2), (2L, 1), (3L, 2))).toDF("vid", "side")
    val vw = vertsDf(Seq(0L, 1L, 2L, 3L)).withColumn("vwgt", lit(1L))
    val out = graft.partitioner.SeparatorRefine
      .refineGreedyDist(spark, edgesDf(e), where0, vw)
      .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L), "totality")
    assert(out(3L) != 2, "pendant must leave the separator")
    assert(out.values.count(_ == 2) == 1, s"sep must shrink to one vertex: $out")
    val bad = e.filter { case (s, d, _) =>
      (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
    assert(bad.isEmpty, s"uncovered A-B edges: $bad")
  }

  test("distributed greedy separator: drains free movers under the balance cap") {
    // A={0}, B={1}, SEP={2..9}; only 0-2 and 1-3 edges. Every sep vertex
    // except 3 has gain 1 toward side A; maxSide=ceil(1.2*10/2)=6 caps the
    // first half-pass at 5 movers, the second half-pass (toward B) takes
    // the rest — separator fully drains, both sides within the cap
    val e = Seq((0L, 2L, 1L), (1L, 3L, 1L))
    val verts = (0L to 9L)
    val where0 = spark.createDataFrame(
      verts.map(v => (v, if (v == 0L) 0 else if (v == 1L) 1 else 2)))
      .toDF("vid", "side")
    val vw = vertsDf(verts).withColumn("vwgt", lit(1L))
    val outDf = graft.partitioner.SeparatorRefine
      .refineGreedyDist(spark, edgesDf(e), where0, vw)
    val out = outDf.collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    assert(out.keySet == verts.toSet, "totality")
    assert(out.values.count(_ == 2) == 0, s"separator must drain: $out")
    val sw = out.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(sw.getOrElse(0, 0) <= 6 && sw.getOrElse(1, 0) <= 6,
      s"balance cap 6 violated: $sw")
    val bad = e.filter { case (s, d, _) =>
      (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
    assert(bad.isEmpty, s"uncovered A-B edges: $bad")
  }

  test("distributed greedy separator: validity + no-worse on fixtures") {
    for (e <- Seq(Fixtures.grid4x4, Fixtures.twoCliques, Fixtures.zipf(120))) {
      val vids = Fixtures.vertsOf(e)
      val vw = vertsDf(vids).withColumn("vwgt", lit(1L))
      val where0 = NestedDissection.vertexSeparator(spark, edgesDf(e),
        vertsDf(vids))
      val sep0 = where0.filter(col("side") === 2).count()
      val out = graft.partitioner.SeparatorRefine
        .refineGreedyDist(spark, edgesDf(e), where0, vw)
        .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      assert(out.keySet == vids.toSet, "totality")
      assert(out.values.count(_ == 2) <= sep0,
        s"separator grew: ${out.values.count(_ == 2)} > $sep0")
      val bad = e.filter { case (s, d, _) =>
        (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
      assert(bad.isEmpty, s"uncovered A-B edges: $bad")
    }
  }

  test("segmented FM (SFM): flow shifts a corridor separator for balance") {
    // path 0-1-2-3-4, A={0}, SEP={1}, B={2,3,4}. The first flow half-pass
    // targets the lighter side A: it moves 1→A pulling 2 into the
    // separator (balance 2/2 at equal separator weight — kept as the best
    // state), then flows 2→A pulling 3 until A hits maxSide=3 and the
    // tail rolls back. Pull-and-lock FM cannot reach the 2/2 state: its
    // only move does not SHRINK the separator, so its rollback restores
    // the input. This is the semantics that distinguishes SFM from FM.
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val where0 = spark.createDataFrame(Seq(
      (0L, 0), (1L, 2), (2L, 1), (3L, 1), (4L, 1))).toDF("vid", "side")
    val vw = vertsDf(Seq(0L, 1L, 2L, 3L, 4L)).withColumn("vwgt", lit(1L))
    val out = graft.partitioner.SeparatorRefine
      .refine(spark, edgesDf(e), where0, vw)
      .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    assert(out == Map(0L -> 0, 1L -> 0, 2L -> 2, 3L -> 1, 4L -> 1),
      s"flow must shift the separator from vertex 1 to vertex 2: $out")
  }

  test("segmented FM (SFM): validity + no-worse on fixtures") {
    for (e <- Seq(Fixtures.grid4x4, Fixtures.twoCliques, Fixtures.zipf(120))) {
      val vids = Fixtures.vertsOf(e)
      val vw = vertsDf(vids).withColumn("vwgt", lit(1L))
      val where0 = NestedDissection.vertexSeparator(spark, edgesDf(e),
        vertsDf(vids))
      val sep0 = where0.filter(col("side") === 2).count()
      val out = graft.partitioner.SeparatorRefine
        .refine(spark, edgesDf(e), where0, vw)
        .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      assert(out.keySet == vids.toSet, "totality")
      assert(out.values.count(_ == 2) <= sep0,
        s"separator grew: ${out.values.count(_ == 2)} > $sep0")
      val bad = e.filter { case (s, d, _) =>
        (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
      assert(bad.isEmpty, s"uncovered A-B edges: $bad")
    }
  }

  test("SFG (reference parallel default): greedy+SFM drains free movers") {
    // same fixture as the greedy drain test, with the gather bound (4)
    // under the 10-vertex separator region: refine must take the SFG path,
    // whose greedy pass pair drains the separator under the balance cap;
    // the retried gather then finds an empty separator
    val e = Seq((0L, 2L, 1L), (1L, 3L, 1L))
    val verts = (0L to 9L)
    val where0 = spark.createDataFrame(
      verts.map(v => (v, if (v == 0L) 0 else if (v == 1L) 1 else 2)))
      .toDF("vid", "side")
    val vw = vertsDf(verts).withColumn("vwgt", lit(1L))
    val fb0 = graft.plans.Metrics.count("vsep_refine_dist_fallback")
    spark.conf.set("spark.graft.vsep.maxGather", "4")
    val out = try graft.partitioner.SeparatorRefine
      .refine(spark, edgesDf(e), where0, vw)
      .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    finally spark.conf.unset("spark.graft.vsep.maxGather")
    assert(graft.plans.Metrics.count("vsep_refine_dist_fallback") == fb0 + 1,
      "over the bound, refine must run SFG")
    assert(out.keySet == verts.toSet, "totality")
    assert(out.values.count(_ == 2) == 0, s"separator must drain: $out")
    val sw = out.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(sw.getOrElse(0, 0) <= 6 && sw.getOrElse(1, 0) <= 6,
      s"balance cap 6 violated: $sw")
    val bad = e.filter { case (s, d, _) =>
      (out(s) == 0 && out(d) == 1) || (out(s) == 1 && out(d) == 0) }
    assert(bad.isEmpty, s"uncovered A-B edges: $bad")
  }

  test("separator FM: never worse than the cover on fixtures") {
    for (e <- Seq(Fixtures.grid4x4, Fixtures.twoCliques, Fixtures.zipf(120))) {
      val vids = Fixtures.vertsOf(e)
      val where = NestedDissection.vertexSeparator(spark, edgesDf(e),
        vertsDf(vids))
        .collect().map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      assert(where.keySet == vids.toSet, "totality")
      val bad = e.filter { case (s, d, _) =>
        (where(s) == 0 && where(d) == 1) || (where(s) == 1 && where(d) == 0) }
      assert(bad.isEmpty, s"uncovered A-B edges: $bad")
    }
  }

  test("F2/F3 projections: -W unit weights, -V degree, -1 unit constraint") {
    val e = Seq((0L, 1L, 5L), (1L, 2L, 7L))
    val ew = GraphOps.ignoreWeights(edgesDf(e)).collect()
    assert(ew.forall(_.getLong(2) == 1L), "-W forces wgt 1")
    val v = spark.createDataFrame(Seq((0L, Seq(1L)), (1L, Seq(1L)),
      (2L, Seq(1L)), (9L, Seq(1L)))).toDF("vid", "vwgts")
    val vd = GraphOps.withDegreeConstraint(v, edgesDf(e))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(vd(1L) == Seq(1L, 2L), "-V appends degree")
    assert(vd(9L) == Seq(1L, 0L), "isolated vertex gets degree 0")
    val vu = GraphOps.withUnitConstraint(v)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(vu(1L) == Seq(1L, 1L), "-1 appends unit")
  }

  test("nested dissection distributed path: permutation + determinism") {
    val e = Fixtures.zipf(120)
    val vids = Fixtures.vertsOf(e)
    val v = vertsDf(vids)
    // tiny collectThreshold forces >= 2 distributed bisection levels
    val p1 = NestedDissection.order(spark, edgesDf(e), v,
      collectThreshold = 16, leafSize = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1.keySet == vids.toSet)
    assert(p1.values.toSeq.sorted == vids.indices.map(_.toLong),
      "a permutation of 0..n-1")
    val p2 = NestedDissection.order(spark, edgesDf(e), v,
      collectThreshold = 16, leafSize = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == p2, "deterministic")
  }
}
