package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.GraphOps
import graft.partitioner.{Contraction, InitialPartition, Matching, Multilevel, Refinement}

/** Multilevel-partitioner invariants mirroring the reference's assertion
  * suite: mutual matching / cluster size <= 2 (reference src/aggregate.c:
  * 354-388), weight conservation under contraction (src/check.c:303-414),
  * balance within ubfactor (src/ctrl.c:40), cut non-increase under
  * refinement, and end-to-end quality vs the serial oracle (best-of-8
  * greedy growing + refinement — the same scheme as the reference's
  * initial-partition stage P10).
  */
class PartitionerSpec extends SparkSpec {

  private def unitVerts(vids: Seq[Long]) =
    spark.createDataFrame(vids.map(v => (v, 1L))).toDF("vid", "vwgt")

  test("matching: every vertex mapped once, clusters <= 2, pairs are edges") {
    val e = Fixtures.zipf(200)
    val vids = Fixtures.vertsOf(e)
    val cmap = Matching.cmap(edgesDf(e), unitVerts(vids), maxVwgt = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cmap.keySet == vids.toSet, "every vertex mapped exactly once")
    val clusters = cmap.groupBy(_._2).map(_._2.size)
    assert(clusters.max <= 2, "a coarse vertex merges at most 2 fine vertices")
    // matched pairs (non-self clusters) must be actual edges
    val edgeSet = e.map(t => (t._1, t._2)).toSet
    val pairs = cmap.groupBy(_._2).values.filter(_.size == 2)
      .map(g => { val s = g.keys.toSeq.sorted; (s(0), s(1)) })
    assert(pairs.forall(edgeSet.contains), "matches cross real edges only")
    // coarse id = min of cluster (cmap convention)
    assert(cmap.groupBy(_._2).forall { case (c, g) => g.keys.min == c })
  }

  test("matching respects the vertex-weight cap (P7)") {
    // path of 4 with one huge vertex: 1 may not match 2 (weight 60+60 > 100)
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (2L, 3L, 1L))
    val vw = spark.createDataFrame(
      Seq((0L, 1L), (1L, 60L), (2L, 60L), (3L, 1L))).toDF("vid", "vwgt")
    val cmap = Matching.cmap(edgesDf(e), vw, maxVwgt = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cmap(1L) != cmap(2L), "over-cap pair must not merge")
  }

  test("SHEM handshakes until the level is unstalled, then stops (P4)") {
    // increasing weights: every vertex proposes up the path, so each round
    // leaves exactly one mutual pair, at the heavy end — (10,11), (8,9), ...
    val e = (0L until 11L).map(i => (i, i + 1, i + 1))
    val vids = Fixtures.vertsOf(e)
    def unmatched(cm: Map[Long, Long]) =
      cm.groupBy(_._2).count(_._2.size == 1).toLong
    val caps = Array(2L) // unit weights: only pairs fit
    val vw = spark.createDataFrame(vids.map(v => (v, Seq(1L))))
      .toDF("vid", "vwgts")
    // nVerts -1 runs the join path, a known count the driver-resident one
    for (nVerts <- Seq(-1L, 12L)) {
      val capped0 = graft.plans.Metrics.count("shem_round_cap")
      val two = Matching.cmapMC(edgesDf(e), vw, caps, rounds = 2,
        nVerts = nVerts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Matching.stalled(unmatched(two), 12L),
        s"nVerts=$nVerts: 2 rounds leave ${unmatched(two)}/12 unmatched")
      assert(graft.plans.Metrics.count("shem_round_cap") == capped0 + 1,
        "a stalled level that hits the round cap is counted")
      val (cmDf, ran, paired) = Matching.cmapRounds(edgesDf(e), vw, caps,
        nVerts = nVerts)
      val cm = cmDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ran == 5, s"nVerts=$nVerts: expected 5 rounds, ran $ran")
      assert(paired == 5L && paired == cm.count(kv => kv._1 != kv._2),
        s"nVerts=$nVerts: $paired pairs returned")
      assert(unmatched(cm) == 2L && !Matching.stalled(unmatched(cm), 12L))
      assert(graft.plans.Metrics.count("shem_round_cap") == capped0 + 1)
      // still a valid capped matching: total, pairs of 2 across real edges,
      // coarse id = min of the pair
      assert(cm.keySet == vids.toSet)
      val groups = cm.groupBy(_._2).values.map(_.keys.toSeq.sorted)
      assert(groups.forall(_.size <= 2))
      val edgeSet = e.map(t => (t._1, t._2)).toSet
      assert(groups.filter(_.size == 2).forall(g => edgeSet((g(0), g(1)))))
      assert(cm.groupBy(_._2).forall { case (c, g) => g.keys.min == c })
    }
  }

  /** A random level for the handshake property: Zipf-skewed endpoints
    * (hubs), spread-out vids with a fifth of them islands, two-constraint
    * weights under caps from 2 to 6 (tight: many edges are ineligible),
    * and a round cap from 1 to 8.
    */
  private val levelGen = for {
    n <- Gen.choose(20, 80)
    m <- Gen.choose(n, 4 * n)
    ends <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0.0, 1.0),
      Gen.choose(1L, 4L)))
    wgts <- Gen.listOfN(n + n / 5, Gen.zip(Gen.choose(1L, 3L), Gen.choose(1L, 3L)))
    caps <- Gen.zip(Gen.choose(2L, 6L), Gen.choose(2L, 6L))
    rounds <- Gen.choose(1, 8)
    seed <- Gen.long
  } yield {
    def vid(i: Int) = 7L + 3L * i
    val edges = ends.map { case (a, u, w) =>
      val b = (math.pow(u, 3) * n).toInt.min(n - 1)
      (vid(a min b), vid(a max b), w)
    }.filter(t => t._1 != t._2).groupBy(t => (t._1, t._2)).values
      .map(_.head).toSeq.sortBy(t => (t._1, t._2))
    val verts = wgts.zipWithIndex.map { case ((w1, w2), i) => (vid(i), Seq(w1, w2)) }
    (edges, verts, Array(caps._1, caps._2), rounds, seed)
  }

  test("driver-resident handshake equals the join path on random levels") {
    for (i <- 0 until 12) {
      val (e, verts, caps, rounds, seed) =
        levelGen.pureApply(Gen.Parameters.default, Seed(20261019L + i))
      val scheme = if (i % 2 == 0) Matching.SHEM else Matching.RM
      val name = scheme.toString.toLowerCase
      val vw = spark.createDataFrame(verts).toDF("vid", "vwgts")
      def run(nVerts: Long, symIn: DataFrame) = {
        val capped0 = graft.plans.Metrics.count(s"${name}_round_cap")
        val (df, ran, paired) = Matching.cmapRounds(edgesDf(e), vw, caps,
          rounds, scheme, seed, nVerts, symIn)
        val cm = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(paired == cm.count(kv => kv._1 != kv._2),
          s"case $i nVerts=$nVerts: returned $paired pairs")
        (cm, ran, graft.plans.Metrics.count(s"${name}_round_cap") - capped0)
      }
      val join = run(-1L, null)
      // the driver merge must not depend on how the adjacency is split:
      // half the cases scan a round-robin split instead of the src hash
      val sym = if (i % 4 < 2) null
        else GraphOps.symmetrize(edgesDf(e)).repartition(3).persist()
      val driver = run(verts.size.toLong, sym)
      if (sym != null) sym.unpersist()
      assert(driver == join, s"case $i ($scheme, ${e.size} edges, " +
        s"caps ${caps.mkString("/")}, rounds $rounds): paths differ")
      assert(join._1.keySet == verts.map(_._1).toSet)
    }
  }

  test("driver-resident handshake equals the join path with 300 srcs in one partition") {
    // a 300-vertex path plus weighted chords, scanned as ONE partition: its
    // per-partition proposal map starts at 256 slots and rehashes past 128
    // srcs, so the first round runs the rehash twice
    val rnd = new scala.util.Random(300L)
    val n = 300
    val chords = Seq.fill(600)((rnd.nextInt(n), rnd.nextInt(n), 1L + rnd.nextInt(4)))
    val e = ((0 until n - 1).map(i => (i, i + 1, 1L + rnd.nextInt(4))) ++ chords)
      .filter(t => t._1 != t._2)
      .map { case (a, b, w) => (11L + 5L * (a min b), 11L + 5L * (a max b), w) }
      .groupBy(t => (t._1, t._2)).values.map(_.head).toSeq
    val vw = spark.createDataFrame((0 until n).map(i => (11L + 5L * i, Seq(1L, 1L))))
      .toDF("vid", "vwgts")
    val sym = GraphOps.symmetrize(edgesDf(e)).repartition(1).persist()
    for (scheme <- Seq(Matching.SHEM, Matching.RM)) {
      def run(nVerts: Long, symIn: DataFrame) = {
        val (df, ran, paired) = Matching.cmapRounds(edgesDf(e), vw,
          Array(2L, 2L), scheme = scheme, nVerts = nVerts, symIn = symIn)
        (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, ran, paired)
      }
      val join = run(-1L, null)
      val driver = run(n.toLong, sym)
      assert(driver == join, s"$scheme: paths differ")
      assert(join._3 > 100L && join._3 == join._1.count(kv => kv._1 != kv._2),
        s"$scheme: ${join._3} pairs")
    }
    sym.unpersist()
  }

  test("contraction conserves weights and drops only internal edges (A1)") {
    val e = Fixtures.zipf(150)
    val vids = Fixtures.vertsOf(e)
    val cmapDf = Matching.cmap(edgesDf(e), unitVerts(vids), maxVwgt = 100L)
    val (ce, cv) = Contraction.contract(edgesDf(e), unitVerts(vids), cmapDf)
    val cmap = cmapDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fineTotal = e.map(_._3).sum
    val internal = e.filter(t => cmap(t._1) == cmap(t._2)).map(_._3).sum
    val coarseTotal = ce.agg(coalesce(sum(col("wgt")), lit(0L))).head().getLong(0)
    assert(coarseTotal == fineTotal - internal,
      "edge weight conserved minus intra-cluster edges")
    val coarseVwgt = cv.agg(sum(col("vwgt"))).head().getLong(0)
    assert(coarseVwgt == vids.size.toLong, "vertex weight conserved")
    assert(ce.filter(col("src") >= col("dst")).count() == 0, "canonical + no loops")
    // parallel edges merged: (src,dst) unique
    assert(ce.groupBy(col("src"), col("dst")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("serial initial partition: K5-K5 bridge found, balance respected") {
    val e = Fixtures.twoCliques
    val vids = Fixtures.vertsOf(e)
    val g = InitialPartition.fromEdges(e.toArray, vids.map((_, 1L)).toArray)
    val where = InitialPartition.partition(g, k = 2, ubFactor = 1.03)
    assert(InitialPartition.cutOf(g, where) == 1L, "mincut = the bridge")
    val sizes = where.groupBy(identity).map(_._2.size)
    assert(sizes.toSet == Set(5), "perfect 5/5 balance")
  }

  test("distributed refinement only improves the cut and keeps balance") {
    val e = Fixtures.grid4x4
    val vids = Fixtures.vertsOf(e)
    val vw = unitVerts(vids)
    // deliberately bad but balanced start: odd/even interleave, cut = 18
    val bad = assignDf(vids.map(v => v -> (v % 2).toInt).toMap)
    val cut0 = GraphOps.edgeCut(edgesDf(e), bad)
    val r = Refinement.refineMC(spark, edgesDf(e),
      vw.select(col("vid"), array(col("vwgt")).as("vwgts")), bad, k = 2)
    val refined = r.assign
    val cut1 = GraphOps.edgeCut(edgesDf(e), refined)
    assert(cut1 <= cut0, s"refinement must not worsen the cut ($cut0 -> $cut1)")
    assert(r.cut == cut1, s"reported cut ${r.cut}, recomputed $cut1")
    assert(GraphOps.imbalance(refined, vw, 2) <= 1.03 + 2.0 / 16 + 1e-9)
    assert(refined.count() == 16, "assignment stays total")
  }

  test("multilevel end-to-end: quality vs serial oracle, balance, determinism") {
    val e = Fixtures.zipf(300)
    val vids = Fixtures.vertsOf(e)
    val vw = unitVerts(vids)
    val k = 4
    val r = Multilevel.partition(spark, edgesDf(e), vw, k, coarsenTo0 = 60)
    assert(r.levels >= 1, "graph of 300 must coarsen at least one level")
    // total assignment, parts in range
    val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts.keySet == vids.toSet)
    assert(parts.values.forall(p => p >= 0 && p < k))
    // balance within ubfactor + integrality allowance
    assert(r.imbalance <= 1.03 + 2.0 * k / vids.size + 1e-9,
      s"imbalance ${r.imbalance}")
    // quality: within 1.5x of the serial oracle on the same graph
    val g = InitialPartition.fromEdges(e.toArray, vids.map((_, 1L)).toArray)
    val oracleCut = InitialPartition.cutOf(g,
      InitialPartition.partition(g, k, 1.03))
    assert(r.cut <= math.max(oracleCut * 3 / 2, oracleCut + 5),
      s"cut ${r.cut} too far above serial oracle $oracleCut")
    // determinism: same seed -> identical assignment
    val r2 = Multilevel.partition(spark, edgesDf(e), vw, k, coarsenTo0 = 60)
    val parts2 = r2.assign.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(parts == parts2, "same seed must reproduce the assignment")
  }

  test("multilevel on the bridge graph finds the unit cut") {
    val e = Fixtures.twoCliques
    val vw = unitVerts(Fixtures.vertsOf(e))
    val r = Multilevel.partition(spark, edgesDf(e), vw, 2)
    assert(r.cut == 1L, s"expected the bridge cut, got ${r.cut}")
    assert(math.abs(r.imbalance - 1.0) < 1e-9)
  }
}
