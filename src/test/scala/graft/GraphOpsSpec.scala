package graft

import org.apache.spark.sql.functions._
import graft.operators.{Csr, GraphOps}

/** Graph-core invariants mirroring the reference's check_graph deep checks
  * (reference src/check.c:303-414): symmetry, degree/weight totals, metric
  * agreement with brute force, and the edge-balanced placement property (P1).
  */
class GraphOpsSpec extends SparkSpec {

  test("degrees on the star: hub deg 16, leaves deg 1; wdeg respects weights") {
    val m = GraphOps.degrees(edgesDf(Fixtures.star17)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(0L) == ((16L, 16L)))
    assert((1L to 16L).forall(v => m(v) == ((1L, 1L))))
  }

  test("edgeCut and commVolume match brute force under a fixed assignment") {
    val e = Fixtures.zipf(120)
    val verts = Fixtures.vertsOf(e)
    val assign = verts.map(v => v -> (v % 4).toInt).toMap
    val cut = GraphOps.edgeCut(edgesDf(e), assignDf(assign))
    assert(cut == Oracles.cut(e, assign))
    // comm volume >= #cut-crossing vertices and <= cut edge endpoints
    val vol = GraphOps.commVolume(edgesDf(e), assignDf(assign))
    val volOracle = {
      val sym = e.flatMap(t => Seq((t._1, t._2), (t._2, t._1)))
      sym.filter { case (s, d) => assign(s) != assign(d) }
        .groupBy(_._1).map { case (_, g) => g.map(p => assign(p._2)).distinct.size }
        .sum.toLong
    }
    assert(vol == volOracle)
  }

  test("imbalance of a perfectly balanced unit-weight assignment is 1.0") {
    val verts = (0L until 20L)
    val vw = spark.createDataFrame(verts.map(v => (v, 1L))).toDF("vid", "vwgt")
    val assign = assignDf(verts.map(v => v -> (v % 4).toInt).toMap)
    assert(math.abs(GraphOps.imbalance(assign, vw, 4) - 1.0) < 1e-12)
  }

  test("edge-balanced ranges: every vid covered, load within quota + maxdeg (P1)") {
    val e = Fixtures.zipf(300)
    val df = edgesDf(e)
    val numRanges = 8
    val bounds = GraphOps.edgeBalancedRanges(df, numRanges)
    assert(bounds.length <= numRanges && bounds.nonEmpty)
    val deg = GraphOps.degrees(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = deg.values.sum
    val quota = math.max(1L, total / numRanges)
    val maxDeg = deg.values.max
    // reconstruct range loads using the same boundary rule
    def rid(v: Long): Int = bounds.indexWhere(v <= _) match {
      case -1 => bounds.length - 1
      case i  => i
    }
    val loads = deg.groupBy { case (v, _) => rid(v) }.map(_._2.values.sum)
    assert(loads.max <= quota + maxDeg,
      s"range load ${loads.max} exceeds quota $quota + maxdeg $maxDeg")
    // rangeIdFor column agrees with the driver-side binary search
    val colIds = GraphOps.degrees(df)
      .select(col("vid"), GraphOps.rangeIdFor(col("vid"), bounds).as("rid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(deg.keys.forall(v => colIds(v) == rid(v)))
  }

  test("splitIslands: degree-0 vertices separated and restorable (F4)") {
    val e = Fixtures.path8
    val verts = vertsDf((0L until 12L))
    val (connected, islands) = GraphOps.splitIslands(verts, edgesDf(e))
    assert(connected.count() == 8 && islands.count() == 4)
    assert(connected.unionByName(islands).count() == 12)
  }

  /** Structure every CSR block layout has: 2|E| directed rows, vids
    * strictly ascending within a block, in-range tiled edge arrays whose
    * `(vids(srcT), dstVids(dstT))` pairs are symmetric, local weighted
    * degrees that sum the block's rows, and every vertex's degree —
    * summed over its split copies — equal to its graph degree.
    */
  private def checkBlocks(e: Seq[(Long, Long, Long)],
                          keyed: Array[(Int, Csr.Block)]): Array[Csr.Block] = {
    assert(keyed.forall { case (id, b) => id == b.blockId })
    val blocks = keyed.map(_._2)
    assert(blocks.map(_.nedges.toLong).sum == 2L * e.size,
      "every undirected edge appears in exactly two CSR rows")
    for (b <- blocks) {
      assert(b.vids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
        "vids strictly ascending within a block")
      assert(b.dstT.length == b.nedges && b.wT.length == b.nedges)
      assert(b.srcT.forall(i => i >= 0 && i < b.nvtxs))
      assert(b.dstT.forall(j => j >= 0 && j < b.dstVids.length))
      val wdeg = new Array[Long](b.nvtxs)
      b.srcT.indices.foreach(j => wdeg(b.srcT(j)) += b.wT(j))
      assert(wdeg.sameElements(b.wdegLoc), "wdegLoc sums the block's rows")
    }
    val dir = blocks.flatMap { b =>
      b.srcT.indices.map(j => (b.vids(b.srcT(j)), b.dstVids(b.dstT(j))))
    }
    assert(dir.sorted.sameElements(dir.map(_.swap).sorted),
      "symmetry survives the encoding: (u,v) present <=> (v,u) present")
    val deg = dir.groupBy(_._1).map { case (v, g) => v -> g.length }
    assert(deg == Oracles.adj(e).map { case (v, ns) => v -> ns.size },
      "each vertex's degree is conserved across its block copies")
    blocks
  }

  test("CSR range blocks: disjoint sorted vids, symmetric tiled edges, 2|E| total") {
    for (e <- Seq(Fixtures.zipf(250), Fixtures.star17)) {
      val df = edgesDf(e)
      val blocks = checkBlocks(e,
        Csr.build(df, GraphOps.edgeBalancedRanges(df, 4)).collect())
      val allVids = blocks.flatMap(_.vids)
      assert(allVids.length == allVids.distinct.length, "blocks are disjoint")
      assert(allVids.toSet == Fixtures.vertsOf(e).toSet)
    }
  }

  test("edge-granular CSR blocks: quota-bounded, hubs split (P15)") {
    val numBlocks = 4
    def balanced(e: Seq[(Long, Long, Long)]): Array[Csr.Block] = {
      val blocks = checkBlocks(e,
        Csr.buildBalanced(edgesDf(e), numBlocks).collect())
      val quota = (2L * e.size + numBlocks - 1) / numBlocks
      assert(blocks.forall(_.nedges <= quota),
        "no block may exceed the edge quota — the skew-proof property")
      blocks
    }
    balanced(Fixtures.zipf(250))
    // star17's hub (degree 16 > quota 8) is split across >= 2 blocks; its
    // degree is conserved across the copies (checkBlocks)
    val hubBlocks = balanced(Fixtures.star17)
      .filter(_.vids.contains(0L)).map(_.blockId).distinct
    assert(hubBlocks.length >= 2, s"hub must be split, got $hubBlocks")
  }

  test("internal/external vertex counts (A10) against a dense oracle") {
    val e = Fixtures.zipf(120)
    val vids = Fixtures.vertsOf(e)
    val k = 3
    val assign = spark.createDataFrame(vids.map(v => (v, (v % k).toInt)))
      .toDF("vid", "part")
    val got = GraphOps.intExtCounts(edgesDf(e), assign).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // dense oracle
    val nbrs = vids.map(v => v -> e.collect {
      case (s, d, _) if s == v => d
      case (s, d, _) if d == v => s
    }.toSet).toMap
    val isExt = vids.map(v => v -> nbrs(v).exists(u => u % k != v % k)).toMap
    val want = vids.groupBy(v => (v % k).toInt).map { case (p, vs) =>
      p -> (vs.count(!isExt(_)).toLong, vs.count(isExt(_)).toLong)
    }
    assert(got == want, s"got $got want $want")
  }

  test("vsep metrics (A6): separator weight + violation detection") {
    val e = Fixtures.path8 // 0-1-2-...-7
    val vw = spark.createDataFrame((0L to 7L).map(v => (v, v + 1)))
      .toDF("vid", "vwgt")
    // valid: {0..2}=A, {4..7}=B, {3}=SEP
    val ok = spark.createDataFrame((0L to 7L).map(v =>
      (v, if (v < 3) 0 else if (v == 3) 2 else 1))).toDF("vid", "side")
    val m = GraphOps.vsepMetrics(edgesDf(e), vw, ok).head()
    assert(m.getAs[Long]("n_sep") == 1L)
    assert(m.getAs[Long]("sep_weight") == 4L)
    assert(m.getAs[Long]("violations") == 0L)
    // broken: move 3 to A — edge (3,4) now joins A to B
    val broken = spark.createDataFrame((0L to 7L).map(v =>
      (v, if (v <= 3) 0 else 1))).toDF("vid", "side")
    assert(GraphOps.vsepMetrics(edgesDf(e), vw, broken)
      .head().getAs[Long]("violations") == 1L)
  }
}
