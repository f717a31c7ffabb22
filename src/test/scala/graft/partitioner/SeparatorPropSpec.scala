package graft.partitioner

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.Metrics

/** Randomized separator-refinement properties (seeded scalacheck, in the
  * shape of HillSweepKSpec's level generator): the serial SFM kernel
  * ([[SeparatorRefine.sfm1s]]) on ~300 random graphs, and the Spark paths
  * — [[SeparatorRefine.refine]] in bound (gathered SFM) and over bound
  * (SFG: greedy flow, then the retried gather), and
  * [[SeparatorRefine.refineGreedyDist]] — on 12. Every path must keep a
  * valid separator (no A–B edge), never make it heavier, and keep a side
  * that started within maxSide = ceil(1.2·tv/2) within it.
  */
class SeparatorPropSpec extends graft.SparkSpec {

  /** A random graph with a valid 3-way labeling: Zipf-skewed endpoints
    * (hubs), spread-out vids with a fifth of them islands, vertex weights
    * 1-3, a random (possibly lopsided) bisection whose cut edges are each
    * covered by one random endpoint, plus a random share of extra
    * separator vertices.
    */
  private val sepGen = for {
    n <- Gen.choose(20, 80)
    m <- Gen.choose(n, 4 * n)
    ends <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0.0, 1.0),
      Gen.oneOf(true, false)))
    wgts <- Gen.listOfN(n + n / 5, Gen.choose(1L, 3L))
    lean <- Gen.oneOf(0.5, 0.7, 0.9)
    sides <- Gen.listOfN(n + n / 5, Gen.choose(0.0, 1.0))
    extraFrac <- Gen.oneOf(0.0, 0.1, 0.3)
    extra <- Gen.listOfN(n + n / 5, Gen.choose(0.0, 1.0))
    pinned <- Gen.listOfN(n + n / 5, Gen.choose(0.0, 1.0))
  } yield {
    val nv = n + n / 5
    def vid(i: Int) = 7L + 3L * i
    val es = ends.map { case (a, u, pick) =>
      val b = (math.pow(u, 3) * n).toInt.min(n - 1)
      (a min b, a max b, pick)
    }.filter(t => t._1 != t._2).groupBy(t => (t._1, t._2)).values
      .map(_.head).toArray.sortBy(t => (t._1, t._2))
    val side = sides.toArray.map(x => if (x < lean) 0 else 1)
    es.foreach { case (a, b, pick) =>
      if (side(a) + side(b) == 1) side(if (pick) a else b) = 2
    }
    extra.indices.foreach(i => if (extra(i) < extraFrac) side(i) = 2)
    val edges = es.map { case (a, b, _) => (vid(a), vid(b), 1L) }
    ((0 until nv).map(vid).toArray, edges, wgts.toArray, side,
      pinned.toArray.map(_ < 0.1))
  }

  private def valid(edges: Seq[(Long, Long, Long)], side: Long => Int) =
    edges.forall { case (a, b, _) => side(a) + side(b) != 1 || side(a) == 2 }

  private def weights(vids: Array[Long], vw: Array[Long], side: Long => Int) = {
    val out = Array.fill(3)(0L)
    vids.indices.foreach(i => out(side(vids(i))) += vw(i))
    out
  }

  test("sfm1s on random graphs: separator valid, never heavier, sides stay in bound") {
    var shrunk = 0
    var pinnedSep = 0
    for (i <- 0 until 300) {
      val (vids, edges, vw, side0, pinned) =
        sepGen.pureApply(Gen.Parameters.default, Seed(20261020L + i))
      val idx = vids.zipWithIndex.toMap
      val adjSets = Array.fill(vids.length)(Set.empty[Int])
      edges.foreach { case (a, b, _) =>
        adjSets(idx(a)) += idx(b); adjSets(idx(b)) += idx(a)
      }
      val adj = adjSets.map(_.toArray.sorted)
      val canMove = pinned.map(!_)
      val side = side0.clone()
      val sideW = weights(vids, vw, v => side0(idx(v)))
      val w0 = sideW.clone()
      val maxSide = math.ceil(1.2 * sideW.sum / 2.0).toLong
      SeparatorRefine.sfm1s(side, vw, adj, canMove, sideW, maxSide)
      val clue = s"case $i (n=${vids.length}, sep ${w0(2)} -> ${sideW(2)})"
      assert(valid(edges.toSeq, v => side(idx(v))), s"$clue: an A-B edge")
      assert(sideW.sameElements(weights(vids, vw, v => side(idx(v)))),
        s"$clue: side weights out of sync")
      assert(sideW(2) <= w0(2), s"$clue: separator grew")
      (0 to 1).foreach(s => if (w0(s) <= maxSide)
        assert(sideW(s) <= maxSide, s"$clue: side $s over $maxSide"))
      side0.indices.foreach(v => if (side0(v) == 2 && pinned(v))
        assert(side(v) == 2, s"$clue: a vertex without adjacency moved"))
      if (sideW(2) < w0(2)) shrunk += 1
      if (side0.indices.exists(v => side0(v) == 2 && pinned(v))) pinnedSep += 1
    }
    info(s"$shrunk of 300 separators shrank, $pinnedSep with pinned members")
    // not vacuous: most covers have slack, some hold unmovable members
    assert(shrunk >= 150 && pinnedSep >= 100, s"$shrunk shrank, $pinnedSep pinned")
  }

  test("refine (both paths) and refineGreedyDist on random graphs: totality and the same properties") {
    var sfgRetried = 0
    for (i <- 0 until 12) {
      val (vids, edges, vw, side0, _) =
        sepGen.pureApply(Gen.Parameters.default, Seed(20261120L + i))
      val idx = vids.zipWithIndex.toMap
      val e = edgesDf(edges.toSeq)
      val vwDf = spark.createDataFrame(vids.toSeq.zip(vw)).toDF("vid", "vwgt")
      val where0 = spark.createDataFrame(vids.toSeq.zip(side0))
        .toDF("vid", "side")
      val w0 = weights(vids, vw, v => side0(idx(v)))
      val maxSide = math.ceil(1.2 * w0.sum / 2.0).toLong
      def check(path: String, out: org.apache.spark.sql.DataFrame): Unit = {
        val lbl = out.collect()
          .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
        val clue = s"case $i $path"
        assert(lbl.size == vids.length && lbl.keySet == vids.toSet,
          s"$clue: totality")
        assert(lbl.values.forall(s => s >= 0 && s <= 2), s"$clue: side range")
        assert(valid(edges.toSeq, lbl), s"$clue: an A-B edge")
        val w = weights(vids, vw, lbl)
        assert(w(2) <= w0(2), s"$clue: separator grew ${w0(2)} -> ${w(2)}")
        (0 to 1).foreach(s => if (w0(s) <= maxSide)
          assert(w(s) <= maxSide, s"$clue: side $s over $maxSide"))
      }
      check("refine", SeparatorRefine.refine(spark, e, where0, vwDf))
      // over the bound: 0, or one under the gathered region (SEP with its
      // 1- and 2-hop rings), which the greedy flow can shrink back under
      def ring(s: Set[Long]) = s ++ edges.collect {
        case (a, b, _) if s(a) => b
        case (a, b, _) if s(b) => a
      }
      val region = ring(ring(vids.filter(v => side0(idx(v)) == 2).toSet)).size
      val fb0 = Metrics.count("vsep_refine_dist_fallback")
      val sk0 = Metrics.count("vsep_sfm_skipped")
      spark.conf.set("spark.graft.vsep.maxGather",
        (if (i % 2 == 0) 0 else region - 1).toString)
      try check("refine over bound",
        SeparatorRefine.refine(spark, e, where0, vwDf))
      finally spark.conf.unset("spark.graft.vsep.maxGather")
      if (w0(2) > 0) {
        assert(Metrics.count("vsep_refine_dist_fallback") == fb0 + 1,
          s"case $i: over the bound, refine must run SFG")
        if (Metrics.count("vsep_sfm_skipped") == sk0) sfgRetried += 1
      }
      check("refineGreedyDist",
        SeparatorRefine.refineGreedyDist(spark, e, where0, vwDf))
    }
    info(s"$sfgRetried of 12 over-bound runs fit the retried gather")
    assert(sfgRetried >= 1, "no over-bound run reached the retried SFM")
  }
}
