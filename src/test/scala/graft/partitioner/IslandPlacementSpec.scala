package graft.partitioner

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** The V-cycle's result path (F4 island restore, the reported cut and
  * imbalance) on seeded random inputs, in [[HillSweepKSpec]]'s generator
  * style. The driver placement ([[Multilevel.placeIslands]]) must equal
  * the distributed one ([[Multilevel.restoreIslands]], the path for more
  * islands than pass through the driver, which no graph small enough for
  * a test reaches on its own).
  */
class IslandPlacementSpec extends SparkSpec {

  /** Core part weights from a random core assignment, a vid-ordered
    * island set (0-300 islands, vids spread between the core's), unit or
    * random weights, k ∈ {2, 4, 8}, and uniform or random targets.
    */
  private val placementGen = for {
    k <- Gen.oneOf(2, 4, 8)
    nCore <- Gen.choose(10, 200)
    nIsl <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 300))
    unit <- Gen.oneOf(true, false)
    coreW <- Gen.listOfN(nCore, Gen.choose(1L, 9L))
    coreP <- Gen.listOfN(nCore, Gen.choose(0, k - 1))
    islW <- Gen.listOfN(nIsl, Gen.choose(0L, 5L))
    uneven <- Gen.oneOf(true, false)
    tw <- Gen.listOfN(k, Gen.choose(1, 4))
  } yield {
    val pw = new Array[Long](k)
    coreP.indices.foreach(i => pw(coreP(i)) += (if (unit) 1L else coreW(i)))
    val isl = islW.indices.map(i =>
      (5L * i + 2L, if (unit) 1L else islW(i))).toArray
    val tgt =
      if (uneven) tw.map(_.toDouble / tw.sum).toArray
      else Array.fill(k)(1.0 / k)
    (k, pw, isl, tgt)
  }

  test("driver island placement equals restoreIslands on random inputs") {
    var placed = 0
    for (i <- 0 until 24) {
      val (k, pw0, isl, tgt) =
        placementGen.pureApply(Gen.Parameters.default, Seed(20261020L + i))
      val tv0 = pw0.sum + isl.map(_._2).sum
      val clue = s"case $i (k=$k, islands=${isl.length}, " +
        s"targets=${tgt.mkString(",")})"
      val pwDriver = pw0.clone()
      val where = Multilevel.placeIslands(pwDriver, isl, tgt, tv0)
      assert(where.forall(p => p >= 0 && p < k), s"$clue: part out of range")
      val islandDf = spark.createDataFrame(isl.toSeq).toDF("vid", "w")
        .select(col("vid"), array(col("w")).as("vwgts"))
      val core = spark.createDataFrame(Seq((-1L, 0))).toDF("vid", "part")
      val pwDist = pw0.clone()
      val full = Multilevel.restoreIslands(spark, core, islandDf, pwDist,
        tgt, tv0).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(full.get(-1L).contains(0), s"$clue: the core assignment is kept")
      assert(full.size == isl.length + 1, s"$clue: ${full.size} rows")
      isl.indices.foreach { j =>
        assert(full(isl(j)._1) == where(j),
          s"$clue: island ${isl(j)._1} driver ${where(j)}, " +
            s"distributed ${full(isl(j)._1)}")
      }
      assert(pwDriver.sameElements(pwDist),
        s"$clue: part weights ${pwDriver.mkString(",")} vs " +
          pwDist.mkString(","))
      assert(pwDriver.sum == tv0, s"$clue: weights lost")
      if (isl.nonEmpty) placed += 1
    }
    assert(placed >= 12, s"only $placed cases had islands")
  }

  /** A random graph in the shape of the generators above: Zipf-skewed
    * endpoints, spread-out vids with a fifth of them islands, weights 1-3
    * per constraint, k ∈ {2, 4, 8}, ncon ∈ {1, 2}.
    */
  private val graphGen = for {
    n <- Gen.choose(150, 300)
    m <- Gen.choose(2 * n, 4 * n)
    ends <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0.0, 1.0),
      Gen.choose(1L, 4L)))
    k <- Gen.oneOf(2, 4, 8)
    ncon <- Gen.oneOf(1, 2)
    wgts <- Gen.listOfN((n + n / 5) * ncon, Gen.choose(1L, 3L))
  } yield {
    def vid(i: Int) = 7L + 3L * i
    val edges = ends.map { case (a, u, w) =>
      val b = (math.pow(u, 3) * n).toInt.min(n - 1)
      (vid(a min b), vid(a max b), w)
    }.filter(t => t._1 != t._2).groupBy(t => (t._1, t._2)).values
      .map(_.head).toSeq.sortBy(t => (t._1, t._2))
    val verts = (0 until n + n / 5).map(i =>
      (vid(i), wgts.slice(i * ncon, (i + 1) * ncon)))
    (edges, verts, k, ncon)
  }

  test("reported cut and imbalance recompute through both finest refines") {
    for (i <- 0 until 3; threshold <- Seq(4096L, 0L)) {
      val (edges, verts, k, ncon) =
        graphGen.pureApply(Gen.Parameters.default, Seed(20261021L + i))
      val clue = s"case $i (k=$k, ncon=$ncon, n=${verts.size}, " +
        s"serialRefineThreshold=$threshold)"
      val v = spark.createDataFrame(verts).toDF("vid", "vwgts")
      // serialGraphVertices = 0: the V-cycle runs distributed, islands
      // included, and its finest level refines serially (4096) or
      // through Refinement.refineMC (0)
      val r = Multilevel.partitionMC(spark, edgesDf(edges), v, k, ncon = ncon,
        coarsenTo0 = 60, serialRefineThreshold = threshold,
        serialGraphVertices = 0L)
      val parts = r.assign.collect().map(x => x.getLong(0) -> x.getInt(1))
      val where = parts.toMap
      assert(parts.length == verts.size && where.keySet == verts.map(_._1).toSet,
        s"$clue: not one part per vertex")
      assert(where.values.forall(p => p >= 0 && p < k), s"$clue: part range")
      val cut = edges.collect { case (s, d, w) if where(s) != where(d) => w }.sum
      assert(r.cut == cut, s"$clue: reported cut ${r.cut}, recomputed $cut")
      val w0 = verts.map { case (x, ws) => x -> ws.head }.toMap
      val pw = where.groupBy(_._2).map { case (_, g) => g.keys.toSeq.map(w0).sum }
      val imb = pw.max.toDouble * k / w0.values.sum
      assert(math.abs(r.imbalance - imb) < 1e-12,
        s"$clue: reported imbalance ${r.imbalance}, recomputed $imb")
    }
  }
}
