package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession + fixture graphs + in-JVM oracles for every
  * operator spec (SURVEY §5, FIXTURES.md §3-4). One session per test JVM.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def edgesDf(edges: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(edges).toDF("src", "dst", "wgt")

  def vertsDf(verts: Seq[Long]): DataFrame =
    spark.createDataFrame(verts.map(Tuple1(_))).toDF("vid")

  def assignDf(assign: Map[Long, Int]): DataFrame =
    spark.createDataFrame(assign.toSeq).toDF("vid", "part")

  /** The `Checkpointer` ledger lines of `step` under `root`, parsed. */
  def ledger(root: String, step: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.readAllLines(java.nio.file.Path.of(root, "metrics.jsonl"))
      .asScala.toSeq.map(json.readTree(_))
      .filter(_.get("step").asText == step)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.plans.Plans.localSession("WARN", cpus = "4")
      .appName("graft-tests").getOrCreate()
}

/** Canonical small graphs (FIXTURES.md §3): undirected, src < dst, unit or
  * given weights, no self-loops — mirroring the reference's METIS-format
  * invariants (reference wildriver/src/MetisFile.cpp; self-loop filter
  * src/graph.c:3809-3812).
  */
object Fixtures {
  /** path 0-1-...-7 */
  val path8: Seq[(Long, Long, Long)] =
    (0L until 7L).map(i => (i, i + 1, 1L))

  /** cycle on 9 vertices */
  val cycle9: Seq[(Long, Long, Long)] =
    (0L until 8L).map(i => (i, i + 1, 1L)) :+ (0L, 8L, 1L)

  /** star: hub 0 + 16 leaves (the power-law-hub shape) */
  val star17: Seq[(Long, Long, Long)] =
    (1L to 16L).map(l => (0L, l, 1L))

  /** two K5 cliques {0..4} and {5..9} joined by one bridge (0,5):
    * known mincut = 1 at k=2 with perfect balance.
    */
  val twoCliques: Seq[(Long, Long, Long)] = {
    def clique(vs: Seq[Long]) =
      for (i <- vs.indices; j <- i + 1 until vs.size) yield (vs(i), vs(j), 1L)
    clique(0L to 4L) ++ clique(5L to 9L) :+ (0L, 5L, 1L)
  }

  /** 4x4 grid, vid = row*4+col: known bisection cut = 4 */
  val grid4x4: Seq[(Long, Long, Long)] = {
    val right = for (r <- 0 until 4; c <- 0 until 3)
      yield ((r * 4 + c).toLong, (r * 4 + c + 1).toLong, 1L)
    val down = for (r <- 0 until 3; c <- 0 until 4)
      yield ((r * 4 + c).toLong, (r * 4 + c + 4).toLong, 1L)
    right ++ down
  }

  /** Zipf-ish random graph, seed 42: n vertices, ~3n edges, endpoint
    * popularity ~ 1/rank — power-law hubs like the shared-tool graph.
    */
  def zipf(n: Int, seed: Long = 42L): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    def pick(): Long =
      math.min(n - 1, math.pow(n.toDouble, rnd.nextDouble()).toLong - 1)
    val raw = (1 to 3 * n).flatMap { _ =>
      val (a, b) = (pick(), pick())
      if (a == b) None
      else Some((math.min(a, b), math.max(a, b)))
    }
    raw.groupBy(identity).map { case ((s, d), g) => (s, d, g.size.toLong) }
      .toSeq.sortBy(e => (e._1, e._2))
  }

  /** zipf plus isolated island vertices (exact-CC / island-filter cases) */
  def withIslands(n: Int): (Seq[(Long, Long, Long)], Seq[Long]) = {
    val e = zipf(n)
    val touched = e.flatMap(t => Seq(t._1, t._2)).toSet
    val verts = (0L until n.toLong + 5L)
    (e, verts.filter(v => touched.contains(v) || v >= n))
  }

  def vertsOf(edges: Seq[(Long, Long, Long)]): Seq[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
}

/** Plain-Scala reference implementations (FIXTURES.md §4): dense power
  * iteration, union-find CC, synchronous LP, brute-force triangles, and the
  * cut/balance metrics — the oracles the distributed operators must match
  * (PR allclose 1e-6; CC/LP/triangles exact, per BASELINE.json).
  */
object Oracles {

  type Edges = Seq[(Long, Long, Long)]

  /** symmetric weighted adjacency */
  def adj(edges: Edges): Map[Long, Seq[(Long, Long)]] =
    (edges.map(e => (e._1, (e._2, e._3))) ++
      edges.map(e => (e._2, (e._1, e._3))))
      .groupBy(_._1).map { case (v, g) => v -> g.map(_._2) }

  /** Power-iteration PageRank, the function PageRank.run and CsrDirect
    * compute: rank'(v) = (1-d)/N + d·(Σ share + dmass/N), where the
    * dangling mass dmass is the rank the isolated vertices hold.
    */
  def pageRank(edges: Edges, verts: Seq[Long], damping: Double,
               iters: Int): Map[Long, Double] = {
    val a = adj(edges)
    val wdeg = a.map { case (v, ns) => v -> ns.map(_._2).sum.toDouble }
    val n = verts.size
    var rank = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for ((u, ns) <- a; (v, w) <- ns)
        contrib(v) += rank(u) * w / wdeg(u)
      val dmass = verts.filterNot(a.contains).map(rank).sum
      rank = verts.map(v => v ->
        ((1 - damping) / n + damping * (contrib(v) + dmass / n))).toMap
    }
    rank
  }

  /** union-find connected components, label = min vid */
  def components(edges: Edges, verts: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((s, d, _) <- edges) {
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    verts.map(v => v -> find(v)).toMap
  }

  /** synchronous label propagation, weighted votes, ties -> smallest label */
  def labelProp(edges: Edges, verts: Seq[Long], rounds: Int): Map[Long, Long] = {
    val a = adj(edges)
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      label = verts.map { v =>
        a.get(v) match {
          case None | Some(Seq()) => v -> label(v)
          case Some(ns) =>
            val votes = ns.groupBy(n => label(n._1))
              .map { case (l, g) => (l, g.map(_._2).sum) }
            val best = votes.toSeq.maxBy { case (l, s) => (s, -l) }
            v -> best._1
        }
      }.toMap
    }
    label
  }

  /** brute-force triangle count: each triangle is seen by its 3 edges */
  def triangles(edges: Edges): Long = {
    val nbr = adj(edges).map { case (v, ns) => v -> ns.map(_._1).toSet }
    edges.map { case (s, d, _) => (nbr(s) & nbr(d)).size.toLong }.sum / 3
  }

  /** per-vertex triangle participation */
  def trianglesPerVertex(edges: Edges, verts: Seq[Long]): Map[Long, Long] = {
    val nbr = adj(edges).map { case (v, ns) => v -> ns.map(_._1).toSet }
    val cnt = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((s, d, _) <- edges; c <- nbr(s) & nbr(d) if c > d) {
      // s < d < c triple counted once
      cnt(s) += 1; cnt(d) += 1; cnt(c) += 1
    }
    verts.map(v => v -> cnt(v)).toMap
  }

  def cut(edges: Edges, assign: Map[Long, Int]): Long =
    edges.collect { case (s, d, w) if assign(s) != assign(d) => w }.sum

  def imbalance(assign: Map[Long, Int], vwgt: Map[Long, Long], k: Int): Double = {
    val pw = assign.groupBy(_._2).map { case (p, g) => p -> g.keys.toSeq.map(vwgt).sum }
    pw.values.max.toDouble * k / vwgt.values.sum.toDouble
  }
}
