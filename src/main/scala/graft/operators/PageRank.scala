package graft.operators

import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Checkpointer

/** Weighted PageRank by power iteration over the derived link graph
  * (north rule item 2). Pure join+aggregate per iteration:
  *
  *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) · w(u,v) / wdeg(u)
  *   rank'(v)   = (1-d)/N + d · (contrib(v) + danglingMass/N)
  *
  * The dangling mass is the rank the isolated vertices hold (no out-edges
  * in an undirected graph); [[isolatedRanks]] gives it without a Spark job.
  *
  * Scale design (SURVEY §4): the big side (symmetrized edges ⋈ wdeg) is
  * hash-partitioned on `src` ONCE and cached; each iteration only shuffles
  * the small rank table to meet it, then shuffles contributions by `dst`
  * (the irreducible shuffle of distributed PR). Residual = L1 delta, logged
  * per iteration; with a [[Checkpointer]] every iteration is durable.
  */
object PageRank {

  case class Result(ranks: DataFrame, iterations: Int, residual: Double)

  /** r_t, the rank each of the `nIso` isolated vertices of an `n`-vertex
    * graph holds after t iterations. They all hold the same rank, so the
    * dangling mass of iteration t is nIso·r_t and
    *
    *   r_0 = 1/n,  r_{t+1} = (1-d)/n + d·nIso·r_t/n.
    *
    * r_t is also the damping base of iteration t: rank_t(v) = r_t +
    * d·contrib_t(v). Both engines, this loop and [[CsrDirect]], take it from
    * here. With no isolated vertex every r_t (t ≥ 1) is exactly (1-d)/n.
    */
  def isolatedRanks(n: Long, nIso: Long, damping: Double): LazyList[Double] =
    LazyList.iterate(1.0 / n)(r => (1 - damping) / n + damping * nIso * r / n)

  /** Power iteration until the L1 residual is `<= tol` or `maxIter`
    * iterations have run (`tol = 0` runs all of them). With `ckpt`, every
    * iteration is a `"pagerank"` snapshot and a run on a root that already
    * holds some resumes after the newest one ([[Checkpointer.iterate]]).
    * `vertices` = (vid) — the full vertex set incl. isolated vertices.
    */
  def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
          damping: Double = 0.85, maxIter: Int = 20, tol: Double = 1e-7,
          ckpt: Option[Checkpointer] = None, numParts: Int = 32): Result = {
    // materialized once: verts joins into EVERY iteration's plan — left
    // lazy it re-runs the whole upstream derivation per iteration
    val verts = vertices.select(col("vid")).distinct()
      .repartition(numParts, col("vid")).persist()
    val n = verts.count()
    // out-weighted adjacency, partitioned once on the join key and cached
    val sym = GraphOps.symmetrize(edges)
    val wdeg = sym.groupBy(col("src")).agg(sum(col("wgt")).as("wdeg"))
    val adj = sym.join(wdeg, "src")
      .select(col("src"), col("dst"), (col("wgt").cast("double") / col("wdeg")).as("share"))
      .repartition(numParts, col("src"))
      .persist()
    // the vertices with no out-edge; the anti join reads every partition
    // of adj, so this count also materializes it
    val nIso = verts.join(adj.select(col("src").as("vid")), Seq("vid"), "left_anti")
      .count()
    // recomputed from r_0 on resume: no snapshot is read for it
    val iso = isolatedRanks(n, nIso, damping)

    val init = verts.withColumn("rank", lit(1.0 / n))
      .repartition(numParts, col("vid")).ckpt()
    val (ranks, iters, residual) =
      Checkpointer.iterate(ckpt, "pagerank", init, maxIter, tol) { (ranks, i) =>
        val contribs = adj
          .join(ranks.withColumnRenamed("vid", "src"), "src")
          .groupBy(col("dst").as("vid"))
          .agg(sum(col("rank") * col("share")).as("contrib"))
        // checkpointed: left lazy, the plan grows one join layer per
        // iteration and AQE re-renders the whole stack on every replan
        val next = verts
          .join(contribs, Seq("vid"), "left")
          .select(col("vid"),
            (lit(iso(i)) + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
          .repartition(numParts, col("vid")).ckpt()
        (next, next.join(ranks.withColumnRenamed("rank", "prev"), "vid")
          .agg(sum(abs(col("rank") - col("prev")))).head().getDouble(0))
      }
    adj.unpersist(); verts.unpersist()
    Result(ranks.select(col("vid"), col("rank")), iters, residual)
  }

  /** DuckDB SQL for [[run]] with `tol = 0` over a graph with no isolated
    * vertex (the gate graphs have none, so it has no dangling term):
    * iterations unrolled as chained CTEs over an edge-table CTE
    * `edges(src,dst,wgt)` and vertex CTE `verts(vid)` that the caller
    * supplies as SQL text.
    */
  def oracleSql(edgesCte: String, vertsCte: String, damping: Double,
                iters: Int, roundTo: Int): String = {
    val sym = "SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst AS src, src AS dst, wgt FROM e_canon"
    // MATERIALIZED: DuckDB would otherwise inline adj/verts into every
    // unrolled iteration (exponential expansion of the e_canon subtree)
    val base =
      s"""WITH e_canon AS MATERIALIZED ($edgesCte),
         |verts AS MATERIALIZED ($vertsCte),
         |sym AS MATERIALIZED ($sym),
         |nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
         |wdeg AS MATERIALIZED (SELECT src, CAST(SUM(wgt) AS DOUBLE) AS wdeg FROM sym GROUP BY src),
         |adj AS MATERIALIZED (SELECT s.src, s.dst, s.wgt / w.wdeg AS share FROM sym s JOIN wdeg w ON s.src = w.src),
         |r0 AS MATERIALIZED (SELECT vid, 1.0 / (SELECT n FROM nv) AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT v.vid,
         |  (1 - $damping) / (SELECT n FROM nv) + $damping * COALESCE(c.contrib, 0.0) AS rank
         |FROM verts v LEFT JOIN (
         |  SELECT a.dst AS vid, SUM(r.rank * a.share) AS contrib
         |  FROM adj a JOIN r${i - 1} r ON a.src = r.vid GROUP BY a.dst) c
         |ON v.vid = c.vid)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT vid, ROUND(rank, $roundTo) AS rank FROM r$iters ORDER BY vid"
  }
}
