package graft.operators

import graft.plans.Plans
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
  * Scale design (SURVEY §4): the big side (symmetrized edges ⋈ wdeg) is
  * hash-partitioned on `src` ONCE and cached; each iteration only shuffles
  * the small rank table to meet it, then shuffles contributions by `dst`
  * (the irreducible shuffle of distributed PR). Residual = L1 delta, logged
  * per iteration; with a [[Checkpointer]] every iteration is durable.
  */
object PageRank {

  case class Result(ranks: DataFrame, iterations: Int, residual: Double)

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
    val wdeg = GraphOps.symmetrize(edges)
      .groupBy(col("src")).agg(sum(col("wgt")).as("wdeg"))
    val adj = GraphOps.symmetrize(edges).join(wdeg, "src")
      .select(col("src"), col("dst"), (col("wgt").cast("double") / col("wdeg")).as("share"))
      .repartition(numParts, col("src"))
      .persist()
    adj.count() // materialize

    val init = verts.withColumn("rank", lit(1.0 / n))
      .repartition(numParts, col("vid")).ckpt()
    val (ranks, iters, residual) =
      Checkpointer.iterate(ckpt, "pagerank", init, maxIter, tol) { (ranks, _) =>
        val contribs = adj
          .join(ranks.withColumnRenamed("vid", "src"), "src")
          .groupBy(col("dst").as("vid"))
          .agg(sum(col("rank") * col("share")).as("contrib"))
        // dangling mass: vertices with no out-edges (isolated in an
        // undirected graph) redistribute uniformly
        val dangling = ranks.join(wdeg.withColumnRenamed("src", "vid"),
            Seq("vid"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
        // checkpointed: left lazy, the plan grows one join layer per
        // iteration and AQE re-renders the whole stack on every replan
        val next = verts
          .join(contribs, Seq("vid"), "left")
          .select(col("vid"),
            (lit((1 - damping) / n) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + lit(dangling / n))
            ).as("rank"))
          .repartition(numParts, col("vid")).ckpt()
        (next, next.join(ranks.withColumnRenamed("rank", "prev"), "vid")
          .agg(sum(abs(col("rank") - col("prev")))).head().getDouble(0))
      }
    adj.unpersist(); verts.unpersist()
    Result(ranks.select(col("vid"), col("rank")), iters, residual)
  }

  /** Fixed-iteration PR used for the DuckDB-oracle parity queries: exactly
    * `iters` iterations, no early stop, no dangling handling when the graph
    * has no isolated vertices in `vertices`.
    */
  def fixedIterations(edges: DataFrame, vertices: DataFrame,
                      damping: Double, iters: Int): DataFrame = {
    // materialized once (joined into every iteration — see run())
    val verts = vertices.select(col("vid")).distinct().ckpt()
    val n = verts.count()
    val wdeg = GraphOps.symmetrize(edges)
      .groupBy(col("src")).agg(sum(col("wgt")).as("wdeg"))
    val adj = GraphOps.symmetrize(edges).join(wdeg, "src")
      .select(col("src"), col("dst"),
        (col("wgt").cast("double") / col("wdeg")).as("share"))
      .persist()
    var ranks = verts.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = adj
        .join(ranks.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(sum(col("rank") * col("share")).as("contrib"))
      val next = verts.join(contribs, Seq("vid"), "left")
        .select(col("vid"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
        .ckpt()
      Plans.unpersist(ranks) // superseded round (a no-op on the initial frame)
      ranks = next
    }
    adj.unpersist()
    // zero iterations return the initial frame, which reads verts lazily
    if (iters > 0) Plans.unpersist(verts)
    ranks
  }

  /** DuckDB SQL for [[fixedIterations]]: iterations unrolled as chained
    * CTEs over an edge-table CTE `edges(src,dst,wgt)` and vertex CTE
    * `verts(vid)` that the caller supplies as SQL text.
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
