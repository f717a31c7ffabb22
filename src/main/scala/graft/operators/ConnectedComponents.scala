package graft.operators

import graft.plans.Plans
import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Checkpointer

/** Connected components via the alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — the algorithm the north rule names. Converges in
  * O(log n) rounds vs. O(diameter) for plain Hash-Min, which matters on the
  * long path chains the hub-sparsified shared-tool edges produce.
  *
  * Label = minimum vid in the component (deterministic).
  * A fixed-round plain Hash-Min ([[hashMinIterations]]) exists for the
  * DuckDB-oracle parity path: both converge to the same labels.
  */
object ConnectedComponents {

  /** One large-star round: for every vertex u, connect all *larger*
    * neighbors to the minimum of u's neighborhood (incl. u).
    */
  private def largeStar(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("u"), col("v"))
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: connect all neighbors ≤ u to u's neighborhood
    * minimum. Input here is already oriented u > v (largeStar output).
    */
  private def smallStar(pairs: DataFrame): DataFrame = {
    val ori = pairs.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val m = ori.groupBy(col("u")).agg(min(col("v")).as("m"))
    val nbrEdges = ori.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val selfEdges = m.select(col("u"), col("m").as("v"))
    nbrEdges.unionByName(selfEdges)
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Full CC: returns (vid, component) with component = min vid reachable.
    * `vertices` supplies isolated vertices (own component). Rounds run
    * until the pair set repeats (residual 0.0, else 1.0) or `maxRounds`;
    * with `ckpt`, each round is a `"cc_pairs"` snapshot and a run resumes
    * after the newest one ([[Checkpointer.iterate]]).
    */
  def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
          maxRounds: Int = 50, ckpt: Option[Checkpointer] = None): DataFrame = {
    val init = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct().ckpt()
    // the previous round's signature; recomputed from the state on resume
    var sig = Option.empty[(Long, Long)]
    val (pairs, _, _) =
      Checkpointer.iterate(ckpt, "cc_pairs", init, maxRounds, tol = 0.0) { (pairs, _) =>
        // the checkpoint truncates the per-round lineage — without it the
        // plan (and driver heap) grows superlinearly with rounds
        val next = smallStar(largeStar(pairs)).ckpt()
        val prev = sig.getOrElse(signature(pairs))
        sig = Some(signature(next))
        (next, if (sig.contains(prev)) 0.0 else 1.0)
      }
    // at convergence, pairs are star edges (u -> center v = min of component)
    val members = pairs.select(col("u").as("vid"), col("v").as("component"))
    val centers = pairs.select(col("v").as("vid")).distinct()
      .withColumn("component", col("vid"))
    val labeled = members.unionByName(centers)
      .groupBy(col("vid")).agg(min(col("component")).as("component"))
    vertices.select(col("vid")).distinct()
      .join(labeled, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
  }

  private def signature(pairs: DataFrame): (Long, Long) = {
    // bit_xor is overflow-free under ANSI mode (a sum of hashes is not)
    val r = pairs.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Plain Hash-Min label iteration, exactly `iters` synchronous rounds:
    * label'(v) = min(label(v), min over neighbors). SQL-replicable.
    */
  def hashMinIterations(edges: DataFrame, vertices: DataFrame, iters: Int): DataFrame = {
    // materialized once: both sides join into every round's plan — left
    // lazy, each round's action re-runs the whole upstream derivation
    val sym = GraphOps.symmetrize(edges).select(col("src"), col("dst"))
      .ckpt()
    var labels = vertices.select(col("vid")).distinct()
      .withColumn("component", col("vid"))
      .ckpt()
    for (_ <- 1 to iters) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid")).agg(min(col("component")).as("nbr_min"))
      val next = labels.join(nbrMin, Seq("vid"), "left")
        .select(col("vid"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .ckpt()
      Plans.unpersist(labels) // superseded round
      labels = next
    }
    Plans.unpersist(sym)
    labels
  }

  /** DuckDB SQL for [[hashMinIterations]] over caller-supplied CTE text. */
  def hashMinOracleSql(edgesCte: String, vertsCte: String, iters: Int): String = {
    // MATERIALIZED prevents DuckDB from inlining the CTE chain (each l_i is
    // referenced twice by l_{i+1} — inlining would be exponential)
    val base =
      s"""WITH e_canon AS MATERIALIZED ($edgesCte),
         |verts AS MATERIALIZED ($vertsCte),
         |sym AS MATERIALIZED (SELECT src, dst FROM e_canon UNION ALL SELECT dst, src FROM e_canon),
         |l0 AS MATERIALIZED (SELECT vid, vid AS component FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT l.vid,
         |  LEAST(l.component, COALESCE(n.nbr_min, l.component)) AS component
         |FROM l${i - 1} l LEFT JOIN (
         |  SELECT s.dst AS vid, MIN(p.component) AS nbr_min
         |  FROM sym s JOIN l${i - 1} p ON s.src = p.vid GROUP BY s.dst) n
         |ON l.vid = n.vid)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT vid, component FROM l$iters ORDER BY vid"
  }
}
