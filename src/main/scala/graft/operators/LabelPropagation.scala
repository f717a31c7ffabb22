package graft.operators

import graft.plans.Plans
import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) with a deterministic
  * tie-break, fixed round count (north rule item 2; SURVEY §2.4 "LP =
  * groupBy(vid,label).count → max_by").
  *
  * Init: label(v) = v. Per round every vertex adopts the label with the
  * highest summed edge weight among its neighbors; ties break to the
  * SMALLEST label, so the result is independent of execution order and
  * replicable by the DuckDB oracle. Vertices with no neighbors keep their
  * label. Synchronous updates can oscillate on bipartite structure — the
  * fixed round count makes the operator a well-defined function regardless.
  */
object LabelPropagation {

  def run(edges: DataFrame, vertices: DataFrame, rounds: Int): DataFrame = {
    // materialized once: joined into every round's plan (see
    // ConnectedComponents.hashMinIterations)
    val sym = GraphOps.symmetrize(edges).ckpt()
    var labels = vertices.select(col("vid")).distinct()
      .withColumn("label", col("vid"))
      .ckpt()
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(sum(col("wgt")).as("score"))
      // max by (score desc, label asc): max of struct(score, -label)
      val winner = votes
        .groupBy(col("vid"))
        .agg(max(struct(col("score"), (-col("label")).as("neg"))).as("w"))
        .select(col("vid"), (-col("w.neg")).as("new_label"))
      val next = labels.join(winner, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("new_label"), col("label")).as("label"))
        .ckpt()
      Plans.unpersist(labels) // superseded round
      labels = next
    }
    Plans.unpersist(sym)
    labels
  }

  /** DuckDB SQL equivalent: `rounds` unrolled rounds over CTE text. */
  def oracleSql(edgesCte: String, vertsCte: String, rounds: Int): String = {
    // MATERIALIZED: prevent exponential CTE inlining across rounds
    val base =
      s"""WITH e_canon AS MATERIALIZED ($edgesCte),
         |verts AS MATERIALIZED ($vertsCte),
         |sym AS MATERIALIZED (SELECT src, dst, wgt FROM e_canon UNION ALL SELECT dst, src, wgt FROM e_canon),
         |l0 AS MATERIALIZED (SELECT vid, vid AS label FROM verts)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT l.vid, COALESCE(w.new_label, l.label) AS label
         |FROM l${i - 1} l LEFT JOIN (
         |  SELECT vid, label AS new_label FROM (
         |    SELECT s.dst AS vid, p.label,
         |           ROW_NUMBER() OVER (PARTITION BY s.dst
         |             ORDER BY SUM(s.wgt) DESC, p.label ASC) AS rn
         |    FROM sym s JOIN l${i - 1} p ON s.src = p.vid
         |    GROUP BY s.dst, p.label)
         |  WHERE rn = 1) w
         |ON l.vid = w.vid)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT vid, label FROM l$rounds ORDER BY vid"
  }
}
