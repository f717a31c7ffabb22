package graft.partitioner

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.GraphOps
import graft.plans.Plans

/** Many-to-one clustering coarsening (M3; reference S_coarsen_cluster_FC /
  * S_coarsen_cluster_RC, src/aggregate.c:1608-1837 / :1839-2016 — disabled
  * in the fork via exit(1) at :1614, re-expressed here for completeness):
  * unlike matching (1-to-1), clustering lets MANY vertices collapse into
  * one coarse vertex per level, shrinking pathological graphs (stars,
  * power-law hubs) that matching cannot coarsen past ~2x.
  *
  *   - FC (first-choice): a vertex joins the neighbor CLUSTER with the
  *     highest modularity-flavored connectivity score
  *     `ceil(cwgt / sqrt(twgt))` — connection weight to the cluster over
  *     the root of the cluster's accumulated weight (reference :1743,
  *     citing Brandes et al. '08 "On Modularity"); ties prefer the LIGHTER
  *     cluster (the reference's `twgt < nvwgt` tie-break, :1744), then the
  *     lower cluster id (deterministic where the reference is visit-order
  *     dependent);
  *   - RC (random-choice): same skeleton, seeded-multiplicative-hash-ranked
  *     neighbor (the reference's own hash idiom, src/aggregate.c:1026-1029);
  *   - the weight cap is HARD: per-target admission is a cumulative-weight
  *     prefix over the round's applicants (best score first), so a cluster
  *     never exceeds `maxVwgt` — the reference's sequential scan gets this
  *     for free; a naive bulk-synchronous port would overshoot on
  *     simultaneous joins;
  *   - the reference's sequential sweep becomes color-alternating BSP
  *     rounds: each round a seeded hash picks the movers (color-0
  *     SINGLETONS); every root NOT moving this round may receive. Movers
  *     and receivers are disjoint and roots with members never move
  *     (clusters never merge — reference semantics: only unmatched
  *     vertices join, gmatch freezes both sides), so no move-chains or
  *     cluster cycles can form and the reference's S_cleanup_cluster pass
  *     is unnecessary by construction. Every label is a root at every
  *     step.
  *
  * Output: cmap(vid, coarse) — same contract as [[Matching.cmapMC]], so
  * [[Contraction]] consumes it unchanged.
  */
object Clustering {

  sealed trait Scheme
  case object FC extends Scheme
  case object RC extends Scheme

  /** Cluster `vertices(vid, vwgt)` over `edges` (canonical src<dst, wgt).
    * `rounds` color-alternating rounds: each round a seeded coin picks the
    * movers; everyone else's cluster can receive, so a singleton's join
    * chance is ≥ 1/2 per round — 12 rounds leaves ~0.02% unmerged residue
    * (legitimate: matching self-matches leftovers the same way).
    */
  def cmap(edges: DataFrame, vertices: DataFrame, maxVwgt: Long,
           rounds: Int = 12, scheme: Scheme = FC,
           seed: Long = 42L, symIn: DataFrame = null,
           earlyStopSingles: Long = -1L): DataFrame = {
    val ownSym = symIn == null
    val sym = if (ownSym) GraphOps.symmetrize(edges).persist() else symIn
    // checkpointed each round: materialized leaf, read many times per round
    var cl = Plans.checkpoint(
      vertices.select(col("vid"), col("vid").as("cluster"), col("vwgt")))
    // `earlyStopSingles` ≥ 0: stop as soon as at most that many singleton
    // clusters remain. The M5 coarsening dispatch only needs the level's
    // singleton share below the stall bar (1/3) — rounds typically halve
    // the singleton count, so the fixed 12-round schedule spent most of
    // its edge scans polishing a ~0.02% residue (measured: 15.3 s of FC
    // on a 319-vertex level). -1 (standalone M3 semantics) runs every
    // round: a no-progress round does NOT imply convergence — the color
    // draw is per-round, so an unlucky all-receiver draw stalls one round
    // and progresses the next.
    var singles = Long.MaxValue
    var round = 0
    while (round < rounds &&
           (earlyStopSingles < 0 || singles > earlyStopSingles)) {
      round += 1
      val color = pmod(xxhash64(col("vid"), lit(seed + round)), lit(2))
      // cluster weights + member counts under the CURRENT assignment
      val cstat = cl.groupBy(col("cluster"))
        .agg(sum(col("vwgt")).as("twgt"), count(lit(1)).as("members"))
      // movers: color-0 singletons (own label, no members but themselves)
      val movers = cl.filter(col("vid") === col("cluster"))
        .join(cstat.filter(col("members") === 1)
          .select(col("cluster")), "cluster")
        .filter(color === 0)
        .select(col("vid"), col("vwgt"))
      // per (mover, neighbor-cluster) connection weight; receivers are all
      // roots NOT moving this round (anti-join against the mover set) —
      // maximal availability while movers/receivers stay disjoint
      val conn = sym
        .join(movers.select(col("vid").as("src"), col("vwgt").as("myW")),
          "src")
        .join(cl.select(col("vid").as("dst"), col("cluster").as("nbCl")),
          "dst")
        .join(movers.select(col("vid").as("nbCl")), Seq("nbCl"), "left_anti")
        .groupBy(col("src"), col("myW"), col("nbCl"))
        .agg(sum(col("wgt")).as("cwgt"))
        .join(cstat.select(col("cluster").as("nbCl"), col("twgt")), "nbCl")
        .filter(col("twgt") + col("myW") <= maxVwgt)
      val score = scheme match {
        case FC => ceil(col("cwgt").cast("double") / sqrt(col("twgt")))
        case RC => pmod(col("nbCl") * lit(2654435761L) + lit(seed),
          lit(2147483647L)).cast("double")
      }
      val proposals = conn
        .select(col("src").as("vid"), col("myW"), col("nbCl"),
          struct(score.as("s"), (-col("twgt")).as("nt"),
            (-col("nbCl")).as("nc")).as("rank"))
      val best = proposals
        .groupBy(col("vid"), col("myW"))
        .agg(max(col("rank")).as("best"))
        .select(col("vid"), col("myW"), (-col("best.nc")).as("target"),
          col("best.s").as("s"))
      // HARD cap: admit applicants per target best-score-first until the
      // cluster would overflow (cumulative prefix, exact — the admission
      // window is bounded by the target root's degree)
      val admitted = best
        .withColumn("cum", sum(col("myW")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("target"))
            .orderBy(col("s").desc, col("vid"))))
        .join(cstat.select(col("cluster").as("target"), col("twgt")),
          "target")
        .filter(col("twgt") + col("cum") <= maxVwgt)
        .select(col("vid"), col("target"))
      val prevCl = cl
      cl = Plans.checkpoint(
        cl.join(admitted, Seq("vid"), "left")
          .select(col("vid"),
            coalesce(col("target"), col("cluster")).as("cluster"),
            col("vwgt")))
      Plans.unpersist(prevCl) // superseded round: release now, not at GC
      if (earlyStopSingles >= 0)
        singles = cl.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
          .filter(col("n") === 1).count()
    }
    if (ownSym) sym.unpersist()
    cl.select(col("vid"), col("cluster").as("coarse"))
  }
}
