package graft.partitioner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Matching for coarsening as iterative DataFrame joins — the Spark
  * re-expression of the reference's matching schemes
  * (par_aggregate_graph, reference src/aggregate.c:2018-2135):
  *
  *   - SHEM (sorted heavy-edge matching, the default ctype src/ctrl.c:49;
  *     S_coarsen_match_SHEM src/aggregate.c:1326-1593): every unmatched
  *     vertex proposes across its heaviest eligible edge; the reference's
  *     degree-ascending visit order becomes the proposal tie-break (prefer
  *     low-degree partners, then low vid — deterministic where the
  *     reference is race-dependent, SURVEY §7(a));
  *   - RM (random matching, S_coarsen_match_RM src/aggregate.c:1133-1311):
  *     same skeleton, pseudo-random eligible neighbor — the rank is a
  *     seeded hash of the edge, so it is deterministic and
  *     partitioning-independent;
  *   - eligibility = other endpoint unmatched AND combined vertex weight
  *     under `caps` for EVERY constraint (the P7 cap per constraint,
  *     src/coarsen.c:78-88);
  *   - the shared-memory mutual-match cleanup (S_cleanup_match,
  *     src/aggregate.c:282-392) becomes the J2 handshake self-join: a
  *     proposal survives only if it is reciprocated;
  *   - handshake rounds repeat until the level is unstalled (fewer than
  *     ⅓ of its vertices unmatched, [[stalled]]), a round pairs nobody, or
  *     `rounds` rounds have run (the reference's SHEM is one greedy pass
  *     that matches nearly every vertex); then the still-unmatched
  *     vertices self-match (match_SHEM's fallback,
  *     src/aggregate.c:1582-1588).
  *
  * Output: cmap(vid, coarse) where coarse = min(vid, partner) — the fine→
  * coarse lineage join key (reference `cmap[t]`, src/graph.h:67).
  */
object Matching {

  sealed trait Scheme
  case object SHEM extends Scheme
  case object RM extends Scheme

  /** P4 stall bound (src/aggregate.c:2049-2087): a level whose matching
    * leaves at least ⅓ of its `nvtxs` vertices unmatched has stalled.
    */
  def stalled(unmatched: Long, nvtxs: Long): Boolean = unmatched >= nvtxs / 3

  /** Scalar-weight entry point: vertices(vid, vwgt), single cap. */
  def cmap(edges: DataFrame, vertices: DataFrame, maxVwgt: Long,
           rounds: Int = 8): DataFrame =
    cmapMC(edges, vertices.select(col("vid"), array(col("vwgt")).as("vwgts")),
      Array(maxVwgt), rounds)

  /** Multi-constraint entry point: vertices(vid, vwgts array<bigint>),
    * one cap per constraint.
    *
    * `symIn`/`degIn`: caller-shared level state — the symmetrized adjacency
    * repartitioned by src (persisted by the caller) and the degree table.
    * The M5 dispatch tries up to four schemes per stalled level
    * (SHEM → RM → 2-hop → FC); without sharing, every attempt re-shuffles
    * and re-persists the full E-sized adjacency and re-aggregates degrees
    * (measured: ~30–40% of a stalled level's matching wall).
    *
    * `rounds` caps the handshake rounds; a run that hits the cap with the
    * level still stalled is counted as `<scheme>_round_cap`.
    */
  def cmapMC(edges: DataFrame, vertices: DataFrame, caps: Array[Long],
             rounds: Int = 8, scheme: Scheme = SHEM,
             seed: Long = 42L, nVerts: Long = -1L,
             symIn: DataFrame = null, degIn: DataFrame = null): DataFrame =
    cmapRounds(edges, vertices, caps, rounds, scheme, seed, nVerts, symIn,
      degIn)._1

  /** [[cmapMC]] that also returns the number of handshake rounds it ran. */
  private[graft] def cmapRounds(
      edges: DataFrame, vertices: DataFrame, caps: Array[Long],
      rounds: Int = 8, scheme: Scheme = SHEM, seed: Long = 42L,
      nVerts: Long = -1L, symIn: DataFrame = null,
      degIn: DataFrame = null): (DataFrame, Int) = {
    val ncon = caps.length
    // V-sized state (unmatched set, proposals, matched vids) broadcasts
    // against the E-sized adjacency when |V| is under the dimSide
    // threshold — each handshake round is then a map-only edge scan; sym
    // is partitioned by src so the proposal groupBy needs no exchange
    def dim(df: DataFrame): DataFrame = GraphOps.dimSide(df, nVerts)
    val deg = (if (degIn != null) degIn else GraphOps.degrees(edges))
      .select(col("vid"), col("deg"))
    val vw = vertices.select(col("vid"), col("vwgts"))
    var unmatched = vw.join(deg, Seq("vid"), "left")
      .select(col("vid"), col("vwgts"), coalesce(col("deg"), lit(0L)).as("deg"))
      .persist()
    // typed empty seed (a zero-column emptyDataFrame + withColumn trips
    // Catalyst's Union constraint rewrite in Spark 4)
    var pairs = unmatched.sparkSession
      .createDataFrame(Seq.empty[(Long, Long)]).toDF("u", "v")
    val ownSym = symIn == null
    val sym =
      if (ownSym) GraphOps.symmetrize(edges).repartition(col("src")).persist()
      else symIn

    // eligibility: combined weight under the cap for EVERY constraint (P7)
    def capOk: Column = (0 until ncon).map { c =>
      element_at(col("sw"), c + 1) + element_at(col("dw"), c + 1) <= caps(c)
    }.reduce(_ && _)

    // rounds run while the level is stalled and the last round paired
    // someone, up to the `rounds` cap
    val n = if (nVerts >= 0) nVerts else unmatched.count()
    var left = n
    var ran = 0
    var progress = true
    while (ran < rounds && progress && stalled(left, n)) {
      ran += 1
      val um = unmatched.select(col("vid"), col("vwgts"), col("deg"))
      val elig = sym
        .join(dim(um.select(col("vid").as("src"), col("vwgts").as("sw"))),
          "src")
        .join(dim(um.select(col("vid").as("dst"), col("vwgts").as("dw"),
          col("deg").as("ddeg"))), "dst")
        .filter(capOk)
      // proposal rank: SHEM = heaviest edge, ties to lower partner degree
      // then lower vid; RM = seeded-hash shuffle (deterministic random)
      val rank = scheme match {
        case SHEM => struct(col("wgt"), (-col("ddeg")).as("nd"),
          (-col("dst")).as("nv"))
        // edge-symmetric hash (least/greatest) so both endpoints rank the
        // shared edge identically — locally-max-hash edges handshake
        case RM => struct(xxhash64(least(col("src"), col("dst")),
            greatest(col("src"), col("dst")), lit(seed)).as("r"),
          lit(0L).as("nd"), (-col("dst")).as("nv"))
      }
      val prop = elig
        .groupBy(col("src").as("u"))
        .agg(max(rank).as("best"))
        .select(col("u"), (-col("best.nv")).as("partner"))
      // J2 handshake: keep mutual proposals only
      val mutual = prop.as("a")
        .join(prop.as("b"),
          col("a.partner") === col("b.u") && col("b.partner") === col("a.u"))
        .filter(col("a.u") < col("a.partner"))
        .select(col("a.u").as("u"), col("a.partner").as("v"))
      val prevPairs = pairs
      pairs = graft.plans.Plans.checkpoint(pairs.unionByName(mutual))
      // prevPairs is folded into the new checkpoint — release its blocks
      // (checkpoints are never evicted on their own; leaking one per round
      // per level pins O(levels·rounds·|V|) rows for the session)
      graft.plans.Plans.unpersist(prevPairs)
      val matchedVids = pairs.select(col("u").as("vid"))
        .unionByName(pairs.select(col("v").as("vid")))
      val nextUnmatched = unmatched
        .join(dim(matchedVids), Seq("vid"), "left_anti")
        .persist()
      val nextLeft = nextUnmatched.count()
      progress = nextLeft < left
      left = nextLeft
      unmatched.unpersist()
      unmatched = nextUnmatched
    }
    if (progress && stalled(left, n))
      graft.plans.Metrics.event(s"${scheme.toString.toLowerCase}_round_cap",
        s"$left/$n vertices unmatched after the $rounds-round cap")
    val matchedMap = pairs.select(col("u").as("vid"), col("u").as("coarse"))
      .unionByName(pairs.select(col("v").as("vid"), col("u").as("coarse")))
    val selfMap = unmatched.select(col("vid"), col("vid").as("coarse"))
    // spill-level: the cmap is LEVEL STATE — held until uncoarsening, read
    // a handful of times; serialized rows keep the level stack small on heap
    val out = graft.plans.Plans.checkpointSpill(matchedMap.unionByName(selfMap))
    if (ownSym) sym.unpersist()
    unmatched.unpersist()
    graft.plans.Plans.unpersist(pairs)
    (out, ran)
  }

  /** Leaf matching (M4; reference S_coarsen_match_leaves,
    * src/aggregate.c:847-962 — disabled in the fork, re-expressed here
    * after the Metis 5.1.0 algorithm it cites): degree-1 vertices (leaves)
    * hanging off the SAME parent are matched with each other pairwise.
    * The reference buckets leaves by (hashed) parent id then pairs within
    * each bucket from the ends; relationally that is one aggregation —
    * leaves grouped by their sole neighbor, paired consecutively in vid
    * order (deterministic where the reference's bucket order is
    * thread-dependent). Each parent with n leaves yields exactly
    * ⌊n/2⌋ pairs. Weight cap: a pair must satisfy vwgt(u)+vwgt(v) ≤ cap.
    *
    * Returns pairs (u, v) with u < v.
    */
  def matchLeaves(edges: DataFrame, vertices: DataFrame, maxVwgt: Long,
                  eligible: Option[DataFrame] = None,
                  symIn: DataFrame = null, degIn: DataFrame = null): DataFrame = {
    val deg = (if (degIn != null) degIn else GraphOps.degrees(edges))
      .select(col("vid"), col("deg"))
    val leaves0 = (if (symIn != null) symIn else GraphOps.symmetrize(edges))
      .join(deg.filter(col("deg") === 1).select(col("vid").as("src")), "src")
      .select(col("src").as("leaf"), col("dst").as("parent"))
      .join(vertices.select(col("vid").as("leaf"), col("vwgt")), "leaf")
    // dispatch use (M5): only still-unmatched vertices may pair
    val leaves = eligible.fold(leaves0)(el =>
      leaves0.join(el.select(col("vid").as("leaf")), Seq("leaf"), "left_semi"))
    // pair consecutive leaves (vid order) within each parent: rank r pairs
    // with r+1 for odd r (1-based) — one aggregation, no self-join
    val ranked = leaves.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("parent")).orderBy(col("leaf"))))
    ranked.withColumn("pairId", ((col("r") - 1) / 2).cast("long"))
      .groupBy(col("parent"), col("pairId"))
      .agg(min(col("leaf")).as("u"), max(col("leaf")).as("v"),
        count(lit(1)).as("n"), sum(col("vwgt")).as("w"))
      .filter(col("n") === 2 && col("w") <= maxVwgt)
      .select(col("u"), col("v"))
  }

  /** Twin matching (M4; reference S_coarsen_match_twins,
    * src/aggregate.c:982-1117 — disabled in the fork; based on Metis's
    * Match_2HopAll): vertices with IDENTICAL adjacency lists ("twins",
    * found via the O2 sorted-adjacency signature,
    * [[GraphOps.twinGroups]]'s md5 of the sorted neighbor ids) are matched
    * pairwise — they are 2 hops apart by construction (an edge between
    * them would make their lists differ), so the pair is safe to contract.
    * `maxDeg` bounds eligible twin degree (the reference's maxdeg
    * parameter). Returns pairs (u, v) with u < v.
    */
  def matchTwins(edges: DataFrame, vertices: DataFrame, maxVwgt: Long,
                 maxDeg: Long = 64L,
                 eligible: Option[DataFrame] = None,
                 symIn: DataFrame = null): DataFrame = {
    val sigs0 = (if (symIn != null) symIn
      else GraphOps.symmetrize(edges).repartition(col("src")))
      .groupBy(col("src").as("vid"))
      .agg(md5(concat_ws(",", transform(
        sort_array(collect_list(col("dst"))), d => d.cast("string"))))
        .as("sig"), count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDeg)
      .join(vertices.select(col("vid"), col("vwgt")), "vid")
    val sigs = eligible.fold(sigs0)(el =>
      sigs0.join(el.select(col("vid")), Seq("vid"), "left_semi"))
    val ranked = sigs.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("sig")).orderBy(col("vid"))))
    ranked.withColumn("pairId", ((col("r") - 1) / 2).cast("long"))
      .groupBy(col("sig"), col("pairId"))
      .agg(min(col("vid")).as("u"), max(col("vid")).as("v"),
        count(lit(1)).as("n"), sum(col("vwgt")).as("w"))
      .filter(col("n") === 2 && col("w") <= maxVwgt)
      .select(col("u"), col("v"))
  }

  /** M5 dispatch extension: 2-hop augmentation of a stalled matching
    * (Metis's Match_2HopAll remedy, which the reference's disabled
    * leaf/twin schemes re-implement — src/aggregate.c:847,982). SHEM can
    * never pair a hub's leaves with each other (they share no edge), so a
    * star-heavy level stalls at self-match ratio ≥ 1/3; leaf pairs (M4)
    * and twin pairs (M4/O2) among the still-unmatched vertices fix exactly
    * that shape. Leaves (degree 1) and twins (degree ≥ 2 via the leaf
    * anti-join) are disjoint families, and pairing within each family is
    * disjoint by construction, so the augmented cmap stays a matching.
    *
    * `cmap(vid, coarse)`: self-matched rows may be re-pointed at a 2-hop
    * partner (coarse = min of the pair, the [[cmapMC]] contract).
    */
  def augment2Hop(edges: DataFrame, vertices: DataFrame, cmap: DataFrame,
                  cap: Long, maxDeg: Long = 64L,
                  symIn: DataFrame = null, degIn: DataFrame = null): DataFrame = {
    // Self-matched = coarse group of size 1. `vid === coarse` is NOT
    // equivalent: cmapMC emits (u,u),(v,u) for a matched pair u<v, so the
    // pair's min member also satisfies vid === coarse; re-pointing it at a
    // 2-hop partner while v still points at u would create a 3-member
    // coarse group and silently exceed the weight cap.
    val selfies = cmap.groupBy(col("coarse")).agg(count(lit(1)).as("gsz"))
      .filter(col("gsz") === 1)
      .select(col("coarse").as("vid"))
    val vw = vertices.select(col("vid"),
      element_at(col("vwgts"), 1).as("vwgt"))
    val leafP = matchLeaves(edges, vw, cap, Some(selfies), symIn, degIn)
    val leafV = leafP.select(col("u").as("vid"))
      .unionByName(leafP.select(col("v").as("vid")))
    val twinP = matchTwins(edges, vw, cap, maxDeg, Some(selfies), symIn)
      .join(leafV.withColumnRenamed("vid", "u"), Seq("u"), "left_anti")
      .join(leafV.withColumnRenamed("vid", "v"), Seq("v"), "left_anti")
    val upd = leafP.unionByName(twinP)
      .select(col("u").as("vid"), col("u").as("c2"))
      .unionByName(leafP.unionByName(twinP)
        .select(col("v").as("vid"), col("u").as("c2")))
    graft.plans.Plans.checkpointSpill(
      cmap.join(upd, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("c2"), col("coarse")).as("coarse")))
  }
}
