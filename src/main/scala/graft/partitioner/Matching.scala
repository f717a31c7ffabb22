package graft.partitioner

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.GraphOps

/** Matching for coarsening — the Spark re-expression of the reference's matching schemes
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
  *     src/aggregate.c:282-392) becomes the J2 handshake: a proposal
  *     survives only if it is reciprocated;
  *   - handshake rounds repeat until the level is unstalled (fewer than
  *     ⅓ of its vertices unmatched, [[stalled]]), a round pairs nobody, or
  *     `rounds` rounds have run (the reference's SHEM is one greedy pass
  *     that matches nearly every vertex); then the still-unmatched
  *     vertices self-match (match_SHEM's fallback,
  *     src/aggregate.c:1582-1588).
  *
  * Where the V-sized handshake state lives: in the driver whenever the
  * level's vertex count is known and [[GraphOps.broadcastable]] (the
  * reference's thread-owned vertex arrays, gathered once; a round is one
  * scan of the adjacency), else in checkpointed frames joined against the
  * adjacency every round ([[cmapRounds]]).
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

  /** [[cmapMC]] that also returns the number of handshake rounds it ran
    * and the number of matched pairs (the cmap rows with vid ≠ coarse).
    * A [[GraphOps.broadcastable]] `nVerts` (the rule behind every `dimSide`
    * broadcast) runs [[driverRounds]]; `nVerts < 0` or a level too large
    * for the driver runs [[joinRounds]]. Both give the same cmap, round
    * count and pair count.
    */
  private[graft] def cmapRounds(
      edges: DataFrame, vertices: DataFrame, caps: Array[Long],
      rounds: Int = 8, scheme: Scheme = SHEM, seed: Long = 42L,
      nVerts: Long = -1L, symIn: DataFrame = null,
      degIn: DataFrame = null): (DataFrame, Int, Long) = {
    val deg = (if (degIn != null) degIn else GraphOps.degrees(edges))
      .select(col("vid"), col("deg"))
    val state = vertices.select(col("vid"), col("vwgts"))
      .join(deg, Seq("vid"), "left")
      .select(col("vid"), col("vwgts"), coalesce(col("deg"), lit(0L)).as("deg"))
    val ownSym = symIn == null
    val sym =
      if (ownSym) GraphOps.symmetrize(edges).repartition(col("src")).persist()
      else symIn
    val out =
      if (GraphOps.broadcastable(nVerts))
        driverRounds(state, sym, caps, rounds, scheme, seed, nVerts)
      else joinRounds(state, sym, caps, rounds, scheme, seed, nVerts)
    if (ownSym) sym.unpersist()
    out
  }

  /** The stop rule both paths share: `round()` runs one handshake round
    * and returns the unmatched count after it; rounds run while the level
    * is stalled and the last round paired someone, up to the `rounds` cap.
    * Returns the rounds run.
    */
  private def handshake(scheme: Scheme, rounds: Int, n: Long)(
      round: () => Long): Int = {
    var left = n
    var ran = 0
    var progress = true
    while (ran < rounds && progress && stalled(left, n)) {
      ran += 1
      val nextLeft = round()
      progress = nextLeft < left
      left = nextLeft
    }
    if (progress && stalled(left, n))
      graft.plans.Metrics.event(s"${scheme.toString.toLowerCase}_round_cap",
        s"$left/$n vertices unmatched after the $rounds-round cap")
    ran
  }

  /** The distributed handshake: the unmatched set and the pairs are
    * checkpointed frames, and each round joins the adjacency against them
    * (broadcast when `nVerts` is known and small, [[GraphOps.dimSide]]).
    */
  private def joinRounds(state: DataFrame, sym: DataFrame, caps: Array[Long],
                         rounds: Int, scheme: Scheme, seed: Long,
                         nVerts: Long): (DataFrame, Int, Long) = {
    val ncon = caps.length
    def dim(df: DataFrame): DataFrame = GraphOps.dimSide(df, nVerts)
    var unmatched = state.persist()
    // typed empty seed (a zero-column emptyDataFrame + withColumn trips
    // Catalyst's Union constraint rewrite in Spark 4)
    var pairs = unmatched.sparkSession
      .createDataFrame(Seq.empty[(Long, Long)]).toDF("u", "v")
    var nPairs = 0L

    // eligibility: combined weight under the cap for EVERY constraint (P7)
    def capOk: Column = (0 until ncon).map { c =>
      element_at(col("sw"), c + 1) + element_at(col("dw"), c + 1) <= caps(c)
    }.reduce(_ && _)

    val n = if (nVerts >= 0) nVerts else unmatched.count()
    val ran = handshake(scheme, rounds, n) { () =>
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
      val (next, cnt) = GraftSqlInternals.statlessLocalCheckpointCounted(
        pairs.unionByName(mutual), StorageLevel.MEMORY_AND_DISK)
      pairs = next; nPairs = cnt
      // prevPairs is folded into the new checkpoint — release its blocks
      // (the ContextCleaner drops a checkpoint only once a GC clears its
      // RDD; one left per round per level holds O(levels·rounds·|V|) rows
      // for as long as GC timing decides)
      graft.plans.Plans.unpersist(prevPairs)
      val matchedVids = pairs.select(col("u").as("vid"))
        .unionByName(pairs.select(col("v").as("vid")))
      val nextUnmatched = unmatched
        .join(dim(matchedVids), Seq("vid"), "left_anti")
        .persist()
      val nextLeft = nextUnmatched.count()
      unmatched.unpersist()
      unmatched = nextUnmatched
      nextLeft
    }
    val matchedMap = pairs.select(col("u").as("vid"), col("u").as("coarse"))
      .unionByName(pairs.select(col("v").as("vid"), col("u").as("coarse")))
    val selfMap = unmatched.select(col("vid"), col("vid").as("coarse"))
    // spill-level: the cmap is LEVEL STATE — held until uncoarsening, read
    // a handful of times; serialized rows keep the level stack small on heap
    val out = graft.plans.Plans.checkpointSpill(matchedMap.unionByName(selfMap))
    unmatched.unpersist()
    graft.plans.Plans.unpersist(pairs)
    (out, ran, nPairs)
  }

  /** Level-constant vertex state of the driver-resident handshake: vids
    * sorted ascending (a vertex is its index here, so index order is vid
    * order), their degrees, and their weights `ncon` to a vertex.
    *
    * [[index]] maps a vid to its index through open addressing over int
    * slots (index + 1, 0 = empty), Fibonacci-hashed at load ≤ ½: one or
    * two cache misses per lookup. A binary search of the sorted vids takes
    * ~log2(V) dependent misses, twice per directed edge per round; at 2M
    * vertices the index cut a SHEM call from 28 s to 20 s (NOTES.md).
    */
  private final class VState(val vids: Array[Long], val deg: Array[Long],
                             val wgts: Array[Long]) extends Serializable {
    private val bits =
      64 - java.lang.Long.numberOfLeadingZeros(2L * math.max(vids.length, 1) - 1)
    private val mask = (1 << bits) - 1
    private val slots = new Array[Int](1 << bits)
    private def home(v: Long): Int =
      ((v * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
    locally {
      var i = 0
      while (i < vids.length) {
        var s = home(vids(i))
        while (slots(s) != 0) s = (s + 1) & mask
        slots(s) = i + 1
        i += 1
      }
    }

    /** The index of `v`, or -1 when `v` is not a vertex of the level. */
    def index(v: Long): Int = {
      var s = home(v)
      while (slots(s) != 0) {
        val i = slots(s) - 1
        if (vids(i) == v) return i
        s = (s + 1) & mask
      }
      -1
    }
  }

  /** The proposal order of both schemes over vertex indices — the join
    * path's `max(struct(key, -tie, -dst))`: the higher key wins (SHEM: the
    * edge weight; RM: the seeded edge hash), then the lower `tie` (SHEM:
    * the partner's degree; RM: none, `tie == null`), then the lower partner.
    */
  private final class Rank(tie: Array[Long]) {
    def better(k1: Long, d1: Int, k2: Long, d2: Int): Boolean =
      k1 > k2 || k1 == k2 && {
        val t1 = if (tie == null) 0L else tie(d1)
        val t2 = if (tie == null) 0L else tie(d2)
        t1 < t2 || t1 == t2 && d1 < d2
      }
  }

  /** One partition's best proposal per src index: open addressing over int
    * keys with primitive slots — this runs once per edge, where a boxed map
    * would allocate per edge (NOTES.md, "LongMap boxes its values").
    */
  private final class Proposals(rank: Rank) {
    private var mask = 255
    private var src = Array.fill(mask + 1)(-1)
    private var key = new Array[Long](mask + 1)
    private var dst = new Array[Int](mask + 1)
    private var size = 0

    private def slot(s: Int): Int = {
      val h = s * 0x9E3779B9
      var i = (h ^ (h >>> 16)) & mask
      while (src(i) >= 0 && src(i) != s) i = (i + 1) & mask
      i
    }

    def offer(s: Int, k: Long, d: Int): Unit = {
      val i = slot(s)
      if (src(i) < 0) {
        src(i) = s; key(i) = k; dst(i) = d; size += 1
        if (2 * size > mask) grow()
      } else if (rank.better(k, d, key(i), dst(i))) { key(i) = k; dst(i) = d }
    }

    private def grow(): Unit = {
      val (os, ok, od) = (src, key, dst)
      mask = mask * 2 + 1
      src = Array.fill(mask + 1)(-1)
      key = new Array[Long](mask + 1)
      dst = new Array[Int](mask + 1)
      var j = 0
      while (j < os.length) {
        if (os(j) >= 0) {
          val i = slot(os(j)); src(i) = os(j); key(i) = ok(j); dst(i) = od(j)
        }
        j += 1
      }
    }

    /** (src, key, dst) of every proposal, as parallel arrays. */
    def result: (Array[Int], Array[Long], Array[Int]) = {
      val live = src.indices.filter(src(_) >= 0).toArray
      (live.map(src), live.map(key), live.map(dst))
    }
  }

  /** The driver-resident handshake: the vertex state is gathered once into
    * sorted primitive arrays and broadcast once; each round broadcasts only
    * the unmatched bitmap and runs one per-partition kernel over `sym` that
    * emits each src's best eligible proposal. The driver merges those by
    * the same rank (so the result does not depend on how `sym` is
    * partitioned), keeps the mutual pairs, and clears their bits.
    */
  private def driverRounds(state: DataFrame, sym: DataFrame,
                           caps: Array[Long], rounds: Int, scheme: Scheme,
                           seed: Long, n: Long): (DataFrame, Int, Long) = {
    val ncon = caps.length
    val spark = state.sparkSession
    val sc = spark.sparkContext
    // one gather, each partition packed into primitive arrays (no Row per
    // vertex on the driver)
    val packed = state.select(col("vid").cast("long"), col("vwgts"),
        col("deg").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val v = new mutable.ArrayBuilder.ofLong
        val d = new mutable.ArrayBuilder.ofLong
        val w = new mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          v += r.getLong(0)
          val a = r.getArray(1)
          var c = 0
          while (c < ncon) { w += a.getLong(c); c += 1 }
          d += r.getLong(2)
        }
        Iterator.single((v.result(), d.result(), w.result()))
      }.collect()
    val rawV = Array.concat(packed.map(_._1).toIndexedSeq: _*)
    val rawD = Array.concat(packed.map(_._2).toIndexedSeq: _*)
    val rawW = Array.concat(packed.map(_._3).toIndexedSeq: _*)
    val vids = rawV.clone()
    java.util.Arrays.sort(vids)
    val nv = vids.length
    val deg = new Array[Long](nv)
    val vstate = new VState(vids, deg, new Array[Long](nv * ncon))
    var i = 0
    while (i < nv) {
      val j = vstate.index(rawV(i))
      deg(j) = rawD(i)
      System.arraycopy(rawW, i * ncon, vstate.wgts, j * ncon, ncon)
      i += 1
    }
    val stB = sc.broadcast(vstate)
    val rm = scheme == RM
    val rank = new Rank(if (rm) null else deg)
    // the adjacency scan, planned once for every round (sym is persisted)
    val edgeRows = sym.select(col("src").cast("long"), col("dst").cast("long"),
      col("wgt").cast("long")).queryExecution.toRdd

    val alive = new java.util.BitSet(nv)
    alive.set(0, nv)
    // cmap: coarse = min(vid, mate), self for the unmatched
    val coarse = vids.clone()
    var nPairs = 0L
    val ran = handshake(scheme, rounds, n) { () =>
      val aliveB = sc.broadcast(alive.toLongArray)
      val props = edgeRows.mapPartitions { it =>
        val st = stB.value
        val live = java.util.BitSet.valueOf(aliveB.value)
        val best = new Proposals(new Rank(if (rm) null else st.deg))
        it.foreach { r =>
          val s = r.getLong(0)
          val si = st.index(s)
          if (si >= 0 && live.get(si)) {
            val d = r.getLong(1)
            val di = st.index(d)
            // eligibility: combined weight under EVERY constraint's cap (P7)
            var ok = di >= 0 && live.get(di)
            var c = 0
            while (ok && c < ncon) {
              ok = st.wgts(si * ncon + c) + st.wgts(di * ncon + c) <= caps(c)
              c += 1
            }
            if (ok) {
              // RM: Spark's xxhash64(least, greatest, seed) — seed-42
              // chained through each argument, as catalyst's XxHash64 does
              val k =
                if (rm) XXH64.hashLong(seed, XXH64.hashLong(math.max(s, d),
                  XXH64.hashLong(math.min(s, d), 42L)))
                else r.getLong(2)
              best.offer(si, k, di)
            }
          }
        }
        Iterator.single(best.result)
      }.collect()
      aliveB.destroy()
      val bestKey = new Array[Long](nv)
      val bestDst = Array.fill(nv)(-1)
      props.foreach { case (ss, ks, ds) =>
        var j = 0
        while (j < ss.length) {
          val s = ss(j)
          if (bestDst(s) < 0 || rank.better(ks(j), ds(j), bestKey(s), bestDst(s))) {
            bestKey(s) = ks(j); bestDst(s) = ds(j)
          }
          j += 1
        }
      }
      // J2 handshake: mutual proposals pair, the lower vid first
      var u = 0
      while (u < nv) {
        val p = bestDst(u)
        if (p > u && bestDst(p) == u) {
          coarse(p) = vids(u)
          alive.clear(u); alive.clear(p)
          nPairs += 1
        }
        u += 1
      }
      nv - 2 * nPairs
    }
    val coarseB = sc.broadcast(coarse)
    // as many partitions as the shuffles that made the level's other frames:
    // the uncoarsening projection inherits the cmap's partitioning
    val rows = sc.range(0L, nv.toLong, 1L,
        spark.sessionState.conf.numShufflePartitions).map { v =>
      (stB.value.vids(v.toInt), coarseB.value(v.toInt))
    }
    val out = graft.plans.Plans.checkpointSpill(
      spark.createDataFrame(rows).toDF("vid", "coarse"))
    stB.destroy(); coarseB.destroy()
    (out, ran, nPairs)
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
