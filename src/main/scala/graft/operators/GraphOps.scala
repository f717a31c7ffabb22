package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core graph primitives over the canonical undirected edge table
  * `edges(src bigint, dst bigint, wgt bigint)` with `src < dst`.
  *
  * The reference's CSR graph invariants (check_graph,
  * reference src/check.c:303-414: symmetry, weight totals, no self-loops)
  * become DataFrame checks here; its edge-balanced block-cyclic placement
  * (S_par_distribute_blockcyclic, reference src/graph.c:1369-1454) becomes
  * [[edgeBalancedRanges]] — the skew-aware placement the north rule demands.
  */
object GraphOps {

  /** Directed symmetric view: each undirected edge appears both ways.
    * This is the join-ready adjacency (reference CSR stores both directions
    * too — symmetric adjncy, src/check.c:342-390).
    */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("wgt"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("wgt")))

  /** Max |V| for which V-sized per-vertex state (assignments, cmaps, vertex
    * weights) is broadcast against E-sized edge scans. Vertex state is the
    * dimension table of every partitioner join: |V| rows vs |E| = avg-degree
    * × |V| rows on the edge side, so a broadcast turns each refinement /
    * matching round from a full-edge shuffle into a map-only scan. 8M rows
    * ≈ 400 MB as a broadcast hash relation — fine for executors with a few
    * GB of memory; above the threshold (10⁹-vertex cluster scale) every
    * call site falls back to the shuffle join unchanged.
    */
  val BcastMaxVerts: Long = 8000000L

  /** Whether V-sized state of a caller-known `nRows` rows may pass
    * through the driver: within [[BcastMaxVerts]]; `nRows < 0` = unknown =
    * never. The one rule behind [[dimSide]] and the matching's
    * driver-resident handshake.
    */
  def broadcastable(nRows: Long): Boolean =
    nRows >= 0 && nRows <= BcastMaxVerts

  /** Broadcast `df` when it is [[broadcastable]]. The explicit hint
    * matters because partitioner state is checkpointed stats-free
    * (Plans.statlessLocalCheckpoint), so Catalyst never auto-broadcasts it.
    */
  def dimSide(df: DataFrame, nRows: Long): DataFrame =
    if (broadcastable(nRows)) broadcast(df) else df

  /** Per-vertex degree and weighted degree (A8/F3 analogue).
    *
    * Repartition BEFORE the groupBy: without it every map task builds a
    * partial-agg hash map over the full |V| key space — at 12M vertices ×
    * 32 concurrent tasks that is the AGGREGATE_OUT_OF_MEMORY shape NOTES.md
    * documents (high-cardinality agg anti-scales). With the exchange first,
    * each task's map holds |V|/P keys (cache-resident) and the exchange
    * already satisfies the grouping, so no second shuffle is added.
    */
  def degrees(edges: DataFrame): DataFrame =
    symmetrize(edges).repartition(col("src"))
      .groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("deg"), sum(col("wgt")).as("wdeg"))

  /** Vertex set present in the edge table. */
  def edgeVertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("vid"))
      .unionByName(edges.select(col("dst").as("vid"))).distinct()

  /** Degree-0 island filter (reference par_graph_removeislands,
    * src/graph.c:3104-3269): split `vertices` into (connected, islands).
    */
  def splitIslands(vertices: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val touched = edgeVertices(edges)
    (vertices.join(touched, "vid"),
     vertices.join(touched, Seq("vid"), "left_anti"))
  }

  /** Exact vid-ordered cumulative degree sum WITHOUT a global single-
    * partition window (the A11 prefix-sum analogue, scale path): contiguous
    * vid buckets from approximate quantiles (driver-side, `buckets` values —
    * the boundaries only steer execution, the sums stay exact), per-bucket
    * ordered window, then exact driver-side prefix sums of the bucket
    * totals joined back as offsets. Same two-phase pattern as
    * EdgeDeriver.vertices; replaces the `Window.orderBy(vid)` global window
    * that funneled the whole |V|-row degree table through one task.
    * Returns (vid, deg, cum) with cum inclusive.
    */
  private[graft] def cumDegByVid(deg: DataFrame, buckets: Int = 64): DataFrame = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bnds = deg.stat.approxQuantile("vid", probs, 0.01)
      .map(_.toLong).distinct.sorted
    val bucketCol = bnds.zipWithIndex.foldRight(lit(bnds.length)) {
      case ((hi, i), e) => when(col("vid") <= hi, lit(i)).otherwise(e)
    }
    val withB = deg.withColumn("bkt", bucketCol.cast("int"))
    val tots = withB.groupBy(col("bkt")).agg(sum(col("deg")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val nB = bnds.length + 1
    val offs = (0 until nB).scanLeft(0L)((acc, b) => acc + tots.getOrElse(b, 0L))
    val offsDf = deg.sparkSession.createDataFrame(
      (0 until nB).map(b => (b, offs(b)))).toDF("bkt", "boff")
    val w = Window.partitionBy(col("bkt")).orderBy(col("vid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.withColumn("cumLocal", sum(col("deg")).over(w))
      .join(broadcast(offsDf), "bkt")
      .select(col("vid"), col("deg"), (col("boff") + col("cumLocal")).as("cum"))
  }

  /** Exact global dense row-number over `orderCols` WITHOUT a global
    * single-task window (the W1/A11 two-phase pattern, rank flavour):
    * bucket on a numeric `bkey` column that is monotone (not necessarily
    * strictly) in the lexicographic order of `orderCols` — approximate
    * quantile boundaries only steer execution; exactness comes from the
    * within-bucket ordered window plus exact driver-side prefix counts of
    * the bucket sizes. Ties in bkey land in one bucket, so any total
    * order refined by bkey is reproduced exactly.
    * Returns the input plus a 1-based `rankCol` long column.
    */
  private[graft] def bucketedGlobalRank(df: DataFrame, bkey: Column,
      orderCols: Seq[Column], rankCol: String,
      buckets: Int = 64): DataFrame = {
    val keyed = df.withColumn("_bkey", bkey.cast("double"))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bnds = keyed.stat.approxQuantile("_bkey", probs, 0.01)
      .distinct.sorted
    val bucketCol = bnds.zipWithIndex.foldRight(lit(bnds.length)) {
      case ((hi, i), e) => when(col("_bkey") <= hi, lit(i)).otherwise(e)
    }
    val withB = keyed.withColumn("_bkt", bucketCol.cast("int"))
    val counts = withB.groupBy(col("_bkt")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val nB = bnds.length + 1
    val offs = (0 until nB).scanLeft(0L)((acc, b) =>
      acc + counts.getOrElse(b, 0L))
    val offsDf = df.sparkSession.createDataFrame(
      (0 until nB).map(b => (b, offs(b)))).toDF("_bkt", "_boff")
    val w = Window.partitionBy(col("_bkt")).orderBy(orderCols: _*)
    withB.withColumn("_r", row_number().over(w))
      .join(broadcast(offsDf), "_bkt")
      .withColumn(rankCol, (col("_boff") + col("_r")).cast("long"))
      .drop("_bkey", "_bkt", "_boff", "_r")
  }

  /** Edge-balanced range boundaries (reference P1): split the vid domain so
    * each of `numRanges` contiguous vid ranges carries ≈ equal *edges*, via
    * the bucketed degree cumulative sum ([[cumDegByVid]]).
    * Returns the ordered upper-bound vids.
    */
  def edgeBalancedRanges(edges: DataFrame, numRanges: Int): Array[Long] =
    edgeBalancedRangesFromDeg(degrees(edges), numRanges)

  /** [[edgeBalancedRanges]] over an already-computed (ideally checkpointed)
    * degree table, so callers that also consume `degrees` themselves don't
    * pay the |E|-row aggregation twice.
    */
  def edgeBalancedRangesFromDeg(deg: DataFrame, numRanges: Int): Array[Long] = {
    val total = deg.agg(sum(col("deg"))).head().getLong(0)
    val quota = math.max(1L, total / numRanges)
    cumDegByVid(deg)
      .withColumn("rangeId", least(floor((col("cum") - 1) / quota),
        lit((numRanges - 1).toLong)))
      .groupBy(col("rangeId")).agg(max(col("vid")).as("hi"))
      .orderBy(col("rangeId")).collect().map(_.getLong(1))
  }

  /** Edge-granular balanced block assignment (the reference's edge-balanced
    * block-cyclic distribution P1, S_par_distribute_blockcyclic
    * src/graph.c:1369-1454, at *edge* granularity): every directed adjacency
    * entry gets a global position `off(src) + rank-within-src` (degree
    * exclusive prefix sum + per-src row_number — the A11 prefix-sum
    * analogue), and blockId = position / quota. Unlike vid-range blocks this
    * SPLITS power-law hub vertices across blocks, so no block (task) can
    * exceed quota + 1 edges — the skew-proof placement for the analytics
    * kernels (north rule P15).
    *
    * The vid-ordered prefix runs over the per-vertex degree table (|V|
    * rows, not |E|) via the bucketed two-phase sum ([[cumDegByVid]]) — no
    * single-task global window.
    *
    * Returns the symmetrized adjacency with a `blockId` column.
    */
  def edgeBalancedSym(edges: DataFrame, numBlocks: Int): DataFrame = {
    val sym = symmetrize(edges)
    val deg = degrees(edges).select(col("vid"), col("deg"))
    val total = deg.agg(sum(col("deg"))).head().getLong(0)
    val quota = math.max(1L, (total + numBlocks - 1) / numBlocks)
    val offs = cumDegByVid(deg)
      .select(col("vid").as("src"), (col("cum") - col("deg")).as("off"))
    val wRn = Window.partitionBy(col("src")).orderBy(col("dst"))
    sym
      .withColumn("rn", row_number().over(wRn) - 1)
      .join(offs, "src")
      .withColumn("blockId",
        least(floor((col("off") + col("rn")) / quota),
          lit((numBlocks - 1).toLong)).cast("int"))
      .select(col("blockId"), col("src"), col("dst"), col("wgt"))
  }

  /** rangeId column for a vid under [[edgeBalancedRanges]] boundaries
    * (binary search over the broadcast-small boundary array, expressed as
    * the count of boundaries strictly below vid).
    */
  def rangeIdFor(vidCol: Column, bounds: Array[Long]): Column =
    bounds.zipWithIndex.foldRight(lit(bounds.length - 1)) {
      case ((hi, i), elseCol) => when(vidCol <= hi, lit(i)).otherwise(elseCol)
    }

  /** F2 weight-ignore projection (reference `-W`,
    * src/mtmetis_bin.c:548-562): force all edge weights to 1.
    */
  def ignoreWeights(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("wgt"))

  /** F3 extra-constraint projection (reference `-V`,
    * src/mtmetis_bin.c:564-590): append each vertex's degree as an
    * additional balance-constraint column on `vertices(vid, vwgts)`.
    */
  def withDegreeConstraint(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices.join(degrees(edges).select(col("vid"), col("deg")), Seq("vid"), "left")
      .withColumn("vwgts", concat(col("vwgts"),
        array(coalesce(col("deg"), lit(0L)))))
      .drop("deg")

  /** F3 unit-constraint projection (reference `-1`,
    * src/mtmetis_bin.c:564-590): append a constant-1 constraint (balances
    * vertex COUNTS alongside the existing weights).
    */
  def withUnitConstraint(vertices: DataFrame): DataFrame =
    vertices.withColumn("vwgts", concat(col("vwgts"), array(lit(1L))))

  /** Edge-cut of an assignment (reference A4, graph_cut
    * src/graph.c:2030-2089): Σ wgt over edges whose endpoints land in
    * different parts. Canonical edges are unique so no halving needed.
    */
  def edgeCut(edges: DataFrame, assign: DataFrame, nVerts: Long = -1L): Long = {
    val a = dimSide(assign.select(col("vid"), col("part")), nVerts)
    val cut = edges
      .join(a.withColumnRenamed("vid", "src").withColumnRenamed("part", "sp"), "src")
      .join(a.withColumnRenamed("vid", "dst").withColumnRenamed("part", "dp"), "dst")
      .filter(col("sp") =!= col("dp"))
      .agg(coalesce(sum(col("wgt")), lit(0L))).head().getLong(0)
    cut
  }

  /** Partition weights + imbalance (reference A3/A7, graph_imbalance
    * src/graph.c:1975-2000): max_p pwgt(p) / (tvwgt/nparts).
    */
  def imbalance(assign: DataFrame, vertexWgt: DataFrame, nparts: Int): Double = {
    val pw = assign.join(vertexWgt, "vid")
      .groupBy(col("part")).agg(sum(col("vwgt")).as("pwgt"))
    val rows = pw.agg(max(col("pwgt")).as("mx"), sum(col("pwgt")).as("tot")).head()
    val (mx, tot) = (rows.getLong(0), rows.getLong(1))
    mx.toDouble * nparts / tot.toDouble
  }

  /** Internal/external (interface) vertex counts per part (reference A10,
    * par_graph_intext_vtx src/graph.c:3004-3042): a vertex is EXTERNAL if
    * any neighbor lands in a different part, else internal. Vertices with
    * no neighbors (islands) count as internal.
    */
  def intExtCounts(edges: DataFrame, assign: DataFrame): DataFrame = {
    val a = assign.select(col("vid"), col("part"))
    val ext = symmetrize(edges)
      .join(a.select(col("vid").as("src"), col("part").as("sp")), "src")
      .join(a.select(col("vid").as("dst"), col("part").as("dp")), "dst")
      .groupBy(col("src").as("vid"))
      .agg(max(when(col("sp") =!= col("dp"), 1L).otherwise(0L)).as("is_ext"))
    a.join(ext, Seq("vid"), "left")
      .groupBy(col("part"))
      .agg(sum(when(coalesce(col("is_ext"), lit(0L)) === 0L, 1L)
          .otherwise(0L)).as("n_internal"),
        sum(coalesce(col("is_ext"), lit(0L))).as("n_external"))
  }

  /** Vertex-separator size and balance metrics (reference A6,
    * S_ser_calc_vsep src/partition.c:155-179) over a 3-way labeling
    * `where(vid, side)` with side ∈ {0=A, 1=B, 2=SEP}: separator weight plus
    * the count of VIOLATING edges (an A-B edge not covered by the
    * separator — must be 0 for a valid separator).
    */
  def vsepMetrics(edges: DataFrame, vertexWgt: DataFrame,
                  where: DataFrame): DataFrame = {
    val w = where.select(col("vid"), col("side"))
    val sides = w.join(vertexWgt, "vid")
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n"), sum(col("vwgt")).as("wgt"))
      .collect().map(r => r.get(0).toString.toInt ->
        (r.getLong(1), r.getLong(2))).toMap
    val violations = edges
      .join(w.select(col("vid").as("src"), col("side").as("ss")), "src")
      .join(w.select(col("vid").as("dst"), col("side").as("ds")), "dst")
      .filter((col("ss") === 0 && col("ds") === 1) ||
        (col("ss") === 1 && col("ds") === 0))
      .count()
    val s = edges.sparkSession
    import s.implicits._
    Seq((sides.getOrElse(0, (0L, 0L))._1, sides.getOrElse(1, (0L, 0L))._1,
      sides.getOrElse(2, (0L, 0L))._1, sides.getOrElse(2, (0L, 0L))._2,
      violations))
      .toDF("n_a", "n_b", "n_sep", "sep_weight", "violations")
  }

  /** Communication volume (reference A5, S_ser_calc_comvol
    * src/partition.c:101-144): Σ_v #distinct external parts adjacent to v.
    */
  def commVolume(edges: DataFrame, assign: DataFrame): Long = {
    val a = assign.select(col("vid"), col("part"))
    symmetrize(edges)
      .join(a.withColumnRenamed("vid", "src").withColumnRenamed("part", "sp"), "src")
      .join(a.withColumnRenamed("vid", "dst").withColumnRenamed("part", "dp"), "dst")
      .filter(col("sp") =!= col("dp"))
      .groupBy(col("src")).agg(countDistinct(col("dp")).as("ext"))
      .agg(coalesce(sum(col("ext")), lit(0L))).head().getLong(0)
  }

  /** Hash-sorted twin detection (O2; reference ah_quicksort over
    * (adjacency-hash, vid) pairs, src/aggregate.c:1035-1108): vertices with
    * IDENTICAL neighbor sets grouped by a signature of the sorted adjacency
    * list. The reference sorts (hash, vid) pairs then scans runs; the
    * relational form is one hash-aggregate over the symmetrized edges —
    * md5 of the comma-joined sorted neighbor ids (DuckDB-replicable:
    * md5(string_agg(dst ORDER BY dst))). Returns one row per twin CLASS
    * with ≥ 2 members: (sig, n_twins, min_vid).
    */
  def twinGroups(edges: DataFrame): DataFrame =
    symmetrize(edges).repartition(col("src"))
      .groupBy(col("src").as("vid"))
      .agg(md5(concat_ws(",", transform(
        sort_array(collect_list(col("dst"))), d => d.cast("string"))))
        .as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_twins"), min(col("vid")).as("min_vid"))
      .filter(col("n_twins") >= 2)

  /** Counting-sort visit order (W1; reference vv_countingsort_kv at
    * src/aggregate.c:1469-1476, degree cap 0.7·avg+1 at :1444-1453):
    * vertices ranked by ascending CAPPED degree with deterministically
    * shuffled ties — the multiplicative-hash shuffle stands in for the
    * reference's race-dependent per-thread tie order (SURVEY §7(a);
    * multiplicative hashing is the reference's own idiom,
    * src/aggregate.c:1026-1029). Consumer: SHEM's proposal tie-break
    * prefers low-degree partners ([[graft.partitioner.Matching]]).
    * Returns (vid, capped_deg, visit_rank).
    */
  def visitOrder(edges: DataFrame): DataFrame = {
    // consumed by two actions (avg + ranked output): materialize once
    val deg = graft.plans.Plans.checkpoint(
      degrees(edges).select(col("vid"), col("deg")))
    val avgDeg = deg.agg(avg(col("deg"))).head().getDouble(0)
    val cap = math.floor(0.7 * avgDeg).toLong + 1L
    val keyed = deg.select(col("vid"),
      least(col("deg"), lit(cap)).as("capped_deg"),
      pmod(col("vid") * lit(2654435761L), lit(2147483647L)).as("h"))
    // exact global rank via the bucketed two-phase pattern — the double
    // bkey capped_deg·2³¹ + h is monotone in (capped_deg, h) (rounding is
    // monotone), so bucket order refines the true order and the
    // within-bucket window restores exactness incl. the vid tiebreak
    bucketedGlobalRank(keyed,
        col("capped_deg") * lit(2147483648.0) + col("h"),
        Seq(col("capped_deg"), col("h"), col("vid")), "visit_rank")
      .select(col("vid"), col("capped_deg"), col("visit_rank"))
  }
}
