package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSR-encoded partitions (north rule: analytics "over CSR-encoded Dataset
  * partitions"). One [[Block]] per block id holds the compressed-sparse-row
  * slice of the symmetrized adjacency — the Spark re-expression of the
  * reference's per-thread CSR slices (`xadj[t]/adjncy[t]/adjwgt[t]`,
  * reference src/graph.h:53-57) with edge-balanced placement
  * (S_par_distribute_blockcyclic, src/graph.c:1369-1454) — kept in the
  * destination-tiled form the PageRank kernel reads.
  *
  * Two placements, one assembler ([[assemble]]):
  *   - [[build]] — contiguous vid ranges with ≈equal edges
  *     ([[GraphOps.edgeBalancedRanges]]); simple, but a power-law hub bigger
  *     than the quota still lands whole in one block;
  *   - [[buildBalanced]] — edge-granular ([[GraphOps.edgeBalancedSym]]):
  *     hub adjacency is SPLIT across blocks, so no task exceeds the quota —
  *     the skew-proof layout the scaling bench uses (north rule P15).
  *     A vertex may then appear in several blocks with partial adjacency;
  *     consumers aggregate across blocks (PR contributions already do).
  *
  * Both return `(blockId, block)` pairs, one partition per block id, with
  * ids in `[0, numPartitions)`. PageRank over them is [[CsrDirect]]
  * (`build*` → `CsrDirect.prepare`).
  */
object Csr {

  /** Accumulator tile size (2^16 doubles = 512 KB): the kernel's random
    * writes land inside one L2-resident tile at a time instead of spraying
    * an |dstVids|-sized (multi-MB) array — profiled at 130M edges, the
    * untiled kernel's acc misses were the DRAM traffic that inflated
    * per-task CPU 1.33x at 32 threads vs 8 (the scaling killer; NOTES.md
    * round 3).
    */
  private val TileBits = 16

  /** One CSR slice, destination-tiled:
    *
    *   - `vids`: the block's source vertices, strictly ascending;
    *   - `dstVids`: the block-local destination dictionary (sorted distinct
    *     destinations), so kernels accumulate into primitive arrays indexed
    *     by position (zero allocation per edge; a boxed per-edge map
    *     measured as a GC collapse at scale);
    *   - `srcT`/`dstT`/`wT`: the directed edges counting-sorted by
    *     destination tile `dstT >> TileBits` (stable, so within a tile the
    *     CSR src-ascending order is preserved: each accumulator slot still
    *     receives its partial sums in exactly the CSR order → bit-identical
    *     results to the untiled walk). `srcT` indexes `vids`, `dstT`
    *     indexes `dstVids`; weights are 4-byte (range-checked at build);
    *   - `wdegLoc`: this block's weighted out-degree per `vids` slot
    *     (summed globally across split copies in [[CsrDirect.prepare]]).
    *
    * The 8-byte global adjacency and weights are never kept: building them
    * first OOM'd assembly at ~12M directed edges/block × 32 concurrent
    * tasks in 20g; this form peaks at ~60% of that.
    */
  final case class Block(blockId: Int, vids: Array[Long],
                         dstVids: Array[Long],
                         srcT: Array[Int], dstT: Array[Int], wT: Array[Int],
                         wdegLoc: Array[Long]) {
    def nvtxs: Int = vids.length
    def nedges: Int = srcT.length
  }

  @inline private def intWeight(w: Long): Int = {
    require(w >= Int.MinValue && w <= Int.MaxValue,
      s"edge weight $w exceeds Int range (CSR blocks pack weights as 4-byte ints)")
    w.toInt
  }

  /** The block-local destination dictionary of the first `nE` entries of
    * `adj`: `dstVids` = sorted distinct destinations (primitive sort +
    * unique scan; Array.distinct/sorted box per element) and `adjLocal(j)`
    * = the position of `adj(j)` in it.
    */
  private def localDict(adj: Array[Long], nE: Int): (Array[Long], Array[Int]) = {
    val sortedAdj = java.util.Arrays.copyOf(adj, nE)
    java.util.Arrays.sort(sortedAdj)
    var n = 0
    var i = 0
    while (i < nE) {
      if (n == 0 || sortedAdj(i) != sortedAdj(n - 1)) {
        sortedAdj(n) = sortedAdj(i); n += 1
      }
      i += 1
    }
    val dstVids = java.util.Arrays.copyOf(sortedAdj, n)
    val adjLocal = new Array[Int](nE)
    i = 0
    while (i < nE) {
      adjLocal(i) = java.util.Arrays.binarySearch(dstVids, adj(i))
      i += 1
    }
    (dstVids, adjLocal)
  }

  /** The Block of one CSR slice: a stable counting sort of its edges by
    * destination tile `adjLocal(j) >> TileBits`, walked in CSR order, plus
    * the local weighted degrees. `wgt` is indexed like `adjLocal`.
    */
  private def tiled(blockId: Int, vids: Array[Long], dstVids: Array[Long],
                    xadj: Array[Int], adjLocal: Array[Int],
                    wgt: Array[Int]): Block = {
    val nE = adjLocal.length
    val nTiles = (dstVids.length >> TileBits) + 1
    val pos = new Array[Int](nTiles)
    var j = 0
    while (j < nE) { pos(adjLocal(j) >> TileBits) += 1; j += 1 }
    var run = 0
    var t = 0
    while (t < nTiles) { val c = pos(t); pos(t) = run; run += c; t += 1 }
    val srcT = new Array[Int](nE)
    val dstT = new Array[Int](nE)
    val wT = new Array[Int](nE)
    val wdegLoc = new Array[Long](vids.length)
    var i = 0
    while (i < vids.length) {
      j = xadj(i)
      while (j < xadj(i + 1)) {
        val d = adjLocal(j)
        val w = wgt(j)
        wdegLoc(i) += w
        val p = pos(d >> TileBits)
        pos(d >> TileBits) = p + 1
        srcT(p) = i; dstT(p) = d; wT(p) = w
        j += 1
      }
      i += 1
    }
    Block(blockId, vids, dstVids, srcT, dstT, wT, wdegLoc)
  }

  /** mapPartitions CSR assembly over (blockId, src, dst, wgt) rows, sorted
    * by (blockId, src, dst) within `numBlocks` hash partitions of blockId.
    */
  private def assemble(symWithBlock: DataFrame,
                       numBlocks: Int): RDD[(Int, Block)] = {
    val sorted = symWithBlock
      .repartition(numBlocks, col("blockId"))
      .sortWithinPartitions(col("blockId"), col("src"), col("dst"))
      .select(col("blockId").cast("int"), col("src").cast("bigint"),
        col("dst").cast("bigint"), col("wgt").cast("bigint"))
    // walk Tungsten rows directly: a typed (Int,Long,Long,Long) decode
    // allocates a tuple + 3 boxed longs PER EDGE — at 10^8+ directed edges
    // that was ~100 CPU-s of pure GC churn in the build. The row is reused
    // by Spark, so every field is read before the next hasNext.
    sorted.queryExecution.toRdd.mapPartitions { it =>
      // a partition may hold several blockIds (hash collisions) — each is
      // a contiguous run after the sort
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Block)]
      var curBlock = -1
      var curSrc = Long.MinValue
      var curDeg = 0
      val vids = new scala.collection.mutable.ArrayBuilder.ofLong
      val degs = new scala.collection.mutable.ArrayBuilder.ofInt
      // manual growable primitives for the per-edge streams: the backing
      // array is consumed in place at close (no result() copy)
      var adj = new Array[Long](1 << 16)
      var wgtI = new Array[Int](1 << 16)
      var nE = 0
      def closeBlock(): Unit = if (curBlock >= 0) {
        if (curSrc != Long.MinValue) degs += curDeg
        val vidsA = vids.result(); vids.clear()
        val degsA = degs.result(); degs.clear()
        val xadj = new Array[Int](degsA.length + 1)
        var i = 0
        while (i < degsA.length) { xadj(i + 1) = xadj(i) + degsA(i); i += 1 }
        val (dstVids, adjLocal) = localDict(adj, nE)
        out += ((curBlock,
          tiled(curBlock, vidsA, dstVids, xadj, adjLocal, wgtI)))
        curSrc = Long.MinValue
        curDeg = 0
        nE = 0
        // shrink the growables back so a big block doesn't pin its peak
        // capacity across the rest of the partition
        if (adj.length > (1 << 20)) adj = new Array[Long](1 << 16)
        if (wgtI.length > (1 << 20)) wgtI = new Array[Int](1 << 16)
      }
      it.foreach { r =>
        val b = r.getInt(0)
        val s = r.getLong(1)
        val d = r.getLong(2)
        val w = intWeight(r.getLong(3))
        if (b != curBlock) { closeBlock(); curBlock = b }
        if (s != curSrc) {
          if (curSrc != Long.MinValue) degs += curDeg
          vids += s; curDeg = 0; curSrc = s
        }
        curDeg += 1
        if (nE == adj.length) {
          adj = java.util.Arrays.copyOf(adj, adj.length + (adj.length >> 1))
          wgtI = java.util.Arrays.copyOf(wgtI, adj.length)
        }
        adj(nE) = d
        wgtI(nE) = w
        nE += 1
      }
      closeBlock()
      out.iterator
    }
  }

  /** vid-range blocks under [[GraphOps.edgeBalancedRanges]] boundaries. */
  def build(edges: DataFrame, bounds: Array[Long]): RDD[(Int, Block)] =
    assemble(GraphOps.symmetrize(edges)
      .withColumn("blockId", GraphOps.rangeIdFor(col("src"), bounds)),
      bounds.length)

  /** Edge-granular balanced blocks — splits hubs (P15). */
  def buildBalanced(edges: DataFrame, numBlocks: Int): RDD[(Int, Block)] =
    assemble(GraphOps.edgeBalancedSym(edges, numBlocks), numBlocks)

  /** Per-block stats (the lineage/debug view; also the oracle-checked
    * query surface for the CSR layout).
    */
  def stats(spark: SparkSession, blocks: RDD[(Int, Block)]): DataFrame = {
    import spark.implicits._
    blocks.map { case (id, b) => (id, b.nvtxs, b.nedges) }
      .toDF("block_id", "nvtxs", "nedges")
  }
}
