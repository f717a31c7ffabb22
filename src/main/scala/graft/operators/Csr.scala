package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** CSR-encoded Dataset partitions (north rule: analytics "over CSR-encoded
  * Dataset partitions"). One typed row per block holds the compressed-
  * sparse-row slice of the symmetrized adjacency — the Spark re-expression
  * of the reference's per-thread CSR slices (`xadj[t]/adjncy[t]/adjwgt[t]`,
  * reference src/graph.h:53-57) with edge-balanced placement
  * (S_par_distribute_blockcyclic, src/graph.c:1369-1454).
  *
  * Two placements:
  *   - [[build]] — contiguous vid ranges with ≈equal edges
  *     ([[GraphOps.edgeBalancedRanges]]); simple, but a power-law hub bigger
  *     than the quota still lands whole in one block;
  *   - [[buildBalanced]] — edge-granular ([[GraphOps.edgeBalancedSym]]):
  *     hub adjacency is SPLIT across blocks, so no task exceeds the quota —
  *     the skew-proof layout the scaling bench uses (north rule P15).
  *     A vertex may then appear in several blocks with partial adjacency;
  *     consumers aggregate across blocks (PR contributions already do).
  *
  * PageRank over these blocks is [[CsrDirect]] (`build*` → `prepare`).
  */
object Csr {

  /** One CSR slice. `dstVids`/`adjLocal` are the block-local destination
    * dictionary: `adjncy(j) == dstVids(adjLocal(j))` — precomputed at build
    * so per-iteration kernels accumulate into primitive arrays indexed by
    * `adjLocal` (zero allocation per edge; a boxed per-edge map measured as
    * a GC collapse at scale).
    */
  case class Block(blockId: Int, vids: Array[Long], xadj: Array[Int],
                   adjncy: Array[Long], wgts: Array[Long],
                   dstVids: Array[Long], adjLocal: Array[Int]) {
    def nvtxs: Int = vids.length
    def nedges: Int = adjLocal.length
  }

  /** The block-local destination dictionary of the first `nE` entries of
    * `adj`: `dstVids` = sorted distinct destinations (primitive sort +
    * unique scan; Array.distinct/sorted box per element) and `adjLocal(j)`
    * = the position of `adj(j)` in it.
    */
  private[operators] def localDict(adj: Array[Long],
                                   nE: Int): (Array[Long], Array[Int]) = {
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

  /** mapPartitions CSR assembly over (blockId, src, dst, wgt) rows sorted by
    * (blockId, src, dst) within partitions.
    */
  private def assemble(spark: SparkSession, symWithBlock: DataFrame,
                       numParts: Int): Dataset[Block] = {
    import spark.implicits._
    val sorted = symWithBlock
      .repartition(numParts, col("blockId"))
      .sortWithinPartitions(col("blockId"), col("src"), col("dst"))
      .select(col("blockId").cast("int"), col("src").cast("bigint"),
        col("dst").cast("bigint"), col("wgt").cast("bigint"))
    // walk Tungsten rows directly: the Dataset[(Int,Long,Long,Long)] decode
    // allocated a tuple + 3 boxed longs PER EDGE (and ArrayBuffer[Long]
    // boxed every append; .distinct boxed again) — at 10^8+ directed edges
    // that was ~100 CPU-s of pure GC churn in the build. The row is reused
    // by Spark, so every field is read before the next hasNext.
    val blocksRdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      // a partition may hold several blockIds (hash collisions) — each is
      // a contiguous run after the sort
      val out = mutable.ArrayBuffer.empty[Block]
      var curBlock = -1
      var curSrc = Long.MinValue
      var curDeg = 0
      val vids = new mutable.ArrayBuilder.ofLong
      val degs = new mutable.ArrayBuilder.ofInt
      val adjncy = new mutable.ArrayBuilder.ofLong
      val wgts = new mutable.ArrayBuilder.ofLong
      def closeBlock(): Unit = if (curBlock >= 0) {
        if (curSrc != Long.MinValue) degs += curDeg
        val vidsA = vids.result(); vids.clear()
        val degsA = degs.result(); degs.clear()
        val adj = adjncy.result(); adjncy.clear()
        val wgtsA = wgts.result(); wgts.clear()
        val xadj = new Array[Int](degsA.length + 1)
        var i = 0
        while (i < degsA.length) { xadj(i + 1) = xadj(i) + degsA(i); i += 1 }
        val (dstVids, adjLocal) = localDict(adj, adj.length)
        out += Block(curBlock, vidsA, xadj, adj, wgtsA, dstVids, adjLocal)
        curSrc = Long.MinValue
        curDeg = 0
      }
      it.foreach { r =>
        val b = r.getInt(0)
        val s = r.getLong(1)
        val d = r.getLong(2)
        val w = r.getLong(3)
        if (b != curBlock) { closeBlock(); curBlock = b }
        if (s != curSrc) {
          if (curSrc != Long.MinValue) degs += curDeg
          vids += s; curDeg = 0; curSrc = s
        }
        curDeg += 1
        adjncy += d
        wgts += w
      }
      closeBlock()
      out.iterator
    }
    spark.createDataset(blocksRdd)
  }

  /** vid-range blocks under [[GraphOps.edgeBalancedRanges]] boundaries. */
  def build(spark: SparkSession, edges: DataFrame,
            bounds: Array[Long]): Dataset[Block] = {
    val sym = GraphOps.symmetrize(edges)
      .withColumn("blockId", GraphOps.rangeIdFor(col("src"), bounds))
    assemble(spark, sym, bounds.length)
  }

  /** Edge-granular balanced blocks — splits hubs (P15). */
  def buildBalanced(spark: SparkSession, edges: DataFrame,
                    numBlocks: Int): Dataset[Block] =
    assemble(spark, GraphOps.edgeBalancedSym(edges, numBlocks), numBlocks)

  // Two gate queries (q_pagerank_direct, q_csr_edge_stats) consume the
  // SAME balanced block layout for the same (session, sf) inputs;
  // rebuilding it per query re-ran the |E|-row per-src window + prefix
  // sums + assembly each time (~19 s each at sf0.1). Memoize the
  // persisted blocks like EventsGraph memoizes the gate graph.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int), Dataset[Block]]()

  /** [[buildBalanced]], memoized per (session, cacheKey, numBlocks) and
    * persisted MEMORY_AND_DISK. `cacheKey` must identify the edge input
    * (the gate passes the sf dir). Entries of stopped sessions are purged.
    */
  def buildBalancedCached(spark: SparkSession, edges: DataFrame,
                          numBlocks: Int, cacheKey: String): Dataset[Block] = {
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    memo.computeIfAbsent((spark, cacheKey, numBlocks), _ => {
      val ds = buildBalanced(spark, edges, numBlocks)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ds.foreach(_ => ()) // materialize once, here, not per consumer
      ds
    })
  }

  /** Per-block stats (the lineage/debug view; also the oracle-checked
    * query surface for the CSR layout).
    */
  def stats(spark: SparkSession, blocks: Dataset[Block]): DataFrame = {
    import spark.implicits._
    blocks.map(b => (b.blockId, b.nvtxs, b.nedges))
      .toDF("block_id", "nvtxs", "nedges")
      .groupBy(col("block_id"))
      .agg(sum(col("nvtxs")).as("nvtxs"), sum(col("nedges")).as("nedges"))
  }
}
