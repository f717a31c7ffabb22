package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._

/** Single-exchange-per-iteration PageRank over the CSR blocks [[Csr]]
  * builds ([[Csr.Block]]: destination-tiled edge arrays), in the
  * reference's owner-computes layout: each thread owns its vertices' rank
  * slots AND their adjacency slice (reference src/graph.c:1369-1454). Rank
  * state lives with the block that owns the vertex's out-edges, so one
  * iteration is exactly ONE exchange:
  *
  *   kernel+update (one stage): merge incoming contribution arrays
  *   (producer-block order — deterministic double sums), apply the damping
  *   update rank = r_t + d·contrib IN PLACE, divide by the global
  *   weighted degree, scatter-add through the destination-tiled edge
  *   arrays, and emit one dense double[] per consumer block via
  *   precomputed index routing. r_t, iteration t's damping base, carries
  *   the dangling mass of the isolated vertices: the driver computes it
  *   ([[PageRank.isolatedRanks]], the same recurrence [[PageRank.run]]
  *   uses), and the kernel closes over the `iters` values.
  *
  * A row/column decomposition (ranks in hash partitions) pays TWO
  * exchanges per iteration — rank shares to the blocks, contributions
  * back — and so twice the stage-barrier fixed cost; on a 1000-executor
  * cluster this is one all-to-all per iteration instead of two, the
  * textbook distributed PR communication lower bound for a 1-D edge
  * partitioning. Message volume is Σ|block dst dictionaries| partial sums
  * either way; a split vertex — hub adjacency divided across blocks,
  * [[Csr.buildBalanced]] — receives every producer's partial at EVERY
  * owning block, and each owner merges the identical sorted stream, so
  * split copies agree bit-for-bit.
  *
  * The two engines compute the same function on every input, isolated
  * vertices included. PageRankSpec gates this kernel against the dense
  * in-JVM oracle and [[PageRank.run]]; q_pagerank_direct gates it against
  * the DuckDB oracle.
  */
object CsrDirect {

  /** key IS the target blockId. */
  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(other: Any): Boolean = other match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** A [[Csr.Block]] + routing:
    *   - `wdegG`: GLOBAL weighted out-degree aligned to `block.vids` (a split
    *     vertex's slices all carry the full-graph sum);
    *   - send: for consumer block `sendBlocks(k)`, `sendIdx(k)` lists the
    *     positions in `block.dstVids` (== the kernel's accumulator) whose
    *     destination vertex that consumer owns, ascending by vid;
    *   - recv: for producer block `recvBlocks(k)`, `recvIdx(k)` lists the
    *     positions in `block.vids` each message element adds into — built
    *     from the SAME vid-ascending order, so alignment is by construction;
    *   - `primary`: positions in `block.vids` this block emits in the final
    *     rank output (the lowest-blockId owner of each vertex — split
    *     copies hold identical ranks; exactly one is reported).
    */
  final case class DirectBlock(block: Csr.Block, wdegG: Array[Double],
                               sendBlocks: Array[Int], sendIdx: Array[Array[Int]],
                               recvBlocks: Array[Int], recvIdx: Array[Array[Int]],
                               primary: Array[Int])

  /** `n` counts every vertex, `nIso` those that own no block slot. */
  final case class DirectState(blockStates: RDD[DirectBlock], n: Long, nBlocks: Int,
                               nIso: Long) {
    def unpersistAll(): Unit = GraftSqlInternals.releaseCheckpoint(blockStates)
  }

  /** The connected vertices of checkpointed `blockStates`, one primary slot
    * each; the job also materializes the checkpoint.
    */
  private def connected(blockStates: RDD[DirectBlock]): Long =
    blockStates.map(_.primary.length.toLong).fold(0L)(_ + _)

  // ---- state spill/restore (raw big-endian array dump — ByteBuffer's
  // default order; self-consistent round-trip only, LOCAL-mode scaling
  // bench: executors and driver share one filesystem) ----
  //
  // Why not saveAsObjectFile: Java deserialization of the ~3 GB of
  // primitive arrays ran at ~20 MB/s/core (a 4-thread leg spent 188 s
  // "loading"); bulk ByteBuffer reads run at page-cache speed, so each
  // measured leg starts in seconds regardless of its thread count. The
  // per-block state is thread-count-independent because the block layout
  // is pinned across parallelism levels by design.

  private def putLongs(ch: java.nio.channels.FileChannel,
                       a: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 8)
    bb.putInt(a.length)
    bb.asLongBuffer().put(a)
    bb.position(bb.position() + a.length * 8)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def putInts(ch: java.nio.channels.FileChannel,
                      a: Array[Int]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 4)
    bb.putInt(a.length)
    bb.asIntBuffer().put(a)
    bb.position(bb.position() + a.length * 4)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def putDoubles(ch: java.nio.channels.FileChannel,
                         a: Array[Double]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 8)
    bb.putInt(a.length)
    bb.asDoubleBuffer().put(a)
    bb.position(bb.position() + a.length * 8)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def getLongs(bb: java.nio.ByteBuffer): Array[Long] = {
    val n = bb.getInt; val a = new Array[Long](n)
    bb.asLongBuffer().get(a); bb.position(bb.position() + n * 8); a
  }
  private def getInts(bb: java.nio.ByteBuffer): Array[Int] = {
    val n = bb.getInt; val a = new Array[Int](n)
    bb.asIntBuffer().get(a); bb.position(bb.position() + n * 4); a
  }
  private def getDoubles(bb: java.nio.ByteBuffer): Array[Double] = {
    val n = bb.getInt; val a = new Array[Double](n)
    bb.asDoubleBuffer().get(a); bb.position(bb.position() + n * 8); a
  }

  /** Persist a prepared state: one raw binary file per block + a meta
    * line. Local mode only (the writer runs on executor threads of the
    * same machine).
    */
  def saveState(st: DirectState, dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    st.blockStates.foreachPartition { it: Iterator[DirectBlock] =>
      it.foreach { db =>
        val p = java.nio.file.Paths.get(s"$dir/block-${db.block.blockId}.bin")
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          val hdr = java.nio.ByteBuffer.allocate(4)
          hdr.putInt(db.block.blockId); hdr.flip()
          while (hdr.hasRemaining) ch.write(hdr)
          putLongs(ch, db.block.vids); putLongs(ch, db.block.dstVids)
          putInts(ch, db.block.srcT); putInts(ch, db.block.dstT)
          putInts(ch, db.block.wT); putLongs(ch, db.block.wdegLoc)
          putDoubles(ch, db.wdegG)
          putInts(ch, db.sendBlocks)
          db.sendIdx.foreach(putInts(ch, _))
          putInts(ch, db.recvBlocks)
          db.recvIdx.foreach(putInts(ch, _))
          putInts(ch, db.primary)
        } finally ch.close()
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/meta.txt"), s"${st.n} ${st.nBlocks}\n")
  }

  /** Restore a [[saveState]] dump: partition i reads block i's file in
    * bulk — page-cache speed, independent of the session's thread count.
    */
  def loadState(spark: SparkSession, dir: String): DirectState = {
    val meta = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/meta.txt"))
      .trim.split("\\s+")
    val (n, nBlocks) = (meta(0).toLong, meta(1).toInt)
    val rdd = spark.sparkContext
      .parallelize(0 until nBlocks, nBlocks)
      .mapPartitions { it =>
        it.map { id =>
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/block-$id.bin"))
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val blockId = bb.getInt
          val vids = getLongs(bb); val dstVids = getLongs(bb)
          val srcT = getInts(bb); val dstT = getInts(bb)
          val wT = getInts(bb); val wdegLoc = getLongs(bb)
          val wdegG = getDoubles(bb)
          val sendBlocks = getInts(bb)
          val sendIdx = sendBlocks.map(_ => getInts(bb))
          val recvBlocks = getInts(bb)
          val recvIdx = recvBlocks.map(_ => getInts(bb))
          val primary = getInts(bb)
          DirectBlock(Csr.Block(blockId, vids, dstVids, srcT, dstT, wT,
            wdegLoc), wdegG, sendBlocks, sendIdx, recvBlocks, recvIdx,
            primary)
        }
      }
      .localCheckpoint()
    DirectState(rdd, n, nBlocks, n - connected(rdd))
  }

  /** Large-graph entry point: edge-balanced blocks ([[Csr.buildBalanced]])
    * prepared for [[iterate]].
    */
  def prepareRows(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                  numBlocks: Int): DirectState =
    prepare(Csr.buildBalanced(edges, numBlocks), vertices)

  /** Routing state over `blocks` as [[Csr.build]]/[[Csr.buildBalanced]]
    * return them (one partition per block id). `vertices` supplies the
    * FULL vertex set (isolated vertices included): n and the dangling mass
    * count them.
    */
  def prepare(blocks: RDD[(Int, Csr.Block)], vertices: DataFrame): DirectState = {
    val nBlocks = blocks.getNumPartitions
    val nTotal = vertices.select(col("vid"))
      .repartition(col("vid")).distinct().count()
    val idB = new IdPartitioner(nBlocks)
    val vidPart = new Partitioner {
      def numPartitions: Int = nBlocks
      def getPartition(key: Any): Int = {
        val r = (key.asInstanceOf[Long] % nBlocks).toInt
        if (r < 0) r + nBlocks else r
      }
    }
    // one block per partition (identity layout); truncate lineage so the
    // upstream scan/shuffle files are GC-able (tmpfs shuffle dir)
    val bRdd = blocks.partitionBy(idB)
      .mapPartitions(_.map(_._2), preservesPartitioning = true)
      .localCheckpoint()
    bRdd.count()

    // ---- routing build (one-time, vid-keyed shuffles) ----
    // owners: (vid, (ownerBlock, position in owner's vids))
    val owners = bRdd.flatMap { b =>
      b.vids.indices.iterator.map(i => (b.vids(i), (b.blockId, i)))
    }
    // producers: (vid, (producerBlock, position in producer's dstVids))
    val prods = bRdd.flatMap { b =>
      b.dstVids.indices.iterator.map(j => (b.dstVids(j), (b.blockId, j)))
    }
    // per (producer, owner) pair: the vid-ascending list of (accPos, vidPos)
    val routes = prods.join(owners, vidPart)
      .map { case (v, ((p, j), (o, i))) => ((p, o), (v, j, i)) }
      .groupByKey(new Partitioner {
        def numPartitions: Int = nBlocks
        def getPartition(key: Any): Int =
          key.asInstanceOf[(Int, Int)]._1 // group on the producer's partition
      })
      .map { case ((p, o), elems) =>
        val arr = elems.toArray.sortBy(_._1) // ascending vid on BOTH ends
        ((p, o), (arr.map(_._2), arr.map(_._3)))
      }.localCheckpoint()
    routes.count()
    // send side, delivered to producers
    val sendsTo = routes.map { case ((p, o), (jArr, _)) => (p, (o, jArr)) }
      .partitionBy(idB)
    // recv side, delivered to owners
    val recvsFrom = routes.map { case ((p, o), (_, iArr)) => (o, (p, iArr)) }
      .partitionBy(idB)

    // global wdeg per vid (split vertices sum across blocks), then routed
    // back to every owner position
    val wdegTo = bRdd.flatMap { b =>
      b.vids.indices.iterator.map(i => (b.vids(i), b.wdegLoc(i)))
    }.reduceByKey(vidPart, _ + _)
      .join(owners, vidPart)
      .map { case (_, (w, (o, i))) => (o, (i, w)) }
      .partitionBy(idB)

    // primary owner = lowest blockId owning the vid
    val primaryTo = owners.map { case (v, (o, i)) => (v, (o, i)) }
      .reduceByKey(vidPart, (a, b) => if (a._1 <= b._1) a else b)
      .map { case (_, (o, i)) => (o, i) }
      .partitionBy(idB)

    // NOTE on memory: the DirectBlock below REFERENCES the cached
    // Block's arrays (no copy), so checkpointing it does not double the
    // edge-array footprint while both RDDs are resident; bRdd is
    // unpersisted once blockStates is materialized.
    val blockStates = bRdd.zipPartitions(sendsTo, recvsFrom, wdegTo) {
      (bIt, sIt, rIt, wIt) =>
        if (!bIt.hasNext) { sIt.foreach(_ => ()); rIt.foreach(_ => ()); wIt.foreach(_ => ()); Iterator.empty }
        else {
          val b = bIt.next()
          val sends = sIt.map(_._2).toArray.sortBy(_._1)
          val recvs = rIt.map(_._2).toArray.sortBy(_._1)
          val wdegG = new Array[Double](b.nvtxs)
          wIt.foreach { case (_, (i, w)) => wdegG(i) = w.toDouble }
          Iterator((b.blockId, DirectBlock(b, wdegG,
            sends.map(_._1), sends.map(_._2),
            recvs.map(_._1), recvs.map(_._2),
            Array.emptyIntArray)))
        }
    }.zipPartitions(primaryTo) { (bIt, pIt) =>
      if (!bIt.hasNext) { pIt.foreach(_ => ()); Iterator.empty }
      else {
        val (_, db) = bIt.next()
        val prim = pIt.map(_._2).toArray
        java.util.Arrays.sort(prim)
        Iterator(db.copy(primary = prim))
      }
    }.localCheckpoint()
    val nIso = nTotal - connected(blockStates)
    GraftSqlInternals.releaseCheckpoint(bRdd)
    GraftSqlInternals.releaseCheckpoint(routes)
    DirectState(blockStates, nTotal, nBlocks, nIso)
  }

  /** The per-block state threaded between iterations: the contribution
    * messages addressed to this block, tagged by producer.
    */
  private type Msg = (Int, (Int, Array[Double])) // (consumer, (producer, values))

  /** `iters` damped power iterations; ONE lazy lineage, ONE exchange per
    * iteration. Returns (blockId, ranks aligned to block.vids) — split
    * copies all carry the full rank; use [[ranks]]/[[toRanksDf]] for the
    * deduplicated per-vertex view.
    */
  def iterate(st: DirectState, damping: Double, iters: Int): RDD[(Int, Array[Double])] = {
    val idB = new IdPartitioner(st.nBlocks)
    val n = st.n
    // r_0..r_iters: iteration t's damping base, with the dangling mass
    val base = PageRank.isolatedRanks(n, st.nIso, damping).take(iters + 1).toArray

    // contrib merged in producer-blockId order → deterministic double sums
    def mergedRanks(db: DirectBlock, mIt: Iterator[Msg], bt: Double): Array[Double] = {
      val contrib = new Array[Double](db.block.nvtxs)
      val rows = mIt.toArray.sortBy(_._2._1)
      val rpos = new java.util.HashMap[Integer, Integer]()
      db.recvBlocks.indices.foreach(k => rpos.put(db.recvBlocks(k), k))
      rows.foreach { case (_, (pId, arr)) =>
        val k = rpos.get(pId)
        if (k != null) {
          val idx = db.recvIdx(k)
          var i = 0
          while (i < idx.length) { contrib(idx(i)) += arr(i); i += 1 }
        }
      }
      val rk = new Array[Double](db.block.nvtxs)
      var i = 0
      while (i < rk.length) { rk(i) = bt + damping * contrib(i); i += 1 }
      rk
    }

    def kernelOut(db: DirectBlock, rk: Array[Double]): Iterator[Msg] = {
      val blk = db.block
      // share per source vertex (nvtxs doubles — L2-resident; the srcT
      // reads below hit it randomly but cheaply)
      val s = new Array[Double](blk.nvtxs)
      var i = 0
      while (i < s.length) {
        val w = db.wdegG(i)
        s(i) = if (w > 0) rk(i) / w else 0.0
        i += 1
      }
      // tiled scatter-add: edges arrive sorted by dst tile, so the acc
      // writes stay inside one 512 KB window at a time (see Csr.Block)
      val srcT = blk.srcT
      val dstT = blk.dstT
      val wT = blk.wT
      val acc = new Array[Double](blk.dstVids.length)
      var e = 0
      while (e < srcT.length) {
        acc(dstT(e)) += s(srcT(e)) * wT(e)
        e += 1
      }
      db.sendBlocks.indices.iterator.map { k =>
        val idx = db.sendIdx(k)
        val out = new Array[Double](idx.length)
        var q = 0
        while (q < idx.length) { out(q) = acc(idx(q)); q += 1 }
        (db.sendBlocks(k), (blk.blockId, out))
      }
    }

    // iteration 1 pushes the uniform 1/n ranks (no incoming messages yet)
    var msgs: RDD[Msg] = st.blockStates.mapPartitions { bIt =>
      if (!bIt.hasNext) Iterator.empty
      else {
        val db = bIt.next()
        kernelOut(db, Array.fill(db.block.nvtxs)(1.0 / n))
      }
    }.partitionBy(idB)
    for (t <- 1 until iters) {
      val bt = base(t)
      msgs = st.blockStates.zipPartitions(msgs) { (bIt, mIt) =>
        if (!bIt.hasNext) { mIt.foreach(_ => ()); Iterator.empty }
        else {
          val db = bIt.next()
          kernelOut(db, mergedRanks(db, mIt, bt))
        }
      }.partitionBy(idB)
    }
    // final damping update, no further push
    val bLast = base(iters)
    st.blockStates.zipPartitions(msgs) { (bIt, mIt) =>
      if (!bIt.hasNext) { mIt.foreach(_ => ()); Iterator.empty }
      else {
        val db = bIt.next()
        Iterator((db.block.blockId, mergedRanks(db, mIt, bLast)))
      }
    }
  }

  /** Deduplicated (vid, rank) rows over the CONNECTED vertex set — one row
    * per vertex from its primary owner block.
    */
  def ranks(st: DirectState, blockRanks: RDD[(Int, Array[Double])]): RDD[(Long, Double)] =
    st.blockStates.zipPartitions(blockRanks.partitionBy(new IdPartitioner(st.nBlocks))) {
      (bIt, rIt) =>
        if (!bIt.hasNext) { rIt.foreach(_ => ()); Iterator.empty }
        else {
          val db = bIt.next()
          val rk = rIt.next()._2
          db.primary.iterator.map(i => (db.block.vids(i), rk(i)))
        }
    }

  /** (vid, rank) DataFrame over ALL vertices after `iters` iterations:
    * isolated vertices get r_iters ([[PageRank.isolatedRanks]]).
    */
  def toRanksDf(spark: SparkSession, st: DirectState, damping: Double,
                iters: Int, vertices: DataFrame): DataFrame = {
    import spark.implicits._
    val connected = ranks(st, iterate(st, damping, iters)).toDF("vid", "rank")
    val rIso = PageRank.isolatedRanks(st.n, st.nIso, damping)(iters)
    vertices.select(col("vid")).distinct()
      .join(connected, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("rank"), lit(rIso)).as("rank"))
  }

  /** End-to-end wrapper: blocks → `iters` iterations → (vid, rank) rows
    * over all of `vertices`.
    */
  def pageRank(spark: SparkSession, blocks: RDD[(Int, Csr.Block)],
               vertices: DataFrame, damping: Double = 0.85,
               iters: Int = 10): DataFrame = {
    import graft.plans.Plans.CheckpointOps
    val st = prepare(blocks, vertices)
    val out = toRanksDf(spark, st, damping, iters, vertices).ckpt()
    st.unpersistAll()
    out
  }
}
