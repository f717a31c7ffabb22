package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.{CsrDirect, EdgeDeriver}
import graft.plans.{Json, Metrics}
import graft.sources.Transcripts

/** Two-cluster-size scaling evidence (north rule: throughput scaling
  * efficiency >= 0.8 from N to 4N executors; sandbox proxy per the driver:
  * the same job at local[N] and local[4N] on the same input).
  *
  * The measured job is the headline workload: PageRank power iterations over
  * the transcript-derived link graph. Input is synthesized deterministically
  * (seed 42) at a size where compute dominates scheduling overhead, derived
  * once by a prep child, and only the PR iterations are timed.
  *
  * One parent orchestrates and fresh child JVMs measure. The parent reads
  * the host shape once and turns it into a [[Plan]] (the pair, the heaps,
  * the graph size, tmpfs or disk shuffle), runs the key-cached prep child
  * that writes the graph to the prep dir, then forks the measured children
  * over it. `SPARK_GRAFT_SCALE_MODE` picks the measurement: unset (or
  * `pair`) for the PageRank N→4N pair, `partition` for the whole V-cycle,
  * `nd` for the nested-dissection ordering. The other inputs are
  * `SPARK_GRAFT_SCALE_CONVS`, `_ITERS`, `_PREP_DIR`, `_FAIL_FORK` (crash
  * injection) and `SPARK_GRAFT_VSEP_MAXGATHER`; `_CPUS`, `_TRIALS`,
  * `_FORK_IDX` and `_EDGES_DIR` are set by the parent for its children.
  */
object Scaling {

  case class RunResult(cpus: Int, vertices: Long, edges: Long, iters: Int,
                       seconds: Double,
                       trialSecs: Seq[Double] = Nil,
                       iterMs: Seq[Double] = Nil,
                       trialIterMeds: Seq[Double] = Nil) {
    def itersPerSec: Double = iters / seconds
    /** edge-traversals/sec: 2|E| contribution flows per iteration */
    def teps: Double = 2.0 * edges * iters / seconds
    /** Robust per-iteration wall millis for this fork: the MIN over trials
      * of each trial's MEDIAN iteration time. Median-within-trial absorbs
      * noise bursts inside a trial; min-across-trials picks the fork's
      * cleanest trial — pooling all samples first buried a clean trial
      * under two noisy ones (observed: per-trial medians 1075/617/925 ms
      * pooled to 868 where the machine's quiet capacity was ~620).
      * Prefers the explicit per-trial medians (computed in the child, so
      * wall-capped truncated trials median over exactly their own
      * samples); falls back to regrouping the flat samples by nominal
      * trial length for older inputs. NaN if samples are unavailable.
      */
    def iterMedianMs: Double = {
      // NaN-guard both layers: a trial whose listener drain came back empty
      // contributes median(Nil)=NaN, and an all-NaN trialIterMeds must fall
      // through to regrouping the flat samples, not poison the min
      val finiteMeds = trialIterMeds.filterNot(_.isNaN)
      if (finiteMeds.nonEmpty) finiteMeds.min
      else if (iterMs.isEmpty) Double.NaN
      else iterMs.grouped(math.max(1, iters))
        .map(g => Scaling.median(g)).filterNot(_.isNaN)
        .minOption.getOrElse(Double.NaN)
    }
  }

  private[graft] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  // The LAYOUT is identical at both parallelism levels — only the thread
  // count varies. Scaling blocks/partitions with cpus would change the
  // workload itself (more blocks = more duplicated rank shipping for split
  // hubs), which is a workload comparison, not a scaling measurement; a
  // real cluster scaling run likewise fixes the data layout and adds
  // executors. 32/32 (vs round 2's 128/64) quarters the per-stage task
  // count (the fixed cost that swamped the measurement) AND shrinks the
  // per-iteration contribution volume: each block sees more of the vertex
  // set, so Σ|distinct dst per block| — the bytes shuffled every
  // iteration — drops with the block count.
  // 16 blocks beat 32 on BOTH absolute speed and the 4→16 ratio (measured
  // this round: lo 9.85→5.67 s, hi 3.57→1.91 s, eff 0.69→0.74 at 130M
  // edges): fewer blocks shrink Σ|per-block dst dictionary| — the bytes
  // exchanged AND the accumulator footprint per iteration — and the
  // 16-thread leg is the bandwidth-bound one, so it gains the most
  private val NumBlocks = 16
  private val NumParts = 16
  // longer conversations → denser link graph (≈ avg degree 170 — denser
  // than the reference's OGB regime on purpose: density sets the
  // arithmetic per shuffled byte, and the per-iteration work W/8 must
  // dominate the ~0.1 s/iter stage fixed cost for the scaling bar while
  // the persisted CSR state still fits the leg heap; at avg degree ~7 the
  // O(V) narrow-row plumbing dominates (a memory-bandwidth cost that
  // cannot scale on one box)
  private val MaxTurns = 600
  // wall cap per trial, enforced at chunk boundaries: a NOISY trial's
  // median can never become the fork's min, so measuring it to
  // completion is pure deadline waste (observed: equal-wall trials
  // stretched to 308-372 s under sustained noise — quiet is ~45 s —
  // and two fork pairs ate the whole hunt budget). The cap can only
  // ever truncate SLOW trials: 20 quiet iterations finish far inside
  // it, so a truncated trial is noisy by construction and its
  // (correctly computed, own-samples) median never wins the min
  private val TrialCapSec = 100.0
  // 3 base pairs (r4 ran 4): at the 10^9-directed-edge default graph a
  // leg costs 370-470 s, so 4 base pairs ate the whole 3250 s bench
  // deadline and left the convergence hunt ONE extra leg (measured:
  // emitted unconverged at gaps ~13%). Base pairs sample both levels
  // blindly; extras target exactly the unconverged level — at this
  // leg cost the third pair's wall buys more convergence as extras.
  private val BaseForks = 3
  private val MaxExtra = 6
  // a level is converged when its two best fork medians agree within this
  private[graft] val ConvTol = 0.05
  private val PartK = 8
  private val NdCollect = 4096L

  /** The shape of the box the harness runs on. */
  case class Host(nproc: Int, memMb: Long, shmFreeMb: Long) {
    def json: ObjectNode = Json.obj().put("nproc", nproc)
      .put("mem_total_mb", memMb).put("shm_free_mb", shmFreeMb)
  }

  def readHost(): Host = {
    val memKb = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .collectFirst { case l if l.startsWith("MemTotal:") =>
        l.split("\\s+")(1).toLong }.get
    Host(Runtime.getRuntime.availableProcessors(), memKb / 1024,
      new java.io.File("/dev/shm").getUsableSpace / (1024 * 1024))
  }

  /** What the harness runs on a host, derived by [[plan]]. `cpusLo`→`cpusHi`
    * is the measured pair, `legHeapMb` the ZGC legs' heap, `prepHeapMb`
    * the G1 heap of the prep, partition and ND children, `nConv` the
    * default graph size, and the legs shuffle through tmpfs when
    * `legTmpfs` (else on disk, like prep, partition and ND).
    */
  case class Plan(host: Host, cpusLo: Int, legHeapMb: Long, prepHeapMb: Long,
                  nConv: Long, legTmpfs: Boolean) {
    def cpusHi: Int = 4 * cpusLo
    def prepCpus: Int = host.nproc
    def json: ObjectNode = Json.obj().put("leg_heap_mb", legHeapMb)
      .put("prep_heap_mb", prepHeapMb).put("n_conv", nConv)
      .put("leg_shuffle", if (legTmpfs) "tmpfs" else "disk")
  }

  /** Size the harness from the host, the way the mt-metis fork sizes its
    * out-of-core chunks from a memory budget. On the 32-core/128 GB host
    * this gives 4→16, 30g legs, a 64g prep child, 6M conversations and
    * tmpfs leg shuffle; a box under 16 cores runs N = nproc/4.
    */
  def plan(h: Host): Plan = {
    // 30g: the 6M-conv headline graph (~522M canonical / ~1.04G directed
    // edges) carries ~13 GB of persisted per-block CSR state plus the
    // per-iteration message churn — 20g ran ZGC at the allocation-stall
    // edge. Stay under ~40g for ZGC children: ZGC multi-maps the heap and
    // a 40g+ commit overflows vm.max_map_count (fatal map failure). A
    // quarter of RAM leaves room for the parent, the page cache and the
    // tmpfs shuffle, which counts against the same RAM (NOTES.md round 4)
    val legHeapMb = budget(h.memMb / 4, 30L * 1024)
    // prep child: at 6M convs the 16 concurrent per-block assembly tasks
    // OOM'd a 40g heap; 64g cleared it
    Plan(h, cpusLo = if (h.nproc >= 16) 4 else math.max(1, h.nproc / 4),
      legHeapMb = legHeapMb, prepHeapMb = budget(h.memMb / 2, 64L * 1024),
      // the graph scales with the leg heap that must hold its CSR state:
      // 6M convs at 30g (legHeapMb ≤ 30g, so this is ≤ 6M), the north
      // rule's literal 10^9 directed edges. Bigger is also better for the
      // efficiency bar: per-iteration parallel work W/c must dominate the
      // ~25-30 ms/iter stage fixed cost (130M → 261M edges moved the
      // protocol from 0.798 to ~0.85-0.9); density, not vertex count,
      // raises W per heap byte
      nConv = 6000000L * legHeapMb / (30L * 1024),
      // the timed PR kernel's shuffle residency is bounded (one all-to-all
      // per iteration), so tmpfs fits when it has a heap's worth free
      legTmpfs = h.shmFreeMb >= legHeapMb)
  }

  // MemTotal reads a few percent under the installed RAM (16 GiB reads
  // 16070 MB), so a budget within 5% of its cap takes the cap: a 128 GB
  // host still gets the full 64g prep heap
  private def budget(mb: Long, capMb: Long): Long = if (mb >= capMb * 0.95) capMb else mb

  private def withSession[A](cpus: Int)(body: SparkSession => A): A = {
    val spark = graft.plans.Plans.localSession("ERROR", cpus.toString)
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", NumParts.toString)
      // the measured loop is the RDD kernel — Kryo for its tuple shuffles
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // force the single-file sort shuffle writer: the default bypass-merge
      // writer opens mapTasks×reducePartitions files per stage (8192 here)
      // and the ~2.5 ms/file open/close overhead dwarfed the data — 10x
      // slower iterations (NOTES.md round 2)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // spark.local.dir comes from the launcher (-Dspark.local.dir, see
      // fork): tmpfs for the timed legs, disk for everything else
      // keep shuffle COMPRESSION ON even on tmpfs — measured A/B at 130M
      // edges: uncompressed was faster at 8 threads (spare DRAM bandwidth,
      // saved lz4 CPU) but 1.8x SLOWER at 32 (the extra bytes hit the
      // contended memory bus); compression converts scarce shared
      // bandwidth into plentiful per-core CPU, which is exactly the trade
      // a scaling workload wants
      // AQE stays ON: its runtime broadcast of the per-block rank arrays is
      // what keeps the CSR blocks from being re-shuffled every iteration
      // (measured 6x slower without it)
      .getOrCreate()
    try body(spark) finally spark.stop()
  }

  /** Synthesize + derive ONCE at full machine parallelism and write the
    * canonical edge/vertex tables as parquet — the measured children then
    * pay only a columnar scan instead of re-deriving 10^8 turn rows at their
    * own (possibly low) thread count. Also makes "same input at both
    * cluster sizes" literal: both legs read identical bytes. `withState`
    * adds the per-block CSR state only the PageRank legs read.
    */
  private def prepEdges(nConv: Long, outDir: String, cpus: Int,
                        withState: Boolean): Unit = {
    // stage-level resume: the synth+derive of the edge/vid tables is the
    // long half of prep (~25 min at 6M convs) and depends only on the
    // synth params — if a previous prep crashed AFTER writing them (e.g.
    // OOM in the state build), reuse them instead of re-deriving
    val edgesFile = Paths.get(s"$outDir/edges-key.txt")
    val edgesKey = s"nConv=$nConv turns=$MaxTurns"
    val prepFile = Paths.get(s"$outDir/prep-key.txt")
    def edgeTables(spark: SparkSession): Unit = {
      // a state built over the old tables no longer validates
      Files.deleteIfExists(prepFile)
      val ts = Transcripts.synthesize(spark, nConv, maxTurns = MaxTurns)
      val dict = EdgeDeriver.vertices(ts)
      EdgeDeriver.simpleGraph(EdgeDeriver.edges(ts, dict))
        .write.mode("overwrite").parquet(s"$outDir/edges")
      dict.select(col("vid")).write.mode("overwrite")
        .parquet(s"$outDir/vids")
    }
    // idempotent: the prep output depends only on this key (the synth
    // params + block layout), so back-to-back bench runs
    // — e.g. the driver's per-round run right after a local confirmation
    // run — reuse several minutes of untimed-but-real prep wall
    val prepKey = s"nConv=$nConv turns=$MaxTurns blocks=$NumBlocks"
    // partition and ND read only the edge/vid tables: they never pay for
    // (or size their heap to) the state build, the stage that OOM'd a 40g
    // heap at 6M; a later pair prep over the same dir adds it on top
    if (!withState) prepStage(edgesFile, edgesKey)(withSession(cpus)(edgeTables))
    else prepStage(prepFile, prepKey) {
      withSession(cpus) { spark =>
        prepStage(edgesFile, edgesKey)(edgeTables(spark))
        // the measured legs load the PREPARED per-block state instead of
        // rebuilding it: the routing build + tiled counting sort cost ~10
        // min at 4 threads (untimed, but it is wall-clock the whole bench
        // pays per leg), and the state is thread-count-independent because
        // the block layout is pinned across parallelism levels. prepareRows
        // assembles the tiled Csr.Blocks straight from the edge rows, with
        // 4-byte weights and no 8-byte global adjacency (keeping those is
        // what let assembly OOM at high density)
        val edges = spark.read.parquet(s"$outDir/edges")
        val nE = edges.count()
        val st = CsrDirect.prepareRows(spark, edges,
          spark.read.parquet(s"$outDir/vids"), NumBlocks)
        CsrDirect.saveState(st, s"$outDir/direct-state")
        Files.writeString(Paths.get(s"$outDir/nedges.txt"), s"$nE\n")
        st.unpersistAll()
      }
    }
  }

  /** One resumable prep stage: reused (logged, `build` not run) when
    * `keyFile` holds `key`. Otherwise the key file is deleted BEFORE
    * `build` starts overwriting the stage's tables and written only after
    * `build` returns, so a crash mid-rebuild leaves no key that validates
    * half-overwritten tables.
    */
  private[graft] def prepStage(keyFile: java.nio.file.Path, key: String)(
      build: => Unit): Unit =
    if (Files.exists(keyFile) && Files.readString(keyFile).trim == key)
      Metrics.log("scaling_prep_reused", "stage" -> keyFile.getFileName,
        "key" -> key)
    else {
      Files.deleteIfExists(keyFile)
      build
      Files.writeString(keyFile, key + "\n")
    }

  /** One measured run at `cpus` threads: load the per-block state the prep
    * child built (untimed), then time `trials` trials of exactly `iters`
    * power iterations — one dense-array exchange per iteration, the
    * irreducible communication of distributed PR.
    */
  def run(cpus: Int, edgesDir: String, iters: Int, trials: Int): RunResult =
      withSession(cpus) { spark =>
    // the prep child already built the thread-count-independent per-block
    // state — load it (seconds) instead of re-running the routing/sort
    // build at this leg's thread count (~10 min at local[4])
    val tPrep0 = System.nanoTime()
    val st = CsrDirect.loadState(spark, s"$edgesDir/direct-state")
    val nE = Files.readString(Paths.get(s"$edgesDir/nedges.txt")).trim.toLong
    Metrics.log("scaling_load", "cpus" -> cpus,
      "wall_s" -> Metrics.secondsSince(tPrep0))
    // Per-ITERATION timing via stage boundaries: the measured job is one
    // lineage of `iters` shuffle-map stages (one exchange per iteration)
    // plus a tiny result stage, and the stages of a single chain run
    // strictly sequentially — so consecutive map-stage completion times
    // bound each iteration (including any scheduling gap). Per-iteration
    // samples feed the ROBUST scaling statistic (median per fork,
    // min-of-medians across forks): the sandbox's multi-second noisy-
    // neighbor bursts corrupt individual iterations, and a median over
    // 100+ pooled samples finds the steady-state iteration time where
    // min-of-3 whole-trial walls could not find a clean 6 s window
    // (rounds 1-3 all failed the Bench-visible bar this way).
    val stageBuf = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long)]() // (submitMs, completeMs, shuffleWriteBytes)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          if (si.numTasks > 0)
            stageBuf.add((si.submissionTime.getOrElse(0L),
              si.completionTime.getOrElse(0L),
              si.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      })
    // the listener bus is async: wait for the trial's events, then turn
    // map-stage boundaries into per-iteration durations
    def drainIterMs(expectStages: Int): Seq[Double] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stageBuf.size < expectStages && System.nanoTime() < deadline)
        Thread.sleep(50)
      val maps = stageBuf.asScala.toSeq.filter(_._3 > 0).sortBy(_._1)
      stageBuf.clear()
      if (maps.isEmpty) Nil
      else (maps.head._1 +: maps.map(_._2))
        .sliding(2).map(p => (p(1) - p(0)).toDouble).toSeq
    }
    // let the ContextCleaner reap the (now unreferenced) load garbage
    System.gc(); Thread.sleep(3000)
    // the action must consume the rank VALUES (a bare count would let
    // the final stage skip the computed arrays)
    def force(n: Int): Double =
      CsrDirect.iterate(st, 0.85, n).map(_._2.sum).sum()
    // `n` iterations in chunks of 20, stopping at a chunk boundary once
    // TrialCapSec has passed: (iterations run, chunks, wall seconds)
    def capped(n: Int): (Int, Int, Double) = {
      val t0 = System.nanoTime()
      var done = 0
      var nChunks = 0
      while (done < n &&
          (done == 0 || (System.nanoTime() - t0) / 1e9 < TrialCapSec)) {
        val c = math.min(20, n - done)
        force(c)
        done += c
        nChunks += 1
      }
      (done, nChunks, (System.nanoTime() - t0) / 1e9)
    }
    // JIT warmup: with only 2 warmup iterations the measured trials were
    // still descending at trial 3 (C2 compilation of the kernel loop
    // happens over the first ~15 invocations), which systematically
    // penalized whichever leg ran fewer total iterations per second of
    // wall clock. 40 iterations (the full length of every leg when this
    // was calibrated) is comfortably past that knee; equal-wall trials
    // can set iters=160+, where a full-length warmup would burn ~45 s of
    // deadline per leg for nothing
    // warmup is wall-capped like the trials (in sustained noise 40
    // uncapped iterations cost ~2 min of deadline; C2 is past its knee
    // by ~15 invocations, so a capped warmup still JITs the kernel)
    capped(math.min(iters, 40))
    // drain the warmup's ~3 GB of message-array garbage BEFORE trial 1:
    // without this, ZGC's concurrent cycle for it overlapped the first
    // trial (trial 1 measured 3-6x slow in every fork, even post-warmup)
    System.gc(); Thread.sleep(2000)
    drainIterMs(0) // discard the warmup's stage events
    // min over trials: the sandbox VM has intermittent noisy-neighbor CPU
    // stalls; the minimum approximates true machine capacity (standard
    // practice for contended-host benchmarking). Per-iteration samples
    // pooled across trials feed the stronger median statistic upstream.
    // Trial LENGTH equalization happens upstream (pairForked scales the
    // hi leg's per-trial iteration count by cpusHi/cpusLo): with equal
    // iteration counts a 40-iteration hi trial spanned only ~11 s of
    // wall vs ~45 s at lo, so one multi-second noise burst poisoned most
    // of a hi trial's median while lo medians absorbed it — the hi level
    // then needed a LUCKY fully-quiet window to show its floor (an 8-
    // trial asymmetric schedule hunted for one, cost 450-600 s per leg,
    // and still read 365 ms on a day the floor was ~270). Equal-WALL
    // trials make the median statistic equally burst-robust at both
    // levels, so 3 trials suffice everywhere
    val iterSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val trialMeds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val trialSecs = (1 to trials).map { t =>
      val (done, nChunks, dt) = capped(iters)
      // expected listener events: one map stage per iteration PLUS one
      // result stage per chunk (each force() ends in its own result
      // stage) — waiting for done+1 undercounted chunked trials, so the
      // drain could return before the final chunk's events posted,
      // leaking its map samples (plus an inter-trial-gap outlier) into
      // the next trial's median
      val perIter = drainIterMs(done + nChunks)
      iterSamples ++= perIter
      // median(Nil) is NaN — appending it would put a null into the
      // child's JSON line; skip empty drains instead
      val med = median(perIter)
      if (!med.isNaN) trialMeds += med
      Metrics.log("scaling_trial", "cpus" -> cpus, "trial" -> t,
        "wall_s" -> dt, "iter_median_ms" -> med, "samples" -> perIter.size,
        "iters_done" -> done, "iters" -> iters)
      // reap the trial's shuffle files from the tmpfs dir before the
      // next trial (the timing above has already been taken)
      System.gc(); Thread.sleep(1000)
      // full-equivalent wall: truncated trials are normalized to the
      // nominal iteration count so min-over-trials compares like walls
      dt * iters / math.max(1, done)
    }
    st.unpersistAll()
    RunResult(cpus, st.n, nE, iters, trialSecs.min, trialSecs,
      iterSamples.toSeq, trialMeds.toSeq)
  }

  /** The one child launcher: a FRESH JVM running `graft.Scaling` in `role`
    * (`prep`, `prep-edges`, `leg`, `partition` or `nd`) over the prepped
    * graph in `edgesDir`, with this JVM's flags (add-opens) and a heap, GC
    * and Spark local dir sized by the plan. Returns the child's JSON line.
    * Each measured level gets its own heap/JIT — a second SparkSession in
    * one JVM measured up to 4x slower.
    */
  private def fork(plan: Plan, role: String, edgesDir: String,
                   env: Map[String, String]): JsonNode = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
        // the children get an explicit heap (below) — the PARENT is often
        // sbt with -Xmx4g, and inheriting that ran the ~3.2 GB block state
        // plus per-iteration message churn at the edge of heap: ZGC went
        // allocation-stall-bound and every trial measured GC, not kernel
        a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        // the children choose their GC (below) — drop any inherited one
        (a.startsWith("-XX:+Use") && a.endsWith("GC")))
    val disk = s"$edgesDir/spark-local"
    val (heapMb, gcArgs, localDir) =
      if (role == "leg")
        // concurrent GC: each measured stage allocates ~325 MB of message
        // arrays; G1's stop-the-world young pauses were a per-STAGE fixed
        // cost (~40 ms) that the efficiency ratio is maximally sensitive
        // to. ZGC converts that into concurrent barrier work — per-core
        // CPU, which scales.
        // AlwaysPreTouch: ZGC commits heap pages lazily, so the first
        // measured trial paid page-commit faults for ~2 GB of message/acc
        // arrays (trial 1 ran 2-4x slow in EVERY fork despite a full-length
        // JIT warmup); pre-touching moves that cost into (untimed) JVM start.
        // tmpfs shuffle dir: this VM has ONE ~575 MB/s disk, so the ~600 MB
        // per-iteration contribution shuffle serializes behind it at EVERY
        // parallelism level — a sandbox artifact (a real cluster's shuffle
        // bandwidth scales with executor count: each executor writes its
        // own local disks). RAM-backed shuffle restores that property.
        (plan.legHeapMb, Seq("-XX:+UseZGC", "-XX:+AlwaysPreTouch"),
          if (plan.legTmpfs) "/dev/shm/graft-scaling" else disk)
      else
        // G1, no pretouch: prep measures nothing and partition/ND measure
        // whole-job WALL time (GC pause latency is immaterial). They share
        // the prep heap: G1 has no ZGC map-count cap, and the reference-
        // scale V-cycle and ND rows needed 48g and 32g (BASELINE.md).
        // GCLockerRetryAllocationCount: Spark's lz4 codec holds JNI
        // critical sections (GCLocker) while the sorters make humongous
        // long[] allocations — the JDK17 default of 2 retries crashed a
        // 48g run with "Retried waiting for GCLocker too often".
        // Disk shuffle: the V-cycle's live shuffle+checkpoint spill grows
        // O(levels × |E|), and tmpfs pages count against the same RAM the
        // heap lives in (NOTES.md round 4)
        (plan.prepHeapMb, Seq("-XX:+UseG1GC", "-XX:+UnlockDiagnosticVMOptions",
          "-XX:GCLockerRetryAllocationCount=64"), disk)
    val cmd = Seq(javaBin) ++ jvmArgs ++ gcArgs ++
      Seq(s"-Xmx${heapMb}m", s"-Dspark.local.dir=$localDir",
        "-cp", sys.props("java.class.path"), "graft.Scaling")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().putAll((env + ("SPARK_GRAFT_SCALE_MODE" -> role) +
      ("SPARK_GRAFT_SCALE_EDGES_DIR" -> edgesDir)).asJava)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    // the child's stdout goes to a file, not a pipe: nothing in this JVM
    // blocks on a HUNG child's pipe (the round-2 rc=124 failure shape one
    // level down), and no reader thread can be starved into handing back
    // a truncated line from a healthy child
    val outFile = Files.createTempFile("graft-scaling-", ".out")
    pb.redirectOutput(outFile.toFile)
    val out = try {
      val p = pb.start()
      // deadline-aware wait: when Bench set graft.scale.deadline.ms, give
      // the child until deadline + 120 s grace, then kill it — a wedged
      // fork must cost its own wall, never the whole bench JSON
      val waitMs = sys.props.get("graft.scale.deadline.ms").fold(Long.MaxValue)(d =>
        math.max(10000L, d.toLong + 120000L - System.currentTimeMillis()))
      if (!p.waitFor(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        p.destroyForcibly().waitFor()
        sys.error(s"forked scaling $role child $env overran the bench deadline — killed")
      }
      // decoded with the charset the child's println encoded it in
      val text = new String(Files.readAllBytes(outFile))
      require(p.exitValue() == 0,
        s"forked scaling $role child $env exited ${p.exitValue()}: $text")
      text
    } finally Files.deleteIfExists(outFile)
    Json.read(out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse(sys.error(s"no JSON line from the $role child: $out")))
  }

  /** A leg child's line: full-precision doubles, so the parent's
    * [[runResult]] reads back exactly the RunResult the child measured.
    */
  private[graft] def runJson(r: RunResult): ObjectNode = {
    val o = Json.obj().put("cpus", r.cpus).put("vertices", r.vertices)
      .put("edges", r.edges).put("pr_iters", r.iters)
    Json.num(o, "seconds", r.seconds)
    Json.num(o, "iters_per_sec", r.itersPerSec)
    Json.nums(o, "trial_secs", r.trialSecs)
    Json.nums(o, "trial_iter_meds", r.trialIterMeds)
    Json.nums(o, "iter_ms", r.iterMs)
  }

  private[graft] def runResult(n: JsonNode): RunResult = {
    def arr(k: String): Seq[Double] = n.get(k).elements.asScala.map(_.asDouble).toSeq
    RunResult(n.get("cpus").asInt, n.get("vertices").asLong,
      n.get("edges").asLong, n.get("pr_iters").asInt, n.get("seconds").asDouble,
      arr("trial_secs"), arr("iter_ms"), arr("trial_iter_meds"))
  }

  /** Aggregated two-level result: every fork retained for auditability.
    *
    * Two efficiency statistics:
    *   - [[effRobust]] (the HEADLINE): per level, take each fork's MEDIAN
    *     per-iteration wall millis (stage-boundary timing, ~`trials×iters`
    *     samples per fork), then the MIN of those fork medians across
    *     forks. The median absorbs the sandbox's multi-second noise bursts
    *     inside a fork (min-of-3 whole-trial walls could not — a single
    *     burst was 100% of a 2-8 s trial); the min across alternated forks
    *     absorbs whole-fork noisy windows. Efficiency =
    *     (medLo/medHi)/(cpusHi/cpusLo).
    *   - [[effWall]]: classic min-of-all-trial-walls per level — kept as
    *     the cross-check and emitted alongside.
    */
  case class PairResult(loForks: Seq[RunResult], hiForks: Seq[RunResult],
                        cpusLo: Int, cpusHi: Int) {
    def lo: RunResult = loForks.minBy(_.seconds)
    def hi: RunResult = hiForks.minBy(_.seconds)
    private def levelMedMs(rs: Seq[RunResult]): Double = {
      val meds = rs.map(_.iterMedianMs).filterNot(_.isNaN)
      if (meds.isEmpty) Double.NaN else meds.min
    }
    def medLoMs: Double = levelMedMs(loForks)
    def medHiMs: Double = levelMedMs(hiForks)
    def gapLo: Double = convGap(loForks)
    def gapHi: Double = convGap(hiForks)
    def effRobust: Double = (medLoMs / medHiMs) / (cpusHi.toDouble / cpusLo)
    def effWall: Double =
      // per-ITERATION walls: with equal-wall trials the legs run different
      // iteration counts, so raw trial walls are not comparable
      ((lo.seconds / lo.iters) / (hi.seconds / hi.iters)) /
        (cpusHi.toDouble / cpusLo)
    /** raw ratio: robust when per-iteration samples exist, else wall */
    def eff: Double = if (effRobust.isNaN) effWall else effRobust
    /** HEADLINE efficiency: the raw ratio capped at 1.0. On one box the
      * same fixed-layout job cannot be super-unit-efficient at more
      * threads (same cores, caches, DRAM — there is no resource 4N has
      * more of per thread than N), so any raw value above 1 is
      * measurement noise in the LO leg (min-over-forks converges from
      * above, and the lo level drew no quiet window). The cap only ever
      * LOWERS the reported number; the raw ratio is emitted alongside.
      */
    def effCapped: Double = math.min(eff, 1.0)
  }

  /** Best-two fork-median agreement gap of one level (the convergence
    * statistic the redraw hunt stops on); +inf below 2 finite medians.
    */
  private[graft] def convGap(rs: Seq[RunResult]): Double = {
    val meds = rs.map(_.iterMedianMs).filterNot(_.isNaN).sorted
    if (meds.size < 2) Double.PositiveInfinity
    else meds(1) / meds(0) - 1.0
  }

  /** The PageRank N→4N pair on this host (Bench's scaling section): reads
    * `SPARK_GRAFT_SCALE_CONVS`/`_ITERS` once, preps the graph, measures.
    */
  def pair(): ObjectNode = {
    val (plan, dir) = prepare(withState = true)
    // one disk serializes the legs' shuffle at every parallelism (see fork)
    if (!plan.legTmpfs) Metrics.log("scaling_disk_legs",
      "shm_free_mb" -> plan.host.shmFreeMb, "leg_heap_mb" -> plan.legHeapMb)
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "40").toInt
    json(pairForked(plan, dir, iters), plan)
  }

  /** The host's plan (at `SPARK_GRAFT_SCALE_CONVS` when set) and the prep
    * dir, with the graph written there by the key-cached prep child — and
    * the legs' per-block state when `withState`.
    */
  private def prepare(withState: Boolean): (Plan, String) = {
    val p0 = plan(readHost())
    val plan1 = sys.env.get("SPARK_GRAFT_SCALE_CONVS")
      .fold(p0)(c => p0.copy(nConv = c.toLong))
    // the prep dir is KEPT across bench runs (prep-key idempotence in
    // prepEdges): at the default 6M convs the synth+derive+CSR build is
    // ~35-40 min of wall the driver's timed bench window cannot afford to
    // re-pay every round — the key line guarantees a stale dir (different
    // synth params/layout) is rebuilt, so persistence is safe. It lives
    // OUTSIDE target/ (git-ignored): an innocent `sbt clean` deleted
    // target/scaling-edges and silently re-charged the 18-minute prep to
    // the next bench run's deadline
    // dir is keyed by nConv so differently-sized headline graphs (e.g. the
    // 3M round-4 graph vs the 6M ≈10^9-directed-edge round-5 graph) never
    // clobber each other's multi-GB prep
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_PREP_DIR",
      new java.io.File(s".bench-cache/scaling-edges-${plan1.nConv}")
        .getAbsolutePath)
    // no-op (seconds) when the prep-key already matches
    fork(plan1, if (withState) "prep" else "prep-edges", dir, Map(
      "SPARK_GRAFT_SCALE_CONVS" -> plan1.nConv.toString,
      "SPARK_GRAFT_SCALE_CPUS" -> plan1.prepCpus.toString))
    (plan1, dir)
  }

  /** The headline two-parallelism evidence: every leg in a fresh JVM over
    * the SAME prepped input, alternating levels across forks, then a
    * band-blind convergence hunt within the deadline.
    */
  def pairForked(plan: Plan, edgesDir: String, iters: Int): PairResult = {
    import plan.{cpusHi, cpusLo}
    // ALTERNATE the legs across several fresh-JVM forks: the sandbox VM
    // has multi-minute noisy windows (measured trials 3-4x apart within
    // one fork), and running each level in one contiguous window would
    // hand whichever leg drew the noisy window a biased time.
    // Interleaving exposes both levels to the same noise distribution.
    // If the robust statistic has not converged after the base forks
    // (e.g. a noisy window covered most of the run), spend up to
    // MaxExtra more SINGLE-LEG forks hunting a quieter window for the
    // implicated level — min-of-fork-medians only ever moves toward
    // machine capacity, and every fork is emitted in the JSON so the
    // search is auditable.
    // absolute epoch-millis deadline (set by Bench from its caller's
    // timeout): never let the extra-fork hunt run the bench past it
    val deadline = sys.props.get("graft.scale.deadline.ms").map(_.toLong)
      .getOrElse(Long.MaxValue)
    var loF = Vector.empty[RunResult]
    var hiF = Vector.empty[RunResult]
    // observed worst-case wall per leg (incl. the child's untimed prep/
    // warmup), the input to deadline-aware launching below
    val maxLegSec = scala.collection.mutable.Map(cpusLo -> 0.0, cpusHi -> 0.0)
    // EQUAL-WALL trials: scale each leg's per-trial iteration count by
    // its parallelism so every trial spans the same wall window (lo 40
    // iters ≈ hi 160 iters ≈ 45 s quiet). The per-iteration median is
    // then equally burst-robust at both levels — see the trial-count
    // comment in run(). The efficiency statistic is per-ITERATION time,
    // so unequal counts never enter the ratio.
    def legIters(c: Int): Int = math.max(1, iters * c / cpusLo)
    def runLeg(k: Int, c: Int, trials: Option[Int] = None): Unit = {
      val t0 = System.nanoTime()
      // a single crashed/killed/hung child must never discard the forks
      // already measured (the statistic is an independent min-over-forks
      // per level, so dropping one draw is always valid): log it, charge
      // its wall to the leg's cost estimate, and let later pairs or the
      // extra-leg hunt redraw this level
      val r = scala.util.Try(runResult(fork(plan, "leg", edgesDir, Map(
        "SPARK_GRAFT_SCALE_CPUS" -> c.toString,
        "SPARK_GRAFT_SCALE_ITERS" -> legIters(c).toString,
        "SPARK_GRAFT_SCALE_FORK_IDX" -> k.toString) ++
        trials.map("SPARK_GRAFT_SCALE_TRIALS" -> _.toString))))
      val wall = (System.nanoTime() - t0) / 1e9
      maxLegSec(c) = math.max(maxLegSec(c), wall)
      r match {
        case scala.util.Success(r) =>
          if (c == cpusLo) loF :+= r else hiF :+= r
          Metrics.log("scaling_leg", "fork" -> k, "cpus" -> c, "leg_wall_s" -> wall,
            "wall_min_s" -> r.seconds, "iter_median_ms" -> r.iterMedianMs)
        case scala.util.Failure(e) =>
          Metrics.log("scaling_leg_failed", "fork" -> k, "cpus" -> c,
            "leg_wall_s" -> wall,
            "error" -> e.toString.linesIterator.take(1).mkString.take(300))
      }
    }
    def runPair(k: Int): Unit = {
      // alternate the order (lo,hi / hi,lo) so slow drift in machine
      // load doesn't systematically favor whichever level runs first
      val order = if (k % 2 == 1) Seq(cpusLo, cpusHi) else Seq(cpusHi, cpusLo)
      order.foreach(c => runLeg(k, c))
    }
    // deadline-aware launch: checking `now < deadline` at LAUNCH is not
    // enough — a pair in a noisy window ran 14 min past it and nearly ate
    // the whole Bench timeout (round 2's rc=124 lost the bench JSON
    // that way). Launch only work predicted to FINISH before the
    // deadline, from the worst leg wall observed so far plus 15% slack.
    def fits(costSec: Double): Boolean =
      System.currentTimeMillis() + (costSec * 1.15 * 1000).toLong < deadline
    // the FIRST pair always runs (no estimate without one sample per
    // level)
    runPair(1)
    var k = 1
    while (k < BaseForks && fits(maxLegSec(cpusLo) + maxLegSec(cpusHi))) {
      k += 1
      runPair(k)
    }
    if (k < BaseForks)
      Metrics.log("scaling_deadline", "pairs" -> k, "base_pairs" -> BaseForks)
    // CONVERGENCE stopping rule (replaces the round-4 stop-on-pass):
    // the old hunt redrew only while the headline sat outside the pass
    // band — adaptive optional stopping on a min statistic, which
    // monotonically favors the pass and biases the reported efficiency
    // upward. The redraw criterion is purely statistical and band-blind:
    // a level is DONE when its two best fork medians agree within
    // ConvTol; extras go to whichever level is not yet converged (no-data
    // levels first), and the hunt stops the moment BOTH levels converge —
    // wherever the ratio then lands.
    def state: Seq[(String, Any)] = Seq(
      "eff" -> (if (loF.isEmpty || hiF.isEmpty) Double.NaN
        else PairResult(loF, hiF, cpusLo, cpusHi).eff),
      "gap_lo" -> convGap(loF), "gap_hi" -> convGap(hiF), "tol" -> ConvTol)
    def converged(rs: Seq[RunResult]): Boolean = convGap(rs) <= ConvTol
    // redraw priority: a level with NO data, then the level further
    // from converging (its min-median is the less trustworthy one)
    def retryCpus: Int =
      if (loF.isEmpty) cpusLo
      else if (hiF.isEmpty) cpusHi
      else if (convGap(loF) > convGap(hiF)) cpusLo else cpusHi
    def allConverged: Boolean =
      loF.nonEmpty && hiF.nonEmpty && converged(loF) && converged(hiF)
    // a short 1-trial redraw costs roughly prep + warmup + one trial —
    // ~60% of a full 3-trial leg. For a MIN statistic more independent
    // draws beat more trials per draw, so when the deadline can no
    // longer fit a full redraw, spend what remains on short ones
    def shortLegCost(c: Int): Double = maxLegSec(c) * 0.6
    var extra = 0
    var budgetLeft = true
    while (extra < MaxExtra && !allConverged && budgetLeft) {
      val c = retryCpus
      val full = fits(maxLegSec(c))
      if (!full && !fits(shortLegCost(c))) budgetLeft = false
      else {
        extra += 1
        k += 1
        Metrics.log("scaling_extra_leg", state ++ Seq("cpus" -> c,
          "fork" -> k, "short" -> !full): _*)
        runLeg(k, c, trials = if (full) None else Some(1))
      }
    }
    if (!allConverged)
      Metrics.log("scaling_unconverged", state ++ Seq("extra" -> extra,
        "max_extra" -> MaxExtra,
        "fits" -> fits(shortLegCost(retryCpus))): _*)
    require(loF.nonEmpty && hiF.nonEmpty, "every scaling fork at " +
      s"${if (loF.isEmpty) cpusLo else cpusHi} cpus failed — no data to emit")
    PairResult(loF, hiF, cpusLo, cpusHi)
  }

  def json(pr: PairResult, plan: Plan): ObjectNode = {
    val lo = pr.lo; val hi = pr.hi
    // throughput numbers (iters/sec, TEPS) derive from the ROBUST per-
    // iteration estimate so they are consistent with the headline
    // efficiency; sec_lo/sec_hi are min full-equivalent trial walls
    // (wall-capped truncated trials normalized to the nominal iteration
    // count so min-over-trials compares like walls)
    val ipsLo = if (pr.medLoMs.isNaN) lo.itersPerSec else 1000.0 / pr.medLoMs
    val ipsHi = if (pr.medHiMs.isNaN) hi.itersPerSec else 1000.0 / pr.medHiMs
    val o = Json.obj().put("cpus_lo", pr.cpusLo).put("cpus_hi", pr.cpusHi)
      .put("vertices", lo.vertices).put("edges", lo.edges)
      .put("pr_iters", lo.iters).put("pr_iters_hi", hi.iters)
    Json.num(o, "sec_lo", lo.seconds, 2)
    Json.num(o, "sec_hi", hi.seconds, 2)
    Json.num(o, "iters_per_sec_lo", ipsLo, 3)
    Json.num(o, "iters_per_sec_hi", ipsHi, 3)
    o.put("teps_lo", math.round(2.0 * lo.edges * ipsLo))
      .put("teps_hi", math.round(2.0 * hi.edges * ipsHi))
    Json.num(o, "iter_ms_med_lo", pr.medLoMs, 1)
    Json.num(o, "iter_ms_med_hi", pr.medHiMs, 1)
    Json.nums(o, "fork_iter_med_lo", pr.loForks.map(_.iterMedianMs), 1)
    Json.nums(o, "fork_iter_med_hi", pr.hiForks.map(_.iterMedianMs), 1)
    Json.nums(o, "trials_lo", pr.loForks.flatMap(_.trialSecs), 2)
    Json.nums(o, "trials_hi", pr.hiForks.flatMap(_.trialSecs), 2)
    // trials actually run per fork: short (1-trial) deadline redraws are
    // visible here instead of hiding behind the aggregate fork counts
    val ftLo = o.putArray("fork_trials_lo")
    pr.loForks.foreach(f => ftLo.add(f.trialSecs.size))
    val ftHi = o.putArray("fork_trials_hi")
    pr.hiForks.foreach(f => ftHi.add(f.trialSecs.size))
    o.put("forks_lo", pr.loForks.size).put("forks_hi", pr.hiForks.size)
    // null when the gap is undefined: a level with <2 finite fork
    // medians (+inf) or two zero medians (0/0 = NaN)
    Json.num(o, "conv_gap_lo", pr.gapLo, 4)
    Json.num(o, "conv_gap_hi", pr.gapHi, 4)
    Json.num(o, "wall_scaling_efficiency", pr.effWall, 3)
    o.put("protocol", "equal-wall trials (per-trial iters scaled by " +
      "parallelism); median per-iteration stage time per fork, min of fork " +
      "medians per level; redraws stop on best-two fork-median convergence " +
      f"(tol ${ConvTol * 100}%.0f%%), band-blind; wall = min trial " +
      "normalized per iteration; headline capped at 1.0 (super-unit = " +
      "lo-leg noise)")
    Json.num(o, "scaling_efficiency_raw", pr.eff, 3)
    Json.num(o, "scaling_efficiency", pr.effCapped, 3)
    o.set[ObjectNode]("host", plan.host.json)
    o.set[ObjectNode]("plan", plan.json)
  }

  /** A child's measurement in `role` over the graph in `dir`; every line
    * carries the host it ran on.
    */
  private def child(role: String, dir: String): ObjectNode = {
    val cpus = sys.env("SPARK_GRAFT_SCALE_CPUS").toInt
    val o = role match {
      case "prep" | "prep-edges" =>
        prepEdges(sys.env("SPARK_GRAFT_SCALE_CONVS").toLong, dir, cpus,
          withState = role == "prep")
        Json.obj().put("prep", "done")
      case "leg" =>
        // failure-injection hook (harness testing only): kill this child
        // deterministically so pairForked's crashed-leg tolerance can be
        // exercised end-to-end — SPARK_GRAFT_SCALE_FAIL_FORK=<k> crashes
        // every leg of fork k and nothing else
        if (sys.env.get("SPARK_GRAFT_SCALE_FAIL_FORK")
            .contains(sys.env("SPARK_GRAFT_SCALE_FORK_IDX")))
          sys.exit(17)
        runJson(run(cpus, dir, sys.env("SPARK_GRAFT_SCALE_ITERS").toInt,
          sys.env.get("SPARK_GRAFT_SCALE_TRIALS").fold(3)(_.toInt)))
      case "partition" => partition(cpus, dir)
      case "nd" => nestedDissection(cpus, dir)
    }
    o.set[ObjectNode]("host", readHost().json)
  }

  /** A timed whole-job child over the prepped graph: `body` gets the
    * session, the edge table, the vertex ids and the line, which already
    * holds the mode, cpus and graph size; the wall of `body` is appended.
    */
  private def timed(mode: String, cpus: Int, dir: String)(
      body: (SparkSession, DataFrame, DataFrame, ObjectNode) => Unit): ObjectNode =
      withSession(cpus) { spark =>
    val edges = spark.read.parquet(s"$dir/edges")
    val vids = spark.read.parquet(s"$dir/vids").select(col("vid"))
    val o = Json.obj().put("mode", mode).put("cpus", cpus)
      .put("vertices", vids.count()).put("edges", edges.count())
    val t0 = System.nanoTime()
    body(spark, edges, vids, o)
    Json.num(o, "wall_sec", (System.nanoTime() - t0) / 1e9, 1)
  }

  /** Whole-V-cycle bench at reference scale (the reference's headline is
    * partitioning a 123.7M-edge graph; ours: the same synthetic link
    * graph the PR kernel scales on).
    */
  private def partition(cpus: Int, dir: String): ObjectNode =
      timed("partition", cpus, dir) { (spark, edges, vids, o) =>
    val r = graft.partitioner.Multilevel.partitionMC(spark, edges,
      vids.select(col("vid"), array(lit(1L)).as("vwgts")), PartK, ncon = 1)
    o.put("k", PartK).put("levels", r.levels).put("edge_cut", r.cut)
    Json.num(o, "imbalance", r.imbalance, 4)
  }

  /** Whole nested-dissection ordering at scale (the reference's third
    * public API, MTMETIS_NodeND). SPARK_GRAFT_VSEP_MAXGATHER lowers the
    * separator gather bound so the SFG distributed path (greedy flow +
    * gathered SFM) is the one measured. Emits permutation-validity fields
    * next to the wall so the bench row is self-checking.
    */
  private def nestedDissection(cpus: Int, dir: String): ObjectNode =
      timed("nd", cpus, dir) { (spark, edges, vids, o) =>
    sys.env.get("SPARK_GRAFT_VSEP_MAXGATHER").foreach(g =>
      spark.conf.set("spark.graft.vsep.maxGather", g))
    val perm = graft.partitioner.NestedDissection.order(
      spark, edges, vids, NdCollect)
    // validity forced as part of the measured run: a permutation of
    // [0, n) — n rows, n distinct labels, min 0, max n-1
    val v = perm.agg(count(lit(1)), countDistinct(col("perm")),
      min(col("perm")), max(col("perm"))).head()
    o.put("perm_rows", v.getLong(0)).put("perm_distinct", v.getLong(1))
      .put("perm_min", v.getLong(2)).put("perm_max", v.getLong(3))
      .put("collect_threshold", NdCollect)
    val m = o.putObject("metrics")
    graft.plans.Metrics.snapshot()
      .filter { case (k, _) => k.startsWith("vsep_") || k.startsWith("m3_") }
      .toSeq.sorted.foreach { case (k, c) => m.put(k, c) }
  }

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "pair")
    val out: JsonNode = sys.env.get("SPARK_GRAFT_SCALE_EDGES_DIR") match {
      case Some(dir) => child(mode, dir) // a forked child
      case None if mode == "pair" => pair()
      case None =>
        require(mode == "partition" || mode == "nd",
          s"SPARK_GRAFT_SCALE_MODE=$mode: expected pair, partition or nd")
        val (plan, dir) = prepare(withState = false)
        fork(plan, mode, dir,
          Map("SPARK_GRAFT_SCALE_CPUS" -> plan.host.nproc.toString))
    }
    println(Json.write(out))
  }
}
