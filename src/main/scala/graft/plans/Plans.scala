package graft.plans

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}

/** Session and plan-hygiene helpers. */
object Plans {

  /** The builder of every local session, `cpus` threads (SPARK_GRAFT_CPUS,
    * default the core count). Spark's log4j2 defaults are loaded here
    * (silently), so `logLevel` already holds for the banner `SparkContext`
    * logs as it starts. WindowExec stays at ERROR: it warns for every
    * single-partition window, and the engine's are deliberate and bounded
    * (SeparatorRefine's cumulative admit, GraphFiles' `lineno` ranks).
    */
  def localSession(logLevel: String, cpus: String = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
      : SparkSession.Builder = {
    SparkLogging.init()
    Configurator.setRootLevel(Level.toLevel(logLevel))
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // bound plan-string rendering: AQE re-renders explainString on every
      // replan, and a deep lazy lineage (iterative PR/CC loops) makes each
      // render O(plan size) — uncapped, one test burned 990 CPU-sec just
      // building strings
      .config("spark.sql.maxPlanStringLength", "16384")
      // local mode: every task is process-local — never pay the locality
      // scheduler's wait-and-see delay
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
  }

  private object SparkLogging extends org.apache.spark.internal.Logging {
    def init(): Unit = initializeLogIfNecessary(false, silent = true)
  }

  /** Eager local checkpoint that strips inherited plan state. Spark 4.1's
    * `localCheckpoint` keeps the origin plan's constraints AND statistics on
    * the resulting `LogicalRDD`:
    *
    *  - stale constraints crash the next `Union` above the checkpoint
    *    (`NoSuchElementException: key not found` from
    *    `UnionBase.rewriteConstraints`, observed on iterated
    *    union→checkpoint→union chains, e.g. matching rounds);
    *  - inherited `sizeInBytes` compounds MULTIPLICATIVELY through every
    *    join of every V-cycle level — by ~8 levels the BigInt has ~10^5
    *    digits and rendering the plan string for the SQL-execution event
    *    costs minutes of driver-side BigInteger arithmetic per action
    *    (the round-2 bench killer).
    *
    * [[GraftSqlInternals.statlessLocalCheckpoint]] materializes the same
    * way but rebuilds the frame from the checkpointed internal rows, so the
    * new `LogicalRDD` is born with no constraints and default leaf
    * statistics (AQE supplies real runtime sizes where they matter).
    *
    * Use this for EVERY DataFrame checkpoint inside iterative loops.
    */
  def checkpoint(df: DataFrame): DataFrame =
    GraftSqlInternals.statlessLocalCheckpoint(df)

  /** Checkpoint for LONG-LIVED, rarely-re-read snapshots (V-cycle level
    * state held until uncoarsening): serialized storage is 3-4x smaller on
    * heap, so a deep level stack leaves execution memory for the active
    * level's joins. Hot intermediates should use [[checkpoint]].
    */
  def checkpointSpill(df: DataFrame): DataFrame =
    GraftSqlInternals.statlessLocalCheckpoint(df,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Release the storage behind a checkpoint that is provably dead (its
    * successor has already materialized). Checkpoint blocks are the only
    * copy of their rows, so Spark never evicts them — an iterative
    * checkpoint-per-round algorithm pins every superseded round for the
    * session lifetime without this. The frame must not be read afterwards.
    */
  def unpersist(df: DataFrame): Unit =
    GraftSqlInternals.unpersistCheckpoint(df)

  /** Chaining sugar: `df.select(...).ckpt()`. */
  implicit final class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame = checkpoint(df)
    def ckptSpill(): DataFrame = checkpointSpill(df)
    /** [[checkpointSpill]] with the row count its materialization took. */
    def ckptSpillCounted(): (DataFrame, Long) =
      GraftSqlInternals.statlessLocalCheckpointCounted(df,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }
}
