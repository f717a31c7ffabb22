package org.apache.spark.sql

/** Minimal `private[sql]`/`private[spark]`-scope shim (this file lives in
  * the `org.apache.spark.sql` package for access, nothing else).
  *
  * Why it exists: Spark 4.1's `Dataset.localCheckpoint` produces a
  * `LogicalRDD` that KEEPS the origin plan's `Statistics` and constraints
  * (`LogicalRDD.rewriteStatsAndConstraints`). Two failure modes follow:
  *
  *  1. stale constraints: a constraint attribute absent from the output
  *     survives the rewrite and the next `Union` above the checkpoint
  *     throws `NoSuchElementException` from `UnionBase.rewriteConstraints`;
  *  2. compounding statistics: `sizeInBytes` is the PRODUCT of the join
  *     inputs' sizes, so checkpoint→join→checkpoint chains (a multilevel
  *     V-cycle) grow it exponentially with depth until the BigInt has
  *     ~10^5 digits and merely RENDERING the plan string for the SQL
  *     execution event costs minutes of BigInteger arithmetic
  *     (`Statistics.simpleString → Utils.bytesToString`), with zero
  *     executor tasks running.
  *
  * [[statlessLocalCheckpoint]] materializes the plan the same way
  * (RDD local checkpoint of the internal rows) but rebuilds the DataFrame
  * via `internalCreateDataFrame`, whose `LogicalRDD` carries NO origin
  * statistics and NO constraints — each checkpoint is a fresh leaf, so
  * stats reset to the default leaf estimate and AQE supplies real runtime
  * sizes where they matter.
  */
object GraftSqlInternals {

  def statlessLocalCheckpoint(df: Dataset[Row]): Dataset[Row] =
    statlessLocalCheckpoint(df,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** As above with an explicit storage level for the checkpointed rows —
    * pass MEMORY_AND_DISK_SER for long-lived snapshots that are read back
    * rarely (e.g. V-cycle level state consumed once at uncoarsen time):
    * serialized rows are 3-4x smaller on heap, so a deep level stack
    * doesn't starve concurrent tasks of execution memory.
    */
  def statlessLocalCheckpoint(df: Dataset[Row],
      level: org.apache.spark.storage.StorageLevel): Dataset[Row] =
    statlessLocalCheckpointCounted(df, level)._1

  /** As above, also returning the row count that the eager
    * materialization takes anyway — a caller that needs the count must not
    * pay a second job for it.
    */
  def statlessLocalCheckpointCounted(df: Dataset[Row],
      level: org.apache.spark.storage.StorageLevel): (Dataset[Row], Long) = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    // copy: whole-stage codegen reuses its UnsafeRow buffer; caching
    // references without copying would alias every row in a partition
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    rdd.persist(level) // localCheckpoint upgrades it to include disk
    rdd.localCheckpoint()
    val n = rdd.count() // eager materialization
    (spark.internalCreateDataFrame(rdd, cdf.schema), n)
  }

  /** Drop the storage blocks behind a [[statlessLocalCheckpoint]] result
    * that is provably DEAD (every downstream consumer has already
    * materialized its own checkpoint). Local-checkpoint blocks are the only
    * copy of the data — Spark never evicts them on its own — so an
    * iterative algorithm that checkpoints per round pins every superseded
    * round's rows for the session lifetime unless it releases them
    * explicitly. No-op when `df` is not a checkpoint leaf. The DataFrame
    * must not be read again afterwards (recompute would fail).
    */
  def unpersistCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        releaseCheckpoint(l.rdd)
      case _ => ()
    }

  /** Drop the blocks of a dead local-checkpoint RDD. `RDD.unpersist` logs
    * a WARN for every locally checkpointed RDD ("its lineage has been
    * truncated…"), which is the intended effect of a release and was a
    * third of a full test log; the `private[spark]` context call below is
    * the same release without the warning.
    */
  def releaseCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
