package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Per-iteration checkpoint + lineage/metrics harness (north rule:
  * "checkpointed per-iteration ... with per-partition lineage and
  * row-count/residual metrics for resumability").
  *
  * Storage has two backends behind one contract (atomic snapshot per
  * iteration, readable back for resume, metrics row per write):
  *   - parquet directories (`<root>/<step>/iter=<k>`, `_SUCCESS` as the
  *     commit marker) — the default, and the sandbox path (no Iceberg
  *     runtime jar here);
  *   - an Iceberg V2-catalog table per step via `writeTo(...).append()`
  *     (`_iter` partition column; Iceberg's atomic commit replaces the
  *     `_SUCCESS` marker), selected by passing `icebergTable` AND having
  *     `spark.sql.catalog.<catalog>` configured — the cluster path the
  *     north rule names. Both share the `metrics.jsonl` ledger.
  *
  * The reference's analogue is the out-of-core level dump/restore
  * (reference src/asyncio.c:5-139 and graph dump src/graph.c:3774-3860):
  * spill a whole level, reload it later. Here every iteration is durable and
  * the lineage (which partition produced how many rows) rides along;
  * [[Checkpointer.iterate]] is the loop that writes and resumes them.
  */
final class Checkpointer(spark: SparkSession, root: String,
                         icebergTable: Option[String] = None) {

  Files.createDirectories(Paths.get(root))
  private val ledger = Paths.get(root, "metrics.jsonl")

  /** Cluster path: when `icebergTable` names `<catalog>.<db>.<prefix>` AND
    * that catalog is actually configured on this session
    * (`spark.sql.catalog.<catalog>` set — e.g. to Iceberg's
    * `SparkCatalog`), snapshots go through the V2 `writeTo(...).append()`
    * API into one table per step (`<prefix>_<step>`, `_iter` column as the
    * snapshot key; Iceberg commits are atomic, so a visible `_iter` is by
    * definition complete). Otherwise — including this sandbox, which has
    * no Iceberg runtime jar — the parquet directory layout below stands
    * in with the identical contract.
    */
  private[graft] val useIceberg: Boolean = icebergTable.exists { t =>
    val cat = t.split('.').head
    spark.conf.getOption(s"spark.sql.catalog.$cat").isDefined
  }

  private def tableFor(step: String) = s"${icebergTable.get}_$step"

  private def dir(step: String, iter: Int) = s"$root/$step/iter=$iter"
  private def done(step: String, iter: Int): Boolean =
    Files.exists(Paths.get(dir(step, iter), "_SUCCESS"))

  /** Rows per output partition — the per-partition lineage record. */
  private def partitionCounts(df: DataFrame): Seq[(Int, Long)] =
    df.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** One compact ledger line per snapshot, keys in the order step, iter,
    * rows, residual, wall_ms, partitions; a non-finite residual (the
    * `write` default) is null.
    */
  private def logMetrics(step: String, iter: Int, rows: Long,
                 residual: Double, partCounts: Seq[(Int, Long)]): Unit = {
    val o = Json.obj().put("step", step).put("iter", iter).put("rows", rows)
    Json.num(o, "residual", residual).put("wall_ms", System.currentTimeMillis())
    val parts = o.putArray("partitions")
    partCounts.foreach { case (p, n) => parts.addObject().put("pid", p).put("rows", n) }
    Files.writeString(ledger, Json.write(o) + "\n", StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
  }

  /** Write one iteration snapshot (atomic via parquet _SUCCESS) and its
    * metrics row; returns the re-read DataFrame so downstream lineage is
    * truncated (the analogue of `df.checkpoint()` but durable + resumable).
    */
  def write(step: String, iter: Int, df: DataFrame,
            residual: Double = Double.NaN): DataFrame = {
    val back =
      if (useIceberg) {
        val t = tableFor(step)
        val tagged = df.withColumn("_iter", lit(iter))
        if (spark.catalog.tableExists(t)) tagged.writeTo(t).append()
        else tagged.writeTo(t).partitionedBy(col("_iter")).create()
        spark.table(t).filter(col("_iter") === iter).drop("_iter")
      } else {
        df.write.mode("overwrite").parquet(dir(step, iter))
        // the frame's own schema: inferring it would read a footer in a
        // Spark job of its own, once per snapshot
        spark.read.schema(df.schema).parquet(dir(step, iter))
      }
    // one job: the row count is the sum of the per-partition lineage
    val parts = partitionCounts(back)
    logMetrics(step, iter, parts.map(_._2).sum, residual, parts)
    back
  }

  /** Resume point: latest completed iteration for `step`, if any. */
  def latest(step: String): Option[Int] =
    if (useIceberg) {
      if (!spark.catalog.tableExists(tableFor(step))) None
      else Option(spark.table(tableFor(step)).agg(max(col("_iter")))
        .head().get(0)).map(_.toString.toInt)
    } else {
      val p = Paths.get(root, step)
      if (!Files.exists(p)) None
      else {
        // Files.list holds an open directory fd until the stream is closed —
        // a resume-polling driver calling latest() in a loop leaks one fd
        // per call without the explicit close
        val stream = Files.list(p)
        val dirs =
          try stream.toArray.map(_.toString)
          finally stream.close()
        val iters = dirs.flatMap { d =>
          val n = d.substring(d.lastIndexOf("iter=") + 5)
          if (Files.exists(Paths.get(d, "_SUCCESS"))) Some(n.toInt) else None
        }
        if (iters.isEmpty) None else Some(iters.max)
      }
    }

  def read(step: String, iter: Int): DataFrame =
    if (useIceberg)
      spark.table(tableFor(step)).filter(col("_iter") === iter).drop("_iter")
    else spark.read.parquet(dir(step, iter))
}

object Checkpointer {

  /** The one iteration-checkpoint loop. `body(state, i)` returns iteration
    * `i`'s state, already materialized (a [[Plans.checkpoint]]), and its
    * residual; the loop stops after iteration `maxIter` or at the first
    * residual `<= tol`.
    *
    * With a checkpointer, every iteration is written durably and a run
    * resumes after the newest completed snapshot of `step` (`init` is then
    * never evaluated); without one, the body's checkpoint is the state.
    * Either way each superseded state is released with [[Plans.unpersist]].
    * Returns the final state, its iteration index and the last residual
    * (`Double.MaxValue` when no iteration ran).
    */
  def iterate(ckpt: Option[Checkpointer], step: String, init: => DataFrame,
              maxIter: Int, tol: Double)(
      body: (DataFrame, Int) => (DataFrame, Double)): (DataFrame, Int, Double) = {
    var (state, i) = ckpt.flatMap(c => c.latest(step).map(k => (c.read(step, k), k)))
      .getOrElse((init, 0))
    var residual = Double.MaxValue
    while (i < maxIter && residual > tol) {
      i += 1
      val (next, res) = body(state, i)
      residual = res
      Plans.unpersist(state)
      state = ckpt.fold(next) { c =>
        val durable = c.write(step, i, next, res)
        Plans.unpersist(next)
        durable
      }
    }
    (state, i, residual)
  }
}
