package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload needs from the run, and where it reports to. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
                val cpus: Int, val work: java.nio.file.Path) {

  final case class Check(name: String, ok: Boolean, detail: String)

  val checks = mutable.ArrayBuffer.empty[Check]

  /** Workload-specific end-to-end figures, by name: (values, unit). The
    * median of the values is reported.
    */
  val figures = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]

  /** Per-layer figures beyond the standard set, by `<layer>.<metric>`;
    * the median of the values is reported.
    */
  val layerFigures = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Check(name, ok, if (ok) "" else detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def figure(name: String, unit: String, v: Double): Unit =
    figures.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += v

  def layerFigure(name: String, v: Double): Unit =
    layerFigures.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  /** Drop everything a pass cached or checkpointed, so each pass starts
    * from the same state.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def seconds(t0Ms: Double): Double = (Clock.nowMs - t0Ms) / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
    }
}
