package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with nanoTime resolution: the time base Spark uses
  * for stage submission and completion, so spans and stages compare.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One completed stage, with the job group it was launched under. */
final case class StageRec(group: String, startMs: Double, endMs: Double,
                          runMs: Long, shuffleBytes: Long, spillBytes: Long,
                          taskRunMs: Array[Long]) {
  def durMs: Double = endMs - startMs
}

/** Records every completed stage and the job group that launched it.
  * Listener events arrive on one bus thread, so the task buffers need no
  * locking of their own.
  */
final class StageLog extends SparkListener {
  private val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => groupOf.put(s, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long]) += e.taskMetrics.executorRunTime

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val ts = Option(tasks.remove((si.stageId, si.attemptNumber())))
      .map(_.toArray).getOrElse(Array.empty[Long])
    stages.add(StageRec(groupOf.getOrDefault(si.stageId, ""),
      si.submissionTime.getOrElse(0L).toDouble,
      si.completionTime.getOrElse(0L).toDouble,
      if (tm == null) 0L else tm.executorRunTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.diskBytesSpilled, ts))
  }
}

/** A timed call into one layer. `unit` names the piece of the run it
  * belongs to (`setup-2`, `pass-3`, `replay-1`): layer metrics are averaged
  * per unit of each kind.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      unit: String, startMs: Double, endMs: Double)

/** Per-layer standard metrics (see [[Tracer.layers]]). */
final case class LayerStats(wallS: Double, busyS: Double, driverS: Double,
                            shuffleMb: Double, spillMb: Double, skew: Double)

/** Spans recorded by the benchmark around calls into each module. Each span
  * runs its Spark jobs under a job group of its own, and a listener that is
  * attached only while tracing attributes stage metrics to spans through
  * that group. Spans stay in memory until [[writeSpans]].
  */
final class Tracer(sc: SparkContext) {

  private val log = new StageLog
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val units = mutable.LinkedHashSet.empty[String]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var unit = ""
  private var on = false

  def tracing: Boolean = on

  /** Trace from now on, labelling spans with `u`. */
  def start(u: String): Unit = {
    if (!on) sc.addSparkListener(log)
    on = true; unit = u; units += u
  }

  def stop(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(log)
    on = false
  }

  private def group(id: Int) = s"perfbench-span-$id"

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(group(id), s"$layer:$name")
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "")
          case None    => sc.clearJobGroup()
        }
        spans += Span(id, parent, layer, name, unit, t0, t1)
      }
    }

  def find(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name).toSeq

  def topLevel(u: String): Seq[Span] =
    spans.filter(s => s.unit == u && s.parent < 0).toSeq

  private var grouped = (-1, Map.empty[String, Seq[StageRec]])
  private def byGroup: Map[String, Seq[StageRec]] = {
    val n = log.stages.size
    if (grouped._1 != n) grouped = (n, log.stages.asScala.toSeq.groupBy(_.group))
    grouped._2
  }

  def stagesOf(s: Span): Seq[StageRec] = byGroup.getOrElse(group(s.id), Nil)

  private case class Own(self: Double, busy: Double, driver: Double,
                         shuffle: Double, spill: Double,
                         skewNum: Double, skewDen: Double)

  /** Self time, driver-only time and stage totals of one span. */
  private def own(s: Span): Own = {
    val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
    val self = Intervals.minus(Seq((s.startMs, s.endMs)), children.toSeq)
    val st = stagesOf(s)
    val driver = Intervals.minus(self,
      st.map(r => (r.startMs, r.endMs)))
    // skew: max over median task run time of every multi-task stage,
    // weighted by the stage's run time
    var num = 0.0; var den = 0.0
    st.foreach { r =>
      if (r.taskRunMs.length >= 2) {
        val t = r.taskRunMs.sorted
        val med = (t((t.length - 1) / 2) + t(t.length / 2)) / 2.0
        if (med > 0) { num += r.runMs * (t.last / med); den += r.runMs }
      }
    }
    Own(Intervals.length(self) / 1e3, st.map(_.runMs).sum / 1e3,
      Intervals.length(driver) / 1e3, st.map(_.shuffleBytes).sum / 1048576.0,
      st.map(_.spillBytes).sum / 1048576.0, num, den)
  }

  private def kind(u: String) = u.takeWhile(_ != '-')

  /** Standard metrics per layer. Additive metrics are summed per unit and
    * averaged over the traced units of each kind (a layer that ran in
    * every setup and every pass reports one setup's plus one pass's
    * worth); skew is weighted over all the layer's stages.
    */
  def layers(): Map[String, LayerStats] = {
    val perKind = units.toSeq.groupBy(kind).map { case (k, us) => k -> us.size }
    spans.toSeq.groupBy(_.layer).map { case (layer, ss) =>
      var wall, busy, driver, shuffle, spill, num, den = 0.0
      ss.foreach { s =>
        val o = own(s)
        val w = 1.0 / perKind(kind(s.unit))
        wall += o.self * w; busy += o.busy * w; driver += o.driver * w
        shuffle += o.shuffle * w; spill += o.spill * w
        num += o.skewNum; den += o.skewDen
      }
      layer -> LayerStats(wall, busy, driver, shuffle, spill,
        if (den > 0) num / den else 0.0)
    }
  }

  /** All spans as JSONL, each with its attributed stage metrics. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val o = own(s)
      val n: ObjectNode = Json.obj().put("id", s.id).put("parent", s.parent)
        .put("layer", s.layer).put("name", s.name).put("unit", s.unit)
      Json.num(n, "start_ms", s.startMs)
      Json.num(n, "end_ms", s.endMs)
      Json.num(n, "self_s", o.self)
      Json.num(n, "busy_s", o.busy)
      Json.num(n, "driver_s", o.driver)
      Json.num(n, "shuffle_mb", o.shuffle)
      Json.num(n, "spill_mb", o.spill)
      Json.num(n, "skew", if (o.skewDen > 0) o.skewNum / o.skewDen else 0.0)
      n.put("stages", stagesOf(s).size)
      Json.write(n)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Lengths of unions and differences of [start, end) intervals. */
object Intervals {

  def union(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def minus(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): List[(Double, Double)] = {
    val bs = union(b)
    union(a).flatMap { case (s, e) =>
      val out = mutable.ListBuffer.empty[(Double, Double)]
      var cur = s
      bs.foreach { case (bs0, be0) =>
        if (be0 > cur && bs0 < e) {
          if (bs0 > cur) out += ((cur, bs0))
          cur = math.max(cur, be0)
        }
      }
      if (cur < e) out += ((cur, e))
      out.toList
    }
  }

  def length(iv: Seq[(Double, Double)]): Double = iv.map(x => x._2 - x._1).sum
}
