package perfbench

import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Highest heap-used-after-GC reading of this JVM, from GC notifications. */
object Heap {
  @volatile private var peak = 0L

  def install(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          import com.sun.management.GarbageCollectionNotificationInfo
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            Heap.synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ =>
    }

  def peakMb: Double = peak / 1048576.0
}

/** One benchmark run in one JVM: session, repeated setup, the closed-loop
  * passes for `--seconds`, output checks, and one result line.
  *
  * Arguments (all required): `--workload --seed --seconds --trace --cpus
  * --work --results --spec`. `--work` is scratch space the caller
  * deletes; `--spec` is BENCHMARK.json, whose metric lists say what is
  * printed: every `end_to_end` metric untraced, every `per_layer` metric
  * traced.
  */
object Main {

  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work"))
    val results = Paths.get(a("results"))
    val spec = Json.readFile(a("spec"))
    Heap.install()

    val tSession = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    val code =
      try {
        spark.sparkContext.setLogLevel("ERROR")
        val sessionS = (Clock.nowMs - tSession) / 1e3
        run(spark, name, seed, seconds, trace, cpus, work, results, spec,
          sessionS)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long,
                  seconds: Double, trace: Boolean, cpus: Int, work: Path,
                  results: Path, spec: JsonNode, sessionS: Double): Unit = {
    val tr = new Tracer(spark.sparkContext)
    val c = new Ctx(spark, tr, seed, cpus, work)
    val w = Workload(name, c)

    // a traced run reports no setup_s: one setup feeds its layer spans
    val setupS = (1 to (if (trace) 1 else SetupReps)).map { r =>
      if (trace) tr.start(s"setup-$r")
      val t0 = Clock.nowMs
      w.setup()
      tr.stop()
      c.seconds(t0)
    }

    // closed loop: one pass in flight. In a traced run every pass is traced;
    // its pass time, set against an untraced run's, is the tracing overhead
    final case class Pass(i: Int, startMs: Double, wallS: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tLoop = Clock.nowMs
    def more: Boolean = passes.isEmpty ||
      c.seconds(tLoop) + Stats.median(passes.map(_.wallS).toSeq) / 2 < seconds
    while (more) {
      val i = passes.size
      if (trace) tr.start(s"pass-$i")
      val t0 = Clock.nowMs
      val wall = w.pass(i)
      tr.stop()
      passes += Pass(i, t0, wall)
    }
    val passS = Stats.median(passes.map(_.wallS).toSeq)

    // traced-layer coverage of the pass: the replayed phases' share of it
    // when the workload replays them, else the share of the pass's wall
    // that its spans cover
    var coverage = Double.NaN
    if (trace) {
      tr.start("replay-1")
      w.replay()
      tr.stop()
      val replayed = tr.topLevel("replay-1")
      coverage =
        if (replayed.nonEmpty) replayed.map(s => s.endMs - s.startMs).sum / 1e3 / passS
        else Stats.median(passes.map { p =>
          val end = p.startMs + p.wallS * 1e3
          Intervals.length(Intervals.union(tr.topLevel(s"pass-${p.i}")
            .map(s => (math.max(s.startMs, p.startMs), math.min(s.endMs, end))))) /
            (p.wallS * 1e3)
        }.toSeq)
    }

    val layers = if (trace) tr.layers() else Map.empty[String, LayerStats]
    def layerValue(metric: String): Double =
      c.layerFigures.get(metric).map(v => Stats.median(v.toSeq)).getOrElse {
        metric match {
          case "trace.coverage" => coverage
          case "trace.pass_s"   => passS
          case _ =>
            val (layer, m) = metric.splitAt(metric.lastIndexOf('.'))
            val ls = layers.get(layer)
            (m.drop(1), ls) match {
              case (_, None) => 0.0
              case ("wall_s", Some(l))     => l.wallS
              case ("busy_s", Some(l))     => l.busyS
              case ("driver_s", Some(l))   => l.driverS
              case ("shuffle_mb", Some(l)) => l.shuffleMb
              case ("spill_mb", Some(l))   => l.spillMb
              case ("skew", Some(l))       => l.skew
              case _                       => 0.0
            }
        }
      }
    def e2eValue(metric: String): Double = metric match {
      case "setup_s"           => Stats.median(setupS)
      case "pass_s"            => passS
      case "live_heap_peak_mb" => Heap.peakMb
      case other => throw new IllegalStateException(s"no end-to-end metric $other")
    }
    val metrics = Json.obj()
    spec.get(if (trace) "per_layer" else "end_to_end").elements().asScala.foreach { m =>
      val n = m.get("name").asText()
      metrics.set[ObjectNode](n,
        Json.metric(if (trace) layerValue(n) else e2eValue(n), m.get("unit").asText()))
    }

    // an operation that fails throws and fails the whole run, so what is
    // attempted and failed here are the output checks. `correct` covers the
    // computed results; a check on a record the program writes about its
    // run (the checkpoint ledger) counts in `failed` and fail_rate only
    val attempted = c.checks.size
    val failed = c.checks.count(!_.ok)
    val correct = c.checks.forall(ch => ch.ok || Workload.recordChecks(ch.name))

    val stamp = s"$name-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    Files.createDirectories(results)
    val spansFile = results.resolve(s"$stamp.spans.jsonl")
    if (trace) tr.writeSpans(spansFile)

    val detail = Json.obj().put("record", "perfbench").put("workload", name)
      .put("seed", seed).put("trace", if (trace) 1 else 0)
    Json.num(detail, "seconds", seconds)
    detail.set[ObjectNode]("host", host(spark, cpus, work))
    Json.num(detail, "session_start_s", sessionS)
    val st = detail.putArray("setup_s")
    setupS.foreach(st.add(_))
    val ps = detail.putArray("passes")
    passes.foreach(p => Json.num(ps.addObject().put("i", p.i), "wall_s", p.wallS))
    val figs = detail.putObject("figures")
    c.figures.foreach { case (k, (vs, unit)) =>
      figs.set[ObjectNode](k, Json.metric(Stats.median(vs.toSeq), unit).put("samples", vs.size))
    }
    Json.num(figs.putObject("fail_rate").put("unit", "ratio"), "value",
      failed.toDouble / attempted)
    val bad = detail.putArray("failed_checks")
    c.checks.filter(!_.ok).groupBy(_.name).foreach { case (n, cs) =>
      bad.addObject().put("name", n).put("times", cs.size).put("detail", cs.head.detail)
    }
    if (trace) {
      Json.num(detail, "trace_coverage", coverage)
      detail.put("spans_file", spansFile.toString)
    }
    val result = Json.obj().put("correct", correct).put("attempted", attempted)
      .put("failed", failed)
    result.set[ObjectNode]("metrics", metrics)
    detail.set[ObjectNode]("result", result)
    Files.writeString(results.resolve(s"$stamp.json"), Json.write(detail) + "\n")
    println(Json.write(detail))
    println(Json.write(result))
  }

  /** The host shape a result was measured on. */
  private def host(spark: SparkSession, cpus: Int, work: Path): ObjectNode = {
    val memTotalKb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    Json.obj().put("nproc", cpus)
      .put("jvm_processors", Runtime.getRuntime.availableProcessors())
      .put("mem_total_kb", memTotalKb)
      .put("heap_max_mb", Runtime.getRuntime.maxMemory() / 1048576)
      .put("shm_free_mb", new java.io.File("/dev/shm").getUsableSpace / 1048576)
      .put("disk_free_mb", work.toFile.getUsableSpace / 1048576)
      .put("spark", spark.version)
      .put("jdk", System.getProperty("java.runtime.version"))
      .put("os_arch", System.getProperty("os.arch"))
  }
}
