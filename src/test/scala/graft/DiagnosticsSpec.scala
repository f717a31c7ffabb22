package graft

import org.apache.spark.sql.functions._
import graft.operators.EventsGraph
import graft.partitioner.Multilevel
import graft.plans.{Json, Metrics}

/** Every engine diagnostic is one strict-JSON event line on stderr
  * (README, "Diagnostics"): an object whose first key is a string `event`,
  * with no bare NaN/Infinity and no trailing tokens.
  */
class DiagnosticsSpec extends SparkSpec {

  /** What `body` writes through `System.err`, line by line. Spark's own
    * log4j console appender keeps the stream it was built with, so only
    * the engine's writes land here.
    */
  private def stderrOf(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  test("V-cycle, fallback and memo diagnostics are strict-JSON event lines") {
    val (e, vids) = Fixtures.withIslands(120)
    val v = vertsDf(vids).select(col("vid"), array(lit(1L)).as("vwgts"))
    val lines = stderrOf {
      // every serial bound 0: levels coarsen, project and refine distributed
      Multilevel.partitionMC(spark, edgesDf(e), v, 4, ncon = 1,
        coarsenTo0 = 40, serialRefineThreshold = 0L,
        serialGraphVertices = 0L, serialTailVertices = 0L)
      Metrics.event("diagnostics_spec", "a \"quoted\" detail — not ASCII")
      EventsGraph.memoized(spark, "/diagnostics-spec", "k") {
        graft.plans.Plans.checkpoint(spark.range(3).toDF("vid"))
      }
      Metrics.log("diagnostics_spec_nan", "v" -> Double.NaN,
        "w" -> Double.PositiveInfinity)
    }
    assert(lines.nonEmpty)
    val events = lines.map { l =>
      assert(l.forall(_ < 128), s"non-ASCII line: $l")
      val n = Json.read(l) // strict: throws on NaN or trailing tokens
      assert(n.isObject && n.fieldNames().next() == "event" &&
        n.get("event").isTextual, s"not an event line: $l")
      n
    }
    val kinds = events.map(_.get("event").asText).toSet
    Seq("vcycle_inputs", "coarsen_level", "uncoarsen_level", "refine_pass",
      "vcycle_result", "fallback", "memo_derived")
      .foreach(k => assert(kinds(k), s"no $k event in $kinds"))
    val level = events.find(_.get("event").asText == "coarsen_level").get
    assert(level.get("nvtxs").isIntegralNumber &&
      level.get("match_s").isNumber, s"untyped level fields: $level")
    val inputs = events.find(_.get("event").asText == "vcycle_inputs").get
    assert(inputs.get("islands").isIntegralNumber &&
      inputs.get("wall_s").isNumber, s"untyped input fields: $inputs")
    val result = events.find(_.get("event").asText == "vcycle_result").get
    assert(Seq("serial_s", "cut_s", "islands_s", "imbalance_s")
      .forall(f => result.get(f).isNumber), s"untyped result walls: $result")
    val nan = events.find(_.get("event").asText == "diagnostics_spec_nan").get
    assert(nan.get("v").isNull && nan.get("w").isNull)
    assert(events.exists(n => n.get("event").asText == "fallback" &&
      n.get("name").asText == "diagnostics_spec" &&
      n.get("detail").asText.contains("—")))
  }
}
