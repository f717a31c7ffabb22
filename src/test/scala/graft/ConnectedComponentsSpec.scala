package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents
import graft.plans.Checkpointer

/** Exact component labels (min-vid) vs a union-find oracle — exact match is
  * the north-rule bar. Exercises islands (reference F4) and the long-chain
  * case where large-star/small-star beats plain Hash-Min.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def collect(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("vid"), col("component")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("large-star/small-star CC equals union-find on all fixtures") {
    val cases = Seq(Fixtures.path8, Fixtures.cycle9, Fixtures.star17,
      Fixtures.twoCliques, Fixtures.grid4x4, Fixtures.zipf(200))
    for (e <- cases) {
      val verts = Fixtures.vertsOf(e)
      val got = collect(ConnectedComponents.run(spark, edgesDf(e), vertsDf(verts)))
      assert(got == Oracles.components(e, verts))
    }
  }

  test("islands are their own components; multi-component graph exact") {
    // two disjoint paths + 3 isolated vertices
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L), (10L, 11L, 1L), (11L, 12L, 1L))
    val verts = Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L, 21L, 22L)
    val got = collect(ConnectedComponents.run(spark, edgesDf(e), vertsDf(verts)))
    assert(got == Oracles.components(e, verts))
    assert(got(20L) == 20L && got(21L) == 21L)
    assert(got.values.toSet == Set(0L, 10L, 20L, 21L, 22L))
  }

  test("converges on a long path in O(log n) star rounds") {
    val n = 256
    val e = (0L until n - 1L).map(i => (i, i + 1, 1L))
    val verts = (0L until n.toLong)
    // maxRounds 15 << diameter 255: only the contraction algorithm passes
    val got = collect(
      ConnectedComponents.run(spark, edgesDf(e), vertsDf(verts), maxRounds = 15))
    assert(got.values.forall(_ == 0L))
  }

  test("kill-resume: a run stopped after round 1 resumes to exact labels") {
    val n = 256
    val e = (0L until n - 1L).map(i => (i, i + 1, 1L))
    val verts = (0L until n.toLong)
    val root = java.nio.file.Files.createTempDirectory("graft-cc").toString
    def run(maxRounds: Int) = ConnectedComponents.run(spark, edgesDf(e),
      vertsDf(verts), maxRounds, Some(new Checkpointer(spark, root)))
    run(1) // "killed" after round 1
    assert(collect(run(50)) == Oracles.components(e, verts))
    val lines = ledger(root, "cc_pairs")
    assert(lines.map(_.get("iter").asInt) == (1 to lines.size),
      "one ledger line per round, none rewritten")
    assert(lines.forall(_.get("residual").isNumber))
    assert(lines.last.get("residual").asDouble == 0.0, "stopped on a repeat")
  }

  test("fixed-round Hash-Min matches the synchronous oracle recurrence") {
    val e = Fixtures.twoCliques
    val verts = Fixtures.vertsOf(e)
    // enough rounds for diameter 3 -> exact labels
    val got = collect(
      ConnectedComponents.hashMinIterations(edgesDf(e), vertsDf(verts), 5))
    assert(got == Oracles.components(e, verts))
  }
}
