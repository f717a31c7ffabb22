package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Checkpointer
import graft.operators.{ConnectedComponents, GraphOps}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Durable per-iteration checkpoint + resume (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics"). The kill-resume test:
  * a run killed after iteration k and restarted must land on the exact same
  * final state as an uninterrupted run.
  */
class CheckpointerSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt").toString

  /** one synchronous Hash-Min round as the deterministic iterate body */
  private def hashMinBody(sym: DataFrame)(labels: DataFrame, i: Int): (DataFrame, Double) = {
    val nbrMin = sym
      .join(labels.withColumnRenamed("vid", "src"), "src")
      .groupBy(col("dst").as("vid")).agg(min(col("component")).as("nbr_min"))
    val next = labels.join(nbrMin, Seq("vid"), "left")
      .select(col("vid"),
        least(col("component"), coalesce(col("nbr_min"), col("component")))
          .as("component"))
    val changed = next.join(
        labels.withColumnRenamed("component", "prev"), "vid")
      .filter(col("component") =!= col("prev")).count()
    (next, changed.toDouble)
  }

  private def labels0 = vertsDf(Fixtures.vertsOf(Fixtures.path8))
    .withColumn("component", col("vid"))

  test("kill-resume: interrupted run + resume == uninterrupted run") {
    val sym = GraphOps.symmetrize(edgesDf(Fixtures.path8))
    val rootA = tmp()
    // run 1: "killed" after 3 iterations
    new Checkpointer(spark, rootA)
      .iterate("hm", labels0, maxIter = 3, tol = -1.0)(hashMinBody(sym))
    // run 2 on the same root resumes from iter 3 and finishes to 7
    val resumed = new Checkpointer(spark, rootA)
      .iterate("hm", sys.error("init must not be re-evaluated on resume"),
        maxIter = 7, tol = -1.0)(hashMinBody(sym))
    // fresh full run
    val full = new Checkpointer(spark, tmp())
      .iterate("hm", labels0, maxIter = 7, tol = -1.0)(hashMinBody(sym))
    val a = resumed.orderBy("vid").collect().toSeq
    val b = full.orderBy("vid").collect().toSeq
    assert(a == b, "resumed state must equal uninterrupted state")
    // path8 diameter 7: all labels 0 after 7 hash-min rounds
    assert(a.forall(_.getLong(1) == 0L))
  }

  test("latest() finds the newest completed snapshot only") {
    val root = tmp()
    val c = new Checkpointer(spark, root)
    assert(c.latest("s").isEmpty)
    c.write("s", 0, labels0)
    c.write("s", 3, labels0)
    assert(c.latest("s").contains(3))
    // a snapshot without _SUCCESS is ignored
    val broken = Path.of(root, "s", "iter=9")
    Files.createDirectories(broken)
    assert(c.latest("s").contains(3))
  }

  test("metrics ledger records rows, residual and per-partition lineage") {
    val root = tmp()
    val c = new Checkpointer(spark, root)
    c.iterate("hm", labels0, maxIter = 2, tol = -1.0)(
      hashMinBody(GraphOps.symmetrize(edgesDf(Fixtures.path8))))
    val lines = Files.readAllLines(Path.of(root, "metrics.jsonl")).asScala
    assert(lines.size == 3, "init + 2 iterations")
    // strict parse: Jackson rejects bare NaN/Infinity and trailing tokens
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    for (l <- lines) {
      assert(l.contains("\"step\":\"hm\"") && l.contains("\"rows\":8"))
      assert(l.contains("\"partitions\":[{"), "per-partition lineage present")
      val node = strict.readTree(l)
      assert(node.fieldNames().asScala.toSeq ==
        Seq("step", "iter", "rows", "residual", "wall_ms", "partitions"), l)
      // rows is the snapshot's row count AND the sum of its partition rows
      val frameRows = c.read("hm", node.get("iter").asInt).count()
      val partRows = node.get("partitions").elements().asScala
        .map(_.get("rows").asLong).sum
      assert(node.get("rows").asLong == frameRows && partRows == frameRows, l)
    }
    // the init snapshot carries write()'s default NaN residual: null, not NaN
    assert(strict.readTree(lines.head).get("residual").isNull, lines.head)
    assert(strict.readTree(lines(1)).get("residual").isNumber, lines(1))
    // early-stop on residual: converged path stops before maxIter
    val c2 = new Checkpointer(spark, tmp())
    val out = c2.iterate("hm", labels0, maxIter = 50, tol = 0.0)(
      hashMinBody(GraphOps.symmetrize(edgesDf(Fixtures.path8))))
    assert(out.filter(col("component") =!= 0L).count() == 0)
  }

  test("Iceberg backend selection: catalog-configured gates writeTo path") {
    // no table requested -> parquet
    assert(!new Checkpointer(spark, tmp()).useIceberg)
    // table requested but its catalog is NOT configured on this session
    // (this sandbox has no Iceberg jar) -> fall back to parquet, and the
    // full parquet contract keeps working
    val c = new Checkpointer(spark, tmp(),
      icebergTable = Some("nosuchcat.db.ckpt"))
    assert(!c.useIceberg)
    c.write("hm", 0, labels0)
    assert(c.latest("hm").contains(0))
    assert(c.read("hm", 0).count() == 8)
    // catalog configured -> the writeTo path is selected (the actual
    // Iceberg round-trip needs the runtime jar; cluster-only)
    spark.conf.set("spark.sql.catalog.fakecat",
      "org.apache.iceberg.spark.SparkCatalog")
    try
      assert(new Checkpointer(spark, tmp(),
        icebergTable = Some("fakecat.db.ckpt")).useIceberg)
    finally spark.conf.unset("spark.sql.catalog.fakecat")
  }
}
