package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Checkpointer
import graft.plans.Plans.CheckpointOps
import graft.operators.{ConnectedComponents, GraphOps, LabelPropagation, PageRank}
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
          .as("component")).ckpt()
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
    Checkpointer.iterate(Some(new Checkpointer(spark, rootA)), "hm", labels0,
      maxIter = 3, tol = -1.0)(hashMinBody(sym))
    // run 2 on the same root resumes from iter 3 and finishes to 7
    val (resumed, last, _) = Checkpointer.iterate(
      Some(new Checkpointer(spark, rootA)), "hm",
      sys.error("init must not be re-evaluated on resume"),
      maxIter = 7, tol = -1.0)(hashMinBody(sym))
    assert(last == 7)
    // fresh full run
    val (full, _, _) = Checkpointer.iterate(Some(new Checkpointer(spark, tmp())),
      "hm", labels0, maxIter = 7, tol = -1.0)(hashMinBody(sym))
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
    // write()'s default NaN residual is ledgered as null, not a bare NaN
    val first = Files.readAllLines(Path.of(root, "metrics.jsonl")).get(0)
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(first)
      .get("residual").isNull, first)
    // a snapshot without _SUCCESS is ignored
    val broken = Path.of(root, "s", "iter=9")
    Files.createDirectories(broken)
    assert(c.latest("s").contains(3))
  }

  test("metrics ledger records rows, residual and per-partition lineage") {
    val root = tmp()
    val c = new Checkpointer(spark, root)
    Checkpointer.iterate(Some(c), "hm", labels0, maxIter = 2, tol = -1.0)(
      hashMinBody(GraphOps.symmetrize(edgesDf(Fixtures.path8))))
    val lines = Files.readAllLines(Path.of(root, "metrics.jsonl")).asScala
    assert(lines.size == 2, "one line per iteration, no init snapshot")
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
      assert(node.get("residual").isNumber, l)
    }
    // early-stop on residual: converged path stops before maxIter
    val (out, last, residual) = Checkpointer.iterate(
      Some(new Checkpointer(spark, tmp())), "hm", labels0, maxIter = 50,
      tol = 0.0)(hashMinBody(GraphOps.symmetrize(edgesDf(Fixtures.path8))))
    assert(out.filter(col("component") =!= 0L).count() == 0)
    // path8 needs 7 changing rounds, the 8th changes nothing
    assert(last == 8 && residual == 0.0)
  }

  test("superseded iteration state is released: persisted RDDs don't grow with maxIter") {
    val sc = spark.sparkContext
    // new RDD ids a call leaves persisted, its result held meanwhile (the
    // persistent-RDD map holds weak values; ids only grow, so older RDDs
    // collected meanwhile cannot disturb the count)
    def leftPersisted(f: => AnyRef): Int = {
      val before = sc.getPersistentRDDs.keySet
      val result = f
      val n = sc.getPersistentRDDs.keys.count(id => !before(id))
      java.lang.ref.Reference.reachabilityFence(result)
      n
    }
    val (e, verts) = Fixtures.withIslands(60)
    val path = (0L until 63L).map(i => (i, i + 1, 1L))
    val iters = Seq(2, 10)
    // only the result's own checkpoint stays, whatever the iteration count
    assert(iters.map(i => leftPersisted(PageRank.run(spark, edgesDf(e),
      vertsDf(verts), maxIter = i, tol = 0.0, numParts = 4))) == Seq(1, 1),
      "PageRank")
    assert(iters.map(i => leftPersisted(ConnectedComponents.run(spark,
      edgesDf(path), vertsDf(Fixtures.vertsOf(path)), maxRounds = i))) ==
      Seq(1, 1), "ConnectedComponents")
    // the fixed-round loops release their superseded rounds and their
    // loop constants too
    assert(iters.map(i => leftPersisted(ConnectedComponents.hashMinIterations(
      edgesDf(path), vertsDf(Fixtures.vertsOf(path)), i))) == Seq(1, 1),
      "hashMinIterations")
    assert(iters.map(i => leftPersisted(LabelPropagation.run(edgesDf(e),
      vertsDf(verts), i))) == Seq(1, 1), "LabelPropagation")
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
