package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Transcripts

/** The correctness-gate graph: transcripts adapted from the driver's
  * `events` table ([[Transcripts.fromEvents]]) → full [[EdgeDeriver]]
  * pipeline, but with a SQL-replicable vertex-id scheme so every stage of
  * the derivation (and the analytics over it) can be verified by the DuckDB
  * oracle value-for-value:
  *
  *   conv vid = user_id                 (parsed back out of conv_id)
  *   tool vid = 1_000_000 + dense_rank(tool name)
  *
  * (The production id scheme is the scalable bucketed dictionary in
  * [[EdgeDeriver.vertices]]; its density/uniqueness invariants are
  * oracle-checked separately since xxhash64 has no DuckDB twin.)
  */
object EventsGraph {

  val ToolBase = 1000000L
  val HubCap = 8

  def transcripts(spark: SparkSession, sfDir: String): DataFrame =
    Transcripts.fromEvents(spark.read.parquet(s"$sfDir/events.parquet"))

  /** Dictionary with the SQL-replicable ids, same shape as
    * [[EdgeDeriver.vertices]].
    */
  def vertexDict(ts: DataFrame): DataFrame = {
    val convs = ts.select(col("conv_id").as("key")).distinct()
      .select(substring(col("key"), 6, 8).cast("bigint").as("vid"),
        lit("conv").as("kind"), col("key"))
    // this SQL-replicable scheme is only sound while conv ids stay below
    // the tool id base — any dataset with user_id >= ToolBase would
    // silently alias conv and tool vertices on the trusted gate path
    val maxConv = convs.agg(max(col("vid"))).head().get(0)
    require(maxConv == null || maxConv.asInstanceOf[Long] < ToolBase,
      s"conv vid $maxConv >= ToolBase $ToolBase: id scheme would collide")
    val tools = ts.filter(col("tool").isNotNull)
      .select(col("tool").as("key")).distinct()
      // GLOBAL window: safe ONLY because tool cardinality is bounded (a
      // fixed tool vocabulary, dozens of rows after distinct). This is the
      // trusted-gate path; production-scale id assignment uses the
      // bucketed dictionary in EdgeDeriver.vertices. If tools ever become
      // unbounded, switch this to GraphOps.bucketedGlobalRank.
      .withColumn("vid",
        lit(ToolBase) + dense_rank().over(Window.orderBy(col("key"))).cast("bigint") - 1)
      .select(col("vid"), lit("tool").as("kind"), col("key"))
    convs.unionByName(tools)
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]()

  /** Canonical simple edge table (src, dst, wgt), src < dst. */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "edges") {
      val ts = transcripts(spark, sfDir)
      graft.plans.Plans.checkpoint(
        EdgeDeriver.simpleGraph(
          EdgeDeriver.edges(ts, vertexDict(ts),
            EdgeDeriver.Config(hubCap = HubCap))))
    }

  /** Vertex set (vid) incl. both kinds. */
  def vertices(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "verts") {
      graft.plans.Plans.checkpoint(
        vertexDict(transcripts(spark, sfDir)).select(col("vid")))
    }

  /** Memoize a gate derivation per (session, sfDir, key): the gate graph
    * is read by ~30 queries per Verify/Bench session, some in several
    * actions or through a shared intermediate (the ND separator of three
    * q_vsep* gates, the balanced CSR blocks of q_pagerank_direct and
    * q_csr_edge_stats), so each is derived once per session. `f` must
    * return an already-materialized value (a checkpointed DataFrame, a
    * persisted and counted RDD); `key` names one type per use. Entries of
    * stopped sessions are dropped, so a caller that creates and stops many
    * sessions (a test suite) does not pin their blocks for the JVM's life.
    * get-then-putIfAbsent (not computeIfAbsent): `f` may itself read
    * `edges`/`vertices` through this map, and ConcurrentHashMap forbids
    * recursive updates; a lost race recomputes once, harmlessly.
    */
  def memoized[A <: AnyRef](spark: SparkSession, sfDir: String, key: String)
                            (f: => A): A = {
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    val k = (spark, sfDir, key)
    val cur = memo.get(k)
    if (cur != null) cur.asInstanceOf[A]
    else {
      // derivation cost as an event: the FIRST query to need this
      // intermediate pays it inside its own wall (bench timings are
      // therefore order-dependent for memo-sharing query families — the
      // event makes the shared cost auditable instead of invisible)
      val t0 = System.nanoTime()
      val v = f
      graft.plans.Metrics.log("memo_derived", "key" -> key, "sf_dir" -> sfDir,
        "wall_s" -> graft.plans.Metrics.secondsSince(t0))
      val prev = memo.putIfAbsent(k, v)
      if (prev != null) prev.asInstanceOf[A] else v
    }
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTE text producing the identical canonical edge table
    * `(src, dst, wgt)` from the `events` parquet table. Used as the
    * `e_canon` body by every graph-analytics oracle.
    */
  val edgesCte: String =
    s"""SELECT src, dst, CAST(SUM(wgt) AS BIGINT) AS wgt FROM (
       |  WITH t AS (
       |    SELECT user_id, event_type AS tool, ts, event_id,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx
       |    FROM events),
       |  tooldict AS (
       |    SELECT tool, $ToolBase + dense_rank() OVER (ORDER BY tool) - 1 AS tvid
       |    FROM (SELECT DISTINCT tool FROM t)),
       |  ta AS (
       |    SELECT LEAST(tool, next_tool) AS k1, GREATEST(tool, next_tool) AS k2,
       |           COUNT(*) AS wgt
       |    FROM (SELECT tool,
       |            lead(tool) OVER (PARTITION BY user_id ORDER BY turn_idx) AS next_tool
       |          FROM t)
       |    WHERE next_tool IS NOT NULL AND next_tool <> tool
       |    GROUP BY 1, 2),
       |  ct0 AS (SELECT DISTINCT tool, user_id FROM t),
       |  tsz AS (SELECT tool, COUNT(*) AS n FROM ct0 GROUP BY tool),
       |  cliq AS (
       |    SELECT a.user_id AS u1, b.user_id AS u2
       |    FROM ct0 a JOIN ct0 b ON a.tool = b.tool AND a.user_id < b.user_id
       |    JOIN tsz s ON s.tool = a.tool WHERE s.n <= $HubCap),
       |  hubp AS (
       |    SELECT user_id AS u1, next_u AS u2 FROM (
       |      SELECT c.tool, c.user_id,
       |             lead(c.user_id) OVER (PARTITION BY c.tool ORDER BY c.user_id) AS next_u,
       |             s.n
       |      FROM ct0 c JOIN tsz s ON s.tool = c.tool)
       |    WHERE n > $HubCap AND next_u IS NOT NULL),
       |  st AS (
       |    SELECT u1, u2, COUNT(*) AS wgt
       |    FROM (SELECT u1, u2 FROM cliq UNION ALL SELECT u1, u2 FROM hubp)
       |    GROUP BY 1, 2),
       |  cvt AS (SELECT user_id, tool, COUNT(*) AS wgt FROM t GROUP BY 1, 2)
       |  SELECT LEAST(d1.tvid, d2.tvid) AS src, GREATEST(d1.tvid, d2.tvid) AS dst, ta.wgt
       |    FROM ta JOIN tooldict d1 ON ta.k1 = d1.tool JOIN tooldict d2 ON ta.k2 = d2.tool
       |  UNION ALL
       |  SELECT u1 AS src, u2 AS dst, wgt FROM st
       |  UNION ALL
       |  SELECT cvt.user_id AS src, d.tvid AS dst, cvt.wgt
       |    FROM cvt JOIN tooldict d ON cvt.tool = d.tool
       |) GROUP BY src, dst""".stripMargin

  /** DuckDB CTE for the vertex set. */
  val vertsCte: String =
    s"""SELECT DISTINCT user_id AS vid FROM events
       |UNION ALL
       |SELECT $ToolBase + dense_rank() OVER (ORDER BY event_type) - 1 AS vid
       |FROM (SELECT DISTINCT event_type FROM events)""".stripMargin
}
