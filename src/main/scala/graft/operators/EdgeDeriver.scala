package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Derives the link graph from transcripts (north rule):
  * vertices = conversations and tools; edges =
  *   - `turn_adj`    : consecutive tool turns within a conversation under the
  *                     stable `(conv_id, turn_idx)` ordering → tool–tool edge
  *                     (SURVEY §2.3 "north-rule joins": lead() window),
  *   - `shared_tool` : conv–conv link via a common tool. Power-law hub tools
  *                     would make the naive per-tool clique quadratic
  *                     (SURVEY P15); tools above `hubCap` distinct
  *                     conversations are *path-sparsified*: conversations are
  *                     ordered deterministically and linked consecutively, so
  *                     hub connectivity is preserved at O(n) edges instead of
  *                     O(n²). The sparsification is deterministic and
  *                     reported, never silent (see [[hubStats]]).
  *   - `conv_tool`   : bipartite usage edge conv–tool, weight = #turns.
  *
  * The reference's analogue of vertex identity is the label/rename dictionary
  * (reference src/graph.h:79-80); here it is an id-dictionary DataFrame with
  * scalable deterministic dense ids (bucketed ranking — no global
  * single-partition window, SURVEY §1.4).
  */
object EdgeDeriver {

  /** `hubCap`: max clique size per tool before sparsifying. */
  case class Config(hubCap: Int = 64)

  // buckets for the scalable dense-id assignment in [[vertices]]
  private val IdBuckets = 256

  /** Vertex dictionary: (vid bigint, kind 'conv'|'tool', key string).
    *
    * Dense deterministic ids without a global-orderBy window (which would be
    * a single-partition sort at 10^12-turn scale): rank within
    * `pmod(xxhash64(kind,key), B)` buckets, plus exact bucket-offset prefix
    * sums (B is small → driver-side). Ids are stable across runs and
    * independent of input partitioning.
    */
  def vertices(transcripts: DataFrame): DataFrame = {
    val convs = transcripts.select(col("conv_id").as("key")).distinct()
      .withColumn("kind", lit("conv"))
    val tools = transcripts.filter(col("tool").isNotNull)
      .select(col("tool").as("key")).distinct()
      .withColumn("kind", lit("tool"))
    val keys = convs.unionByName(tools)
      .withColumn("bucket",
        pmod(xxhash64(col("kind"), col("key")), lit(IdBuckets.toLong)).cast("int"))
    // exact per-bucket counts -> driver prefix sums (IdBuckets rows only)
    val counts = keys.groupBy(col("bucket")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val offsets = (0 until IdBuckets)
      .scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
    val offsetDf = keys.sparkSession.createDataFrame(
      (0 until IdBuckets).map(b => (b, offsets(b)))
    ).toDF("bucket", "offset")
    val w = Window.partitionBy(col("bucket")).orderBy(col("kind"), col("key"))
    keys.withColumn("rnk", row_number().over(w) - 1)
      .join(broadcast(offsetDf), "bucket")
      .select((col("offset") + col("rnk")).as("vid"), col("kind"), col("key"))
  }

  /** Tool–tool edges from consecutive tool turns in a conversation.
    * Stable turn ordering = orderBy(turn_idx) within conv_id (north rule).
    * Self-loops dropped (reference F1, src/graph.c:3809-3812).
    * Undirected-canonical on the tool *names*; weight = multiplicity.
    */
  def turnAdjacency(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    transcripts
      .filter(col("tool").isNotNull)
      .withColumn("next_tool", lead(col("tool"), 1).over(w))
      .filter(col("next_tool").isNotNull && col("next_tool") =!= col("tool"))
      .select(
        least(col("tool"), col("next_tool")).as("src_key"),
        greatest(col("tool"), col("next_tool")).as("dst_key"))
      .groupBy(col("src_key"), col("dst_key"))
      .agg(count(lit(1)).as("wgt"))
      .withColumn("src_kind", lit("tool")).withColumn("dst_kind", lit("tool"))
      .withColumn("etype", lit("turn_adj"))
  }

  /** Conv–conv edges via shared tool, hub-capped.
    * Non-hub tools (≤ hubCap convs): full clique via self-join (c1 < c2).
    * Hub tools: deterministic path over convs ordered by conv_id — keeps the
    * component connected with O(n) edges. Weight = #tools linking the pair.
    */
  def sharedTool(transcripts: DataFrame, cfg: Config = Config()): DataFrame = {
    val ct = transcripts.filter(col("tool").isNotNull)
      .select(col("tool"), col("conv_id")).distinct()
    val toolSizes = ct.groupBy(col("tool")).agg(count(lit(1)).as("n_convs"))
    val sized = ct.join(toolSizes, "tool")

    val small = sized.filter(col("n_convs") <= cfg.hubCap)
    val cliques = small.as("a").join(small.as("b"),
        col("a.tool") === col("b.tool") && col("a.conv_id") < col("b.conv_id"))
      .select(col("a.conv_id").as("src_key"), col("b.conv_id").as("dst_key"))

    val wHub = Window.partitionBy(col("tool")).orderBy(col("conv_id"))
    val hubPaths = sized.filter(col("n_convs") > cfg.hubCap)
      .withColumn("next_conv", lead(col("conv_id"), 1).over(wHub))
      .filter(col("next_conv").isNotNull)
      .select(col("conv_id").as("src_key"), col("next_conv").as("dst_key"))

    cliques.unionByName(hubPaths)
      .groupBy(col("src_key"), col("dst_key"))
      .agg(count(lit(1)).as("wgt"))
      .withColumn("src_kind", lit("conv")).withColumn("dst_kind", lit("conv"))
      .withColumn("etype", lit("shared_tool"))
  }

  /** Bipartite conv–tool usage edges, weight = #turns using the tool. */
  def convTool(transcripts: DataFrame): DataFrame =
    transcripts.filter(col("tool").isNotNull)
      .groupBy(col("conv_id").as("src_key"), col("tool").as("dst_key"))
      .agg(count(lit(1)).as("wgt"))
      .withColumn("src_kind", lit("conv")).withColumn("dst_kind", lit("tool"))
      .withColumn("etype", lit("conv_tool"))

  /** Hub-sparsification report: never truncate silently (SURVEY §7(b)). */
  def hubStats(transcripts: DataFrame, cfg: Config = Config()): DataFrame = {
    transcripts.filter(col("tool").isNotNull)
      .select(col("tool"), col("conv_id")).distinct()
      .groupBy(col("tool")).agg(count(lit(1)).as("n_convs"))
      .filter(col("n_convs") > cfg.hubCap)
      .withColumn("clique_edges",
        (col("n_convs") * (col("n_convs") - 1) / 2).cast("bigint"))
      .withColumn("kept_edges", col("n_convs") - 1)
  }

  /** Full derivation: keyed edges → vid-resolved canonical undirected edge
    * table (src bigint, dst bigint, wgt bigint, etype string), src < dst.
    * The key→vid resolution is the reference's J1 rename join
    * (src/graph.c:3807-3832) as two equi-joins against the dictionary.
    */
  def edges(transcripts: DataFrame, verts: DataFrame,
            cfg: Config = Config()): DataFrame = {
    val keyed = turnAdjacency(transcripts)
      .unionByName(sharedTool(transcripts, cfg))
      .unionByName(convTool(transcripts))
    val vs = verts.select(col("vid"), col("kind"), col("key"))
    keyed
      .join(vs.withColumnRenamed("vid", "src_vid"),
        col("src_key") === col("key") && col("src_kind") === col("kind"))
      .drop("key", "kind")
      .join(vs.withColumnRenamed("vid", "dst_vid"),
        col("dst_key") === col("key") && col("dst_kind") === col("kind"))
      .select(
        least(col("src_vid"), col("dst_vid")).as("src"),
        greatest(col("src_vid"), col("dst_vid")).as("dst"),
        col("wgt"), col("etype"))
      .groupBy(col("src"), col("dst"), col("etype"))
      .agg(sum(col("wgt")).as("wgt"))
      .select("src", "dst", "wgt", "etype")
  }

  /** Collapsed simple graph for the analytics passes: unique undirected
    * (src<dst) edges, weights summed across etypes.
    */
  def simpleGraph(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"), col("dst")).agg(sum(col("wgt")).as("wgt"))
}
