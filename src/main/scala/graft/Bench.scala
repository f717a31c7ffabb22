package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.Json

/** Per-round benchmark (driver contract: ONE JSON line on stdout).
  *
  * Sections:
  *   - `queries`: wall seconds per SparkEntry query on SPARK_GRAFT_SF_DIR
  *     at local[SPARK_GRAFT_CPUS]. Each query is forced with a value-
  *     consuming aggregate (bit_xor of a row hash over ALL columns) — a
  *     bare count() lets Catalyst prune computed columns and understate
  *     the work (NOTES.md);
  *   - `scaling`: the north-rule two-parallelism evidence — the identical
  *     PageRank job over a deterministically synthesized transcript graph at
  *     local[N] vs local[4N] (headline N=4; the 8→32 pair reported as
  *     `secondary_8_to_32` — see [[Scaling.pairForked]] for why one shared
  *     DRAM bus caps that pair on this box), each leg in a FRESH JVM
  *     (a second SparkSession in one JVM measured up to 4x slower), with
  *     throughput at both and the efficiency (target >= 0.8). Skippable via
  *     SPARK_GRAFT_SKIP_SCALING=1 for quick iteration.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    // scaling's fork hunt must never push the whole bench past the
    // driver's 3600 s timeout. Launch decisions are duration-aware (a leg
    // is launched only if it is predicted to FINISH before this deadline,
    // from the worst leg wall observed so far — Scaling.pairForked), so
    // the deadline itself can sit close to the timeout: 3250 s leaves
    // ~350 s for sbt startup, the JSON emit, and teardown
    sys.props("graft.scale.deadline.ms") =
      (System.currentTimeMillis() + 3250L * 1000).toString
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed one-time JVM warm-up: without it, whichever query sorts
    // first absorbs ~8-10 s of session cost that belongs to NO query —
    // Janino/codegen compiler bring-up, shuffle machinery, parquet reader
    // classes (observed: q1_agg 10.2 s warm-start vs ~1 s steady-state).
    // Touches no SparkEntry query: a 1000-row slice of the events table
    // through the same read → shuffle → xxhash64/bit_xor forcing shape
    // the timed loop uses.
    locally {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/events.parquet")
        .limit(1000)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .select(xxhash64(col("event_type"), col("n")).as("h"))
        .agg(expr("bit_xor(h)")).head()
      System.err.println(
        f"[bench] warmup ${(System.nanoTime() - t0) / 1e9}%.3f s (untimed)")
    }
    // dev filter: SPARK_GRAFT_ONLY=q_a,q_b times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // force every column's VALUES, not just row existence
        df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(expr("bit_xor(h)")).head()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // incremental per-query evidence: a timeout still leaves every
      // completed timing parseable from stderr (round 2 lost all 30
      // completed timings when one query hung)
      System.err.println(f"[bench] $name%s $sec%.3f s")
      System.err.flush()
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    spark.stop()

    val scaling =
      if (sys.env.get("SPARK_GRAFT_SKIP_SCALING").contains("1")) "null"
      else {
        // 6M convs × 600 turns ≈ 522M canonical / ~1.04 × 10^9 DIRECTED
        // edges — the north rule's literal "10^9 edges" scale. Bigger is
        // also better for the efficiency bar: per-iteration parallel work
        // W/c must dominate the ~25-30 ms/iter stage fixed cost, and each
        // doubling (130M → 261M edges moved the protocol from 0.798 to
        // ~0.85-0.9) halves the hi leg's fixed-cost share while the lo leg
        // scales cleanly; density (not vertex count) raises W per heap
        // byte, keeping the persisted CSR state inside the 30g child heap
        val nConv = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONVS", "6000000").toLong
        val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "40").toInt
        try {
          Scaling.json(Scaling.pairForked(nConv = nConv, iters = iters))
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Json.write(Json.obj().put("error", msg))
        }
      }

    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","scaling":$scaling}""")
  }
}
