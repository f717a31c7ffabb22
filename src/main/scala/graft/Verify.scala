package graft
import java.nio.file.{Files, Paths}
import graft.plans.{Json, Metrics, Plans}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Plans.localSession("WARN").getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        Metrics.log("verify_query_failed", "query" -> name,
          "error" -> e.toString)
      }
    }
    // Jackson escapes every control char: a tab or CR in the oracle SQL
    // must not make the consumer's json.load fail
    val json = Json.obj()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(json))
    spark.stop()
  }
}
