package graft

import org.apache.spark.sql.functions._
import graft.operators.EventsGraph

/** Gate-derivation memo (`EventsGraph.memoized`): shared intermediates like
  * the ND vertex separator or the gate's CSR blocks must be derived once
  * per (session, sfDir, key) and returned as the SAME value to every
  * consumer, while distinct keys/dirs stay independent.
  */
class EventsGraphMemoSpec extends SparkSpec {

  test("memoized returns the same instance for the same key, computes once") {
    var computes = 0
    def derive() = {
      computes += 1
      graft.plans.Plans.checkpoint(
        spark.range(5).select(col("id").as("vid")))
    }
    val a = EventsGraph.memoized(spark, "/memo-spec/dirA", "k1")(derive())
    val b = EventsGraph.memoized(spark, "/memo-spec/dirA", "k1")(derive())
    assert(a eq b, "same (session, dir, key) must share one DataFrame")
    assert(computes == 1, "derivation body must run once")
    assert(a.count() == 5)
  }

  test("distinct keys and dirs do not collide") {
    val a = EventsGraph.memoized(spark, "/memo-spec/dirB", "k1") {
      graft.plans.Plans.checkpoint(spark.range(3).select(col("id").as("vid")))
    }
    val b = EventsGraph.memoized(spark, "/memo-spec/dirB", "k2") {
      graft.plans.Plans.checkpoint(spark.range(4).select(col("id").as("vid")))
    }
    val c = EventsGraph.memoized(spark, "/memo-spec/dirC", "k1") {
      graft.plans.Plans.checkpoint(spark.range(6).select(col("id").as("vid")))
    }
    assert(!(a eq b) && !(a eq c))
    assert(a.count() == 3 && b.count() == 4 && c.count() == 6)
  }

  test("memoized holds non-DataFrame values (the gate's CSR block RDD)") {
    val a = EventsGraph.memoized(spark, "/memo-spec/dirD", "rdd") {
      val r = spark.sparkContext.parallelize(1 to 3).cache()
      r.count()
      r
    }
    val b = EventsGraph.memoized[org.apache.spark.rdd.RDD[Int]](
      spark, "/memo-spec/dirD", "rdd")(fail("a memoized key must not re-derive"))
    assert(a eq b)
    assert(b.sum() == 6)
  }
}
