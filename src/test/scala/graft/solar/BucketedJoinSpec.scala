package graft.solar

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing: pre-bucketing both fact tables on the
  * join key lets Spark join them with ZERO shuffle exchanges — at 100 TB
  * the difference between re-shuffling petabytes per query and a local
  * merge per bucket. Asserts the physical plan has no Exchange on either
  * join side.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")

  test("bucketed fact-fact join plans without shuffle exchanges") {
    // runtime-settable (the suite may share a session created elsewhere)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    val d = "/root/testdata/sf0.001"
    // unique names: a previous JVM's managed-table location may survive in
    // spark-warehouse/ while the fresh catalog has no entry to overwrite
    val suffix = System.nanoTime()
    val liT = s"li_bucketed_$suffix"; val oT = s"o_bucketed_$suffix"
    Tables.lineitem(spark, d).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(liT)
    Tables.orders(spark, d).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(oT)

    val j = spark.table(liT)
      .join(spark.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))

    j.collect() // finalize AQE
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    // the join inputs come straight from the bucketed scans — no Exchange
    // below the join (the only allowed Exchange is the final 1-row agg)
    val joinIdx = p.indexOf("Join")
    val belowJoin = p.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!belowJoin.contains("Exchange hashpartitioning(o_orderkey"))
    assert(p.contains("SelectedBucketsCount"))
  }
}
