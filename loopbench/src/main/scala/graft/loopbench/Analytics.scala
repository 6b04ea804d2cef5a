package graft.loopbench

import graft.{ScratchCache, SparkEntry}
import graft.queries.Q
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The analytics battery of the `query` workload: queries from
  * `SparkEntry.registry` (operators and registry queries) over seeded
  * TPC-H-style tables, each run into the noop sink.
  *
  * The tables hold the columns the battery reads, with the shapes of the
  * engine's test data: `lineitem` ([[LineitemRows]] rows, four lines per
  * order), `orders`, and `events` (one month of January 2024). They are
  * written as one parquet file each, so `tools/selfcheck.py` can read
  * them beside a dumped pass. */
object Warm {
  /** Untimed warm-up work runs side by side: most of a cold query's time
    * is planning, code generation and compilation, not task work. */
  val Threads = 3

  def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }
}

object Analytics {
  val Queries = Seq(
    "q1_agg", "q_spearman", "q_mad_outliers", "q_rfm", "q_status_gate", "q_querybuilder_agg")
  val LineitemRows = 60000
  val EventRows = 10000

  def battery: Seq[Q] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    Queries.map(byName)
  }

  /** A uniform double in [0, 1) per row, from the seed and a salt. */
  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000L)) / 1e6

  private def pick(seed: Long, salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (floor(u(seed, salt) * xs.size) + 1).cast("int"))

  private def day(from: String, seed: Long, salt: Int, days: Int): Column =
    date_add(lit(from).cast("date"), floor(u(seed, salt) * days).cast("int"))
      .cast("timestamp_ntz")

  /** Write the seeded tables under `dir`; returns the directory. */
  def tables(spark: SparkSession, seed: Long, dir: String): String = {
    val orders = LineitemRows / 4
    val lineitem = spark.range(LineitemRows).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(20000L)) + 1).as("l_partkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(1000L)) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 3) * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(seed, 4) * 104100, 2).as("l_extendedprice"),
      (floor(u(seed, 5) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 6) * 9) / 100.0).as("l_tax"),
      pick(seed, 7, "A", "N", "R").as("l_returnflag"),
      pick(seed, 8, "O", "F").as("l_linestatus"),
      day("1995-01-02", seed, 9, 2498).as("l_shipdate"))
    val ord = spark.range(orders).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(11)), lit(orders / 10L)) + 1).as("o_custkey"),
      pick(seed, 12, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 13) * 499000, 2).as("o_totalprice"),
      day("1995-01-01", seed, 14, 2404).as("o_orderdate"),
      pick(seed, 15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
    // events in time order over 30 days, microsecond stamps
    val stepMicros = 30L * 86400 * 1000000 / EventRows
    val events = spark.range(EventRows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepMicros +
        pmod(xxhash64(col("id"), lit(seed), lit(21)), lit(stepMicros)))
        .cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(col("id"), lit(seed), lit(22)), lit(150L)).as("user_id"),
      pick(seed, 23, "click", "signup", "error", "view", "purchase").as("event_type"),
      round(lit(0.01) - log(lit(1.0) - u(seed, 24)) * 40, 2).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(seed), lit(25)), lit(100L)),
        lit("}")).as("props"))
    val sf = Paths.get(dir, "sf")
    Files.createDirectories(sf)
    Seq("lineitem" -> lineitem, "orders" -> ord, "events" -> events).foreach {
      case (name, df) => single(df, Paths.get(dir, s"tmp-$name").toString,
        sf.resolve(s"$name.parquet").toString)
    }
    sf.toString
  }

  /** Write `df` as one parquet file at `path`. */
  private def single(df: DataFrame, tmp: String, path: String): Unit = {
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** One timed call: the query into the noop sink. */
  def call(q: Q, spark: SparkSession, sf: String): Unit =
    try q.run(spark, sf).write.format("noop").mode("overwrite").save()
    finally ScratchCache.releaseAll()

  /** Dump one pass as `graft.Verify` does (a parquet directory per query
    * and `oracle_sql.json`), for `tools/selfcheck.py <out> <sf>`. A query
    * that throws leaves no output, which selfcheck.py reports as failed.
    * The pass is untimed warm-up, so its queries run side by side; scratch
    * caches are released once all are written. */
  def dump(spark: SparkSession, sf: String, out: String): Unit = {
    try Warm.concurrently(battery.map { q => () =>
      try q.run(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      catch { case e: Exception => System.err.println(s"analytics ${q.name} failed: $e") }
    })
    finally ScratchCache.releaseAll()
    val json = battery.flatMap(q => q.oracle.map(sql => s"${Json.str(q.name)}: ${Json.str(sql)}"))
      .mkString("{", ", ", "}")
    Files.write(Paths.get(out, "oracle_sql.json"), json.getBytes("UTF-8"))
  }
}
