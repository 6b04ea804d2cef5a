package graft.operators

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantiles.exact must agree with Spark's built-in exact `percentile`
  * aggregate (same rank-p·(m−1) + linear-interpolation definition over the
  * non-NULL values) plus `count(*)` on arbitrary data: n = 1 groups,
  * duplicate values, NULL keys and values, empty input, and group sizes on
  * either side of the approximate summary's compression point. */
class QuantilesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    GraftSession.builder(master = "local[4]", app = "quantiles-spec").getOrCreate()

  private def names(ps: Seq[Double]): Seq[String] = ps.indices.map(i => s"q$i")

  /** Compares the operator with `percentile` + `count(*)` on `df(k, v)`;
    * returns the number of keys compared. */
  private def assertMatchesPercentile(df: DataFrame, ps: Seq[Double]): Int = {
    val got = Quantiles.exact(df, "k", "v", ps, names(ps)).collect()
      .map(r => Option(r.get(0)) -> r).toMap
    val want = df.groupBy("k")
      .agg(
        count(lit(1)).as("n"),
        expr(s"percentile(v, array(${ps.mkString(",")}))").as("qs"))
      .collect()
    assert(got.size == want.length, s"keys: ${got.keys} vs ${want.map(_.get(0)).toSeq}")
    want.foreach { w =>
      val key = Option(w.get(0))
      val g = got.getOrElse(key, fail(s"key $key missing"))
      assert(g.getAs[Long]("n") == w.getAs[Long]("n"), s"key=$key n")
      val wqs = Option(w.getSeq[Double](w.fieldIndex("qs")))
      names(ps).zipWithIndex.foreach { case (nm, i) =>
        wqs match {
          case None => assert(g.isNullAt(g.fieldIndex(nm)), s"key=$key $nm must be NULL")
          case Some(qs) =>
            val gv = g.getAs[Double](nm)
            assert(math.abs(gv - qs(i)) < 1e-12, s"key=$key p=${ps(i)}: $gv vs ${qs(i)}")
        }
      }
    }
    want.length
  }

  test("distributed order statistics match the built-in exact percentile") {
    val rnd = new scala.util.Random(42)
    import spark.implicits._
    val rows = (1 to 5000).map { i =>
      val k = s"g${i % 7}"
      // duplicates on purpose: quantiles must be well-defined under ties
      val v = math.floor(rnd.nextDouble() * 500) / 10.0
      (k, v)
    } ++ Seq(("solo", 3.25)) // n = 1 group: every quantile = the value
    val df = rows.toDF("k", "v").repartition(13)
    assert(assertMatchesPercentile(df, Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)) == 8)
  }

  test("ties, all-equal keys, one-row keys and a NULL key group") {
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val rows: Seq[(String, Double)] =
      (1 to 3000).map(_ => ("ties", rnd.nextInt(3).toDouble)) ++
        Seq.fill(2000)(("flat", 4.5)) ++
        Seq(("one", -1.0), ("other", 0.0)) ++
        (1 to 500).map(i => (null, (i % 11).toDouble))
    val df = rows.toDF("k", "v").repartition(5)
    assert(assertMatchesPercentile(df, Seq(0.0, 0.1, 0.5, 0.75, 0.99, 1.0)) == 5)
  }

  test("NULL values take no rank; an all-NULL key has NULL quantiles and its row count") {
    import spark.implicits._
    val rows = Seq[(String, Option[Double])](
      ("some", Some(1.0)), ("some", None), ("some", Some(3.0)), ("some", Some(5.0)),
      ("none", None), ("none", None), ("full", Some(2.0)), ("full", Some(4.0)))
    val df = rows.toDF("k", "v").repartition(3)
    assert(assertMatchesPercentile(df, Seq(0.0, 0.5, 1.0)) == 3)
    val some = Quantiles.exact(df, "k", "v", Seq(0.0, 0.5), Seq("q0", "q50"))
      .filter(col("k") === "some").collect().head
    assert(some.getAs[Long]("n") == 4)
    assert(some.getAs[Double]("q0") == 1.0 && some.getAs[Double]("q50") == 3.0)
  }

  test("empty input yields no rows") {
    import spark.implicits._
    val df = Seq.empty[(String, Double)].toDF("k", "v")
    assert(Quantiles.exact(df, "k", "v", Seq(0.5), Seq("med")).collect().isEmpty)
  }

  test("group sizes across the approximate summary's compression point") {
    val sizes = Seq(1, 2, 3, 10, 714, 9999, 10000, 10001, 30001, 120000)
    // n = 120,000 at 7 quantiles is one exact-percentile buffer of 120k doubles
    val df = sizes.map { n =>
      spark.range(n).select(
        lit(s"n$n").as("k"),
        // ~2,000 distinct values: long tie runs in the big keys
        (floor(randn(n.toLong) * 200) / 10).as("v"))
    }.reduce(_ union _).repartition(8)
    assert(assertMatchesPercentile(df, Seq(0.0, 0.001, 0.25, 0.5, 0.99, 0.999, 1.0)) == sizes.length)
  }
}
