package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A bench pass that throws is a failure with its error, never a time. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query comes back as an error, not as a time") {
    val spark = GraftSession.get("local[4]")
    val failing = spark.range(3).select(assert_true(col("id") < 2, lit("id too large")).as("x"))
    Bench.timed(failing.write.format("noop").mode("overwrite").save()) match {
      case Left(err) => assert(err.contains("id too large"), err)
      case Right(sec) => fail(s"a failing query was timed: $sec s")
    }
    val ok = Bench.timed(spark.range(3).write.format("noop").mode("overwrite").save())
    assert(ok.exists(_ >= 0.0), ok)
  }

  test("many failures keep the stdout line parseable and within its budget") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mins = (1 to 200).map(i => f"q_query_number_$i%03d" -> i / 7.0)
    val few = Bench.stdoutLine(10.0, 202, mins, Seq("q_a", "q_b"), "/data/sf0.1")
    val fewJson = mapper.readTree(few)
    assert(few.length <= 1900, few.length)
    assert(fewJson.get("n_failed").asInt == 2 && fewJson.get("failed").size == 2, few)
    // 300 failed names alone run past 1,900 chars: the names go, the count stays
    val failed = (1 to 300).map(i => s"q_failing_query_$i")
    val many = Bench.stdoutLine(10.0, 500, mins, failed, "/data/sf0.1")
    val manyJson = mapper.readTree(many)
    assert(many.length <= 1900, many.length)
    assert(manyJson.get("n_failed").asInt == 300 && !manyJson.has("failed"), many)
    assert(manyJson.get("queries").size > 0 && manyJson.get("value").asDouble == 10.0, many)
  }
}
