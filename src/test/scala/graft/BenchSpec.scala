package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Bench` must not time a failed query as a fast one: a query
  * that throws is stamped failed on its own line, left out of the
  * total and the reruns, and counted in the summary line. */
class BenchSpec extends SparkSuite {

  private def captured[A](body: => A): (A, String) = {
    val buf = new ByteArrayOutputStream()
    val a = Console.withOut(buf)(body)
    (a, buf.toString("UTF-8"))
  }

  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("boom")

  test("a throwing query is stamped failed and has no time") {
    val (sec, line) = captured(Bench.timeQuery(spark, sf, "query", "q_boom", boom))
    assert(sec.isEmpty)
    assert(line.contains("\"query\":\"q_boom\""), line)
    assert(line.contains("\"failed\":true"), line)
    assert(line.contains("\"err\":\"IllegalStateException\""), line)

    val (ok, okLine) = captured(Bench.timeQuery(spark, sf, "query", "q_ok",
      (s, _) => s.range(3).toDF()))
    assert(ok.exists(_ >= 0.0))
    assert(!okLine.contains("failed"), okLine)
  }

  test("a fatal error is not swallowed") {
    intercept[LinkageError] {
      captured(Bench.timeQuery(spark, sf, "query", "q_fatal",
        (_, _) => throw new LinkageError("fatal")))
    }
  }

  test("the summary counts a failed query and leaves it out of total") {
    val line = Bench.summaryLine(
      Seq("a" -> Some(1.0), "q_boom" -> None, "b" -> Some(2.0)),
      Map("b" -> 1.5), "sfX")
    assert(line.contains("\"value\":3.000"), line)
    assert(line.contains("\"steady_total\":2.500"), line)
    assert(line.contains("\"n\":3,\"failed\":1"), line)
    assert(!line.contains("q_boom"), line)
  }
}
