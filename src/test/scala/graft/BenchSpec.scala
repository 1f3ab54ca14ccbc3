package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench fails loudly: a query that throws, at construction or at
  * execution, gets no timed sample (its fast failure is not a valid
  * min) and is named in the failed list, while the queries around it
  * keep their samples. */
class BenchSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("a throwing query gets no sample in any pass and is listed as failed") {
    val qs: Seq[(String, queries.Q)] = Seq(
      "good" -> ((s, _) => s.range(10).toDF()),
      "throws_at_exec" -> ((s, _) => s.range(10).selectExpr("raise_error('boom')")),
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("no plan")),
      "good_after" -> ((s, _) => s.range(3).toDF()))
    val (samples, failed) = Bench.timedPasses(spark, qs, sfDir, iters = 2)
    failed shouldBe Seq("throws_at_exec", "throws_at_build")
    samples should have size 2
    samples.foreach { pass =>
      pass.keySet shouldBe Set("good", "good_after")
      pass.values.foreach(_ should be >= 0.0)
    }
  }
}
