package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** StressGen.documentsDup's cohort contract — the property the round-9
  * scaling record (BASELINE.md) rests on: cohorts are token-disjoint
  * and structurally identical, so duplicate structure is k-independent
  * and every dedup-family OUTPUT grows exactly linearly in the cohort
  * count. Pinned at sf0.001 (×5 = one cohort vs ×10 = two) so a future
  * edit to the generator cannot silently turn the scaling measurement
  * into a measurement of the data. */
class StressGenSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val dirs: (String, String) = {
    val base = tempDir("graft_sg")
    graft.tools.StressGen.documentsDup(spark, sfDir, s"$base/x5", 5)
    graft.tools.StressGen.documentsDup(spark, sfDir, s"$base/x10", 10)
    (s"$base/x5", s"$base/x10")
  }

  test("doubling the cohort count exactly doubles rows, distinct texts and near-dup pairs") {
    val (x5, x10) = dirs
    val rows5 = spark.read.parquet(s"$x5/documents.parquet").count()
    val rows10 = spark.read.parquet(s"$x10/documents.parquet").count()
    rows10 shouldBe 2 * rows5

    val dd5 = queries.Llm.llmExactDedup(spark, x5).count()
    val dd10 = queries.Llm.llmExactDedup(spark, x10).count()
    dd10 shouldBe 2 * dd5

    val jp5 = queries.Llm.llmJaccardPairs(spark, x5).count()
    val jp10 = queries.Llm.llmJaccardPairs(spark, x10).count()
    jp5 should be > 0L
    jp10 shouldBe 2 * jp5
  }

  test("duplicate clusters are bounded 2-5 and cohorts never pair across") {
    val (x5, _) = dirs
    import org.apache.spark.sql.functions._
    // exact clusters: group by (lang, text) — sizes in [1, 5] (near-dup
    // and distinct replicas are singletons; exact clusters are c ≤ 5)
    val sizes = spark.read.parquet(s"$x5/documents.parquet")
      .groupBy("lang", "text").count()
      .agg(min("count").as("mn"), max("count").as("mx")).head()
    sizes.getLong(0) should be >= 1L
    sizes.getLong(1) should be <= 5L
    // cross-cohort isolation: every near-dup pair's endpoints share the
    // same replica-offset bucket-of-5 (doc_id div (5·OFF) equal) — a
    // cross-cohort pair would mean the token suffixing leaked
    val off5 = 5L * 100000000L
    queries.Llm.llmJaccardPairs(spark, dirs._2)
      .where(floor(col("doc_a") / off5) =!= floor(col("doc_b") / off5))
      .count() shouldBe 0L
  }
}
