package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** pipelines.SignatureIndex — the near-dup artifact. Pins: (1) refresh
  * pairs ≡ the from-scratch llm_minhash pipeline over the union corpus
  * restricted to new↔old endpoints (identical signatures by shared
  * construction); (2) the per-doc verdict counts those pairs; (3) the
  * index is never re-tokenized — the refresh plan's file scans touch
  * only index paths when the batch is in memory; (4) broadcast and
  * forced-shuffle resolution agree; (5) extend lands a new batch
  * partition and subsequent refreshes see it; (6) geometry/stamp
  * guards fail loudly. */
class SignatureIndexSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def bkt(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100

  private lazy val docs =
    Tables.documents(spark, sfDir).withColumn("bucket", bkt(col("doc_id")))
  private lazy val oldDocs = docs.where(col("bucket") < 80)
  private lazy val newDocs = docs.where(col("bucket") >= 80)
  private lazy val indexDir = {
    val d = tempDir("graft_six")
    pipelines.SignatureIndex.buildFrom(spark, oldDocs, sfDir, d)
    d
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b), r.getDouble(2))
    }.toSet

  test("refreshPairs ≡ from-scratch llm_minhash over the union, restricted to new↔old") {
    val got = pairSet(
      pipelines.SignatureIndex.refreshPairs(spark, newDocs, indexDir))
    // truth: the hermetic pipeline over the whole corpus (old ∪ new IS
    // the fixture), new↔old endpoint pairs only
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val truth = pairSet(
      SparkEntry.queries("llm_minhash")(spark, sfDir)
        .where((col("doc_a").isin(newIds.toSeq: _*) &&
                !col("doc_b").isin(newIds.toSeq: _*)) ||
               (!col("doc_a").isin(newIds.toSeq: _*) &&
                col("doc_b").isin(newIds.toSeq: _*))))
    got should not be empty
    got shouldBe truth
  }

  test("refresh verdict counts the pairs; broadcast ≡ forced-shuffle resolution") {
    val verdict = pipelines.SignatureIndex.refresh(spark, newDocs, indexDir)
    val counts = pipelines.SignatureIndex.refreshPairs(spark, newDocs, indexDir)
      .groupBy("doc_new").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    verdict.collect().foreach { r =>
      r.getLong(1) shouldBe counts.getOrElse(r.getLong(0), 0L)
      r.getLong(2) shouldBe (if (counts.contains(r.getLong(0))) 0L else 1L)
    }
    withConf("spark.graft.dedup.broadcastCandidates" -> "0") {
      pipelines.SignatureIndex.refresh(spark, newDocs, indexDir)
        .collect().toSeq shouldBe verdict.collect().toSeq
    }
    // ADVICE r9 mid shape: candidate KEYS broadcast-sized but the
    // signature rows NOT (sigindex.broadcastSigs=0) — key-semi stays
    // map-side, the sig join shuffles, verdict identical
    withConf("spark.graft.sigindex.broadcastSigs" -> "0") {
      pipelines.SignatureIndex.refresh(spark, newDocs, indexDir)
        .collect().toSeq shouldBe verdict.collect().toSeq
    }
  }

  test("an in-memory batch refresh scans only index paths — old text never re-tokenized") {
    import scala.jdk.CollectionConverters._
    val nearOld = oldDocs.orderBy("doc_id").limit(1)
      .select("doc_id", "text").head()
    val toks = nearOld.getString(1).split(" ")
    val batch = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(910000001L,
        toks.dropRight(1).mkString(" "), "en")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val pairs = pipelines.SignatureIndex.refreshPairs(spark, batch, indexDir)
    val plan = pairs.queryExecution.executedPlan.toString
    "FileScan parquet".r.findAllIn(plan).size should be <= 2
    plan should not include "documents.parquet"
    // the lang of the base doc must match for a pair to form at all —
    // only assert when the near-dup is same-lang en
    val baseLang = oldDocs.orderBy("doc_id").limit(1).select("lang").head().getString(0)
    if (baseLang == "en")
      pairs.where(col("doc_old") === nearOld.getLong(0)).count() shouldBe 1L
  }

  test("extend lands a batch partition; subsequent refreshes see it") {
    val d = tempDir("graft_six_ext")
    pipelines.SignatureIndex.buildFrom(spark, oldDocs, sfDir, d)
    pipelines.SignatureIndex.extend(spark, newDocs, d, 1L)
    new java.io.File(s"$d/bands.parquet/batch=1").isDirectory shouldBe true
    new java.io.File(s"$d/bands.parquet/batch=0").isDirectory shouldBe true
    // a re-sent batch doc is now its own 1.0-estimate near-dup
    val echo = newDocs.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 920000000L).as("doc_id"), col("text"), col("lang"))
    val hits = pipelines.SignatureIndex.refreshPairs(spark, echo, d)
    hits.where(col("est_jac") === 1.0).count() should be >= 1L
  }

  test("stamp and geometry guards fail loudly; batch 0 is reserved for build") {
    val bare = tempDir("graft_six_bare")
    val e = intercept[IllegalArgumentException] {
      pipelines.SignatureIndex.refreshPairs(spark, newDocs, bare)
    }
    e.getMessage should include("not a SignatureIndex-written artifact")
    intercept[IllegalArgumentException] {
      pipelines.SignatureIndex.extend(spark, newDocs, indexDir, 0L)
    }
  }
}
