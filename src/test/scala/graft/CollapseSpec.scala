package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Exact-dedup-first collapse (`spark.graft.dedup.collapseExact`,
  * VERDICT r7 #1b; DEFAULT since round 9 — DedupScale measured it 1.9×
  * on the ×30 dup-heavy stress corpus): on a DUP-HEAVY corpus — the
  * case the knob exists for — clustering over (lang, sha2)-group
  * representatives with expansion must be row-identical to clustering
  * the raw corpus (the identity test pins its baseline to
  * collapse=false explicitly). The synthetic fixture can't pin this
  * (4992/5000 distinct texts), so the spec builds one: every third doc gets two
  * byte-identical extra copies (dup factor 3 on a third of the corpus),
  * plus one identical-text pair under DIFFERENT langs to pin that the
  * collapse groups by (lang, sha2) and never merges across languages. */
class CollapseSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val dupDir: String = {
    val base = tempDir("graft_dup")
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val dups = (1 to 2).map { i =>
      docs.where(col("doc_id") % 3 === 0).select(
        (col("doc_id") + lit(i * n)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
    // identical text, different lang: must stay in separate clusters
    val crossLang = docs.orderBy("doc_id").limit(1).select(
      (col("doc_id") + lit(10 * n)).as("doc_id"),
      col("text"), concat(col("lang"), lit("_x")).as("lang"),
      col("source"), col("n_chars"))
    // two NULL-text docs in one lang: sha2(NULL)=NULL — the collapse
    // must map them to THEMSELVES (token-less singletons on the default
    // path), never group them into one rep (review r8)
    val nullText = docs.orderBy("doc_id").limit(2).select(
      (col("doc_id") + lit(20 * n)).as("doc_id"),
      lit(null).cast("string").as("text"), col("lang"),
      col("source"), col("n_chars"))
    docs.unionAll(dups).unionAll(crossLang).unionAll(nullText)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  test("collapseExact cluster assignment is identical on a dup-heavy corpus (lss)") {
    // base pinned to the UNCOLLAPSED path explicitly — collapse is the
    // default since round 9, so an unset baseline would compare the
    // collapsed path to itself
    val base = withConf("spark.graft.dedup.collapseExact" -> "false") {
      queries.Extras.llmDedupCluster(spark, dupDir).collect()
    }
    base.length should be > 0
    withConf("spark.graft.dedup.collapseExact" -> "true") {
      queries.Extras.llmDedupCluster(spark, dupDir).collect() should equal(base)
    }
  }

  test("collapseExact actually contracts: dup copies share their original's cluster") {
    withConf("spark.graft.dedup.collapseExact" -> "true") {
      val n = Tables.documents(spark, sfDir).count()
      val cl = queries.Extras.llmDedupCluster(spark, dupDir)
      // each injected copy (doc_id = orig + k·n, k=1,2) must carry the
      // same cluster as its original
      val byDoc = cl.select(col("doc_id"), col("cluster"))
      val orig = byDoc.where(col("doc_id") < n && col("doc_id") % 3 === 0)
      (1 to 2).foreach { k =>
        val copies = byDoc.where(col("doc_id") >= k * n && col("doc_id") < (k + 1) * n)
          .select((col("doc_id") - lit(k * n)).as("doc_id"), col("cluster").as("c2"))
        orig.join(copies, "doc_id").where(col("cluster") =!= col("c2"))
          .count() shouldBe 0L
      }
    }
  }

  test("identical text under different langs never merges") {
    withConf("spark.graft.dedup.collapseExact" -> "true") {
      val n = Tables.documents(spark, sfDir).count()
      val cl = queries.Extras.llmDedupCluster(spark, dupDir)
      val xDoc = cl.where(col("doc_id") >= 10 * n).select("cluster").head().getLong(0)
      // the cross-lang twin labels itself (its lang has exactly one doc)
      xDoc should be >= 10 * n
    }
  }
}
