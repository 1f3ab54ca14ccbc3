package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** llm_contamination's df-cap (spark.graft.contamination.maxDf) on a
  * synthesized boilerplate-heavy corpus: every doc shares one ubiquitous
  * trigram (the web-footer shape that makes the uncapped test⋈train join
  * quadratic in that shingle's df), plus each test doc shares exactly
  * one genuine trigram with exactly one train doc. The cap must drop
  * ONLY the boilerplate — real contamination survives — and the default
  * cap must be inert (it is the declared oracle contract).
  */
class ContaminationSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val corpus = {
    import spark.implicits._
    // split docs by the SAME md5-bucket rule the operator uses
    val ids = (1L to 300L).toDF("doc_id")
      .withColumn("b",
        expr("conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10)").cast("long") % 100)
    val buckets = ids.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val train = buckets.filter(_._2 < 80).keys.toSeq.sorted
    val test = buckets.filter(_._2 >= 90).keys.toSeq.sorted
    // pair test doc i with train doc i (same 3-token T{k} tail);
    // leftover train docs get unique tails. 7-token docs → 5 trigram
    // shingles each: (BP1,BP2,BP3) boilerplate shared by ALL docs,
    // three SEP{id}-unique middles, and (Tka,Tkb,Tkc) shared only
    // within a pair.
    def text(id: Long, k: Long) = s"BP1 BP2 BP3 SEP$id T${k}a T${k}b T${k}c"
    val rows =
      train.zipWithIndex.map { case (id, i) =>
        val k = if (i < test.size) i.toLong else 100000L + i
        (id, text(id, k), "en", "synth", 0L)
      } ++
      test.zipWithIndex.map { case (id, i) => (id, text(id, i.toLong), "en", "synth", 0L) }
    val dir = tempDir("contam")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, train, test)
  }

  test("default cap is inert: boilerplate shingle joins through (declared oracle semantics)") {
    val (dir, train, test) = corpus
    val out = queries.Textops.llmContamination(spark, dir).collect()
    out.length shouldBe test.size
    // every test doc shares the boilerplate shingle with ALL train docs
    // plus its one genuine partner trigram with its paired train doc
    out.foreach { r =>
      r.getLong(1) shouldBe train.size.toLong // n_train_docs
      r.getLong(2) shouldBe 2L                // n_shared: BP + paired tail
    }
  }

  test("df-cap drops only boilerplate: genuine contamination survives, join input bounded") {
    val (dir, _, test) = corpus
    withConf("spark.graft.contamination.maxDf" -> "50") {
      val out = queries.Textops.llmContamination(spark, dir).collect()
      out.length shouldBe test.size
      out.foreach { r =>
        r.getLong(1) shouldBe 1L // n_train_docs: only the paired doc
        r.getLong(2) shouldBe 1L // n_shared: only the genuine tail trigram
        r.getDouble(3) shouldBe 0.2 +- 1e-9 // 1 of 5 shingles, r4-rounded
      }
    }
  }

  test("dropped-shingle census rides the main job as an observe() metric, no extra count job") {
    val (dir, _, _) = corpus
    // capture the CollectMetrics result through the same listener
    // channel Observed logs from — proves the census is attached to the
    // query (zero extra jobs at plan-build time, r5 verdict item #5)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.")) seen.put(name, row.getLong(0)) }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try withConf("spark.graft.contamination.maxDf" -> "50") {
      // the metric arriving through observedMetrics IS the structural
      // proof: a separate eager count() (the r4/r5 shape) would leave no
      // CollectMetrics node in the query at all. Plan construction still
      // runs the (by-design) eager Lineage.cut of the shingle stream —
      // only the census job is gone.
      val df = queries.Textops.llmContamination(spark, dir)
      df.collect()
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val key = seen.keySet().stream().filter(_.contains("llm_contamination")).findFirst()
      key.isPresent shouldBe true
      seen.get(key.get()) shouldBe 1L // exactly the boilerplate shingle dropped
    } finally spark.listenerManager.unregister(listener)
  }

  test("intern=false audit path (raw string shingles) is output-identical to the interned default") {
    val (dir, _, _) = corpus
    val interned = queries.Textops.llmContamination(spark, dir).collect().toSeq
    withConf("spark.graft.contamination.intern" -> "false") {
      val raw = queries.Textops.llmContamination(spark, dir).collect().toSeq
      raw should contain theSameElementsInOrderAs interned
    }
  }
}
