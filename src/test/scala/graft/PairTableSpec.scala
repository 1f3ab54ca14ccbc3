package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** PairTable incremental refresh: yesterday's artifact + only the pairs
  * touching today's batch must equal a full rebuild (in the full-recall
  * blocking regime the fixture is pinned to). */
class PairTableSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def bucketCol(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100

  test("updateIncremental(prev, new batch) equals a full rebuild of the grown corpus") {
    val tmp = tempDir("pt_incr")
    val docs = Tables.documents(spark, sfDir)
    // yesterday's corpus = the old (bucket < 80) docs; today adds the rest
    docs.where(bucketCol(col("doc_id")) < 80)
      .write.parquet(s"$tmp/old/documents.parquet")
    pipelines.PairTable.write(spark, s"$tmp/old", s"$tmp/prev")
    pipelines.PairTable.updateIncremental(
      spark, sfDir, s"$tmp/prev", s"$tmp/merged",
      id => bucketCol(id) >= 80)
    // Compare at the 0.8 OPERATOR threshold. The incremental contract:
    // the TOUCHING-NEW half must be exactly what a full rebuild finds
    // (that's the question the refresh answers); the old-old half is
    // FROZEN to the prev artifact by design — an incremental refresh
    // never revisits yesterday's pairs, and the prev run's blocking may
    // legitimately differ near-threshold from a rebuild's (measured
    // 4820/4822 old-old pairs on this fixture's 400-doc subset — the
    // corpus-dependent-blocking caveat in the scaladoc).
    def bucketOk(a: Long) = { // same rule as bucketCol, host-side
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(a.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5hex.substring(0, 6), 16) % 100 >= 80
    }
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .where(col("jac") >= 0.8)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val merged = norm(spark.read.parquet(s"$tmp/merged"))
    val full = norm(pipelines.PairTable.build(spark, sfDir))
    val prev = norm(spark.read.parquet(s"$tmp/prev"))
    merged.nonEmpty shouldBe true
    // no pair may appear in both prev and the fresh delta (disjoint by
    // the endpoint rule) — a double-write would break consumers
    spark.read.parquet(s"$tmp/merged")
      .groupBy("doc_a", "doc_b").count().where(col("count") > 1)
      .count() shouldBe 0L
    def touchingNew(s: Set[(Long, Long, Double)]) =
      s.filter(p => bucketOk(p._1) || bucketOk(p._2))
    touchingNew(merged) should equal(touchingNew(full)) // exact for the delta
    (merged -- touchingNew(merged)) should equal(prev)  // old-old ≡ prev, untouched
    // and the frozen old-old half may only differ from a rebuild near
    // the blocking margin — pin the bound so a real recall regression
    // (not a 2-pair margin artifact) still fails loudly
    (full -- merged).size should be <= 5
    (merged -- full) shouldBe empty
  }

  test("artifact conf can neither poison the incremental refresh nor serve a foreign corpus") {
    val tmp = tempDir("pt_guard")
    Tables.documents(spark, sfDir).where(bucketCol(col("doc_id")) < 80)
      .write.parquet(s"$tmp/old/documents.parquet")
    pipelines.PairTable.write(spark, s"$tmp/old", s"$tmp/prev")
    def refresh(out: String): Set[(Long, Long, Double)] = {
      pipelines.PairTable.updateIncremental(
        spark, sfDir, s"$tmp/prev", out, id => bucketCol(id) >= 80)
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val clean = refresh(s"$tmp/m_clean")
    withConf("spark.graft.pairs.artifact" -> s"$tmp/prev") {
      // the corpus stamp rejects serving a different dataset dir — the
      // conf is session-global, a foreign artifact must fail loudly
      intercept[IllegalArgumentException] {
        queries.Llm.llmJaccardPairs(spark, sfDir)
      }
      // and the refresh bypasses the conf: without the bypass, the
      // new-endpoint filter over YESTERDAY'S pairs is an empty delta
      // and the artifact silently never learns today's near-dups
      refresh(s"$tmp/m_conf") should equal(clean)
    }
  }

  test("candidate-mode stamp: approximate artifacts never serve the exact contract") {
    val tmp = tempDir("pt_mode")
    val (aKey, cKey) = ("spark.graft.pairs.artifact", "spark.graft.pairs.candidates")
    // build an artifact under the approximate minhash generator
    val approxDirect = withConf(cKey -> "minhash") {
      pipelines.PairTable.write(spark, sfDir, s"$tmp/mh")
      queries.Llm.llmJaccardPairs(spark, sfDir).collect().toSeq
    }
    pipelines.PairTable.readCandMode(spark, s"$tmp/mh") shouldBe "minhash"
    withConf(aKey -> s"$tmp/mh") {
      // a default (exact-contract) session must refuse the approximate table
      val ex = intercept[IllegalArgumentException] {
        queries.Llm.llmJaccardPairs(spark, sfDir)
      }
      ex.getMessage should include("candidates='minhash'")
      // a session declaring the same mode is served, and the artifact
      // read equals the fresh minhash-mode compute (candidate banding is
      // threshold-independent, so the 0.6-floored table re-thresholded
      // at 0.8 is lossless for the 0.8 consumer)
      withConf(cKey -> "minhash") {
        queries.Llm.llmJaccardPairs(spark, sfDir).collect().toSeq should
          equal(approxDirect)
      }
      // mixed-provenance merge: refreshing the minhash-built prev from a
      // rarity session fails loudly instead of mixing halves
      val ex2 = intercept[IllegalArgumentException] {
        pipelines.PairTable.updateIncremental(
          spark, sfDir, s"$tmp/mh", s"$tmp/mixed", id => id > 0L)
      }
      ex2.getMessage should include("mix exact and approximate")
    }
  }

  test("refreshInPlace appends exactly updateIncremental's delta; a re-run after an interrupted refresh changes nothing") {
    val tmp = tempDir("pt_append")
    val (src, art) = (s"$tmp/src", s"$tmp/art")
    val docs = Tables.documents(spark, sfDir)
    val cut = docs.select("doc_id").orderBy("doc_id").collect()
      .map(_.getLong(0)).apply((docs.count() * 3 / 4).toInt)
    docs.where(col("doc_id") < cut).write.parquet(s"$src/documents.parquet")
    pipelines.PairTable.write(spark, src, art)
    pipelines.PairTable.write(spark, src, s"$tmp/prev")
    val wm = pipelines.PairTable.readWatermark(spark, art)
    docs.write.mode("overwrite").parquet(s"$src/documents.parquet")
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def copyDir(from: String, to: String): Unit = org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(from), fs, new org.apache.hadoop.fs.Path(to),
      false, spark.sparkContext.hadoopConfiguration)
    copyDir(art, s"$tmp/crashed")

    pipelines.PairTable.updateIncremental(spark, src, s"$tmp/prev", s"$tmp/merged", id => id > wm)
    pipelines.PairTable.refreshInPlace(spark, src, art)
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val merged = rows(s"$tmp/merged")
    merged.size should be > rows(s"$tmp/prev").size
    rows(art).toSet shouldBe merged.toSet
    rows(art).size shouldBe merged.size // no pair twice
    pipelines.PairTable.readWatermark(spark, art) shouldBe docs.agg(max("doc_id")).head().getLong(0)
    // the artifact keeps its read schema, also through the consumer path
    spark.read.parquet(art).columns.toSeq shouldBe Seq("doc_a", "doc_b", "jac")
    withConf("spark.graft.pairs.artifact" -> art) {
      queries.Llm.jaccardPairsUnsorted(spark, src, None, 4, 5, ignoreArtifact = false)
        .columns.toSeq shouldBe Seq("doc_a", "doc_b", "jac")
    }

    // a run that died after moving its delta in but before the stamp:
    // the delta files are there, the watermark is still the old one,
    // and a half-written stage is left behind
    pipelines.PairTable.refreshInPlace(spark, src, s"$tmp/crashed")
    val stamp = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/crashed/_graft_watermark"), true)
    try stamp.write(wm.toString.getBytes("UTF-8")) finally stamp.close()
    copyDir(s"$tmp/merged", s"$tmp/crashed/_graft_delta")
    pipelines.PairTable.readWatermark(spark, s"$tmp/crashed") shouldBe wm
    pipelines.PairTable.refreshInPlace(spark, src, s"$tmp/crashed")
    rows(s"$tmp/crashed").sortBy(p => (p._1, p._2)) shouldBe rows(art).sortBy(p => (p._1, p._2))
    // and a re-run over a finished refresh adds nothing
    pipelines.PairTable.refreshInPlace(spark, src, art)
    rows(art).sortBy(p => (p._1, p._2)) shouldBe merged.sortBy(p => (p._1, p._2))
  }
}
