package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** pipelines.DigestIndex — the artifact form of llm_dedup_bloom's
  * refresh. Pins: (1) refresh(index) is verdict-identical to the
  * hermetic query form; (2) a refresh against an in-memory batch plans
  * exactly ONE file scan — the digest table, never the old corpus;
  * (3) extend is lossless (everything the extended index has seen is
  * dup_exact = 1, novel rows still pass) and fail-loud on in-place
  * writes; (4) unstamped directories are refused; (5) a chain of
  * extends verdicts like a from-scratch build, writes O(batch) digest
  * bytes however large the index, and fails loudly when a generation
  * it lists is gone. */
class DigestIndexSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def bkt(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100

  private lazy val docs =
    Tables.documents(spark, sfDir).withColumn("bucket", bkt(col("doc_id")))
  private lazy val indexDir = {
    val d = tempDir("graft_dix")
    pipelines.DigestIndex.buildFrom(spark, docs.where(col("bucket") < 80), sfDir, d)
    d
  }

  test("refresh(index) ≡ the hermetic query form's verdict") {
    val got = pipelines.DigestIndex
      .refresh(spark, docs.where(col("bucket") >= 80), indexDir)
      .collect().toSeq
    val want = SparkEntry.queries("llm_dedup_bloom")(spark, sfDir).collect().toSeq
    got shouldBe want
  }

  test("refresh over an in-memory batch scans ONE file — the digest table, never the corpus") {
    val known = docs.where(col("bucket") < 80).select("text")
      .limit(1).head().getString(0)
    val batch = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(900000001L, known),
          org.apache.spark.sql.Row(900000002L, "definitely novel text zxqv")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val verdict = pipelines.DigestIndex.refresh(spark, batch, indexDir)
    val plan = verdict.queryExecution.executedPlan.toString
    "FileScan parquet".r.findAllIn(plan).size shouldBe 1
    plan should include("digests.parquet")
    val rows = verdict.collect()
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((900000001L, 1L), (900000002L, 0L)) // known text dup, novel kept
  }

  test("candidate resolution: broadcast probe (no index-side exchange) ≡ forced shuffle join") {
    val batch = docs.where(col("bucket") >= 80)
    val bcast = pipelines.DigestIndex.refresh(spark, batch, indexDir)
    val bplan = bcast.queryExecution.executedPlan.toString
    // sliver ≪ threshold → candidates broadcast, digests stream: no
    // SortMergeJoin, no hashpartitioning exchange on the digest column
    bplan should not include "SortMergeJoin"
    "BroadcastHashJoin".r.findAllIn(bplan).size shouldBe 2
    withConf("spark.graft.dedup.broadcastCandidates" -> "0") {
      val shuffled = pipelines.DigestIndex.refresh(spark, batch, indexDir)
      shuffled.collect().toSeq shouldBe bcast.collect().toSeq
    }
  }

  test("extend is lossless: the extended index flags its whole batch; novel rows still pass") {
    val newBatch = docs.where(col("bucket") >= 80)
    val extended = tempDir("graft_dix_ext")
    pipelines.DigestIndex.extend(spark, newBatch, indexDir, extended)
    // every batch doc (kept or dup) is now indexed → re-refreshing the
    // same batch verdicts dup_exact = 1 everywhere
    val re = pipelines.DigestIndex.refresh(spark, newBatch, extended)
    re.where(col("dup_exact") =!= 1L).count() shouldBe 0L
    // and a genuinely novel doc still routes through to keep = 1
    val novel = newBatch.limit(1)
      .select((col("doc_id") + 500000000L).as("doc_id"),
        concat(col("text"), lit(" zz_novel_tail")).as("text"))
    pipelines.DigestIndex.refresh(spark, novel, extended)
      .head().getLong(2) shouldBe 1L
  }

  test("continuous ingest: foreachBatch refresh→extend over a stream ≡ sequential batch replay") {
    // the firehose shape a 100 TB/day pipeline actually runs: each
    // microbatch verdicts against the index as of the PREVIOUS batch,
    // then rolls the index forward out-of-place — exactly-once dedup
    // state without ever touching historical text. (Within-batch
    // duplicates are the batch's own exact groupBy, by contract.)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_dix_stream")
    val day0 = docs.where(col("bucket") < 80)
    pipelines.DigestIndex.buildFrom(spark, day0, "day0", s"$base/ix_boot")
    val oldTexts = day0.select("text").limit(2).collect().map(_.getString(0))

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    var cur = s"$base/ix_boot"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got ++= pipelines.DigestIndex.refresh(spark, df, cur).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val next = s"$base/ix_$id"
        pipelines.DigestIndex.extend(spark, df, cur, next)
        cur = next
      }.start()
    try {
      mem.addData((1000001L, oldTexts(0)), (1000002L, "novel alpha beta"))
      q.processAllAvailable()
      mem.addData((1000003L, "novel alpha beta"), (1000004L, "novel gamma delta"))
      q.processAllAvailable()
      mem.addData((1000005L, "novel gamma delta"), (1000006L, oldTexts(1)))
      q.processAllAvailable()
    } finally q.stop()

    // sequential truth: a text is dup iff seen in day0 or any EARLIER batch
    val want = Seq(
      (1000001L, 1L, 0L), // day-0 text → dup
      (1000002L, 0L, 1L), // novel
      (1000003L, 1L, 0L), // batch-1 novel, re-sent → dup via extend
      (1000004L, 0L, 1L),
      (1000005L, 1L, 0L), // batch-2 novel, re-sent → dup
      (1000006L, 1L, 0L)) // the other day-0 text
    got.sortBy(_._1).toSeq shouldBe want
  }

  test("extend refuses to write in place; refresh refuses unstamped directories") {
    intercept[IllegalArgumentException] {
      pipelines.DigestIndex.extend(spark,
        docs.where(col("bucket") >= 80), indexDir, indexDir)
    }
    // ADVICE r9: the guard must compare QUALIFIED paths — the same
    // directory under a different spelling (scheme-prefixed, trailing
    // slash) would otherwise pass and mode("overwrite") would destroy
    // the index it is lazily reading from
    val e0 = intercept[IllegalArgumentException] {
      pipelines.DigestIndex.extend(spark,
        docs.where(col("bucket") >= 80), indexDir, "file:" + indexDir)
    }
    e0.getMessage should include("out-of-place")
    intercept[IllegalArgumentException] {
      pipelines.DigestIndex.extend(spark,
        docs.where(col("bucket") >= 80), "file:" + indexDir, indexDir + "/")
    }
    val bare = tempDir("graft_dix_bare")
    val e = intercept[IllegalArgumentException] {
      pipelines.DigestIndex.refresh(spark, docs.limit(1), bare)
    }
    e.getMessage should include("not a DigestIndex-written artifact")
  }

  private def idText(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "text")

  /** Bytes of every data file under `dir` (checksums and stamps excluded). */
  private def dataBytes(dir: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).sum
    finally it.close()
  }

  test("a chain of extends verdicts like a from-scratch buildFrom over the same documents") {
    val base = tempDir("graft_dix_chain")
    val day0 = idText(docs.where(col("bucket") < 40))
    // every batch re-sends a few day-0 texts under new ids, so their
    // digests sit in two generations (the hit set must dedup them)
    val batches = Seq((40, 55), (55, 70), (70, 80)).zipWithIndex.map { case ((lo, hi), k) =>
      idText(docs.where(col("bucket") >= lo && col("bucket") < hi)).union(
        day0.limit(3).select((col("doc_id") + (k + 1) * 1000000L).as("doc_id"), col("text")))
    }
    pipelines.DigestIndex.buildFrom(spark, day0, "day0", s"$base/g0")
    batches.zipWithIndex.foreach { case (b, k) =>
      pipelines.DigestIndex.extend(spark, b, s"$base/g$k", s"$base/g${k + 1}")
    }
    pipelines.DigestIndex.buildFrom(spark, batches.foldLeft(day0)(_ union _), "all", s"$base/full")
    val probe = idText(docs.where(col("bucket") >= 70)).union(
      day0.limit(5).select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
      .union(spark.range(1).select(lit(990000000L).as("doc_id"), lit("novel zq text").as("text")))
    val chained = pipelines.DigestIndex.refresh(spark, probe, s"$base/g3").collect().toSeq
    chained shouldBe pipelines.DigestIndex.refresh(spark, probe, s"$base/full").collect().toSeq
    chained.map(_.getLong(0)).distinct.size shouldBe probe.count() // one verdict a doc
    chained.count(_.getLong(1) == 1L) should be >= 5
    chained.find(_.getLong(0) == 990000000L).get.getLong(2) shouldBe 1L
    withConf("spark.graft.dedup.broadcastCandidates" -> "0") {
      pipelines.DigestIndex.refresh(spark, probe, s"$base/g3").collect().toSeq
    } shouldBe chained
  }

  test("extend writes the same digest bytes for a batch over a 1x and a 4x index; the bloom is stored deflated") {
    val base = tempDir("graft_dix_bytes")
    def copies(k: Int) = (0 until k).map(i => docs.select(
      (col("doc_id") + i * 1000000L).as("doc_id"),
      concat(lit(s"c$i "), col("text")).as("text"))).reduce(_ union _)
    pipelines.DigestIndex.buildFrom(spark, copies(1), "x1", s"$base/x1")
    pipelines.DigestIndex.buildFrom(spark, copies(4), "x4", s"$base/x4")
    val batch = docs.limit(20).select((col("doc_id") + 900000000L).as("doc_id"),
      concat(lit("batch "), col("text")).as("text"))
    pipelines.DigestIndex.extend(spark, batch, s"$base/x1", s"$base/e1")
    pipelines.DigestIndex.extend(spark, batch, s"$base/x4", s"$base/e4")
    val (i1, i4) = (dataBytes(s"$base/x1"), dataBytes(s"$base/x4"))
    i4 should be > 3 * i1 // the index did grow
    val (w1, w4) = (dataBytes(s"$base/e1"), dataBytes(s"$base/e4"))
    w1 should be > 0L
    w4 shouldBe w1
    w4 should be < i1 / 4
    // the stored bitmap is the deflated form of the geometry-sized one
    // (100k items at 1% is ~117 KB raw), here about 500 keys in it
    val bloom = java.nio.file.Files.size(java.nio.file.Paths.get(base, "e1", "_graft_bloom"))
    bloom should be < 117000L / 4
  }

  test("a deleted ancestor generation makes refresh and extend fail loudly, naming it") {
    val base = tempDir("graft_dix_gone")
    pipelines.DigestIndex.buildFrom(spark, idText(docs.where(col("bucket") < 60)), "d0", s"$base/g0")
    pipelines.DigestIndex.extend(spark,
      idText(docs.where(col("bucket") >= 60 && col("bucket") < 80)), s"$base/g0", s"$base/g1")
    val batch = idText(docs.where(col("bucket") >= 80))
    pipelines.DigestIndex.extend(spark, batch, s"$base/g1", s"$base/g2")
    pipelines.DigestIndex.refresh(spark, batch, s"$base/g2").count() shouldBe batch.count()
    queries.Scans.rmRf(new java.io.File(s"$base/g0/digests.parquet"))
    val e = intercept[IllegalArgumentException] {
      pipelines.DigestIndex.refresh(spark, batch, s"$base/g2")
    }
    e.getMessage should include(s"$base/g0/digests.parquet")
    intercept[IllegalArgumentException] {
      pipelines.DigestIndex.extend(spark, batch, s"$base/g2", s"$base/g3")
    }.getMessage should include(s"$base/g0/digests.parquet")
  }

  test("extend refuses to overwrite an ancestor generation of its index") {
    val base = tempDir("graft_dix_anc")
    pipelines.DigestIndex.buildFrom(spark, idText(docs.where(col("bucket") < 80)), "d0", s"$base/g0")
    val batch = idText(docs.where(col("bucket") >= 80))
    pipelines.DigestIndex.extend(spark, batch, s"$base/g0", s"$base/g1")
    intercept[IllegalArgumentException] {
      pipelines.DigestIndex.extend(spark, batch, s"$base/g1", s"$base/g0")
    }.getMessage should include("out-of-place")
  }
}
