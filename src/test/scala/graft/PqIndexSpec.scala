package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** pipelines.PqIndex — the ANN artifact. Pins: (1) search over an index
  * built from the fixture ≡ the in-query llm_ann_pq output row-for-row
  * (the artifact hop — pack → parquet → nested-table lookup — must be
  * lossless); (2) extend encodes against the STORED codebook so
  * extended-index search ≡ a from-scratch index of the union trained on
  * the SAME batch-0 corpus; (3) the search plan streams the codes with
  * the query tables broadcast — no SMJ, no per-(sub, code) shuffle;
  * (4) stamp/geometry guards fail loudly. */
class PqIndexSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val vecs = Tables.embeddings(spark, sfDir)
  private lazy val indexDir = {
    val d = tempDir("graft_pqix")
    pipelines.PqIndex.build(spark, sfDir, d)
    d
  }
  private def queries10 = vecs.where(col("vec_id") < 10)

  test("search ≡ the in-query llm_ann_pq, row for row") {
    val viaIndex = pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
      .collect().toSeq
    val inQuery = queries.Sketches.llmAnnPq(spark, sfDir).collect().toSeq
    viaIndex should not be empty
    viaIndex shouldBe inQuery
  }

  test("extend encodes against the stored codebook; search sees both batches") {
    // split the fixture: batch 0 = vec_id < 70% cut, batch 1 = rest
    val cut = vecs.agg(expr("percentile(vec_id, 0.7)")).head().getDouble(0).toLong
    val oldV = vecs.where(col("vec_id") <= cut)
    val newV = vecs.where(col("vec_id") > cut)
    val d = tempDir("graft_pqx2")
    pipelines.PqIndex.buildFrom(spark, oldV, sfDir, d)
    pipelines.PqIndex.extend(spark, newV, d, batchId = 1L)
    val got = pipelines.PqIndex.search(spark, queries10, d, k = 3).collect().toSeq
    // truth: one index whose codebook was trained on the SAME batch-0
    // corpus, but with all vectors encoded at build time
    val dAll = tempDir("graft_pqx3")
    val (m, k, iters) = (16, 64, 2)
    graft.functions.VectorExprs.register(spark)
    val svOld = graft.ops.Lineage.cut(queries.Sketches.Pq.subvectors(oldV, m))
    val cb = queries.Sketches.Pq.train(svOld, k, iters, m)
    // write the truth index by hand: stored codebook + both batches
    cb.coalesce(1).write.mode("overwrite").parquet(s"$dAll/codebook.parquet")
    queries.Sketches.Pq.assign(
        graft.ops.Lineage.cut(queries.Sketches.Pq.subvectors(vecs, m)), cb)
      .groupBy("vec_id")
      .agg(expr("transform(sort_array(collect_list(struct(sub, code))), t -> t.code)").as("codes"))
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite").parquet(s"$dAll/codes.parquet")
    // stamps (copy the real writer's contract)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dAll, "_graft_geom"), s"$m:$k:$iters")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dAll, "_graft_corpus"), sfDir)
    val truth = pipelines.PqIndex.search(spark, queries10, dAll, k = 3).collect().toSeq
    got should not be empty
    got shouldBe truth
    // and the extended index really holds two batch partitions
    new java.io.File(s"$d/codes.parquet/batch=0").isDirectory shouldBe true
    new java.io.File(s"$d/codes.parquet/batch=1").isDirectory shouldBe true
    // a retried extend overwrites exactly itself (idempotent)
    pipelines.PqIndex.extend(spark, newV, d, batchId = 1L)
    val again = pipelines.PqIndex.search(spark, queries10, d, k = 3).collect().toSeq
    again shouldBe got
  }

  test("re-extending a batch with CHANGED content leaves no ghost rows (review r10)") {
    // batch 1 first lands with a wide vector slice, then is retried
    // with a much smaller, different slice: under plain dynamic
    // overwrite the (batch, cell) leaves absent from the retry kept
    // their old rows — search returned ghosts. The batch subtree drop
    // must make the retry authoritative for the whole batch.
    val cut = vecs.agg(expr("percentile(vec_id, 0.7)")).head().getDouble(0).toLong
    val oldV = vecs.where(col("vec_id") <= cut)
    val d = tempDir("graft_pqretry")
    pipelines.PqIndex.buildFrom(spark, oldV, sfDir, d)
    pipelines.PqIndex.extend(spark, vecs.where(col("vec_id") > cut), d, 1L)
    // the corrected batch: only a handful of the batch-1 vectors
    val corrected = vecs.where(col("vec_id") > cut && col("vec_id") % 7 === 0)
    pipelines.PqIndex.extend(spark, corrected, d, 1L)
    val stored = spark.read.parquet(s"$d/codes.parquet")
      .where(col("batch") === 1L).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = corrected.select("vec_id").collect().map(_.getLong(0)).toSet
    stored shouldBe expected
  }

  test("the search plan streams the codes — query tables broadcast, no SMJ") {
    val plan = pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin") // the bounded ≤nq-row product
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan should not include "Window"
  }

  test("continuous ingest: foreachBatch search→extend over a vector stream ≡ sequential replay") {
    // the firehose shape of a streaming embedding pipeline: each
    // microbatch is ANN-searched against the index as of the PREVIOUS
    // batch, then encoded and appended — the codebook never retrains,
    // verdicts depend only on ingest order. Equivalence oracle: the
    // same batches replayed through the same API in a plain loop.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_pq_stream")
    val boot = vecs.where(col("vec_id") < 300)
    val ixStream = s"$base/ix_s"; val ixLoop = s"$base/ix_l"
    pipelines.PqIndex.buildFrom(spark, boot, "day0", ixStream)
    pipelines.PqIndex.buildFrom(spark, boot, "day0", ixLoop)
    // three batches of later fixture vectors; batch 2 clones a batch-1
    // vector under a new id, so its nearest MUST be the batch-1 id at
    // the self-quantization distance — proof the extend is visible
    val later = vecs.where(col("vec_id") >= 300)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b1 = later.slice(0, 5)
    val b2 = later.slice(5, 10)
    val b3 = Array((900000001L, b1(0)._2)) ++ later.slice(10, 14)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got ++= pipelines.PqIndex.search(spark, df, ixStream, k = 1).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        pipelines.PqIndex.extend(spark, df, ixStream, id + 1)
      }.start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
      mem.addData(b3.toSeq); q.processAllAvailable()
    } finally q.stop()

    // sequential truth through the same API
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      val df = b.toSeq.toDF("vec_id", "embedding")
      want ++= pipelines.PqIndex.search(spark, df, ixLoop, k = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      pipelines.PqIndex.extend(spark, df, ixLoop, i + 1L)
    }
    got.sortBy(_._1).toSeq shouldBe want.sortBy(_._1).toSeq
    // the cloned vector found its batch-1 original
    val clone = got.find(_._1 == 900000001L).get
    clone._2 shouldBe b1(0)._1
  }

  test("a shifted-id corpus trains a DENSE codebook; search ≡ the dense-id build modulo the shift") {
    // ADVICE r9: seeding codes from `vec_id < k` yields a SPARSE code
    // set when ids don't densely cover [0, K) — positional ADC lookup
    // then reads the wrong cells. The seed-rank remap must make any id
    // space train the SAME codebook (rank order is shift-invariant), so
    // search results are identical modulo the id offset.
    val off = 5000000L
    val shifted = vecs.select((col("vec_id") + off).as("vec_id"),
      col("embedding"), col("label"))
    val d = tempDir("graft_pq_shift")
    pipelines.PqIndex.buildFrom(spark, shifted, "shifted", d)
    val cb = spark.read.parquet(s"$d/codebook.parquet")
    cb.groupBy("sub").agg(max("code").as("mx"), countDistinct("code").as("nc"))
      .where(col("mx") =!= col("nc") - 1).count() shouldBe 0L
    val got = pipelines.PqIndex.search(spark,
        queries10.select((col("vec_id") + off).as("vec_id"), col("embedding")),
        d, k = 3)
      .collect().toSeq
      .map(r => (r.getLong(0) - off, r.getLong(1) - off, r.getDouble(2), r.getLong(3)))
    val want = pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    got should not be empty
    got shouldBe want
  }

  test("ivf search: probe-limited candidates, exact-subset ADC, recall floor vs flat") {
    // flat is the exhaustive-truth arm: every candidate scanned, exact
    // integer ADC. The ivf composition must (a) return a SUBSET of the
    // pairs flat could see, with IDENTICAL distances on every pair it
    // keeps (codes are codebook-absolute — the candidate set shrinks,
    // the math doesn't change), and (b) at radius 2 (7 of 8 cells at 3
    // bits) hold a high recall floor vs flat's top-3.
    val flat = pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = withConf("spark.graft.pq.search" -> "ivf",
                       "spark.graft.ann.probeRadius" -> "2") {
      pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    ivf should not be empty
    // distances agree exactly on the intersection
    ivf.keySet.intersect(flat.keySet).foreach { p =>
      ivf(p) shouldBe flat(p)
    }
    val recall = ivf.keySet.intersect(flat.keySet).size.toDouble / flat.size
    info(f"ivf-PQ recall@3 vs flat-PQ = $recall%.3f over ${flat.size} pairs")
    recall should be >= 0.60 // measured floor at sf0.001, radius 2
    // radius 0 probes the query's own cell only — the candidate shrink
    // must be REAL: the code table must hold rows in cells the radius-0
    // probe set excludes (top-k output size is always k·|queries|, so
    // the shrink shows in the scanned candidates, not the result rows)
    val bits = java.nio.file.Files.readString(
      java.nio.file.Paths.get(indexDir, "_graft_ivf")).trim.toInt
    val r0cells = queries10
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(queries.Ann.cellExpr(bits).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val excluded = spark.read.parquet(s"$indexDir/codes.parquet")
      .where(!col("cell").isin(r0cells: _*)).count()
    excluded should be > 0L
    // and the radius-0 results still carry exact flat distances on
    // every pair both modes keep
    val r0 = withConf("spark.graft.pq.search" -> "ivf",
                      "spark.graft.ann.probeRadius" -> "0") {
      pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    r0.keySet.intersect(flat.keySet).foreach { p => r0(p) shouldBe flat(p) }
    // and the scan really prunes at the partition level: the pruned
    // relation's chosen files all sit under probe-cell directories
    val plan = withConf("spark.graft.pq.search" -> "ivf",
                        "spark.graft.ann.probeRadius" -> "0") {
      pipelines.PqIndex.search(spark, queries10, indexDir, k = 3)
        .queryExecution.executedPlan.toString
    }
    plan should include("PartitionFilters")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("ivf search over an extended index: extend stamps cells under the STORED bits") {
    val cut = vecs.agg(expr("percentile(vec_id, 0.7)")).head().getDouble(0).toLong
    val d = tempDir("graft_pqivfx")
    pipelines.PqIndex.buildFrom(spark, vecs.where(col("vec_id") <= cut), sfDir, d)
    // a DIFFERENT live conf at extend time must not leak into the cell
    // stamp — cells come from _graft_ivf, or batch-1 vectors would land
    // in cells the search probe geometry can't reach
    withConf("spark.graft.ann.bits" -> "4") {
      pipelines.PqIndex.extend(spark, vecs.where(col("vec_id") > cut), d, 1L)
    }
    val got = withConf("spark.graft.pq.search" -> "ivf",
                       "spark.graft.ann.probeRadius" -> "2") {
      pipelines.PqIndex.search(spark, queries10, d, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // batch-1 ids are reachable: at least one neighbour above the cut
    got.exists(_._2 > cut) shouldBe true
    // an ivf search against an index with no _graft_ivf stamp fails loud
    val legacy = tempDir("graft_pqleg")
    spark.read.parquet(s"$indexDir/codebook.parquet")
      .write.parquet(s"$legacy/codebook.parquet")
    spark.read.parquet(s"$indexDir/codes.parquet").drop("cell")
      .withColumn("batch", lit(0L)).write.partitionBy("batch")
      .parquet(s"$legacy/codes.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(legacy, "_graft_geom"), "16:64:2")
    val e = intercept[Exception] {
      withConf("spark.graft.pq.search" -> "ivf") {
        pipelines.PqIndex.search(spark, queries10, legacy, k = 3).collect()
      }
    }
    e.getMessage should include("_graft_ivf")
  }

  test("an unstamped dir and a foreign geometry both fail loudly") {
    val empty = tempDir("graft_pqe")
    val e1 = intercept[Exception] {
      pipelines.PqIndex.search(spark, queries10, empty)
    }
    e1.getMessage should include("_graft_geom")
    val e2 = intercept[Exception] {
      pipelines.PqIndex.extend(spark, queries10, indexDir, batchId = 0L)
    }
    e2.getMessage should include("batchId")
  }
}
