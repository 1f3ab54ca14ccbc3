package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.pipelines.{CorpusPrep, CorpusReportMain}

/** End-to-end invariants of the composed corpus-prep pipeline
  * (clean → exact dedup → near-dup clustering → split). */
class CorpusPrepSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val out = CorpusPrep.run(spark, sfDir).cache()

  test("pipeline keeps a nonempty strict subset and dedups exactly") {
    val nDocs = Tables.documents(spark, sfDir).count()
    val n = out.count()
    n should be > 0L
    n should be < nDocs // fixture contains near-dups, so some must go
    // exact dedup on cleaned text: all surviving texts distinct
    out.select(countDistinct(sha2(col("clean_text").cast("binary"), 256)))
      .head().getLong(0) shouldBe n
  }

  test("every surviving row is its near-dup cluster's min-doc_id representative") {
    out.groupBy("cluster").agg(count(lit(1)).as("k"), min("doc_id").as("m"))
      .where(col("k") =!= 1 || col("m") =!= col("cluster"))
      .count() shouldBe 0L
  }

  test("near-dup clusters equal a driver-side union-find over the jaccard pairs") {
    // Reference components: label = the component's min doc_id, an
    // isolated doc labels itself. These are also the DuckDB oracle's
    // labels whenever its 8 unrolled min-label rounds converge, which
    // they do on the fixture.
    val pairs = queries.Llm.jaccardPairsUnsorted(spark, sfDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should not be empty
    def components(ids: Seq[Long]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        val p = parent(x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      // linking the larger root under the smaller keeps every root its
      // component's min doc_id
      pairs.filter { case (a, b) => parent.contains(a) && parent.contains(b) }
        .foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      ids.map(i => i -> find(i)).toMap
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq

    // llm_dedup_cluster (default collapseExact): every document, with
    // its component's label and size
    val ref = components(ids(Tables.documents(spark, sfDir)))
    val sizes = ref.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    val cl = queries.Extras.llmDedupCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    cl shouldBe ref.map { case (d, l) => d -> (l, sizes(l)) }
    ref.values.toSet.size should be < ref.size // some clusters merge docs

    // CorpusPrep clusters the pairs among the exact-dedup survivors and
    // keeps one row per component: its min doc_id, labelled with itself
    val exact = CorpusPrep.stageFrames(spark, sfDir, stopK = 5, jaccardTheta = 0.8,
      xentMax = None, spanDupMax = None, containMax = None, domainCap = None,
      xentQuantileMax = None, decontamMax = None).toMap.apply("exact_dedup")
    val prepRef = components(ids(exact)).values.toSet.map((l: Long) => (l, l))
    out.select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet shouldBe prepRef
  }

  test("no stopword survives cleaning") {
    val tok = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
    val stops = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(5)
      .collect().map(_.getString(0)).toSet
    val survivorTokens = out
      .select(explode(split(col("clean_text"), " ")).as("t"))
      .where(col("t") =!= "")
      .collect().map(_.getString(0)).toSet
    (survivorTokens & stops) shouldBe empty
  }

  test("CorpusPrepMain CLI writes a split-partitioned corpus with a consistent manifest") {
    val tmp = tempDir("prep_cli")
    val manifest = graft.pipelines.CorpusPrepMain.run(spark, sfDir, tmp)
    manifest should include(""""rows_in":500""")
    // partition pruning must work on the delivered layout
    val train = spark.read.parquet(s"$tmp/documents")
      .where(org.apache.spark.sql.functions.col("split") === "train")
    train.queryExecution.executedPlan.toString should
      include("PartitionFilters: [isnotnull(split")
    val total = spark.read.parquet(s"$tmp/documents").count()
    manifest should include(s""""rows_out":$total""")
    total shouldBe out.count()
  }

  test("sync re-delivery of an appended train-only batch rewrites only split=train") {
    import spark.implicits._
    val tmp = tempDir("prep_sync")
    // v1 = the fixture corpus, copied so v2 can append to it
    Tables.documents(spark, sfDir).write.parquet(s"$tmp/src_v1/documents.parquet")
    val (c1, s1, r1) = graft.pipelines.CorpusPrepMain.sync(spark, s"$tmp/src_v1", s"$tmp/out")
    c1.toSet shouldBe Set("train", "val", "test")
    s1 shouldBe empty
    // v2 appends fresh docs whose md5 bucket lands in TRAIN only, with
    // globally-unique tokens: stop list, old docs' blocks, clusters and
    // clean_text are all unaffected, so val/test content is unchanged
    def bucket(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.substring(0, 6), 16) % 100
    }
    val added = (100001L to 100400L).filter(bucket(_) < 80).take(25)
      .map(id => (id, s"zq${id}a zq${id}b zq${id}c zq${id}d zq${id}e zq${id}f",
        "en", "synth", 0L))
    added.size shouldBe 25
    Tables.documents(spark, sfDir)
      .union(added.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$tmp/src_v2/documents.parquet")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(p: String): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val b = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next(); b(f.getPath.toString) = f.getModificationTime }
      b.toMap
    }
    val before = mtimes(s"$tmp/out/documents")
    val (c2, s2, r2) = graft.pipelines.CorpusPrepMain.sync(spark, s"$tmp/src_v2", s"$tmp/out")
    c2 shouldBe Seq("train") // ONLY the affected split partition rewrote
    s2 shouldBe empty
    r2.rows shouldBe r1.rows + 25
    // val/test partitions kept their delivered files byte-for-byte
    mtimes(s"$tmp/out/documents").filterNot(_._1.contains("split=train"))
      .filterNot(_._1.contains("_SUCCESS")) should equal(
      before.filterNot(_._1.contains("split=train")).filterNot(_._1.contains("_SUCCESS")))
    // and the delivered corpus equals a from-scratch prep of v2
    // (fingerprints verified via the same content-fingerprint combiner)
    val fresh = graft.ops.Lineage.cut(CorpusPrep.run(spark, s"$tmp/src_v2"))
    graft.delivery.Deliver.fingerprint(
      spark.read.parquet(s"$tmp/out/documents")
        .select(fresh.columns.map(org.apache.spark.sql.functions.col): _*)
        .withColumn("split", col("split").cast("string"))) shouldBe
      graft.delivery.Deliver.fingerprint(fresh)
  }

  test("split assignment is the reproducible md5-bucket rule") {
    val bad = out.withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10)").cast("long") % 100)
      .withColumn("expected",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .where(col("split") =!= col("expected"))
    bad.count() shouldBe 0L
  }

  test("LM-quality gate (xentMax) drops high-xent docs before prep, deterministically") {
    val scores = graft.queries.Textops.llmLogprobScore(spark, sfDir)
      .select("doc_id", "xent").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val theta = scores.values.toSeq.sorted.apply(scores.size / 2) // corpus median
    val gated = CorpusPrep.run(spark, sfDir, xentMax = Some(theta))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    gated should not be empty
    // every survivor passed the gate
    gated.foreach(id => scores(id) should be <= theta)
    // the gate actually removed something relative to the ungated prep
    val base = out.select("doc_id").collect().map(_.getLong(0)).toSet
    gated.size should be < base.size
    // reproducible: the gate is a deterministic score threshold, not a sample
    val again = CorpusPrep.run(spark, sfDir, xentMax = Some(theta))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    again shouldBe gated
  }

  test("span-dup gate (spanDupMax) drops later mostly-copied docs, keeps the earliest") {
    import spark.implicits._
    val dir = tempDir("graft_spangate")
    def toks(p: String, a: Int, b: Int) = (a until b).map(i => s"$p$i").mkString(" ")
    val shared = toks("w", 0, 16)
    Seq(
      (0L, shared + " " + toks("a", 0, 16), "en", "s", 0L), // owns the shared chunk
      (1L, shared + " " + toks("b", 0, 16), "en", "s", 0L), // half foreign-owned
      (2L, toks("c", 0, 32), "en", "s", 0L))                // fully novel
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // pairwise token-set jaccard is 16/48 ≈ 0.33 — far below the near-dup
    // floor, so WITHOUT the gate all three survive the whole prep...
    CorpusPrep.run(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
    // ...and the gate at 0.5 drops exactly the later half-copied doc:
    // doc 1's shared chunk is owned by doc 0 (min doc_id), 16/32 ≥ 0.5
    CorpusPrep.run(spark, dir, spanDupMax = Some(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 2L)
  }

  test("containment gate (containMax) drops the contained doc, keeps the container") {
    import spark.implicits._
    val dir = tempDir("graft_contgate")
    def toks(p: String, a: Int, b: Int) = (a until b).map(i => s"$p$i").mkString(" ")
    Seq(
      (0L, toks("w", 0, 10) + " " + toks("x", 0, 20), "en", "s", 0L), // the container
      (1L, toks("w", 0, 10), "en", "s", 0L),                        // fully inside doc 0
      (2L, toks("y", 0, 10), "en", "s", 0L))                        // novel
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // jaccard(0,1) = 10/30 ≈ 0.33 and no 16-token chunk aligns — neither
    // the near-dedup stage nor the span gate sees the quote...
    CorpusPrep.run(spark, dir, spanDupMax = Some(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
    // ...the containment gate drops exactly the CONTAINED doc (not the
    // container, though it has the smaller id — keep-the-container rule)
    CorpusPrep.run(spark, dir, containMax = Some(0.9))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 2L)
  }

  test("per-site cap (domainCap) keeps K lowest ids per domain, composes with the quality gate") {
    import spark.implicits._
    val dir = tempDir("graft_capgate")
    // doc 0 is all-rare (every token a corpus singleton → strictly the
    // highest unigram xent); docs 1-4 are mostly the common token 'the'
    Seq(
      (0L, "q0 q1 q2 q3 https://hot.com/0", "en", "s", 0L),
      (1L, "the the the the u1 https://hot.com/1", "en", "s", 0L),
      (2L, "the the the the u2 https://hot.com/2", "en", "s", 0L), // 3rd hot.com doc
      (3L, "the the the the u3 https://cold.org/x", "en", "s", 0L),
      (4L, "the the the the u4", "en", "s", 0L)) // site-less → exempt
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusPrep.run(spark, dir, domainCap = Some(2))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 3L, 4L)
    // the cap ranks the CURRENT survivor frame: gate doc 0 away first
    // and the freed hot.com slot goes to doc 2 — a raw-table ranking
    // would still burn the slot on the gated doc
    val xentOf = graft.queries.Textops.llmLogprobScore(spark, dir)
      .where(col("doc_id") === 0L).head().getDouble(3)
    CorpusPrep.run(spark, dir, domainCap = Some(2), xentMax = Some(xentOf - 0.0001))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L, 4L)
  }

  test("relative LM gate (xentQuantileMax) cuts each language's own tail, not a global one") {
    import spark.implicits._
    val dir = tempDir("graft_qgate")
    // en has a common-token low tier and an all-singleton high tier; BOTH
    // de docs are all-singleton — every de xent sits above en's low tier,
    // so a global median would wipe the language out; the per-lang median
    // keeps both de docs while still cutting en's tail
    Seq(
      (0L, "the the the the u0", "en", "s", 0L),
      (1L, "the the the the u1", "en", "s", 0L),
      (2L, "the the the the u2", "en", "s", 0L),
      (3L, "r1 r2 r3 r4 r5", "en", "s", 0L),   // en tail
      (4L, "s1 s2 s3 s4 s5", "de", "s", 0L),
      (5L, "s6 s7 s8 s9 s10", "de", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusPrep.run(spark, dir, xentQuantileMax = Some(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L, 4L, 5L)
  }

  test("composed with xentMax, the quantile gate ranks the SURVIVORS, not the raw corpus") {
    import spark.implicits._
    val dir = tempDir("graft_qgate_comp")
    // four en docs with strictly increasing xent (fewer common 'the'
    // tokens → higher surprise): x0 < x1 < x2 < x3. xentMax gates doc 3;
    // the 0.5-quantile must then rank the 3 SURVIVORS (median = x1 →
    // keep docs 0,1). Ranking the raw corpus instead would interpolate
    // the 4-doc median between x1 and x2 and also keep doc 2 (the
    // more-lenient composition ADVICE r6 flagged).
    Seq(
      (0L, "the the the the u0", "en", "s", 0L),
      (1L, "the the the u1 v1", "en", "s", 0L),
      (2L, "the the u2 v2 w2", "en", "s", 0L),
      (3L, "r1 r2 r3 r4 r5", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val x3 = graft.queries.Textops.llmLogprobScore(spark, dir)
      .where(col("doc_id") === 3L).head().getDouble(3)
    // stopK=1 (strip only 'the'): the default 5 exceeds the 4-token
    // survivor vocabulary, cleaning every text to "" and collapsing the
    // survivors in EXACT DEDUP — which would hide the gate under test
    CorpusPrep.run(spark, dir, stopK = 1,
        xentMax = Some(x3 - 0.0001), xentQuantileMax = Some(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L)
  }

  test("decontamination gate (decontamMax) drops leaking train docs, never the benchmark") {
    import spark.implicits._
    val dir = tempDir("graft_decongate")
    def toks(p: String, a: Int, b: Int) = (a until b).map(i => s"$p$i").mkString(" ")
    // md5-bucket split rule: doc_id 2 lands in the test split, 0/1 in
    // train. Doc 0 embeds the whole benchmark doc plus 4 extra tokens:
    // 10 of its 14 trigram shingles are the benchmark's (frac 0.7143);
    // jaccard(0,2) = 12/16 = 0.75 < 0.8 so near-dedup does NOT collapse
    // the pair — exactly the leak the gate exists for.
    val bench = toks("b", 0, 12)
    Seq(
      (0L, bench + " " + toks("a", 0, 4), "en", "s", 0L), // train, leaks
      (1L, toks("c", 0, 16), "en", "s", 0L),              // train, clean
      (2L, bench, "en", "s", 0L))                         // test (benchmark)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusPrep.run(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
    CorpusPrep.run(spark, dir, decontamMax = Some(0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
    // above the measured overlap the leaking doc survives
    CorpusPrep.run(spark, dir, decontamMax = Some(0.72))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
  }

  test("decontamination gate: df-capped boilerplate shingles never count as contamination") {
    import spark.implicits._
    val dir = tempDir("graft_deconcap")
    def toks(p: String, a: Int, b: Int) = (a until b).map(i => s"$p$i").mkString(" ")
    // two train docs (0 and 3) both embed the benchmark text, so each
    // benchmark shingle has train-df 2; with the shared boilerplate cap
    // forced to 1 those shingles are classified boilerplate and count
    // toward a doc's total but never its contamination — both docs
    // survive a gate that would otherwise drop them (and does, at the
    // default cap: same corpus, both dropped).
    val bench = toks("b", 0, 12)
    Seq(
      (0L, bench + " " + toks("a", 0, 4), "en", "s", 0L),
      (3L, bench + " " + toks("d", 0, 4), "en", "s", 0L),
      (2L, bench, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusPrep.run(spark, dir, decontamMax = Some(0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(2L)
    withConf("spark.graft.contamination.maxDf" -> "1") {
      CorpusPrep.run(spark, dir, decontamMax = Some(0.6))
        .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 2L, 3L)
    }
  }

  test("attrition census: active stages in order, counts consistent with the prep itself") {
    import spark.implicits._
    val dir = tempDir("graft_attr")
    def toks(p: String, a: Int, b: Int) = (a until b).map(i => s"$p$i").mkString(" ")
    val bench = toks("b", 0, 12)
    Seq(
      (0L, bench + " " + toks("a", 0, 4), "en", "s", 0L), // train, leaks the benchmark
      (1L, toks("c", 0, 16), "en", "s", 0L),              // train, clean
      (4L, toks("c", 0, 16), "en", "s", 0L),              // exact dup of doc 1
      (2L, bench, "en", "s", 0L))                         // test (benchmark)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val att = CorpusPrep.attrition(spark, dir, decontamMax = Some(0.6))
      .orderBy("stage_no").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // only the ACTIVE stages appear, in pipeline order
    att.map(_._1).toSeq shouldBe
      Seq("input", "exact_dedup", "near_dedup", "decontamination", "final")
    att.map(_._2).toSeq shouldBe att.map(_._2).sorted.reverse // monotone non-increasing
    att.head shouldBe ("input", 4L, 0L, 0.0)
    // doc 4 dies to exact dedup, doc 0 to decontamination
    att.find(_._1 == "exact_dedup").get._3 shouldBe 1L
    att.find(_._1 == "decontamination").get shouldBe ("decontamination", 2L, 1L, 0.25)
    // the census agrees with what run() actually delivers
    att.last._2 shouldBe CorpusPrep.run(spark, dir, decontamMax = Some(0.6)).count()
    // the CLI report mirrors the same numbers as one JSON line
    val line = graft.pipelines.CorpusPrepMain.attritionReport(spark, dir, decontamMax = Some(0.6))
    line should include(""""stage":"decontamination","rows":2,"dropped":1""")
  }

  test("corpus report datasheet is consistent with the operators it composes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_card")
    val good = (1 to 60).map(i => s"word$i").mkString(" ")
    Seq(
      (0L, good, "en", "s", 0L),
      (1L, good, "en", "s", 0L),  // exact dup of 0
      (2L, "x y", "de", "s", 0L)) // short → fails the gopher gate
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val line = CorpusReportMain.report(spark, dir)
    line should include(""""n_docs":3""")
    line should include(""""n_langs":2""")
    line should include(""""n_tokens":122""")          // 60 + 60 + 2
    line should include(""""exact_dup_docs":1""")      // doc 1 duplicates doc 0
    line should include(""""exact_dup_share":0.3333""")
    line should include(""""gopher_pass_docs":2""")
    line should include(""""langs":{"de":1,"en":2}""")
    // length bins: the two 60-token docs land in bin 48-63, "x y" in 0-15
    line should include(""""len_bins":{"0":1,"48":2}""")
    // cross-check the dup census against llm_exact_dedup itself
    val dupFromOp = queries.Llm.llmExactDedup(spark, dir)
      .agg(org.apache.spark.sql.functions.sum(col("n_dups") - 1)).head().getLong(0)
    line should include(s""""exact_dup_docs":$dupFromOp""")
    // and the length census against llm_token_histogram itself
    val histFromOp = queries.Textops.llmTokenHistogram(spark, dir).collect()
      .map(r => s""""${r.getLong(0)}":${r.getLong(1)}""").mkString(",")
    line should include(s""""len_bins":{$histFromOp}""")
  }

  test("corpus report escapes data-derived JSON string values") {
    // ADVICE r6: lang comes from the data — a quote/backslash/control
    // char must emit a VALID card line, not break the JSON
    import spark.implicits._
    val dir = tempDir("graft_card_esc")
    Seq((0L, "a b c", "e\"n\\x\n", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val line = CorpusReportMain.report(spark, dir)
    line should include(""""langs":{"e\"n\\x\n":1}""")
    // the line must round-trip through a JSON parser: Spark's own
    // from_json over the langs map is the cheapest offline check
    val parsed = spark.range(1).select(
      org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.lit(line),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("langs",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType))))).as("j"))
      .select("j.n_docs", "j.langs").head()
    parsed.getLong(0) shouldBe 1L
    parsed.getMap[String, Long](1).toMap shouldBe Map("e\"n\\x\n" -> 1L)
  }

  test("corpus report on an empty corpus is the well-defined zero card") {
    import spark.implicits._
    val dir = tempDir("graft_card0")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val line = CorpusReportMain.report(spark, dir)
    line shouldBe ("""{"n_docs":0,"n_langs":0,"n_tokens":0,"avg_doc_tokens":0.0,""" +
      """"exact_dup_docs":0,"exact_dup_share":0.0,""" +
      """"gopher_pass_docs":0,"gopher_pass_share":0.0,"len_bins":{},"langs":{}}""")
  }
}
