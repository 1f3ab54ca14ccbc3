package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Automated form of the ScaleProbe invariant: on an N× corpus of
  * mutually-dissimilar copies (per-copy token translation — no
  * cross-copy duplicates, intra-copy structure preserved), every
  * blocked near-dup operator's pair count must scale LINEARLY with N.
  * Super-linear growth means candidate generation went quadratic; zero
  * or sub-linear means blocking lost recall (both happened in round 2
  * and were invisible to the oracle compare). */
class ScaleLinearitySpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val dirs: (String, String) = {
    val base = tempDir("graft_lin")
    def write(mult: Int, out: String): Unit = {
      val docs = Tables.documents(spark, sfDir)
      val n = docs.count()
      (0 until mult).map { i =>
        docs.select(
          (col("doc_id") + lit(i * n)).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), t -> concat('c$i', t)), ' ')")
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    val (x1, x4) = (s"$base/x1", s"$base/x4")
    write(1, x1); write(4, x4)
    (x1, x4)
  }

  test("llm_jaccard_pairs pair count scales exactly linearly on dissimilar copies") {
    val n1 = queries.Llm.llmJaccardPairs(spark, dirs._1).count()
    val n4 = queries.Llm.llmJaccardPairs(spark, dirs._2).count()
    n1 should be > 0L
    n4 shouldBe 4 * n1
  }

  test("llm_ngram_jaccard pair count scales exactly linearly on dissimilar copies") {
    val n1 = queries.Textops.llmNgramJaccard(spark, dirs._1).count()
    val n4 = queries.Textops.llmNgramJaccard(spark, dirs._2).count()
    n1 should be > 0L
    n4 shouldBe 4 * n1
  }

  test("minhash candidate mode scales linearly within 5% on dissimilar copies") {
    // the approximate candidate generator must inherit the linearity of
    // the exact one: translated copies share no tokens, so no band
    // bucket can span copies and pair counts repeat per copy (within
    // the borderline-flip tolerance of signature thresholding)
    val key = "spark.graft.pairs.candidates"
    withConf(key -> "minhash") {
      val n1 = queries.Llm.llmJaccardPairs(spark, dirs._1).count()
      val n4 = queries.Llm.llmJaccardPairs(spark, dirs._2).count()
      n1 should be > 0L
      n4.toDouble shouldBe (4.0 * n1 +- 0.05 * 4 * n1)
    }
  }

  test("llm_token_histogram is a census: same bins and shares at x4, counts x4") {
    // per-copy token translation preserves every doc's token count, so
    // the length distribution is IDENTICAL across copies — bins and
    // share columns must not move while the counts quadruple
    val h1 = queries.Textops.llmTokenHistogram(spark, dirs._1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    val h4 = queries.Textops.llmTokenHistogram(spark, dirs._2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    h1.length should be > 0
    h4.toSeq shouldBe h1.map(t => (t._1, 4 * t._2, t._3, 4 * t._4, t._5)).toSeq
  }

  test("llm_minhash pair count scales linearly within 5% on dissimilar copies") {
    // the signature-agreement estimate is thresholded, so borderline
    // pairs flip per translated copy — linear within a small tolerance
    val n1 = queries.Sketches.llmMinhash(spark, dirs._1).count()
    val n4 = queries.Sketches.llmMinhash(spark, dirs._2).count()
    n1 should be > 0L
    n4.toDouble shouldBe (4.0 * n1 +- 0.05 * 4 * n1)
  }

  test("llm_tfidf aggregate form emits exactly one row per doc at any scale") {
    // the r7 rewrite swapped the per-doc ranking window for a min_by
    // aggregate; the cardinality contract it must keep is structural —
    // ONE row per document, ×4 docs → exactly ×4 rows with all doc_ids
    // distinct (a blowup here would mean the aggregate leaked the full
    // (doc, term) score frame into the output)
    val t1 = queries.Llm.llmTfidf(spark, dirs._1)
    val t4 = queries.Llm.llmTfidf(spark, dirs._2)
    val n1 = t1.count(); val n4 = t4.count()
    n1 should be > 0L
    n4 shouldBe 4 * n1
    t4.select("doc_id").distinct().count() shouldBe n4
  }

  test("llm_dsir emits exactly one weight row per doc at any scale") {
    // structural cardinality contract of the scoring join + per-doc agg:
    // ×4 docs → exactly ×4 rows, all doc_ids distinct (a blowup would
    // mean the bucket-ratio join leaked the token frame into the output)
    val t1 = queries.Textops.llmDsir(spark, dirs._1)
    val t4 = queries.Textops.llmDsir(spark, dirs._2)
    val n1 = t1.count(); val n4 = t4.count()
    n1 should be > 0L
    n4 shouldBe 4 * n1
    t4.select("doc_id").distinct().count() shouldBe n4
  }

  test("llm_cosine_topk / llm_knn_label aggregate forms stay per-qid bounded at x4 vectors") {
    // the r7 TopKAgg/min_by rewrites changed these queries' shuffle shape
    // (bounded per-group buffers instead of full ranking windows); the
    // guard is that OUTPUT stays exactly 5 rows (top-5) / 1 row (label
    // vote) per query vector even when the brute-force candidate frame
    // grows 16× — replicated vectors with shifted ids, a denser
    // neighborhood, but never more output per qid
    val base = tempDir("graft_lin_knn")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val (x1, x4) = (s"$base/x1", s"$base/x4")
    emb.write.parquet(s"$x1/embeddings.parquet")
    (0 until 4).map(i => emb.select((col("vec_id") + lit(i * n)).as("vec_id"),
        col("embedding"), col("label")))
      .reduce(_ union _).write.parquet(s"$x4/embeddings.parquet")
    val c1 = queries.Llm.llmCosineTopk(spark, x1)
    val c4 = queries.Llm.llmCosineTopk(spark, x4)
    c1.count() shouldBe 5 * n
    c4.count() shouldBe 5 * 4 * n
    c4.groupBy("qid").count().agg(max("count")).head.getLong(0) shouldBe 5L
    val k1 = queries.Llm.llmKnnLabel(spark, x1)
    val k4 = queries.Llm.llmKnnLabel(spark, x4)
    k1.count() shouldBe n
    k4.count() shouldBe 4 * n
    k4.select("qid").distinct().count() shouldBe 4 * n
  }

  test("round-5/6 per-doc operators scale row-exactly on dissimilar copies") {
    // pack_sequences, url_extract and domain_stats are projection/window
    // shapes — one output row per doc (or per domain bucket): any
    // super-linear growth would mean an accidental join crept in
    val p1 = queries.Textops.llmPackSequences(spark, dirs._1).count()
    val p4 = queries.Textops.llmPackSequences(spark, dirs._2).count()
    p4 shouldBe 4 * p1
    val u1 = queries.Webops.llmUrlExtract(spark, dirs._1).count()
    val u4 = queries.Webops.llmUrlExtract(spark, dirs._2).count()
    u4 shouldBe 4 * u1
    // logprob_score: one row per doc; the LM itself is corpus-global but
    // the output cardinality must stay exactly per-doc
    val l1 = queries.Textops.llmLogprobScore(spark, dirs._1).count()
    val l4 = queries.Textops.llmLogprobScore(spark, dirs._2).count()
    l4 shouldBe 4 * l1
    // the translated corpora are URL-free, so every doc lands in the
    // '<none>' bucket on both sides — one row, 4× the docs inside it
    val d1 = queries.Webops.llmDomainStats(spark, dirs._1).head()
    val d4 = queries.Webops.llmDomainStats(spark, dirs._2).head()
    d1.getString(0) shouldBe "<none>"
    d4.getLong(1) shouldBe 4 * d1.getLong(1)
    d4.getLong(2) shouldBe 4 * d1.getLong(2)
    // entropy: per-doc, and translation (a token bijection) preserves
    // each doc's count distribution, so the ENTROPY VALUES themselves
    // must survive the copy — not just the row count
    val e1 = queries.Textops.llmEntropy(spark, dirs._1)
      .select("entropy").collect().map(_.getDouble(0)).sorted
    val e4 = queries.Textops.llmEntropy(spark, dirs._2)
      .select("entropy").collect().map(_.getDouble(0)).sorted
    e4.length shouldBe 4 * e1.length
    e4.toSeq shouldBe (e1 ++ e1 ++ e1 ++ e1).sorted.toSeq
    // span_dedup: copies are mutually dissimilar (translated chunks
    // can't collide across copies), so per-copy dup structure repeats
    // exactly — dup row counts scale linearly, never quadratically
    val s1 = queries.Textops.llmSpanDedup(spark, dirs._1)
    val s4 = queries.Textops.llmSpanDedup(spark, dirs._2)
    s4.count() shouldBe 4 * s1.count()
    val sd1 = s1.agg(sum("n_dup_chunks")).head.getLong(0)
    val sd4 = s4.agg(sum("n_dup_chunks")).head.getLong(0)
    sd4 shouldBe 4 * sd1
    // gopher_rules: pure per-doc projection; every copy's prefix is the
    // same 2 chars ('c0'…'c3'), so word lengths — and therefore the rule
    // verdicts — repeat exactly per copy: pass count scales with rows
    val g1 = queries.Textops.llmGopherRules(spark, dirs._1)
    val g4 = queries.Textops.llmGopherRules(spark, dirs._2)
    g4.count() shouldBe 4 * g1.count()
    g4.agg(sum("pass")).head.getLong(0) shouldBe 4 * g1.agg(sum("pass")).head.getLong(0)
    // url_dedup: translated corpora are URL-free — no accidental keys
    queries.Webops.llmUrlDedup(spark, dirs._2).count() shouldBe 0L
    // containment: copies are mutually dissimilar (no cross-copy shared
    // tokens), so the prefix-filter candidate set — and the pair count —
    // must repeat exactly per copy; super-linear growth would mean the
    // probe join leaked across copies
    val c1 = queries.Llm.llmContainment(spark, dirs._1).count()
    val c4 = queries.Llm.llmContainment(spark, dirs._2).count()
    c1 should be > 0L
    c4 shouldBe 4 * c1
  }

  test("ccnet bucketing / domain cap / domain rank hold their shape on dissimilar copies") {
    // ccnet_bucket: per-copy token translation keeps every token's count
    // (tokens live in one copy), so the ×4 corpus scales N and V by
    // exactly 4 → every doc's xent shifts by exactly +log2(4) = +2 (an
    // exact power-of-2 scaling). The tercile STRUCTURE must therefore be
    // identical with 4× the docs per bucket and avg_xent shifted by +2
    // up to the per-doc r4 grain (libm's log2(x/4) vs log2(x)−2 differ
    // in the last ulp, which can flip one doc's 4th decimal) — any
    // larger change means the cutoffs leaked across copies or the LM
    // went non-linear
    val b1 = queries.Textops.llmCcnetBucket(spark, dirs._1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val b4 = queries.Textops.llmCcnetBucket(spark, dirs._2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    b4.keySet shouldBe b1.keySet
    b1.foreach { case (k, (n1, avg1)) =>
      // ±8 docs = two boundary flips (all 4 clones of a cutoff-tied doc
      // move together); a leak across copies would shift whole terciles
      b4(k)._1.toDouble shouldBe (4.0 * n1) +- 8.0
      b4(k)._2 shouldBe (avg1 + 2.0) +- 0.001
    }
    // every doc still lands in exactly one bucket: per-lang totals are exact
    b1.keys.map(_._1).toSeq.distinct.foreach { lang =>
      b4.collect { case ((l, _), (n, _)) if l == lang => n }.sum shouldBe
        4 * b1.collect { case ((l, _), (n, _)) if l == lang => n }.sum
    }
    // domain_cap: the translated corpora are URL-free — every doc is
    // site-less, the cap exempts all of them, output stays one row per doc
    val c1 = queries.Webops.llmDomainCap(spark, dirs._1)
    val c4 = queries.Webops.llmDomainCap(spark, dirs._2)
    c4.count() shouldBe 4 * c1.count()
    c4.where(!col("kept")).count() shouldBe 0L
    // domain_rank: a URL-free corpus is the single isolated '<none>'
    // node at any scale — rank mass is size-invariant
    val r1s = queries.Webops.llmDomainRank(spark, dirs._1).collect()
    val r4s = queries.Webops.llmDomainRank(spark, dirs._2).collect()
    r1s.map(r => (r.getString(0), r.getDouble(2))).toSeq shouldBe Seq(("<none>", 1.0))
    r4s.map(r => (r.getString(0), r.getDouble(2))).toSeq shouldBe Seq(("<none>", 1.0))
  }

  test("llm_cluster_sizes census is size-distribution-invariant on dissimilar copies") {
    // translated copies share no tokens → no cross-copy pairs → each
    // copy's cluster structure repeats exactly: at ×4 every size bucket
    // holds 4× the clusters and docs while doc_share (a ratio) must not
    // move at all. A leak across copies would merge clusters and shift
    // mass into bigger buckets; a recall loss would shift it into
    // size-1. (VERDICT r6 #6 — the round-6 heavy addition.)
    val c1 = queries.Extras.llmClusterSizes(spark, dirs._1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val c4 = queries.Extras.llmClusterSizes(spark, dirs._2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    c1.keySet.max should be > 1L // the fixture really has near-dup clusters
    c4.keySet shouldBe c1.keySet
    c1.foreach { case (sz, (ncl, ndoc, share)) =>
      c4(sz)._1 shouldBe 4 * ncl
      c4(sz)._2 shouldBe 4 * ndoc
      c4(sz)._3 shouldBe share
    }
  }

  test("dq_referential censuses scale linearly in the child side, shares invariant") {
    // ×4 the CHILD rows of one relation (lineitem duplicated in place,
    // FKs unchanged): the pre-agg-before-join design must report 4× the
    // child/orphan counts at IDENTICAL shares/coverage for lineitem
    // relations and byte-identical rows for every other relation — the
    // row-linearity check for the round-6 heavy addition (VERDICT r6 #6).
    val base = tempDir("graft_lin_ref")
    val (x1, x4) = (s"$base/x1", s"$base/x4")
    val tables = Seq("lineitem", "orders", "customer", "nation",
      "part", "supplier", "region")
    tables.foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      df.write.parquet(s"$x1/$t.parquet")
      (if (t == "lineitem") Seq.fill(4)(df).reduce(_ union _) else df)
        .write.parquet(s"$x4/$t.parquet")
    }
    def rows(d: String) = queries.Extras.dqReferential(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    val (r1, r4x) = (rows(x1), rows(x4))
    r4x.keySet shouldBe r1.keySet
    r1.foreach { case (rel, (nc, no, os, np, nph, cov)) =>
      if (rel.startsWith("lineitem->"))
        r4x(rel) shouldBe ((4 * nc, 4 * no, os, np, nph, cov))
      else r4x(rel) shouldBe ((nc, no, os, np, nph, cov))
    }
  }

  test("dq_delta censuses scale linearly per version, rates invariant") {
    // ×4 the orders rows in place (keys unchanged → every row keeps its
    // md5 version bucket): both versions' row and null counts must
    // quadruple at IDENTICAL rates/delta and identical schema columns —
    // the row-linearity check for the round-7 addition
    val base = tempDir("graft_lin_delta")
    val (x1, x4) = (s"$base/x1", s"$base/x4")
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    df.write.parquet(s"$x1/orders.parquet")
    Seq.fill(4)(df).reduce(_ union _).write.parquet(s"$x4/orders.parquet")
    def rows(d: String) = queries.Extras.dqDelta(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getDouble(8), r.getDouble(9), r.getDouble(10)))).toMap
    val (r1, r4x) = (rows(x1), rows(x4))
    r4x.keySet shouldBe r1.keySet
    r1.foreach { case (c, (np, nn, zp, zn, rp, rn, dlt)) =>
      withClue(c) {
        r4x(c) shouldBe ((4 * np, 4 * nn, 4 * zp, 4 * zn, rp, rn, dlt))
      }
    }
  }

  test("pair-table incremental refresh of an appended translated copy adds exactly the copy's pairs") {
    // x2 = x1 (copy c0, original ids) + a translated copy c1 with ids
    // above x1's max: the watermark-ruled refresh must compute ONLY the
    // new copy's intra-pairs (translation preserves jaccard structure,
    // so the delta count equals x1's own pair count) and freeze the
    // old-old half to the prior artifact byte-for-byte
    val base = tempDir("graft_lin_inc")
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    def copyDf(i: Int) = docs.select(
      (col("doc_id") + lit(i * n)).as("doc_id"),
      expr(s"array_join(transform(split(text, ' '), t -> concat('c$i', t)), ' ')").as("text"),
      col("lang"), col("source"), col("n_chars"))
    copyDf(0).write.parquet(s"$base/x1/documents.parquet")
    pipelines.PairTable.write(spark, s"$base/x1", s"$base/art")
    val prev = spark.read.parquet(s"$base/art").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    prev.nonEmpty shouldBe true
    val wm = pipelines.PairTable.readWatermark(spark, s"$base/art")
    // grow the corpus in place and refresh through the watermark rule
    copyDf(0).union(copyDf(1))
      .write.mode("overwrite").parquet(s"$base/x1/documents.parquet")
    pipelines.PairTable.refreshInPlace(spark, s"$base/x1", s"$base/art")
    val merged = spark.read.parquet(s"$base/art").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oldOld = merged.filter { case (a, b, _) => a <= wm && b <= wm }
    val delta = merged -- oldOld
    oldOld shouldBe prev                  // yesterday's verdicts frozen
    delta.size shouldBe prev.size         // exactly the copy's own pairs
    delta.foreach { case (a, b, _) => math.max(a, b) should be > wm }
  }

  test("large-star/small-star solves a 64-chain dup graph in O(log d) rounds (min-label would need 63)") {
    // the high-diameter case min-label propagation cannot afford: a
    // chain 0-1-2-…-63 has diameter 63, so min-label needs 63 rounds to
    // pull label 0 to the far end — the oracle's 8 unrolled rounds
    // would leave it wrong. Large-star/small-star contracts the
    // chain toward a star and must land every node on label 0 in ≤7
    // rounds (VERDICT r3 #7's done-bar).
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = ops.ConnectedComponents.largeStarSmallStar(chain)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.keySet shouldBe (0L to 63L).toSet
    out.values.toSet shouldBe Set(0L)
    info(s"large-star/small-star rounds on 64-chain: $rounds")
    rounds should be <= 7
  }

  test("large-star/small-star handles degenerate graphs: empty, self-loop-only, single edge") {
    // a self-loop-only graph collapses to ZERO edges after cleaning; the
    // convergence check must treat the empty set as the fixpoint instead
    // of comparing a NULL hash-sum (NPE found by review, round 4)
    import spark.implicits._
    val selfOnly = Seq((5L, 5L), (9L, 9L)).toDF("src", "dst")
    val (l1, r1) = ops.ConnectedComponents.largeStarSmallStar(selfOnly)
    l1.count() shouldBe 0L
    r1 shouldBe 1
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    ops.ConnectedComponents.largeStarSmallStar(empty)._1.count() shouldBe 0L
    val one = Seq((7L, 3L)).toDF("src", "dst")
    val (l3, _) = ops.ConnectedComponents.largeStarSmallStar(one)
    l3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((7L, 3L), (3L, 3L))
  }

  test("graph family output volumes scale exactly linearly on shifted-key copies (the graphStress rule)") {
    // in-suite guard for what GraphScale measures manually: k copies of
    // lineitem with BOTH keys shifted are k independent co-purchase
    // graph populations, so pagerank's node frame must be exactly k×
    // and the triangle census's edge totals exactly k× — super-linear
    // edge growth means the pair expansion leaked across copies,
    // sub-linear means the distinct collapsed them
    val base = tempDir("graft_glin")
    def write(mult: Int, out: String): Unit = {
      val li = Tables.lineitem(spark, sfDir)
      (0 until mult).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(i * 100000000L))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    val (x1, x4) = (s"$base/x1", s"$base/x4")
    write(1, x1); write(4, x4)
    val p1 = queries.Graphs.graphPagerank(spark, x1).count()
    val p4 = queries.Graphs.graphPagerank(spark, x4).count()
    p1 should be > 0L
    p4 shouldBe 4 * p1
    val t1 = queries.Graphs.graphTriangles(spark, x1).collect().head
    val t4 = queries.Graphs.graphTriangles(spark, x4).collect().head
    t4.getLong(4) shouldBe 4 * t1.getLong(4) // edges_total
    // the md5 sparsifier keys on (src, dst), which SHIFT per copy, so
    // kept-edge counts are NOT exactly 4x — but they must stay in the
    // Bernoulli band around 4x (a quadratic leak would blow far past it)
    t4.getLong(3).toDouble shouldBe (4.0 * t1.getLong(3)) +- (3 * 4 * t1.getLong(3) * 0.25)
  }
}
