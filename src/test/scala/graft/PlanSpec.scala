package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.queries.{Joins, Scans, Sorts}

/** Physical-plan assertions (SURVEY.md §4): the scale-critical plan
  * properties must hold, not just the results. */
class PlanSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Auto-broadcast off (the 100 TB regime: no side fits in memory), so
    * a pinned broadcast is the query's own hint, not a size estimate. */
  private def autoBroadcastOff[T](f: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  test("scan_pruned pushes the shipdate predicate and prunes columns") {
    val plan = planOf(Scans.scanPruned(spark, sfDir))
    plan should include("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate")
    plan should include("ReadSchema")
    // only the 4 selected columns reach the reader
    plan should not include "l_returnflag"
  }

  test("join_broadcast compiles to BroadcastHashJoin") {
    planOf(Joins.joinBroadcast(spark, sfDir)) should include("BroadcastHashJoin")
  }

  test("join_shuffle degrades to SortMergeJoin when neither side broadcasts") {
    // at fixture scale Spark rightly auto-broadcasts tiny orders; the
    // scale-relevant property is the large-large fallback plan
    autoBroadcastOff {
      planOf(Joins.joinShuffle(spark, sfDir)) should include("SortMergeJoin")
    }
  }

  test("limit_topk compiles to TakeOrderedAndProject (no global sort)") {
    planOf(Sorts.limitTopk(spark, sfDir)) should include("TakeOrderedAndProject")
  }

  test("graph consumers read the materialized view, never the fact table; jaccard top-20 is TakeOrdered") {
    // the materialized-view posture's plan pin: after the first touch
    // builds the parquet views, every graph consumer's scan set is view
    // files only — re-deriving the edge set from lineitem inside a
    // consumer would reintroduce the 2.4× family cost the round-10
    // BASELINE A/B measured. (graph_edges_build and pagerank's deg pass
    // are the deliberate exceptions: build scans the fact table by
    // definition.)
    queries.Graphs.queries("graph_triangles")(spark, sfDir).collect()
    for (q <- Seq("graph_triangles", "graph_degree_hist",
                  "graph_cluster_coeff", "graph_jaccard", "graph_khop")) {
      val plan = planOf(queries.Graphs.queries(q)(spark, sfDir))
      // no fact-table scan anywhere; view reads appear either as a
      // gview_ parquet scan in-plan or as an RDD leaf when a
      // Lineage.cut consumed the view at construction time
      plan should not include "lineitem"
    }
    planOf(queries.Graphs.queries("graph_triangles")(spark, sfDir)) should
      include("gview_")
    planOf(queries.Graphs.queries("graph_jaccard")(spark, sfDir)) should
      include("TakeOrderedAndProject")
  }

  test("join_nullsafe plans EqualNullSafe as a hash join key, not a nested loop") {
    // the scale property behind the operator: <=> is a coalesced
    // equi-key, so the null-matching join keeps the broadcast-hash
    // shape — a BroadcastNestedLoopJoin here would be O(n·|dim|)
    val plan = planOf(Joins.joinNullsafe(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "NestedLoop"
  }

  test("the two-pass moment/outlier stats rejoins broadcast at any corpus size") {
    // agg_skew_kurt and dq_outliers broadcast their |groups|-row stats
    // frame back over the fact scan by explicit hint — pinned with
    // auto-broadcast off so the shape cannot silently degrade to a
    // corpus-wide SortMergeJoin when the planner's size estimate drifts
    autoBroadcastOff {
      val p1 = planOf(queries.Aggs.aggSkewKurt(spark, sfDir))
      val p2 = planOf(queries.Extras.dqOutliers(spark, sfDir))
      p1 should include("BroadcastHashJoin")
      p1 should not include "SortMergeJoin"
      p2 should include("BroadcastHashJoin")
      p2 should not include "SortMergeJoin"
    }
  }

  test("partitioned copy enables partition pruning on read-back") {
    val tmp = tempDir("graft_prune")
    Tables.lineitem(spark, sfDir)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(s"$tmp/li")
    val plan = planOf(spark.read.parquet(s"$tmp/li")
      .where(org.apache.spark.sql.functions.col("l_returnflag") === "A")
      .select("l_orderkey"))
    // the returnflag predicate must prune directories, not filter rows
    plan should include("PartitionFilters: [isnotnull(l_returnflag")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    // the 100 TB lever for repeated fact-fact joins: bucket both sides on
    // the join key at write time, the join then needs NO Exchange
    val s = spark // warehouse dir is a static conf, set in SparkFixture
    // through the delivery surface, so the pinned plan is the one the
    // product's bucketed delivery actually produces
    graft.delivery.Deliver.copyBucketed(
      s, s"$sfDir/lineitem.parquet", "li_b", "l_orderkey", 8)
    graft.delivery.Deliver.copyBucketed(
      s, s"$sfDir/orders.parquet", "o_b", "o_orderkey", 8)
    try autoBroadcastOff {
      val joined = s.table("li_b").join(s.table("o_b"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = planOf(joined)
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("join_bucketed's own join is exchange-free (query-level pin)") {
    // the query writes through Deliver.copyBucketed and joins the two
    // catalog tables; with auto-broadcast off (the 100 TB regime — no
    // side fits in memory) the plan must be SMJ with NO Exchange on
    // either side. A regression here (bucket-count mismatch, a select
    // that drops the bucket spec) would silently reintroduce the
    // repeated-shuffle cost the operator exists to remove.
    autoBroadcastOff {
      val plan = planOf(Joins.joinBucketed(spark, sfDir))
      plan should include("SortMergeJoin")
      // the agg above the join re-shuffles by o_orderstatus (expected);
      // assert no exchange BELOW the join by checking the join inputs
      val joinIdx = plan.indexOf("SortMergeJoin")
      plan.substring(joinIdx) should not include "Exchange"
    }
  }

  test("near-dup signature rejoins are shuffle joins, never per-document broadcasts") {
    // sigs/sets are one row PER DOCUMENT — broadcasting them is O(corpus)
    // and OOMs at 100 TB. The merge hints must pin SMJ on both rejoins.
    val mh = planOf(queries.Sketches.llmMinhash(spark, sfDir))
    mh should include regex "SortMergeJoin \\[doc_a"
    mh should include regex "SortMergeJoin \\[doc_b"
    val jp = planOf(queries.Llm.llmJaccardPairs(spark, sfDir))
    jp should include regex "SortMergeJoin \\[doc_a"
    jp should include regex "SortMergeJoin \\[doc_b"
    val ng = planOf(queries.Textops.llmNgramJaccard(spark, sfDir))
    ng should include regex "SortMergeJoin \\[doc_a"
    ng should include regex "SortMergeJoin \\[doc_b"
  }

  test("sharded band self-join: equi-join on bucket+cell keys, hot-bucket list broadcasts") {
    // the candidate join must stay a hash/merge EQUI-join on
    // (band, bkey, lang, p, q) — a nested-loop fallback would be the
    // quadratic shape sharding exists to prevent — and the oversized-
    // bucket annotation must reach the banded frame as a BROADCAST left
    // join (shuffling the banded frame to annotate it would defeat the
    // no-extra-shuffle design of ShardedSelfJoin)
    for (q <- Seq(queries.Sketches.llmMinhash(spark, sfDir),
                  queries.Sketches.llmSimhash(spark, sfDir))) {
      val plan = planOf(q)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      plan should include("BroadcastHashJoin") // bucket-size annotation
    }
  }

  test("sharded blocking self-joins (jaccard family) stay equi-joins — no cartesian fallback") {
    // round-5 shape: rarity/min-shingle blocking routes through
    // ShardedSelfJoin with carried nt (+ incremental's cattr); the
    // candidate join must remain a hash/merge equi-join on
    // (block key, lang, p, q), and the carried-column filters must not
    // degrade it to a nested-loop join
    for (q <- Seq(queries.Llm.llmJaccardPairs(spark, sfDir),
                  queries.Llm.llmPairTable(spark, sfDir),
                  queries.Textops.llmNgramJaccard(spark, sfDir),
                  queries.Extras.llmDedupIncremental(spark, sfDir))) {
      val plan = planOf(q)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }
  }

  test("llm_quality_score / llm_lang_id derive top-K vocab via TakeOrderedAndProject") {
    // global Window.orderBy (no partitionBy) would funnel the whole
    // vocabulary through one task; orderBy+limit is per-partition top-K
    planOf(queries.Extras.llmQualityScore(spark, sfDir)) should
      include("TakeOrderedAndProject")
    planOf(queries.Extras.llmLangId(spark, sfDir)) should
      include("TakeOrderedAndProject")
  }

  test("ev_user_path global top-20 compiles to TakeOrderedAndProject") {
    planOf(queries.Events.evUserPath(spark, sfDir)) should
      include("TakeOrderedAndProject")
  }

  test("llm_embed_neardup joins on the IVF bucket — no cartesian product") {
    val plan = planOf(queries.Extras.llmEmbedNeardup(spark, sfDir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("llm_semdedup joins on the IVF cell — no cartesian product") {
    val plan = planOf(queries.Extras.llmSemdedup(spark, sfDir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("ev_interval_join is an equi-join on user_id with the time bound as a join filter") {
    // the scale property (VERDICT r8 #5): the 10-minute interval must
    // ride the user_id equi-join as a FILTER — per-user bounded work —
    // never demote to a time-theta NestedLoop/cartesian that crosses
    // every purchase with every click. With auto-broadcast off (the
    // 100 TB regime) the plan is SMJ keyed on user_id, each side
    // shuffled exactly once on that key.
    autoBroadcastOff {
      val plan = planOf(queries.Events.evIntervalJoin(spark, sfDir))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      plan should include regex "SortMergeJoin \\[user_id"
      // both time bounds sit in the join condition (one SMJ line), not
      // in a post-join filter over an exploded product
      val joinLine = plan.linesIterator.find(_.contains("SortMergeJoin")).get
      joinLine should include("(cts")
      // exactly one hash exchange per join side: user_id partitions the
      // purchases and the clicks once each (the post-join groupBy keys
      // on event_id/user_id/... and the final orderBy add their own,
      // different, exchanges — count only the user_id-keyed ones)
      "Exchange hashpartitioning\\(user_id".r
        .findAllMatchIn(plan).size shouldBe 2
    }
  }

  test("llm_dsir's bucket-ratio table reaches the scoring join as a broadcast at any corpus size") {
    // the DSIR scale claim (VERDICT r8 #5): the ratio table is ≤B=4096
    // rows BY CONSTRUCTION (the hash bounds the feature space), so the
    // token-stream scoring join must be a BroadcastHashJoin on b — an
    // SMJ here would shuffle the whole exploded token stream a second
    // time. Auto-broadcast is disabled to prove the explicit broadcast()
    // hint carries the plan, not a size estimate that stops holding
    // when the corpus (and Spark's stats) grow.
    autoBroadcastOff {
      val plan = planOf(queries.Textops.llmDsir(spark, sfDir))
      plan should include regex "BroadcastHashJoin \\[b"
      plan should not include "SortMergeJoin"
      plan should not include "CartesianProduct"
    }
  }

  test("llm_gopher_rules is a shuffle-free single-pass projection") {
    // the whole gate must compile to scan → project → sort (the output
    // order): any Exchange means the higher-order-function formulation
    // regressed into an explode+agg shape. The final orderBy's range
    // shuffle is the ONLY allowed exchange.
    val plan = planOf(queries.Textops.llmGopherRules(spark, sfDir))
    plan should not include "hashpartitioning"
  }

  test("llm_top_ngrams global top-20 compiles to TakeOrderedAndProject") {
    planOf(queries.Textops.llmTopNgrams(spark, sfDir)) should
      include("TakeOrderedAndProject")
  }

  test("llm_ccnet_bucket buckets via a broadcast cutoff join — never a per-lang ranking window") {
    // the scale point of the operator: a per-lang ntile window would
    // funnel each language through one task's sort; the cutoff plan has
    // NO Window node at all, and the 2-doubles-per-lang cuts frame
    // reaches the docs as a broadcast hash join
    val plan = planOf(queries.Textops.llmCcnetBucket(spark, sfDir))
    plan should not include "Window"
    plan should include("BroadcastHashJoin")
  }

  test("dq_delta is two census scans — no window, no per-row join, 1×1 combine only") {
    // the diff card must stay a conditional-agg pass per side combined at
    // one row each: a Window or SortMergeJoin means a per-row formulation
    // crept in; the only join is the broadcast 1×1 combine of the two
    // census rows
    val plan = planOf(queries.Extras.dqDelta(spark, sfDir))
    plan should not include "Window"
    plan should not include "SortMergeJoin"
    plan should include("BroadcastNestedLoopJoin")
  }

  test("llm_domain_rank iterations are equi-join shuffles — no cartesian fallback") {
    // the 1-row dangling/total frames are broadcast crossjoins by
    // construction (bounded-by-contract); the edges⋈ranks joins must
    // stay hash equi-joins — a CartesianProduct means a join key was lost
    planOf(queries.Webops.llmDomainRank(spark, sfDir)) should
      not include "CartesianProduct"
  }

  test("minhash candidate mode keeps the sharded equi-join shape end to end") {
    // the approximate generator must inherit the exact one's plan
    // discipline: banded candidates through ShardedSelfJoin (equi-join,
    // hot-bucket broadcast annotation), scoring via merge SMJs — never
    // a cartesian/nested-loop fallback
    val key = "spark.graft.pairs.candidates"
    withConf(key -> "minhash") {
      val plan = planOf(queries.Llm.llmJaccardPairs(spark, sfDir))
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      plan should include("BroadcastHashJoin") // bucket-size annotation
    }
  }

  test("llm_mix_apply broadcasts the weight table; llm_token_histogram aggregates pre-window") {
    // mix_apply: the ≤langs-row weight frame must reach the docs as a
    // broadcast hash join (shuffling the corpus to meet 5 rows would be
    // the wrong shape at any scale); no cartesian anywhere
    val plan = planOf(queries.Textops.llmMixApply(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // token_histogram: the cumulative window must run over the
    // AGGREGATED ≤20-row frame — a Window whose child is the raw scan
    // would sort the corpus; the plan has exactly one aggregate below
    // the window and the broadcast total join
    val hPlan = planOf(queries.Textops.llmTokenHistogram(spark, sfDir))
    hPlan should include("Window")
    hPlan should include("BroadcastNestedLoopJoin") // 1-row total crossJoin, bounded
  }

  test("llm_cosine_topk selects top-5 via a partial aggregate, not a ranking window") {
    // the TopKAgg rewrite's plan contract: the 4M-row cross-join output
    // is reduced map-side (ObjectHashAggregate partial → final), never
    // shuffled wholesale into a per-qid sort — no Window in the plan
    val plan = planOf(queries.Llm.llmCosineTopk(spark, sfDir))
    plan should include("ObjectHashAggregate")
    plan should not include "Window"
  }

  test("top-1-per-group queries aggregate with min_by, not a ranking window") {
    // VERDICT r6 #4: token_stats / tfidf / knn_label pick one row per
    // group — a min_by((payload), (-score, tiebreak)) aggregate gets
    // map-side partial combine; the window form shuffled the full
    // grouped frame into per-group sorts
    planOf(queries.Llm.llmTokenStats(spark, sfDir)) should not include "Window"
    planOf(queries.Llm.llmTfidf(spark, sfDir)) should not include "Window"
    planOf(queries.Llm.llmKnnLabel(spark, sfDir)) should not include "Window"
  }

  test("rarity blocking and containment prefixes select via a partial aggregate, not a ranking window") {
    // VERDICT r6 #3: the 4-rarest-token (and nt/10+1-prefix) selection
    // must never shuffle+sort the whole distinct token stream. The
    // blocking subtrees live under a Lineage.cut (localCheckpoint), so
    // the full-query plan can't see them — pin the extracted stage
    // builders directly: ObjectHashAggregate (MinKAgg partial → final),
    // no Window node anywhere in the stage.
    import org.apache.spark.sql.functions.{col, count, lit}
    val tok = queries.Llm.tokensDistinct(spark, sfDir)
    val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val ntDf = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val bPlan = planOf(queries.Llm.rarityBlocked(tok, dfTok, ntDf))
    bPlan should include("ObjectHashAggregate")
    bPlan should not include "Window"
    val tokDf = tok.join(dfTok, "token").join(ntDf, "doc_id")
      .where(col("df") <= 1000)
    val pPlan = planOf(queries.Llm.probePrefix(tokDf))
    pPlan should include("ObjectHashAggregate")
    pPlan should not include "Window"
  }

  test("llm_bpe_merges: bounded top-50, and the pair stage aggregates the vocab, not the corpus") {
    val plan = planOf(queries.Textops.llmBpeMerges(spark, sfDir))
    // top-50 must be TakeOrderedAndProject (bounded per-partition heap),
    // never a global Sort + Limit over the full pair table
    plan should include("TakeOrderedAndProject")
    plan should not include "Window"
    // both collapses are hash aggregates with a partial (map-side) phase:
    // the word-count shuffle carries one row per distinct word per
    // partition, the pair-count shuffle one row per distinct pair
    "HashAggregate".r.findAllMatchIn(plan).size should be >= 4
  }

  test("llm_embed_quantize's scale table reaches the error join as a broadcast at any corpus size") {
    // the per-dim absmax table is ≤ model-width rows BY CONSTRUCTION —
    // the rejoin must be a BroadcastHashJoin on dim even when size stats
    // say otherwise (auto-broadcast off = the 100 TB regime); an SMJ
    // here would shuffle the exploded value stream a second time
    autoBroadcastOff {
      val plan = planOf(queries.Llm.llmEmbedQuantize(spark, sfDir))
      plan should include regex "BroadcastHashJoin \\[dim"
      plan should not include "SortMergeJoin"
      plan should not include "CartesianProduct"
    }
  }

  test("win_scd2's two windows share one exchange and one sort") {
    // the scale property: the change filter preserves the lag window's
    // (o_custkey) partitioning and (eff_date, o_orderkey) order, so the
    // lead window adds NO second exchange or sort — a regression here
    // doubles the operator's shuffle volume. Allowed exchanges: the one
    // o_custkey hashpartitioning + the final output-order range shuffle.
    val plan = planOf(queries.Windows.winScd2(spark, sfDir))
    "hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan.sliding("Window".length).count(_ == "Window") shouldBe 2
    // exactly two sorts: the window sort + the output orderBy
    "\\+- Sort ".r.findAllIn(plan).size shouldBe 2
  }

  test("llm_bm25 top-20 compiles to TakeOrderedAndProject; corpus stats broadcast") {
    // the scale shape: the final selection must never sort the full
    // per-doc score frame, and the 1-row corpus stats / |Q|-row df
    // tables must reach the scoring join as broadcasts
    val plan = planOf(queries.Llm.llmBm25(spark, sfDir))
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastExchange")
  }

  test("graph_triangles' wedge join is pure equi-join algebra — no nested loop") {
    // the scale property: the triangle closure must run as hash/SMJ
    // equi-joins on edge endpoints — a CartesianProduct there is O(E²)
    // row comparisons and dies at web scale long before the wedge
    // volume does. The two census crossJoins (edges_kept, edges_total —
    // both lazy 1-row aggregates) are the repo's declared bounded
    // exception (BroadcastNestedLoopJoin over a 1-row build side), so
    // at most two nested-loops are allowed and they must be the
    // broadcast form.
    val plan = planOf(queries.Graphs.graphTriangles(spark, sfDir))
    plan should not include "CartesianProduct"
    "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).size should be >= 2
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 2
  }

  test("ev_gap_fill reads the corpus exactly once: the grid derives from the cut daily frame") {
    // one corpus-sized scan (the daily aggregate, materialized via
    // Lineage.cut); span, type roster, calendar grid, and the fill join
    // must all flow from that bounded frame — a second parquet scan of
    // events in the final plan means the densification re-read the
    // corpus
    val plan = planOf(queries.Events.evGapFill(spark, sfDir))
    plan should include("ExistingRDD")
    plan should not include "Scan parquet"
  }

  test("join_band's banded construction is hash-join algebra, never a nested loop") {
    // the whole point of the operator: a no-equi-key inequality join
    // re-expressed as a bucket equi-join + exact refine — the plan must
    // show a hash join on the bucket id and no O(N·M) fallback
    val plan = planOf(queries.Joins.joinBand(spark, sfDir))
    plan should not include "CartesianProduct"
    plan should not include "NestedLoop"
    "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size should be >= 1
  }

  test("llm_sample_topk's draw compiles to TakeOrderedAndProject (distributed reservoir)") {
    // the scale shape: the k smallest md5 ranks come from per-partition
    // k-row heaps, never a full sort of the corpus — a regression to a
    // global Sort + Limit turns a 100 TB one-pass draw into a full
    // corpus sort
    planOf(queries.Extras.llmSampleTopk(spark, sfDir)) should
      include("TakeOrderedAndProject")
  }

  test("ev_cdc_apply's two windows share the one user_id exchange") {
    // the MERGE-shape pin: row_number and the changelog-depth count run
    // over the same partitioning, so the compaction is ONE shuffle (plus
    // the output-order range exchange); a second hashpartitioning means
    // the window specs drifted apart and the changelog shuffles twice
    val plan = planOf(queries.Events.evCdcApply(spark, sfDir))
    "hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("hot paths stay inside WholeStageCodegen") {
    // AQE hides codegen stages in executedPlan.toString; use codegen explain
    import org.apache.spark.sql.execution.CodegenMode
    Joins.joinShuffle(spark, sfDir).queryExecution.explainString(CodegenMode) should
      include("WholeStageCodegen")
    Scans.scanPruned(spark, sfDir).queryExecution.explainString(CodegenMode) should
      include("WholeStageCodegen")
  }
}
