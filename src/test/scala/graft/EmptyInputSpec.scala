package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Empty-input robustness: a 100 TB job routinely sees empty partitions,
  * empty date slices, and freshly-created empty tables. Every operator
  * family must return an empty (or well-defined) result — not throw —
  * when its input tables have zero rows. Schema-preserving empty parquet
  * fixtures are written once per suite. */
class EmptyInputSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty")
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings").foreach { t =>
      Tables.table(spark, sfDir, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: the raw file's zero-row shape (ts is timestamp[us])
    spark.read.parquet(s"$sfDir/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // one representative per family, including every operator with
  // driver-side state (counts, checkpoint loops, broadcast stop lists)
  private val representative = Seq(
    "scan_parquet", "filter_pred", "join_shuffle", "join_asof", "join_salted",
    "agg_hash", "agg_approx_percentile", "win_rank", "sort_multikey",
    "set_union", "fn_explode", "ev_tumbling", "ev_funnel", "ev_stateful",
    "llm_exact_dedup", "llm_jaccard_pairs", "llm_pair_table",
    "llm_contamination", "llm_ngram_jaccard",
    "llm_minhash", "llm_simhash", "llm_cosine_topk", "llm_ann_ivf",
    "llm_embed_neardup", "llm_tfidf", "llm_lang_id", "llm_quality_score",
    "llm_stopword_scrub", "llm_chunk", "llm_dedup_cluster", "llm_split",
    "llm_multimodal_stats", "llm_repetition", "llm_dedup_incremental", "llm_pii_scrub",
    "llm_pack_sequences", "llm_url_extract",
    // round-6 additions (incl. every operator with a window/probe join
    // or a stats broadcast that could misbehave on zero rows)
    "llm_domain_stats", "ev_anomaly", "llm_logprob_score", "dq_histogram",
    "llm_entropy", "llm_mix_weights", "ev_inter_arrival", "llm_span_dedup",
    "dq_drift", "llm_semdedup", "llm_ann_stats", "llm_url_dedup",
    "llm_gopher_rules", "llm_top_ngrams", "ev_active_users", "llm_containment",
    "ev_attribution", "source_text", "llm_code_detect",
    "llm_ccnet_bucket", "llm_domain_cap", "llm_domain_rank", "llm_bigram_score",
    "ev_cohort_ltv", "llm_token_histogram", "llm_mix_apply", "llm_cluster_sizes",
    "dq_freshness",
    // round-8 additions: the bucketed delivery join, the interval join's
    // empty-both-sides left join, and dsir's empty distribution tables
    "join_bucketed", "ev_interval_join", "llm_dsir", "fn_struct",
    "source_binary",
    // round-9 additions: the versioned-sketch trio — empty corpora must
    // yield zero rows, not an EOF from decoding a zero-length sketch
    "agg_hll_partial", "agg_cms_partial",
    // bloom-routed exact dedup (the driver-side head() on the empty
    // corpus must yield the zero filter, not throw) + the two-pass
    // prefix-sum sharder
    "llm_dedup_bloom", "llm_shard_balance",
    // round-9 third-session additions: tokenizer-training collapse,
    // int8 quantization census, multiset set ops, quantile window,
    // deterministic mode, PQ ANN (empty corpus -> empty codebook ->
    // empty ranking)
    "llm_bpe_merges", "llm_embed_quantize", "set_intersect_all",
    "set_except_all", "win_ntile", "agg_mode", "llm_ann_pq",
    // fourth-session additions: two-pass moments / outlier census (empty
    // stats broadcast -> empty join), weighted moments, null-safe join
    "agg_skew_kurt", "agg_weighted", "dq_outliers", "join_nullsafe",
    // fifth-session additions: SCD2 over an empty change stream, the
    // transition matrix's empty normalizer join, BM25's zero-doc corpus
    // stats (avgdl NULL is never evaluated — the tf frame is empty)
    "win_scd2", "ev_markov", "llm_bm25",
    // fifth-session additions: correlation's empty means broadcast,
    // pagerank's empty edge set (the 3-iteration loop over empty frames
    // must not throw), gap-fill's NULL calendar span (sequence(NULL,
    // NULL) -> explode -> zero days)
    "agg_corr", "graph_pagerank", "ev_gap_fill",
    // banded record linkage: empty sides -> empty bucket join
    "join_band",
    // the A/B stat (empty arms -> empty inner join), the rank-formula
    // Gini, and the digit census (no rows -> no digits)
    "agg_ttest", "agg_gini", "dq_benford",
    // RFM over an empty order stream; the seasonal-naive census's empty
    // dense grid (NULL calendar span -> zero days -> zero lag-7 rows)
    "win_rfm", "ev_forecast_sn",
    // the try-family rails and the empty contingency table
    "fn_try", "agg_chisq",
    // hard-negative mining's empty cross join; rank fusion's two empty
    // top-20 frames full-outer-joined
    "llm_hardneg_mine", "llm_rank_fusion",
    // round-10 additions: the materialized-view graph family over an
    // empty fact table (empty parquet views, empty wedge joins), the
    // stream sink whose read-back carries an explicit schema exactly
    // for the zero-row slice, and curriculum's NULL quartile boundaries
    // (no doc ever stages). edges_build/khop/copy_compact are censuses
    // (well-defined non-empty zero rows) — dedicated tests below.
    "graph_degree_hist", "graph_cluster_coeff", "graph_jaccard",
    "sink_stream", "llm_curriculum")

  // graph_triangles is a census: on an empty graph it is ONE well-defined
  // zero row (0 sampled, 0.0 estimate, the fixed pct, 0 kept / 0 total
  // edges), not zero rows — the count aggregate always emits
  test("graph_triangles on an empty graph: the one-row zero census") {
    val rows = SparkEntry.queries("graph_triangles")(spark, emptyDir).collect()
    rows.length shouldBe 1
    rows.head.getLong(0) shouldBe 0L
    rows.head.getDouble(1) shouldBe 0.0
    rows.head.getLong(3) shouldBe 0L
    rows.head.getLong(4) shouldBe 0L
  }

  // graph_edges_build is the build census: one row, zero edges/nodes
  // (avg_degree is NULL — 0·2.0/0 — the honest value for a graph with
  // no nodes)
  test("graph_edges_build on an empty fact table: the one-row zero census") {
    val rows = SparkEntry.queries("graph_edges_build")(spark, emptyDir).collect()
    rows.length shouldBe 1
    rows.head.getLong(0) shouldBe 0L
    rows.head.getLong(1) shouldBe 0L
  }

  // graph_khop is a frontier PROFILE: hops 0..3 always exist; an empty
  // graph reaches zero nodes at every hop
  test("graph_khop on an empty graph: four all-zero frontier rows") {
    val rows = SparkEntry.queries("graph_khop")(spark, emptyDir).collect()
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq((0L, 0L, 0L), (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L))
  }

  // copy_compact is the layout census: one row; an empty upstream slice
  // still compacts to exactly one (schema-only) file
  test("copy_compact on an empty table: the one-row zero-rows census") {
    val rows = SparkEntry.queries("copy_compact")(spark, emptyDir).collect()
    rows.length shouldBe 1
    rows.head.getLong(0) shouldBe 0L               // n_rows
    rows.head.getLong(3) should be >= 1L           // files_compacted
  }

  // agg_bloom_partial probes a FIXED 20-key set per sketch row, so on an
  // empty corpus it is 20 well-defined rows (one zero-sketch merged
  // version, all probes absent), not zero rows like the representative
  // gate expects
  test("agg_bloom_partial on an empty corpus: 20 all-absent probes of the zero sketch") {
    val rows = SparkEntry.queries("agg_bloom_partial")(spark, emptyDir).collect()
    rows.length shouldBe 20
    rows.foreach { r =>
      r.getLong(2) shouldBe 0L // might: the zero sketch contains nothing
      r.getLong(3) shouldBe 0L // present: nothing exists
    }
  }

  representative.foreach { name =>
    test(s"$name returns an empty result on zero-row inputs without throwing") {
      SparkEntry.queries(name)(spark, emptyDir).count() shouldBe 0L
    }
  }

  test("dq_referential on empty tables is the well-defined 7-row zero profile") {
    // like dq_profile: the FK report is a statement ABOUT the schema —
    // empty tables yield all 7 relations with zero counts and the
    // DEFINED 0.0 shares, never x/0 nulls
    val rows = SparkEntry.queries("dq_referential")(spark, emptyDir).collect()
    rows.length shouldBe 7
    rows.foreach { r =>
      r.getLong(1) shouldBe 0L; r.getLong(2) shouldBe 0L
      r.getDouble(3) shouldBe 0.0
      r.getLong(4) shouldBe 0L; r.getLong(5) shouldBe 0L
      r.getDouble(6) shouldBe 0.0
    }
  }

  test("dq_delta between empty versions is the well-defined 6-row zero card") {
    // like dq_profile/dq_referential: the diff card is a statement ABOUT
    // the delivery boundary — empty versions yield one row per column
    // with zero counts and the DEFINED 0.0 rates/delta, never x/0 nulls
    val rows = SparkEntry.queries("dq_delta")(spark, emptyDir).collect()
    rows.length shouldBe 6
    rows.foreach { r =>
      r.getBoolean(3) shouldBe true               // schemas agree
      r.getLong(4) shouldBe 0L; r.getLong(5) shouldBe 0L
      r.getLong(6) shouldBe 0L; r.getLong(7) shouldBe 0L
      r.getDouble(8) shouldBe 0.0; r.getDouble(9) shouldBe 0.0
      r.getDouble(10) shouldBe 0.0
    }
  }

  test("dq_manifest of an empty table is the empty census (no versions shipped)") {
    // an empty source writes NO partition directories — the read-back
    // must see an explicitly-schemaed empty delivery (schema inference
    // over a data-less dir throws) and census it to zero rows: no
    // version was shipped, so no manifest row exists
    SparkEntry.queries("dq_manifest")(spark, emptyDir).count() shouldBe 0L
  }

  test("dq_profile of an empty table is the well-defined 5-row zero profile") {
    // a profile is a statement ABOUT the table, so an empty input yields
    // one row per profiled column (n_rows 0, zero nulls/distincts, NULL
    // bounds) — not an empty frame
    val rows = SparkEntry.queries("dq_profile")(spark, emptyDir).collect()
    rows.length shouldBe 5
    rows.foreach { r =>
      r.getLong(1) shouldBe 0L // n_rows
      r.getLong(2) shouldBe 0L // n_null
      r.getLong(3) shouldBe 0L // n_distinct
      r.isNullAt(4) shouldBe true; r.isNullAt(5) shouldBe true
      r.isNullAt(6) shouldBe true; r.isNullAt(7) shouldBe true
    }
  }
}
