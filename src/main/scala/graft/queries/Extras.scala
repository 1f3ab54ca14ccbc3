package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** Training-data-pipeline extras beyond SURVEY §2.10's original list
  * (declared in SURVEY §2.12): language-ID, quality scoring, document
  * fingerprinting, IVF-style ANN, embedding near-dup. All oracle-checked.
  *
  * Scale notes: every operator is explode → bounded-cardinality agg →
  * (window | broadcast join); nothing is quadratic except the
  * bucket-restricted ANN candidates (that restriction IS the point of
  * IVF), and language model tables (vocab × langs) are broadcast-sized
  * by construction.
  */
object Extras {

  private def tokensWithLang(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))

  /** llm_lang_id's model vocabulary cap (top-K tokens by corpus
    * frequency): bounds the broadcast model table at K × n_langs. */
  private val LangIdVocabK = 65536

  /** llm_lang_id — self-trained naive-Bayes unigram language ID:
    * score(doc, L) = ln P(L) + Σ_tokens ln P(token|L) with add-1
    * smoothing; prediction = argmax (rounded score, then lang asc — the
    * rounding makes the argmax engine-independent). */
  val llmLangId: Q = (s, d) => {
    val tok = tokensWithLang(s, d)
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val langs = docs.groupBy(col("lang").as("cl")).agg(count(lit(1)).as("docs_l"))
    // cap the model vocabulary at the top-K tokens by corpus frequency
    // (TakeOrderedAndProject, deterministic tie-break on token): the
    // broadcast model table below is then bounded at K × n_langs rows
    // regardless of corpus size — a web-scale corpus has an unbounded
    // unigram vocabulary, and an uncapped model table would blow past
    // broadcast limits. OOV tokens simply don't contribute to scores
    // (standard capped-vocab naive Bayes). Fixture vocab (31) << K, so
    // the cap is semantics-neutral for the oracle.
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("vcnt"))
      .orderBy(col("vcnt").desc, col("token")).limit(LangIdVocabK)
      .select("token")
    val vn = vocab.agg(count(lit(1)).as("v"))
    val clt = tok.groupBy(col("lang").as("cl"), col("token")).agg(count(lit(1)).as("c_lt"))
    val cLang = tok.groupBy(col("lang").as("cl")).agg(count(lit(1)).as("c_l"))
    val grid = vocab.crossJoin(langs.select("cl"))
      .join(clt, Seq("token", "cl"), "left")
      .na.fill(0L, Seq("c_lt"))
    val logp = grid.join(broadcast(cLang), "cl").crossJoin(broadcast(vn))
      .select(col("token"), col("cl"),
        log((col("c_lt") + lit(1.0)) / (col("c_l") + col("v"))).as("lp"))
    val prior = langs.crossJoin(broadcast(nDocs))
      .select(col("cl"), log(col("docs_l") * lit(1.0) / col("n_docs")).as("lprior"))
    val scores = tok.join(broadcast(logp), "token")
      .join(broadcast(prior), "cl")
      .groupBy(col("doc_id"), col("cl"), col("lprior"))
      .agg(r4(col("lprior") + sum("lp")).as("score"))
    // best language per doc via min_by under (score desc, cl asc) — the
    // top-1 aggregate discipline (llm_token_stats/llm_knn_label family):
    // cl is unique per (doc_id, cl) group and score is r4'd BEFORE
    // selection, so the order is strict and the winner row-identical to
    // the former ranking window, without the per-doc sort shuffle of the
    // docs×languages score frame.
    // NaN guard (ADVICE r7): the replaced orderBy(score.desc) ranked NaN
    // FIRST (Spark's total order treats NaN as largest), but -NaN is
    // still NaN and sorts LAST under struct ordering — so map NaN to
    // -Infinity in negated space to keep the NaN-first contract (TopKAgg
    // pins the same order). score is a log-prob sum (finite negative on
    // any real input; -Infinity only if a probability underflows to 0),
    // so -score can never legitimately be -Infinity and the sentinel
    // cannot collide with a real key.
    scores.groupBy("doc_id")
      .agg(min_by(col("cl"), struct(
        when(isnan(col("score")), lit(Double.NegativeInfinity))
          .otherwise(-col("score")).as("ns"), col("cl"))).as("pred_lang"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred_lang"))
      .orderBy("doc_id")
  }

  /** llm_quality_score — per-doc quality features: token count, avg token
    * length, type-token ratio, stopword ratio (stopwords = corpus top-5
    * tokens), and a fixed-weight composite. */
  val llmQualityScore: Q = (s, d) => {
    val tok = tokensWithLang(s, d)
    // top-5 by orderBy+limit → TakeOrderedAndProject: per-partition top-5
    // then a 5-row merge on the driver. (A Window.orderBy with no
    // partitionBy would funnel the whole distinct vocabulary through one
    // task — the canonical web-scale single-partition trap.)
    val stop = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(5)
      .select(col("token"), lit(1).as("is_stop"))
    val perDoc = tok.join(broadcast(stop), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        r4(sum(length(col("token"))) * lit(1.0) / count(lit(1))).as("avg_len"),
        r4(countDistinct("token") * lit(1.0) / count(lit(1))).as("ttr"),
        r4(sum(coalesce(col("is_stop"), lit(0))) * lit(1.0) / count(lit(1))).as("swr"))
    perDoc
      .withColumn("quality", r4(lit(0.4) * col("ttr") + lit(0.4) * (lit(1.0) - col("swr"))
        + lit(0.2) * least(col("avg_len") / 10.0, lit(1.0))))
      .orderBy("doc_id")
  }

  /** llm_curriculum — curriculum construction for training delivery:
    * stage docs by quality QUARTILE (stage 1 = lowest quality … stage 4
    * = highest — the anneal-up schedule curriculum-learning recipes
    * feed a trainer), round-robin shards within each stage, and emit
    * the per-(stage, shard) manifest (docs, tokens, quality stats) a
    * dataloader consumes.
    *
    * Scale shape: staging is NOT a global ntile window (ranking the
    * corpus through one partition is the web-scale trap win_ntile
    * documents) — the three quartile boundaries are ONE bounded
    * aggregate broadcast back as a 1-row frame, and each doc stages by
    * comparison, so the plan is two corpus scans of the cut quality
    * frame and zero corpus-sized sorts. At 100 TB the exact percentile
    * swaps for approx_percentile/t-digest (documented, same shape).
    * Determinism: boundaries are r4'd (identical IEEE interpolation of
    * r4'd inputs in both engines, then the same grid rounding), so the
    * <= staging comparisons agree engine-to-engine; quality ties at a
    * boundary all land in the same stage by construction. */
  val llmCurriculum: Q = (s, d) => {
    val q = graft.ops.Lineage.cut(llmQualityScore(s, d)
      .select("doc_id", "n_tok", "quality"))
    val bounds = q.agg(
      r4(expr("percentile(quality, 0.25)")).as("b1"),
      r4(expr("percentile(quality, 0.5)")).as("b2"),
      r4(expr("percentile(quality, 0.75)")).as("b3"))
    q.crossJoin(broadcast(bounds))
      .withColumn("stage",
        when(col("quality") <= col("b1"), 1)
          .when(col("quality") <= col("b2"), 2)
          .when(col("quality") <= col("b3"), 3)
          .otherwise(4).cast("long"))
      .withColumn("shard", col("doc_id") % 4)
      .groupBy("stage", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tok"),
        r4(sumR8(col("quality")) / count(lit(1))).as("mean_quality"),
        min("quality").as("min_q"), max("quality").as("max_q"))
      .orderBy("stage", "shard")
  }

  /** llm_fingerprint — rolling 3-gram shingle fingerprint: md5 every token
    * trigram, keep the lexicographic minimum (min-hash of shingles; md5 is
    * engine-independent so this one IS oracle-checkable). */
  val llmFingerprint: Q = (s, d) => {
    val tp = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "t")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    tp.withColumn("t1", lead("t", 1).over(w))
      .withColumn("t2", lead("t", 2).over(w))
      .where(col("t2").isNotNull)
      .select(col("doc_id"),
        md5(concat_ws(" ", col("t"), col("t1"), col("t2")).cast("binary")).as("sh"))
      .groupBy("doc_id")
      .agg(min("sh").as("fp"), count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")
  }

  // IVF coarse quantizer + multi-probe: shared `Ann` object (round 10 —
  // the dense top-k candidate generator consumes the same construction;
  // the conf contract, dim guard, and recall pins are documented there).
  private def bucketed(s: org.apache.spark.sql.SparkSession, d: String) =
    Ann.bucketed(s, d)
  private def withProbes(s: org.apache.spark.sql.SparkSession,
                         v: org.apache.spark.sql.DataFrame) =
    Ann.withProbes(s, v)

  /** llm_ann_ivf — IVF/LSH-style ANN: a 3-hyperplane sign bucket as the
    * coarse quantizer (8 cells), Hamming≤1 multi-probe, top-3 by rounded
    * cosine. The scale path for similarity search: the probe join is an
    * equi-join — contrast with the brute-force llm_cosine_topk baseline. */
  val llmAnnIvf: Q = (s, d) => {
    val v = bucketed(s, d)
    val a = withProbes(s, v)
      .select(col("vec_id").as("qid"), col("e").as("ea"), col("nrm").as("na"), col("probe"))
    val b = v.select(col("vec_id").as("vid"), col("e").as("eb"), col("nrm").as("nb"),
                     col("bkt").as("probe"))
    // top-3 per query via the bounded TopKAgg aggregate, not a ranking
    // window (the cosine-family discipline): map-side combine shuffles
    // one ≤3-element buffer per (qid, partition) instead of the whole
    // probe-join candidate frame. (qid, vid) is unique — b contributes
    // one row per vector and a shared probe cell matches at most once —
    // so (rounded cos desc, vid asc) is strict and row-identical to the
    // window form. Vector payload still dropped before the agg.
    val topk = udaf(new graft.functions.TopKAgg(3),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long, Long)]())
    a.join(b, Seq("probe")).where(col("qid") =!= col("vid"))
      .withColumn("cos", r4(expr("graft_dot(ea, eb)") / (col("na") * col("nb"))))
      .select("qid", "vid", "cos")
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid"), col("vid")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("vid"), col("col._1").as("cos"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** llm_embed_neardup — embedding-cosine near-dup pairs (θ calibrated to
    * the fixture's random-vector cosine distribution: p999 ≈ 0.38).
    * Candidates are restricted to IVF sign-bucket cells within Hamming
    * distance 1 — the same coarse quantizer + multi-probe as llm_ann_ivf
    * — so pair generation is a probe equi-join, never the O(N²) cross
    * join. Near-dup vectors are near-parallel, so at most one hyperplane
    * usually splits them; AnnRecallSpec quantifies the recall against
    * the bounded brute-force twin. */
  val llmEmbedNeardup: Q = (s, d) => {
    val v = bucketed(s, d)
    val a = withProbes(s, v)
      .select(col("vec_id").as("vid_a"), col("e").as("ea"), col("nrm").as("na"), col("probe"))
    val b = v.select(col("vec_id").as("vid_b"), col("e").as("eb"), col("nrm").as("nb"),
                     col("bkt").as("probe"))
    a.join(b, Seq("probe")).where(col("vid_a") < col("vid_b"))
      .withColumn("cos", r4(expr("graft_dot(ea, eb)") / (col("na") * col("nb"))))
      .where(col("cos") >= 0.35)
      .select("vid_a", "vid_b", "cos")
      .orderBy("vid_a", "vid_b")
  }

  /** llm_semdedup — semantic dedup over embeddings (the SemDeDup shape,
    * Abbas et al. 2023: cluster the embedding space coarsely, then dedup
    * WITHIN each cluster by cosine). The cluster here is the IVF
    * sign-bucket coarse quantizer this repo's whole ANN family uses (a
    * deterministic k-means stand-in — no iterative centroid fitting, so
    * the operator is one declarative self-join both engines agree on).
    * Declared semantics: a vector is a duplicate iff SOME lower-id
    * vector in the SAME cell reaches rounded cosine ≥ 0.35 (the
    * fixture's near-dup floor, as llm_embed_neardup); dup_of = the
    * minimum such neighbour, keep = no such neighbour. Judged against
    * ALL lower-id cell-mates, not only kept ones — no sequential greedy
    * chain, so the result is order-free and embarrassingly parallel per
    * cell. Scale: pair generation is an equi-join on the cell key;
    * within-cell quadratic IS the SemDeDup design — raise
    * spark.graft.ann.bits with the corpus so cell occupancy (N/2^bits)
    * stays at the candidate budget, exactly the ann_ivf story. */
  val llmSemdedup: Q = (s, d) => {
    val v = bucketed(s, d)
    // pair generation routed through ShardedSelfJoin (VERDICT r8 #4):
    // the within-cell quadratic IS the SemDeDup design, but a DEGENERATE
    // cell (a web corpus's boilerplate embeddings all landing
    // near-parallel in one cell) is precisely the hot-bucket case the
    // triangle sharding exists for — per-task join input bounded at the
    // shard threshold, pair SET identical to the naive cell self-join
    // (SkewSpec pins it). Cell membership is unique per vector (a
    // partitioning quantizer), so pairs are duplicate-free by
    // construction: no emit-once scan, no distinct shuffle
    // (uniqueMembership).
    val prs = graft.ops.ShardedSelfJoin.pairs(
      v.select(col("vec_id").as("doc_id"), col("e"), col("nrm"), col("bkt")),
      keys = Seq("bkt"),
      threshold = graft.ops.ShardedSelfJoin.confThreshold(s),
      carry = Seq("e", "nrm"),
      uniqueMembership = true,
      // the carried embedding payloads would ride the width-pin's extra
      // exchange (measured +0.10 s here); cell occupancy is bounded by
      // spark.graft.ann.bits at scale, so keep the coalesced plan
      pinWidth = false)
    // pairs normalizes doc_a < doc_b, so the HIGHER id (doc_b) is the
    // potential duplicate and doc_a its lower-id witness — the same
    // (vid_b < vec_id) orientation as the pre-r9 direct join
    val dups = prs
      .withColumn("cos",
        r4(expr("graft_dot(e_a, e_b)") / (col("nrm_a") * col("nrm_b"))))
      .where(col("cos") >= 0.35)
      .groupBy(col("doc_b").as("vec_id")).agg(min("doc_a").as("dup_of"))
    v.select(col("vec_id"), col("bkt").cast("int").as("bkt"))
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull.cast("long"))
      .orderBy("vec_id")
  }

  /** llm_ann_stats — ANN index health profile: occupancy per coarse-
    * quantizer cell (count, share of the corpus, id range). The
    * operational check behind every IVF deployment: probe cost is
    * nprobe·occupancy, so a skewed cell histogram — not average
    * occupancy — is what blows the candidate budget; this report is
    * what you read before raising spark.graft.ann.bits. Scale: one
    * groupBy over ≤ 2^bits keys; the total and shares run over the
    * aggregated ≤ 2^bits-row frame, never a second corpus pass. */
  val llmAnnStats: Q = (s, d) => {
    val cells = graft.ops.Lineage.cut(
      bucketed(s, d)
        .groupBy(col("bkt").cast("int").as("bkt"))
        .agg(count(lit(1)).as("n_vecs"),
             min("vec_id").as("min_vid"), max("vec_id").as("max_vid")))
    val tot = cells.agg(sum("n_vecs").as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("bkt"), col("n_vecs"),
        r4(col("n_vecs") * lit(1.0) / col("n_total")).as("share"),
        col("min_vid"), col("max_vid"))
      .orderBy("bkt")
  }

  /** agg_pivot — long→wide reshaping: per-user event counts, one column
    * per event type (domain pinned: FIXTURES.md). Fixed pivot values keep
    * the plan a single pass (no distinct-values pre-query). */
  val aggPivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** agg_unpivot — wide→long reshaping (melt) of three measures, then
    * re-aggregated per metric. */
  val aggUnpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_discount", "l_tax")
      .unpivot(Array(col("l_orderkey")),
               Array(col("l_quantity"), col("l_discount"), col("l_tax")),
               "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), sumR4(col("val")).as("sum_val"))
      .orderBy("metric")

  /** win_percent — relative-position window functions: percent_rank and
    * cume_dist over account balance within nation (rank arithmetic on
    * identical doubles → engine-identical before rounding). */
  val winPercent: Q = (s, d) => {
    val w = Window.partitionBy("n_name").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"),
        r4(percent_rank().over(w)).as("pct_rank"),
        r4(cume_dist().over(w)).as("cume"))
      .orderBy("n_name", "c_custkey")
  }

  /** win_ntile — equal-frequency bucketing (quartiles of customers per
    * nation by account balance): the windowed sibling of percent_rank/
    * cume_dist in win_percent, and the building block of quantile-bucket
    * feature engineering. The strict (acctbal, custkey) order makes the
    * bucket assignment a pure function of the partition — both engines
    * agree row-for-row. Scale: one hash exchange on the partition key,
    * per-nation sort — the same shape as every window in §2.5; an
    * UNpartitioned ntile would funnel the corpus through one task (the
    * llm_shard_balance scaladoc documents the distributed alternative). */
  val winNtile: Q = (s, d) => {
    val w = Window.partitionBy("n_name").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("n_name", "c_custkey")
  }

  /** agg_bool — boolean/conditional aggregates per returnflag. */
  val aggBool: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_quantity") > 25).as("n_bulk"),
        bool_and(col("l_extendedprice") > 0).cast("int").as("all_priced"),
        bool_or(col("l_discount") > 0.09).cast("int").as("any_deep_disc"))
      .orderBy("l_returnflag")

  /** dq_checks — delivery-validation report over lineitem: null keys,
    * domain ranges, and FK orphan checks, one row per rule. */
  val dqChecks: Q = (s, d) => {
    import graft.delivery.Validate
    val li = Tables.lineitem(s, d)
    val predRules = Validate.counts(li, Seq(
      "null_orderkey" -> col("l_orderkey").isNull,
      "qty_out_of_range" -> !col("l_quantity").between(1, 50),
      "disc_out_of_range" -> !col("l_discount").between(0, 0.1),
      "negative_price" -> (col("l_extendedprice") < 0)))
    predRules
      .union(Validate.fkOrphanRow("orphan_partkey", li, "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .union(Validate.fkOrphanRow("orphan_orderkey", li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey"))
      .orderBy("rule")
  }

  /** dq_histogram — fixed-bin value-distribution profile of
    * o_totalprice: 20 bins of 25 000 over [0, 500 000) (the fixture
    * domain, FIXTURES.md), top bin clamped so outliers land in bin 19
    * instead of minting unbounded bin keys. Reports count, share, and
    * cumulative share per bin — the data-profiling companion to
    * dq_checks' rule report (the "did the delivered distribution move?"
    * check of a delivery pipeline). Scale: one groupBy over ≤ 20 keys;
    * the total and the cumulative run over the 20-row AGGREGATED frame
    * (an unpartitioned window there is a 20-row sort, not the
    * all-rows-to-one-task global window this repo bans on row frames). */
  val dqHistogram: Q = (s, d) => {
    val binW = 25000L
    // cut: the ≤20-row bin frame feeds both the total and the output
    val bins = graft.ops.Lineage.cut(
      Tables.orders(s, d)
        .select(least(floor(col("o_totalprice") / binW), lit(19L)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n")))
    val tot = bins.agg(sum("n").as("n_total"))
    val wCum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins.crossJoin(broadcast(tot))
      .withColumn("cum_n", sum("n").over(wCum))
      .select(
        (col("bin") * binW).as("bin_lo"),
        col("n"),
        r4(col("n") * lit(1.0) / col("n_total")).as("pct"),
        col("cum_n"),
        r4(col("cum_n") * lit(1.0) / col("n_total")).as("cum_pct"))
      .orderBy("bin_lo")
  }

  /** dq_drift — distribution drift between two delivery versions as a
    * per-bin Population Stability Index profile (the follow-up to
    * dq_histogram's "did the distribution move?": HOW MUCH, and in which
    * bins). Versions are the md5-bucket split this repo uses everywhere
    * for reproducible membership (llm_split / llm_dedup_incremental
    * convention: bucket(o_orderkey) < 80 = prev delivery, ≥ 80 = new),
    * bins are dq_histogram's 20×25k grid. Shares are Laplace-smoothed
    * ((n+1)/(N+20)) so psi = (p−q)·ln(p/q) is defined even for bins one
    * side never hit; smoothed shares are exact integer divisions, so
    * only ln's last ulp differs between engines (collapsed by r4).
    * Scale: ONE pass over the fact table into a ≤20-key conditional agg
    * — the version split costs no second scan. */
  val dqDrift: Q = (s, d) => {
    val binW = 25000L
    val bins = graft.ops.Lineage.cut(
      Tables.orders(s, d)
        .select(
          least(floor(col("o_totalprice") / binW), lit(19L)).cast("long").as("bin"),
          (conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
            .cast("long") % 100 < 80).as("is_prev"))
        .groupBy("bin")
        .agg(sum(when(col("is_prev"), 1L).otherwise(0L)).as("n_prev"),
             sum(when(!col("is_prev"), 1L).otherwise(0L)).as("n_new")))
    val tot = bins.agg(sum("n_prev").as("tp"), sum("n_new").as("tn"))
    val sp = (col("n_prev") + 1.0) / (col("tp") + 20.0)
    val sn = (col("n_new") + 1.0) / (col("tn") + 20.0)
    bins.crossJoin(broadcast(tot))
      .select(
        (col("bin") * binW).as("bin_lo"),
        col("n_prev"), col("n_new"),
        r4(sp).as("share_prev"), r4(sn).as("share_new"),
        r4((sp - sn) * log(sp / sn)).as("psi"))
      .orderBy("bin_lo")
  }

  /** dq_delta — the delivery-to-delivery diff card: schema presence and
    * type per column, version row counts, and per-column null censuses
    * between two delivery versions — the last gap in the
    * delivery-observability family (VERDICT r6 #7). dq_profile reads ONE
    * version, dq_drift reads one column's value distribution; this reads
    * the whole delivery BOUNDARY: which columns appeared/vanished/changed
    * type, how the row count moved, and where nulls crept in. The query
    * entry applies it to the same md5-bucket version split dq_drift uses
    * (bucket(o_orderkey) < 80 = prev delivery, ≥ 80 = new), so both
    * sides share a schema; `dqDeltaFrames` is the generic form — a
    * column present on one side only gets its censuses on that side and
    * NULLs on the other (exercised with divergent frames in
    * QuerySemanticsSpec). Null rates are 0.0 on empty sides (zero-row
    * hardening convention); the delta is r4 of the EXACT-ratio
    * difference, so engines can't disagree at rounding boundaries.
    *
    * Scale: ONE conditional-agg pass per side, each map-side combining
    * to a single row, then a 1×1 crossJoin and a schema-driven
    * explode(array(struct…)). Column lists are driver-side METADATA
    * (schema, not data), so the plan is two scans + a constant-size
    * explode regardless of column count — no per-row data reaches the
    * driver, and a 100 TB version pair costs exactly two passes. */
  def dqDeltaFrames(prev: org.apache.spark.sql.DataFrame,
                    cur: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // census aliases are INDEX-derived, never name-derived: a delivery
    // column named "a.b" (or carrying backticks) would make a
    // name-spliced col("__np_a.b") parse as struct-field access and fail
    // resolution — the sorted shared column list maps names → positions
    // once, and everything downstream references positions
    val names = (prev.columns ++ cur.columns).distinct.sorted
    val idx = names.zipWithIndex.toMap
    def census(df: org.apache.spark.sql.DataFrame, rowsAs: String, pfx: String) =
      df.agg(
        count(lit(1)).as(rowsAs),
        df.columns.toIndexedSeq.map(c =>
          coalesce(sum(when(df.col(s"`${c.replace("`", "``")}`").isNull, 1L)
            .otherwise(0L)), lit(0L))
            .as(s"$pfx${idx(c)}")): _*)
    val p = census(prev, "__rows_prev", "__np_")
    val n = census(cur, "__rows_new", "__nn_")
    val dtP = prev.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val dtN = cur.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = names.map { c =>
      val i = idx(c)
      val (inP, inN) = (dtP.contains(c), dtN.contains(c))
      val nullLong = lit(null).cast("bigint")
      val nullDbl = lit(null).cast("double")
      val rateP = if (!inP) nullDbl else when(col("__rows_prev") === 0, lit(0.0))
        .otherwise(col(s"__np_$i") * lit(1.0) / col("__rows_prev"))
      val rateN = if (!inN) nullDbl else when(col("__rows_new") === 0, lit(0.0))
        .otherwise(col(s"__nn_$i") * lit(1.0) / col("__rows_new"))
      struct(
        lit(c).as("col_name"),
        (if (inP) lit(dtP(c)) else lit(null).cast("string")).as("dtype_prev"),
        (if (inN) lit(dtN(c)) else lit(null).cast("string")).as("dtype_new"),
        lit(inP && inN && dtP.get(c) == dtN.get(c)).as("type_match"),
        col("__rows_prev").as("n_prev"), col("__rows_new").as("n_new"),
        (if (inP) col(s"__np_$i") else nullLong).as("n_null_prev"),
        (if (inN) col(s"__nn_$i") else nullLong).as("n_null_new"),
        r4(rateP).as("null_rate_prev"),
        r4(rateN).as("null_rate_new"),
        (if (inP && inN) r4(rateN - rateP) else nullDbl).as("null_rate_delta"))
    }
    p.crossJoin(n).select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("col_name")
  }

  val dqDelta: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val isPrev = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100 < 80
    dqDeltaFrames(o.where(isPrev), o.where(!isPrev))
  }

  /** dq_manifest — the "what did I actually ship" card:
    * deliver orders split into the same two md5-bucket versions dq_drift
    * and dq_delta read, as a version-partitioned parquet with a PINNED
    * file layout (repartition on the partition column → exactly one file
    * per version directory), then read the delivery BACK and census it at
    * the file level: files per version via the scan's `_metadata.file_path`
    * distinct (the read-back MEASURES the layout contract, it is not
    * assumed), rows, distinct order keys, the partition-column value
    * bounds, and the delivery's LOGICAL byte size — 32 fixed bytes for
    * the four 8-byte columns plus the two strings' octet lengths per
    * row. Logical, not physical, bytes on purpose: two deliveries of
    * identical content differ in physical bytes with codec/block
    * settings even on one cluster, so the portable manifest quantity —
    * the one an oracle on the SOURCE rows can also compute — is the
    * content size. The oracle mirrors the md5 split and byte formula
    * and pins n_files to the layout-determined 1.
    *
    * Scale: the write is a distributed scan→shuffle(version)→write; the
    * census is one groupBy over the read-back with map-side combine. A
    * 100 TB delivery raises the repartition width per version (and
    * n_files with it) — the layout pin is per-job config, the census
    * machinery is unchanged. */
  val dqManifest: Q = (s, d) => {
    // a fixed per-(session, dataset) delivery dir + overwrite
    // (Tables.scratchDir): the write is eager but the returned frame
    // reads the path lazily
    val tmp = Tables.scratchDir(s, d, "manifest")
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100
    val out = Tables.orders(s, d)
      .withColumn("version", when(bucket < 80, lit("prev")).otherwise(lit("new")))
    out.repartition(col("version"))
      .write.mode("overwrite").partitionBy("version").parquet(s"$tmp/orders")
    // explicit schema on the read-back: a ZERO-ROW source writes no
    // partition directories, and schema inference over an empty delivery
    // throws where the empty-input contract (EmptyInputSpec) requires an
    // empty 7-column census
    s.read.schema(out.schema).parquet(s"$tmp/orders")
      // the hidden _metadata struct is projected to a plain column first:
      // file identity is per-ROW scan metadata (and non-groupable inside
      // an agg argument), the census then treats it as data
      .withColumn("__file", col("_metadata.file_path"))
      .groupBy("version")
      .agg(
        countDistinct(col("__file")).as("n_files"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        sum(lit(32L) + octet_length(col("o_orderstatus"))
          + octet_length(col("o_orderpriority"))).as("logical_bytes"))
      .orderBy("version")
  }

  /** dq_profile — per-column completeness/cardinality profile of the
    * orders delivery (the summary report every delivery tool prints
    * before handoff): rows, nulls, exact distincts, and domain bounds
    * per column — numeric bounds as r4 doubles, string bounds verbatim
    * (each type keeps its own min/max columns so no engine-specific
    * number→string formatting ever reaches the output). The query is
    * delivery.Validate.profile applied to orders — the same call a
    * delivery job runs on BOTH sides of a copy as a cheap equality
    * witness (DeliverySpec pins profile(src) == profile(delivered)).
    * Scale notes live on Validate.profile (non-distinct metrics in one
    * scan/agg; each exact distinct count its own column-pruned
    * two-level aggregate — the round-10 rewrite that replaced the
    * multi-distinct Expand). */
  val dqProfile: Q = (s, d) =>
    graft.delivery.Validate.profile(Tables.orders(s, d),
      numCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
      strCols = Seq("o_orderstatus", "o_orderpriority"))

  /** dq_referential — FK-graph integrity AND coverage profile over the
    * whole star schema: for each of the seven declared child→parent
    * relations, the orphan census (child keys with no parent — the
    * delivery-breaks-joins check) plus the inverse coverage census
    * (parents no child references — the generator-skew / dead-dimension
    * check dq_checks' two orphan rules don't express). One row per
    * relation; shares defined 0.0 on empty sides rather than inherit
    * either engine's x/0 (zero-row hardening convention).
    *
    * Scale: per relation ONE full-outer join of the pre-aggregated
    * child key counts (groupBy FK first — join input shrinks from rows
    * to distinct keys, the classic pre-agg-before-join) against the
    * distinct parent keys; both censuses fall out of the same joined
    * frame as aggregates, so nothing per-row ever reaches the driver
    * and the seven 1-row frames union for free. */
  val dqReferential: Q = (s, d) => {
    import org.apache.spark.sql.DataFrame
    def rel(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
      val ckeys = child.select(col(ck).cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
      val pkeys = parent.select(col(pk).cast("long").as("k")).distinct()
        .withColumn("hit", lit(1))
      ckeys.join(pkeys, Seq("k"), "full_outer").agg(
        coalesce(sum("cnt"), lit(0L)).as("n_child"),
        coalesce(sum(when(col("hit").isNull, col("cnt"))), lit(0L)).as("n_orphan"),
        count(col("hit")).as("n_parent"),
        count(when(col("hit").isNotNull && col("cnt").isNotNull, true)).as("n_parent_hit")
      ).select(
        lit(name).as("relation"),
        col("n_child"), col("n_orphan"),
        when(col("n_child") === 0, lit(0.0))
          .otherwise(r4(col("n_orphan") * lit(1.0) / col("n_child"))).as("orphan_share"),
        col("n_parent"), col("n_parent_hit"),
        when(col("n_parent") === 0, lit(0.0))
          .otherwise(r4(col("n_parent_hit") * lit(1.0) / col("n_parent"))).as("coverage"))
    }
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    Seq(
      rel("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      rel("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      rel("lineitem->part", li, "l_partkey", Tables.part(s, d), "p_partkey"),
      rel("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      rel("nation->region", n, "n_regionkey", Tables.region(s, d), "r_regionkey"),
      rel("orders->customer", o, "o_custkey", c, "c_custkey"),
      rel("supplier->nation", Tables.supplier(s, d), "s_nationkey", n, "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy("relation")
  }

  /** agg_argmax — max_by/min_by (argmax) per priority; the ordering key
    * (o_orderkey) is unique so the selection is engine-deterministic. */
  val aggArgmax: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderstatus"), col("o_orderkey")).as("last_status"),
        min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"),
        max("o_orderkey").as("max_key"),
        r4(max_by(col("o_totalprice"), col("o_orderkey"))).as("last_price"))
      .orderBy("o_orderpriority")

  /** fn_bits — bitwise transforms over keys (masks, shifts, popcount). */
  val fnBits: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        expr("o_orderkey & 255").as("masked"),
        expr("o_orderkey | 15").as("ored"),
        expr("o_orderkey ^ 255").as("xored"),
        expr("shiftleft(o_orderkey, 2)").as("shl"),
        expr("shiftright(o_orderkey, 3)").as("shr"),
        expr("bit_count(o_orderkey)").cast("long").as("pop"))
      .orderBy("o_orderkey")

  /** llm_chunk — fixed-size token chunking with overlap (size 16, stride
    * 8): the canonical training-data windowing op. Chunk i exists iff
    * i·stride < n_tok; text and md5 fingerprint per chunk. */
  val llmChunk: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("i", explode(sequence(lit(0),
        floor((size(col("toks")) - 1) / 8).cast("int"))))
      .withColumn("chunk", expr("slice(toks, i * 8 + 1, 16)"))
      .select(
        col("doc_id"), col("i").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("chunk_ntok"),
        array_join(col("chunk"), " ").as("chunk_text"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** llm_dedup_cluster — near-dup cluster assignment: symmetrized
    * jac≥0.8 pairs as edges, connected components, label = min doc_id
    * of the component. This is the final step of a dedup pipeline
    * (pick min-doc_id representative per cluster).
    *
    * Default algorithm (round 8): large-star/small-star alternation
    * (ops/ConnectedComponents.scala, Kiveris et al. SoCC'14) — O(log
    * diameter) rounds, and on the DENSE graphs near-dup thresholds
    * produce (sf0.1: 759k pairs over 5k docs, avg degree ~300) the
    * first round contracts almost everything, so the whole assignment
    * costs ~2 heavy passes where min-label propagation pays 4+ full
    * edge-frame rounds (same-phase A/B: 22.1 vs 30.4 s end-to-end at
    * sf0.1; propagation phase ~2 s vs ~10 s). Rounds are bounded
    * (maxRounds) so a 100 TB run is a fixed number of joins, not an
    * unbounded driver loop.
    *
    * The DuckDB oracle unrolls 8 rounds of min-label propagation. On any
    * graph where min-label reaches its fixpoint within those 8 rounds,
    * its labels equal these (both are "min doc_id of the component"),
    * and the fixtures do converge within 8; on a deeper graph lss is the
    * correct connected-components answer and the oracle's truncation is
    * not. CorpusPrepSpec pins the labels against a driver-side
    * union-find over the jaccard pairs. */
  val llmDedupCluster: Q = (s, d) => {
    val labels = dedupLabels(s, d)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "lbl")
      .select(col("dd").as("doc_id"), col("lbl").as("cluster"), col("csize"))
      .orderBy("doc_id")
  }

  /** The shared label frame (dd, lbl) of llm_dedup_cluster /
    * llm_cluster_sizes — extracted (round 13 optimization) so the census
    * can derive from the per-CLUSTER size frame directly instead of
    * Lineage.cutting the full per-doc cluster table: the census needs
    * only (lbl, csize), and every census column is computable from it
    * (n_clusters = rows per size, n_docs = Σ csize per size — identical
    * values to the former countDistinct/count over the per-doc join). */
  private def dedupLabels(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // cut: the pair list (759k narrow rows at sf0.1) is referenced twice
    // by the symmetric edge union — without the cut the whole blocked
    // jaccard pipeline executes once per reference
    val pairsRaw = graft.ops.Lineage.cut(
      Llm.jaccardPairsUnsorted(s, d).select("doc_a", "doc_b"))
    val docsAll = Tables.documents(s, d)

    // Exact-dedup-first collapse (`spark.graft.dedup.collapseExact`,
    // VERDICT r7 #1b — the 100 TB scale knob, ON by default since round
    // 9): map every doc to the min-doc_id REPRESENTATIVE of its
    // (lang, sha2(text)) group and run components on the quotient graph,
    // then expand labels back through the membership mapping. Sound
    // because byte-identical same-lang docs have identical token sets:
    // every such pair scores jac 1.0 ≥ θ (and shares all blocking keys —
    // recall 1.0 pinned), so a sha2 group is always a clique inside one
    // component, and the quotient's components expand exactly to the
    // original's. Labels are preserved too: rep = min doc_id per group,
    // so the quotient component's min rep IS the original component's
    // min doc_id. The hash groups by (lang, sha2) — NOT sha2 alone —
    // because the pair pipeline only pairs within a language;
    // byte-identical docs tagged with different langs must stay
    // separate. Default flipped round 9 on the DedupScale measurement
    // (VERDICT r8 #2, BASELINE.md round-9 row): on the ×30 dup-heavy
    // stress corpus (150k docs, 70% in 2-5-member exact clusters — the
    // duplicate factor of a scraped web corpus) the collapse wins
    // 1.9× (169.9 → 87.5 s min-of-2) and turns the pipeline's scaling
    // exponent sublinear (0.87 vs 1.24), while on the 99.8%-distinct
    // synthetic fixture it costs ~0.5 s of hash-group overhead — the
    // web corpus is what the operator is FOR, so the dup-heavy posture
    // is the default and distinct-heavy corpora opt out via the conf.
    // CollapseSpec pins output identity on a dup-heavy corpus, and the
    // full oracle stays green under the default.
    val collapse = s.conf.get("spark.graft.dedup.collapseExact", "true").toBoolean
    val mapping = if (!collapse) None else Some(graft.ops.Lineage.cut {
      // null text or null lang rows map to THEMSELVES: sha2(NULL)=NULL
      // would group all null-text docs into one rep (and null lang
      // null-joins out of the pair pipeline entirely), while the
      // uncollapsed path keeps them as token-less singletons — grouping
      // only non-null rows preserves the pinned path identity (review r8)
      val h = docsAll.select(col("doc_id"), col("lang"),
        sha2(col("text").cast("binary"), 256).as("h"))
      val nn = h.where(col("lang").isNotNull && col("h").isNotNull)
      val reps = nn.groupBy("lang", "h").agg(min("doc_id").as("rep"))
      nn.join(reps, Seq("lang", "h")).select(col("doc_id"), col("rep"))
        .unionAll(h.where(col("lang").isNull || col("h").isNull)
          .select(col("doc_id"), col("doc_id").as("rep")))
    })
    val pairs = mapping.fold(pairsRaw) { m =>
      // quotient edges: endpoints → reps; self-loops (intra-group pairs)
      // drop, the CC layers dedup the rest
      pairsRaw
        .join(m.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")), "doc_a")
        .join(m.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")), "doc_b")
        .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
    }
    val docs = mapping.fold(docsAll.select(col("doc_id")))(
      _.select(col("rep").as("doc_id")).distinct())
    // the raw pair list is duplicate-free with doc_a < doc_b by
    // construction → skip the normalization distinct; the collapsed
    // quotient edges are neither, so the mapping path normalizes.
    // Routed through the size-adaptive entry (round 10): a pair graph at
    // or under spark.graft.graph.cc.localMaxEdges runs the one-job
    // partition-local union-find (the sf0.1 bench corpus: ~0.5 M
    // quotient edges — the lss alternation's ~12 cut + signature jobs,
    // not data volume, price that case), a corpus past the threshold
    // runs the unchanged O(log d) alternation; labels identical either
    // way (GraphSpec-pinned), so the oracle and CollapseSpec hold on
    // both branches
    val (lbl, _) = graft.ops.ConnectedComponents.auto(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      preOriented = mapping.isEmpty)
    // isolated docs have no edges → label themselves
    val repLabels =
      docs.join(lbl.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id").as("dd"), coalesce(col("label"), col("doc_id")).as("lbl"))
    mapping.fold(repLabels) { m =>
      m.join(repLabels.withColumnRenamed("dd", "rep"), "rep")
        .select(col("doc_id").as("dd"), col("lbl"))
    }
  }

  /** llm_cluster_sizes — near-dup cluster-size census: for each
    * observed cluster size, how many clusters and how much of the
    * corpus sits in them. The dedup-observability twin of
    * llm_dedup_cluster — the curve an operator reads BEFORE picking a
    * dedup policy (a corpus whose mass hides in a few giant clusters
    * needs exact-dedup-first and bucket caps; one dominated by
    * size-1 "clusters" barely needs near-dedup at all). Scale: the
    * cluster table aggregates to ≤distinct-sizes rows; the census is
    * two bounded aggs over it plus a 1-row total broadcast. */
  val llmClusterSizes: Q = (s, d) => {
    // Census straight off the per-CLUSTER size frame (round 13
    // optimization): one row per cluster carries everything the census
    // needs — n_clusters = rows per csize, n_docs = Σ csize per csize —
    // value-identical to the former countDistinct(cluster)/count(*) over
    // the per-doc cluster table (sizes has exactly one row per cluster),
    // so the per-doc join, its Lineage.cut materialization, the per-doc
    // orderBy and the separate n_total pass all drop out of the plan.
    // n_total rides a single-partition window over the census frame,
    // which is ≤ distinct-cluster-sizes rows BY CONSTRUCTION (the same
    // bounded class as the 1-row total it replaces — never corpus-sized).
    val sizes = dedupLabels(s, d).groupBy("lbl").agg(count(lit(1)).as("csize"))
    val whole = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    sizes.groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"), sum("csize").as("n_docs"))
      .withColumn("n_total", sum(col("n_docs")).over(whole))
      .select(col("csize"), col("n_clusters"), col("n_docs"),
        r4(col("n_docs") * lit(1.0) / col("n_total")).as("doc_share"))
      .orderBy("csize")
  }

  /** llm_sample_balanced — language-balanced deterministic downsampling:
    * per-lang keep-rate = min-lang count / lang count, membership by md5
    * bucket of doc_id (never rand() — the same doc survives on every
    * engine, run, and cluster topology). The training-mix rebalancing
    * step: a corpus skewed 10:1 across languages comes out ≈uniform.
    * Rates table is n_langs rows → broadcast; one scan, one shuffle. */
  val llmSampleBalanced: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val minN = counts.agg(min("n_l").as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("lang"), (col("min_n") * lit(1.0) / col("n_l")).as("rate"))
    docs.join(broadcast(rates), "lang")
      .withColumn("u",
        (expr("conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10)").cast("long") % 10000)
          * lit(1.0) / 10000)
      .where(col("u") < col("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")
  }

  /** llm_sample_topk — fixed-size deterministic uniform sample (the
    * eval/audit draw every pipeline takes before shipping a corpus):
    * exactly k = 256 documents, selected as the k smallest md5 ranks of
    * a salted doc_id — never `rand()` (the same 256 docs come back on
    * every engine, run, and cluster topology), and never a rate (the
    * md5-bucket samplers llm_sample_balanced / llm_split keep a
    * PROPORTION; an eval set wants an exact COUNT regardless of corpus
    * size). The salt ("smp_") decorrelates this draw from the split /
    * balance bucket rules so the sample is uniform across their strata.
    *
    * Scale shape: hash-rank top-k compiles to TakeOrderedAndProject —
    * each scan partition keeps a k-row heap and one k-row partial moves
    * per partition, so the 100 TB draw is ONE pass with O(k) memory and
    * O(k · partitions) exchange volume: the distributed reservoir
    * sample, with the full sort the naive ORDER BY would pay never
    * materializing. */
  val llmSampleTopk: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("rk", md5(concat(lit("smp_"), col("doc_id").cast("string"))))
      .orderBy("rk")
      .limit(256)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("rk"))
      .orderBy("doc_id")

  /** llm_split — reproducible train/val/test assignment (80/10/10) by
    * md5 bucket of doc_id: stable across engines, runs, and cluster
    * topologies (never `rand()` — the only way a 100 TB split is
    * re-derivable). Reported per (lang, split). */
  val llmSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10)").cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang", "split")

  /** llm_dedup_incremental — dedup a NEW ingest batch against the
    * EXISTING corpus (the daily-refresh shape: yesterday's corpus is
    * immutable, only today's batch needs a verdict). Old/new membership
    * is the reproducible md5-bucket rule (old = bucket < 80, the
    * llm_split train side); per new doc:
    *   dup_exact  1 if its sha256(text) already exists in the old corpus
    *   n_near_old count of old docs with token-set jaccard ≥ 0.8
    *   keep       1 iff neither
    * Scale: the exact check is one anti-join-shaped hash lookup on the
    * 256-bit digest; the near check reuses the rarity-block pair
    * machinery with the new↔old endpoint restriction PUSHED INTO the
    * candidate stage (jaccardPairsUnsorted's candPred): old-old and
    * new-new pairs — ~64% of candidates at an 80/20 split — are dropped
    * before the pair-dedup distinct and the set-intersection joins ever
    * see them. The predicate re-derives the md5 bucket from the ids, so
    * nothing joins back to the corpus, and the emitted pair set is
    * provably the filtered full set (PropertySpec pins it). At 100 TB
    * the daily-refresh composition is pipelines.PairTable
    * .updateIncremental (compute only pairs touching the new batch,
    * union with yesterday's artifact); spark.graft.pairs.artifact then
    * serves repeated queries over the SAME corpus version from that
    * table — the artifact is corpus-stamped, so pointing it at a
    * different corpus's table fails loudly instead of silently
    * answering with stale pairs. */
  val llmDedupIncremental: Q = (s, d) => {
    // the llm_split md5-bucket rule as a Column function
    def bkt(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100
    val docs = Tables.documents(s, d).withColumn("bucket", bkt(col("doc_id")))
    val oldSha = docs.where(col("bucket") < 80)
      .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
      .withColumn("dup", lit(1L))
    val newDocs = docs.where(col("bucket") >= 80)
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"))
    val withExact = newDocs.join(oldSha, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup_exact"))
    // endpoint classification re-derives the bucket from the id — pairs
    // carry only (doc_a, doc_b), nothing joins back to the corpus; the
    // symmetric new↔old predicate is pushed into the candidate stage
    // (attr = md5 bucket of the id, evaluated once per doc and carried;
    // pred = exactly one endpoint in the new batch)
    val newOld: Llm.CandPred = (bkt _,
      (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        (a >= 80 && b < 80) || (a < 80 && b >= 80))
    // cut: the symmetric union below references the pair list twice —
    // without the cut the (already predicate-filtered) pipeline would
    // still execute once per reference
    val pairs = graft.ops.Lineage.cut(
      Llm.jaccardPairsUnsorted(s, d, Some(newOld), 4, 5)
        .select("doc_a", "doc_b"))
    val nearOld = pairs.select(col("doc_a").as("nid"), col("doc_b").as("oid"))
      .union(pairs.select(col("doc_b").as("nid"), col("doc_a").as("oid")))
      .where(bkt(col("nid")) >= 80 && bkt(col("oid")) < 80)
      .groupBy("nid").agg(count(lit(1)).as("n_near_old"))
    withExact.join(nearOld, col("doc_id") === col("nid"), "left")
      .select(col("doc_id"), col("dup_exact"),
        coalesce(col("n_near_old"), lit(0L)).as("n_near_old"))
      .withColumn("keep",
        (col("dup_exact") === 0 && col("n_near_old") === 0).cast("long"))
      .orderBy("doc_id")
  }

  /** llm_dedup_bloom — Bloom-ACCELERATED exact incremental dedup: the
    * same daily-refresh verdict as llm_dedup_incremental's exact half
    * (old = md5 bucket < 80, immutable; per new doc dup_exact / keep),
    * but the new batch is pre-screened against a membership sketch of
    * the old corpus before any join. A Bloom miss is DEFINITE absence
    * (exact dup ⇒ equal text ⇒ equal xxhash64 key ⇒ the filter contains
    * it — no false negatives, the guarantee SketchSpec gates), so the
    * miss majority takes the no-shuffle fast path; only the might-
    * contain sliver (true dups + the fpp FPs + xxhash64-collision FPs,
    * all resolved exactly below) pays the sha256 equi-join. OUTPUT IS
    * EXACT — the sketch only routes rows, never decides them — which is
    * why this query keeps a full DuckDB oracle while the sketch family
    * itself is oracle-exempt.
    *
    * Scale shape (the 100 TB refresh): at a ~1% daily-new rate with a
    * mostly-novel batch, the exact anti-join shuffles the ENTIRE batch
    * against the historical digest set every day; here the shuffled
    * side shrinks to dup_rate + fpp of the batch, and the old corpus
    * contributes one aggregation into a KB–MB bitmap — which in the
    * versioned-delivery composition is not even a scan but
    * BloomMergeAgg over the per-version sketches agg_bloom_partial
    * already ships (bitmap OR, lossless). The filter is materialized on
    * the driver as ONE bounded row (size fixed by the declared
    * geometry, independent of corpus rows — same bounded-scalar class
    * as the convergence probes) and enters the plan as a foldable
    * literal, so graft_bloom_probe decodes it once per JVM and probes
    * inside whole-stage codegen; Spark's own runtime bloom-filter join
    * moves its filter the same way. Geometry: spark.graft.dedup
    * .bloomItems (default: the sketch-family contract) at
    * BloomAggs.Fpp — size items to the OLD corpus key count at scale;
    * over-population only degrades FPR (more rows re-checked), never
    * correctness. */
  val llmDedupBloom: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val items = s.conf.get("spark.graft.dedup.bloomItems", "100000").toLong
    def bkt(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100
    val docs = Tables.documents(s, d).withColumn("bucket", bkt(col("doc_id")))
    // null text stays in-domain end-to-end: Spark's xxhash64 is
    // null-TOLERANT (a null input hashes to the seed, the expression
    // never returns null — the isNotNull guard below is for schema
    // generality, not the fixture), so a null-text new doc routes like
    // any other row; whichever path it takes, its sha2 digest IS null
    // and an equality join never matches null — dup_exact 0 on both
    // engines by null semantics, exactly the oracle's verdict
    val oldDocs = docs.where(col("bucket") < 80)
    val bloomBuild = udaf(new graft.functions.BloomBuildAgg(items))
    val sketch: Array[Byte] = oldDocs
      .select(xxhash64(col("text")).as("k")).where(col("k").isNotNull)
      .agg(bloomBuild(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val newProbed = graft.ops.Lineage.cut(
      docs.where(col("bucket") >= 80)
        .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"),
          coalesce(
            call_function("graft_bloom_probe", lit(sketch), xxhash64(col("text"))),
            lit(false)).as("might")))
    // fast path: definitely-new rows never reach an exchange
    val fast = newProbed.where(!col("might"))
      .select(col("doc_id"), lit(0L).as("dup_exact"))
    val oldSha = oldDocs
      .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
      .withColumn("dup", lit(1L))
    val checked = newProbed.where(col("might")).join(oldSha, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup_exact"))
    fast.unionByName(checked)
      .withColumn("keep", (col("dup_exact") === 0).cast("long"))
      .orderBy("doc_id")
  }

  /** dq_freshness — delivery-freshness profile of the events feed: per
    * event type, volume, first/last-seen second, staleness vs the
    * corpus watermark (max ts over ALL types), and the share of the
    * type's events inside the last 24 h before that watermark. The
    * "is this producer still alive" check a delivery runs after every
    * sync — a type whose age_s grows while the others sit near 0 is a
    * dead producer; a fresh_share collapse on stable volume flags a
    * backfill-only feed. Complements ev_anomaly (hourly volume z-scores)
    * and ev_inter_arrival (gap profile): those read the event stream's
    * shape, this reads the FEED's recency against the delivery point.
    * Scale: ONE events pass into a per-type agg + a 1-row corpus
    * watermark broadcast — no windows, no joins on fact rows. */
  val dqFreshness: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_type"), epochS(col("ts")).as("ts_s"))
    val wm = e.agg(max("ts_s").as("wm_s"))
    e.crossJoin(broadcast(wm))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_s").as("first_s"),
        max("ts_s").as("last_s"),
        max("wm_s").as("wm"), // constant within every group
        sum(when(col("ts_s") >= col("wm_s") - 86400L, 1L).otherwise(0L)).as("n_fresh"))
      .select(col("event_type"), col("n_events"), col("first_s"), col("last_s"),
        (col("wm") - col("last_s")).as("age_s"),
        r4(col("n_fresh") * lit(1.0) / col("n_events")).as("fresh_share"))
      .orderBy("event_type")
  }

  /** dq_outliers — 3σ outlier census per delivery slice (order totals
    * per priority): pass 1 collapses the corpus to |groups| r4'd
    * (mean, sd) rows, the stats broadcast back, pass 2 counts rows
    * breaching mean ± 3σ. The per-row verdict compares the raw value
    * against identically-rounded bounds, so both engines agree row by
    * row (a flip needs a value EXACTLY on the rounded bound — measure
    * zero for continuous totals). The post-aggregation anomaly check a
    * delivery runs before publishing a slice: a priority whose
    * outlier share jumps while the others hold flags a corrupted or
    * re-scaled upstream batch. Scale: two scans, map-side-combined
    * stats, broadcast join — no corpus-sized shuffle. */
  val dqOutliers: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val st = o.groupBy(col("o_orderpriority").as("pr"))
      .agg(r4(sum("o_totalprice") / count(lit(1))).as("mean_tp"),
           r4(stddev_samp(col("o_totalprice"))).as("sd_tp"))
    o.join(broadcast(st), col("o_orderpriority") === col("pr"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
           sum(when(abs(col("o_totalprice") - col("mean_tp")) > lit(3) * col("sd_tp"), 1L)
             .otherwise(0L)).as("n_outlier"),
           r4(max(col("o_totalprice"))).as("max_tp"))
      .select(col("o_orderpriority"), col("n"), col("n_outlier"),
        r4(col("n_outlier") / col("n") * 100).as("out_pct"), col("max_tp"))
      .orderBy("o_orderpriority")
  }

  /** dq_benford — first-significant-digit census of the money column vs
    * Benford's law: the classic fabricated-data / fraud screen a
    * delivery runs over financial facts. The digit extraction avoids
    * libm entirely (log10/pow differ per engine in the last ulp):
    * l_extendedprice carries 2 decimals, so floor(x·100 + 0.5) is the
    * EXACT integer in both engines (the sumR4 recovery argument), its
    * decimal-string leading character is the first significant digit
    * of x, and BIGINT→string is format-identical cross-engine. The
    * nine Benford probabilities are hard-coded literals on BOTH sides
    * (log10(1+1/d) computed once by hand, 6 dp) — no runtime log.
    *
    * Scale shape: one scan, one map-side-combined 9-group aggregate;
    * the total rides a window over the 9-row frame, not a second
    * scan. */
  val dqBenford: Q = (s, d) => {
    val benford = Map(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
      4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
      8 -> 0.051153, 9 -> 0.045757)
    val pExpr = benford.foldLeft(lit(0.0)) { case (acc, (dg, p)) =>
      when(col("digit") === dg, lit(p)).otherwise(acc)
    }
    // unpartitioned total over the 9-row digit frame (default frame =
    // whole partition when no order is given) — bounded, never a scan
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    Tables.lineitem(s, d)
      .select(substring(
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("share", r4(col("n") * lit(1.0) / sum("n").over(w)))
      .withColumn("benford_p", pExpr)
      .select(col("digit").cast("long").as("digit"), col("n"),
        col("share"), col("benford_p"),
        r4(col("share") - col("benford_p")).as("dev"))
      .orderBy("digit")
  }

  val queries: Map[String, Q] = Map(
    "dq_benford"        -> dqBenford,
    "dq_outliers"       -> dqOutliers,
    "dq_freshness"      -> dqFreshness,
    "llm_dedup_incremental" -> llmDedupIncremental,
    "llm_dedup_bloom"   -> llmDedupBloom,
    "llm_sample_balanced" -> llmSampleBalanced,
    "llm_sample_topk"   -> llmSampleTopk,
    "llm_split"         -> llmSplit,
    "llm_chunk"         -> llmChunk,
    "llm_dedup_cluster" -> llmDedupCluster,
    "llm_cluster_sizes" -> llmClusterSizes,
    "agg_argmax"        -> aggArgmax,
    "fn_bits"           -> fnBits,
    "dq_checks"         -> dqChecks,
    "dq_histogram"      -> dqHistogram,
    "dq_drift"          -> dqDrift,
    "dq_delta"          -> dqDelta,
    "dq_manifest"       -> dqManifest,
    "dq_profile"        -> dqProfile,
    "dq_referential"    -> dqReferential,
    "win_percent"       -> winPercent,
    "win_ntile"         -> winNtile,
    "agg_bool"          -> aggBool,
    "llm_lang_id"       -> llmLangId,
    "llm_quality_score" -> llmQualityScore,
    "llm_curriculum" -> llmCurriculum,
    "llm_fingerprint"   -> llmFingerprint,
    "llm_ann_ivf"       -> llmAnnIvf,
    "llm_embed_neardup" -> llmEmbedNeardup,
    "llm_semdedup"      -> llmSemdedup,
    "llm_ann_stats"     -> llmAnnStats,
    "agg_pivot"         -> aggPivot,
    "agg_unpivot"       -> aggUnpivot,
  )

  private val cosSql = r4Sql("list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])")
  private val bktSql = (t: String) =>
    s"CAST($t.embedding[1] > 0 AS INT) * 4 + CAST($t.embedding[9] > 0 AS INT) * 2 + CAST($t.embedding[17] > 0 AS INT)"

  /** Shared jaccard-pairs CTE body (mirrors Llm.llmJaccardPairs oracle).
    * MATERIALIZED hints stop DuckDB inlining the chain into each of the 8
    * label rounds (8× recompute spilled >79 GB at sf0.1 without them —
    * the oracle-side mirror of the Spark lineage fix). */
  /** Shared quality-scoring CTE chain (llm_quality_score is the base
    * view, llm_curriculum stages over it — ONE SQL definition so the
    * two oracles cannot drift). */
  private val qualityCtes =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |stop AS (SELECT token, 1 AS is_stop FROM (
      |  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
      |  FROM tok GROUP BY token) WHERE rn <= 5),
      |per_doc AS (
      |  SELECT t.doc_id, count(*) AS n_tok,
      |   ${r4Sql("sum(length(t.token)) * 1.0 / count(*)")} AS avg_len,
      |   ${r4Sql("count(DISTINCT t.token) * 1.0 / count(*)")} AS ttr,
      |   ${r4Sql("sum(coalesce(s.is_stop, 0)) * 1.0 / count(*)")} AS swr
      |  FROM tok t LEFT JOIN stop s ON s.token = t.token GROUP BY t.doc_id),
      |scored AS (SELECT doc_id, n_tok, avg_len, ttr, swr,
      | ${r4Sql("0.4 * ttr + 0.4 * (1.0 - swr) + 0.2 * least(avg_len / 10.0, 1.0)")} AS quality
      | FROM per_doc)""".stripMargin

  /** Shared by the llm_dedup_cluster / llm_cluster_sizes oracles. `ni`
    * via len(list_intersect) over per-doc token lists since r12 — see
    * Llm.jaccardPairsSql for the rationale (the token equi-join form
    * OOM'd DuckDB at the ×10 scale-oracle arm; values identical). */
  private val jaccardCtes =
    s"""tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |dfr AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      |block AS MATERIALIZED (
      | SELECT doc_id, lang, token AS block_tok FROM (
      |  SELECT t.doc_id, t.lang, t.token,
      |   row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS rn
      |  FROM tok t JOIN dfr d ON t.token = d.token) WHERE rn <= 4),
      |sz AS MATERIALIZED (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
      |doclist AS MATERIALIZED (SELECT doc_id, list(token) AS toks FROM tok GROUP BY doc_id),
      |cand AS MATERIALIZED (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM block a JOIN block b ON a.block_tok = b.block_tok AND a.lang = b.lang
      |  AND a.doc_id < b.doc_id),
      |pairs AS MATERIALIZED (
      | SELECT doc_a, doc_b FROM (
      |  SELECT i.doc_a, i.doc_b,
      |   ${r4Sql("i.ni * 1.0 / (sa.nt + sb.nt - i.ni)")} AS jac
      |  FROM (SELECT c.doc_a, c.doc_b,
      |         len(list_intersect(da.toks, db.toks)) AS ni
      |        FROM cand c
      |         JOIN doclist da ON da.doc_id = c.doc_a
      |         JOIN doclist db ON db.doc_id = c.doc_b) i
      |   JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b)
      | WHERE jac >= 0.8)""".stripMargin

  /** Eight min-label propagation rounds. MATERIALIZED per round since
    * r12: left to inline, DuckDB's optimizer is free to reorder the
    * flattened 9-level join chain and at the ×10 scale-oracle arm it
    * picked an edges-first order that never finished; forcing each
    * round to materialize pins the intended left-deep evaluation
    * (53M-edge corpus: 2.7 s for all 8 rounds, and l9 ≡ l8 — the
    * fixed depth converges there with a round to spare). */
  private val labelRounds = (1 to 8).map { i =>
    s"l$i AS MATERIALIZED (SELECT e.dst AS dd, min(l.lbl) AS lbl FROM edges e JOIN l${i - 1} l ON l.dd = e.src GROUP BY e.dst)"
  }.mkString(",\n")

  /** The PINNED orders delivery schema — (column, Spark simpleString
    * dtype, short census key), name-sorted. This is the ONE declaration
    * the dq_delta oracle SQL derives its column list and dtype literals
    * from, and ContractSpec asserts it equals the live fixture's
    * `Tables.orders` schema — so a driver testdata regeneration that
    * changes the orders schema (the r7 round changed every timestamp's
    * parquet flavor) fails fast in `sbt test` rather than silently
    * diverging the hand-written oracle from the schema-derived Spark
    * side (ADVICE r7). Dtype strings are Spark `simpleString`s because
    * that is what dqDeltaFrames emits into the result rows; FIXTURES.md
    * §1 documents the same schema prose-side. */
  private[graft] val ordersSchemaPin: Seq[(String, String, String)] = Seq(
    ("o_custkey", "bigint", "ck"),
    ("o_orderdate", "timestamp", "od"),
    ("o_orderkey", "bigint", "ok"),
    ("o_orderpriority", "string", "op"),
    ("o_orderstatus", "string", "os"),
    ("o_totalprice", "double", "tp"))

  /** One dq_referential relation block — child orphan census × parent
    * coverage census, mirroring `rel` in dqReferential exactly. */
  private def refRelSql(name: String, child: String, ck: String,
                        parent: String, pk: String): String =
    s"""SELECT '$name' AS relation, cs.n_child, cs.n_orphan,
       | CASE WHEN cs.n_child = 0 THEN 0.0
       |  ELSE ${r4Sql("cs.n_orphan * 1.0 / cs.n_child")} END AS orphan_share,
       | ps.n_parent, ps.n_parent_hit,
       | CASE WHEN ps.n_parent = 0 THEN 0.0
       |  ELSE ${r4Sql("ps.n_parent_hit * 1.0 / ps.n_parent")} END AS coverage
       |FROM
       | (SELECT count(*) AS n_child,
       |   CAST(coalesce(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan
       |  FROM $child ch LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p ON p.k = ch.$ck) cs
       |CROSS JOIN
       | (SELECT count(*) AS n_parent,
       |   CAST(coalesce(sum(CASE WHEN c2.k IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_parent_hit
       |  FROM (SELECT DISTINCT $pk AS k FROM $parent) p
       |  LEFT JOIN (SELECT DISTINCT $ck AS k FROM $child) c2 ON c2.k = p.k) ps""".stripMargin

  val oracle: Map[String, String] = Map(
    "dq_benford" ->
      s"""WITH dg AS (
        | SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM lineitem),
        |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit),
        |p(digit, benford_p) AS (VALUES (1, 0.301030), (2, 0.176091),
        | (3, 0.124939), (4, 0.096910), (5, 0.079181), (6, 0.066947),
        | (7, 0.057992), (8, 0.051153), (9, 0.045757))
        |SELECT c.digit, c.n,
        | ${r4Sql("c.n * 1.0 / sum(c.n) OVER ()")} AS share,
        | CAST(p.benford_p AS DOUBLE) AS benford_p,
        | ${r4Sql("floor((c.n * 1.0 / sum(c.n) OVER ()) * 10000 + 0.5) / 10000 - p.benford_p")} AS dev
        |FROM c JOIN p ON c.digit = p.digit
        |ORDER BY c.digit""".stripMargin,
    "dq_outliers" ->
      s"""WITH st AS (
        | SELECT o_orderpriority AS pr,
        |  ${r4Sql("sum(o_totalprice) / count(*)")} AS mean_tp,
        |  ${r4Sql("stddev_samp(o_totalprice)")} AS sd_tp
        | FROM orders GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CASE WHEN abs(o_totalprice - mean_tp) > 3 * sd_tp THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier,
        | ${r4Sql("CAST(sum(CASE WHEN abs(o_totalprice - mean_tp) > 3 * sd_tp THEN 1 ELSE 0 END) AS BIGINT) / count(*) * 100")} AS out_pct,
        | ${r4Sql("max(o_totalprice)")} AS max_tp
        |FROM orders JOIN st ON o_orderpriority = pr
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "dq_freshness" ->
      s"""WITH e AS (
        | SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |wm AS (SELECT max(ts_s) AS wm_s FROM e)
        |SELECT event_type, count(*) AS n_events,
        | min(ts_s) AS first_s, max(ts_s) AS last_s,
        | max(wm.wm_s) - max(ts_s) AS age_s,
        | ${r4Sql("sum(CASE WHEN ts_s >= wm.wm_s - 86400 THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS fresh_share
        |FROM e CROSS JOIN wm
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dq_referential" ->
      Seq(
        refRelSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        refRelSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        refRelSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        refRelSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        refRelSql("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        refRelSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        refRelSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY relation"),
    "llm_dedup_incremental" ->
      s"""WITH $jaccardCtes,
        |bk AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS b
        | FROM documents),
        |oldsha AS (SELECT DISTINCT sha256(d.text) AS h
        | FROM documents d JOIN bk ON bk.doc_id = d.doc_id WHERE bk.b < 80),
        |newdocs AS (SELECT d.doc_id, sha256(d.text) AS h
        | FROM documents d JOIN bk ON bk.doc_id = d.doc_id WHERE bk.b >= 80),
        |sym AS (SELECT doc_a AS nid, doc_b AS oid FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nearold AS (
        | SELECT s.nid, count(*) AS n_near_old
        | FROM sym s JOIN bk bn ON bn.doc_id = s.nid JOIN bk bo ON bo.doc_id = s.oid
        | WHERE bn.b >= 80 AND bo.b < 80 GROUP BY s.nid)
        |SELECT n.doc_id,
        | CAST(CASE WHEN o.h IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dup_exact,
        | CAST(coalesce(no.n_near_old, 0) AS BIGINT) AS n_near_old,
        | CAST(CASE WHEN o.h IS NULL AND coalesce(no.n_near_old, 0) = 0
        |  THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM newdocs n
        | LEFT JOIN oldsha o ON o.h = n.h
        | LEFT JOIN nearold no ON no.nid = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    // the Bloom only routes rows between the fast path and the exact
    // join — the VERDICT is the plain exact SQL below, so the oracle is
    // full-strength even though a sketch sits on the engine side
    "llm_dedup_bloom" ->
      """WITH bk AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS b
        | FROM documents),
        |oldsha AS (SELECT DISTINCT sha256(d.text) AS h
        | FROM documents d JOIN bk ON bk.doc_id = d.doc_id WHERE bk.b < 80),
        |newdocs AS (SELECT d.doc_id, sha256(d.text) AS h
        | FROM documents d JOIN bk ON bk.doc_id = d.doc_id WHERE bk.b >= 80)
        |SELECT n.doc_id,
        | CAST(CASE WHEN o.h IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dup_exact,
        | CAST(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM newdocs n
        | LEFT JOIN oldsha o ON o.h = n.h
        |ORDER BY n.doc_id""".stripMargin,
    "llm_sample_balanced" ->
      """WITH counts AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |rates AS (SELECT lang, (SELECT min(n_l) FROM counts) * 1.0 / n_l AS rate FROM counts)
        |SELECT d.lang, count(*) AS n_kept, min(d.doc_id) AS min_doc, max(d.doc_id) AS max_doc
        |FROM documents d JOIN rates r ON r.lang = d.lang
        |WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000)
        |       * 1.0 / 10000 < r.rate
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "llm_sample_topk" ->
      """SELECT doc_id, lang, source, n_chars, rk FROM (
        | SELECT doc_id, lang, source, n_chars,
        |  md5('smp_' || CAST(doc_id AS VARCHAR)) AS rk
        | FROM documents ORDER BY rk LIMIT 256)
        |ORDER BY doc_id""".stripMargin,
    "llm_split" ->
      """SELECT lang, split, count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (
        | SELECT lang, doc_id,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT lang, doc_id,
        |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
        |  FROM documents))
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "llm_chunk" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        | CAST(len(l[i * 8 + 1 : i * 8 + 16]) AS BIGINT) AS chunk_ntok,
        | array_to_string(l[i * 8 + 1 : i * 8 + 16], ' ') AS chunk_text,
        | md5(array_to_string(l[i * 8 + 1 : i * 8 + 16], ' ')) AS chunk_md5
        |FROM (SELECT doc_id, string_split(text, ' ') AS l,
        |       unnest(generate_series(0, (len(string_split(text, ' ')) - 1) // 8)) AS i
        |      FROM documents)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "llm_dedup_cluster" ->
      s"""WITH $jaccardCtes,
        |edges AS MATERIALIZED (
        | SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs
        | UNION ALL SELECT doc_id, doc_id FROM documents),
        |l0 AS MATERIALIZED (SELECT doc_id AS dd, doc_id AS lbl FROM documents),
        |$labelRounds
        |SELECT l8.dd AS doc_id, l8.lbl AS cluster, s.csize
        |FROM l8 JOIN (SELECT lbl, count(*) AS csize FROM l8 GROUP BY lbl) s
        | ON s.lbl = l8.lbl
        |ORDER BY doc_id""".stripMargin,
    "llm_cluster_sizes" ->
      s"""WITH $jaccardCtes,
        |edges AS MATERIALIZED (
        | SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs
        | UNION ALL SELECT doc_id, doc_id FROM documents),
        |l0 AS MATERIALIZED (SELECT doc_id AS dd, doc_id AS lbl FROM documents),
        |$labelRounds,
        |csz AS (SELECT lbl, count(*) AS csize FROM l8 GROUP BY lbl)
        |SELECT csize, count(*) AS n_clusters,
        | CAST(sum(csize) AS BIGINT) AS n_docs,
        | ${r4Sql("sum(csize) * 1.0 / (SELECT count(*) FROM documents)")} AS doc_share
        |FROM csz GROUP BY csize ORDER BY csize""".stripMargin,
    "agg_argmax" ->
      s"""SELECT o_orderpriority,
        | arg_max(o_orderstatus, o_orderkey) AS last_status,
        | arg_min(o_orderstatus, o_orderkey) AS first_status,
        | max(o_orderkey) AS max_key,
        | ${r4Sql("arg_max(o_totalprice, o_orderkey)")} AS last_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "fn_bits" ->
      """SELECT o_orderkey,
        | o_orderkey & 255 AS masked,
        | o_orderkey | 15 AS ored,
        | xor(o_orderkey, 255) AS xored,
        | o_orderkey << 2 AS shl,
        | o_orderkey >> 3 AS shr,
        | CAST(bit_count(o_orderkey) AS BIGINT) AS pop
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dq_histogram" ->
      s"""WITH bins AS (
        | SELECT CAST(least(floor(o_totalprice / 25000), 19) AS BIGINT) AS bin, count(*) AS n
        | FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM bins)
        |SELECT bin * 25000 AS bin_lo, n,
        | ${r4Sql("n * 1.0 / n_total")} AS pct,
        | CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        | ${r4Sql("sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / n_total")} AS cum_pct
        |FROM bins CROSS JOIN tot ORDER BY bin_lo""".stripMargin,
    "dq_drift" ->
      s"""WITH b AS (
        | SELECT CAST(least(floor(o_totalprice / 25000), 19) AS BIGINT) AS bin,
        |  (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 80) AS is_prev
        | FROM orders),
        |bins AS (
        | SELECT bin,
        |  CAST(sum(CASE WHEN is_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
        |  CAST(sum(CASE WHEN NOT is_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        | FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_prev) AS BIGINT) AS tp, CAST(sum(n_new) AS BIGINT) AS tn FROM bins)
        |SELECT bin * 25000 AS bin_lo, n_prev, n_new,
        | ${r4Sql("(n_prev + 1.0) / (tp + 20.0)")} AS share_prev,
        | ${r4Sql("(n_new + 1.0) / (tn + 20.0)")} AS share_new,
        | ${r4Sql("((n_prev + 1.0) / (tp + 20.0) - (n_new + 1.0) / (tn + 20.0)) * ln(((n_prev + 1.0) / (tp + 20.0)) / ((n_new + 1.0) / (tn + 20.0)))")} AS psi
        |FROM bins CROSS JOIN tot ORDER BY bin_lo""".stripMargin,
    "dq_delta" -> {
      // one CASE-sum census per (side, column) over the same md5-bucket
      // version split as dq_drift; rates are exact integer ratios with the
      // 0-guard, r4'd at output, delta r4'd on the exact difference —
      // mirrors dqDeltaFrames exactly. The column list and dtype literals
      // come from ordersSchemaPin (the one declaration ContractSpec
      // asserts against the live fixture), not hand-kept literals — the
      // Spark side derives dtypes from the live schema, so a driver
      // testdata regeneration that changes the orders schema must fail
      // fast in `sbt test` instead of silently diverging the two sides
      // (ADVICE r7; the r7 timestamp-flavor change was this close call).
      val rp = (c: String) => s"CASE WHEN np = 0 THEN 0.0 ELSE pn_$c * 1.0 / np END"
      val rn = (c: String) => s"CASE WHEN nn = 0 THEN 0.0 ELSE cn_$c * 1.0 / nn END"
      val row = (name: String, dt: String, c: String) =>
        s"""SELECT '$name' AS col_name, '$dt' AS dtype_prev, '$dt' AS dtype_new,
           | TRUE AS type_match, np AS n_prev, nn AS n_new,
           | pn_$c AS n_null_prev, cn_$c AS n_null_new,
           | ${r4Sql(rp(c))} AS null_rate_prev,
           | ${r4Sql(rn(c))} AS null_rate_new,
           | ${r4Sql(s"(${rn(c)}) - (${rp(c)})")} AS null_rate_delta FROM m""".stripMargin
      val cs = (c: String, sqlCol: String) =>
        s"""CAST(coalesce(sum(CASE WHEN is_prev AND $sqlCol IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS pn_$c,
           | CAST(coalesce(sum(CASE WHEN NOT is_prev AND $sqlCol IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS cn_$c""".stripMargin
      s"""WITH v AS (
        | SELECT *, (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 80) AS is_prev
        | FROM orders),
        |m AS (SELECT
        | CAST(coalesce(sum(CASE WHEN is_prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS np,
        | CAST(coalesce(sum(CASE WHEN NOT is_prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn,
        | ${ordersSchemaPin.map { case (name, _, key) => cs(key, name) }.mkString(",\n ")}
        | FROM v)
        |SELECT * FROM (
        | ${ordersSchemaPin.map { case (name, dt, key) => row(name, dt, key) }
             .mkString("\n UNION ALL ")})
        |ORDER BY col_name""".stripMargin
    },
    "dq_manifest" ->
      // mirrors dqManifest: same md5 version split, same 32-fixed-bytes +
      // string-octets logical-size formula; n_files pinned to the
      // layout-determined 1 (repartition(version) → one task writes each
      // version directory) — the Spark side MEASURES it via
      // _metadata.file_path, the oracle asserts the contract. strlen in
      // DuckDB is byte length (octet_length's varchar twin).
      """WITH v AS (
        | SELECT *, CASE WHEN (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100) < 80
        |   THEN 'prev' ELSE 'new' END AS version
        | FROM orders)
        |SELECT version, CAST(1 AS BIGINT) AS n_files, count(*) AS n_rows,
        | count(DISTINCT o_orderkey) AS n_orders,
        | min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        | CAST(sum(32 + strlen(o_orderstatus) + strlen(o_orderpriority)) AS BIGINT) AS logical_bytes
        |FROM v GROUP BY version ORDER BY version""".stripMargin,
    "dq_profile" ->
      s"""WITH m AS (
        | SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
        |  count(DISTINCT o_orderkey) AS nd_ok,
        |  ${r4Sql("CAST(min(o_orderkey) AS DOUBLE)")} AS min_ok, ${r4Sql("CAST(max(o_orderkey) AS DOUBLE)")} AS max_ok,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ck,
        |  count(DISTINCT o_custkey) AS nd_ck,
        |  ${r4Sql("CAST(min(o_custkey) AS DOUBLE)")} AS min_ck, ${r4Sql("CAST(max(o_custkey) AS DOUBLE)")} AS max_ck,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tp,
        |  count(DISTINCT o_totalprice) AS nd_tp,
        |  ${r4Sql("min(o_totalprice)")} AS min_tp, ${r4Sql("max(o_totalprice)")} AS max_tp,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_os,
        |  count(DISTINCT o_orderstatus) AS nd_os,
        |  min(o_orderstatus) AS min_os, max(o_orderstatus) AS max_os,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_op,
        |  count(DISTINCT o_orderpriority) AS nd_op,
        |  min(o_orderpriority) AS min_op, max(o_orderpriority) AS max_op
        | FROM orders)
        |SELECT col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str FROM (
        | SELECT 'o_orderkey' AS col_name, n_rows, null_ok AS n_null, nd_ok AS n_distinct,
        |  min_ok AS min_num, max_ok AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM m
        | UNION ALL SELECT 'o_custkey', n_rows, null_ck, nd_ck, min_ck, max_ck, NULL, NULL FROM m
        | UNION ALL SELECT 'o_totalprice', n_rows, null_tp, nd_tp, min_tp, max_tp, NULL, NULL FROM m
        | UNION ALL SELECT 'o_orderstatus', n_rows, null_os, nd_os,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_os, max_os FROM m
        | UNION ALL SELECT 'o_orderpriority', n_rows, null_op, nd_op,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_op, max_op FROM m)
        |ORDER BY col_name""".stripMargin,
    "dq_checks" ->
      """SELECT rule, n_viol FROM (
        | SELECT 'null_orderkey' AS rule,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viol FROM lineitem
        | UNION ALL SELECT 'qty_out_of_range',
        |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        | UNION ALL SELECT 'disc_out_of_range',
        |  CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        | UNION ALL SELECT 'negative_price',
        |  CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        | UNION ALL SELECT 'orphan_partkey',
        |  (SELECT count(*) FROM lineitem li WHERE NOT EXISTS
        |    (SELECT 1 FROM part WHERE p_partkey = li.l_partkey))
        | UNION ALL SELECT 'orphan_orderkey',
        |  (SELECT count(*) FROM lineitem li WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = li.l_orderkey)))
        |ORDER BY rule""".stripMargin,
    "win_ntile" ->
      """SELECT n_name, c_custkey,
        | ntile(4) OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
        |   AS quartile
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name, c_custkey""".stripMargin,
    "win_percent" ->
      s"""SELECT n_name, c_custkey,
        | ${r4Sql("percent_rank() OVER w")} AS pct_rank,
        | ${r4Sql("cume_dist() OVER w")} AS cume
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
        |ORDER BY n_name, c_custkey""".stripMargin,
    "agg_bool" ->
      """SELECT l_returnflag,
        | CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
        | CAST(bool_and(l_extendedprice > 0) AS INT) AS all_priced,
        | CAST(bool_or(l_discount > 0.09) AS INT) AS any_deep_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "llm_lang_id" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |langs AS (SELECT lang AS cl, count(*) AS docs_l FROM documents GROUP BY lang),
        |total AS (SELECT count(*) AS n_docs FROM documents),
        |vocab AS (SELECT DISTINCT token FROM tok),
        |vn AS (SELECT count(*) AS v FROM vocab),
        |clt AS (SELECT lang AS cl, token, count(*) AS c_lt FROM tok GROUP BY lang, token),
        |cl AS (SELECT lang AS cl, count(*) AS c_l FROM tok GROUP BY lang),
        |grid AS (SELECT vo.token, l.cl, coalesce(c.c_lt, 0) AS c_lt
        |  FROM vocab vo CROSS JOIN (SELECT cl FROM langs) l
        |  LEFT JOIN clt c ON c.token = vo.token AND c.cl = l.cl),
        |logp AS (SELECT g.token, g.cl, ln((g.c_lt + 1.0) / (cl.c_l + vn.v)) AS lp
        |  FROM grid g JOIN cl ON cl.cl = g.cl, vn),
        |prior AS (SELECT cl, ln(docs_l * 1.0 / n_docs) AS lprior FROM langs, total),
        |scores AS (SELECT t.doc_id, lp.cl,
        |  ${r4Sql("p.lprior + sum(lp.lp)")} AS score
        |  FROM tok t JOIN logp lp ON lp.token = t.token JOIN prior p ON p.cl = lp.cl
        |  GROUP BY t.doc_id, lp.cl, p.lprior)
        |SELECT doc_id, lang, pred_lang FROM (
        |  SELECT s.doc_id, dd.lang, s.cl AS pred_lang,
        |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.score DESC, s.cl) AS rn
        |  FROM scores s JOIN documents dd ON dd.doc_id = s.doc_id)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "llm_quality_score" ->
      s"""WITH $qualityCtes
        |SELECT doc_id, n_tok, avg_len, ttr, swr, quality
        |FROM scored ORDER BY doc_id""".stripMargin,
    "llm_curriculum" ->
      s"""WITH $qualityCtes,
        |b AS (SELECT ${r4Sql("quantile_cont(quality, 0.25)")} AS b1,
        |             ${r4Sql("quantile_cont(quality, 0.5)")} AS b2,
        |             ${r4Sql("quantile_cont(quality, 0.75)")} AS b3 FROM scored),
        |st AS (SELECT s.doc_id, s.n_tok, s.quality,
        |       CASE WHEN s.quality <= b.b1 THEN 1
        |            WHEN s.quality <= b.b2 THEN 2
        |            WHEN s.quality <= b.b3 THEN 3 ELSE 4 END AS stage,
        |       s.doc_id % 4 AS shard
        |       FROM scored s, b)
        |SELECT CAST(stage AS BIGINT) AS stage, shard, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tok,
        | ${r4Sql(s"${sumR8Sql("quality")} / count(*)")} AS mean_quality,
        | min(quality) AS min_q, max(quality) AS max_q
        |FROM st GROUP BY stage, shard ORDER BY stage, shard""".stripMargin,
    "llm_fingerprint" ->
      """SELECT doc_id, list_min(shs) AS fp, CAST(len(shs) AS BIGINT) AS n_shingles FROM (
        |  SELECT doc_id,
        |   [md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) for i in generate_series(1, len(l) - 2)] AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE len(l) >= 3)
        |ORDER BY doc_id""".stripMargin,
    "llm_ann_ivf" ->
      s"""SELECT qid, vid, cos, rn FROM (
        | SELECT qid, vid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        | FROM (SELECT a.vec_id AS qid, b.vec_id AS vid, $cosSql AS cos
        |       FROM embeddings a JOIN embeddings b
        |        ON bit_count(xor((${bktSql("a")}), (${bktSql("b")}))) <= 1
        |         AND a.vec_id <> b.vec_id))
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "llm_embed_neardup" ->
      s"""SELECT vid_a, vid_b, cos FROM (
        | SELECT a.vec_id AS vid_a, b.vec_id AS vid_b, $cosSql AS cos
        | FROM embeddings a JOIN embeddings b
        |  ON bit_count(xor((${bktSql("a")}), (${bktSql("b")}))) <= 1
        |   AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.35 ORDER BY vid_a, vid_b""".stripMargin,
    "llm_semdedup" ->
      s"""WITH dups AS (
        | SELECT a.vec_id AS vid, min(b.vec_id) AS dup_of
        | FROM embeddings a JOIN embeddings b
        |  ON (${bktSql("a")}) = (${bktSql("b")}) AND b.vec_id < a.vec_id
        | WHERE $cosSql >= 0.35
        | GROUP BY a.vec_id)
        |SELECT e.vec_id, CAST(${bktSql("e")} AS INT) AS bkt, d.dup_of,
        | CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM embeddings e LEFT JOIN dups d ON d.vid = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "llm_ann_stats" ->
      s"""WITH cells AS (
        | SELECT CAST(${bktSql("e")} AS INT) AS bkt, count(*) AS n_vecs,
        |  min(e.vec_id) AS min_vid, max(e.vec_id) AS max_vid
        | FROM embeddings e GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM cells)
        |SELECT bkt, n_vecs, ${r4Sql("n_vecs * 1.0 / n_total")} AS share,
        | min_vid, max_vid
        |FROM cells CROSS JOIN tot ORDER BY bkt""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_unpivot" ->
      s"""SELECT metric, count(*) AS n, ${sumR4Sql("val")} AS sum_val FROM (
        | SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        | UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        | UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric ORDER BY metric""".stripMargin,
  )
}
