package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** Aggregation operators — SURVEY.md §2.4.
  *
  * All are two-phase hash aggregates in Spark (partial map-side combine,
  * then final agg after a shuffle on the group keys) — the scalable shape
  * for 100 TB: network traffic is one partial row per (partition, group),
  * not per input row. Group cardinalities here are tiny (≤ thousands), so
  * the final stage never skews.
  */
object Aggs {

  /** agg_hash — TPC-H Q1 shape: pricing summary per (returnflag, linestatus).
    * 6 output groups (FIXTURES.md §3). */
  val aggHash: Q = (s, d) =>
    Tables.lineitem(s, d)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        sumR4(col("l_extendedprice")).as("sum_base_price"),
        sumR4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sumR4(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        avgR4(col("l_quantity")).as("avg_qty"),
        avgR4(col("l_extendedprice")).as("avg_price"),
        avgR4(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** agg_distinct — exact per-group COUNT(DISTINCT …); Spark expands to a
    * two-pass aggregate (distinct keys first, then counts) — scalable
    * because the distinct shuffle is on (group, value) pairs. */
  val aggDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd_part"),
           countDistinct(col("l_suppkey")).as("nd_supp"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** agg_approx_distinct — HLL++ sketch; the 100 TB substitute for exact
    * distinct (single pass, fixed memory). Not oracle-checked: sketch
    * estimates are engine-specific (unit-tested vs exact ±5%, AggSpec). */
  val aggApproxDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("apx_part"),
           approx_count_distinct(col("l_suppkey")).as("apx_supp"))
      .orderBy("l_returnflag")

  /** agg_hll_partial — MERGEABLE distinct-count sketches across delivery
    * versions (the capability approx_count_distinct alone doesn't
    * expose): per version (dq_drift's md5 split), a Datasketches HLL
    * sketch of o_custkey persists as the version's distinct-count
    * STATE; the corpus-wide distinct then comes from `hll_union_agg`
    * over the two sketches — never re-scanning the versions. This is
    * the incremental-delivery pattern at 100 TB: each daily delivery
    * ships a KB-size sketch with its manifest, and any cross-version
    * distinct count is a union of sketches instead of a full-history
    * scan. Output carries the exact counts beside the estimates so the
    * row is self-diagnosing; no DuckDB oracle (sketch values are
    * engine-specific by declared design, like agg_approx_distinct) —
    * SketchSpec gates every estimate within 5% of its exact twin and
    * pins union-estimate == full-scan-estimate. */
  val aggHllPartial: Q = (s, d) => {
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
      16, 10).cast("long") % 100
    val vers = Tables.orders(s, d)
      .withColumn("version", when(bucket < 80, "v_prev").otherwise("v_new"))
    // ONE corpus scan (round 11; the old form scanned orders 3× — sketch
    // build plus two countDistinct twins, each re-paying the md5 bucket
    // per row): the cut (version, custkey) distinct-pair frame is
    // everything downstream needs — HLL state depends only on the SET of
    // hashed keys, so a sketch built from distinct pairs is bit-identical
    // to one built from all rows, and both exact twins are row counts of
    // the same pair frame. isNotNull keeps the twins' countDistinct
    // semantics: the sketch skips nulls, so the pair frame must too
    // (custkey is non-null in the fixture; this pins the general case).
    val kv = graft.ops.Lineage.cut(
      vers.select("version", "o_custkey")
        .where(col("o_custkey").isNotNull).distinct())
    // the ≤2-row sketch frame is cut too: per-version and merged-total
    // branches both consume it, and without the cut each would rebuild
    // the sketches from the kv blocks (review r11)
    val sk = graft.ops.Lineage.cut(kv.groupBy("version")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
           count(lit(1)).as("n_exact")))
    val per = sk.select(col("version"),
      hll_sketch_estimate(col("sk")).as("n_est"), col("n_exact"))
    val total = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
      .crossJoin(broadcast(
        kv.select("o_custkey").distinct().agg(count(lit(1)).as("n_exact"))))
      .select(lit("total_merged").as("version"), col("n_est"), col("n_exact"))
      // an empty corpus has no version sketches to union, but the
      // global agg still emits one row (union of zero sketches = the
      // empty sketch, estimate 0) — drop it so empty input yields zero
      // rows, consistent with the per-version half (no versions → no
      // rows; round 9, EmptyInputSpec). n_exact = 0 exactly when the
      // corpus has no keys at all (custkey is non-null), so this never
      // fires on a non-empty corpus
      .where(col("n_exact") > 0)
    per.unionAll(total).orderBy("version")
  }

  /** agg_cms_partial — MERGEABLE point-frequency sketches across
    * delivery versions: the Count-Min twin of agg_hll_partial (round
    * 9). Per version (the same md5 split), Spark's built-in
    * `count_min_sketch` aggregate persists the version's FREQUENCY
    * state as a ~50 KB binary; the corpus-wide per-key counts then come
    * from graft.functions.CmsMergeAgg's sketch union — never
    * re-scanning the versions — probed here for every o_orderpriority
    * via the cold-path graft_cms_est decode. This is the heavy-hitters
    * side of the incremental-delivery pattern at 100 TB: each daily
    * delivery ships its sketch with the manifest, and "how often does
    * key X appear across all of history" is a sketch union + O(1)
    * probe. Exact counts ride beside the estimates so every row
    * self-diagnoses against the CMS guarantee (est ≥ exact always;
    * est ≤ exact + eps·N w.p. confidence). No DuckDB oracle (sketch
    * bytes are engine-specific by declared design, like
    * agg_hll_partial) — SketchSpec gates both bounds per row and pins
    * union-estimates == full-scan-sketch estimates. Scale shape: one
    * corpus scan → ≤versions sketch rows → all later work is on
    * KB-size state; the probe join broadcasts 3 sketch rows. */
  val aggCmsPartial: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val cmsMerge = udaf(new graft.functions.CmsMergeAgg)
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
      16, 10).cast("long") % 100
    val vers = Tables.orders(s, d)
      .withColumn("version", when(bucket < 80, "v_prev").otherwise("v_new"))
    // fixed (eps, confidence, seed) literals: mergeability requires
    // identical sketch geometry, and the declared parameters ARE the
    // operator contract (eps 0.001 → width 2719, depth 5, ~106 KB)
    val sk = graft.ops.Lineage.cut(vers.groupBy("version")
      .agg(expr("count_min_sketch(o_orderpriority, 0.001d, 0.99d, 42)").as("sk")))
    val merged = sk.agg(cmsMerge(col("sk")).as("sk"))
      .select(lit("total_merged").as("version"), col("sk"))
    // the versions PARTITION the corpus (one bucket per orderkey), so
    // the merged exact counts are the SUM of the per-version partials —
    // one cut census scan instead of a second full-corpus aggregation
    // (round 11; the CMS itself still needs the raw rows: unlike
    // HLL/Bloom it counts frequencies, so its scan can't dedup)
    val exactVer = graft.ops.Lineage.cut(
      vers.groupBy("version", "o_orderpriority")
        .agg(count(lit(1)).as("n_exact")))
    val exact = exactVer
      .unionByName(exactVer.groupBy("o_orderpriority")
        .agg(sum("n_exact").as("n_exact"))
        .withColumn("version", lit("total_merged")))
    exact.join(broadcast(sk.unionAll(merged)), "version")
      .select(col("version"), col("o_orderpriority").as("priority"),
        expr("graft_cms_est(sk, o_orderpriority)").as("n_est"), col("n_exact"))
      .orderBy("version", "priority")
  }

  /** agg_bloom_partial — MERGEABLE membership sketches across delivery
    * versions: the Bloom third leg of the versioned-sketch family
    * (agg_hll_partial = distinct counts, agg_cms_partial =
    * frequencies). Per version (the same md5 split), BloomBuildAgg
    * persists the version's o_custkey membership as a ~117 KB bitmap
    * (100k/1% declared geometry); the all-history filter is
    * BloomMergeAgg's bitmap OR. The report probes each sketch with 20
    * DETERMINISTIC keys — custkeys 1–10 (in-domain at every SF) and
    * −10…−1 (absent by domain: custkeys are positive) — and carries
    * exact membership beside every probe so rows self-diagnose against
    * the Bloom guarantee: might ≥ present always (a miss is DEFINITE
    * absence — the property that lets an incremental dedup skip the
    * exact anti-join for the Bloom-negative majority at 100 TB), and
    * absent-key hits are FPs bounded by the declared fpp. No DuckDB
    * oracle (sketch, like the other two) — SketchSpec gates no-false-
    * negatives per row, bounds measured FPR at 3× fpp over 10k absent
    * probes, and pins union-probes == full-scan-filter probes. Scale
    * shape: one corpus scan → ≤versions bitmap rows → all probing is
    * on KB-size broadcast state. */
  val aggBloomPartial: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val bloomBuild = udaf(new graft.functions.BloomBuildAgg)
    val bloomMerge = udaf(new graft.functions.BloomMergeAgg)
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
      16, 10).cast("long") % 100
    val vers = Tables.orders(s, d)
      .withColumn("version", when(bucket < 80, "v_prev").otherwise("v_new"))
    // ONE corpus scan (round 11; the old form scanned orders 3× — the
    // bitmap build plus two exact-membership distincts): Bloom bitmaps
    // are insert-idempotent, so a filter built from the cut distinct
    // (version, custkey) pairs is bit-identical to one built from all
    // rows — and the same pair frame IS the exact-membership truth the
    // probes join against.
    // isNotNull mirrors the bitmap's null-skipping inserts (a null pair
    // row was inert downstream anyway — it can never equal a probe key)
    val kv = graft.ops.Lineage.cut(
      vers.select("version", "o_custkey")
        .where(col("o_custkey").isNotNull).distinct())
    // cut the ≤2-row bitmap frame: the per-version and merged branches
    // both read it, and each would otherwise rebuild the bitmaps from
    // the kv blocks (review r11)
    val sk = graft.ops.Lineage.cut(
      kv.groupBy("version").agg(bloomBuild(col("o_custkey")).as("sk")))
    val all = sk.unionAll(
      sk.agg(bloomMerge(col("sk")).as("sk"))
        .select(lit("total_merged").as("version"), col("sk")))
    val probeKeys = ((1L to 10L) ++ (-10L to -1L)).toArray
    // exact membership per version; the merged row's truth is the union
    val exact = kv
      .unionAll(kv.select(lit("total_merged").as("version"),
        col("o_custkey")).distinct())
      .withColumn("present", lit(1L))
    all.select(col("version"), col("sk"),
        explode(lit(probeKeys)).as("probe_key"))
      .join(exact.withColumnRenamed("o_custkey", "probe_key"),
        Seq("version", "probe_key"), "left")
      .select(col("version"), col("probe_key"),
        expr("graft_bloom_might(sk, probe_key)").cast("long").as("might"),
        coalesce(col("present"), lit(0L)).as("present"))
      .orderBy("version", "probe_key")
  }

  /** agg_grouping_sets — ((flag,status),(flag),()) in one pass; subtotal
    * rows surfaced via coalesce-to-'ALL' so no output column is null. */
  val aggGroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("sum_qty"), col("n"))
      .orderBy("flag", "status")

  private def custNationOrders(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))

  /** agg_rollup — hierarchical subtotals over (nation, priority). */
  val aggRollup: Q = (s, d) =>
    custNationOrders(s, d)
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumR4(col("o_totalprice")).as("tot"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nat"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
              col("n"), col("tot"))
      .orderBy("nat", "prio")

  /** agg_cube — all 4 grouping combinations of (nation, priority). */
  val aggCube: Q = (s, d) =>
    custNationOrders(s, d)
      .cube(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumR4(col("o_totalprice")).as("tot"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nat"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
              col("n"), col("tot"))
      .orderBy("nat", "prio")

  /** agg_stats — single-pass moment aggregates (Welford partials merge
    * associatively → same two-phase scale shape as sum/count). */
  val aggStats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
           r4(var_samp(col("l_quantity"))).as("var_qty"),
           r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
           r4(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("cov_qp"))
      .orderBy("l_returnflag")

  /** agg_percentile — exact interpolated median/p90 (matches DuckDB
    * percentile_cont). Exact percentile sorts per group — fine for bounded
    * group counts; the 100 TB fallback is approx_percentile. */
  val aggPercentile: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
           r4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
           count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** agg_having — post-aggregation filter on the rounded aggregate (both
    * engines filter the identically-rounded value: SURVEY.md §7.3). */
  val aggHaving: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .where(col("sum_qty") > 800)
      .orderBy("l_partkey")

  /** agg_mode — most-frequent value per group (order priority per order
    * status), ties broken by the smaller value so both engines agree.
    * The top-1 selection is the repo's min_by discipline — min of the
    * orderable (−count, value) struct over the bounded counts frame —
    * never a ranking window: the count collapse is the only
    * corpus-sized shuffle (map-side combined), the mode pick moves
    * |statuses × priorities| rows. */
  val aggMode: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .groupBy("o_orderstatus")
      .agg(min_by(struct(col("o_orderpriority"), col("n")),
        struct((-col("n")).as("neg"), col("o_orderpriority"))).as("t"))
      .select(col("o_orderstatus"), col("t.o_orderpriority").as("mode_priority"),
        col("t.n").as("n"))
      .orderBy("o_orderstatus")

  /** agg_approx_percentile — GK-sketch quantiles (the 100 TB path: exact
    * percentile needs a per-group sort/full pass; the sketch is one pass,
    * mergeable map-side, bounded memory). Like agg_approx_distinct it is
    * engine-specific by design → no SQL oracle; QuerySemanticsSpec bounds
    * it against the exact percentile (accuracy 10000 ⇒ ≤0.01 rank error). */
  val aggApproxPercentile: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        r4(expr("approx_percentile(o_totalprice, 0.5, 10000)")).as("p50_approx"),
        r4(expr("approx_percentile(o_totalprice, 0.9, 10000)")).as("p90_approx"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** agg_skew_kurt — 3rd/4th standardized moments per group, computed as
    * TWO-PASS centered power sums rather than the built-in skewness/
    * kurtosis: engines disagree both on the one-pass update formulas'
    * ulp behavior and on the estimator convention (sample-bias-corrected
    * vs population), so the oracle contract needs both sides to evaluate
    * the identical IEEE expression — and the two-pass shape IS the
    * 100 TB shape: pass 1 collapses the corpus to |groups| r4'd means
    * (map-side combined), the means broadcast back, pass 2 is one more
    * scan whose per-row centered powers are pre-rounded and summed as
    * exact scaled integers, so merge order can never flip an ulp. The
    * 4th power clears DECIMAL(18,4)'s ~1e14 ceiling at stress scale and
    * rides the DECIMAL(38,4) wide sum; x^1.5 is written m·sqrt(m) (sqrt
    * is correctly-rounded by IEEE — `pow` is not and differs per libm). */
  val aggSkewKurt: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val means = li.groupBy(col("l_returnflag").as("rf"))
      .agg(r4(sum("l_quantity") / count(lit(1))).as("mean_qty"))
    val dx = col("l_quantity") - col("mean_qty")
    li.join(broadcast(means), col("l_returnflag") === col("rf"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           sumR4(dx * dx).as("m2s"),
           sumR4(dx * dx * dx).as("m3s"),
           sumR4W(dx * dx * dx * dx).as("m4s"))
      .select(col("l_returnflag"), col("n"),
        r4((col("m3s") / col("n")) /
           ((col("m2s") / col("n")) * sqrt(col("m2s") / col("n")))).as("skew"),
        r4((col("m4s") / col("n")) /
           ((col("m2s") / col("n")) * (col("m2s") / col("n"))) - 3).as("kurt"))
      .orderBy("l_returnflag")
  }

  /** agg_weighted — frequency-weighted mean and stddev (price-weighted
    * quantity per return flag). Unlike agg_skew_kurt's centered moments
    * the weighted moments are plain sums of per-row products, so the
    * whole operator is ONE two-phase hash aggregate — no second pass.
    * Exact-scaled-integer sums make the ratios merge-order-independent;
    * w·x² magnitudes clear DECIMAL(18,4) at stress scale, so the square
    * rides the DECIMAL(38,4) wide sum. No cancellation risk in the
    * one-pass variance at these magnitudes (E[x²] ~ 7e2 vs mean² ~ 6e2). */
  val aggWeighted: Q = (s, d) => {
    val w = col("l_extendedprice"); val x = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           sumR4(w).as("sw"),
           sumR4(w * x).as("swx"),
           sumR4W(w * x * x).as("swxx"))
      .select(col("l_returnflag"), col("n"),
        r4(col("swx") / col("sw")).as("wmean_qty"),
        r4(sqrt(col("swxx") / col("sw") -
                (col("swx") / col("sw")) * (col("swx") / col("sw")))).as("wsd_qty"))
      .orderBy("l_returnflag")
  }

  /** agg_ttest — Welch two-sample t-test per segment: the A/B-testing
    * primitive every experimentation pipeline runs before shipping a
    * delivery change. Variants are the repo's standard deterministic
    * md5-bucket assignment (bucket < 50 → A — never rand(), so the
    * split is reproducible across engines, runs, and cluster sizes);
    * metric = order total, segment = order priority. Statistics via
    * the agg_corr/agg_skew_kurt two-pass CENTERED discipline: means
    * broadcast back, squared deviations pre-rounded and summed as
    * exact scaled integers, so the sample variances — and the Welch
    * statistic assembled from them — are identical IEEE expressions in
    * both engines. Segments missing a variant drop by the inner join
    * (a test without both arms has no statistic); the fixture
    * populates every cell.
    *
    * Scale shape: two corpus scans (means, then centered squares) each
    * collapsing to |segments|×2 rows map-side, one broadcast rejoin,
    * then an A⋈B join on the bounded segment frame. */
  val aggTtest: Q = (s, d) => {
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6),
      16, 10).cast("long") % 100
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"),
        when(bucket < 50, "A").otherwise("B").as("variant"))
    val means = o.groupBy(col("o_orderpriority").as("p"), col("variant").as("v"))
      .agg(r4(sum("o_totalprice") / count(lit(1))).as("m"))
    val dx = col("o_totalprice") - col("m")
    val st = o.join(broadcast(means),
        col("o_orderpriority") === col("p") && col("variant") === col("v"))
      .groupBy("o_orderpriority", "variant")
      .agg(count(lit(1)).as("n"), first("m").as("mean"),
           (sumR4W(dx * dx) / (count(lit(1)) - 1)).as("s2"))
    val a = st.where(col("variant") === "A")
      .select(col("o_orderpriority"), col("n").as("n_a"),
        col("mean").as("mean_a"), col("s2").as("var_a"))
    val b = st.where(col("variant") === "B")
      .select(col("o_orderpriority").as("p_b"), col("n").as("n_b"),
        col("mean").as("mean_b"), col("s2").as("var_b"))
    a.join(b, col("o_orderpriority") === col("p_b"))
      .select(col("o_orderpriority"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        r4((col("mean_a") - col("mean_b")) /
           sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
          .as("welch_t"))
      .orderBy("o_orderpriority")
  }

  private val GiniBucketWidth = 4096.0

  /** agg_gini — Gini coefficient of order totals per priority: the
    * inequality/concentration index a curation pipeline tracks over
    * contribution distributions (domain share, dedup-cluster mass,
    * spend). Computed from the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) −
    * (n+1)/n under the strict (value, key) order — both engines rank
    * identically, i·x products are exact at the money grain (2 dp ×
    * integer rank) and ride the DECIMAL(38,4) wide sum (Σ i·x reaches
    * ~1e15 at bench scale), so the index is merge-order-free.
    *
    * Scale shape (round 14, guide §2.6 — the llm_shard_balance two-pass
    * prefix machinery): the former per-priority ranking window had
    * |priorities| = 5-way parallelism — five single-task sorts of a
    * fifth of the corpus each, however many cores the session has.
    * Instead, bucket rows by a MONOTONE function of the first order key
    * (floor(price / bucketWidth) — ties on price can never split across
    * buckets, and bucket(p1) < bucket(p2) ⇒ p1 < p2), rank within each
    * (priority, bucket) cell, and add the per-cell offset (count of
    * earlier buckets, a window over the bounded bucket-census frame).
    * offset + within-bucket row_number under the full (price, key)
    * order ≡ the global per-priority rank, exactly, in integers — the
    * same i feeds the same exact-decimal Σi·x, so the output is
    * hash-identical. Parallelism = |priorities|·|buckets| cells of
    * GiniBucketWidth value-space units. */
  val aggGini: Q = (s, d) => {
    val rows = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("bkt",
        floor(col("o_totalprice").cast("double") / GiniBucketWidth).cast("long"))
    val offsets = rows
      .groupBy(col("o_orderpriority").as("pr"), col("bkt").as("bk"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("boff",
        sum("bn").over(Window.partitionBy("pr").orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("bn"))
      .select("pr", "bk", "boff")
    val ww = Window.partitionBy("o_orderpriority", "bkt")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    rows
      .join(broadcast(offsets),
        col("o_orderpriority") === col("pr") && col("bkt") === col("bk"))
      .withColumn("i", (row_number().over(ww) + col("boff")).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
           sumR4W(col("i") * col("o_totalprice")).as("sixy"),
           sumR4(col("o_totalprice")).as("sx"))
      .select(col("o_orderpriority"), col("n"),
        r4(lit(2) * col("sixy") / (col("n") * col("sx")) -
           (col("n") + lit(1)) / col("n")).as("gini"))
      .orderBy("o_orderpriority")
  }

  /** agg_chisq — χ² independence test over the (return flag ×
    * line status) contingency table: observed count, expected count
    * under independence (row·col/n), per-cell contribution, the table
    * χ² and degrees of freedom on every row — the categorical-drift /
    * association screen a delivery runs between any two dimensions.
    * All inputs to the statistic are exact longs (the cell counts), so
    * expected = rowT·colT/n and each contribution are identical IEEE
    * expressions cross-engine; the table χ² sums the r4'd contributions
    * as exact scaled integers over the bounded cell frame.
    *
    * Scale shape: ONE map-side-combined corpus aggregate down to the
    * |rf|×|ls| cell frame; marginals, total, χ² and df all ride
    * windows over those ≤9 rows — never a second scan. */
  val aggChisq: Q = (s, d) => {
    val all = Window.partitionBy(lit(1))
    val byRf = Window.partitionBy("l_returnflag")
    val byLs = Window.partitionBy("l_linestatus")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .withColumn("rowT", sum("n").over(byRf))
      .withColumn("colT", sum("n").over(byLs))
      .withColumn("tot", sum("n").over(all))
      // rowT·1.0·colT keeps the marginal product in DOUBLE: a long·long
      // product overflows 2^63 once the marginals pass ~3e9 rows (the
      // operator's own target regime) — Spark would wrap silently while
      // DuckDB errors, breaking the cross-engine contract. Rounding is
      // unchanged below 2^53 (one IEEE multiply either way).
      .withColumn("exp_raw",
        col("rowT") * lit(1.0) * col("colT") / col("tot"))
      .withColumn("contrib", r4(
        (col("n") - col("exp_raw")) * (col("n") - col("exp_raw")) / col("exp_raw")))
      .withColumn("chi2", sum(r4(col("contrib")).cast("decimal(18,4)")).over(all)
        .cast("double"))
      .withColumn("df",
        ((size(collect_set("l_returnflag").over(all)) - 1) *
         (size(collect_set("l_linestatus").over(all)) - 1)).cast("long"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        r4(col("exp_raw")).as("exp_n"), col("contrib"), col("chi2"), col("df"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** agg_corr — per-group Pearson correlation + sample covariance
    * (quantity vs line revenue per return flag), via the agg_skew_kurt
    * two-pass CENTERED discipline rather than the built-in corr/
    * covar_samp: the one-pass raw-moment formula n·Σxy − Σx·Σy loses
    * ~10 significant digits to cancellation at money magnitudes (Σxy ~
    * 1e13 at bench scale, growing with the corpus), and the built-ins'
    * update order is engine- and merge-order-dependent — centered
    * products are O(σ²), cancellation-free, and the identical IEEE
    * expression on both sides. Pass 1 collapses to |groups| r4'd means
    * (map-side combined) broadcast back; pass 2 sums pre-rounded
    * centered products as exact scaled integers (order-free; the xy/x²/
    * y² products at centered magnitudes stay far under DECIMAL(18,4)'s
    * ceiling except y-squared at money scale, which rides the wide
    * sum). */
  val aggCorr: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val means = li.groupBy(col("l_returnflag").as("rf"))
      .agg(r4(sum("l_quantity") / count(lit(1))).as("mx"),
           r4(sum(rev) / count(lit(1))).as("my"))
    val dx = col("l_quantity") - col("mx")
    val dy = rev - col("my")
    li.join(broadcast(means), col("l_returnflag") === col("rf"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           sumR4(dx * dy).as("sxy"),
           sumR4(dx * dx).as("sxx"),
           sumR4W(dy * dy).as("syy"))
      .select(col("l_returnflag"), col("n"),
        r4(col("sxy") / sqrt(col("sxx") * col("syy"))).as("corr_qty_rev"),
        r4(col("sxy") / (col("n") - 1)).as("covar_qty_rev"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, Q] = Map(
    "agg_hash"            -> aggHash,
    "agg_skew_kurt"       -> aggSkewKurt,
    "agg_weighted"        -> aggWeighted,
    "agg_corr"            -> aggCorr,
    "agg_ttest"           -> aggTtest,
    "agg_gini"            -> aggGini,
    "agg_chisq"           -> aggChisq,
    "agg_distinct"        -> aggDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_hll_partial"     -> aggHllPartial,
    "agg_cms_partial"     -> aggCmsPartial,
    "agg_bloom_partial"   -> aggBloomPartial,
    "agg_grouping_sets"   -> aggGroupingSets,
    "agg_rollup"          -> aggRollup,
    "agg_cube"            -> aggCube,
    "agg_stats"           -> aggStats,
    "agg_percentile"      -> aggPercentile,
    "agg_having"          -> aggHaving,
    "agg_mode"            -> aggMode,
    "agg_approx_percentile" -> aggApproxPercentile,
  )

  val oracle: Map[String, String] = Map(
    "agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty,
        | CAST(sum(CAST(floor((l_extendedprice) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
        | floor((sum(l_quantity) / count(*)) * 10000 + 0.5) / 10000 AS avg_qty,
        | floor((sum(l_extendedprice) / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
        | floor((sum(l_discount) / count(*)) * 10000 + 0.5) / 10000 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS nd_part,
        | count(DISTINCT l_suppkey) AS nd_supp,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY flag, status""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nat,
        | coalesce(o_orderpriority, 'ALL') AS prio,
        | count(*) AS n, CAST(sum(CAST(floor((o_totalprice) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS tot
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY nat, prio""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(n_name, 'ALL') AS nat,
        | coalesce(o_orderpriority, 'ALL') AS prio,
        | count(*) AS n, CAST(sum(CAST(floor((o_totalprice) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS tot
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, o_orderpriority)
        |ORDER BY nat, prio""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        | floor((stddev_samp(l_quantity)) * 10000 + 0.5) / 10000 AS sd_qty,
        | floor((var_samp(l_quantity)) * 10000 + 0.5) / 10000 AS var_qty,
        | floor((corr(l_quantity, l_extendedprice)) * 10000 + 0.5) / 10000 AS corr_qp,
        | floor((covar_pop(l_quantity, l_extendedprice)) * 10000 + 0.5) / 10000 AS cov_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderpriority,
        | floor((percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)) * 10000 + 0.5) / 10000 AS p50,
        | floor((percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)) * 10000 + 0.5) / 10000 AS p90,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        | SELECT o_orderstatus, o_orderpriority, count(*) AS n
        | FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
        | SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |   ORDER BY n DESC, o_orderpriority) AS rn FROM c)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "agg_having" ->
      """SELECT l_partkey, floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_partkey
        |HAVING floor((sum(l_quantity)) * 10000 + 0.5) / 10000 > 800
        |ORDER BY l_partkey""".stripMargin,
    "agg_skew_kurt" ->
      s"""WITH m AS (
        | SELECT l_returnflag AS rf,
        |  ${r4Sql("sum(l_quantity) / count(*)")} AS mean_qty
        | FROM lineitem GROUP BY 1),
        |a AS (
        | SELECT l_returnflag, count(*) AS n,
        |  ${sumR4Sql("(l_quantity - mean_qty) * (l_quantity - mean_qty)")} AS m2s,
        |  ${sumR4Sql("(l_quantity - mean_qty) * (l_quantity - mean_qty) * (l_quantity - mean_qty)")} AS m3s,
        |  ${sumR4WSql("(l_quantity - mean_qty) * (l_quantity - mean_qty) * (l_quantity - mean_qty) * (l_quantity - mean_qty)")} AS m4s
        | FROM lineitem JOIN m ON l_returnflag = rf
        | GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ${r4Sql("(m3s / n) / ((m2s / n) * sqrt(m2s / n))")} AS skew,
        | ${r4Sql("(m4s / n) / ((m2s / n) * (m2s / n)) - 3")} AS kurt
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_weighted" ->
      s"""WITH a AS (
        | SELECT l_returnflag, count(*) AS n,
        |  ${sumR4Sql("l_extendedprice")} AS sw,
        |  ${sumR4Sql("l_extendedprice * l_quantity")} AS swx,
        |  ${sumR4WSql("l_extendedprice * l_quantity * l_quantity")} AS swxx
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ${r4Sql("swx / sw")} AS wmean_qty,
        | ${r4Sql("sqrt(swxx / sw - (swx / sw) * (swx / sw))")} AS wsd_qty
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_corr" ->
      s"""WITH m AS (
        | SELECT l_returnflag AS rf,
        |  ${r4Sql("sum(l_quantity) / count(*)")} AS mx,
        |  ${r4Sql("sum(l_extendedprice * (1 - l_discount)) / count(*)")} AS my
        | FROM lineitem GROUP BY 1),
        |a AS (
        | SELECT l_returnflag, count(*) AS n,
        |  ${sumR4Sql("(l_quantity - mx) * (l_extendedprice * (1 - l_discount) - my)")} AS sxy,
        |  ${sumR4Sql("(l_quantity - mx) * (l_quantity - mx)")} AS sxx,
        |  ${sumR4WSql("(l_extendedprice * (1 - l_discount) - my) * (l_extendedprice * (1 - l_discount) - my)")} AS syy
        | FROM lineitem JOIN m ON l_returnflag = rf
        | GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ${r4Sql("sxy / sqrt(sxx * syy)")} AS corr_qty_rev,
        | ${r4Sql("sxy / (n - 1)")} AS covar_qty_rev
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_ttest" ->
      s"""WITH o AS (
        | SELECT o_orderpriority, o_totalprice,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 50
        |   THEN 'A' ELSE 'B' END AS variant
        | FROM orders),
        |m AS (
        | SELECT o_orderpriority AS p, variant AS v,
        |  ${r4Sql("sum(o_totalprice) / count(*)")} AS m
        | FROM o GROUP BY 1, 2),
        |st AS (
        | SELECT o_orderpriority, variant, count(*) AS n, first(m.m) AS mean,
        |  ${sumR4WSql("(o_totalprice - m.m) * (o_totalprice - m.m)")} / (count(*) - 1) AS s2
        | FROM o JOIN m ON o.o_orderpriority = m.p AND o.variant = m.v
        | GROUP BY 1, 2)
        |SELECT a.o_orderpriority, a.n AS n_a, b.n AS n_b,
        | a.mean AS mean_a, b.mean AS mean_b,
        | ${r4Sql("(a.mean - b.mean) / sqrt(a.s2 / a.n + b.s2 / b.n)")} AS welch_t
        |FROM (SELECT * FROM st WHERE variant = 'A') a
        |JOIN (SELECT * FROM st WHERE variant = 'B') b
        |  ON a.o_orderpriority = b.o_orderpriority
        |ORDER BY a.o_orderpriority""".stripMargin,
    "agg_chisq" ->
      s"""WITH c AS (
        | SELECT l_returnflag, l_linestatus, count(*) AS n
        | FROM lineitem GROUP BY 1, 2),
        |m AS (
        | SELECT *,
        |  sum(n) OVER (PARTITION BY l_returnflag) AS rowT,
        |  sum(n) OVER (PARTITION BY l_linestatus) AS colT,
        |  sum(n) OVER () AS tot,
        |  (SELECT count(DISTINCT l_returnflag) FROM c) AS nr,
        |  (SELECT count(DISTINCT l_linestatus) FROM c) AS nc
        | FROM c),
        |x AS (
        | SELECT *, rowT * 1.0 * colT / tot AS exp_raw,
        |  ${r4Sql("(n - rowT * 1.0 * colT / tot) * (n - rowT * 1.0 * colT / tot) / (rowT * 1.0 * colT / tot)")} AS contrib
        | FROM m)
        |SELECT l_returnflag, l_linestatus, n,
        | ${r4Sql("exp_raw")} AS exp_n, contrib,
        | CAST(sum(CAST(contrib AS DECIMAL(18,4))) OVER () AS DOUBLE) AS chi2,
        | CAST((nr - 1) * (nc - 1) AS BIGINT) AS df
        |FROM x ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_gini" ->
      s"""WITH r AS (
        | SELECT o_orderpriority, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice, o_orderkey) AS i
        | FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        | ${r4Sql(s"2 * ${sumR4WSql("i * o_totalprice")} / (count(*) * ${sumR4Sql("o_totalprice")}) - (count(*) + 1.0) / count(*)")} AS gini
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
