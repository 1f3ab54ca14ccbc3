package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** Join operators — SURVEY.md §2.3.
  *
  * Scale design notes (100 TB):
  *  - dims (part, nation, region) get explicit `broadcast()` hints →
  *    BroadcastHashJoin, no shuffle of the fact side;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle both sides on the key →
  *    SortMergeJoin; AQE handles skew splitting at runtime;
  *  - the as-of join is the union-then-window formulation: O(n log n) per
  *    key instead of the O(events × orders) range-join blowup per user —
  *    this is the 100 TB-safe shape (a range join here would be quadratic
  *    in the per-user row counts);
  *  - the cross join is explicitly bounded (pairs of the small embeddings
  *    table) and exists as the brute-force baseline the LSH path in
  *    graft.functions replaces at scale.
  */
object Joins {

  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** join_broadcast — fact ⋈ broadcast(dim); plan pinned to
    * BroadcastHashJoin (asserted in JoinSpec). */
  val joinBroadcast: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"), sumR4(revenue).as("revenue"))
      .orderBy("p_brand")

  /** join_shuffle — large ⋈ large on o_orderkey → SortMergeJoin. */
  val joinShuffle: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sumR4(revenue).as("revenue"))
      .orderBy("o_orderpriority")

  /** join_multiway — TPC-H Q5-shape star: region ⋈ nation ⋈ customer ⋈
    * orders ⋈ lineitem; small dims broadcast, facts shuffle once. */
  val joinMultiway: Q = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_lines"), sumR4(revenue).as("revenue"))
      .orderBy("r_name", "n_name")

  /** join_left — null-side aggregation: orders with zero recent lineitems
    * keep count 0 / qty 0. */
  val joinLeft: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
    Tables.orders(s, d)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_lines"),
           r4(coalesce(sum("l_quantity"), lit(0.0))).as("qty"))
      .orderBy("o_orderkey")
  }

  /** join_full — full outer over two derived sides (rich customers vs
    * big-spender custkeys) so both null sides are populated. */
  val joinFull: Q = (s, d) => {
    val a = Tables.customer(s, d).where(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_acctbal"))
    val b = Tables.orders(s, d).where(col("o_totalprice") > 50000)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_big"), r4(sum("o_totalprice")).as("tot_big"))
    a.join(b, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").isNotNull.cast("int").as("has_cust"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        r4(coalesce(col("tot_big"), lit(0.0))).as("tot_big"))
      .orderBy("custkey")
  }

  /** join_semi — EXISTS: orders having any max-quantity lineitem. */
  val joinSemi: Q = (s, d) => {
    val li = Tables.lineitem(s, d).where(col("l_quantity") > 49)
    Tables.orders(s, d)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** join_anti — NOT EXISTS: orders with no early-shipped line. */
  val joinAnti: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    Tables.orders(s, d)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
      .orderBy("o_orderkey")
  }

  /** join_band — PURE numeric band join with NO shared key: customers
    * matched to suppliers within ±10 of account balance — the
    * record-linkage / fuzzy-numeric-match primitive (entity resolution,
    * sensor alignment, price matching). Spark has no native inequality-
    * join algorithm, so the naive formulation is a BroadcastNestedLoop/
    * Cartesian O(N·M) comparison — dead at scale. The scale path is
    * BANDING: bucket both sides at width = δ, explode the SMALLER side
    * into its 3 adjacent buckets (s ∈ [c−δ, c+δ] spans at most 3
    * δ-width buckets, so coverage is exact by construction), equi-join
    * on the bucket id, refine with the exact |c−s| ≤ δ predicate. All
    * hash-join algebra — broadcastable small side here, plain SMJ when
    * both sides are large; candidate volume is Σ per-bucket n·m, the
    * band-density bound, never N·M. No pair dedup is needed: the probe
    * side carries ONE bucket and the build side's 3 are distinct, so a
    * pair matches at most once. The oracle runs the naive inequality
    * join (DuckDB's IEJoin), pinning the banded construction
    * semantically identical. join_theta_range covers the equi-key+range
    * residual shape; this is the no-equi-key case. */
  val joinBand: Q = (s, d) => {
    val width = 10
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        floor(col("c_acctbal") / width).cast("long").as("bkt"))
    val sBkt = floor(col("s_acctbal") / width).cast("long")
    val supp = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array(sBkt - 1, sBkt, sBkt + 1)).as("bkt"))
    cust.join(supp, Seq("bkt"))
      .where(abs(col("c_acctbal") - col("s_acctbal")) <= width)
      .select(col("c_custkey"), col("s_suppkey"),
        r4(col("c_acctbal") - col("s_acctbal")).as("bal_diff"))
      .orderBy("c_custkey", "s_suppkey")
  }

  /** join_theta_range — equi key + range residual: line shipped within 90
    * days of its order date. SMJ on the equi key, range as post-filter. */
  val joinThetaRange: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sumR4(revenue).as("revenue"))
      .orderBy("o_orderpriority")

  /** join_asof — latest order at-or-before each event's ts, per
    * user(=custkey). Union-then-window formulation (SURVEY.md §7.3 item 6):
    * tag both streams, sort by (t, orders-first, okey), running
    * `last(okey ignoreNulls)` — definitionally the ASOF (≥, latest) join,
    * with max-okey tiebreak on equal dates, and O(n log n) per user. */
  val joinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      col("user_id").as("u"), col("ts").as("t"),
      col("event_id"), lit(0).as("is_order"), lit(null).cast("long").as("okey"))
    val or = Tables.orders(s, d).select(
      col("o_custkey").as("u"), col("o_orderdate").as("t"),
      lit(null).cast("long").as("event_id"), lit(1).as("is_order"),
      col("o_orderkey").as("okey"))
    val w = Window.partitionBy("u")
      .orderBy(col("t"), col("is_order").desc, col("okey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(or)
      .withColumn("last_okey", last("okey", ignoreNulls = true).over(w))
      .where(col("is_order") === 0 && col("last_okey").isNotNull)
      .select(col("event_id"), col("u").as("user_id"),
              epochS(col("t")).as("ts_s"), col("last_okey").as("o_orderkey"))
      .orderBy("event_id")
  }

  /** join_cross_topk — bounded cross join over embedding pairs, global
    * top-100 by rounded dot product. Brute-force baseline for §2.10;
    * higher-order functions keep it inside codegen (no UDF). */
  val joinCrossTopk: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id").as("vid_a"), col("embedding").cast("array<double>").as("ea"))
    val b = e.select(col("vec_id").as("vid_b"), col("embedding").cast("array<double>").as("eb"))
    // spread the streamed side of the quadratic scorer (spreadProbe
    // rationale in queries/package.scala): the 4M-dot-product stage ran
    // as ONE task off the single-row-group fixture scan; the global
    // top-100 (TakeOrderedAndProject) is per-partition-pruned, so wider
    // input also shrinks what reaches the driver-side merge
    spreadProbe(a, col("vid_a")).crossJoin(broadcast(b))
      .where(col("vid_a") < col("vid_b"))
      .select(col("vid_a"), col("vid_b"), r4(expr("graft_dot(ea, eb)")).as("dot"))
      .orderBy(col("dot").desc, col("vid_a"), col("vid_b"))
      .limit(100)
  }

  /** join_salted — skew-safe fact-dim equi-join: the fact side carries a
    * deterministic salt (l_linenumber % 8 — never rand(), so the plan is
    * reproducible), the dim side is exploded ×8, and the key becomes
    * (orderkey, salt). Result is IDENTICAL to the plain join (the oracle
    * runs the unsalted SQL), but a hot orderkey now spreads over 8
    * reducers instead of melting one — the manual fallback when AQE
    * skew-join can't kick in (e.g. skew only visible post-filter).
    * SkewSpec measures the partition-balance effect directly. */
  val joinSalted: Q = (s, d) => {
    val S = 8
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        (col("l_linenumber") % S).cast("int").as("salt"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        explode(expr(s"sequence(0, ${S - 1})")).as("salt"))
    fact.join(dim, col("l_orderkey") === col("o_orderkey") &&
        fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sumR4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** join_bucketed — co-located bucketed join: both fact tables are
    * DELIVERED bucketed (and per-bucket sorted) on the join key, so the
    * later join reads bucket-aligned files and its plan carries NO
    * shuffle exchange and NO sort under the SortMergeJoin (JoinSpec pins
    * both). This is the warehouse layout decision that makes every
    * subsequent key-join over a 100 TB fact table shuffle-free — the
    * single biggest repeated-cost lever there is; the write prices the
    * one-time layout cost, exactly like copy_partitioned does for
    * partition pruning. Bucket count 8 here; on a cluster it scales with
    * data volume (buckets ≈ data / target-split-size), and both sides
    * must agree on it for co-location.
    *
    * The oracle can't see Spark's bucket layout, so it verifies the
    * JOIN RESULT over the raw tables — the bucketed copy must be
    * content-lossless and the co-located join plan answer-identical to
    * the shuffled one. */
  val joinBucketed: Q = (s, d) => {
    // through the delivery surface (delivery/Deliver.copyBucketed), so
    // the query prices and exercises the layout step the product ships;
    // a fixed per-(session, dataset) external location + overwrite
    // (Tables.scratchDir). The CATALOG names carry the same dataset key
    // as the location: session-global fixed names would let interleaved
    // invocations for two datasets in one session race on DROP
    // TABLE/saveAsTable — one call's delivered frame dropped out from
    // under the other's not-yet-executed join.
    val tmp = Tables.scratchDir(s, d, "bkt")
    val dKey = Tables.datasetKey(d)
    // source via Tables.servingPath: the bucketed layout is built FROM
    // the warehouse's serving copy (layout-normalized when the raw
    // source is a single-row-group file), like every other reader —
    // the priced operation here is the bucketed WRITE, not a serial
    // re-read of a hostile source layout
    graft.delivery.Deliver.copyBucketed(
      s, Tables.servingPath(s, d, "lineitem"), s"graft_bkt_lineitem_$dKey",
      "l_orderkey", 8,
      location = Some(s"$tmp/lineitem"),
      columns = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"))
    graft.delivery.Deliver.copyBucketed(
      s, Tables.servingPath(s, d, "orders"), s"graft_bkt_orders_$dKey",
      "o_orderkey", 8,
      location = Some(s"$tmp/orders"),
      columns = Seq("o_orderkey", "o_orderstatus"))
    s.table(s"graft_bkt_lineitem_$dKey")
      .join(s.table(s"graft_bkt_orders_$dKey"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        r4(sum("l_quantity")).as("sum_qty"),
        sumR4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** join_nullsafe — null-safe equality join (`<=>`): the BUILDING
    * segment is nulled out on BOTH sides via nullif, and the null-keyed
    * rows must still pair with the null-keyed dim row — a plain
    * equi-join silently drops them, the classic lost-rows bug when a
    * key-normalization pipeline maps sentinel values to NULL. Spark
    * plans EqualNullSafe as a true equi-join key (coalesced hash key),
    * so the broadcast-hash shape survives; the dim side is |segments|
    * rows by construction at any corpus size. */
  val joinNullsafe: Q = (s, d) => {
    val segN = nullif(col("c_mktsegment"), lit("BUILDING"))
    val dim = Tables.customer(s, d)
      .groupBy(segN.as("seg_d"))
      .agg(count(lit(1)).as("n_seg"),
           r4(sum("c_acctbal") / count(lit(1))).as("avg_bal"))
    Tables.customer(s, d)
      .select(col("c_custkey"), segN.as("seg"))
      .join(broadcast(dim), col("seg") <=> col("seg_d"))
      .select(col("c_custkey"), col("seg"), col("n_seg"), col("avg_bal"))
      .orderBy("c_custkey")
  }

  val queries: Map[String, Q] = Map(
    "join_nullsafe"    -> joinNullsafe,
    "join_bucketed"    -> joinBucketed,
    "join_broadcast"   -> joinBroadcast,
    "join_shuffle"     -> joinShuffle,
    "join_multiway"    -> joinMultiway,
    "join_left"        -> joinLeft,
    "join_full"        -> joinFull,
    "join_semi"        -> joinSemi,
    "join_anti"        -> joinAnti,
    "join_theta_range" -> joinThetaRange,
    "join_band"        -> joinBand,
    "join_asof"        -> joinAsof,
    "join_cross_topk"  -> joinCrossTopk,
    "join_salted"      -> joinSalted,
  )

  val oracle: Map[String, String] = Map(
    "join_nullsafe" ->
      s"""WITH c AS (
        | SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
        | FROM customer),
        |dim AS (
        | SELECT seg AS seg_d, count(*) AS n_seg,
        |  ${r4Sql("sum(c_acctbal) / count(*)")} AS avg_bal
        | FROM c GROUP BY seg)
        |SELECT c_custkey, seg, n_seg, avg_bal
        |FROM c JOIN dim ON seg IS NOT DISTINCT FROM seg_d
        |ORDER BY c_custkey""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        | floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_broadcast" ->
      """SELECT p_brand, count(*) AS n_items,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_multiway" ->
      """SELECT r_name, n_name, count(*) AS n_lines,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "join_left" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_lines,
        | floor((coalesce(sum(l_quantity), 0)) * 10000 + 0.5) / 10000 AS qty
        |FROM orders LEFT JOIN
        | (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00') li
        | ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "join_full" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        | CAST(c_custkey IS NOT NULL AS INT) AS has_cust,
        | coalesce(n_big, 0) AS n_big,
        | floor((coalesce(tot_big, 0)) * 10000 + 0.5) / 10000 AS tot_big
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) a
        |FULL OUTER JOIN
        | (SELECT o_custkey, count(*) AS n_big, floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS tot_big
        |  FROM orders WHERE o_totalprice > 50000 GROUP BY o_custkey) b
        | ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,
    "join_anti" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
        |ORDER BY o_orderkey""".stripMargin,
    "join_band" ->
      s"""SELECT c_custkey, s_suppkey,
        | ${r4Sql("c_acctbal - s_acctbal")} AS bal_diff
        |FROM customer JOIN supplier
        |  ON abs(c_acctbal - s_acctbal) <= 10
        |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "join_theta_range" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_asof" ->
      """SELECT event_id, user_id, ts_s, last_okey AS o_orderkey FROM (
        | SELECT event_id, u AS user_id, CAST(floor(epoch(t)) AS BIGINT) AS ts_s, is_order,
        |  last_value(okey IGNORE NULLS) OVER (
        |    PARTITION BY u ORDER BY t, is_order DESC, okey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey
        | FROM (
        |  SELECT user_id AS u, ts AS t, event_id, 0 AS is_order, CAST(NULL AS BIGINT) AS okey FROM events
        |  UNION ALL
        |  SELECT o_custkey, o_orderdate, CAST(NULL AS BIGINT), 1, o_orderkey FROM orders)
        |) WHERE is_order = 0 AND last_okey IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "join_cross_topk" ->
      """SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
        | floor((list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 10000 + 0.5) / 10000 AS dot
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |ORDER BY dot DESC, vid_a, vid_b LIMIT 100""".stripMargin,
    "join_salted" -> // the UNSALTED join: salting must not change the result
      s"""SELECT o_orderpriority, count(*) AS n_items,
        | ${sumR4Sql("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
