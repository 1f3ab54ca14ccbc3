package graft.delivery

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation for delivered datasets: each rule is a
  * predicate counted over the data, plus referential checks via anti
  * joins. Everything is an aggregation — one pass per ruleset, no
  * collect — so a 100 TB validation is a handful of scans with map-side
  * partial counts (and the FK checks are standard shuffled anti joins).
  */
object Validate {

  /** Count rows violating each (name, violation-predicate) rule. */
  def counts(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = rules.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(name)
    }
    df.agg(aggs.head, aggs.tail: _*)
      .unpivot(Array.empty[Column], rules.map(r => col(r._1)).toArray, "rule", "n_viol")
  }

  /** Orphan count (child rows whose key has no match in parent) as a
    * 1-row DataFrame, for unioning into a report. */
  def fkOrphanRow(rule: String, child: DataFrame, key: String,
                  parent: DataFrame, pkey: String): DataFrame = {
    val spark = child.sparkSession
    import spark.implicits._
    child.join(parent, child(key) === parent(pkey), "left_anti")
      .agg(count(lit(1)).as("n_viol"))
      .select(lit(rule).as("rule"), $"n_viol")
  }

  /** Per-column completeness/cardinality profile of a delivered frame:
    * rows, nulls, exact distincts, and domain bounds per column — the
    * summary a delivery prints before handoff, and the cheap equality
    * witness between a source and its delivered copy (profile(src) ==
    * profile(dst) catches dropped rows, nulled columns and truncated
    * domains in one ≤(cols)-row compare). Numeric bounds emit as
    * r4-rounded doubles, string bounds verbatim, each type in its own
    * min/max columns — a unified VARCHAR column would pull
    * engine-specific number formatting into any cross-engine compare
    * (queries.Extras.dqProfile is the oracle-checked twin on orders).
    * Scale: the non-distinct metrics (rows, nulls, bounds) are ONE
    * scan/agg; each exact distinct count is its own two-level
    * aggregate (groupBy column → count groups) crossJoined in as a
    * broadcast 1-row frame — NOT one agg carrying every countDistinct,
    * which Catalyst compiles to an Expand that shuffles
    * (n_profiled_cols + 1) × the row count in one wide exchange
    * (measured 1.24 vs 0.74 s warm on sf0.1 orders; BASELINE.md,
    * round-10 eighth session).
    * The per-column subtrees re-scan, but each scan PRUNES to its one
    * column (column re-reads, not corpus re-reads — parquet pays bytes
    * per column), and each shuffle moves only the map-side-combined
    * distinct partials of that column: at 100 TB that trades
    * (cols+1)× row-count exchange volume for cols× single-column
    * scans — the right side of the trade everywhere shuffle is the
    * scarcer resource. At extreme cardinalities swap in
    * approx_count_distinct. */
  def profile(df: DataFrame, numCols: Seq[String], strCols: Seq[String]): DataFrame = {
    require(numCols.nonEmpty || strCols.nonEmpty, "profile needs at least one column")
    // The per-column fan-out executes the input (cols+1)×. That is only
    // the cheap column-pruned re-scan — and only a CONSISTENT snapshot
    // (n_rows agreeing with every nd_*) — when the input is a
    // deterministic scan (optionally projected/filtered). A derived or
    // non-deterministic input is cut once so every subtree reads the
    // same materialized rows instead of re-running its upstream plan
    // (ADVICE r10: profile() is a public delivery API, not just the
    // scan-shaped internal callers).
    val src = {
      import org.apache.spark.sql.catalyst.plans.logical._
      def scanish(p: LogicalPlan): Boolean = p match {
        case _: LeafNode      => true
        case s: SubqueryAlias => scanish(s.child)
        case pr: Project      => pr.projectList.forall(_.deterministic) && scanish(pr.child)
        case f: Filter        => f.condition.deterministic && scanish(f.child)
        case _                => false
      }
      if (scanish(df.queryExecution.analyzed)) df else graft.ops.Lineage.cut(df)
    }
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
      (numCols ++ strCols).map { c =>
        // sum over zero rows is NULL — an EMPTY table has 0 nulls, and
        // the profile must stay well-typed on it (EmptyInputSpec)
        coalesce(sum(col(c).isNull.cast("long")), lit(0L)).as(s"null_$c")
      } ++
      numCols.flatMap { c =>
        Seq(graft.ops.Det.r4(min(col(c)).cast("double")).as(s"min_$c"),
            graft.ops.Det.r4(max(col(c)).cast("double")).as(s"max_$c"))
      } ++
      strCols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
      }
    val base = src.agg(aggs.head, aggs.tail: _*)
    // one narrow two-level aggregate per profiled column (isNotNull
    // mirrors countDistinct's null handling; 0 groups on an empty or
    // all-null column still counts to one 0-valued row)
    val withNd = (numCols ++ strCols).foldLeft(base) { (acc, c) =>
      acc.crossJoin(broadcast(
        src.select(col(c)).where(col(c).isNotNull).groupBy(col(c)).agg(lit(1))
          .agg(count(lit(1)).as(s"nd_$c"))))
    }
    // cut: the 1-row metrics frame feeds one select per profiled column
    val m = graft.ops.Lineage.cut(withNd)
    val rows = numCols.map { c =>
      m.select(lit(c).as("col_name"), col("n_rows"),
        col(s"null_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
        col(s"min_$c").as("min_num"), col(s"max_$c").as("max_num"),
        lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
    } ++ strCols.map { c =>
      m.select(lit(c).as("col_name"), col("n_rows"),
        col(s"null_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
        lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
        col(s"min_$c").as("min_str"), col(s"max_$c").as("max_str"))
    }
    rows.reduce(_ unionAll _).orderBy("col_name")
  }

  /** Distribution-drift profile between two deliveries of the same
    * dataset (yesterday's table vs today's): per-bin Population
    * Stability Index over a fixed-width histogram of `valueCol` — the
    * delivery-surface form of queries.Extras.dqDrift, which derives its
    * two versions from an md5 split of ONE table; here they are two real
    * frames. Shares are Laplace-smoothed ((n+1)/(N+nBins)) so bins one
    * delivery never hits stay defined; psi = (p−q)·ln(p/q) per bin
    * (sum the column for the headline number; |total| ≳ 0.2 is the
    * classic "investigate" threshold). Identical frames report exactly
    * 0.0 per bin — equal counts make the smoothed shares equal before
    * rounding. Scale: one pass over each frame (tagged union → a single
    * ≤nBins-key conditional agg), no joins wider than a 1-row totals
    * broadcast. */
  def driftReport(prev: DataFrame, cur: DataFrame, valueCol: String,
                  binW: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    def binned(df: DataFrame, tag: Int) =
      df.select(
        least(floor(col(valueCol) / binW), lit(nBins - 1L)).cast("long").as("bin"),
        lit(tag).as("src"))
    val bins = binned(prev, 0).unionAll(binned(cur, 1))
      .groupBy("bin")
      .agg(sum(when(col("src") === 0, 1L).otherwise(0L)).as("n_prev"),
           sum(when(col("src") === 1, 1L).otherwise(0L)).as("n_new"))
    val tot = bins.agg(sum("n_prev").as("tp"), sum("n_new").as("tn"))
    val sp = (col("n_prev") + 1.0) / (col("tp") + nBins.toDouble)
    val sn = (col("n_new") + 1.0) / (col("tn") + nBins.toDouble)
    bins.crossJoin(broadcast(tot))
      .select(
        (col("bin") * binW).as("bin_lo"),
        col("n_prev"), col("n_new"),
        graft.ops.Det.r4(sp).as("share_prev"),
        graft.ops.Det.r4(sn).as("share_new"),
        graft.ops.Det.r4((sp - sn) * log(sp / sn)).as("psi"))
      .orderBy("bin_lo")
  }
}
