package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Lineage
import graft.ops.Det._

/** Graph analytics over relational edge extractions (round 9, fifth
  * session) — the link-analysis family a web-corpus pipeline runs
  * beside dedup clustering: authority scoring (PageRank — the
  * quality-prior signal CommonCrawl-scale curation ranks domains by)
  * and triangle/clustering-structure censuses (community density,
  * spam-farm detection). llm_dedup_cluster already covers connected
  * components; these add the ITERATIVE-SCORING and LOCAL-STRUCTURE
  * primitives on a real multi-million-edge graph.
  *
  * The edge extraction is the adapter, not the semantics: the fixtures
  * carry no hyperlinks, so the graph is the part CO-PURCHASE graph
  * (parts sharing an order — 2.4 M directed edges / 20 k nodes at
  * sf0.1), standing in for the domain link graph with the same code
  * shape. Round 10 widened the family to eight operators (edges_build,
  * degree_hist, cluster_coeff, jaccard, khop, cc beside
  * pagerank/triangles)
  * over parquet-backed materialized views (below). Every operator keeps
  * its intermediates bounded the way the 100 TB versions must:
  * PageRank's per-node state is |nodes| rows (broadcast as the
  * per-iteration message table), never edge-sized; every wedge join
  * (triangles, cluster_coeff, jaccard) runs on a deterministically
  * hash-sparsified subgraph (DOULION, Tsourakakis et al. KDD'09) —
  * never the FULL graph's O(Σ deg²) wedge set — with the census scaled
  * back by 1/p³ where an unbiased estimate is the contract.
  */
object Graphs {

  /** Materialized graph views, PARQUET-backed. Seven graph
    * queries derive from the SAME co-purchase edge extraction (and its
    * sparsified/oriented sub-views); rebuilding the link graph from the
    * fact table inside every query is the unrealistic posture — a
    * production deployment materializes the web/link graph ONCE as a
    * table and every graph job reads the artifact (the DigestIndex/
    * SignatureIndex economics, graph form). Each view is written once
    * per (session, dataset, variant) to a scratch parquet table
    * (graph_edges_build prices the build; consumers pay a ~40 MB file
    * read); a FILE artifact — unlike cached/checkpointed RDD blocks —
    * survives the harness sweep() that unpersists every persistent RDD
    * between bench queries (a block-backed cache dies at the first
    * sweep and every later hit throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND;
    * GraphSpec pins sweep-immunity). Readers re-resolve the file
    * listing per call, so a graph_edges_build refresh between queries
    * is safe, and the view is published by ATOMIC RENAME of a
    * process-unique temp dir (publish() below) — concurrent sessions
    * landing on one scratch key each build privately and exactly one
    * rename wins, so a reader never observes a half-written view.
    * The double-checked lock is reentrant, so nested view builds
    * (oriented ← kept ← edges) are safe. */
  private val viewLock = new Object

  private def viewDir(s: org.apache.spark.sql.SparkSession, d: String,
                      tag: String): String = {
    // stamp the key with the source fact table's mtime: a regenerated
    // corpus at the SAME path (StressGen reuse=0 reruns) must never be
    // served a stale view — a fresh generation shifts the mtime, which
    // shifts the scratch dir (the abandoned old view is bounded by the
    // number of regenerations and lives in tmp)
    val src = new java.io.File(d, "lineitem.parquet")
    Tables.scratchDir(s, d,
      s"gview_${tag}_${java.lang.Long.toHexString(src.lastModified())}")
  }

  private def view(s: org.apache.spark.sql.SparkSession, d: String,
                   tag: String)(build: => DataFrame): DataFrame = {
    val dir = viewDir(s, d, tag)
    val done = new java.io.File(dir, "_SUCCESS")
    // published by rename (publishFrame): an in-place overwrite would let
    // a second writer on the same scratch key expose a half-written view
    if (!done.exists) viewLock.synchronized {
      if (!done.exists) publishFrame(build, new java.io.File(dir), "graph view")
    }
    s.read.parquet(dir)
  }

  /** Atomically publish a fully-written view dir: rename `staged` over
    * `dir`. rename(2) is atomic on one filesystem and `staged` is a
    * sibling of dir, so readers never observe a partial view. A
    * competitor that published a complete view first wins (our copy is
    * discarded); a stale target without _SUCCESS (crash residue — a
    * live competitor can never leave that state, it also publishes by
    * rename) is MOVED ASIDE by another atomic rename and the publish
    * retried — never deleted in place, so even if a competitor's
    * complete view lands in the race window it is displaced whole by
    * our own complete copy, and a reader-visible dir is always either
    * absent or complete (an in-place delete of the stale target could
    * file-by-file delete a just-published view). Returns true iff `dir`
    * holds a complete view on exit. Exposed package-private for
    * GraphSpec's race tests.
    *
    * Scope note: today the scratch key embeds the Spark
    * applicationId (Tables.scratchDir), so two PROCESSES never share a
    * view dir and same-JVM sessions serialize on viewLock — the
    * cross-writer arm of this protocol is defense-in-depth, exercised
    * directly by GraphSpec's publish()-level race tests rather than
    * reachable through view(). It becomes the live protocol the day the
    * appId is dropped from the key for intentional cross-process view
    * sharing on a shared scratch root (`spark.graft.scratch.root`). */
  private[graft] def publish(staged: java.io.File, dir: java.io.File): Boolean = {
    def complete = new java.io.File(dir, "_SUCCESS").exists()
    var ok = staged.renameTo(dir)
    if (!ok && !complete) {
      val aside = new java.io.File(
        dir.getPath + s".stale_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      if (dir.renameTo(aside)) Scans.rmRf(aside)
      ok = staged.renameTo(dir)
    }
    if (!ok) Scans.rmRf(staged)
    ok || complete
  }

  /** Write `df` as parquet to a sibling of `dir` unique to this call
    * (a random UUID: two threads landing one table at once never share
    * it) and publish it there. Fails naming `what` when no complete copy
    * lands, so the caller never goes on to an opaque PATH_NOT_FOUND on
    * read. */
  private[graft] def publishFrame(df: DataFrame, dir: java.io.File, what: String): Unit = {
    val tmp = new java.io.File(dir.getPath + s".tmp_${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.getPath)
    require(publish(tmp, dir), s"$what publish failed: could not install a complete copy at $dir")
  }

  /** The undirected co-purchase edge set, one row per UNORDERED pair
    * (src < dst), distinct: parts that appear in the same order.
    * Served from the materialized parquet view — every caller's degree
    * / sparsify / census passes read the artifact, never the corpus.
    *
    * Built as ONE exchange, not a self-join: groupBy order →
    * sort_array(collect_set(part)) (map-side combined, ≤ 7 parts per
    * TPC-H-shaped order so the per-group state is bounded), then the
    * C(k,2) pairs expand INLINE via nested array transforms — the
    * sorted set makes src < dst by construction. The equivalent
    * self-join shuffles the fact table twice and materializes the
    * 2×-redundant join output first; the oracle keeps that plain-SQL
    * form, pinning the two constructions equal. A pathological
    * mega-order (k ~ 1e5 items) would make C(k,2) explode either way —
    * at web scale that's the salting/size-cap case, documented not
    * built (the fixture's fan-out is bounded by schema). */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    view(s, d, "edges") { rawCopurchaseEdges(s, d) }

  /** The UNCUT extraction plan — the view write (or the bypass-mode
    * Lineage.cut) is the one materialization. */
  private def rawCopurchaseEdges(s: org.apache.spark.sql.SparkSession,
                                 d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(x AS src, y AS dst))))""".stripMargin)).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()

  /** graph_edges_build — the edge-extraction/materialization step ITSELF
    * as a first-class priced operation: extract the co-purchase pairs
    * fresh from the fact table, WRITE the parquet view artifact (the
    * real materialization — never a cache hit), and emit the build
    * census (edges, nodes, average degree) from the written table. This
    * is the number the materialized-view posture rests on: the other
    * graph queries price their query-specific work OVER the view; this
    * query prices making it. */
  val graphEdgesBuild: Q = (s, d) => {
    val dir = viewDir(s, d, "edges")
    // A fresh FULL build, published like every other view write: an
    // in-place overwrite could yank data files out from under a reader
    // of the published view. The view content is deterministic from the
    // mtime-stamped dataset, so if a complete view already exists the
    // rename loses and our copy is discarded — the BUILD (extract +
    // parquet write) is still fully priced, which is this query's job.
    viewLock.synchronized {
      publishFrame(rawCopurchaseEdges(s, d), new java.io.File(dir), "graph view")
    }
    val edges = s.read.parquet(dir)
    val nodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct()
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_edges"), col("n_nodes"),
        // zero-node guard: under ANSI even the double division throws
        // on an empty graph; NULL is the honest average degree of no
        // nodes (the fixture corpora always have nodes, so the oracle
        // form is unchanged)
        when(col("n_nodes") === 0, lit(null).cast("double"))
          .otherwise(r4(col("n_edges") * 2.0 / col("n_nodes")))
          .as("avg_degree"))
  }

  /** Materialized pct-sparsified sub-view of the co-purchase graph. */
  /** Probe hook (CcRoundsProbe): the kept sub-view by pct. */
  private[graft] def keptForProbe(s: org.apache.spark.sql.SparkSession,
                                  d: String, pct: Int): DataFrame =
    cachedKept(s, d, pct)

  private def cachedKept(s: org.apache.spark.sql.SparkSession, d: String,
                         pct: Int): DataFrame =
    view(s, d, s"kept$pct") { copurchaseEdges(s, d).where(keptCond(pct)) }

  /** Materialized degree-oriented form of the pct sub-view (shared by
    * the triangle census and the clustering-coefficient profile). */
  private def cachedOriented(s: org.apache.spark.sql.SparkSession, d: String,
                             pct: Int): DataFrame =
    view(s, d, s"or$pct") { orientRaw(cachedKept(s, d, pct)) }

  /** graph_pagerank — 3 synchronous PageRank iterations (d = 0.85) over
    * the SYMMETRIZED co-purchase graph, rank scaled by N (initial mass
    * 1.0 per node, update r' = 0.15 + 0.85·Σ_in r/outdeg) so magnitudes
    * stay O(1) and no global N constant is needed. Nodes are parts with
    * ≥ 1 co-purchase — in the symmetrized graph every node has
    * outdeg ≥ 1, so there is no dangling mass and the fixed iteration
    * count is an exact, engine-reproducible contract (the convergence
    * variant is one `while` away; llm_dedup_cluster already exercises
    * convergence-driven iteration with 1-row driver scalars).
    *
    * Scale shape: the per-iteration message table (node, rank/outdeg)
    * is |nodes| rows — broadcast into the edge join, so each iteration
    * is ONE corpus-sized shuffle (the groupBy dst over |edges| contribs)
    * and the edge set itself is Lineage.cut once and reused, never
    * recomputed per round (at web scale: nodes = domains ~1e8 rows ×
    * 16 B — past broadcast range the join falls back to SMJ on src,
    * same semantics; the per-round lineage cut is what keeps 50-round
    * jobs plannable either way).
    *
    * Determinism: contributions are r8'd (the 1e-4 grain would zero out
    * rank/600-degree messages) and summed as exact scaled DECIMAL(38,8)
    * integers — merge-order-free; 0.15 + 0.85·s and the final r8 are
    * identical IEEE expressions in both engines. */
  val graphPagerank: Q = (s, d) => {
    val und = copurchaseEdges(s, d)
    // symmetrize over the view ONCE and cut: the per-iteration joins
    // re-read the in-memory blocks, not the parquet view (3 iterations
    // × 2 union branches would otherwise re-scan the file six times);
    // within one query the cut is safe from the harness sweep
    val edges = Lineage.cut(
      und.union(und.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = Lineage.cut(
      edges.groupBy("src").agg(count(lit(1)).as("outd")))
      .select(col("src").as("node"), col("outd"))
    var rank: DataFrame = deg.select(col("node"), lit(1.0).as("rank"))
    // No lineage cut between rounds: unlike khop's frontier — referenced
    // TWICE per hop, where an uncut plan recomputes exponentially — rank
    // is referenced exactly ONCE per round (the msgs join), so chaining
    // the rounds into one plan changes no value and recomputes nothing;
    // it only nests 3 (broadcast-join + agg) layers. The whole iteration
    // runs as ONE job, with no per-round localCheckpoint barriers (~0.15 s
    // each of pure job-launch + block write at bench scale).
    for (_ <- 1 to 3) {
      val msgs = rank.join(deg, Seq("node"))
        .select(col("node").as("src"), r8(col("rank") / col("outd")).as("contrib"))
      val contribs = edges.join(broadcast(msgs), "src")
        .groupBy(col("dst").as("node"))
        .agg(sumR8(col("contrib")).as("s"))
      // symmetric graph: indeg == outdeg >= 1, so every node receives
      // mail every round — no zero-contrib outer-join case
      rank = contribs.select(col("node"),
        r8(lit(0.15) + lit(0.85) * col("s")).as("rank"))
    }
    rank.join(deg, Seq("node"))
      .select(col("node"), col("outd").as("degree"), col("rank"))
      .orderBy("node")
  }

  /** Deterministically sparsified triangle census (DOULION): keep each
    * undirected edge iff its md5 bucket < `pct` (the repo's standard
    * cross-engine hash-sampling rule — a FIXED subgraph, not a random
    * one, so both engines and every rerun count the same triangles),
    * count triangles on the kept subgraph by the oriented wedge join,
    * and scale back by (100/pct)³ — the unbiased DOULION estimator.
    * pct = 100 disables sparsification and counts exactly (the spec's
    * ground-truth arm). Exposed for GraphSpec; the registered query
    * fixes pct = 25 (wedge volume ÷16, estimate ÷64 grain).
    *
    * Orientation: edges are RE-ORIENTED low-degree → high-degree
    * (ties by id) before the wedge join — the classic compact-forward
    * bound: every node's oriented out-degree is O(√E), so wedge
    * fan-out at a power-law hub is O(E) total instead of O(deg²)
    * (a 1e6-degree hub under naive id-orientation enumerates ~5e11
    * wedges; degree-ordered, ≤ 2E). The triangle COUNT is invariant
    * under orientation and the sparsifier keys on the CANONICAL
    * (src < dst) pair before re-orienting, so the oracle's plain
    * id-oriented SQL counts the identical subgraph — the hash match
    * pins orientation-invariance every run. GraphSpec's hub test pins
    * correctness on a graph where the two orientations differ most. */
  /** Deterministic hash sparsifier: keep a canonical (src < dst) pair iff
    * its md5 bucket < pct — the repo's standard cross-engine sampling
    * rule (a FIXED subgraph, not a random one: both engines and every
    * rerun keep the same edges). Cut: every caller runs ≥ 2 passes
    * (degree + wedge/frontier) over the kept set. */
  private def keptCond(pct: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("_", col("src"), col("dst"))), 1, 6),
      16, 10).cast("long") % 100 < pct

  private[queries] def keptEdges(edges: DataFrame, pct: Int): DataFrame =
    Lineage.cut(edges.where(keptCond(pct)))

  /** Re-orient canonical pairs from the (degree, id)-smaller endpoint —
    * the compact-forward bound (oriented out-degree O(√E)) shared by the
    * triangle census and the per-node clustering coefficient. Degree is
    * computed on the KEPT subgraph (|nodes| rows, broadcast). */
  private def orientByDegree(keptU: DataFrame): DataFrame =
    Lineage.cut(orientRaw(keptU))

  private def orientRaw(keptU: DataFrame): DataFrame = {
    val deg = keptU.select(col("src").as("n"))
      .union(keptU.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    keptU
      .join(broadcast(deg.select(col("n").as("src"), col("dg").as("ds"))), "src")
      .join(broadcast(deg.select(col("n").as("dst"), col("dg").as("dd"))), "dst")
      .select(
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")),
          col("src")).otherwise(col("dst")).as("src"),
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")),
          col("dst")).otherwise(col("src")).as("dst"))
  }

  def sparsifiedTriangles(edges: DataFrame, pct: Int): DataFrame =
    census(orientByDegree(keptEdges(edges, pct)), edges, pct)

  /** The census tail over an already-sparsified-and-oriented edge frame
    * — split out so the registered query reuses the cached sub-views.
    * Callers pass already-materialized (or trivially cheap) frames —
    * the cached views are Lineage.cut at construction, so the census
    * counts and wedge join re-read cut RDDs; a second cut here would
    * double-buffer the full edge set (measured ~600 MB of extra block
    * churn at GraphScale ×30). Both census counts join in LAZILY as
    * broadcast 1-row aggregates — an eager count() here would run a
    * driver action at plan-construction time (plan inspection, every
    * bench pass) before the query itself. */
  private def census(kept: DataFrame, edges: DataFrame, pct: Int): DataFrame = {
    val scale = (100.0 / pct) * (100.0 / pct) * (100.0 / pct)
    val tri = kept.as("e1")
      .join(kept.as("e2"), col("e1.dst") === col("e2.src"))
      .join(kept.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_sampled"))
    tri.select(col("n_sampled"),
      r4(col("n_sampled") * lit(scale)).as("est_triangles"),
      lit(pct).cast("long").as("sample_pct"))
      .crossJoin(broadcast(
        kept.agg(count(lit(1)).as("edges_kept"))))
      .crossJoin(broadcast(
        edges.agg(count(lit(1)).as("edges_total"))))
  }

  /** graph_triangles — triangle count of the co-purchase graph via the
    * DOULION hash-sparsified estimator at pct = 25. The full sf0.1
    * graph holds 1.88 M triangles behind a ~49 M-row wedge set; the
    * p = 0.25 subgraph cuts the wedge join to ~1/16 volume while the
    * 1/p³ = 64× scale-back keeps the estimate unbiased (GraphSpec pins
    * the estimator against the exact count on synthetic cliques and
    * pins pct = 100 ≡ brute force). At 100 TB, p is the memory/accuracy
    * dial — variance falls as triangles grow, exactly the regime where
    * exact counting dies first. The oracle mirrors the md5 rule, so the
    * sampled count is exact-checked cross-engine, not just the scaled
    * estimate. */
  val graphTriangles: Q = (s, d) =>
    census(cachedOriented(s, d, 25), copurchaseEdges(s, d), 25)

  /** graph_degree_hist — the degree distribution of the FULL co-purchase
    * graph: per undirected degree, node count and node share. The first
    * census anyone runs on a web/link graph (hub detection, power-law
    * fit, join-skew forecasting — the degree histogram is what tells a
    * pipeline whether the triangle census or pair join needs the
    * hub-bound orientation / salting at all).
    *
    * Scale shape: one exchange to the |nodes|-row degree frame, one
    * map-side-combined agg to the |distinct degrees|-row histogram; the
    * total joins in as a broadcast 1-row aggregate (lazy — no driver
    * action at plan-construction time). Never edge-order-dependent:
    * every output is an exact count or one r4'd ratio of exact longs. */
  def degreeHist(und: DataFrame): DataFrame = {
    val deg = Lineage.cut(
      und.select(col("src").as("n")).union(und.select(col("dst").as("n")))
        .groupBy("n").agg(count(lit(1)).as("degree")))
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_total"))))
      .select(col("degree"), col("n_nodes"),
        r4(col("n_nodes") / col("n_total")).as("node_share"))
      .orderBy("degree")
  }

  val graphDegreeHist: Q = (s, d) => degreeHist(copurchaseEdges(s, d))

  /** graph_cluster_coeff — per-node local clustering coefficient
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) on the pct = 25 sparsified
    * subgraph, reported as the degree-decile profile (the classic
    * "clustering vs degree" curve: per decile of the (degree, id) order,
    * node count, degree range, triangle mass, average cc). Community
    * density / spam-farm structure per node, where graph_triangles is
    * the one global census.
    *
    * Scale shape: triangles enumerate ONCE each under the shared
    * degree-ordered orientation (orientByDegree — the O(√E) hub bound),
    * then explode to their 3 corners and hash-aggregate per node; deg is
    * the |nodes|-row frame. The decile runs ntile over the |nodes|-row
    * lcc frame — a single-partition sort of a DIMENSION-sized frame
    * (nodes ≪ edges; past ~1e8 nodes the win_ntile prefix-sum escape
    * applies unchanged). Determinism: cc is the identical IEEE division
    * of exact longs in both engines, per-decile average rides the
    * r8-grain exact-decimal sum (merge-order-free), ntile keys on the
    * unique (dg, n) total order. */
  def clusterCoeffProfile(keptU: DataFrame): DataFrame =
    clusterCoeffProfile(keptU, orientByDegree(keptU))

  def clusterCoeffProfile(keptU: DataFrame, or: DataFrame): DataFrame = {
    val sym = keptU.union(keptU.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))
    val tri = or.as("e1")
      .join(or.as("e2"), col("e1.dst") === col("e2.src"))
      .join(or.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("ntri"))
    val lcc = deg.join(tri, Seq("n"), "left")
      .select(col("n"), col("dg"),
        coalesce(col("ntri"), lit(0L)).as("ntri"),
        when(col("dg") < 2, lit(0.0))
          .otherwise(coalesce(col("ntri"), lit(0L)) * lit(2.0) /
                     (col("dg") * (col("dg") - 1))).as("cc"))
    lcc.withColumn("decile",
        ntile(10).over(Window.orderBy("dg", "n")).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_nodes"),
           min("dg").as("min_dg"), max("dg").as("max_dg"),
           sum("ntri").as("tri_sum"),
           r4(sumR8(col("cc")) / count(lit(1))).as("avg_cc"))
      .orderBy("decile")
  }

  val graphClusterCoeff: Q = (s, d) =>
    clusterCoeffProfile(cachedKept(s, d, 25), cachedOriented(s, d, 25))

  /** graph_jaccard — neighborhood-Jaccard link prediction on the
    * pct = 10 sparsified subgraph: for every NON-adjacent 2-hop pair
    * with ≥ 2 common neighbors, |N(a)∩N(b)| / |N(a)∪N(b)|; top-20. The
    * similar-entity recommender primitive (related domains, co-citation,
    * substitute parts) — the graph twin of llm_ngram_jaccard's token-set
    * form.
    *
    * Scale shape: candidates come from the wedge join (pairs sharing a
    * neighbor — never all pairs), bounded by the sparsifier exactly like
    * the triangle census; the ≥ 2 common-neighbor floor cuts the tail
    * BEFORE the degree joins; degrees broadcast (|nodes| rows); existing
    * edges leave by left_anti on the canonical pair; the top-20 is
    * TakeOrderedAndProject (no global sort materializes). At power-law
    * hub degrees the wedge volume needs the DOULION pct dial or a
    * per-node neighbor cap — same knob as graph_triangles, documented
    * there. Determinism: ranking keys on exact integer division
    * (cn·10¹² div un — engines share no double), ties on the unique
    * (node_a, node_b); jaccard displays as one r4'd ratio of exact
    * longs. */
  def jaccardTopk(kept: DataFrame, k: Int): DataFrame = {
    val nb = kept.select(col("src").as("n"), col("dst").as("m"))
      .union(kept.select(col("dst").as("n"), col("src").as("m")))
    val dgt = nb.groupBy("n").agg(count(lit(1)).as("dg"))
    val pairs = nb.as("a")
      .join(nb.as("b"), col("a.n") === col("b.n") && col("a.m") < col("b.m"))
      .groupBy(col("a.m").as("node_a"), col("b.m").as("node_b"))
      .agg(count(lit(1)).as("common_n"))
      .where(col("common_n") >= 2)
    pairs
      .join(kept, pairs("node_a") === kept("src") &&
                  pairs("node_b") === kept("dst"), "left_anti")
      .join(broadcast(dgt.select(col("n").as("node_a"), col("dg").as("dga"))), "node_a")
      .join(broadcast(dgt.select(col("n").as("node_b"), col("dg").as("dgb"))), "node_b")
      .select(col("node_a"), col("node_b"), col("common_n"),
        (col("dga") + col("dgb") - col("common_n")).as("union_n"))
      .withColumn("jkey", expr("common_n * 1000000000000L div union_n"))
      .orderBy(col("jkey").desc, col("node_a"), col("node_b"))
      .limit(k)
      .select(col("node_a"), col("node_b"), col("common_n"), col("union_n"),
        r4(col("common_n") / col("union_n")).as("jaccard"))
  }

  val graphJaccard: Q = (s, d) =>
    jaccardTopk(cachedKept(s, d, 10), 20)

  /** graph_cc — connected components of the pct = 2 sparsified
    * co-purchase subgraph, reported as the component-size histogram
    * (component count, node count, node share per size) — the community
    * census a link-graph pipeline runs beside PageRank (mirror-site /
    * link-farm detection, crawl-frontier partitioning); the GRAPH twin
    * of llm_dedup_cluster's document clustering, on the sparsified
    * sub-view where components are plural. pct = 2 is the one graph
    * operator below the wedge family's 10/25: the co-purchase graph is
    * so dense that even its 5%% subgraph is a single connected
    * component at every fixture scale (measured via union-find across
    * sf0.001-0.1) — a one-row census; at 2%% the graph fragments into
    * hundreds of components with a six-row size spectrum, which is the
    * structure the operator exists to report.
    *
    * Scale shape: ConnectedComponents.auto — the size-adaptive entry.
    * Above the `spark.graft.graph.cc.localMaxEdges` threshold it is the
    * same large-star/small-star iteration (O(log d) rounds, per-round
    * lineage cuts) that llm_dedup_cluster runs at corpus scale, entered
    * preOriented (the kept view is canonical src < dst, duplicate-free,
    * self-loop-free by construction); at or below it — the bench
    * fixtures' 24k-edge subgraph, or any sparsified subgraph that fits
    * one partition — a single-job partition-local union-find replaces
    * six alternation rounds' worth of cut + signature jobs (measured
    * 3.1 s → ~0.3 s; the per-round job floor, not data volume, priced
    * the small case). Labels are identical either way (component min —
    * GraphSpec pins it). Both censuses are bounded aggregates over the
    * |nodes|-row label frame, the total a lazy broadcast 1-row
    * aggregate.
    *
    * Determinism: lss converges to the exact min-node label per
    * component (engine-independent); the oracle reproduces it as
    * 24 fixed min-label propagation rounds over the same md5-kept
    * subgraph (the 2%% subgraph's giant component is tree-like, so its
    * label radius is the one LONG propagation in the repo: measured
    * 13/13/18 across sf0.001/0.01/0.1 — 24 carries a third margin
    * where the dedup_cluster oracle needs only 8),
    * and the hash compare fails loudly if a fixture regeneration ever
    * stretches a component past that radius. All outputs exact longs
    * plus one r4'd exact-ratio share. */
  val graphCc: Q = (s, d) => {
    val (labels0, _) = graft.ops.ConnectedComponents.auto(
      cachedKept(s, d, 2), preOriented = true)
    // cut: the label frame feeds BOTH the census groupBy and the
    // n_total aggregate — uncut, the CC pass (the one-core union-find
    // on the local branch) would execute once per subtree (review r10)
    val labels = Lineage.cut(labels0)
    val comp = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    comp.groupBy("csize").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_total"))))
      .select(col("csize"),
        col("n_components"),
        (col("csize") * col("n_components")).as("n_nodes"),
        r4(col("csize") * col("n_components") / col("n_total")).as("node_share"))
      .orderBy("csize")
  }

  /** graph_khop — BFS frontier profile: nodes reachable within 0..3 hops
    * of the seed set (node id ≡ 0 mod 97) on the symmetrized pct = 25
    * subgraph — the ego-net / influence-radius primitive (crawl frontier
    * sizing, contamination blast-radius, feature neighborhoods for
    * graph-ML sampling).
    *
    * Scale shape: the frontier is a |reached|-row set, broadcast into
    * the edge join each hop (≤ |nodes| rows — past broadcast range the
    * join falls back to shuffle on src, same semantics); one distinct
    * exchange per hop; per-hop Lineage.cut so a 50-hop job stays
    * plannable (the llm_dedup_cluster discipline). Counts join in as
    * lazy 1-row aggregates; n_new derives from lag over the 4-row
    * result — all exact longs, merge-order-free. */
  def khopProfile(kept: DataFrame, hops: Int): DataFrame = {
    // Per-hop frontier cuts: each Lineage.cut is a sequential job
    // barrier, but unlike pagerank's rank (referenced once per round),
    // reach_h is referenced ≤3× when uncut (its level count, the next
    // hop's union leg and join leg), and each reference re-derives a full
    // edge-scan join. Cutting every second hop measured slower at sf0.1
    // (min-of-4, same phase: 1.737 s vs 1.473 s, task-seconds 16.6 →
    // 31.2). The final hop is never cut (referenced once, by its own
    // level count).
    val sym = kept.union(kept.select(col("dst").as("src"), col("src").as("dst")))
    // Seed set in ONE cut (round 14): the former all-nodes distinct was
    // materialized only to be filtered to the ~1% seed set — filter
    // BEFORE the distinct (filter∘distinct ≡ distinct∘filter on a
    // deterministic predicate) and one barrier replaces two, with the
    // distinct exchange carrying seed rows instead of every node.
    var reach = Lineage.cut(
      sym.select(col("src").as("n")).where(col("n") % 97 === 0).distinct())
    def level(h: Int, r: DataFrame): DataFrame =
      r.agg(count(lit(1)).as("n_reached"))
        .select(lit(h.toLong).as("hop"), col("n_reached"))
    var out = level(0, reach)
    for (h <- 1 to hops) {
      val next = reach.union(
          sym.join(broadcast(reach.select(col("n").as("src"))), "src")
            .select(col("dst").as("n")))
        .distinct()
      reach = if (h < hops) Lineage.cut(next) else next
      out = out.union(level(h, reach))
    }
    out.select(col("hop"), col("n_reached"),
        (col("n_reached") -
         coalesce(lag(col("n_reached"), 1).over(Window.orderBy("hop")),
                  lit(0L))).as("n_new"))
      .orderBy("hop")
  }

  val graphKhop: Q = (s, d) =>
    khopProfile(cachedKept(s, d, 25), 3)

  val queries: Map[String, Q] = Map(
    "graph_pagerank"      -> graphPagerank,
    "graph_triangles"     -> graphTriangles,
    "graph_edges_build"   -> graphEdgesBuild,
    "graph_degree_hist"   -> graphDegreeHist,
    "graph_cluster_coeff" -> graphClusterCoeff,
    "graph_jaccard"       -> graphJaccard,
    "graph_khop"          -> graphKhop,
    "graph_cc"            -> graphCc,
  )

  private val edgeSql =
    """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin

  /** Oracle twin of `keptEdges` — same md5 bucket rule over a named CTE. */
  private def keptSql(tbl: String, pct: Int): String =
    s"""SELECT src, dst FROM $tbl
       | WHERE CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || '_' ||
       |       CAST(dst AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < $pct""".stripMargin

  private def prIter(prev: String, out: String): String =
    s"""c$out AS (
       | SELECT e.dst AS node, ${sumR8Sql("r.rank / d.outd")} AS s
       | FROM e JOIN r$prev r ON e.src = r.node JOIN deg d ON e.src = d.src
       | GROUP BY e.dst),
       |r$out AS (SELECT node, ${r8Sql("0.15 + 0.85 * s")} AS rank FROM c$out)"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    "graph_pagerank" ->
      s"""WITH und AS ($edgeSql),
        |e AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
        |deg AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, 1.0 AS rank FROM deg),
        |${prIter("0", "1")},
        |${prIter("1", "2")},
        |${prIter("2", "3")}
        |SELECT d.src AS node, d.outd AS degree, r.rank
        |FROM deg d JOIN r3 r ON r.node = d.src
        |ORDER BY node""".stripMargin,
    "graph_triangles" ->
      s"""WITH e0 AS ($edgeSql),
        |k AS (SELECT src, dst FROM e0
        |      WHERE CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || '_' ||
        |            CAST(dst AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 25),
        |t AS (SELECT count(*) AS n_sampled
        |      FROM k e1 JOIN k e2 ON e1.dst = e2.src
        |      JOIN k e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT n_sampled, ${r4Sql("n_sampled * 64.0")} AS est_triangles,
        | CAST(25 AS BIGINT) AS sample_pct,
        | (SELECT count(*) FROM k) AS edges_kept,
        | (SELECT count(*) FROM e0) AS edges_total
        |FROM t""".stripMargin,
    "graph_edges_build" ->
      s"""WITH und AS ($edgeSql),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM und UNION ALL SELECT dst FROM und))
        |SELECT (SELECT count(*) FROM und) AS n_edges,
        | (SELECT count(*) FROM nodes) AS n_nodes,
        | ${r4Sql("(SELECT count(*) FROM und) * 2.0 / (SELECT count(*) FROM nodes)")} AS avg_degree""".stripMargin,
    "graph_degree_hist" ->
      s"""WITH und AS ($edgeSql),
        |deg AS (SELECT n, count(*) AS degree FROM
        |  (SELECT src AS n FROM und UNION ALL SELECT dst FROM und)
        |  GROUP BY n)
        |SELECT degree, count(*) AS n_nodes,
        | ${r4Sql("count(*) * 1.0 / (SELECT count(*) FROM deg)")} AS node_share
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    "graph_cluster_coeff" ->
      s"""WITH und AS ($edgeSql),
        |k AS (${keptSql("und", 25)}),
        |sym AS (SELECT src, dst FROM k UNION ALL SELECT dst, src FROM k),
        |deg AS (SELECT src AS n, count(*) AS dg FROM sym GROUP BY src),
        |tr AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |       FROM k e1 JOIN k e2 ON e1.dst = e2.src
        |       JOIN k e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |tri AS (SELECT t.n, count(*) AS ntri
        |        FROM tr, LATERAL (SELECT unnest([tr.a, tr.b, tr.c]) AS n) t
        |        GROUP BY t.n),
        |lcc AS (SELECT d.n, d.dg, coalesce(t.ntri, 0) AS ntri,
        |        CASE WHEN d.dg < 2 THEN 0.0
        |             ELSE coalesce(t.ntri, 0) * 2.0 / (d.dg * (d.dg - 1)) END AS cc,
        |        ntile(10) OVER (ORDER BY d.dg, d.n) AS decile
        |        FROM deg d LEFT JOIN tri t ON t.n = d.n)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_nodes,
        | min(dg) AS min_dg, max(dg) AS max_dg,
        | CAST(sum(ntri) AS BIGINT) AS tri_sum,
        | ${r4Sql(s"${sumR8Sql("cc")} / count(*)")} AS avg_cc
        |FROM lcc GROUP BY decile ORDER BY decile""".stripMargin,
    "graph_jaccard" ->
      s"""WITH und AS ($edgeSql),
        |k AS (${keptSql("und", 10)}),
        |nb AS (SELECT src AS n, dst AS m FROM k UNION ALL SELECT dst, src FROM k),
        |dgt AS (SELECT n, count(*) AS dg FROM nb GROUP BY n),
        |pairs AS (SELECT a.m AS node_a, b.m AS node_b, count(*) AS common_n
        |          FROM nb a JOIN nb b ON a.n = b.n AND a.m < b.m
        |          GROUP BY a.m, b.m HAVING count(*) >= 2),
        |ne AS (SELECT p.* FROM pairs p
        |       WHERE NOT EXISTS (SELECT 1 FROM k e
        |                         WHERE e.src = p.node_a AND e.dst = p.node_b)),
        |sc AS (SELECT node_a, node_b, common_n,
        |              dx.dg + dy.dg - common_n AS union_n
        |       FROM ne JOIN dgt dx ON dx.n = node_a
        |               JOIN dgt dy ON dy.n = node_b),
        |r AS (SELECT node_a, node_b, common_n, union_n,
        |             common_n * 1000000000000 // union_n AS jkey FROM sc)
        |SELECT node_a, node_b, common_n, union_n,
        | ${r4Sql("common_n * 1.0 / union_n")} AS jaccard
        |FROM r ORDER BY jkey DESC, node_a, node_b LIMIT 20""".stripMargin,
    "graph_khop" ->
      s"""WITH und AS ($edgeSql),
        |k AS (${keptSql("und", 25)}),
        |sym AS (SELECT src, dst FROM k UNION ALL SELECT dst, src FROM k),
        |r0 AS (SELECT DISTINCT src AS n FROM sym WHERE src % 97 = 0),
        |r1 AS (SELECT n FROM r0 UNION
        |       SELECT e.dst FROM sym e JOIN r0 ON e.src = r0.n),
        |r2 AS (SELECT n FROM r1 UNION
        |       SELECT e.dst FROM sym e JOIN r1 ON e.src = r1.n),
        |r3 AS (SELECT n FROM r2 UNION
        |       SELECT e.dst FROM sym e JOIN r2 ON e.src = r2.n),
        |c AS (SELECT CAST(0 AS BIGINT) AS hop, count(*) AS n_reached FROM r0
        |      UNION ALL SELECT 1, count(*) FROM r1
        |      UNION ALL SELECT 2, count(*) FROM r2
        |      UNION ALL SELECT 3, count(*) FROM r3)
        |SELECT hop, n_reached,
        | n_reached - coalesce(lag(n_reached) OVER (ORDER BY hop),
        |                      CAST(0 AS BIGINT)) AS n_new
        |FROM c ORDER BY hop""".stripMargin,
    "graph_cc" -> {
      // 24 fixed min-label rounds (the llm_dedup_cluster oracle pattern
      // at triple depth — the sparse 2% subgraph's measured label radius
      // peaks at 18 at sf0.1): converged ≡ lss's exact min-node labels
      // as long as no component's label radius exceeds 24. The `conv`
      // guard below asserts l23 ≡ l24 and error()s the SELECT otherwise,
      // so a fixture regeneration that stretches a component past the
      // radius reports as ORACLE non-convergence, not as a Spark-side
      // hash mismatch (ADVICE r10). EVERY round is
      // MATERIALIZED, not just the chain inputs: DuckDB inlines
      // non-materialized CTEs, and a depth-24 inlined aggregation tree
      // took >340 s at sf0.001 where the fully-materialized chain runs
      // in 0.08 s (the jaccardCtes hints document the 8-round form of
      // the same failure mode)
      val ccRounds = (1 to 24).map { i =>
        s"l$i AS MATERIALIZED (SELECT e.dst AS dd, min(l.lbl) AS lbl FROM sym e JOIN l${i - 1} l ON l.dd = e.src GROUP BY e.dst)"
      }.mkString(",\n")
      // MATERIALIZED on the chain's shared inputs: without it DuckDB
      // inlines und/k/sym into EVERY one of the 24 label rounds — the
      // edge extraction recomputes 24× and the planner grinds on a
      // depth-24 inlined join tree (>5 min even at sf0.001; the
      // jaccardCtes hints document the same failure mode at 8 rounds)
      s"""WITH und AS MATERIALIZED ($edgeSql),
        |k AS MATERIALIZED (${keptSql("und", 2)}),
        |nodes AS MATERIALIZED (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM k UNION ALL SELECT dst FROM k)),
        |sym AS MATERIALIZED (SELECT src, dst FROM k UNION ALL SELECT dst, src FROM k
        |        UNION ALL SELECT n, n FROM nodes),
        |l0 AS (SELECT n AS dd, n AS lbl FROM nodes),
        |$ccRounds,
        |conv AS MATERIALIZED (SELECT count(*) AS n_open FROM l24 a
        |  JOIN l23 b ON a.dd = b.dd WHERE a.lbl <> b.lbl),
        |comp AS (SELECT lbl, count(*) AS csize FROM l24 GROUP BY lbl)
        |SELECT csize,
        | CASE WHEN (SELECT n_open FROM conv) > 0 THEN
        |   error('graph_cc oracle: min-label propagation not converged at 24 rounds - regenerated fixture stretched a component past the oracle label radius; raise the round count')
        | ELSE count(*) END AS n_components,
        | CAST(csize * count(*) AS BIGINT) AS n_nodes,
        | ${r4Sql("csize * count(*) / (SELECT count(*) FROM nodes)")} AS node_share
        |FROM comp GROUP BY csize ORDER BY csize""".stripMargin
    },
  )
}
