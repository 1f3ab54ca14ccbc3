package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via large-star/small-star
  * alternation (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public algorithm). This is the high-diameter scale
  * path for near-dup cluster assignment (SURVEY §8): plain min-label
  * propagation needs diameter-many rounds (a 64-long dup chain → 63
  * joins), large-star/small-star contracts the graph toward stars and
  * converges in O(log d) rounds — ScaleLinearitySpec pins ≤7 rounds on
  * that same 64-chain.
  *
  * Per round, both steps are one groupBy(min) + one equi-join on the
  * node id — no broadcast of per-node state, no driver-side graph, so
  * the shape survives 10^10-edge graphs. Lineage is cut per round
  * (Lineage.cut honors spark.graft.checkpoint for reliable checkpoints
  * on long cluster runs) and convergence is detected from a 1-row
  * edge-set signature (count + exact decimal sums), a cheap fixpoint
  * proof.
  */
object ConnectedComponents {

  /** Partition-local exact components for a subgraph that FITS one
    * partition: coalesce(1) + a weighted-union union-find inside
    * mapPartitions, labels = the component's minimum node id — the
    * identical contract to largeStarSmallStar's fixpoint (roots start
    * as the nodes themselves and every union keeps the smaller root,
    * so the final root IS the component min; GraphSpec pins label
    * equality against lss). The single-partition pass is ONE job where
    * six lss rounds cost ~12 (cut + signature per round) — at bench
    * scale the alternation's per-round job floor (~0.5 s) dominates a
    * 24k-edge input by 10×. Memory is the caller's contract: bounded
    * by the `auto` threshold below (~50 B/node of hash map; 58 B/node
    * measured at 2M nodes, BASELINE.md round-11 row). Direct
    * calls differ from the alternation on one degenerate input: a
    * self-loop-only node gets a label row here and none there — enter
    * through `auto` (which normalizes first) for the branch-identical
    * contract. */
  def localUnionFind(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val par = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          while (par(x) != x) { par(x) = par(par(x)); x = par(x) }
          x
        }
        it.foreach { case (a, b) =>
          par.getOrElseUpdate(a, a); par.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) par(rb) = ra else par(ra) = rb
          }
        }
        val nodes = par.keys.toArray // snapshot: find() mutates the map
        nodes.iterator.map(n => (n, find(n)))
      }
      .toDF("node", "label")
  }

  /** Size-adaptive entry: exact min-node labels either way. Normalizes
    * and cuts the edge frame ONCE, counts the cut (a block scan — the
    * edge-producing pipeline never executes twice however expensive its
    * plan; review r10), and routes ≤-threshold subgraphs through the
    * one-job local union-find, larger ones through the O(log d)
    * distributed alternation — the AQE posture applied to the CC
    * algorithm choice. Because BOTH branches consume the same
    * normalized frame, their outputs are identical by construction on
    * ANY input, self-loops included (review r10 — the raw
    * localUnionFind would emit a label for a self-loop-only node where
    * the alternation drops it; entering through the shared
    * normalization closes that divergence). The threshold
    * (`spark.graft.graph.cc.localMaxEdges`, default 4M ≈ a few hundred
    * MB of union-find state) is the small-subgraph dial — its binding
    * constraint is single-task memory and straggler latency on a
    * shared cluster, not wall (CcCrossover: the local path wins
    * single-box wall to ≥15M edges); a 100 TB corpus's pair graph
    * blows past it and runs lss unchanged; 0 disables the local path
    * entirely. Returns (labels, rounds) with rounds = 0 on the local
    * path. */
  def auto(edges: DataFrame, preOriented: Boolean = false): (DataFrame, Int) = {
    val thr = edges.sparkSession.conf
      .get("spark.graft.graph.cc.localMaxEdges", "4000000").toLong
    val e = Lineage.cut(normalized(edges, preOriented))
    if (thr > 0 && e.count() <= thr) (localUnionFind(e), 0)
    else alternateFrom(e, maxRounds = 50)
  }

  /** Large-star: for every node u, hang each LARGER neighbor v off the
    * minimum m of u's closed neighborhood — edges (v, m), v > u ≥ m.
    * Keeps all components connected, strictly shrinks long tails. */
  private[ops] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: input oriented src > dst (largeStar output is); for
    * every node u, point u and all its SMALLER neighbors at their
    * minimum m — edges (v, m). */
  private[ops] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("src").agg(min("dst").as("m"))
    e.join(mins, "src")
      .select(col("dst").as("v"), col("m"))
      .union(mins.select(col("src").as("v"), col("m")))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Run to the fixpoint (all components star-shaped). Input: undirected
    * edge list (src, dst), any orientation, self-loops allowed (dropped).
    * Returns (labels, roundsUsed): labels has one row per NON-ISOLATED
    * node — (node, label) with label = min node id of its component,
    * roots included. Isolated nodes never appear in an edge list; union
    * them in caller-side (see llm_dedup_cluster).
    *
    * @param preOriented caller's assertion that `edges` is already
    *        duplicate-free with src < dst per row and no self-loops —
    *        true for the near-dup pair pipeline's output (emit-once /
    *        distinct guarantees uniqueness, doc_a < doc_b orientation is
    *        structural) — which skips the normalization distinct, a full
    *        edge-frame shuffle the first round would otherwise pay
    *        twice (once here, once inside round 1). The algorithm
    *        orients src > dst internally, so the input's (lo, hi) rows
    *        are swapped projection-only. */
  def largeStarSmallStar(edges: DataFrame, maxRounds: Int = 50,
                         preOriented: Boolean = false): (DataFrame, Int) =
    alternateFrom(Lineage.cut(normalized(edges, preOriented)), maxRounds)

  /** src > dst orientation with self-loops dropped and (on the
    * non-preOriented path) duplicates collapsed — the ONE normalization
    * both the alternation and `auto` enter through, cut exactly once by
    * the caller. */
  private def normalized(edges: DataFrame, preOriented: Boolean): DataFrame =
    if (preOriented)
      edges.select(col("dst").as("src"), col("src").as("dst"))
    else
      edges.where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
                least(col("src"), col("dst")).as("dst"))
        .distinct()

  /** The alternation over an ALREADY-cut, already-normalized frame. */
  private def alternateFrom(e0: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var e = e0
    var rounds = 0
    var stable = false
    var prev: (Long, java.math.BigDecimal) = null
    while (!stable && rounds < maxRounds) {
      e = Lineage.cut(smallStar(largeStar(e)))
      rounds += 1
      // edge-set signature: count + exact sum of per-edge hashes. The
      // alternation is monotone toward the star fixpoint, and an
      // identical (count, hash-sum) on the DISTINCT edge set means the
      // set is unchanged → fixpoint reached (hash-sum collision on a
      // changed set would need a 2^-64-scale coincidence — acceptable
      // for an early-exit that otherwise just runs one more round).
      val r = e.agg(
        count(lit(1)).as("n"),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")).as("h")).head()
      val sig = (r.getLong(0), r.getDecimal(1))
      // n == 0 → no edges at all (input was empty or all self-loops):
      // already at the fixpoint, and the hash-sum is NULL — comparing it
      // would NPE on the next round
      stable = sig._1 == 0L ||
        (prev != null && sig._1 == prev._1 && sig._2.compareTo(prev._2) == 0)
      prev = sig
    }
    val labels = e.select(col("src").as("node"), col("dst").as("label"))
      .union(e.select(col("dst").as("node"), col("dst").as("label")).distinct())
    (labels, rounds)
  }
}
