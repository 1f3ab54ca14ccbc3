package graft

import org.apache.spark.sql.functions._

/** Dev aid (round 10, VERDICT r9 #5): the power-law KILLER DEMO for the
  * degree-ordered triangle orientation. GraphScale's co-purchase corpus
  * is near-uniform (max degree ~600), so the O(√E) hub bound shipped in
  * round 9 was measured only where it doesn't matter. This harness runs
  * the SAME wedge-join census twice over a StressGen.zipfEdges graph
  * (Zipf-1 degrees, hubs scattered across the id space):
  *
  *   - degree-oriented — Graphs.sparsifiedTriangles(pct = 100), the
  *     shipped production form: every center's oriented fan-out O(√E);
  *   - id-oriented    — the naive src < dst wedge join (the oracle's
  *     plain-SQL form, correct but unhardened): a scattered hub of
  *     degree d centers Θ(d²/4) wedges.
  *
  * Both arms MUST return the identical exact triangle count (orientation
  * invariance — the harness asserts it); the demo is the wedge volume
  * and wall-clock asymmetry, which grows with hub degree ~ N/2 while
  * the degree-oriented arm tracks E^1.5 / corpus. Results land in
  * BASELINE.md beside the GraphScale row.
  *
  * `SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.GraphHubScale 65536 1000000"`  (nodes edges)
  */
object GraphHubScale {
  def main(args: Array[String]): Unit = {
    val nNodes = args.lift(0).map(_.toInt).getOrElse(1 << 16)
    val nEdges = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    val spark = Session.local()

    // sweep clears the SQL cache only: the graph under test is itself a
    // localCheckpoint (Lineage.cut) whose blocks are the ONLY copy —
    // the usual getPersistentRDDs unpersist would destroy it between
    // passes (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    def sweep(): Unit =
      spark.sharedState.cacheManager.clearCache()
    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // the graph, materialized once OUTSIDE both timed arms (both census
    // forms re-read the cut RDD — graph build cost is not under test)
    val edges = ops.Lineage.cut(
      tools.StressGen.zipfEdges(spark, nNodes, nEdges))
    val e = edges.count()
    val degs = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val top = degs.orderBy(col("d").desc).limit(5).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(", ")
    println(s"zipf graph: $nNodes nodes, $e distinct edges, top degrees [$top]")

    // predicted wedge volume per orientation: sum over centers of
    // indeg·outdeg — the intermediate row count of the e1⋈e2 join
    def wedgeVolume(oriented: org.apache.spark.sql.DataFrame): Long =
      oriented.groupBy(col("dst").as("n")).agg(count(lit(1)).as("ind"))
        .join(oriented.groupBy(col("src").as("n")).agg(count(lit(1)).as("outd")), "n")
        .agg(sum(col("ind") * col("outd"))).head().getLong(0)
    val idWedges = wedgeVolume(edges)
    val byDeg = edges
      .join(broadcast(degs.select(col("n").as("src"), col("d").as("ds"))), "src")
      .join(broadcast(degs.select(col("n").as("dst"), col("d").as("dd"))), "dst")
      .select(
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")),
          col("src")).otherwise(col("dst")).as("src"),
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")),
          col("dst")).otherwise(col("src")).as("dst"))
    val degWedges = wedgeVolume(byDeg)
    println(f"wedge volume: id-oriented $idWedges%,d vs degree-oriented $degWedges%,d " +
      f"(${idWedges.toDouble / degWedges}%.1fx)")

    // arm 1: the shipped degree-oriented census (pct=100 — exact, no
    // sparsifier, so the A/B isolates orientation alone)
    var degTri = 0L
    (1 to iters).foreach { i =>
      sweep()
      degTri = timed(s"degree-oriented census pass$i")(
        queries.Graphs.sparsifiedTriangles(edges, 100)
          .select("n_sampled").head().getLong(0))
    }
    // arm 2: the naive id-oriented wedge join on the canonical edges
    def idOriented(): Long =
      edges.as("e1")
        .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
        .join(edges.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
        .agg(count(lit(1))).head().getLong(0)
    var idTri = 0L
    (1 to iters).foreach { i =>
      sweep()
      idTri = timed(s"id-oriented census pass$i")(idOriented())
    }
    println(s"triangles: degree-oriented $degTri, id-oriented $idTri")
    assert(degTri == idTri,
      s"orientation changed the triangle count: $degTri != $idTri")
    spark.stop()
  }
}
