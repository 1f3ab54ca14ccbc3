package graft


/** Scratch probe (session tool): rounds + wall of lss on the kept2
  * co-purchase subgraph at each SF — the graph_cc cost decomposition. */
object CcRoundsProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32,
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("PROBE_SHUF", "32"))
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (p <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries("graph_cc")(spark, d)
      df.queryExecution.toRdd.count()
      println(f"pass$p total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Session.sweep(spark)
    }
    // direct rounds readout
    val kept = graft.queries.Graphs.keptForProbe(spark, d, 2)
    val t1 = System.nanoTime()
    val (_, rounds) = graft.ops.ConnectedComponents.largeStarSmallStar(kept, preOriented = true)
    println(f"lss rounds=$rounds wall ${(System.nanoTime() - t1) / 1e9}%.2f s")
    spark.stop()
  }
}
