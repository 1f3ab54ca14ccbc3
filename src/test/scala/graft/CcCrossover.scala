package graft


/** Dev aid (round 10, eighth session): the ConnectedComponents.auto
  * crossover measured — localUnionFind vs largeStarSmallStar walls on
  * Zipf-degree edge sets of growing size, the number the
  * `spark.graft.graph.cc.localMaxEdges` default (4M) rests on. The
  * local path is one job but single-partition: its memory is
  * ~50 B/node of hash-map state and its CPU one core, so past the
  * threshold the alternation's distributed rounds must win even while
  * the local path still wins at bench scale.
  *
  * `sbt "Test/runMain graft.CcCrossover"` (sizes override: args =
  * edge counts).
  */
object CcCrossover {
  def main(args: Array[String]): Unit = {
    val sizes: Seq[Long] =
      if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(1000000L, 8000000L, 24000000L)
    val spark = Session.local(32)


    for (nE <- sizes) {
      // node count scales with edges (power of 2, ~edges/16) so degree
      // structure stays comparable across sizes
      var nN = 65536
      while (nN.toLong * 16 < nE && nN < (1 << 24)) nN <<= 1
      // fresh cut per arm: the sweep between arms unpersists checkpoint
      // blocks, and a shared cut frame would die under it (the exact
      // failure mode GraphSpec's sweep-immunity test pins)
      for ((tag, run) <- Seq[(String, org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)](
        "local" -> (e => graft.ops.ConnectedComponents.localUnionFind(e)),
        "lss" -> (e => graft.ops.ConnectedComponents
          .largeStarSmallStar(e, preOriented = true)._1))) {
        val edges = graft.ops.Lineage.cut(
          graft.tools.StressGen.zipfEdges(spark, nN, nE))
        val actual = edges.count()
        val t0 = System.nanoTime()
        val labels = run(edges)
        val nLbl = labels.queryExecution.toRdd.count()
        println(f"edges=$actual%-9d nodes~$nN%-8d $tag%-6s ${(System.nanoTime() - t0) / 1e9}%7.2f s  labels=$nLbl")
        Session.sweep(spark)
      }
    }
    spark.stop()
  }
}
