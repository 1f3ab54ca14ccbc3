package graft


/** Dev aid (round 9, fifth session): measured scaling of the round's
  * new operator families — graph analytics (pagerank's iterative
  * broadcast-message shuffles, triangles' sparsified wedge join), the
  * SCD2 window build, the Markov transition collapse, calendar
  * densification, and the two-pass correlation — on the graphStress
  * corpus (independent graph/customer/user populations per copy, so
  * node, edge, change-stream and transition volumes are all exactly
  * linear in k BY CONSTRUCTION; bounded-output queries — markov's
  * |types|² frame, gap_fill's grid — must show bounded OUTPUT with
  * linear runtime, which the printed row counts witness). Exponent
  * e = ln(t₂/t₁)/ln(m₂/m₁) ≈ 1 is linear; results land in BASELINE.md
  * beside the DedupScale / CoreScale / VectorScale rows.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.GraphScale 1 10 30"`
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 30)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    val spark = Session.local(("spark.sql.legacy.parquet.nanosAsLong" -> "true") +:
      sys.env.get("SPARK_GRAFT_SHUFFLE").map("spark.sql.shuffle.partitions" -> _).toSeq: _*)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def timed(name: String, dir: String): (Double, Long) = {
      val runs = (1 to iters).map { _ =>
        Session.sweep(spark)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (runs.map(_._1).min, runs.head._2)
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")
    val names = Seq(
      // graph_edges_build FIRST: it prices (and refreshes) the
      // materialized view the round-10 family reads; consumers then
      // measure query-over-view scaling — the posture's two honest
      // numbers, separated
      "graph_edges_build", "graph_pagerank", "graph_triangles",
      "graph_degree_hist", "graph_cluster_coeff", "graph_jaccard",
      "graph_khop", "graph_cc", "win_scd2",
      "ev_markov", "ev_gap_fill", "agg_corr"
    ).filter(n => only.forall(_.contains(n)))

    SparkEntry.queries("agg_hash")(spark, src).queryExecution.toRdd.count() // warmup

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for (m <- mults) {
      val dir =
        if (m == 1) src
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft_graph_x$m"
          if (!(reuse && new java.io.File(s"$d/lineitem.parquet/_SUCCESS").exists))
            graft.tools.StressGen.graphStress(spark, src, d, m)
          d
        }
      for (name <- names) {
        val (sec, rows) = timed(name, dir)
        results((name, m)) = sec
        println(f"x$m%-3d $name%-18s $sec%8.2f s  rows=$rows")
        if (name == "graph_cc") {
          // forced-lss arm: the distributed-alternation wall on the same
          // subgraph (the branch a 100 TB pair graph runs)
          spark.conf.set("spark.graft.graph.cc.localMaxEdges", "0")
          try {
            val (sec2, rows2) = timed(name, dir)
            results(("graph_cc[lss]", m)) = sec2
            println(f"x$m%-3d graph_cc[lss]      $sec2%8.2f s  rows=$rows2")
          } finally spark.conf.unset("spark.graft.graph.cc.localMaxEdges")
        }
      }
    }
    for (name <- names ++ (if (names.contains("graph_cc")) Seq("graph_cc[lss]") else Nil);
         Seq(m1, m2) <- mults.sliding(2)) {
      (results.get((name, m1)), results.get((name, m2))) match {
        case (Some(t1), Some(t2)) if t1 > 0 =>
          val e = math.log(t2 / t1) / math.log(m2.toDouble / m1)
          println(f"exponent $name%-18s x$m1->x$m2: $e%5.2f  (${t1}%.2f -> ${t2}%.2f s)")
        case _ =>
      }
    }
    spark.stop()
  }
}
