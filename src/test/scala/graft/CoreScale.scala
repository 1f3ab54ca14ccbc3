package graft


/** Dev aid (round 9): the CORE relational/event engine's measured
  * scaling, the sibling of DedupScale for the non-llm families. The
  * corpus is StressGen.coreStress — k× facts with all entity keys
  * shifted (independent key populations per copy: per-key work stays
  * constant, key count grows, so input, shuffle and output volumes are
  * all exactly linear in k) — and the query set covers one
  * representative per physical-plan family: hash aggregate, distinct
  * aggregate, shuffle join, outer join, global sort, partial-agg
  * top-k, running window, session window, funnel window, event-time
  * interval join, and watermark dedup. Exponent e =
  * ln(t₂/t₁)/ln(m₂/m₁) ≈ 1 is linear; results land in BASELINE.md
  * next to the dedup-family row.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.CoreScale 1 10 30"`
  */
object CoreScale {
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
      "agg_hash", "agg_distinct", "join_shuffle", "join_left",
      "sort_multikey", "topk_per_group", "win_running",
      "ev_session", "ev_funnel", "ev_interval_join", "ev_dedup"
    ).filter(n => only.forall(_.contains(n)))

    SparkEntry.queries("agg_hash")(spark, src).queryExecution.toRdd.count() // warmup

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for (m <- mults) {
      val dir =
        if (m == 1) src
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft_core_x$m"
          if (!(reuse && new java.io.File(s"$d/lineitem.parquet/_SUCCESS").exists))
            graft.tools.StressGen.coreStress(spark, src, d, m)
          d
        }
      for (name <- names) {
        val (sec, rows) = timed(name, dir)
        results((name, m)) = sec
        println(f"x$m%-3d $name%-18s $sec%8.2f s  rows=$rows")
      }
    }
    for (name <- names; Seq(m1, m2) <- mults.sliding(2)) {
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
