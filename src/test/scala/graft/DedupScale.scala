package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev aid (round 9, VERDICT r8 #1/#2): MEASURE the heavy dedup
  * family's scaling on a dup-heavy corpus instead of asserting it.
  *
  * StressGen.documentsDup synthesizes an m×-larger documents table with
  * bounded duplicate structure (exact clusters of 2–5, near-dup and
  * distinct replicas — see its scaladoc): total near-dup pairs grow
  * LINEARLY in corpus size by construction, so any super-linear runtime
  * curve here indicts a pipeline stage, not the data. For each
  * multiplier the five heavy queries run hermetically (cache + persist
  * sweep between timed runs, min over SPARK_GRAFT_ITERS passes), then
  * llm_dedup_cluster re-runs with spark.graft.dedup.collapseExact=true
  * for the A/B the knob has never had on a corpus where duplicates
  * actually exist (CollapseSpec pins its CORRECTNESS; this measures its
  * value). Results land in BASELINE.md as the round-9 scaling row.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.DedupScale 1 10 30"`
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 30)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    // SPARK_GRAFT_SHUFFLE overrides the partition count: a real cluster
    // scales partitions with data (partitions ≈ data / target-split),
    // while pinning them at 32 as the corpus grows 30× conflates "work
    // grew" with "a 32nd of the shuffle stopped fitting in memory" —
    // the override separates the two in the scaling record
    val spark = Session.local(
      sys.env.get("SPARK_GRAFT_SHUFFLE").map("spark.sql.shuffle.partitions" -> _).toSeq: _*)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Task-retry census (VERDICT r11 #6): the ×100 heap-envelope claim
    // is "zero task retries at the stated heap" — count retried/failed
    // task attempts instead of eyeballing stderr for OOM stacks. The
    // listener bus is async, so per-query deltas can lag by a few ms;
    // a nonzero TOTAL at exit is the binding signal either way.
    val retried = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null &&
            (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful))
          retried.incrementAndGet(): Unit
    })
    def timed(fn: => DataFrame): (Double, Long) = {
      val runs = (1 to iters).map { _ =>
        Session.sweep(spark)
        val t0 = System.nanoTime()
        val n = fn.queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (runs.map(_._1).min, runs.head._2)
    }

    // SPARK_GRAFT_ONLY=q1,q2 measures a subset; SPARK_GRAFT_REUSE=1
    // skips regenerating a stress corpus whose _SUCCESS already exists —
    // together they make long x30 sessions restartable per query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")
    val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "llm_exact_dedup" -> queries.Llm.llmExactDedup,
      "llm_jaccard_pairs" -> queries.Llm.llmJaccardPairs,
      "llm_pair_table" -> queries.Llm.llmPairTable,
      "llm_minhash" -> queries.Sketches.llmMinhash,
      "llm_dedup_cluster" -> queries.Extras.llmDedupCluster,
      "llm_cluster_sizes" -> queries.Extras.llmClusterSizes
    ).filter { case (n, _) => only.forall(_.contains(n)) }

    // warmup: JIT + codegen on the pristine fixture
    queries.Llm.llmExactDedup(spark, src).queryExecution.toRdd.count()

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for (m <- mults) {
      val dir =
        if (m == 1) src
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft_dedup_x$m"
          if (!(reuse && new java.io.File(s"$d/documents.parquet/_SUCCESS").exists))
            graft.tools.StressGen.documentsDup(spark, src, d, m)
          d
        }
      for ((name, q) <- ops) {
        val r0 = retried.get
        val (sec, rows) = timed(q(spark, dir))
        results((name, m)) = sec
        val dr = retried.get - r0
        println(f"x$m%-3d $name%-20s $sec%8.2f s  rows=$rows  retriedTasks=$dr")
      }
      // collapseExact A/B on the corpus where duplicates actually exist
      if (only.forall(_.contains("llm_dedup_cluster"))) {
        spark.conf.set("spark.graft.dedup.collapseExact", "true")
        try {
          val (sec, rows) = timed(queries.Extras.llmDedupCluster(spark, dir))
          results((s"dedup_cluster[collapse]", m)) = sec
          println(f"x$m%-3d dedup_cluster[collapse] $sec%6.2f s  rows=$rows  " +
            f"(off=${results.getOrElse(("llm_dedup_cluster", m), Double.NaN)}%.2f s)")
        } finally spark.conf.unset("spark.graft.dedup.collapseExact")
      }
    }
    // fitted per-step scaling exponents: e = ln(t2/t1) / ln(m2/m1);
    // e ≈ 1 is linear, e > 1.2 flags the stage for the fix list
    for ((name, _) <- ops :+ ("dedup_cluster[collapse]" ->
           null.asInstanceOf[(SparkSession, String) => DataFrame]);
         Seq(m1, m2) <- mults.sliding(2)) {
      (results.get((name, m1)), results.get((name, m2))) match {
        case (Some(t1), Some(t2)) if t1 > 0 =>
          val e = math.log(t2 / t1) / math.log(m2.toDouble / m1)
          println(f"exponent $name%-24s x$m1->x$m2: $e%5.2f  (${t1}%.2f -> ${t2}%.2f s)")
        case _ =>
      }
    }
    println(s"retriedTasks total=${retried.get} (0 = clean run, the heap-envelope claim)")
    spark.stop()
  }
}
