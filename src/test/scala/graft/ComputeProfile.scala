package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev aid (round 13, VERDICT r12 #1a receipts): decompose the non-llm
  * compute tail's wall time into scheduled TASK WORK vs job/stage count —
  * the discriminator between "this query wastes work" (task-seconds ≈
  * wall × cores, something to optimize) and "this query is floor-priced"
  * (task-seconds ≪ wall × cores: the wall is job-launch / stage-barrier /
  * single-partition latency, which more optimization cannot remove
  * without changing what the query claims to do).
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.ComputeProfile q1,q2"`
  */
object ComputeProfile {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq(
      "graph_pagerank", "graph_khop", "graph_edges_build", "join_salted",
      "join_bucketed", "fn_map", "fn_try", "fn_json", "agg_skew_kurt",
      "agg_corr", "agg_gini", "agg_weighted", "dq_referential", "dq_manifest",
      "join_cross_topk", "join_multiway"))

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val taskMs = new AtomicLong; val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (e.taskInfo != null) { taskMs.addAndGet(e.taskInfo.duration); tasks.incrementAndGet() }
        (): Unit
      }
    })
    // JIT/codegen warmup: run the set once untimed
    names.foreach { n =>
      SparkEntry.queries(n)(spark, d).queryExecution.toRdd.count(); Session.sweep(spark)
    }
    println(f"${"query"}%-20s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%8s ${"cpu_util"}%8s")
    names.foreach { n =>
      Thread.sleep(300) // drain the async listener bus
      jobs.set(0); stages.set(0); taskMs.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain the async listener bus
      val ts = taskMs.get() / 1e3
      println(f"$n%-20s $wall%7.2f ${jobs.get()}%5d ${stages.get()}%7d ${tasks.get()}%6d $ts%8.2f ${ts / (wall * cpus)}%8.2f")
      Session.sweep(spark)
    }
    spark.stop()
  }
}
