package graft


/** Dev aid (round 13, VERDICT r12 #5): price the PRODUCTION path as one
  * composed run instead of summing hermetic parts. The bench deliberately
  * times each query cold (round-7 decision), so the amortized flow —
  * prep → pair artifact → cluster → split → partition-diff sync — has
  * correctness pins (DailyRefreshSpec/CorpusPrepSpec) but has never had
  * a price at scale. Three arms over the ×k scale corpus:
  *
  *   composed   CorpusPrepMain.run — clean → dedup → cluster → split →
  *              partitioned write, one program, no artifact confs;
  *   bootstrap  CorpusPrepMain.refreshFlow first run — PairTable.write
  *              (the artifact build) + the prep with every jaccard
  *              consumer served FROM the artifact + Deliver.syncPartitions;
  *   reuse      refreshFlow again, same artifact, same corpus — the
  *              day-2-no-change cost: pair work short-circuits to an
  *              artifact scan and sync rewrites nothing.
  *
  * Plus a per-stage split of the composed pipeline: stageFrames counts
  * run in order, and because the heavy stages Lineage.cut their outputs
  * each successive count prices roughly ONE stage's new work (same
  * mechanism the attrition census documents).
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SCALE_DIR=/tmp/graft_scale_x10 sbt "Test/runMain graft.ComposedScale"`
  */
object ComposedScale {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(
      sys.env.get("SPARK_GRAFT_SHUFFLE").map("spark.sql.shuffle.partitions" -> _).toSeq: _*)
    val src = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SCALE_DIR"))
      .getOrElse("/tmp/graft_scale_x10")
    val work = SparkFixture.tempDir("graft_composed")

    def timed[T](fn: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = fn
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def fmt(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)

    // per-stage split (one pass, counts in pipeline order)
    Session.sweep(spark)
    val frames = graft.pipelines.CorpusPrep.stageFrames(spark, src,
      stopK = 5, jaccardTheta = 0.8, xentMax = None,
      spanDupMax = None, containMax = None, domainCap = None,
      xentQuantileMax = None, decontamMax = None)
    val stageSplit = frames.map { case (name, df) =>
      val (t, n) = timed(df.count())
      println(s"[composed] stage $name: ${fmt(t)} s ($n rows)")
      s""""$name":${fmt(t)}"""
    }.mkString("{", ",", "}")

    Session.sweep(spark)
    val (tComposed, manifest) = timed(
      graft.pipelines.CorpusPrepMain.run(spark, src, s"$work/composed"))
    println(s"[composed] composed cold run: ${fmt(tComposed)} s $manifest")

    val artifact = s"$work/pairs_artifact"
    Session.sweep(spark)
    val (tBoot, repB) = timed(graft.pipelines.CorpusPrepMain.refreshFlow(
      spark, src, s"$work/amortized", artifact, refresh = false))
    println(s"[composed] bootstrap (artifact build + artifact-served prep + sync): " +
      s"${fmt(tBoot)} s changed=${repB._1.size} stale=${repB._2.size}")

    Session.sweep(spark)
    val (tReuse, repR) = timed(graft.pipelines.CorpusPrepMain.refreshFlow(
      spark, src, s"$work/amortized", artifact, refresh = false))
    println(s"[composed] reuse (day-2, no change): ${fmt(tReuse)} s " +
      s"changed=${repR._1.size} stale=${repR._2.size}")

    println(s"""{"src":"$src","composed_s":${fmt(tComposed)},""" +
      s""""bootstrap_s":${fmt(tBoot)},"reuse_s":${fmt(tReuse)},""" +
      s""""stage_split_s":$stageSplit}""")
    spark.stop()
  }
}
