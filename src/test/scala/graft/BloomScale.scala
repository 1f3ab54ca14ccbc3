package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev aid (round 9): MEASURE what llm_dedup_bloom's routing buys at
  * scale instead of asserting it. At bench scale the wall-clock delta
  * between the bloom-routed and plain-exact arms is noise (both arms
  * pay the same oldSha distinct and the same output sort); the honest
  * measurable is the LEFT-SIDE SHUFFLE VOLUME the routing removes —
  * the quantity that grows with the batch at 100 TB — plus
  * wall-neutrality (the bloom must never lose) and the might-rate
  * (the fraction of the new batch that still pays the exact join).
  *
  * Two corpus regimes, both linear-by-construction (StressGen):
  *   novel (documentsNovel) — ~99.8% of the batch is new, the daily
  *     refresh the operator is FOR: might-rate ≈ distinct-dup share +
  *     fpp, routing removes ~everything from the join's left side;
  *   dup (documentsDup)     — 70% exact-dup mass, the WORST case:
  *     might-rate ≈ the dup share, routing saves little — the pin
  *     here is that the bloom arm stays wall-neutral anyway.
  *
  * Shuffle bytes come from a SparkListener summing per-stage shuffle
  * writes between marks (listener delivery is async — a short drain
  * sleep before reading; a dev-aid tolerance, not a product path).
  * Auto-broadcast is DISABLED in both arms: at real scale the old
  * digest set does not broadcast, and a broadcast exact join would
  * hide exactly the left-side shuffle this measures.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.BloomScale 30"`
  */
object BloomScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(30)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    val spark = Session.local("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    /** (min wall s, rows, shuffle MB of the LAST pass) */
    def timed(fn: => DataFrame): (Double, Long, Double) = {
      val runs = (1 to iters).map { _ =>
        Session.sweep(spark)
        Thread.sleep(500) // drain listener events from the sweep
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        val n = fn.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // drain listener events from the run
        (sec, n, shuffleBytes.get() / 1e6)
      }
      (runs.map(_._1).min, runs.head._2, runs.last._3)
    }

    def bkt(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100

    /** The sketch-free arm: the whole new batch left-joins oldSha. */
    def exactArm(d: String): DataFrame = {
      val docs = Tables.documents(spark, d).withColumn("bucket", bkt(col("doc_id")))
      val oldSha = docs.where(col("bucket") < 80)
        .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
        .withColumn("dup", lit(1L))
      docs.where(col("bucket") >= 80)
        .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"))
        .join(oldSha, Seq("h"), "left")
        .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup_exact"))
        .withColumn("keep", (col("dup_exact") === 0).cast("long"))
        .orderBy("doc_id")
    }

    for (m <- mults; regime <- Seq("novel", "dup")) {
      val dir =
        if (m == 1) src
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft_bloom_${regime}_x$m"
          if (!(reuse && new java.io.File(s"$d/documents.parquet/_SUCCESS").exists)) {
            if (regime == "novel") graft.tools.StressGen.documentsNovel(spark, src, d, m)
            else graft.tools.StressGen.documentsDup(spark, src, d, m)
          }
          d
        }
      val docs = Tables.documents(spark, dir).withColumn("bucket", bkt(col("doc_id")))
      val nOld = docs.where(col("bucket") < 80).count()
      val nNew = docs.where(col("bucket") >= 80).count()
      // size the filter to the old population — the conf contract
      spark.conf.set("spark.graft.dedup.bloomItems", math.max(100000L, nOld).toString)
      try {
        val (te, re, be) = timed(exactArm(dir))
        val (tb, rb, bb) = timed(queries.Extras.llmDedupBloom(spark, dir))
        require(re == rb, s"arm row counts diverge: exact $re vs bloom $rb")
        // the ARTIFACT arm — the production refresh: index built once at
        // delivery time (untimed), the batch is its own input table, the
        // old corpus is never opened per refresh
        val ix = s"$dir/digest_index"
        pipelines.DigestIndex.buildFrom(
          spark, docs.where(col("bucket") < 80), dir, ix)
        docs.where(col("bucket") >= 80).drop("bucket")
          .write.mode("overwrite").parquet(s"$dir/batch.parquet")
        val (ti, ri, bi) = timed(pipelines.DigestIndex.refresh(
          spark, spark.read.parquet(s"$dir/batch.parquet"), ix))
        require(re == ri, s"arm row counts diverge: exact $re vs index $ri")
        val nDup = queries.Extras.llmDedupBloom(spark, dir)
          .agg(sum("dup_exact")).head().getLong(0)
        println(f"x$m%-3d $regime%-6s old=$nOld%8d new=$nNew%8d dup_rate=${nDup * 100.0 / nNew}%5.1f%% | " +
          f"exact $te%6.2f s ${be}%8.1f MB | bloom $tb%6.2f s ${bb}%8.1f MB | " +
          f"index-refresh $ti%6.2f s ${bi}%8.1f MB")
        // NEAR-dup refresh economics (SignatureIndex): the artifact
        // refresh signs only the batch; the from-scratch anchor is the
        // suite's own llm_minhash over the full corpus (signatures for
        // every doc — the O(corpus) cost the artifact amortizes away).
        // The anchor runs ONE pass: it is a price tag, not a record.
        val six = s"$dir/sig_index"
        pipelines.SignatureIndex.buildFrom(
          spark, docs.where(col("bucket") < 80), dir, six)
        val (ts, _, bsMB) = timed(pipelines.SignatureIndex.refresh(
          spark, spark.read.parquet(s"$dir/batch.parquet"), six))
        Session.sweep(spark)
        val t0 = System.nanoTime()
        queries.Sketches.llmMinhash(spark, dir).queryExecution.toRdd.count()
        val tScratch = (System.nanoTime() - t0) / 1e9
        println(f"x$m%-3d $regime%-6s near-dup: sig-refresh $ts%6.2f s ${bsMB}%8.1f MB | " +
          f"from-scratch minhash $tScratch%6.2f s (1 pass)")
      } finally spark.conf.unset("spark.graft.dedup.bloomItems")
    }
    spark.stop()
  }
}
