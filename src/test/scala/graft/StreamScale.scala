package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev aid (round 9): measured micro-batch THROUGHPUT of the streaming
  * surface — the fourth measured-fact leg beside DedupScale (llm
  * batch), CoreScale (relational/event batch) and the index-artifact
  * economics rows. StreamingSpec pins batch/stream parity semantics;
  * this measures what those pipelines SUSTAIN: events ×k staged as a
  * 64-file parquet directory, replayed through the file source with
  * maxFilesPerTrigger (8 microbatches per run), driven to the noop
  * sink under Trigger.AvailableNow, under BOTH state-store providers
  * (HDFS-backed memory map vs RocksDB — the store a 100 TB/day job
  * actually runs). Reported per (pipeline, provider): wall, input
  * rows/s, microbatch count, peak stored state rows.
  *
  * Pipelines: watermarked tumbling agg (update mode — per-batch state
  * rewrite), watermark-bounded dedup (the id-state-heavy worst case),
  * the stream-stream interval join (two join buffers), and the
  * transformWithState running user state (RocksDB only — the API
  * needs column families). Arrival order is the staged files' listing
  * order, i.e. effectively random in event time — the WORST case for
  * watermark-bounded state (late rows keep state alive), so the state
  * numbers here are ceilings, not typical values.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.StreamScale 10 30"`
  */
object StreamScale {
  private val HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10, 30)
    val spark = Session.local("spark.sql.legacy.parquet.nanosAsLong" -> "true")
    import spark.implicits._
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_streamscale"

    for (k <- mults) {
      // stage events ×k with shifted id populations (the coreStress rule:
      // independent keys per copy → state row counts scale linearly by
      // construction), 64 files so maxFilesPerTrigger=8 yields 8 batches
      val stage = s"$tmp/ev_x$k"
      val base = Tables.events(spark, src)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      if (!new java.io.File(s"$stage/_SUCCESS").exists) {
        val off = 1L << 40
        (0 until k).map { i =>
          base.select((col("event_id") + lit(i * off)).as("event_id"), col("ts"),
            (col("user_id") + lit(i * off)).as("user_id"), col("event_type"), col("value"))
        }.reduce(_ unionAll _).repartition(64).write.mode("overwrite").parquet(stage)
      }
      val nRows = spark.read.parquet(stage).count()
      val schema = spark.read.parquet(stage).schema

      def stream(mfpt: Int): DataFrame =
        spark.readStream.schema(schema).option("maxFilesPerTrigger", mfpt).parquet(stage)

      var ckptN = 0
      def run(name: String, provider: String, mode: String, mfpt: Int = 8)(build: DataFrame => org.apache.spark.sql.Dataset[_]): Unit = {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        ckptN += 1
        val ckpt = s"$tmp/ckpt_${k}_$ckptN"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        val t0 = System.nanoTime()
        val q = build(stream(mfpt)).writeStream.format("noop")
          .outputMode(mode).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq
        val rows = prog.map(_.numInputRows).sum
        val batches = prog.count(_.numInputRows > 0)
        val stateOps = prog.flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
        val stateRows = stateOps.map(_.numRowsTotal).maxOption.getOrElse(0L)
        // state-store SIZE beside the row count (VERDICT r11 #5): bytes
        // is what an executor actually budgets; rows alone hides a
        // per-row payload regression (e.g. a fatter state encoder)
        val stateMiB = stateOps.map(_.memoryUsedBytes).maxOption.getOrElse(0L) / 1024.0 / 1024.0
        val prov = if (provider == HDFS) "hdfs " else "rocks"
        println(f"x$k%-3d $name%-14s $prov wall=$wall%7.2f s  rows=$rows%9d  " +
          f"rate=${rows / wall / 1e6}%5.2f Mrows/s  batches=$batches  stateRows=$stateRows%9d  stateMiB=$stateMiB%8.1f")
      }

      for (prov <- Seq(HDFS, ROCKS)) {
        run("tumbling_agg", prov, "update")(df => streaming.EventStreams.tumblingCounts(df))
        run("dedup", prov, "append")(df => streaming.EventStreams.dedupByEventId(df))
        run("interval_join", prov, "append")(df => streaming.EventStreams.intervalJoin(df))
      }
      // transformWithState needs column families → RocksDB only
      run("running_tws", ROCKS, "update")(df =>
        streaming.EventStreams.runningUserStateTws(df.as[streaming.Ev]))
      // Round 10 (VERDICT r9 #7): the micro-batch amortization dial.
      // StreamScale r9 found interval_join pays a ~3.5 s/micro-batch
      // two-sided state-commit floor regardless of volume — so at these
      // row counts wall ≈ batches × floor, and maxFilesPerTrigger is
      // the dial a 100 TB/day job turns to trade latency for
      // throughput. Sweep 32 and 64 files/trigger (2 and 1 batches over
      // the 64 staged files; the 8-files/8-batch arm is the rocks run
      // above) — the wall curve vs batch count IS the floor's price.
      for (mfpt <- sys.env.get("SPARK_GRAFT_MFPT")
             .map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(32, 64)))
        run(s"ij[mfpt=$mfpt]", ROCKS, "append", mfpt)(df =>
          streaming.EventStreams.intervalJoin(df))
      // Round 11 (VERDICT r10 #6): the file-sink DELIVERY leg —
      // sink_stream's scale posture. Unlike the noop pipelines above,
      // this prices the real parquet sink: day-partitioned data files
      // plus the _spark_metadata exactly-once manifest, THEN the
      // read-back a downstream consumer pays through that manifest (the
      // listing a 100 TB/day lake depends on). Stateless projection →
      // no state operator; files and manifest-read seconds are the
      // scaling quantities beside wall.
      locally {
        val out = s"$tmp/sink_out_$k"; val ckpt = s"$tmp/sink_ckpt_$k"
        Seq(out, ckpt).foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
        val t0 = System.nanoTime()
        val q = stream(8)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), to_date(col("ts")).as("day"))
          .writeStream.format("parquet").option("checkpointLocation", ckpt)
          .partitionBy("day").trigger(Trigger.AvailableNow()).start(out)
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq
        val rows = prog.map(_.numInputRows).sum
        val batches = prog.count(_.numInputRows > 0)
        val t1 = System.nanoTime()
        val back = spark.read.parquet(out).count() // resolves via _spark_metadata
        val readSec = (System.nanoTime() - t1) / 1e9
        def files(f: java.io.File): Long = {
          val cs = f.listFiles
          if (cs == null) 0L
          else cs.map(c => if (c.isDirectory) files(c)
                           else if (c.getName.endsWith(".parquet")) 1L else 0L).sum
        }
        val nFiles = files(new java.io.File(out))
        require(back == rows, s"manifest read-back $back != streamed $rows")
        println(f"x$k%-3d file_sink      rocks wall=$wall%7.2f s  rows=$rows%9d  " +
          f"rate=${rows / wall / 1e6}%5.2f Mrows/s  batches=$batches  " +
          f"files=$nFiles  manifest_readback=$readSec%5.2f s (exactly-once: rows_back==rows)")
      }
      println(s"  (x$k input = $nRows rows; sanity: state/row ratios above)")
    }
    spark.stop()
  }
}
