package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.streaming.{Ev, EventStreams}

/** Structured Streaming twins: batch/stream parity + watermark late-drop +
  * stateful running state (SURVEY.md §5.1 layer 5). */
class StreamingSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** transformWithState needs column families: run `f` on the RocksDB
    * state store. */
  private def rocksDb[T](f: => T): T =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  private def runToMemory(name: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = build.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("tumbling window: stream (complete mode) matches batch on same input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
      Ev(3, ts(65), 2, "view", 3.0), Ev(4, ts(70), 2, "click", 4.0))
    val stream = MemoryStream[Ev]
    stream.addData(rows: _*)
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumb").orderBy("win_start", "event_type").collect().toSeq
    val batch = EventStreams.tumblingCounts(rows.toDF())
      .orderBy("win_start", "event_type").collect().toSeq
    streamed should equal(batch)
  }

  test("watermark drops events arriving later than 10 minutes behind max event-time") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(stream.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Append).start()
    // batch 1: event time advances to 2:00 → watermark 1:50 after commit
    stream.addData(Ev(1, ts(120), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: a row at 0:30 is far behind the watermark → its hour-0
    //          window is already closed; a row at 2:05 is fine
    stream.addData(Ev(2, ts(30), 1, "click", 1.0), Ev(3, ts(125), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: advance event time to 3:30 to close the hour-2 window
    stream.addData(Ev(4, ts(210), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("late").select("win_start").collect()
      .map(_.getTimestamp(0).toString).toSet
    // hour-0 window must never be emitted: its only row arrived too late
    emitted should not contain "2024-01-01 00:00:00.0"
    emitted should contain("2024-01-01 02:00:00.0")
  }

  test("file-source stream (availableNow) matches batch on the fixture events") {
    val tmp = tempDir("stream_in")
    val ev = Tables.events(spark, sfDir)
    ev.write.parquet(s"$tmp/in")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$tmp/in")
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filetumb")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("filetumb")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = EventStreams.tumblingCounts(spark.read.parquet(s"$tmp/in"))
      .orderBy("win_start", "event_type").collect().toSeq
    streamed should equal(batch)
    streamed.size should be > 100
  }

  test("file-source stream discovers a staged second file and matches the two-file batch") {
    // the 100 TB ingest shape: a directory that keeps growing; the source
    // must pick up late-arriving files in later microbatches, and the
    // windowed aggregate over the union must equal the batch answer
    val tmp = tempDir("stream_in2")
    val ev = Tables.events(spark, sfDir)
    val half1 = ev.where(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
    val half2 = ev.where(org.apache.spark.sql.functions.col("event_id") % 2 === 1)
    half1.write.parquet(s"$tmp/in/batch1")
    val stream = spark.readStream.schema(ev.schema)
      .option("recursiveFileLookup", "true").parquet(s"$tmp/in")
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filetumb2")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    val afterFirst = spark.table("filetumb2").count()
    half2.write.parquet(s"$tmp/in/batch2") // stage the second file mid-stream
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("filetumb2")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = EventStreams.tumblingCounts(
        spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/in"))
      .orderBy("win_start", "event_type").collect().toSeq
    streamed should equal(batch)
    streamed.size.toLong should be >= afterFirst // second file added/updated windows
  }

  test("dedupByEventId drops duplicate ids within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Ev]
    stream.addData(
      Ev(1, ts(10), 1, "click", 1.0), Ev(1, ts(10), 1, "click", 1.0),
      Ev(2, ts(11), 1, "view", 2.0))
    val out = runToMemory("dedup")(EventStreams.dedupByEventId(stream.toDF()))
    out.count() shouldBe 2
  }

  test("transformWithState twin matches mapGroupsWithState across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Ev(1, ts(1), 1, "purchase", 10.0), Ev(2, ts(2), 1, "click", 1.0),
      Ev(3, ts(3), 1, "purchase", 5.0), Ev(4, ts(1), 2, "view", 2.0))
    rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(rows.take(2): _*)
      val q = EventStreams.runningUserStateTws(stream.toDS())
        .writeStream.format("memory").queryName("tws").outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(rows.drop(2): _*)
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
      got should equal(Seq((1L, 1L, 10.0), (2L, 1L, 11.0), (3L, 2L, 16.0), (4L, 0L, 2.0)))
    }
  }

  test("event-time timers close sessions exactly like batch session_window (state expiry parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // u1: two sessions (10,20 | 120); u2: one merged session (15,40 — 25 min
    // gap) then 100; u3: an IN-BATCH gap (90 vs 125 in one microbatch) so
    // the inline-close path is exercised beside the timer path. Feeds stay
    // event-time-ordered across batches — rows behind the watermark would
    // be dropped by the stream but kept by the batch twin.
    val rows = Seq(
      Ev(1, ts(10), 1, "click", 1.0), Ev(2, ts(20), 1, "view", 2.0),
      Ev(3, ts(120), 1, "click", 4.0),
      Ev(4, ts(15), 2, "click", 0.5), Ev(5, ts(40), 2, "view", 0.25),
      Ev(6, ts(100), 2, "click", 8.0),
      Ev(7, ts(90), 3, "view", 16.0), Ev(8, ts(125), 3, "click", 32.0))
    rocksDb {
      val stream = MemoryStream[Ev]
      val q = EventStreams.sessionTimeoutTws(stream.toDS())
        .writeStream.format("memory").queryName("sessTws")
        .outputMode(OutputMode.Append).start()
      stream.addData(rows(0), rows(3))                     // wm -> epoch
      q.processAllAvailable()
      stream.addData(rows(1), rows(4))                     // wm -> 0:05
      q.processAllAvailable()
      stream.addData(rows(2), rows(5), rows(6), rows(7))   // wm -> 0:30
      q.processAllAvailable()
      // sentinel batches: watermark is global, so a far-future event for an
      // excluded user fires every pending timer — the second batch is what
      // lets the first sentinel's event time become the watermark
      stream.addData(Ev(98, ts(600), 99, "view", 0.0))     // wm -> 1:50
      q.processAllAvailable()
      stream.addData(Ev(99, ts(601), 99, "view", 0.0))     // wm -> 9:50
      q.processAllAvailable(); q.stop()
      val got = spark.table("sessTws").where(col("user_id") < 99)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventStreams.sessionAgg(rows.toDF()).collect()
        .map(r => (r.getLong(1), r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
        .toSet
      got should equal(batch)
      got.size shouldBe 6 // 2 + 2 + 2 closed sessions, none left open
    }
  }

  test("funnelState last-snapshot matches the ordered funnel across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: full funnel; user 2: click BEFORE any view (must not count),
    //         then view, then click → view+click but no purchase;
    // user 3: purchase before click → view only
    val batch1 = Seq(
      Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(20), 1, "click", 1.0),
      Ev(3, ts(5), 2, "click", 1.0), Ev(4, ts(15), 2, "view", 1.0),
      Ev(5, ts(8), 3, "view", 1.0), Ev(6, ts(12), 3, "purchase", 1.0))
    val batch2 = Seq(
      Ev(7, ts(30), 1, "purchase", 1.0), Ev(8, ts(25), 2, "click", 1.0))
    val stream = MemoryStream[Ev]
    stream.addData(batch1: _*)
    val q = EventStreams.funnelState(stream.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    // Furthest-stage snapshot per user = the batch-equivalent funnel
    // answer. Stage count (view + click? + purchase?) strictly increases
    // across a user's emissions (stages only ever get set, and an
    // emission requires an advance), so maxBy is unique and does NOT
    // depend on memory-sink row order — collect order across microbatches
    // is not a contract (ADVICE r2).
    val last = spark.table("funnel").collect()
      .map(r => (r.getLong(0), (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4))))
      .groupBy(_._1).map { case (u, snaps) =>
        u -> snaps.maxBy { case (_, (_, c, p, _)) =>
          1 + c.size + p.size }._2 }
    def s(minute: Int) = ts(minute).getTime / 1000
    last(1L) shouldBe ((s(10), Some(s(20)), Some(s(30)), 1))
    last(2L) shouldBe ((s(15), Some(s(25)), None, 0))
    last(3L) shouldBe ((s(8), None, None, 0))
  }

  test("retentionIncrements counts match batch cohort retention across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dts(day: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d ${minute / 60}%02d:${minute % 60}%02d:00")
    // user 1: days 0,1,3 (+ a dup on day 1 → one increment only);
    // user 2: days 1,2; user 3: day 0 only; day 9 for user 3 is past the
    // 0..7 offset window and must emit nothing
    val batch1 = Seq(
      Ev(1, dts(0, 10), 1, "view", 1.0), Ev(2, dts(1, 20), 1, "click", 1.0),
      Ev(3, dts(1, 30), 2, "view", 1.0), Ev(4, dts(0, 40), 3, "view", 1.0))
    val batch2 = Seq(
      Ev(5, dts(1, 50), 1, "view", 1.0), Ev(6, dts(3, 10), 1, "purchase", 1.0),
      Ev(7, dts(2, 15), 2, "click", 1.0), Ev(8, dts(9, 5), 3, "view", 1.0))
    val stream = MemoryStream[Ev]
    stream.addData(batch1: _*)
    val q = EventStreams.retentionIncrements(stream.toDS())
      .writeStream.format("memory").queryName("ret").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    // one increment per (user, offset) → counting them per (cohort,
    // offset) IS countDistinct(user_id); compare against the batch
    // retention computed the evRetention way on the union of both batches
    val streamedCounts = spark.table("ret")
      .groupBy("cohort_day", "offset").count()
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val all = (batch1 ++ batch2).toDF()
    val e = all.select(col("user_id"), org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
    val first = e.groupBy("user_id").agg(org.apache.spark.sql.functions.min("day").as("cohort"))
    val batchCounts = e.join(first, "user_id")
      .withColumn("offset", org.apache.spark.sql.functions.datediff(col("day"), col("cohort")).cast("long"))
      .where(col("offset") <= 7)
      .groupBy("cohort", "offset")
      .agg(org.apache.spark.sql.functions.countDistinct("user_id").as("n_active"))
      .collect().map(r => ((r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)), r.getLong(2))).toMap
    streamedCounts should equal(batchCounts)
  }

  test("transformWithState retention twin emits the same increments as mapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dts(day: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d ${minute / 60}%02d:${minute % 60}%02d:00")
    val batch1 = Seq(
      Ev(1, dts(0, 10), 1, "view", 1.0), Ev(2, dts(1, 20), 1, "click", 1.0),
      Ev(3, dts(1, 30), 2, "view", 1.0))
    val batch2 = Seq(
      Ev(4, dts(3, 10), 1, "purchase", 1.0), Ev(5, dts(2, 15), 2, "click", 1.0))
    rocksDb {
      val tws = MemoryStream[Ev]
      tws.addData(batch1: _*)
      val q1 = EventStreams.retentionIncrementsTws(tws.toDS())
        .writeStream.format("memory").queryName("rettws").outputMode(OutputMode.Append).start()
      q1.processAllAvailable()
      tws.addData(batch2: _*)
      q1.processAllAvailable(); q1.stop()
    }
    val mgs = MemoryStream[Ev]
    mgs.addData(batch1: _*)
    val q2 = EventStreams.retentionIncrements(mgs.toDS())
      .writeStream.format("memory").queryName("retmgs").outputMode(OutputMode.Append).start()
    q2.processAllAvailable()
    mgs.addData(batch2: _*)
    q2.processAllAvailable(); q2.stop()
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    rows("rettws") should equal(rows("retmgs"))
    rows("rettws").nonEmpty shouldBe true
  }

  test("pathTrigrams counts match the batch trigram window across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1 path split across microbatches: view,click,view | purchase
    //   → trigrams (view,click,view), (click,view,purchase)
    // user 2: view,view only → no trigram
    val batch1 = Seq(
      Ev(1, ts(1), 1, "view", 1.0), Ev(2, ts(2), 1, "click", 1.0),
      Ev(3, ts(3), 1, "view", 1.0), Ev(4, ts(1), 2, "view", 1.0))
    val batch2 = Seq(
      Ev(5, ts(9), 1, "purchase", 1.0), Ev(6, ts(4), 2, "view", 1.0))
    val stream = MemoryStream[Ev]
    stream.addData(batch1: _*)
    val q = EventStreams.pathTrigrams(stream.toDS())
      .writeStream.format("memory").queryName("paths").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("paths")
      .groupBy("e0", "e1", "e2").count()
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3))).toMap
    // batch twin: the evUserPath lead-window shape on the same rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val batchTri = (batch1 ++ batch2).toDF()
      .withColumn("t1", org.apache.spark.sql.functions.lead("event_type", 1).over(w))
      .withColumn("t2", org.apache.spark.sql.functions.lead("event_type", 2).over(w))
      .where(col("t2").isNotNull)
      .groupBy(col("event_type"), col("t1"), col("t2")).count()
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3))).toMap
    streamed should equal(batchTri)
    streamed((("view", "click", "view"))) shouldBe 1L
  }

  test("TWS funnel and path twins emit the same rows as their mapGroupsWithState twins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batch1 = Seq(
      Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(20), 1, "click", 1.0),
      Ev(3, ts(5), 2, "click", 1.0), Ev(4, ts(15), 2, "view", 1.0))
    val batch2 = Seq(
      Ev(5, ts(30), 1, "purchase", 1.0), Ev(6, ts(25), 2, "click", 1.0))
    def runTws[T](name: String, f: org.apache.spark.sql.Dataset[Ev] => org.apache.spark.sql.Dataset[T]): Unit = {
      val st = MemoryStream[Ev]
      st.addData(batch1: _*)
      val q = f(st.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable(); st.addData(batch2: _*); q.processAllAvailable(); q.stop()
    }
    rocksDb {
      runTws("funtws", EventStreams.funnelStateTws)
      runTws("pathtws", EventStreams.pathTrigramsTws)
    }
    runTws("funmgs", EventStreams.funnelState)
    runTws("pathmgs", EventStreams.pathTrigrams)
    def sorted(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
    sorted("funtws") should equal(sorted("funmgs"))
    sorted("pathtws") should equal(sorted("pathmgs"))
    sorted("funtws").nonEmpty shouldBe true
    sorted("pathtws").nonEmpty shouldBe true
  }

  test("runningUserState matches batch ev_stateful on the same input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Ev(1, ts(1), 1, "purchase", 10.0), Ev(2, ts(2), 1, "click", 1.0),
      Ev(3, ts(3), 1, "purchase", 5.0), Ev(4, ts(1), 2, "view", 2.0))
    val stream = MemoryStream[Ev]
    stream.addData(rows.take(2): _*)   // two microbatches exercise state carry-over
    val q = EventStreams.runningUserState(stream.toDS())
      .writeStream.format("memory").queryName("state").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData(rows.drop(2): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("state").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    got should equal(Seq((1L, 1L, 10.0), (2L, 1L, 11.0), (3L, 2L, 16.0), (4L, 0L, 2.0)))
  }

  test("hourlyAnomaly matches a prefix-stats batch formulation across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // hour-ordered feed: type 'a' runs 5/hour with a 30-event spike in
    // hour 6; type 'b' is constant (sd = 0 path). The online twin scores
    // each hour against the hours closed BEFORE it, so the batch mirror
    // uses a preceding-rows window, not full-corpus stats.
    def hourEvs(tpe: String, hour: Int, n: Int, idBase: Long): Seq[Ev] =
      (0 until n).map(i =>
        Ev(idBase + hour * 100L + i, ts(hour * 60 + i % 60), i.toLong % 7, tpe, 1.0))
    val rows = (0 until 10).flatMap { h =>
      // 'a' baseline cycles 4/5/6 (nonzero variance — constant history
      // would define every z as 0 and the spike would be invisible)
      hourEvs("a", h, if (h == 6) 30 else 4 + h % 3, 0) ++ hourEvs("b", h, 4, 100000)
    }
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val streamed = rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(b1: _*)
      val q = EventStreams.hourlyAnomaly(stream.toDS())
        .writeStream.format("memory").queryName("anom").outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("anom")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    }

    val hourly = rows.toDF()
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"event_type", unix_timestamp($"window.start").as("win_s"), $"n")
    val w = Window.partitionBy("event_type").orderBy("win_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastH = hourly.groupBy("event_type").agg(max("win_s").as("last_s"))
    val expected = hourly
      .withColumn("nh", count(lit(1)).over(w))
      .withColumn("mu", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("z", when(col("nh") >= 2 && col("sd") > 0,
        graft.ops.Det.r4((col("n") - col("mu")) / col("sd"))).otherwise(0.0))
      .join(lastH, "event_type")
      .where(col("win_s") < col("last_s")) // the open hour never closes in-stream
      .select("event_type", "win_s", "n", "z")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

    streamed.map(t => (t._1, t._2, t._3)) shouldBe expected.map(t => (t._1, t._2, t._3))
    streamed.zip(expected).foreach { case (s, e) => s._4 shouldBe e._4 +- 1e-9 }
    // the spike hour is flagged online; the constant type never is
    streamed.find(t => t._1 == "a" && t._3 == 30L).get._4 should be > 2.0
    streamed.filter(_._1 == "b").foreach(_._4 shouldBe 0.0)
  }

  test("dailyFirstSeen deduplicates to one row per user-day; counts match batch DAU") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1 active on days 0,0,0,1 (three same-day events dedupe);
    // user 2 on days 0,2; user 3 on day 2 only — split mid-day so the
    // dedup state must carry across microbatches
    def at(id: Long, user: Long, day: Int, hour: Int) =
      Ev(id, new java.sql.Timestamp((1700000000L + day * 86400L + hour * 3600L) * 1000L),
         user, "view", 1.0)
    val rows = Seq(
      at(0, 1, 0, 1), at(1, 1, 0, 5), at(2, 2, 0, 3), at(3, 1, 0, 9),
      at(4, 1, 1, 2), at(5, 2, 2, 4), at(6, 3, 2, 6))
    val (b1, b2) = rows.splitAt(3) // user 1's third day-0 event lands in batch 2
    val streamed = rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(b1: _*)
      val q = EventStreams.dailyFirstSeen(stream.toDS())
        .writeStream.format("memory").queryName("dau").outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("dau").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    // exactly one row per (user, day)
    streamed shouldBe streamed.distinct.sorted
    // per-day counts over the reduced stream == batch DAU (keyed by the
    // ISO day string — the UTC-explicit meeting point of the stream's
    // epoch-second day and the batch op's DateType day)
    val streamedDau = streamed.groupBy(t => java.time.LocalDate.ofEpochDay(t._2 / 86400).toString)
      .view.mapValues(_.size.toLong).toMap
    val d = tempDir("graft_dau_b")
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id, e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val batchDau = queries.Events.evActiveUsers(spark, d).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    batchDau shouldBe streamedDau
  }

  test("purchaseCredits matches batch ev_attribution across a mid-journey microbatch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def at(id: Long, user: Long, minute: Int, typ: String, value: Double) =
      Ev(id, ts(minute), user, typ, value)
    // user 1: view → purchase → click → purchase (split lands BETWEEN
    // the click and its purchase — the credit depends on carried state);
    // user 2: direct purchase ('<none>'), then a view, then purchase;
    // user 3: touches only, no purchase
    val rows = Seq(
      at(0, 1, 1, "view", 0.0), at(1, 1, 2, "purchase", 10.0),
      at(2, 1, 3, "click", 0.0), at(3, 2, 4, "purchase", 5.0),
      at(4, 1, 6, "purchase", 7.0), at(5, 2, 7, "view", 0.0),
      at(6, 2, 9, "purchase", 2.0), at(7, 3, 5, "view", 0.0))
    val (b1, b2) = rows.splitAt(4)
    val credits = rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(b1: _*)
      val q = EventStreams.purchaseCredits(stream.toDS())
        .writeStream.format("memory").queryName("credits")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("credits").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).sortBy(_._1).toSeq
    }
    // every purchase credited exactly once, to the correct carried touch
    credits shouldBe Seq(
      (1L, "view", 10.0), (3L, "<none>", 5.0), (4L, "click", 7.0), (6L, "view", 2.0))
    // the stateless groupBy over the credit stream == the batch report
    val streamedReport = credits.groupBy(_._2).view
      .mapValues(cs => (cs.size.toLong, cs.map(_._3).sum)).toMap
    val d = tempDir("graft_attr_s")
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id, e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val batchReport = queries.Events.evAttribution(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    batchReport shouldBe streamedReport
  }

  test("dedupByContent keeps one doc per content hash; keepers match batch llm_exact_dedup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{Doc, DocStreams}
    // duplicate texts land in DIFFERENT microbatches (docs 0/3 and 1/4
    // share content) — the survivor decision must come from carried
    // state; ids are monotone, the refreshInPlace ingest contract
    val docs = Seq(
      Doc(0L, "alpha beta gamma", "en"),
      Doc(1L, "delta epsilon", "en"),
      Doc(2L, "unique text one", "de"),
      Doc(3L, "alpha beta gamma", "en"), // dup of 0 across the split
      Doc(4L, "delta epsilon", "fr"),    // dup of 1 across the split
      Doc(5L, "unique text two", "en"))
    val (b1, b2) = docs.splitAt(3)
    val kept = rocksDb {
      val stream = MemoryStream[Doc]
      stream.addData(b1: _*)
      val q = DocStreams.dedupByContent(stream.toDS())
        .writeStream.format("memory").queryName("kept")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("kept").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    }
    kept.map(_._1) shouldBe Seq(0L, 1L, 2L, 5L) // first arrival = min id wins
    // keeper ids AND hashes equal the batch operator's on the same corpus
    val d = tempDir("graft_sdedup")
    docs.map(x => (x.doc_id, x.text, x.lang, "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = queries.Llm.llmExactDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq
    kept shouldBe batch
  }

  test("ingest composes the gopher gate with content dedup: garbage never reaches state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{Doc, DocStreams}
    val good = (1 to 60).map(i => s"word$i").mkString(" ") // passes all 3 rules
    val docs = Seq(
      Doc(0L, good, "en"),
      Doc(1L, "x y", "en"),        // fails n_tok ≥ 50 → gated, never dedup state
      Doc(2L, good, "en"),         // dup of 0, next batch
      Doc(3L, "1 2 3", "en"))      // fails frac_alpha too
    val (b1, b2) = docs.splitAt(2)
    val ingested = rocksDb {
      val stream = MemoryStream[Doc]
      stream.addData(b1: _*)
      val q = DocStreams.ingest(stream.toDS())
        .writeStream.format("memory").queryName("ingested")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("ingested").collect().map(_.getLong(0)).toSeq
    }
    ingested shouldBe Seq(0L)
  }

  test("cohortRevenue increments match batch ev_cohort_ltv day values across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the batch LTV fixture (midnight-aligned base), split so user 1's
    // day-1 purchase arrives in batch 2 — its cohort must come from state
    def at(id: Long, user: Long, day: Int, hour: Int, typ: String, v: Double) =
      Ev(id, new java.sql.Timestamp((1699920000L + day * 86400L + hour * 3600L) * 1000L),
         user, typ, v)
    val rows = Seq(
      at(0, 1, 0, 1, "view", 0.0), at(1, 1, 0, 2, "purchase", 10.0),
      at(2, 2, 0, 4, "view", 0.0), at(3, 3, 1, 6, "view", 0.0),
      at(4, 1, 1, 3, "purchase", 5.0), at(5, 2, 2, 5, "purchase", 3.0),
      at(6, 3, 1, 7, "purchase", 7.0))
    val (b1, b2) = rows.splitAt(3)
    val incs = rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(b1: _*)
      val q = EventStreams.cohortRevenue(stream.toDS())
        .writeStream.format("memory").queryName("ltvincs")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("ltvincs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // stateless rollup of the increment stream == the batch day_value
    // report, keyed by the ISO cohort day (UTC meeting point)
    val streamedDay = incs.groupBy(t => (
        java.time.LocalDate.ofEpochDay(t._1 / 86400).toString, t._2))
      .view.mapValues(_.map(_._3).sum).toMap
    val d = tempDir("graft_ltv_s")
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id, e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val batchDay = queries.Events.evCohortLtv(spark, d).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getDouble(2)).toMap
    batchDay shouldBe streamedDay
  }

  test("dedup state survives a query RESTART from its checkpoint (fault-tolerance pin)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{Doc, DocStreams}
    // the survivor decision for doc 2 depends on state written BEFORE
    // the first query was stopped — a fresh query resuming from the
    // same checkpoint must drop it; losing the store would re-admit it
    val base = tempDir("graft_ckpt_s")
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val kept = rocksDb {
      // the memory sink refuses checkpoint recovery; the parquet sink is
      // the fault-tolerant one — both queries write the same dir
      val stream = MemoryStream[Doc]
      stream.addData(Doc(0L, "alpha beta gamma", "en"), Doc(1L, "fresh one", "en"))
      val q1 = DocStreams.dedupByContent(stream.toDS())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      q1.processAllAvailable(); q1.stop()
      stream.addData(Doc(2L, "alpha beta gamma", "en"), // dup of PRE-restart doc 0
                     Doc(3L, "fresh two", "en"))
      val q2 = DocStreams.dedupByContent(stream.toDS())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      q2.processAllAvailable(); q2.stop()
      spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    }
    kept shouldBe Seq(0L, 1L, 3L) // doc 2 died to state recovered across the restart
  }

  test("token-length bins match the batch histogram across microbatches (Complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{Doc, DocStreams}
    // the stateful core of llm_token_histogram online: per-bin counts in
    // Complete mode must equal the batch census no matter how the feed
    // is split into microbatches (binning is per-doc, counting is
    // commutative — pinned rather than assumed)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang").as[Doc].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[Doc]
    val q = DocStreams.tokenLengthBins(stream.toDS())
      .writeStream.format("memory").queryName("tok_bins")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val online = spark.table("tok_bins").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = queries.Textops.llmTokenHistogram(spark, sfDir).collect()
      .map(r => (r.getLong(0) / 16, r.getLong(1))).toMap
    online shouldBe batch
  }

  test("interArrival matches a running-prefix batch formulation across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 'a': irregular cadence (minutes 0,1,3,10,30); 'b': constant 5-min
    val rows =
      Seq(0, 1, 3, 10, 30).zipWithIndex.map { case (m, i) =>
        Ev(i.toLong, ts(m), 1L, "a", 1.0) } ++
      (0 until 6).map(i => Ev(100L + i, ts(i * 5), 2L, "b", 1.0))
    val (b1, b2) = rows.sortBy(_.ts.getTime).splitAt(rows.size / 2)
    val streamed = rocksDb {
      val stream = MemoryStream[Ev]
      stream.addData(b1: _*)
      val q = EventStreams.interArrival(stream.toDS())
        .writeStream.format("memory").queryName("gaps").outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      spark.table("gaps").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                   r.getDouble(4), r.getLong(5)))
        .sortBy(_._1)
    }

    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = rows.toDF()
      .withColumn("es", unix_timestamp($"ts"))
      .withColumn("gap", $"es" - lag("es", 1).over(w))
      .where($"gap".isNotNull)
      .withColumn("n_gaps", count(lit(1)).over(wCum))
      .withColumn("avg_gap", graft.ops.Det.r4(sum("gap").over(wCum) / count(lit(1)).over(wCum)))
      .withColumn("max_gap", max("gap").over(wCum))
      .select("event_id", "event_type", "gap", "n_gaps", "avg_gap", "max_gap")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4), r.getLong(5)))
      .sortBy(_._1)
    streamed shouldBe expected
    // spot-check the irregular type's final profile: gaps 60,120,420,1200
    val aLast = streamed.filter(_._2 == "a").last
    (aLast._4, aLast._5, aLast._6) shouldBe ((4L, 450.0, 1200L))
  }

  /** Interval-join parity body, parametrized over the state-store
    * provider (VERDICT r8 #6): the stream-stream join buffers BOTH
    * sides in the state store, and at 100 TB/day that store is RocksDB
    * — the parity claim must hold against the store the claim is about,
    * not only the in-memory HDFS-backed default. `tag` keys the memory
    * sink tables so the two runs don't collide. */
  private def intervalJoinParity(tag: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: clicks at :05/:09 precede the :12 purchase within 10 min,
    // the :01 click is outside the window; user 2's :30 purchase has no
    // clicks at all (outer-only row)
    val rows = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 2.0),
      Ev(3, ts(9), 1, "click", 3.0), Ev(4, ts(12), 1, "purchase", 40.0),
      Ev(5, ts(30), 2, "purchase", 50.0))
    val stream = MemoryStream[Ev]
    stream.addData(rows: _*)
    val streamed = runToMemory(s"ivj_$tag") {
      EventStreams.intervalJoin(stream.toDF())
    }.collect().map(r => (r.getLong(0), r.getTimestamp(4))).toSet
    val batch = EventStreams.intervalJoin(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(4))).toSet
    streamed should equal(batch)
    streamed shouldBe Set((4L, ts(5)), (4L, ts(9)))

    // leftOuter: the zero-click purchase emits with null click columns
    // once a later event advances the watermark past its join window
    val stream2 = MemoryStream[Ev]
    val q = EventStreams.intervalJoin(stream2.toDF(), joinType = "leftOuter")
      .writeStream.format("memory").queryName(s"ivjo_$tag")
      .outputMode(OutputMode.Append).start()
    stream2.addData(rows: _*)
    q.processAllAvailable()
    // sentinels far in the future on BOTH sides (the global watermark is
    // the min over the two withWatermark nodes); a second batch is needed
    // because the advanced watermark only applies from the NEXT microbatch
    stream2.addData(Ev(98, ts(600), 3, "click", 0.0),
                    Ev(99, ts(600), 3, "purchase", 0.0))
    q.processAllAvailable()
    stream2.addData(Ev(97, ts(601), 3, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val outer = spark.table(s"ivjo_$tag")
      .where($"event_id" === 5L).collect()
    outer should have size 1
    outer.head.isNullAt(4) shouldBe true
  }

  test("interval self-join: stream matches the batch join; watermark emits outer rows") {
    intervalJoinParity("hdfs")
  }

  test("interval self-join parity holds under the RocksDB state store (the 100 TB/day store)") {
    rocksDb(intervalJoinParity("rocks"))
  }
}
