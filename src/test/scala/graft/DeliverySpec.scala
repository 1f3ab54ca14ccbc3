package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.delivery.{Deliver, DeliverMain}

/** Delivery surface: copy/manifest/verify across formats and layouts
  * (the Spark-native distcp+transform, SURVEY.md §0/§1.3). */
class DeliverySpec extends AnyFunSuite with Matchers with SparkFixture {

  private val ordersSchema =
    "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING"

  test("parquet → partitioned parquet copy is lossless and verifiable") {
    val tmp = tempDir("dlv")
    val report = Deliver.copy(spark, s"$sfDir/lineitem.parquet", s"$tmp/li",
      partitionBy = Seq("l_returnflag"))
    report.rows shouldBe Tables.lineitem(spark, sfDir).count()
    report.files should be > 0L
    Deliver.verifyDelivery(spark, s"$sfDir/lineitem.parquet", "parquet",
      s"$tmp/li", "parquet") shouldBe true
  }

  test("Validate.profile on a non-deterministic input reports ONE consistent snapshot") {
    // ADVICE r10: the per-column fan-out executes the input (cols+1)×,
    // so a non-deterministic input must be cut once before it — else
    // n_rows and each nd_* would describe DIFFERENT samples. The pin is
    // behavioral: over a rand()-sampled frame, the unique-key column's
    // distinct count must equal n_rows − n_null exactly, and every
    // per-column row must agree on n_rows — true only for a single
    // materialized snapshot (rand(seed) is still marked
    // non-deterministic, so this exercises the cut path reproducibly).
    val sampled = Tables.orders(spark, sfDir)
      .where(rand(42) < 0.5).select("o_orderkey", "o_orderstatus")
    val prof = graft.delivery.Validate
      .profile(sampled, Seq("o_orderkey"), Seq("o_orderstatus")).collect()
    prof.length shouldBe 2
    prof.map(_.getLong(1)).distinct.length shouldBe 1 // one n_rows everywhere
    val key = prof.find(_.getString(0) == "o_orderkey").get
    key.getLong(1) should be > 0L
    key.getLong(3) shouldBe (key.getLong(1) - key.getLong(2)) // nd == n − nulls
  }

  test("Validate.profile is an equality witness across a delivered copy") {
    val tmp = tempDir("dlv_prof")
    Deliver.copy(spark, s"$sfDir/orders.parquet", s"$tmp/o",
      partitionBy = Seq("o_orderstatus"))
    def prof(path: String) = graft.delivery.Validate.profile(
      spark.read.parquet(path),
      numCols = Seq("o_orderkey", "o_totalprice"),
      strCols = Seq("o_orderpriority")).collect().toSeq
    prof(s"$tmp/o") should equal(prof(s"$sfDir/orders.parquet"))
    // ...and it catches a truncated delivery in the n_rows/bounds row
    spark.read.parquet(s"$sfDir/orders.parquet").limit(100)
      .write.parquet(s"$tmp/trunc")
    prof(s"$tmp/trunc") should not equal prof(s"$sfDir/orders.parquet")
  }

  test("prunePartitions enforces retention: dry-run lists, real run deletes only failing partitions") {
    val tmp = tempDir("dlv_prune")
    Deliver.copy(spark, s"$sfDir/orders.parquet", s"$tmp/o",
      partitionBy = Seq("o_orderstatus"))
    val before = spark.read.parquet(s"$tmp/o").count()
    val fCount = spark.read.parquet(s"$tmp/o")
      .where(col("o_orderstatus") === "F").count()
    // dry run: reports the doomed partition, filesystem untouched
    Deliver.prunePartitions(spark, s"$tmp/o", "o_orderstatus",
      keep = _ != "F", dryRun = true) shouldBe Seq("F")
    spark.read.parquet(s"$tmp/o").count() shouldBe before
    // real run: exactly the F partition gone, survivors intact
    Deliver.prunePartitions(spark, s"$tmp/o", "o_orderstatus",
      keep = _ != "F") shouldBe Seq("F")
    val after = spark.read.parquet(s"$tmp/o")
    after.count() shouldBe before - fCount
    after.where(col("o_orderstatus") === "F").count() shouldBe 0L
    // idempotent: nothing left to prune
    Deliver.prunePartitions(spark, s"$tmp/o", "o_orderstatus",
      keep = _ != "F") shouldBe empty
  }

  test("DeliverMain CLI: --sync-partitions with --prune-before enforces retention post-verify") {
    val tmp = tempDir("dlv_pruncli")
    // the status partitions sort F < O < P; retention keeps >= 'O'
    val (r, ok) = DeliverMain.run(spark, Array(
      s"$sfDir/orders.parquet", s"$tmp/o",
      "--sync-partitions", "o_orderstatus", "--prune-before", "O"))
    ok shouldBe true // verification attests the pre-retention sync
    val left = spark.read.parquet(s"$tmp/o")
    left.where(col("o_orderstatus") === "F").count() shouldBe 0L
    left.select("o_orderstatus").distinct().collect()
      .map(_.getString(0)).sorted shouldBe Array("O", "P")
    // the printed manifest reflects the post-prune state
    r.rows shouldBe left.count()
    // dry run leaves the delivery whole
    val tmp2 = tempDir("dlv_pruncli2")
    val (r2, _) = DeliverMain.run(spark, Array(
      s"$sfDir/orders.parquet", s"$tmp2/o",
      "--sync-partitions", "o_orderstatus", "--prune-before", "O", "--prune-dry-run"))
    r2.rows shouldBe Tables.orders(spark, sfDir).count()
  }

  test("fingerprint is layout- and order-insensitive but content-sensitive") {
    val df = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val base = Deliver.fingerprint(df)
    Deliver.fingerprint(df.repartition(13)) shouldBe base
    Deliver.fingerprint(df.orderBy(desc("o_totalprice"))) shouldBe base
    // column order must not matter (manifest sorts by name)
    Deliver.fingerprint(df.select("o_totalprice", "o_orderkey", "o_custkey",
      "o_orderpriority", "o_orderstatus")) shouldBe base
    // but content must
    Deliver.fingerprint(df.limit(100)) should not be base
  }

  test("parquet → csv → parquet multi-hop delivery round-trips") {
    val tmp = tempDir("dlv")
    val src = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    src.write.parquet(s"$tmp/p0")
    Deliver.copy(spark, s"$tmp/p0", s"$tmp/c1", dstFormat = "csv",
      writeOptions = Map("header" -> "true"))
    Deliver.copy(spark, s"$tmp/c1", s"$tmp/p2", srcFormat = "csv", dstFormat = "parquet",
      schema = Some(ordersSchema), readOptions = Map("header" -> "true"))
    Deliver.verifyDelivery(spark, s"$tmp/p0", "parquet", s"$tmp/p2", "parquet") shouldBe true
  }

  test("parquet → orc → parquet cross-format delivery round-trips") {
    val tmp = tempDir("dlv")
    Deliver.copy(spark, s"$sfDir/orders.parquet", s"$tmp/o1", dstFormat = "orc")
    Deliver.copy(spark, s"$tmp/o1", s"$tmp/p2", srcFormat = "orc", dstFormat = "parquet")
    Deliver.verifyDelivery(spark, s"$sfDir/orders.parquet", "parquet",
      s"$tmp/p2", "parquet") shouldBe true
  }

  test("compressed deliveries round-trip (zstd and gzip parquet)") {
    val tmp = tempDir("dlv")
    for (codec <- Seq("zstd", "gzip")) {
      Deliver.copy(spark, s"$sfDir/orders.parquet", s"$tmp/$codec",
        writeOptions = Map("compression" -> codec))
      Deliver.verifyDelivery(spark, s"$sfDir/orders.parquet", "parquet",
        s"$tmp/$codec", "parquet") shouldBe true
    }
  }

  test("permissive JSON ingest quarantines corrupt records instead of failing") {
    val tmp = tempDir("dlv")
    val lines = Seq(
      """{"event_id": 1, "event_type": "click", "value": 1.5}""",
      """{"event_id": 2, "event_type": "view", "value": }""", // malformed
      """not json at all""",
      """{"event_id": 3, "event_type": "purchase", "value": 2.0}""")
    Files.write(java.nio.file.Paths.get(tmp, "in.json"), lines.mkString("\n").getBytes)
    val schema = "event_id LONG, event_type STRING, value DOUBLE, _corrupt_record STRING"
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp).cache()
    df.where(col("_corrupt_record").isNull).count() shouldBe 2
    df.where(col("_corrupt_record").isNotNull).count() shouldBe 2
    df.unpersist()
  }

  /** Modification time of every file under `p`, keyed by path. */
  private def mtimes(p: String): Map[String, Long] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val it = path.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(path, true)
    val b = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) { val f = it.next(); b(f.getPath.toString) = f.getModificationTime }
    b.toMap
  }

  test("syncPartitions rewrites only changed partitions and deletes stale ones") {
    val tmp = tempDir("dlv_sync")
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    orders.write.parquet(s"$tmp/src_v1")
    // initial sync into an empty dst: every partition is "changed"
    val (c1, s1, r1) = Deliver.syncPartitions(spark, s"$tmp/src_v1", s"$tmp/dst", "o_orderpriority")
    s1 shouldBe empty
    c1.toSet shouldBe orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).toSet
    r1.rows shouldBe orders.count()
    // no-op re-sync: nothing changed, nothing rewritten, files untouched
    val before = mtimes(s"$tmp/dst")
    val (c2, s2, _) = Deliver.syncPartitions(spark, s"$tmp/src_v1", s"$tmp/dst", "o_orderpriority")
    c2 shouldBe empty
    s2 shouldBe empty
    mtimes(s"$tmp/dst") should equal(before)
    // v2 source: one partition's rows change, one partition disappears
    val pris = c1.sorted
    val (touched, dropped) = (pris.head, pris.last)
    orders.where(col("o_orderpriority") =!= dropped)
      .withColumn("o_totalprice",
        when(col("o_orderpriority") === touched, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .write.parquet(s"$tmp/src_v2")
    val (c3, s3, r3) = Deliver.syncPartitions(spark, s"$tmp/src_v2", s"$tmp/dst", "o_orderpriority")
    c3 shouldBe Seq(touched)
    s3 shouldBe Seq(dropped)
    // untouched partitions kept their files byte-for-byte (same mtimes)
    val after = mtimes(s"$tmp/dst")
    val untouchedBefore = before.filter { case (p, _) =>
      !p.contains(s"o_orderpriority=$touched") && !p.contains(s"o_orderpriority=$dropped") &&
      !p.endsWith("_SUCCESS") }
    untouchedBefore.foreach { case (p, t) => after.get(p) shouldBe Some(t) }
    // and the synced dst now equals src_v2 exactly
    r3.rows shouldBe spark.read.parquet(s"$tmp/src_v2").count()
    Deliver.verifyDelivery(spark, s"$tmp/src_v2", "parquet",
      s"$tmp/dst", "parquet") shouldBe true
  }

  test("syncPartitions overwrites dynamically under a static session and leaves its conf alone") {
    // under the session's static overwrite mode a partitioned overwrite
    // deletes every partition it does not write; the sync asks for
    // dynamic overwrite on its own writer and never sets the session key
    val key = "spark.sql.sources.partitionOverwriteMode"
    val tmp = tempDir("dlv_sync_static")
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    withConf(key -> "static") {
      orders.write.parquet(s"$tmp/src_v1")
      val (c1, _, _) = Deliver.syncPartitions(spark, s"$tmp/src_v1", s"$tmp/dst", "o_orderpriority")
      val touched = c1.min
      val before = mtimes(s"$tmp/dst").filter { case (p, _) => !p.endsWith("_SUCCESS") }
      orders.withColumn("o_totalprice",
          when(col("o_orderpriority") === touched, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .write.parquet(s"$tmp/src_v2")
      val (c2, s2, r2) = Deliver.syncPartitions(spark, s"$tmp/src_v2", s"$tmp/dst", "o_orderpriority")
      c2 shouldBe Seq(touched)
      s2 shouldBe empty
      val after = mtimes(s"$tmp/dst")
      val (rewritten, kept) = before.partition(_._1.contains(s"o_orderpriority=$touched/"))
      rewritten should not be empty
      rewritten.keys.foreach(p => after.get(p) shouldBe None)
      after.keys.exists(_.contains(s"o_orderpriority=$touched/")) shouldBe true
      kept.foreach { case (p, t) => after.get(p) shouldBe Some(t) }
      r2.rows shouldBe orders.count()
      Deliver.verifyDelivery(spark, s"$tmp/src_v2", "parquet",
        s"$tmp/dst", "parquet") shouldBe true
      spark.conf.get(key) shouldBe "static"
    }
  }

  test("syncPartitions survives hostile partition values: escaping, numeric-string inference, nulls") {
    import spark.implicits._
    val tmp = tempDir("dlv_hostile")
    // "05" → int-inference trap; "a b" / "x:y" → Hive path escaping;
    // null → __HIVE_DEFAULT_PARTITION__ sentinel
    val rows = Seq((1L, "05"), (2L, "05"), (3L, "a b"), (4L, "x:y"), (5L, null: String))
    rows.toDF("k", "part").write.parquet(s"$tmp/src_v1")
    val (c1, s1, r1) = Deliver.syncPartitions(spark, s"$tmp/src_v1", s"$tmp/dst", "part")
    s1 shouldBe empty
    c1.toSet shouldBe Set("05", "a b", "x:y", Deliver.NullPartition)
    r1.rows shouldBe 5L
    // idempotent re-sync: no partition may churn ("05" read back as int 5,
    // an unescaped path, or a null key would all show up as changed here)
    val (c2, s2, _) = Deliver.syncPartitions(spark, s"$tmp/src_v1", s"$tmp/dst", "part")
    c2 shouldBe empty
    s2 shouldBe empty
    // v2 drops the escaped value and the null partition: their dst
    // DIRECTORIES must actually die (raw-value delete paths would miss)
    rows.filter(r => r._2 == "05" || r._2 == "a b")
      .toDF("k", "part").write.parquet(s"$tmp/src_v2")
    val (c3, s3, r3) = Deliver.syncPartitions(spark, s"$tmp/src_v2", s"$tmp/dst", "part")
    c3 shouldBe empty
    s3.toSet shouldBe Set("x:y", Deliver.NullPartition)
    r3.rows shouldBe 3L
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/dst"))
      .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
    dirs.exists(_.contains("x%3Ay")) shouldBe false
    dirs.contains(s"part=${Deliver.NullPartition}") shouldBe false
    Deliver.verifyDelivery(spark, s"$tmp/src_v2", "parquet",
      s"$tmp/dst", "parquet") shouldBe true
  }

  test("syncPartitions manifest agrees with the diffing rule on all-numeric partition values") {
    import spark.implicits._
    val tmp = tempDir("dlv_num")
    // ONLY numeric strings: with type inference the dst would read back
    // as int ("05" → 5) and the reported fingerprint would diverge from
    // the src frame and from the string-normalized diff (ADVICE r5 —
    // the hostile-values test above is saved by its non-numeric 'a b')
    val rows = Seq((1L, "05"), (2L, "05"), (3L, "7"))
    val src = rows.toDF("k", "part")
    src.write.parquet(s"$tmp/src")
    val (c1, _, r1) = Deliver.syncPartitions(spark, s"$tmp/src", s"$tmp/dst", "part")
    c1.toSet shouldBe Set("05", "7")
    // the report fingerprints dst under the SAME typing rule the diff
    // used: partition values as the literal directory-name strings
    r1.fingerprint shouldBe Deliver.fingerprint(src)
    // idempotent: no churn, same report
    val (c2, s2, r2) = Deliver.syncPartitions(spark, s"$tmp/src", s"$tmp/dst", "part")
    c2 shouldBe empty
    s2 shouldBe empty
    r2.fingerprint shouldBe r1.fingerprint
  }

  test("incremental delivery ships only the delta and is idempotent") {
    val tmp = tempDir("dlv")
    val orders = Tables.orders(spark, sfDir)
    val n = orders.count()
    // seed the destination with the even keys only
    orders.where(col("o_orderkey") % 2 === 0).write.parquet(s"$tmp/dst")
    val (appended, report) = Deliver.copyIncremental(
      spark, s"$sfDir/orders.parquet", s"$tmp/dst", "o_orderkey")
    appended shouldBe orders.where(col("o_orderkey") % 2 === 1).count()
    report.rows shouldBe n
    // second run: nothing new to ship, content unchanged
    val (again, report2) = Deliver.copyIncremental(
      spark, s"$sfDir/orders.parquet", s"$tmp/dst", "o_orderkey")
    again shouldBe 0L
    report2.rows shouldBe n
    report2.fingerprint shouldBe report.fingerprint
    // and a fresh destination bootstraps with the full dataset
    val (boot, bootReport) = Deliver.copyIncremental(
      spark, s"$sfDir/orders.parquet", s"$tmp/fresh", "o_orderkey")
    boot shouldBe n
    bootReport.fingerprint shouldBe report.fingerprint
  }

  test("DeliverMain CLI: partitioned parquet→parquet delivery verifies end-to-end") {
    val tmp = tempDir("dlv")
    val (report, ok) = graft.delivery.DeliverMain.run(spark, Array(
      s"$sfDir/orders.parquet", s"$tmp/orders",
      "--partition-by", "o_orderpriority", "--repartition", "4"))
    ok shouldBe true
    report.rows shouldBe Tables.orders(spark, sfDir).count()
    report.files should be > 0L
  }

  test("DeliverMain CLI: --sync-partitions runs a verified partition-diff re-delivery") {
    val tmp = tempDir("dlv_cli_sync")
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    orders.write.parquet(s"$tmp/src")
    val (r1, ok1) = graft.delivery.DeliverMain.run(spark,
      Array(s"$tmp/src", s"$tmp/dst", "--sync-partitions", "o_orderpriority"))
    ok1 shouldBe true
    r1.rows shouldBe orders.count()
    // idempotent second run still verifies and rewrites nothing new
    val (r2, ok2) = graft.delivery.DeliverMain.run(spark,
      Array(s"$tmp/src", s"$tmp/dst", "--sync-partitions", "o_orderpriority"))
    ok2 shouldBe true
    r2.fingerprint shouldBe r1.fingerprint
  }

  test("DeliverMain CLI: --bucket-by delivers a verified bucketed table; --buckets required") {
    try {
      val (report, ok) = graft.delivery.DeliverMain.run(spark, Array(
        s"$sfDir/orders.parquet", "dlv_orders_b",
        "--bucket-by", "o_orderkey", "--buckets", "4"))
      ok shouldBe true
      report.rows shouldBe Tables.orders(spark, sfDir).count()
      // delivered content is the source content (table-shaped dst)
      report.fingerprint shouldBe
        graft.delivery.Deliver.fingerprint(Tables.orders(spark, sfDir))
      // the catalog holds the bucket spec (the property path-based copy
      // cannot deliver; the exchange-free join it enables is pinned in
      // PlanSpec "bucketed tables join without a shuffle")
      spark.sql("DESCRIBE EXTENDED dlv_orders_b").collect()
        .map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n") should
        include regex "Num Buckets\\s+4"
      an[IllegalArgumentException] should be thrownBy
        graft.delivery.DeliverMain.run(spark, Array(
          s"$sfDir/orders.parquet", "dlv_orders_b2", "--bucket-by", "o_orderkey"))
    } finally spark.sql("DROP TABLE IF EXISTS dlv_orders_b")
  }

  test("copyBucketed fails before destroying on bad columns/bucketCol; rejects qualified names") {
    try {
      // a good delivery to protect
      graft.delivery.Deliver.copyBucketed(
        spark, s"$sfDir/orders.parquet", "dlv_fbd", "o_orderkey", 2,
        columns = Seq("o_orderkey", "o_orderstatus"))
      val before = spark.table("dlv_fbd").count()
      before should be > 0L
      // misspelled projection column: must throw at ANALYSIS, with the
      // previous delivery intact (ADVICE r8 — the projection/repartition
      // used to analyze only after the DROP + warehouse sweep)
      an[org.apache.spark.sql.AnalysisException] should be thrownBy
        graft.delivery.Deliver.copyBucketed(
          spark, s"$sfDir/orders.parquet", "dlv_fbd", "o_orderkey", 2,
          columns = Seq("o_orderkey", "o_orderstatusX"))
      spark.table("dlv_fbd").count() shouldBe before
      // bucketCol absent from the projection: same fail-before-destroy.
      // This one needs the explicit require — the analyzer's
      // missing-reference courtesy resolves the repartition column from
      // the un-projected source, deferring the AnalysisException to the
      // bucketed WRITER (i.e. after the drop) without it
      an[IllegalArgumentException] should be thrownBy
        graft.delivery.Deliver.copyBucketed(
          spark, s"$sfDir/orders.parquet", "dlv_fbd", "o_orderkey", 2,
          columns = Seq("o_orderstatus"))
      spark.table("dlv_fbd").count() shouldBe before
      // qualified names would be swept at the wrong warehouse path —
      // rejected up front (ADVICE r8)
      an[IllegalArgumentException] should be thrownBy
        graft.delivery.Deliver.copyBucketed(
          spark, s"$sfDir/orders.parquet", "somedb.dlv_fbd", "o_orderkey", 2)
      spark.table("dlv_fbd").count() shouldBe before
    } finally spark.sql("DROP TABLE IF EXISTS dlv_fbd")
  }

  test("DeliverMain CLI: parquet→csv with schema read-back verifies; bad flag rejected") {
    val tmp = tempDir("dlv")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.parquet(s"$tmp/src")
    val (report, ok) = graft.delivery.DeliverMain.run(spark, Array(
      s"$tmp/src", s"$tmp/csv",
      "--dst-format", "csv",
      "--schema", ordersSchema,
      "--write-option", "header=true", "--read-option", "header=true"))
    ok shouldBe true
    report.rows shouldBe 1500L
    an[IllegalArgumentException] should be thrownBy
      graft.delivery.DeliverMain.run(spark, Array("a", "b", "--bogus"))
  }

  test("driftReport: identical deliveries score exactly zero; a shift is loud and hand-checkable") {
    import spark.implicits._
    import graft.delivery.Validate
    val prev = (0 until 100).map(_ => 10.0) ++ (0 until 100).map(_ => 35.0)
    val same = prev.toDF("v")
    // identical frames: equal counts per bin -> smoothed shares equal
    // BEFORE rounding -> psi exactly 0.0 in every bin
    Validate.driftReport(same, same, "v", 25.0, 4).collect()
      .foreach(_.getDouble(5) shouldBe 0.0)
    // shift half the mass from bin 0 to bin 2: psi matches an
    // independent Scala recomputation with the same smoothing
    val cur = ((0 until 50).map(_ => 10.0) ++ (0 until 100).map(_ => 35.0) ++
      (0 until 50).map(_ => 60.0)).toDF("v")
    val out = Validate.driftReport(same, cur, "v", 25.0, 4).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    def psi(np: Long, nn: Long): Double = {
      val sp = (np + 1.0) / 204.0; val sn = (nn + 1.0) / 204.0
      math.floor((sp - sn) * math.log(sp / sn) * 10000 + 0.5) / 10000
    }
    out(0.0) shouldBe ((100L, 50L, psi(100L, 50L)))
    out(25.0) shouldBe ((100L, 100L, 0.0))
    out(50.0) shouldBe ((0L, 50L, psi(0L, 50L)))
    out(0.0)._3 should be > 0.0
    out(50.0)._3 should be > 0.0
  }

  test("verifyDelivery is false on a row-count mismatch; the manifest's one scan counts like count()") {
    val tmp = tempDir("dlv_rows")
    val src = Tables.orders(spark, sfDir)
    src.where(col("o_orderkey") =!= src.agg(min("o_orderkey")).head().getLong(0))
      .write.parquet(s"$tmp/short")
    Deliver.verifyDelivery(spark, s"$sfDir/orders.parquet", "parquet",
      s"$tmp/short", "parquet") shouldBe false
    val m = Deliver.manifest(spark, s"$tmp/short")
    val short = spark.read.parquet(s"$tmp/short")
    m.rows shouldBe src.count() - 1
    m.rows shouldBe short.count()
    m.fingerprint shouldBe Deliver.fingerprint(short)
  }

  test("verifyDelivery is false on a fingerprint mismatch at an equal row count") {
    val tmp = tempDir("dlv_fp")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val first = src.agg(min("o_orderkey")).head().getLong(0)
    src.withColumn("o_totalprice",
        when(col("o_orderkey") === first, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
      .write.parquet(s"$tmp/edited")
    Deliver.manifest(spark, s"$tmp/edited").rows shouldBe src.count()
    Deliver.verifyDelivery(spark, s"$sfDir/orders.parquet", "parquet",
      s"$tmp/edited", "parquet") shouldBe false
  }
}
