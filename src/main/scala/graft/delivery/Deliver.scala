package graft.delivery

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Integrity manifest for a delivered dataset: row count plus an
  * order-insensitive content fingerprint over per-row hashes of
  * name-sorted columns — stable under repartitioning, file splits and
  * column reordering. The combiner pairs XOR with a wrapping SUM: XOR
  * alone cancels any multiset difference of even multiplicity (e.g.
  * {A,A,B} vs {B,C,C}), while sum-mod-2^64 is multiplicity-sensitive;
  * both are associative+commutative, so map-side partials still work. */
case class DeliveryReport(rows: Long, files: Long, bytes: Long, fingerprint: Long)

/** The data-delivery surface (SURVEY.md §0: the reference's category is
  * Hadoop batch movement + transformation of files): read any supported
  * format, re-layout, write, and verify — all through the Hadoop
  * FileSystem API, so `file:/`, `hdfs://` and `s3a://` behave
  * identically. This is the Spark-native distcp+transform.
  *
  * Scale notes: the copy itself is a distributed scan→write with no
  * collect; layout controls (partitionBy / repartitionTo / maxRecords
  * PerFile) are how a 100 TB delivery shapes downstream read
  * parallelism and partition pruning; the fingerprint is a single
  * XOR-aggregate (associative + commutative → map-side partials, no
  * global sort needed to compare datasets).
  */
object Deliver {

  /** Timestamp-flavor normalization for the row hash: to_json prints
    * TimestampType with a zone suffix and TIMESTAMP_NTZ without one, so
    * the same instants fingerprint differently depending on whether the
    * parquet carried isAdjustedToUTC (a copy through Spark re-writes
    * naive source timestamps as UTC-adjusted — identical values, different
    * annotation). Verification must judge VALUES, so hash every timestamp
    * under one typing rule — the same principle partitionFingerprints
    * already applies to partition values. Value-preserving under the
    * repo-pinned UTC session. */
  private def tsOneRule(df: DataFrame): DataFrame =
    graft.Tables.castTimestampCols(df,
      org.apache.spark.sql.types.TimestampNTZType, "timestamp")

  /** Order-insensitive, count-sensitive content fingerprint of a
    * DataFrame: xor ⊕ rot32(sum mod 2^64) of per-row xxhash64. The sum
    * runs in decimal(38,0) (exact, no ANSI long-overflow) and is reduced
    * mod 2^64 driver-side. */
  def fingerprint(df0: DataFrame): Long = scan(df0)._2

  /** (row count, fingerprint) of `df0` in ONE aggregate — the manifest
    * and the delivery check read each side once. */
  private def scan(df0: DataFrame): (Long, Long) = {
    val df = tsOneRule(df0)
    val cols = df.columns.sorted.map(col)
    val hashed = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
    val r = hashed.agg(
      count(lit(1)).as("n"),
      expr("bit_xor(h)").as("x"),
      sum(col("h").cast("decimal(38,0)")).as("s")).head()
    if (r.isNullAt(1)) (r.getLong(0), 0L) // empty dataset
    else (r.getLong(0), combine(r.getLong(1), r.getDecimal(2)))
  }

  /** xor ⊕ rot32(sum mod 2^64): the one combiner of the row-hash xor and
    * their exact decimal sum, shared by `scan` and partitionFingerprints. */
  private def combine(xor: Long, sum: java.math.BigDecimal): Long = {
    val sumMod = sum.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
    xor ^ java.lang.Long.rotateLeft(sumMod, 32)
  }

  /** Read `src` with an explicit schema when the format needs one (CSV/
    * JSON at scale must never pay the inference scan). */
  def read(spark: SparkSession, src: String, format: String = "parquet",
           schema: Option[String] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(s => r.schema(s)).load(src)
  }

  /** Copy src → dst with layout controls; returns the manifest of what
    * was written (re-read from dst, so it attests the delivered bytes,
    * not the intent). */
  def copy(spark: SparkSession, src: String, dst: String,
           srcFormat: String = "parquet", dstFormat: String = "parquet",
           schema: Option[String] = None,
           readOptions: Map[String, String] = Map.empty,
           writeOptions: Map[String, String] = Map.empty,
           partitionBy: Seq[String] = Nil,
           repartitionTo: Option[Int] = None): DeliveryReport = {
    val in = read(spark, src, srcFormat, schema, readOptions)
    val shaped = repartitionTo.fold(in)(n => in.repartition(n))
    val w = shaped.write.format(dstFormat).options(writeOptions).mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(dst)
    manifest(spark, dst, dstFormat,
      schema.filter(_ => dstFormat == "csv" || dstFormat == "json"), writeOptions)
  }

  /** Bucketed delivery: write `src` as a BUCKETED managed table (bucket
    * metadata lives in the catalog, not in the files — hence
    * `saveAsTable`, not `save`). Every later equi-join or aggregation on
    * the bucket key then reads each bucket pre-clustered, so two tables
    * bucketed the same way sort-merge-join with NO Exchange on either
    * side (pinned in PlanSpec "bucketed tables join without a shuffle").
    * This is the co-located-join lever for repeated fact⋈fact work at
    * 100 TB: pay one clustered write, and every downstream join or
    * group-by on the key is shuffle-free. The bucket count is fixed at
    * write time — size it so one bucket fits one task comfortably, and
    * use the SAME count on both sides of an intended join. Returns the
    * manifest computed from the table's storage location (same
    * fingerprint semantics as every path-based delivery). */
  def copyBucketed(spark: SparkSession, src: String, table: String,
                   bucketCol: String, nBuckets: Int,
                   srcFormat: String = "parquet",
                   schema: Option[String] = None,
                   readOptions: Map[String, String] = Map.empty,
                   location: Option[String] = None,
                   columns: Seq[String] = Nil): DeliveryReport = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    // single-part names only: the stale-location sweep below resolves
    // $warehouse/<lowercased name>, but a qualified `db.tbl` lives at
    // $warehouse/db.db/tbl — the backtick-quoted DROP would treat the
    // whole string as one identifier and the sweep would miss the real
    // managed dir, resurrecting the LOCATION_ALREADY_EXISTS failure this
    // code exists to prevent (ADVICE r8)
    require(!table.contains("."),
      s"copyBucketed requires a single-part table name in the current " +
      s"database, got '$table' (the stale-managed-location sweep resolves " +
      "warehouse/<name> and cannot see a db-qualified path)")
    // resolve the SOURCE — and eagerly ANALYZE the full input plan
    // (projection + bucket repartition; Dataset transformations analyze
    // at construction) — before touching the target: a bad src path, a
    // misspelled `columns` entry or a bucketCol absent from the
    // projection must all fail with the previous delivery intact, never
    // after the drop/sweep below has destroyed it (fail-before-destroy,
    // review r8 + ADVICE r8). The projection delivers only the
    // join-relevant columns; the repartition pre-shuffles into nBuckets
    // on the bucket column — repartition's hash is the SAME
    // pmod(murmur3, n) as the bucket id, so every write task holds
    // exactly one bucket and each bucket lands as ONE file — without it
    // each of the source's input splits spills a file per bucket it
    // touches (splits × buckets files, slow write, small-file read-back)
    val raw = read(spark, src, srcFormat, schema, readOptions)
    val projected =
      if (columns.isEmpty) raw
      else raw.select(columns.map(org.apache.spark.sql.functions.col): _*)
    // bucketCol must SURVIVE the projection, checked explicitly: eager
    // analysis alone doesn't catch it, because repartition gets the same
    // missing-reference courtesy as orderBy-after-select (the analyzer
    // silently re-adds the dropped column from the source), deferring
    // the real failure to the bucketBy writer — which runs after the
    // drop below
    require(projected.schema.fieldNames.exists(
        spark.sessionState.analyzer.resolver(_, bucketCol)),
      s"bucketCol '$bucketCol' must be among the delivered columns " +
      s"${projected.schema.fieldNames.mkString("[", ", ", "]")}")
    val in = projected
      .repartition(nBuckets, org.apache.spark.sql.functions.col(bucketCol))
    // a MANAGED table's warehouse directory outlives the in-memory
    // catalog: a fresh session that re-delivers the same table name hits
    // LOCATION_ALREADY_EXISTS on the stale directory (the catalog no
    // longer knows the table, so mode=overwrite never engages). Drop any
    // same-session entry, then clear a stale managed location (under the
    // catalog's LOWERCASED name — the identifier is case-normalized, the
    // filesystem is not); an explicit `location` makes the table
    // EXTERNAL (callers that want a per-run path) and skips the sweep.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (location.isEmpty) {
      val wh = spark.sessionState.conf.warehousePath.stripSuffix("/")
      val p = new org.apache.hadoop.fs.Path(
        s"$wh/${table.toLowerCase(java.util.Locale.ROOT)}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val w = in.write.format("parquet").mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
    location.fold(w)(l => w.option("path", l)).saveAsTable(table)
    // manifest under the delivered schema: a zero-row bucketed write
    // produces no data files at all (bucketed tasks skip empty output),
    // and a schema-less parquet read of the bare directory would fail
    // inference instead of reporting the empty delivery
    manifest(spark, tableLocation(spark, table), schema = Some(in.schema.toDDL))
  }

  /** Storage directory of a catalog table (for manifest/verify of
    * table-shaped deliveries). */
  def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString

  /** Incremental delivery (distcp -update semantics, keyed): append to
    * `dst` only the `src` rows whose key is not yet present — an anti
    * join on the key column, so re-running after a partial/failed
    * delivery is idempotent and a daily top-up ships only the delta.
    * Returns (rows appended, manifest of dst AFTER the append). The
    * anti join shuffles on the key; at 100 TB partition both sides by
    * ingest date first so the delta join touches only fresh partitions. */
  def copyIncremental(spark: SparkSession, src: String, dst: String,
                      keyCol: String,
                      srcFormat: String = "parquet", dstFormat: String = "parquet",
                      schema: Option[String] = None,
                      readOptions: Map[String, String] = Map.empty,
                      writeOptions: Map[String, String] = Map.empty,
                      dstReadOptions: Option[Map[String, String]] = None): (Long, DeliveryReport) = {
    val s = read(spark, src, srcFormat, schema, readOptions)
    // Self-describing dst formats must not be forced to the src text
    // schema (same rule as copy()'s manifest read).
    val dstSchema = schema.filter(_ => dstFormat == "csv" || dstFormat == "json")
    // Reader and writer option namespaces are distinct: a write-only
    // option that also steers a reader (or a needed dst-read option the
    // caller couldn't supply) would silently mis-read the existing keys
    // and corrupt the anti-join delta (ADVICE r3). Defaults to
    // writeOptions, which is right for symmetric options like csv
    // header/sep.
    val dstRead = dstReadOptions.getOrElse(writeOptions)
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delta =
      if (!fs.exists(new Path(dst))) s
      else {
        val existing = read(spark, dst, dstFormat, dstSchema, dstRead)
          .select(org.apache.spark.sql.functions.col(keyCol))
        s.join(existing, Seq(keyCol), "left_anti")
      }
    // Materialize the anti join ONCE: count() and the append write are two
    // actions, and a source that changes between them would make the
    // reported delta diverge from the rows actually shipped. persist()
    // pins the computed delta so both actions observe the same rows
    // (at cluster scale prefer MEMORY_AND_DISK — the delta of a daily
    // top-up is small relative to the corpus, this is not a full-corpus
    // cache).
    delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = delta.count()
      if (n > 0)
        delta.write.format(dstFormat).options(writeOptions).mode("append").save(dst)
      (n, manifest(spark, dst, dstFormat, dstSchema, dstRead))
    } finally delta.unpersist()
  }

  /** Hive's directory name for a null partition value — the key both
    * fingerprint sides normalize null to, so null partitions diff and
    * delete like any other value. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Per-partition content fingerprints: partition value (as string,
    * null → [[NullPartition]]) → the same xor ⊕ rot32(sum) combiner as
    * `fingerprint`, one shuffle. The collect is bounded by PARTITION
    * count, not rows — the list a 100 TB delivery reconciles is
    * thousands of entries, not the data. */
  def partitionFingerprints(df0: DataFrame, partCol: String): Map[String, Long] = {
    val df = tsOneRule(df0)
    // Normalize partCol to (string, null → sentinel) INSIDE the row hash
    // too, not just the grouping key: the dst side's partition column
    // type comes from directory-name parsing (string when inference is
    // off, a re-inferred type when on), so hashing the src-typed value
    // would make e.g. a string "05" partition permanently "changed"
    // against its int-inferred read-back. After this cast both sides
    // serialize identically whichever way the dst read typed it.
    val dfN = df.withColumn(partCol,
      coalesce(col(partCol).cast("string"), lit(NullPartition)))
    val cols = dfN.columns.sorted.map(col)
    dfN.select(col(partCol).as("p"),
        xxhash64(to_json(struct(cols: _*))).as("h"))
      .groupBy("p")
      .agg(expr("bit_xor(h)").as("x"),
           sum(col("h").cast("decimal(38,0)")).as("s"))
      .collect().map(r => r.getString(0) -> combine(r.getLong(1), r.getDecimal(2))).toMap
  }

  /** Partition-column type inference disabled around `f`: everything
    * syncPartitions reads from a partitioned directory — the diff
    * fingerprints, the src side, and the final manifest — must see
    * partition values under ONE typing rule (the literal directory-name
    * strings). With inference on, a partition whose values are all
    * numeric strings ("05") reads back as int 5, and the reported
    * fingerprint/verification diverges from the diffing rule (ADVICE
    * r5). */
  private def withPartitionInferenceOff[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Partition-diff re-delivery (the rsync shape for periodic refresh):
    * compare per-partition fingerprints of src and a previously
    * partitionBy(partCol)-delivered dst, rewrite ONLY the partitions
    * that are new or changed (dynamic partition overwrite — untouched
    * partition directories keep their files), and delete dst partitions
    * that vanished from src. At 100 TB this is the difference between
    * re-shipping a corpus and re-shipping the day's delta: unchanged
    * partitions cost one fingerprint scan, no write.
    * Returns (rewritten partition values, deleted partition values,
    * manifest of dst AFTER the sync). */
  def syncPartitions(spark: SparkSession, src: String, dst: String,
                     partCol: String,
                     srcFormat: String = "parquet", dstFormat: String = "parquet")
      : (Seq[String], Seq[String], DeliveryReport) =
    syncPartitions(spark,
      withPartitionInferenceOff(spark)(read(spark, src, srcFormat)),
      dst, partCol, dstFormat)

  /** DataFrame-source variant: the composition point for pipelines whose
    * refresh is computed, not copied (e.g. CorpusPrep's daily corpus
    * re-prep ships only the split partitions whose content moved).
    * `in` is executed twice (fingerprint pass + rewrite) — pass a
    * Lineage.cut/persisted frame when it is an expensive pipeline. */
  def syncPartitions(spark: SparkSession, in: DataFrame, dst: String,
                     partCol: String, dstFormat: String)
      : (Seq[String], Seq[String], DeliveryReport) = {
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Pin the dst partition column to STRING (no directory-name type
    // re-inference): partitionFingerprints normalizes both sides to
    // string, and an int-inferred "05" → 5 round-trip would otherwise
    // mark such partitions changed on every sync.
    val dstFps: Map[String, Long] =
      if (!fs.exists(new Path(dst))) Map.empty
      else withPartitionInferenceOff(spark) {
        partitionFingerprints(read(spark, dst, dstFormat), partCol)
      }
    val srcFps = partitionFingerprints(in, partCol)
    val changed = srcFps.filter { case (p, f) => dstFps.get(p) != Some(f) }.keys.toSeq.sorted
    val stale = (dstFps.keySet -- srcFps.keySet).toSeq.sorted
    // fingerprint keys are null-normalized, so match on the same form;
    // dynamic overwrite (a writer option — the session's conf is never
    // written) replaces ONLY the written partitions
    if (changed.nonEmpty)
      in.where(coalesce(col(partCol).cast("string"), lit(NullPartition))
          .isin(changed: _*))
        .write.format(dstFormat).partitionBy(partCol).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").save(dst)
    stale.foreach { p =>
      // Spark writes partition directories with Hive path escaping
      // (spaces, ':', '%', '/', … percent-encoded; null → the
      // __HIVE_DEFAULT_PARTITION__ sentinel, which escapes to itself).
      // Deleting the RAW value would miss the real directory and leave
      // stale data alive.
      val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(p)
      fs.delete(new Path(dst, s"$partCol=$escaped"), true)
    }
    // the returned report must attest the dst under the SAME typing rule
    // the diff used — with inference back on, an all-numeric-string
    // partition ("05" → int 5) would fingerprint differently from both
    // the src frame and the next sync's diff (ADVICE r5)
    (changed, stale, withPartitionInferenceOff(spark)(manifest(spark, dst, dstFormat)))
  }

  /** Retention enforcement on a partitioned delivery (the vacuum step of
    * a dated delivery: drop `day=…` partitions older than the retention
    * window): delete dst partitions whose STRING value fails `keep`,
    * returning the pruned values sorted. `dryRun = true` lists what
    * would go without touching the filesystem — run it first in any
    * scheduled job. Same inference-off string typing and Hive path
    * escaping as syncPartitions, so "05" or "a b" delete the directory
    * that actually exists; the distinct-values collect is bounded by the
    * partition count, like the sync's fingerprint map. */
  def prunePartitions(spark: SparkSession, dst: String, partCol: String,
                      keep: String => Boolean, dstFormat: String = "parquet",
                      dryRun: Boolean = false): Seq[String] = {
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dst))) return Seq.empty
    val values = withPartitionInferenceOff(spark) {
      read(spark, dst, dstFormat).select(col(partCol).cast("string")).distinct()
        .collect().map(r => Option(r.getString(0)).getOrElse(NullPartition)).toSeq.sorted
    }
    val doomed = values.filterNot(keep)
    if (!dryRun) doomed.foreach { p =>
      val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(p)
      fs.delete(new Path(dst, s"$partCol=$escaped"), true)
    }
    doomed
  }

  /** Manifest under the partition-typing rule the sync/prune surfaces
    * use (directory-name strings, no type re-inference) — the form to
    * report after partition-level mutation of `path`. */
  def manifestTyped(spark: SparkSession, path: String,
                    format: String = "parquet"): DeliveryReport =
    withPartitionInferenceOff(spark)(manifest(spark, path, format))

  /** Manifest of a delivered directory: rows, files, bytes, fingerprint. */
  def manifest(spark: SparkSession, path: String, format: String = "parquet",
               schema: Option[String] = None,
               options: Map[String, String] = Map.empty): DeliveryReport = {
    val (rows, fp) = scan(read(spark, path, format, schema, options))
    val (files, bytes) = graft.Stamps.dataFiles(spark, path)
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + f.getLen) }
    DeliveryReport(rows, files, bytes, fp)
  }

  /** End-to-end delivery check: same rows and same content fingerprint on
    * both sides (bytes/files legitimately differ across formats and
    * layouts). */
  def verifyDelivery(spark: SparkSession,
                     src: String, srcFormat: String,
                     dst: String, dstFormat: String,
                     schema: Option[String] = None,
                     srcOptions: Map[String, String] = Map.empty,
                     dstOptions: Map[String, String] = Map.empty): Boolean = {
    scan(read(spark, src, srcFormat, schema, srcOptions)) ==
      scan(read(spark, dst, dstFormat, schema, dstOptions))
  }
}
