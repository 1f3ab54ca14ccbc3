package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md:13-15,
  * FIXTURES.md §1). One method per table so query bodies read as catalogs.
  *
  * Scale note: `spark.read.parquet` goes through the Hadoop FileSystem
  * API, so the same code serves `file:/`, `hdfs://` and `s3a://` paths
  * unchanged — this is the Spark-native realization of Hadoop data
  * delivery (SURVEY.md §1.3). At 100 TB the vectorized Parquet reader +
  * partition-level splits parallelize the scan; nothing here pins data
  * to a single node.
  */
object Tables {
  /** Cast every top-level column of type `from` to `to` — the ONE
    * timestamp-flavor normalization helper behind the loader (NTZ →
    * session-TZ), the Verify dump boundary (session-TZ → NTZ) and the
    * delivery fingerprint's one-typing-rule hash (NTZ → session-TZ).
    * A single definition so the three boundaries cannot drift apart
    * (e.g. a future nested-struct extension lands everywhere at once).
    * Pure projection — no shuffle, and column pruning still reaches the
    * scan through it; under the repo-pinned UTC session both directions
    * are value-preserving. */
  private[graft] def castTimestampCols(df: DataFrame,
      from: org.apache.spark.sql.types.DataType, to: String): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == from => f.name
    }.foldLeft(df)((d, c) =>
      d.withColumn(c, d.col(s"`${c.replace("`", "``")}`").cast(to)))

  /** The r7 driver data writes every timestamp as parquet µs with
    * isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ (the
    * pre-r7 generation carried UTC-adjusted ms → TimestampType). DuckDB
    * reads both as its naive TIMESTAMP, so the oracle sees identical
    * values either way; on the Spark side we cast NTZ → TimestampType at
    * the loader so every downstream operator keeps the one shape it was
    * built and oracle-verified against. */
  private def normalizeNtz(df: DataFrame): DataFrame =
    castTimestampCols(df, org.apache.spark.sql.types.TimestampNTZType, "timestamp")

  /** Read a table bypassing layout normalization — for the two §2.1
    * queries whose CLAIM is the scan of the raw source file itself
    * (scan_parquet/scan_pruned price ingest, not serving). */
  def tableRaw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeNtz(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Layout normalization: the driver fixtures ship each table as ONE
    * parquet file with ONE row group, and a row group is the parquet
    * split atom — so every scan of such a file is ONE task, and every
    * query's first stage (scan + partial agg / filter / explode) runs
    * single-threaded on a 32-core box.
    * ComputeProfile measured the whole non-llm compute tail at ≤ 0.26
    * CPU utilization with 3-11 mostly-sequential tasks per query; a
    * 32-row-group re-land of the same bytes cut the agg/join tail
    * 25-45% per query. A 100 TB warehouse does exactly this on ingest:
    * data lands ONCE into the serving layout (splittable row groups,
    * file counts matched to the cluster), and every later query reads
    * the landed copy — re-reading a hostile source layout per query is
    * the anti-pattern. So the loader re-lands a degenerate source once
    * per (session, dataset): single-file sources with at least
    * `spark.graft.layout.minRows` rows (default 100k) and fewer row
    * groups than max(2, cores/4) are rewritten (repartition to
    * ~50k-row splits, same rows, same types) into a scratch dir with
    * the graph-view publish discipline (process-unique tmp + atomic
    * rename; queries/Graphs.publish), and served from there.
    * Multi-file directories (every Spark-written corpus, StressGen ×k)
    * and small fixtures (sf0.001/sf0.01 — every table < 100k rows)
    * pass through untouched (LayoutSpec pins a landing below the
    * default). Row ORDER of the landed copy is partition-arbitrary,
    * like any shuffle — every query's output carries its own total
    * order (the repo's determinism discipline), which the 184-query
    * oracle sweep re-verifies against DuckDB reading the RAW file.
    *
    * The 100k default comes from a measured same-phase A/B (the
    * comment at the gate below): under ~50k-row splits, landing the
    * tables at or above it lost on no measured query, and the heavy
    * lineitem scan (11 MB, 11 columns, the first stage of ~40 queries)
    * wins 40-60% per query; the measured-flat sub-100k fixtures stay
    * raw. At 100 TB every table clears any threshold and ships
    * multi-row-group anyway — this gate only decides which of the
    * BENCH FIXTURES are worth landing. */
  private val layoutDecision =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-app scratch (landed copies, query scratch dirs) belongs to the
    * SparkContext that made it: its dirs are deleted when it stops (a
    * later context has another appId and makes its own). */
  private val ownedScratch =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[java.io.File]]()
  private def ownScratch(s: SparkSession, dir: java.io.File): Unit = {
    val app = s.sparkContext.applicationId
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    dirs.add(dir)
    val prior = ownedScratch.putIfAbsent(app, dirs)
    if (prior != null) prior.add(dir)
    else s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
        layoutDecision.keySet.removeIf(_.startsWith(s"$app|"))
        Option(ownedScratch.remove(app)).foreach(_.forEach(d => graft.queries.Scans.rmRf(d)))
      }
    })
  }

  /** The one scratch directory of (session, dataset `d`, `tag`), made
    * and owned by the session's context: `graft_<tag>_<appId>_<key>`
    * under `spark.graft.scratch.root` (default `java.io.tmpdir`), where
    * the key is `datasetKey(d)`.
    *
    * A fixed dir plus `mode("overwrite")` bounds the footprint to one
    * copy per (session, dataset), where a fresh temp dir per call would
    * strand a table copy each time, and the overwrite guarantees no
    * stale file of a larger earlier corpus survives into a read-back.
    * The dataset key matters because frames read their paths lazily: a
    * dataset-independent dir would re-bind an earlier call's frame to
    * whichever dataset was written last. The root is where a
    * multi-tenant box or a cluster points shared durable storage; the
    * path math is java.io.File, so it must be a local path until it
    * moves to Hadoop Path. The appId keeps two processes apart even
    * under a shared root, so Graphs.publish's cross-writer rename
    * protocol is defense in depth here; dropping the appId from the key
    * would make it the live protocol for cross-process view sharing. */
  private[graft] def scratchDir(s: SparkSession, d: String, tag: String): String = {
    val root = s.conf.get("spark.graft.scratch.root", sys.props("java.io.tmpdir"))
    val dir = new java.io.File(root,
      s"graft_${tag}_${s.sparkContext.applicationId}_${datasetKey(d)}")
    dir.mkdirs()
    ownScratch(s, dir)
    dir.toString
  }

  /** The short key of dataset `d` in scratch names: the first 6 bytes
    * of md5(`d`) in hex. Callers name other per-dataset objects (catalog
    * tables) with it. */
  private[graft] def datasetKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  private def normalizeLayout(s: SparkSession, sfDir: String, name: String): String = {
    val rawPath = s"$sfDir/$name.parquet"
    val key = s"${s.sparkContext.applicationId}|$sfDir|$name"
    val cached = layoutDecision.get(key)
    if (cached != null) return cached
    val f = new java.io.File(rawPath)
    val decided: String = if (!f.isFile) rawPath else {
      val cores = s.sparkContext.defaultParallelism
      val (rows, rowGroups) =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString),
            s.sparkContext.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try (r.getRecordCount, r.getRowGroups.size) finally r.close()
        } catch { case _: Throwable => (0L, Int.MaxValue) } // unreadable → raw
      // A 200k gate was sized against a cores-flat split count (32
      // files), where the 2-3 MB tables' multi-scan queries lost more
      // to per-scan open overhead than the parallel scan bought
      // (dq_referential 1.47 → 3.49 under 32-way orders).
      // Under the CURRENT ~50k-row sizing (orders → 3 files, events →
      // 2) the same-phase A/B flips decisively: fn_try 1.60 → 0.64,
      // dq_referential 1.64 → 1.41 (the old canary now WINS), agg_gini/
      // dq_profile/ev_session/ev_dedup/fn_struct/join_multiway −0.03..
      // −0.12 each, nothing worse. 100k keeps every measured-flat
      // sub-100k fixture (customer 15k, part 20k, documents 5k) raw.
      val minRows = s.conf.get("spark.graft.layout.minRows", "100000").toLong
      if (rows < minRows || rowGroups >= math.max(2, cores / 4)) rawPath
      else {
        val dir = new java.io.File(scratchDir(s, sfDir, "layout"), name)
        if (!dir.isDirectory) {
          // split count targets ~50k rows per file, capped at the core
          // count: enough to kill the serial-scan floor without paying
          // 32 task launches + file opens per scan of a 100k-row table
          // (with `cores` flat, the 2-3 MB tables' cheap queries LOST
          // more to per-task overhead than the parallel scan bought back)
          val parts = math.min(cores.toLong, math.max(2L, rows / 50000L)).toInt
          graft.queries.Graphs.publishFrame(
            s.read.parquet(rawPath).repartition(parts), dir, "layout-normalized copy")
        }
        dir.toString
      }
    }
    layoutDecision.put(key, decided)
    decided
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeNtz(spark.read.parquet(normalizeLayout(spark, sfDir, name)))

  /** The path a `table()` read actually scans (the layout-normalized
    * copy when one exists, else the raw file) — for delivery entry
    * points that take a PATH (Deliver.copyBucketed) but should source
    * from the serving layout like every other reader. */
  def servingPath(spark: SparkSession, sfDir: String, name: String): String =
    normalizeLayout(spark, sfDir, name)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped in two parquet generations, so the loader is
    * schema-adaptive. Pre-r7 data declares TIMESTAMP(NANOS), which Spark 4
    * has no type for: read raw ns-since-epoch via nanosAsLong and truncate
    * to µs — the same truncation DuckDB applies on read, so both engines
    * see identical values (integer `div` keeps the full 63-bit range; a
    * double division would lose precision above 2^53 ns ≈ 104 days). The
    * r7 timestamp[us] generation needs nothing extra — `table()` already
    * normalized its NTZ read to the session-TZ TimestampType. The legacy
    * mode is session conf (the scan reads it at planning), so it is set
    * only when the file's footer declares TIMESTAMP(NANOS): loading the
    * current generation writes no conf. */
  def events(s: SparkSession, d: String): DataFrame = {
    if (declaresNanos(s, s"$d/events.parquet"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  /** Whether the parquet at `path` (a file, or the first data file
    * under a directory) declares a TIMESTAMP(NANOS) column. */
  private def declaresNanos(s: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(path)
    Stamps.fs(s, p).exists(p) && Stamps.dataFiles(s, path).nextOption().exists { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          f.getPath, s.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getColumns.asScala.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      finally r.close()
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
