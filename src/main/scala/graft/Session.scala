package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap of every entry point: the mains, the test
  * fixture and the test-scope probes. It pins what answers and timings
  * rest on, so no entry point drifts from another:
  *  - `spark.sql.session.timeZone=UTC`: the DuckDB oracle agreement and
  *    Deliver's value-preserving fingerprint both assume a UTC session;
  *  - shuffle partitions = cores, one reduce task per core at local
  *    scale (pass `spark.sql.shuffle.partitions` in `conf` to differ);
  *  - the codegen class cache sized for the query library (below);
  *  - no UI, log level WARN.
  * `SPARK_GRAFT_MASTER`, when set, replaces `local[cores]` (a cluster
  * URL); `SPARK_GRAFT_CPUS` sets the default core count (4). */
object Session {

  /** Cores of a default session: `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def local(conf: (String, String)*): SparkSession = local(defaultCores, conf: _*)

  /** A session on `cores` local cores; `conf` pairs are set last, so they
    * override the pins. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val pinned = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // Static conf, must be set before the session exists: the
      // whole-stage-codegen class cache defaults to 100 entries, sized
      // for an ad-hoc session — the query library cycles 184 queries ×
      // several codegen units per pass, so at the default EVERY pass
      // re-runs Janino on EVERY query (pure LRU churn). A resident query
      // service sizes this cache to its query library; 8192 bounds it
      // far above the suite's ~600-unit working set. Measured on the
      // 30-query cheap tail at ITERS=3: 18.34 → 14.72 s (−20%).
      "spark.sql.codegen.cache.maxEntries" -> "8192",
      "spark.ui.enabled" -> "false")
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
    val spark = (pinned ++ conf).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every block a query (or Lineage.cut) may have pinned — the SQL
    * cache and all persistent/localCheckpoint RDDs — so the next timed
    * run starts cold and block pressure never accumulates. */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
