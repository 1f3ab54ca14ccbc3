package graft.pipelines

import org.apache.spark.sql.SparkSession

/** CLI for the corpus-prep pipeline: read the documents table from
  * SRCDIR, run clean → exact dedup → near-dup cluster → split, write
  * the prepared corpus partitioned by split to OUTDIR, and print a
  * one-line JSON manifest (rows in/out, per-split counts).
  *
  * Usage:
  *   CorpusPrepMain [--sync] [--pairs-artifact PATH [--refresh]]
  *                  [--xent-max V] [--span-dup-max F] [--contain-max F]
  *                  SRCDIR OUTDIR [stopK]
  *
  * `--xent-max V` switches on the LM-quality gate (CorpusPrep stage 0):
  * docs whose llm_logprob_score mean cross-entropy exceeds V are dropped
  * before any dedup work.
  *
  * `--span-dup-max F` switches on the keep-one span-dedup gate (stage
  * 3.5): survivors whose foreign-owned duplicated-chunk token fraction
  * reaches F are dropped (the earliest copy always survives).
  *
  * `--contain-max F` switches on the containment gate (stage 3.7):
  * survivors whose token set is F-contained in a larger surviving doc
  * are dropped (the container survives; llm_containment shape).
  *
  * `--domain-cap K` switches on the per-site cap (stage 0.5): at most K
  * docs per first_domain survive into the pipeline (llm_domain_cap
  * shape; site-less docs exempt).
  *
  * `--xent-quantile Q` switches on the relative LM gate (stage 0b, the
  * CCNet tail-drop): each language keeps only docs at or below its
  * Q-quantile of unigram xent.
  *
  * `--decontam-max F` switches on the decontamination gate (stage 4.5):
  * train docs whose trigram-shingle overlap with the held-out test split
  * reaches F of their own shingles are dropped (test/val never are).
  *
  * `--attrition` prints the per-stage attrition census for the given
  * gates instead of delivering (reads only, writes nothing): one JSON
  * line with rows surviving / dropped / drop share per active stage.
  *
  * `--pairs-artifact PATH` is the daily-refresh product flow (r5
  * verdict item #1): the near-dup pair table lives at PATH as a
  * corpus-stamped artifact; first run bootstraps it with a full build,
  * `--refresh` merges in only the pairs touching docs above the stamped
  * doc_id watermark (PairTable.refreshInPlace), and the prep then runs
  * with every jaccard consumer short-circuited to the artifact and
  * ships only the split partitions whose content moved. One command =
  * day-2 ingest → incremental pair refresh → re-cluster/split → sync.
  */
object CorpusPrepMain {
  /** Exposed for tests: run a prep delivery, return the manifest line. */
  def run(spark: SparkSession, src: String, dst: String, stopK: Int = 5,
          xentMax: Option[Double] = None,
          spanDupMax: Option[Double] = None,
          containMax: Option[Double] = None,
          domainCap: Option[Int] = None,
          xentQuantileMax: Option[Double] = None,
          decontamMax: Option[Double] = None): String = {
    val in = graft.Tables.documents(spark, src).count()
    val out = CorpusPrep.run(spark, src, stopK = stopK, xentMax = xentMax,
      spanDupMax = spanDupMax, containMax = containMax, domainCap = domainCap,
      xentQuantileMax = xentQuantileMax, decontamMax = decontamMax)
    // partition the delivered corpus by split so downstream training
    // readers prune train/val/test at the directory level
    out.write.mode("overwrite").partitionBy("split").parquet(s"$dst/documents")
    val bySplit = spark.read.parquet(s"$dst/documents")
      .groupBy("split").count().collect()
      .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")
    val kept = spark.read.parquet(s"$dst/documents").count()
    s"""{"rows_in":$in,"rows_out":$kept,"splits":{$bySplit}}"""
  }

  /** Partition-diff re-delivery of the prepared corpus (the daily
    * refresh shape): re-run the prep over the current source and ship
    * ONLY the split partitions whose content fingerprint moved —
    * unchanged splits keep their delivered files byte-for-byte. First
    * run into an empty OUTDIR delivers everything; a refresh that only
    * appends train-bucket docs rewrites only split=train
    * (CorpusPrepSpec pins this). Returns (changed, stale, manifest). */
  def sync(spark: SparkSession, src: String, dst: String, stopK: Int = 5,
           xentMax: Option[Double] = None,
           spanDupMax: Option[Double] = None,
           containMax: Option[Double] = None,
           domainCap: Option[Int] = None,
           xentQuantileMax: Option[Double] = None,
           decontamMax: Option[Double] = None)
      : (Seq[String], Seq[String], graft.delivery.DeliveryReport) = {
    // cut: syncPartitions executes its input twice (fingerprint +
    // rewrite) and the prep pipeline is the expensive part
    val out = graft.ops.Lineage.cut(
      CorpusPrep.run(spark, src, stopK = stopK, xentMax = xentMax,
        spanDupMax = spanDupMax, containMax = containMax, domainCap = domainCap,
        xentQuantileMax = xentQuantileMax, decontamMax = decontamMax))
    graft.delivery.Deliver.syncPartitions(
      spark, out, s"$dst/documents", "split", "parquet")
  }

  /** The daily-refresh composition, end to end: ensure the pair
    * artifact (bootstrap a full build when PATH does not exist yet),
    * optionally refresh it incrementally against today's corpus
    * (watermark rule — docs with doc_id above the stamped max are the
    * new batch, so ingest must assign monotonically increasing ids),
    * then run the partition-diff sync with the jaccard family served
    * from the artifact. The three pieces — PairTable.updateIncremental,
    * CorpusPrep, Deliver.syncPartitions — compose here into the one
    * pipeline they exist for; DailyRefreshSpec pins the product
    * invariants (delta pairs all touch the new batch, untouched split
    * partitions stay byte-identical, output equal to a from-scratch
    * prep). */
  def refreshFlow(spark: SparkSession, src: String, dst: String,
                  artifact: String, refresh: Boolean, stopK: Int = 5,
                  xentMax: Option[Double] = None,
                  spanDupMax: Option[Double] = None,
                  containMax: Option[Double] = None,
                  domainCap: Option[Int] = None,
                  xentQuantileMax: Option[Double] = None,
                  decontamMax: Option[Double] = None)
      : (Seq[String], Seq[String], graft.delivery.DeliveryReport) = {
    val aPath = new org.apache.hadoop.fs.Path(artifact)
    val fs = aPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(aPath)) {
      System.err.println(
        s"[graft] CorpusPrepMain: bootstrapping pair artifact $artifact from $src")
      PairTable.write(spark, src, artifact)
    } else if (refresh) {
      PairTable.refreshInPlace(spark, src, artifact)
    } else {
      // not refreshing: the artifact must already be stamped for THIS
      // corpus or the consumers would fail mid-prep — surface the
      // bootstrap-vs-use mistake before any work runs
      val marker = PairTable.readCorpusMarker(spark, artifact)
      require(marker == src,
        s"pair artifact $artifact is stamped for corpus '$marker', not '$src' — " +
        "pass --refresh to merge today's batch, or point at the right artifact")
    }
    val key = "spark.graft.pairs.artifact"
    val prevConf = spark.conf.getOption(key)
    spark.conf.set(key, artifact)
    try sync(spark, src, dst, stopK, xentMax, spanDupMax, containMax, domainCap,
      xentQuantileMax, decontamMax)
    finally prevConf.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One-line JSON per-stage attrition census (CorpusPrep.attrition)
    * for the given source and gate flags — the "why did my corpus
    * shrink" report; reads only, writes nothing. */
  def attritionReport(spark: SparkSession, src: String, stopK: Int = 5,
          xentMax: Option[Double] = None,
          spanDupMax: Option[Double] = None,
          containMax: Option[Double] = None,
          domainCap: Option[Int] = None,
          xentQuantileMax: Option[Double] = None,
          decontamMax: Option[Double] = None): String = {
    val rows = CorpusPrep.attrition(spark, src, stopK = stopK,
        xentMax = xentMax, spanDupMax = spanDupMax, containMax = containMax,
        domainCap = domainCap, xentQuantileMax = xentQuantileMax,
        decontamMax = decontamMax)
      .orderBy("stage_no").collect()
      .map(r => s"""{"stage":"${r.getString(1)}","rows":${r.getLong(2)},""" +
        s""""dropped":${r.getLong(3)},"drop_share_of_input":${r.getDouble(4)}}""")
    s"""{"stages":[${rows.mkString(",")}]}"""
  }

  private val Usage =
    "usage: CorpusPrepMain [--sync | --attrition] [--pairs-artifact PATH [--refresh]] " +
    "[--xent-max V] [--xent-quantile Q] [--span-dup-max F] [--contain-max F] " +
    "[--domain-cap K] [--decontam-max F] SRCDIR [OUTDIR] [stopK]"

  def main(args: Array[String]): Unit = {
    // sequential parse (not a startsWith partition): --pairs-artifact
    // takes a value, and an unknown flag must fail loudly instead of
    // falling through as a positional OUTDIR — a misparsed OUTDIR is a
    // mode(overwrite) write into the wrong directory
    var doSync = false; var refresh = false; var doAttrition = false
    var artifact: Option[String] = None
    var xentMax: Option[Double] = None
    var spanDupMax: Option[Double] = None
    var containMax: Option[Double] = None
    var domainCap: Option[Int] = None
    var xentQuantileMax: Option[Double] = None
    var decontamMax: Option[Double] = None
    val pos = scala.collection.mutable.Buffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sync"    => doSync = true
        case "--attrition" => doAttrition = true
        case "--refresh" => refresh = true
        case "--pairs-artifact" =>
          require(i + 1 < args.length, s"--pairs-artifact needs a PATH; $Usage")
          i += 1; artifact = Some(args(i))
        case "--xent-max" =>
          require(i + 1 < args.length, s"--xent-max needs a value; $Usage")
          i += 1; xentMax = Some(args(i).toDouble)
        case "--span-dup-max" =>
          require(i + 1 < args.length, s"--span-dup-max needs a value; $Usage")
          i += 1; spanDupMax = Some(args(i).toDouble)
        case "--contain-max" =>
          require(i + 1 < args.length, s"--contain-max needs a value; $Usage")
          i += 1; containMax = Some(args(i).toDouble)
        case "--domain-cap" =>
          require(i + 1 < args.length, s"--domain-cap needs a value; $Usage")
          i += 1; domainCap = Some(args(i).toInt)
        case "--xent-quantile" =>
          require(i + 1 < args.length, s"--xent-quantile needs a value; $Usage")
          i += 1; xentQuantileMax = Some(args(i).toDouble)
        case "--decontam-max" =>
          require(i + 1 < args.length, s"--decontam-max needs a value; $Usage")
          i += 1; decontamMax = Some(args(i).toDouble)
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag $f; $Usage")
        case p => pos += p
      }
      i += 1
    }
    if (doAttrition) require(pos.length >= 1 && pos.length <= 2, Usage)
    else require(pos.length >= 2 && pos.length <= 3, Usage)
    require(!refresh || artifact.nonEmpty, s"--refresh requires --pairs-artifact; $Usage")
    val src = pos(0)
    val dst = if (doAttrition) "" else pos(1)
    val stopK = (if (doAttrition) pos.lift(1) else pos.lift(2)).map(_.toInt).getOrElse(5)
    val spark = graft.Session.local()
    def printSync(t: (Seq[String], Seq[String], graft.delivery.DeliveryReport)): Unit = {
      val (changed, stale, rep) = t
      println(s"""{"changed":[${changed.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""stale":[${stale.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""rows":${rep.rows},"fingerprint":${rep.fingerprint}}""")
    }
    try {
      if (doAttrition)
        println(attritionReport(spark, src, stopK, xentMax, spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax))
      else artifact match {
        case Some(a)        => printSync(refreshFlow(spark, src, dst, a, refresh, stopK, xentMax, spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax))
        case None if doSync => printSync(sync(spark, src, dst, stopK, xentMax, spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax))
        case None           => println(run(spark, src, dst, stopK, xentMax, spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax))
      }
    } finally spark.stop()
  }
}
