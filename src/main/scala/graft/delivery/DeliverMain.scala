package graft.delivery

import org.apache.spark.sql.SparkSession

/** CLI for the delivery surface — the runnable tool shape of the
  * reference category ("Hadoop batch movement + transformation of
  * files", SURVEY.md §0): copy a dataset between paths/formats with
  * layout controls, then print the delivered manifest as one JSON line
  * and exit non-zero if source/destination fingerprints diverge.
  *
  * Usage:
  *   graft.delivery.DeliverMain SRC DST [--src-format F] [--dst-format F]
  *     [--schema DDL] [--partition-by c1,c2] [--repartition N]
  *     [--read-option k=v]... [--write-option k=v]... [--no-verify]
  *     [--sync-partitions COL]   # partition-diff re-delivery instead of
  *                               # a full copy: rewrite changed partitions,
  *                               # delete stale ones (Deliver.syncPartitions)
  *     [--prune-before V [--prune-dry-run]]  # retention, only with
  *                               # --sync-partitions: after the sync is
  *                               # verified, delete partitions with value
  *                               # < V (string order — dated day=YYYY-MM-DD
  *                               # partitions sort correctly); the printed
  *                               # manifest reflects the post-prune state,
  *                               # `verified` attests the pre-retention sync
  *     [--bucket-by COL --buckets N]  # DST is a TABLE NAME: deliver as a
  *                               # bucketed managed table so downstream
  *                               # joins/aggs on COL are shuffle-free
  *                               # (Deliver.copyBucketed; parquet only)
  *
  * Paths go through the Hadoop FileSystem API: file:/, hdfs://, s3a://
  * all behave identically.
  */
object DeliverMain {
  private case class Args(
      src: String, dst: String,
      srcFormat: String = "parquet", dstFormat: String = "parquet",
      schema: Option[String] = None,
      partitionBy: Seq[String] = Nil, repartition: Option[Int] = None,
      readOptions: Map[String, String] = Map.empty,
      writeOptions: Map[String, String] = Map.empty,
      verify: Boolean = true,
      syncPartitionCol: Option[String] = None,
      bucketBy: Option[String] = None, buckets: Option[Int] = None,
      pruneBefore: Option[String] = None, pruneDryRun: Boolean = false)

  private def parse(argv: List[String]): Args = {
    def kv(s: String): (String, String) = s.split("=", 2) match {
      case Array(k, v) => k -> v
      case _ => throw new IllegalArgumentException(s"expected k=v, got: $s")
    }
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--src-format" :: v :: t   => loop(t, acc.copy(srcFormat = v))
      case "--dst-format" :: v :: t   => loop(t, acc.copy(dstFormat = v))
      case "--schema" :: v :: t       => loop(t, acc.copy(schema = Some(v)))
      case "--partition-by" :: v :: t => loop(t, acc.copy(partitionBy = v.split(",").toSeq))
      case "--repartition" :: v :: t  => loop(t, acc.copy(repartition = Some(v.toInt)))
      case "--read-option" :: v :: t  => loop(t, acc.copy(readOptions = acc.readOptions + kv(v)))
      case "--write-option" :: v :: t => loop(t, acc.copy(writeOptions = acc.writeOptions + kv(v)))
      case "--no-verify" :: t         => loop(t, acc.copy(verify = false))
      case "--sync-partitions" :: v :: t => loop(t, acc.copy(syncPartitionCol = Some(v)))
      case "--bucket-by" :: v :: t    => loop(t, acc.copy(bucketBy = Some(v)))
      case "--buckets" :: v :: t      => loop(t, acc.copy(buckets = Some(v.toInt)))
      case "--prune-before" :: v :: t => loop(t, acc.copy(pruneBefore = Some(v)))
      case "--prune-dry-run" :: t     => loop(t, acc.copy(pruneDryRun = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    argv match {
      case src :: dst :: rest if !src.startsWith("--") && !dst.startsWith("--") =>
        loop(rest, Args(src, dst))
      case _ => throw new IllegalArgumentException(
        "usage: DeliverMain SRC DST [--src-format F] [--dst-format F] " +
        "[--schema DDL] [--partition-by c1,c2] [--repartition N] " +
        "[--read-option k=v] [--write-option k=v] [--no-verify]")
    }
  }

  /** Exposed for tests: run a delivery, return (report, verified). */
  def run(spark: SparkSession, argv: Array[String]): (DeliveryReport, Boolean) = {
    val a = parse(argv.toList)
    val report = (a.syncPartitionCol, a.bucketBy) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "--sync-partitions and --bucket-by are mutually exclusive")
      case (Some(c), None) =>
        val (changed, stale, r) = Deliver.syncPartitions(
          spark, a.src, a.dst, c, a.srcFormat, a.dstFormat)
        System.err.println(
          s"[deliver] sync rewrote ${changed.size} partition(s), deleted ${stale.size}")
        r
      case (None, Some(bc)) =>
        val n = a.buckets.getOrElse(throw new IllegalArgumentException(
          "--bucket-by requires --buckets N"))
        require(a.dstFormat == "parquet" && a.partitionBy.isEmpty,
          "--bucket-by supports parquet tables without --partition-by")
        Deliver.copyBucketed(spark, a.src, a.dst, bc, n,
          a.srcFormat, a.schema, a.readOptions)
      case (None, None) =>
        Deliver.copy(spark, a.src, a.dst, a.srcFormat, a.dstFormat,
          a.schema, a.readOptions, a.writeOptions, a.partitionBy, a.repartition)
    }
    // bucketed dst is a table name — verify against its storage location
    val (vDst, vFmt) =
      if (a.bucketBy.isDefined) (Deliver.tableLocation(spark, a.dst), "parquet")
      else (a.dst, a.dstFormat)
    val ok = !a.verify || Deliver.verifyDelivery(spark, a.src, a.srcFormat,
      vDst, vFmt, a.schema, a.readOptions,
      if (a.bucketBy.isDefined) Map.empty else a.writeOptions)
    // retention runs AFTER the delivery is verified: `verified` attests
    // the sync against src; the manifest reflects what retention left
    a.pruneBefore match {
      case None => (report, ok)
      case Some(v) =>
        val c = a.syncPartitionCol.getOrElse(throw new IllegalArgumentException(
          "--prune-before requires --sync-partitions COL"))
        val pruned = Deliver.prunePartitions(spark, a.dst, c, _ >= v,
          a.dstFormat, a.pruneDryRun)
        System.err.println(s"[deliver] retention${if (a.pruneDryRun) " (dry run)" else ""}: " +
          s"${pruned.size} partition(s) before '$v': ${pruned.mkString(",")}")
        val post = if (a.pruneDryRun || pruned.isEmpty) report
                   else Deliver.manifestTyped(spark, a.dst, a.dstFormat)
        (post, ok)
    }
  }

  def main(argv: Array[String]): Unit = {
    val spark = graft.Session.local()
    try {
      val (r, ok) = run(spark, argv)
      println(s"""{"rows":${r.rows},"files":${r.files},"bytes":${r.bytes},""" +
        s""""fingerprint":${r.fingerprint},"verified":$ok}""")
      if (!ok) sys.exit(2)
    } finally spark.stop()
  }
}
