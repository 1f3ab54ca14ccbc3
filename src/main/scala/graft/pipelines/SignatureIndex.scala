package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Det._
import graft.Stamps

/** The NEAR-dup delivery artifact — the fuzzy sibling of DigestIndex:
  * a delivered corpus's minhash state reduced to the per-doc signature
  * table and the exploded band-key table, both batch-partitioned
  * parquet. A refresh then verdicts a new batch in O(batch + matched
  * buckets): the batch's ~16 band keys per doc broadcast against a
  * STREAMED band-table scan (no index-side exchange), matched old docs
  * rejoin their stored signatures the same broadcast way, and the
  * estimated Jaccard is signature agreement — the old corpus's TEXT is
  * never re-tokenized, re-hashed, or even opened. This is the
  * artifact llm_minhash's scaladoc calls "the standard shape of a
  * dedup pipeline"; the in-query form recomputes it per run for
  * hermeticity, and SignatureIndexSpec pins refresh parity against
  * that from-scratch pipeline (identical signatures by shared
  * Sketches.signatures/BandKeysExpr construction).
  *
  * Skew: a boilerplate band bucket at web scale pairs every batch doc
  * with its (possibly millions of) old occupants. The in-query form
  * shards its SELF-join triangles (ShardedSelfJoin); for the
  * cross-set refresh the declared guard is the df-cap precedent
  * (llm_contamination.maxDf): touched buckets whose OLD occupancy
  * exceeds MaxBucket drop from candidate
  * generation with a logged census — boilerplate buckets pair
  * near-everything and carry no near-dup signal the 15 other bands
  * don't re-offer. The occupancy census runs over TOUCHED rows only
  * (post-semi-join), so it is batch-bounded, never an index-wide agg.
  *
  * Lifecycle mirrors DigestIndex: build (batch 0) / refreshPairs +
  * refresh (read-only verdicts) / extend (a NEW batch partition via
  * dynamic partition overwrite — retry-safe: re-running a failed
  * extend rewrites only its own batch directory). Stamps:
  * `_graft_corpus` provenance (read path refuses unstamped dirs),
  * `_graft_geom` pins 128:16:8 so mixed-geometry bands can never
  * silently co-bucket. */
object SignatureIndex {
  private val MarkerFile = "_graft_corpus"
  private val GeomFile = "_graft_geom"
  private val Geometry = "128:16:8" // minhashes : bands : rows-per-band
  /** Old-occupancy cap of a touched band bucket (see the Skew note). */
  private val MaxBucket = 65536L

  /** Fails unless `index` is stamped with this geometry. */
  private def requireGeometry(spark: SparkSession, index: String): Unit = {
    val stored = Stamps.text(spark, index, GeomFile, "SignatureIndex").trim
    require(stored == Geometry, s"$index geometry $stored != $Geometry")
  }

  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("lang"),
      explode(expr(graft.queries.Sketches.BandKeysExpr)).as("bk64"))

  private def writeBatch(spark: SparkSession, sigs: DataFrame, out: String,
                         batch: Long): Unit = {
    sigs.withColumn("batch", lit(batch))
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic").mode("overwrite")
      .parquet(s"$out/signatures.parquet")
    bandsOf(sigs).withColumn("batch", lit(batch))
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic").mode("overwrite")
      .parquet(s"$out/bands.parquet")
  }

  /** Index the documents table of a delivered corpus dir (batch 0). */
  def build(spark: SparkSession, corpusDir: String, out: String): Unit =
    buildFrom(spark, graft.Tables.documents(spark, corpusDir), corpusDir, out)

  def buildFrom(spark: SparkSession, docs: DataFrame, stamp: String,
                out: String): Unit = {
    val sigs = graft.ops.Lineage.cut(graft.queries.Sketches.signatures(docs))
    writeBatch(spark, sigs, out, 0L)
    Stamps.write(spark, out, GeomFile, Geometry)
    Stamps.write(spark, out, MarkerFile, stamp)
  }

  /** Near-dup candidate pairs of a new-batch frame against the index:
    * (doc_new, doc_old, est_jac) at est ≥ minEst (llm_minhash's 0.7
    * operating point by default). The index is touched in exactly two
    * streamed scans — band rows semi-filtered by the batch's broadcast
    * bucket set, signatures semi-filtered by the matched docs — with
    * no index-side exchange at the refresh posture. */
  def refreshPairs(spark: SparkSession, newDocs: DataFrame, index: String,
                   minEst: Double = 0.7): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    requireGeometry(spark, index)
    val newSigs = graft.ops.Lineage.cut(
      graft.queries.Sketches.signatures(newDocs))
    val newBands = bandsOf(newSigs)
      .select(col("doc_id").as("doc_new"), col("lang"), col("bk64"))
    // the batch's bucket set is ≤ 16 × batch rows — broadcast it so the
    // index band scan streams map-side (no exchange over stored bands)
    val newKeys = newBands.select("bk64", "lang").distinct()
    val touched = spark.read.parquet(s"$index/bands.parquet")
      .join(broadcast(newKeys), Seq("bk64", "lang"))
      .select(col("bk64"), col("lang"), col("doc_id").as("doc_old"))
    // df-cap the touched buckets (batch-bounded census — see scaladoc);
    // the drop census is LOGGED so a capped run is never silent
    val occ = touched.groupBy("bk64", "lang").count()
    val hot = occ.where(col("count") > MaxBucket)
    val nHot = hot.count()
    if (nHot > 0)
      System.err.println(
        s"[sigindex] dropping $nHot touched buckets over $MaxBucket old docs")
    val kept =
      if (nHot == 0) touched
      else touched.join(broadcast(hot.select("bk64", "lang")),
        Seq("bk64", "lang"), "left_anti")
    val cand = graft.ops.Lineage.cut(
      kept.join(newBands, Seq("bk64", "lang"))
        .select("doc_new", "doc_old").distinct())
    // candidate-bounded resolution with TWO thresholds: the
    // key-side gate (spark.graft.dedup.broadcastCandidates, calibrated
    // for ~32-byte digest keys) is the wrong knob for broadcasting
    // SIGNATURE rows — each carries a 128-int signature (~0.5-1 KB), so
    // a near-1M-candidate refresh would broadcast hundreds of MB. The
    // sig-side gate (spark.graft.sigindex.broadcastSigs, default 65536
    // ≈ ~34 MB of signature rows) bounds the oldSigs broadcast; between
    // the two gates the candidate KEYS still broadcast (keeping the
    // stored-band scan exchange-free, map-side semi) while the sig
    // equi-join itself shuffles. Verdict identical in all three shapes
    // (the spec pins broadcast vs SMJ).
    val maxBcastKeys = spark.conf
      .get("spark.graft.dedup.broadcastCandidates", "1000000").toLong
    val maxBcastSigs = spark.conf
      .get("spark.graft.sigindex.broadcastSigs", "65536").toLong
    val sigStore = spark.read.parquet(s"$index/signatures.parquet")
    val nCand = cand.count()
    // ONE candidate-pruned oldSigs construction (key-broadcast map-side
    // semi); the gates only pick the final join shape, so the two
    // pruned forms cannot drift apart
    lazy val oldSigs = sigStore
      .join(broadcast(cand.select(col("doc_old").as("doc_id")).distinct()), "doc_id")
      .select(col("doc_id").as("doc_old"), col("sig").as("sig_old"))
    val withOld =
      if (nCand <= maxBcastSigs) cand.join(broadcast(oldSigs), "doc_old")
      else if (nCand <= maxBcastKeys) cand.join(oldSigs, "doc_old")
      else cand.join(
        sigStore.select(col("doc_id").as("doc_old"), col("sig").as("sig_old"))
          .hint("merge"), "doc_old")
    withOld
      .join(newSigs.select(col("doc_id").as("doc_new"), col("sig").as("sig_new")), "doc_new")
      .withColumn("est_jac", r4(expr("graft_agree(sig_new, sig_old)") / lit(128.0)))
      .where(col("est_jac") >= minEst)
      .select("doc_new", "doc_old", "est_jac")
  }

  /** Per-doc refresh verdict: (doc_id, n_near_old, keep), doc_id-ordered
    * — llm_dedup_incremental's near half, answered from the artifact. */
  def refresh(spark: SparkSession, newDocs: DataFrame, index: String,
              minEst: Double = 0.7): DataFrame = {
    val counts = refreshPairs(spark, newDocs, index, minEst)
      .groupBy(col("doc_new").as("doc_id"))
      .agg(count(lit(1)).as("n_near_old"))
    newDocs.select("doc_id").join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_near_old"), lit(0L)).as("n_near_old"))
      .withColumn("keep", (col("n_near_old") === 0).cast("long"))
      .orderBy("doc_id")
  }

  /** Roll the index forward: the batch lands as its own partition via
    * dynamic partition overwrite — only `batch=<batchId>` directories
    * are written, a retry overwrites exactly itself, and the existing
    * partitions are never touched (the fail-before-destroy rule by
    * layout). batchId must be fresh and positive; the read path is a
    * plain recursive scan, so extended batches are visible without any
    * compaction step. */
  def extend(spark: SparkSession, newDocs: DataFrame, index: String,
             batchId: Long): Unit = {
    require(batchId > 0, s"batchId must be > 0 (0 is the build batch), got $batchId")
    requireGeometry(spark, index)
    val sigs = graft.ops.Lineage.cut(graft.queries.Sketches.signatures(newDocs))
    writeBatch(spark, sigs, index, batchId)
  }
}
