package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Stamps

/** The materialized near-dup pair artifact (llm_pair_table as a
  * persisted table) — the cross-run sharing story for the jaccard
  * family: jaccard_pairs, dedup_cluster and dedup_incremental all
  * consume the same blocked/scored pair pipeline, and at 100 TB that
  * pipeline is computed ONCE per corpus version, persisted, and read
  * back by every downstream job instead of recomputed per query.
  *
  * Usage:
  * {{{
  *   PairTable.write(spark, sfDir, "/artifacts/pairs")     // once
  *   spark.conf.set("spark.graft.pairs.artifact", "/artifacts/pairs")
  *   // every jaccardPairsUnsorted consumer now short-circuits to a
  *   // parquet read + jac-threshold + predicate filter
  *   // day 2: new docs appended to the corpus dir →
  *   PairTable.refreshInPlace(spark, sfDir, "/artifacts/pairs")
  * }}}
  *
  * Lifecycle: `write` is the only O(corpus) step; each refreshInPlace
  * adds one day's delta files (pairs touching the batch) beside the
  * ones already there, so the files of every day stay shared and a day
  * writes O(batch) bytes. A fresh `write` is the compaction.
  *
  * The artifact is floored at jac ≥ 0.6 (Llm.PairTableFloor*), strictly
  * below every consumer threshold (0.8 operator floor, 0.6 would need
  * its own table), so the re-applied threshold on read is lossless.
  * PropertySpec pins artifact-read ≡ recompute for both jaccard_pairs
  * and dedup_incremental.
  *
  * The builders pass `ignoreArtifact = true` to jaccardPairsUnsorted:
  * with `spark.graft.pairs.artifact` set (the documented steady state)
  * an unbypassed build would short-circuit to the stale table and
  * updateIncremental would "refresh" the artifact from itself. Threaded
  * as an explicit parameter, NOT a temporary conf unset — mutating the
  * session-global conf around plan construction raced with concurrent
  * query construction on the same SparkSession (ADVICE r5).
  */
object PairTable {

  private val MarkerFile = "_graft_corpus"
  private val WatermarkFile = "_graft_watermark"
  private val CandFile = "_graft_candidates"

  /** Stamp the artifact with the corpus dir it was built from plus the
    * doc_id watermark (max doc_id seen); the read path refuses to serve
    * any other dir (the conf is session-global — without the stamp one
    * artifact would silently answer for every dataset the session
    * touches), and refreshInPlace uses the watermark as the default
    * new-batch rule. Underscore-prefixed so parquet readers ignore
    * them, like _SUCCESS. */
  private def writeStamps(spark: SparkSession, out: String, corpus: String): Unit = {
    Stamps.write(spark, out, MarkerFile, corpus)
    val wm = graft.Tables.documents(spark, corpus)
      .agg(max("doc_id")).head().getLong(0)
    Stamps.write(spark, out, WatermarkFile, wm.toString)
    // provenance of the candidate generator the artifact was built with
    // (rarity = exact contract, minhash = approximate): the read path
    // refuses to serve a session whose conf declares the OTHER mode, so
    // an approximate table can never silently answer for the exact one
    Stamps.write(spark, out, CandFile,
      spark.conf.get("spark.graft.pairs.candidates", "rarity"))
  }

  /** The corpus dir an artifact was stamped with; fails loudly on an
    * unstamped directory (only PairTable-produced tables qualify). */
  def readCorpusMarker(spark: SparkSession, artifact: String): String =
    Stamps.text(spark, artifact, MarkerFile, "PairTable")

  /** The candidate-generator mode the artifact was built with. Stamps
    * predating the mode conf (none in this repo's history) read as the
    * then-only "rarity". */
  def readCandMode(spark: SparkSession, artifact: String): String =
    if (Stamps.exists(spark, artifact, CandFile))
      Stamps.text(spark, artifact, CandFile, "PairTable").trim
    else "rarity"

  /** The doc_id watermark stamped at write/refresh time: every corpus
    * doc with doc_id > watermark arrived AFTER the artifact was built.
    * Pre-watermark artifacts (none in this repo's history, but a
    * foreign stamp could omit the file) fail loudly rather than guess. */
  def readWatermark(spark: SparkSession, artifact: String): Long =
    Stamps.text(spark, artifact, WatermarkFile, "PairTable",
      remedy = "rebuild with PairTable.write").trim.toLong

  /** The artifact frame (unsorted; jac ≥ 0.6), always computed fresh. */
  def build(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.Llm.jaccardPairsUnsorted(
      spark, sfDir, None,
      graft.queries.Llm.PairTableFloorNum, graft.queries.Llm.PairTableFloorDen,
      ignoreArtifact = true)

  /** Persist the artifact. Partitioned only by parquet row groups —
    * consumers filter on jac (min/max row-group pruning applies) and
    * join on doc ids; there is no low-cardinality partition key worth a
    * directory layout here. */
  def write(spark: SparkSession, sfDir: String, out: String): Unit = {
    build(spark, sfDir).write.mode("overwrite").parquet(out)
    writeStamps(spark, out, sfDir)
  }

  /** The pairs with AT LEAST ONE new endpoint (`isNewAttr`) over the
    * corpus at `sfDir`, behind the provenance guards on `prev`: the
    * delta that updateIncremental unions and refreshInPlace appends. */
  private def delta(spark: SparkSession, sfDir: String, prev: String,
                    isNewAttr: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val prevCorpus = readCorpusMarker(spark, prev) // fail loudly on unstamped prev
    // mixed provenance guard: merging an exact prev with an approximate
    // delta (or vice versa) would produce a table no declared contract
    // describes — the delta below is computed with the SESSION's conf
    // mode, so prev must have been built with the same one
    val prevMode = readCandMode(spark, prev)
    val curMode = spark.conf.get("spark.graft.pairs.candidates", "rarity")
    require(prevMode == curMode,
      s"prev artifact $prev was built with candidates='$prevMode' but this session " +
      s"declares spark.graft.pairs.candidates=$curMode — the merged table would mix " +
      "exact and approximate halves; rebuild or align the conf")
    val touchingNew: graft.queries.Llm.CandPred = (isNewAttr,
      (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a || b)
    System.err.println(
      s"[graft] PairTable: new-endpoint pairs of '$sfDir' over prev artifact $prev " +
      s"(corpus '$prevCorpus')")
    // ignoreArtifact: with the artifact conf pointing at `prev` (the
    // steady state this method exists for), an unbypassed call would
    // filter YESTERDAY'S pairs by the new-endpoint rule — an empty
    // delta, a silently stale artifact
    graft.queries.Llm.jaccardPairsUnsorted(
      spark, sfDir, Some(touchingNew),
      graft.queries.Llm.PairTableFloorNum, graft.queries.Llm.PairTableFloorDen,
      ignoreArtifact = true)
  }

  /** Incremental artifact refresh — the daily-batch shape: `prev` is
    * the pair table of yesterday's (immutable) corpus, `sfDir` now
    * contains old + new docs, and `isNewAttr` identifies the new batch
    * (same CandPred contract as jaccardPairsUnsorted, e.g. the
    * md5-bucket rule or a doc_id watermark). Only pairs with AT LEAST
    * ONE new endpoint are computed — old-old pairs are exactly `prev`,
    * because Jaccard between two docs depends only on the two docs,
    * never on the rest of the corpus. The union is disjoint by
    * construction (every new pair has a new endpoint; no prev pair
    * does), so no dedup pass is needed.
    *
    * `prev` must carry the corpus stamp (fail-loudly guard): the read
    * path already refuses unstamped artifacts, and without the same
    * check here a foreign or hand-rolled parquet handed in as
    * yesterday's table would be silently unioned and RE-STAMPED as a
    * valid artifact for `sfDir` — laundered into exactly the trust the
    * stamp system exists to protect (ADVICE r5). `out` must differ from
    * `prev`: parquet reads are lazy, so an in-place overwrite would
    * delete yesterday's files under the running union (use
    * refreshInPlace for the append form).
    *
    * Exactness contract (PairTableSpec pins all three clauses at the
    * 0.8 operator threshold): (1) the touching-new half of the merged
    * artifact is EXACTLY what a full rebuild finds — the refresh is
    * exact for the question it answers; (2) the old-old half is frozen
    * to `prev`, untouched — an incremental refresh never revisits
    * yesterday's verdicts; (3) consequently a rebuild may differ from
    * the merge only in old-old pairs at the blocking margin (candidate
    * BLOCKING uses corpus-wide token df, so yesterday's 4-rarest-token
    * choices are not today's; measured 2 of 4822 old-old pairs on the
    * fixture's 80% subset). If bit-identical-to-rebuild matters more
    * than stability of shipped verdicts, run `write` instead — the
    * incremental path is for pipelines where re-judging yesterday's
    * corpus daily is exactly what you are avoiding. */
  def updateIncremental(spark: SparkSession, sfDir: String,
                        prev: String, out: String,
                        isNewAttr: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Unit = {
    require(out != prev,
      s"updateIncremental cannot overwrite prev in place ($prev); " +
      "write to a fresh path or use refreshInPlace")
    val fresh = delta(spark, sfDir, prev, isNewAttr)
    spark.read.parquet(prev).unionByName(fresh)
      .write.mode("overwrite").parquet(out)
    writeStamps(spark, out, sfDir)
  }

  /** Watermark-ruled in-place refresh — the composition point for the
    * daily product flow (CorpusPrepMain --refresh): docs with doc_id
    * above the stamped watermark are the new batch, and their pairs
    * (the same delta updateIncremental unions) are ADDED to the
    * artifact as new files, then the stamps move. The artifact is
    * never re-read or rewritten: a day writes O(batch) bytes. The
    * artifact's files accumulate one delta per day, each named for the
    * watermark it starts from; a fresh `write` is the compaction.
    *
    * Retry-safe: the delta is staged in a hidden `_graft_delta` dir and
    * renamed in as `part-wm<watermark>-…` files, and only then is the
    * watermark re-stamped. A run that dies anywhere before the stamp
    * leaves the old watermark, so the re-run first deletes that
    * watermark's delta files and stage, and computes them again — no
    * pair is ever added twice. Readers between the renames and the
    * stamp may see part of the day's delta, never a pair twice and
    * never a torn file. Single-writer by contract (one daily refresh
    * job owns the artifact path). */
  def refreshInPlace(spark: SparkSession, sfDir: String, artifact: String): Unit = {
    val wm = readWatermark(spark, artifact)
    val aPath = new org.apache.hadoop.fs.Path(artifact)
    val fs = Stamps.fs(spark, aPath)
    val stage = new org.apache.hadoop.fs.Path(aPath, "_graft_delta")
    val prefix = s"part-wm$wm-"
    // what a run from this watermark that died before its stamp left
    fs.delete(stage, true)
    fs.listStatus(aPath).map(_.getPath).filter(_.getName.startsWith(prefix))
      .foreach(p => require(fs.delete(p, false), s"could not delete stale delta file $p"))
    delta(spark, sfDir, artifact, id => id > wm)
      .write.mode("overwrite").parquet(stage.toString)
    // listed in full before the first rename moves a file out of it
    Stamps.dataFiles(spark, stage.toString).map(_.getPath).toList
      .foreach { p =>
        val to = new org.apache.hadoop.fs.Path(aPath, prefix + p.getName.stripPrefix("part-"))
        require(fs.rename(p, to), s"could not move delta file $p -> $to")
      }
    writeStamps(spark, artifact, sfDir)
    fs.delete(stage, true)
  }
}
