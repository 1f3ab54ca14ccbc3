package graft.pipelines

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{DeflaterOutputStream, InflaterInputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Stamps

/** The exact-dedup DELIVERY ARTIFACT behind llm_dedup_bloom's 100 TB
  * posture: a corpus's dedup state reduced to (a) distinct sha256
  * digest tables and (b) one Bloom bitmap over the xxhash64 text keys —
  * so a daily refresh verdicts its batch WITHOUT touching the old
  * corpus at all: the bloom routes (miss = definitely new, join-free),
  * the digest tables resolve the might-contain sliver exactly. The
  * query form (queries/Extras.llmDedupBloom) rebuilds both per run for
  * oracle hermeticity; this pipeline is what a production refresh
  * actually loads, and BloomDedupSpec/DigestIndexSpec pin the two
  * forms verdict-identical.
  *
  * Lifecycle:
  *   build  — index a delivered corpus (one digest generation + bloom
  *            + stamps), one scan; the only O(corpus) step;
  *   refresh — verdict an arbitrary new-batch frame against the index:
  *            cost is O(batch) + a digest join of the sliver,
  *            independent of corpus text size;
  *   extend — roll the index forward with the batch, writing O(batch)
  *            bytes: a new generation holding ONLY the batch's distinct
  *            digests, plus the OR-merged bitmap (lossless, the
  *            BloomMergeAgg property). Out-of-place: `index` is never
  *            written, so a failed extend leaves it intact.
  *
  * Generations share files. Every index carries `_graft_generations`,
  * the qualified digest directories of every generation it stands on,
  * oldest first and its own last; refresh reads them all in one
  * multi-path scan and dedups the hit set (a digest seen on two days
  * sits in two generations). A listed directory that is missing fails
  * refresh and extend loudly, naming it — never silent "new" verdicts.
  * So an older generation may be retired only once no index still in
  * use lists it, and moving an index directory breaks the chains that
  * list it. A fresh `build` over the corpus is the compaction: it
  * starts a one-generation chain.
  *
  * The bitmap is stored deflate-compressed: its size is fixed by the
  * declared geometry (bloomItems × fpp), not by the corpus, and a
  * sparsely filled bitmap deflates ~30×. A bitmap filled to its design
  * capacity does not shrink — the digest generations are what keep
  * extend O(batch) at scale.
  *
  * Stamp discipline mirrors pipelines.PairTable: `_graft_corpus` marks
  * provenance and the read path refuses unstamped directories;
  * `_graft_bloom_geom` pins the filter geometry so extend can only OR
  * like with like (mergeInPlace's own contract, surfaced early).
  * Underscore-prefixed files are invisible to parquet readers.
  *
  * Null text stays in-domain: its digest is null (dropped from the
  * digest table — null never equi-joins), its xxhash64 key is the
  * seed (Spark hash functions are null-tolerant), so null-text batch
  * rows route like any row and always verdict dup_exact = 0 — the
  * same null semantics as the query form and its oracle. */
object DigestIndex {
  private val MarkerFile = "_graft_corpus"
  private val GeomFile = "_graft_bloom_geom"
  private val BloomFile = "_graft_bloom"
  private val GenerationsFile = "_graft_generations"
  private val Owner = "DigestIndex"

  private def writeBloom(spark: SparkSession, dir: String, sketch: Array[Byte]): Unit = {
    val bytes = new ByteArrayOutputStream()
    val z = new DeflaterOutputStream(bytes)
    try z.write(sketch) finally z.close()
    Stamps.write(spark, dir, BloomFile, bytes.toByteArray)
  }

  private def readBloom(spark: SparkSession, dir: String): Array[Byte] = {
    val z = new InflaterInputStream(
      new ByteArrayInputStream(Stamps.read(spark, dir, BloomFile, Owner)))
    try z.readAllBytes() finally z.close()
  }

  /** The qualified digest directory of the generation written at `dir`. */
  private def ownDigests(spark: SparkSession, dir: String): String = {
    val p = new Path(dir, "digests.parquet")
    Stamps.fs(spark, p).makeQualified(p).toString
  }

  /** The digest directories an index stands on, oldest first; fails
    * loudly, naming it, on any that is missing. */
  private def generations(spark: SparkSession, index: String): Seq[String] = {
    val gens = Stamps.text(spark, index, GenerationsFile, Owner)
      .split("\n").filter(_.nonEmpty).toSeq
    gens.foreach { g =>
      val p = new Path(g)
      require(Stamps.fs(spark, p).exists(p),
        s"$index lists digest generation $g, which is missing — " +
        "rebuild the index with DigestIndex.build")
    }
    gens
  }

  private def digestsOf(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text").cast("binary"), 256).as("h"))
      .where(col("h").isNotNull).distinct()

  private def bloomOf(docs: DataFrame, items: Long, fpp: Double): Array[Byte] = {
    val bloomBuild = udaf(new graft.functions.BloomBuildAgg(items, fpp))
    docs.select(xxhash64(col("text")).as("k")).where(col("k").isNotNull)
      .agg(bloomBuild(col("k")).as("sk")).head().getAs[Array[Byte]](0)
  }

  /** Index the documents table of a delivered corpus dir. */
  def build(spark: SparkSession, corpusDir: String, out: String): Unit =
    buildFrom(spark, graft.Tables.documents(spark, corpusDir), corpusDir, out)

  /** Index an arbitrary docs frame (must carry `text`); `stamp` records
    * provenance. Geometry: spark.graft.dedup.bloomItems at
    * BloomAggs.Fpp, with items raised to the measured digest count when
    * that is larger — over-population only degrades FPR, but an index
    * is built once and sized right. */
  def buildFrom(spark: SparkSession, docs: DataFrame, stamp: String, out: String): Unit = {
    val own = ownDigests(spark, out)
    digestsOf(docs).write.mode("overwrite").parquet(own)
    val n = spark.read.parquet(own).count()
    val fpp = graft.functions.BloomAggs.Fpp
    val items = math.max(
      spark.conf.get("spark.graft.dedup.bloomItems", "100000").toLong, n)
    writeBloom(spark, out, bloomOf(docs, items, fpp))
    Stamps.write(spark, out, GeomFile, s"$items:$fpp")
    Stamps.write(spark, out, GenerationsFile, own)
    Stamps.write(spark, out, MarkerFile, stamp)
  }

  /** Verdict a new-batch frame (doc_id, text, …) against the index:
    * (doc_id, dup_exact, keep), doc_id-ordered — the same frame
    * llm_dedup_bloom computes, with the old corpus never read.
    *
    * The candidate resolution picks its join shape by the measured
    * sliver size (a physical choice only — the verdict is identical,
    * DigestIndexSpec pins both): at the normal refresh posture the
    * might-contain sliver is tiny (dup share + fpp of the batch), so
    * its distinct digests BROADCAST against a streamed single-column
    * digest scan — the index-side shuffle, the only O(index) cost in
    * the SMJ form, disappears entirely. Past
    * spark.graft.dedup.broadcastCandidates (default 1M — ~32 MB of
    * digest keys) the sliver stops being broadcast-sized and the plain
    * shuffle join takes over; at 100 TB the escalation beyond THAT is
    * delivering the digest table bucketed on h (the join_bucketed
    * lever), which this artifact's layout leaves open. Either way the
    * hits are deduped before they join back: a digest may sit in more
    * than one generation, and the hit set is bounded by the batch. */
  def refresh(spark: SparkSession, newDocs: DataFrame, index: String): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val sketch = readBloom(spark, index) // fails loudly unstamped
    val digests = spark.read.parquet(generations(spark, index): _*)
    val probed = graft.ops.Lineage.cut(
      newDocs.select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"),
        coalesce(
          call_function("graft_bloom_probe", lit(sketch), xxhash64(col("text"))),
          lit(false)).as("might")))
    val fast = probed.where(!col("might"))
      .select(col("doc_id"), lit(0L).as("dup_exact"))
    val cand = probed.where(col("might"))
    val maxBcast = spark.conf
      .get("spark.graft.dedup.broadcastCandidates", "1000000").toLong
    val small = cand.count() <= maxBcast // cheap: probed is already materialized
    // hits = the candidate digests that exist in the index; a small
    // candidate set is BROADCAST, so the digest scan streams map-side —
    // no index-side exchange at all
    val candH = cand.select("h").distinct()
    val hits = digests.join(if (small) broadcast(candH) else candH, Seq("h"))
      .select("h").distinct().withColumn("dup", lit(1L))
    val checked = cand.join(if (small) broadcast(hits) else hits, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup_exact"))
    fast.unionByName(checked)
      .withColumn("keep", (col("dup_exact") === 0).cast("long"))
      .orderBy("doc_id")
  }

  /** Roll the index forward with a batch, OUT-OF-PLACE: `out` gets a
    * new generation holding only the batch's distinct digests, a
    * generations list of `index`'s plus its own, and the bitmap OR'ed
    * with the batch's keys; `index` is never written (a failed extend
    * leaves it intact — the fail-before-destroy delivery rule). The
    * geometry is inherited from the source index so the OR is always
    * like-with-like; the corpus stamp is carried forward with the
    * batch appended. */
  def extend(spark: SparkSession, newDocs: DataFrame, index: String,
             out: String): Unit = {
    val gens = generations(spark, index)
    val own = ownDigests(spark, out)
    // qualified-path comparison: raw Path.toString lets
    // equivalent spellings (file:/x vs /x, relative vs absolute) pass,
    // and mode("overwrite") would then delete a generation the chain
    // still reads — `index` itself or any ancestor
    require(!gens.contains(own),
      s"extend writes out-of-place; got out $out, a generation of index $index")
    val geom = Stamps.text(spark, index, GeomFile, Owner).split(":")
    val (items, fpp) = (geom(0).toLong, geom(1).toDouble)
    val merged = graft.functions.BloomAggs.read(readBloom(spark, index))
    merged.mergeInPlace(graft.functions.BloomAggs.read(bloomOf(newDocs, items, fpp)))
    digestsOf(newDocs).write.mode("overwrite").parquet(own)
    writeBloom(spark, out, graft.functions.BloomAggs.write(merged))
    Stamps.write(spark, out, GeomFile, s"$items:$fpp")
    Stamps.write(spark, out, GenerationsFile, (gens :+ own).mkString("\n"))
    val marker = Stamps.text(spark, index, MarkerFile, Owner)
    Stamps.write(spark, out, MarkerFile, s"$marker+batch")
  }
}
