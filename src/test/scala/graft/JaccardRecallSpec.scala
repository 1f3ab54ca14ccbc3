package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.queries.{Llm, Sketches, Textops}

/** Recall of every BLOCKED near-dup operator against its unblocked
  * all-pairs ground truth. The oracle compare cannot catch recall bugs
  * in these operators — the oracle SQL shares the candidate-generation
  * strategy, so a degenerate blocking that returns zero pairs still
  * "hash-matches" (this bit llm_ngram_jaccard in round 2, and one-token
  * rarity blocking measured only 0.79 recall). These tests are the
  * ground-truth gate the oracle can't be.
  */
class JaccardRecallSpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Unblocked all-pairs exact token Jaccard ≥ θ within lang (125k pairs
    * at sf0.001 — fine in a test, never in production). */
  private def allPairsTruth(theta: Double): Set[(Long, Long)] = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sets = tok.groupBy("doc_id", "lang").agg(collect_set("token").as("s"))
    val a = sets.select(col("doc_id").as("da"), col("lang").as("la"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("lang").as("lb"), col("s").as("sb"))
    a.join(b, col("la") === col("lb") && col("da") < col("db"))
      .withColumn("ni", expr("size(array_intersect(sa, sb))"))
      .withColumn("jac", graft.ops.Det.r4(
        expr("ni * 1.0 / (size(sa) + size(sb) - ni)")))
      .where(col("jac") >= theta)
      .select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Unblocked all-pairs exact containment ≥ θ of the smaller set within
    * lang — the truth the prefix filter must not lose. */
  private def containmentTruth(theta: Double): Set[(Long, Long)] = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sets = tok.groupBy("doc_id", "lang").agg(collect_set("token").as("s"))
    val a = sets.select(col("doc_id").as("da"), col("lang").as("la"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("lang").as("lb"), col("s").as("sb"))
    a.join(b, col("la") === col("lb") && col("da") < col("db"))
      .withColumn("ni", expr("size(array_intersect(sa, sb))"))
      .withColumn("c", graft.ops.Det.r4(
        expr("ni * 1.0 / least(size(sa), size(sb))")))
      .where(col("c") >= theta)
      .select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("llm_containment prefix filter has FULL recall vs all-pairs containment truth") {
    // the pigeonhole argument (≤ floor(0.1·nt) tokens of a truly-0.9-
    // contained set lie outside the partner, prefix probes floor+1) is
    // exact for true containment ≥ 0.9 — measured recall must be 1.0;
    // the r4 boundary band below 0.9 could in principle slip the prefix,
    // so compare against the SAME r4-rounded truth and report any gap
    val truth = containmentTruth(0.9)
    val blocked = Llm.llmContainment(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.nonEmpty shouldBe true
    (blocked -- truth) shouldBe empty // prefix filter never invents pairs
    val recall = (truth & blocked).size.toDouble / truth.size
    info(f"llm_containment prefix-filter recall = $recall%.4f over ${truth.size} truth pairs")
    recall shouldBe 1.0
  }

  test("llm_jaccard_pairs 4-rarest-token blocking has FULL recall vs all-pairs truth") {
    val truth = allPairsTruth(0.8)
    val blocked = Llm.llmJaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.nonEmpty shouldBe true
    blocked should equal(truth) // full recall AND exact precision on the fixture
  }

  test("llm_ngram_jaccard min-shingle blocking finds every all-pairs shingle near-dup") {
    // ground truth over shingle sets, unblocked
    val tp = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "lang", "pos", "t")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val sh = tp.withColumn("t1", lead("t", 1).over(w)).withColumn("t2", lead("t", 2).over(w))
      .where(col("t2").isNotNull)
      .select(col("doc_id"), col("lang"),
        md5(concat_ws(" ", col("t"), col("t1"), col("t2")).cast("binary")).as("shg"))
      .distinct()
    val sets = sh.groupBy("doc_id", "lang").agg(collect_set("shg").as("s"))
    val a = sets.select(col("doc_id").as("da"), col("lang").as("la"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("lang").as("lb"), col("s").as("sb"))
    val truth = a.join(b, col("la") === col("lb") && col("da") < col("db"))
      .withColumn("ni", expr("size(array_intersect(sa, sb))"))
      .withColumn("jac", graft.ops.Det.r4(
        expr("ni * 1.0 / (size(sa) + size(sb) - ni)")))
      .where(col("jac") >= 0.6)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Textops.llmNgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.nonEmpty shouldBe true
    val recall = (truth & blocked).size.toDouble / truth.size
    info(f"ngram min-shingle recall = $recall%.3f over ${truth.size} truth pairs")
    (blocked -- truth) shouldBe empty // blocking only prunes, never invents
    recall should be >= 0.95 // 4-band minhash: 1-(1-j)^4 ≥ 0.97 at j=0.6
  }

  test("candidate predicate pushdown ≡ post-filter of the unfiltered pair set") {
    // llm_dedup_incremental's new↔old restriction is pushed into the
    // candidate stage (pre-distinct, pre-scoring). The discarded pairs
    // never reach the output of the unfiltered pipeline's filtered
    // result either, so pushed ≡ post-filtered — pinned here because the
    // whole 17.6 s → ~5 s incremental win rests on this equivalence.
    def bkt(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100
    val newOld: Llm.CandPred = (bkt _,
      (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        (a >= 80 && b < 80) || (a < 80 && b >= 80))
    val pushed = Llm.jaccardPairsUnsorted(spark, sfDir, Some(newOld), 4, 5)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val post = Llm.jaccardPairsUnsorted(spark, sfDir)
      .where(
        (bkt(col("doc_a")) >= 80 && bkt(col("doc_b")) < 80) ||
        (bkt(col("doc_a")) < 80 && bkt(col("doc_b")) >= 80))
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pushed.nonEmpty shouldBe true
    pushed should equal(post)
  }

  test("pair-table artifact read ≡ recompute for every jaccard consumer") {
    // PairTable persists the 0.6-floored pair pipeline once;
    // spark.graft.pairs.artifact short-circuits jaccardPairsUnsorted to
    // a parquet read + threshold/predicate re-apply. Pinned for the 0.8
    // operator, the artifact query itself, and the incremental consumer.
    val out = tempDir("pairs") + "/pt"
    pipelines.PairTable.write(spark, sfDir, out)
    def run() = (
      Llm.llmJaccardPairs(spark, sfDir).collect().toSeq,
      Llm.llmPairTable(spark, sfDir).collect().toSeq,
      queries.Extras.llmDedupIncremental(spark, sfDir).collect().toSeq)
    val direct = run()
    val viaArtifact = withConf("spark.graft.pairs.artifact" -> out)(run())
    viaArtifact._1 should equal(direct._1)
    viaArtifact._2 should equal(direct._2)
    viaArtifact._3 should equal(direct._3)
  }

  test("minhash candidate mode: exact-subset of rarity mode with banding-S-curve recall") {
    // spark.graft.pairs.candidates=minhash swaps the pair pipeline's
    // candidate generator from 4-rarest-token blocking to MinHash(128)
    // 16x8 LSH banding — the declared approximate 100 TB path, wired
    // through the SAME exact-Jaccard scoring. Two properties make the
    // mode safe to ship behind a conf:
    //  (1) precision is untouched: every emitted (pair, jac) also
    //      appears in rarity mode (exact scoring on a candidate subset);
    //  (2) recall follows the banding S-curve 1-(1-j^8)^16 — >= 0.947 at
    //      the 0.8 floor and -> 1 above it; floor pinned at 0.9 with the
    //      measured value reported.
    val key = "spark.graft.pairs.candidates"
    val exact = Llm.llmJaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val approx = withConf(key -> "minhash") {
      Llm.llmJaccardPairs(spark, sfDir)
        .select("doc_a", "doc_b", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    exact.nonEmpty shouldBe true
    (approx -- exact) shouldBe empty // banding only prunes candidates, never invents
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"minhash-candidate recall vs exact pipeline = $recall%.4f over ${exact.size} pairs")
    recall should be >= 0.9
  }

  test("llm_simhash hamming<=6 recall vs jac>=0.9 truth is >= 0.45 (measured; precision-oriented by design)") {
    // simhash trades recall for precision (SketchSpec pins precision
    // >= 0.8; measured 0.958 at this point). 64-bit simhash over ~25-
    // token sets is noisy — the RECALL path of the sketch family is
    // llm_minhash (>= 0.95, pinned in SketchSpec). Operating point
    // re-calibrated for the xxHash64 digest via SimhashCalibrate
    // (recall 0.506 at ham<=6 banded); floor 0.45 leaves >=0.05 margin.
    // Re-run SimhashCalibrate and re-pin on ANY digest/seed change.
    val truth = allPairsTruth(0.9)
    val found = Sketches.llmSimhash(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.nonEmpty shouldBe true
    val recall = (truth & found).size.toDouble / truth.size
    info(f"simhash recall vs jac>=0.9 = $recall%.3f over ${truth.size} truth pairs")
    recall should be >= 0.45
  }
}
