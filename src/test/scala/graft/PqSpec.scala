package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Gates for llm_ann_pq — the declared-sketch discipline (no DuckDB
  * oracle; a k-means codebook is engine-specific): the operator is
  * correct iff its ADC ranking tracks exact distance, reproducibly.
  *
  * Floors calibrated by PqCalibrate at sf0.001 (64-d random fixture
  * vectors — PQ's worst case, no cluster structure; M=16 / K=64 /
  * 2 Lloyd rounds): recall@3 0.433, mean relative ADC error 0.1535,
  * max 0.2636. Pins raised to measured-minus-margin in r12 (recall
  * ≥ 0.35, mean ≤ 0.19, max ≤ 0.30 — VERDICT r11 #4: the old 1.3-1.5×
  * loose floors could not catch a real regression); any geometry or
  * init change must re-run PqCalibrate and re-pin (the
  * SimhashCalibrate rule, VERDICT r3 #1).
  */
class PqSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def exactTop3(): Map[Long, Seq[Long]] = {
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val queries = vecs.filter(_._1 < 10)
    queries.map { case (qid, q) =>
      val d2 = vecs.filter(_._1 != qid).map { case (vid, v) =>
        val d = q.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, vid)
      }
      qid -> d2.sortBy(identity).take(3).map(_._2).toSeq
    }.toMap
  }

  test("ADC top-3 tracks exact distance: recall@3 over the query set meets the calibrated floor") {
    val got = queries.Sketches.llmAnnPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = exactTop3()
    val hits = exact.toSeq.map { case (qid, top) =>
      top.count(got.getOrElse(qid, Set.empty).contains)
    }.sum
    val recall = hits.toDouble / (exact.size * 3)
    info(f"recall@3 = $recall%.3f")
    // measured 0.433 at the default geometry (PqCalibrate r12 curve:
    // M=16/K=64 is the knee — recall 0.400/0.467/0.333 at iters 1/3/6,
    // every smaller M strictly worse). 30 slots make each hit worth
    // 0.033, so 0.35 is measured-minus-2-slots — tight enough to catch
    // a real geometry/assignment regression (VERDICT r11 #4).
    recall should be >= 0.35
  }

  test("ADC distance approximates exact distance within the PQ quantization bound") {
    // per (query, reported neighbour): |ad2 − d2_true| / d2_true — the
    // PQ reconstruction-error story, which holds even when the top-3
    // SET differs from exact (ranking noise between near-equidistant
    // random vectors is expected; wildly wrong DISTANCES are a bug)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val rows = queries.Sketches.llmAnnPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows should not be empty
    val relErrs = rows.map { case (qid, vid, ad2) =>
      val d2 = vecs(qid).zip(vecs(vid)).map { case (a, b) => (a - b) * (a - b) }.sum
      math.abs(ad2 - d2) / d2
    }
    val mean = relErrs.sum / relErrs.size
    info(f"mean relative ADC error = $mean%.4f, max = ${relErrs.max}%.4f")
    mean should be <= 0.19 // measured 0.1535 (r12 floor-tighten pass)
    relErrs.max should be <= 0.30 // measured 0.2636 (r12 floor-tighten pass)
  }

  test("the ranking is a pure function of the corpus: two runs are row-identical") {
    val a = queries.Sketches.llmAnnPq(spark, sfDir).collect().toSeq
    val b = queries.Sketches.llmAnnPq(spark, sfDir).collect().toSeq
    a shouldBe b
    // shape contract: 3 neighbours per query, rn dense 1..3, ad2 ≥ 0
    a.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      rows.map(_.getLong(3)).sorted shouldBe Seq(1L, 2L, 3L)
    }
    all(a.map(_.getDouble(2))) should be >= 0.0
  }

  test("the ADC scan keeps the bounded-broadcast shape — no SMJ, no cartesian") {
    // round 14: the former per-(sub, code) BroadcastHashJoin fan-out is
    // gone (graft_pq_argmin / graft_pq_dists compute in-row); the one
    // remaining join is the packed ADC scan pipelined off the EXPLICIT
    // broadcast of the ≤nq-row query-table frame — a
    // BroadcastNestedLoopJoin on the qid ≠ vid theta predicate, bounded
    // by construction (never corpus×corpus: the broadcast side is the
    // query batch). Pin that shape, and that the in-row expressions
    // actually reached the plan.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = queries.Sketches.llmAnnPq(spark, sfDir)
        .queryExecution.executedPlan.toString
      plan should include("BroadcastNestedLoopJoin")
      plan should include("graft_pq_argmin")
      plan should include("graft_pq_dists")
      plan should include("graft_adc")
      plan should not include "SortMergeJoin"
      plan should not include "CartesianProduct"
      plan should not include "Window"
    }
  }
}
