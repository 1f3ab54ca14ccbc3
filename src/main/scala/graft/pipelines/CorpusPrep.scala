package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Det._

/** End-to-end training-corpus preparation — the composed form of the
  * individual operators in graft.queries, so a pipeline user can run the
  * whole prep as one call instead of wiring stages by hand:
  *
  *   0. quality gate (optional) — drop docs whose unigram-LM mean
  *                    cross-entropy exceeds `xentMax` (llm_logprob_score
  *                    shape; the LM is trained on the INPUT corpus, so
  *                    the gate is self-contained);
  *   0b. relative LM gate (optional) — the CCNet tail-drop: keep each
  *                    language's docs at or below its `xentQuantileMax`
  *                    quantile of xent (per-lang self-calibrating, where
  *                    `xentMax` is an absolute corpus-tuned bound);
  *   0.5 per-site cap (optional) — keep at most `domainCap` docs per
  *                    first_domain among the current survivors
  *                    (llm_domain_cap shape; site-less docs exempt);
  *   1. clean      — strip the corpus top-K stopwords (Textops shape);
  *   2. exact dedup — keep the min-doc_id representative per sha256;
  *   3. near dedup  — jaccard ≥ θ pairs → connected components,
  *                    keep the min-doc_id representative per cluster;
  *   3.5 span gate (optional) — keep-one span dedup among survivors:
  *                    drop docs whose foreign-owned duplicated-chunk
  *                    token fraction reaches `spanDupMax`
  *                    (llm_span_dedup shape, min-doc_id ownership);
  *   3.7 containment gate (optional) — drop docs whose token set is
  *                    `containMax`-contained in a LARGER surviving doc
  *                    (llm_containment shape: prefix-filter candidates);
  *   4. split      — reproducible md5-bucket train/val/test assignment;
  *   4.5 decontamination gate (optional) — drop TRAIN docs whose
  *                    trigram-shingle overlap with the held-out test
  *                    split reaches `decontamMax` of their own shingles
  *                    (the action llm_contamination only reports;
  *                    test/val docs are never dropped).
  *
  * Returns the surviving documents with (clean_text, cluster, split)
  * columns. Every stage is the scale-shaped variant (blocked candidates,
  * lineage-cut iterations, rand()-free split); CorpusPrepSpec checks the
  * composition invariants end-to-end.
  */
object CorpusPrep {

  /** `jaccardTheta` can only TIGHTEN the near-dup criterion: the pair
    * source (llm_jaccard_pairs) already floors at 0.8, so values below
    * 0.8 behave as 0.8. */
  def run(spark: SparkSession, sfDir: String,
          stopK: Int = 5, jaccardTheta: Double = 0.8,
          xentMax: Option[Double] = None,
          spanDupMax: Option[Double] = None,
          containMax: Option[Double] = None,
          domainCap: Option[Int] = None,
          xentQuantileMax: Option[Double] = None,
          decontamMax: Option[Double] = None): DataFrame =
    stageFrames(spark, sfDir, stopK, jaccardTheta, xentMax,
      spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax).last._2

  /** Per-stage attrition census of the prep pipeline — the "why did my
    * corpus shrink 40%?" report: one row per ACTIVE stage with the
    * surviving row count, docs dropped by that stage and the drop share
    * relative to the input. Row counts execute the pipeline prefix per
    * stage; the eager lineage cuts inside the heavy stages (pair list,
    * cluster labels, shingle tables) make each successive count an
    * incremental job, so the report costs roughly one extra pipeline
    * pass — a price a reporting CLI pays, never the prep itself (run()
    * stays count-free). The tiny result materializes driver-side (≤11
    * rows) into a local DataFrame. */
  def attrition(spark: SparkSession, sfDir: String,
                stopK: Int = 5, jaccardTheta: Double = 0.8,
                xentMax: Option[Double] = None,
                spanDupMax: Option[Double] = None,
                containMax: Option[Double] = None,
                domainCap: Option[Int] = None,
                xentQuantileMax: Option[Double] = None,
                decontamMax: Option[Double] = None): DataFrame = {
    val frames = stageFrames(spark, sfDir, stopK, jaccardTheta,
      xentMax, spanDupMax, containMax, domainCap, xentQuantileMax, decontamMax)
    val counts = frames.map { case (name, df) => (name, df.count()) }
    val total = counts.head._2
    val rows = counts.zip(counts.head +: counts).zipWithIndex.map {
      case (((name, n), (_, prev)), i) =>
        val dropped = prev - n
        val share = if (total == 0L) 0.0
          else graft.ops.Det.r4d(dropped.toDouble / total)
        (i.toLong, name, n, dropped, share)
    }
    import spark.implicits._
    rows.toDF("stage_no", "stage", "rows", "dropped", "drop_share_of_input")
  }

  // private[graft]: ComposedScale (test harness) times each stage's
  // incremental count for the composed-pipeline pricing record
  private[graft] def stageFrames(spark: SparkSession, sfDir: String,
          stopK: Int, jaccardTheta: Double,
          xentMax: Option[Double],
          spanDupMax: Option[Double],
          containMax: Option[Double],
          domainCap: Option[Int],
          xentQuantileMax: Option[Double],
          decontamMax: Option[Double]): Seq[(String, DataFrame)] = {
    require(jaccardTheta >= 0.8, "jaccardTheta below the operator floor of 0.8")
    val docs0 = graft.Tables.documents(spark, sfDir)

    // 0. optional LM-quality gate: drop garbage BEFORE any dedup work —
    //    every downstream stage's shuffle width shrinks with the corpus.
    //    Scored by llm_logprob_score itself so the gate and the query
    //    can never drift apart. Note the near-dup pair source (stage 3)
    //    still reads the full table; dropped docs fall out of the edge
    //    set at the ids join, same as exact-dedup losers.
    val gatedAbs = xentMax.fold(docs0) { m =>
      docs0.join(
        graft.queries.Textops.llmLogprobScore(spark, sfDir)
          .where(col("xent") <= m).select("doc_id"),
        "doc_id")
    }

    // 0b. optional RELATIVE LM gate — the CCNet tail-drop: keep each
    //     language's docs at or below its q-quantile of xent (the
    //     llm_ccnet_bucket cutoff shape: a 1-double-per-lang aggregate
    //     broadcast back, r4-rounded before thresholding — never a
    //     per-lang ranking window). An absolute xentMax needs
    //     re-tuning per corpus and penalizes rare languages (their
    //     tokens are globally rarer, so whole languages sit above a
    //     global cut); the per-lang quantile is self-calibrating.
    //     The quantile ranks the CURRENT survivor frame (stage-0.5
    //     principle, ADVICE r6): composed with xentMax the cut is the
    //     q-quantile of the post-absolute-gate survivors, not of the
    //     raw corpus whose tail xentMax already removed — a raw-corpus
    //     cut would be systematically more lenient than "keep the best
    //     q of what's in the pipeline". The LM itself stays corpus-
    //     trained (scoring model ≠ gate population). Standalone use
    //     (xentMax=None) is unchanged and skips the survivor join.
    val gated = xentQuantileMax.fold(gatedAbs) { q =>
      require(q > 0 && q < 1, s"xentQuantileMax must be in (0, 1), got $q")
      // cut: `scored` is referenced twice below (cuts + keep filter) and
      // each reference would otherwise re-run the full LM-scoring
      // subtree (token explode + corpus LM + per-doc agg, the heaviest
      // stage-0 computation) — plus a second copy already inside
      // gatedAbs when composed with xentMax. Materialize once.
      val rawScored = graft.queries.Textops.llmLogprobScore(spark, sfDir)
      val scored = graft.ops.Lineage.cut(xentMax.fold(rawScored)(_ =>
        rawScored.join(gatedAbs.select("doc_id"), "doc_id")))
      val cuts = scored.groupBy("lang")
        .agg(r4(expr(s"percentile(xent, cast($q as double))")).as("qcut"))
      gatedAbs.join(
        scored.join(broadcast(cuts), "lang")
          .where(col("xent") <= col("qcut")).select("doc_id"),
        "doc_id")
    }

    // 0.5 optional per-site cap (llm_domain_cap shape): cut hot-domain
    //     volume BEFORE the dedup stages pay for it — ranked over the
    //     CURRENT survivor frame (capping must see the pipeline's docs,
    //     not the raw table, or a quality-gated doc would still occupy
    //     a keep slot). Site-less docs are exempt by the operator's
    //     contract, so a URL-free corpus passes through unchanged.
    val docs = domainCap.fold(gated) { k =>
      gated.join(graft.queries.Webops.domainCapLosers(gated, k),
        Seq("doc_id"), "left_anti")
    }

    // 1. clean: remove corpus top-K tokens (per-partition top-K + 1-row
    //    broadcast, same shape as llm_stopword_scrub)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val stopArr = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(stopK)
      .agg(array_sort(collect_list("token")).as("stops"))
    val cleaned = docs.crossJoin(broadcast(stopArr))
      .withColumn("clean_text",
        array_join(filter(split(col("text"), " "),
          t => !array_contains(col("stops"), t)), " "))
      .drop("stops")

    // 2. exact dedup on the CLEANED text: keeper = min doc_id per digest
    val keepers = cleaned
      .groupBy(sha2(col("clean_text").cast("binary"), 256).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exact = cleaned.join(keepers, "doc_id")

    // 3. near dedup on the original operator's pair semantics (blocked
    //    jaccard over the raw text — cleaning must not change identity),
    //    connected components over the pairs among the exact-dedup
    //    survivors, keep the cluster representative (min doc_id).
    // cut: the edge joins below reference the pair list; the blocked
    // jaccard pipeline must execute once, not per reference
    val pairs = graft.ops.Lineage.cut(
      graft.queries.Llm.jaccardPairsUnsorted(spark, sfDir)
        .where(col("jac") >= jaccardTheta).select("doc_a", "doc_b"))
    val ids = exact.select(col("doc_id"))
    val e = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .join(ids.select(col("doc_id").as("src")), Seq("src"))
      .join(ids.select(col("doc_id").as("dst")), Seq("dst"))
    // id-filtered pair rows stay duplicate-free with doc_a < doc_b →
    // skip the normalization distinct (preOriented contract); the
    // size-adaptive entry (round 10) runs small pair graphs through the
    // one-job local union-find, corpus-scale ones through lss
    val (lbl, _) = graft.ops.ConnectedComponents.auto(e, preOriented = true)
    val labels = ids.join(lbl.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id").as("dd"), coalesce(col("label"), col("doc_id")).as("lbl"))
    val reps = labels.groupBy("lbl").agg(min("dd").as("doc_id"))
      .select(col("doc_id"), col("lbl").as("cluster"))
    val nearDeduped = exact
      .join(labels.select(col("dd").as("doc_id"), col("lbl").as("cluster")), "doc_id")
      .join(reps.select(col("doc_id"), lit(1).as("is_rep")), Seq("doc_id"), "left")
      .where(col("is_rep") === 1).drop("is_rep")

    // 3.5 (optional) keep-one span dedup among the SURVIVORS: cut each
    //     surviving doc into llm_span_dedup's non-overlapping 16-token
    //     chunks; a chunk instance is FOREIGN-duplicated iff the minimum
    //     surviving doc_id containing that chunk hash is a different
    //     doc. Docs whose foreign-duplicated token fraction reaches
    //     `spanDupMax` are dropped — the Lee et al. "remove the
    //     duplicate occurrence" rule at doc granularity: the earliest
    //     copy always survives (its own chunks are self-owned), later
    //     mostly-copied docs go. Running AFTER near-dedup means whole-doc
    //     dups are already collapsed; this stage catches the localized
    //     verbatim reuse (templates, quoted paragraphs) that whole-doc
    //     Jaccard dilutes. Same scale shape as llm_span_dedup: one hash
    //     groupBy + one rejoin + a per-doc agg.
    val spanGated = spanDupMax.fold(nearDeduped) { m =>
      val chunks = graft.ops.Lineage.cut(
        nearDeduped
          .withColumn("toks", split(col("text"), " "))
          .withColumn("i", explode(sequence(lit(0),
            floor((size(col("toks")) - 1) / 16).cast("int"))))
          .select(col("doc_id"),
            size(expr("slice(toks, i * 16 + 1, 16)")).cast("long").as("c_ntok"),
            md5(array_join(expr("slice(toks, i * 16 + 1, 16)"), " ").cast("binary")).as("h")))
      val owner = chunks.groupBy("h").agg(min("doc_id").as("own"))
      val keep = chunks.join(owner, "h")
        .groupBy("doc_id")
        .agg(sum("c_ntok").as("n_tok"),
             sum(when(col("own") < col("doc_id"), col("c_ntok")).otherwise(0L))
               .as("foreign_tok"))
        .where(col("foreign_tok") * lit(1.0) / col("n_tok") < m)
        .select("doc_id")
      nearDeduped.join(keep, "doc_id")
    }

    // 3.7 (optional) keep-the-container containment gate among the
    //     remaining survivors: drop any doc whose token SET is
    //     `containMax`-contained in a LARGER surviving doc
    //     (llm_containment's prefix-filter candidates — lossless at the
    //     true threshold by pigeonhole; equal-size ties keep the min
    //     doc_id, though at jaccardTheta = 0.8 equal-size near-identical
    //     sets are already collapsed by stage 3: jac ≥ 0.9n/1.1n >
    //     0.8). Relational, not greedy-chained — judged against all
    //     surviving partners, the llm_semdedup discipline. Catches the
    //     subset dups (full quotes, wrapped reposts) that whole-doc
    //     jaccard union-dilutes and the span gate misses under shifted
    //     chunk alignment. Runs on RAW text, like stage 3 — cleaning
    //     must not change identity.
    val contGated = containMax.fold(spanGated) { m =>
      val tokC = graft.ops.Lineage.cut(
        spanGated.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("token")).distinct())
      val dfTok = tokC.groupBy("token").agg(count(lit(1)).as("df"))
      val ntDf = tokC.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val tokDf = tokC.join(dfTok, "token").join(ntDf, "doc_id")
        .where(col("df") <= graft.queries.Llm.ContainmentMaxDf)
      // prefix selection via the shared bounded MinKAgg stage (the exact
      // helper llm_containment uses), not a per-doc ranking window over
      // the df-capped token stream — the last instance of the VERDICT r6
      // #3 window shape; the query operator and this gate now cannot
      // drift apart
      // interned probe-join key (round 8) — same rewrite as the
      // operator's (Llm.llmContainment): selection on tokens, join on
      // xxhash64 longs, output identical
      val probe = graft.queries.Llm.probePrefix(tokDf)
        .withColumn("tk", xxhash64(col("token"))).drop("token")
      val index = tokDf
        .select(col("doc_id").as("iid"), col("lang"),
          xxhash64(col("token")).as("tk"), col("nt").as("nt_i"))
      val cand = probe.join(index, Seq("tk", "lang"))
        .where(col("pid") =!= col("iid"))
        .select(least(col("pid"), col("iid")).as("doc_a"),
                greatest(col("pid"), col("iid")).as("doc_b"),
                when(col("pid") < col("iid"), col("nt_p")).otherwise(col("nt_i")).as("na"),
                when(col("pid") < col("iid"), col("nt_i")).otherwise(col("nt_p")).as("nb"))
        .distinct()
      val sets = tokC.groupBy("doc_id")
        .agg(array_sort(collect_set(xxhash64(col("token")))).as("mset"))
      graft.functions.VectorExprs.register(spark)
      val losers = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("mset").as("ma")).hint("merge"), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("mset").as("mb")).hint("merge"), "doc_b")
        .withColumn("ni", expr("graft_icount(ma, mb)"))
        .where(r4(col("ni") * lit(1.0) / least(col("na"), col("nb"))) >= m)
        .select(when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      spanGated.join(losers, Seq("doc_id"), "left_anti")
    }

    // 4. reproducible split (md5 bucket of doc_id — llm_split shape)
    val withSplit = contGated
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10)").cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .drop("bucket")

    // 4.5 (optional) decontamination gate — the ACTION llm_contamination
    //     only reports: drop TRAIN docs whose word-trigram shingles
    //     overlap the held-out TEST split at >= `decontamMax` of the
    //     train doc's shingles (the Gopher/GPT-3 prep step: the
    //     benchmark stays intact, the leaking train docs go). Runs after
    //     split assignment because the split IS the contamination
    //     boundary; test/val docs are never dropped here. The
    //     train-side df cap (spark.graft.contamination.maxDf, shared
    //     with llm_contamination) keeps one ubiquitous boilerplate
    //     trigram from exploding the shingle join at web scale —
    //     boilerplate shingles count toward a doc's total, never toward
    //     its contamination. Docs under 3 tokens have no shingles and
    //     pass through (nothing to measure). Scale shape: one shingle
    //     materialization, uniform md5 keys, a df-capped semi join and
    //     two doc-keyed aggs — no pair joins.
    val deconGated = decontamMax.fold(withSplit) { m =>
      require(m > 0 && m <= 1, s"decontamMax must be in (0, 1], got $m")
      val maxDf = spark.conf.get("spark.graft.contamination.maxDf", "1000").toLong
      val tp = withSplit
        .select(col("doc_id"), col("split"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "split", "pos", "t")
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val sh = graft.ops.Lineage.cut(tp
        .withColumn("t1", lead("t", 1).over(wPos))
        .withColumn("t2", lead("t", 2).over(wPos))
        .where(col("t2").isNotNull)
        .select(col("doc_id"), col("split"),
          md5(concat_ws(" ", col("t"), col("t1"), col("t2")).cast("binary")).as("shg"))
        .distinct())
      val trainAll = sh.where(col("split") === "train").select("doc_id", "shg")
      val boiler = trainAll.groupBy("shg").agg(count(lit(1)).as("df"))
        .where(col("df") > maxDf).select("shg")
      val testSh = sh.where(col("split") === "test").select("shg").distinct()
      val nSh = trainAll.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val shared = trainAll.join(boiler, Seq("shg"), "left_anti")
        .join(testSh, Seq("shg"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      val losers = nSh.join(shared, Seq("doc_id"), "left")
        .where(r4(coalesce(col("n_shared"), lit(0L)) * lit(1.0) / col("n_sh")) >= m)
        .select("doc_id")
      withSplit.join(losers, Seq("doc_id"), "left_anti")
    }

    val fin = deconGated
      .select("doc_id", "lang", "source", "n_chars", "clean_text", "cluster", "split")
      .orderBy("doc_id")

    // ordered ACTIVE stages: optional gates appear only when enabled, so
    // the attrition report reads as the pipeline the caller actually ran.
    // "clean" is absent by design — it rewrites text, never drops rows.
    Seq(("input", docs0)) ++
      xentMax.map(_ => ("xent_gate", gatedAbs)) ++
      xentQuantileMax.map(_ => ("xent_quantile_gate", gated)) ++
      domainCap.map(_ => ("domain_cap", docs)) ++
      Seq(("exact_dedup", exact), ("near_dedup", nearDeduped)) ++
      spanDupMax.map(_ => ("span_dedup", spanGated)) ++
      containMax.map(_ => ("containment_dedup", contGated)) ++
      decontamMax.map(_ => ("decontamination", deconGated)) ++
      Seq(("final", fin))
  }
}
