package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** Text-analysis operators added round 2 (SURVEY.md §2.13): n-gram
  * Jaccard near-dup (the shingle-based dedup family from the builder
  * brief — complements the token-set llm_jaccard_pairs) and corpus
  * stopword scrubbing (the cleaning step of a training-data pipeline).
  *
  * Scale notes: shingling is explode → distinct → bounded agg; candidate
  * generation is min-shingle blocking (equi-join on each doc's 4
  * smallest md5 shingles — a 4-band minhash over the shingle set, ≈0.97
  * recall at the 0.6 threshold; rarity blocking degenerates here because
  * trigram shingles are nearly all df=1), a non-quadratic shape like
  * llm_jaccard_pairs' rarity blocking;
  * per-document shingle sets rejoin candidates via merge-hinted shuffle
  * joins (per-doc state never broadcasts). Stopword scrub derives the
  * stop list with orderBy+limit (TakeOrderedAndProject) and broadcasts
  * only the 5-row result.
  */
object Textops {

  /** Distinct md5 trigram shingles per (doc, lang): md5 is
    * engine-independent so shingle identity is oracle-checkable. */
  private def shingles(s: org.apache.spark.sql.SparkSession, d: String) = {
    val tp = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "lang", "pos", "t")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    tp.withColumn("t1", lead("t", 1).over(w))
      .withColumn("t2", lead("t", 2).over(w))
      .where(col("t2").isNotNull)
      .select(col("doc_id"), col("lang"),
        md5(concat_ws(" ", col("t"), col("t1"), col("t2")).cast("binary")).as("shg"))
      .distinct()
  }

  /** llm_ngram_jaccard — near-dup pairs by exact Jaccard ≥ 0.6 over
    * word-trigram shingle sets within the same language. Stricter than
    * token-set Jaccard (order matters through the shingles): reordering
    * tokens breaks trigrams but not the token set, so this catches
    * copy-edits that llm_jaccard_pairs over-matches. */
  val llmNgramJaccard: Q = (s, d) => {
    // materialize the shingle set once (blocking + set agg both
    // reference it; the lead-window shingling is the expensive subtree)
    val sh = graft.ops.Lineage.cut(shingles(s, d))
    // min-shingle blocking, NOT rarity blocking: trigram shingles are
    // nearly all unique (df = 1), so "globally rarest shingle" would give
    // every doc its own block and zero candidates. The 4 smallest md5
    // shingles per doc are a 4-band minhash over the shingle set: docs
    // with Jaccard j share a band w.p. ≈ 1-(1-j)^4 (0.97 at the 0.6
    // threshold), and block sizes stay bounded by true dup-cluster size.
    // The 4-smallest selection is the bounded MinKAgg aggregate, not a
    // per-doc ranking window (the same VERDICT r6 #3 shape the jaccard
    // family's rarity blocking dropped): identical selection under the
    // strict (0, shg) per-doc order — shingles are distinct per doc —
    // with map-side partial combine shuffling one ≤4-element buffer per
    // (doc, partition) instead of sorting the O(corpus shingles) stream.
    val ntDf = sh.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    // cut: ShardedSelfJoin references the banded frame three times (a/b
    // sides + oversize census) — materialize the 4-rows-per-doc result
    // bshg_set: the doc's 4 block shingles for emit-once — MinKAgg under
    // the (0, shg) order already returns them lexicographically sorted
    // and duplicate-free (shingles distinct per doc), with every exploded
    // block_shg inside; sort_array documents the contract explicitly
    // block keys interned to xxhash64 AFTER the selection (same move +
    // oracle argument as the rarity path, round 8): the 4-smallest
    // choice — the part the oracle mirrors, since 4-band recall is
    // < 1 and candidates affect output — still happens on the md5
    // strings; only the self-join key and the emit-once arrays become
    // longs (a collision can only merge two blocks → candidate
    // superset, and exact scoring decides membership)
    val block = graft.ops.Lineage.cut(sh
      .groupBy("doc_id", "lang")
      .agg(graft.queries.Llm.minkUdaf(lit(0L), col("shg"), lit(4)).as("bshg"))
      .select(col("doc_id"), col("lang"),
        array_distinct(sort_array(
          expr("transform(bshg, t -> xxhash64(t))"))).as("bshg_set"))
      .select(col("doc_id"), col("lang"), col("bshg_set"),
        explode(col("bshg_set")).as("block_shg"))
      .join(ntDf, "doc_id"))
    // skew-safe band self-join (same helper + guarantees as the LSH band
    // joins and the rarity-block join): a hot (block_shg, lang) cell
    // from boilerplate-identical docs shards across triangle cells
    // instead of landing in one task. The lossless θ=0.6=3/5 size
    // prefilter runs pre-distinct on the carried sizes: jac ≤
    // min(na,nb)/max(na,nb). As in Llm, the bound is θ − 1/20000 (the
    // final filter thresholds the r4-ROUNDED jac, which rounds half-up
    // at 4 decimals), integer cross-multiplied: min·100000 ≥ max·59995.
    // emit-once after the size prefilter (round-8 ShardedSelfJoin
    // ordering, same adoption as the rarity path): the min-shared-shingle
    // copy survives, the candidate distinct disappears
    val candSz = graft.ops.ShardedSelfJoin.pairs(
        block, Seq("block_shg", "lang"),
        graft.ops.ShardedSelfJoin.confThreshold(s), carry = Seq("nt"),
        pairFilter = Some(
          least(col("nt_a"), col("nt_b")) * 100000L >=
          greatest(col("nt_a"), col("nt_b")) * 59995L),
        emitOnce = Some(("block_shg", "bshg_set")),
        emitOnceByConstruction = true,
        // candidate volume is small by construction here (min-shingle
        // blocks over md5 shingles pair almost nothing that the θ=0.6
        // prefilter keeps) — the width pin measured +0.45 s of pure
        // exchange/task overhead on this query, so keep AQE's coalesced
        // plan (ShardedSelfJoin pinWidth note)
        pinWidth = false)
      .select(col("doc_a"), col("doc_b"), col("nt_a").as("na"), col("nt_b").as("nb"))
    // intern the 32-char md5 shingle strings to xxhash64 longs before
    // the set agg (same move + collision argument as Llm's token
    // interning): the arrays through the two scoring SMJs shrink ~6×
    val sets = sh.groupBy("doc_id").agg(array_sort(collect_set(xxhash64(col("shg")))).as("m"))
      .select(col("doc_id"), col("m"))
    graft.functions.VectorExprs.register(s)
    candSz
      .join(sets.select(col("doc_id").as("doc_a"), col("m").as("ma")).hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("m").as("mb")).hint("merge"), "doc_b")
      .withColumn("ni", expr("graft_icount(ma, mb)"))
      .select(col("doc_a"), col("doc_b"),
        r4(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= 0.6)
      .orderBy("doc_a", "doc_b")
  }

  /** llm_stopword_scrub — remove the corpus top-5 tokens from every
    * document: stop list via per-partition top-K (TakeOrderedAndProject)
    * + 5-row broadcast; the per-row filter is a higher-order function on
    * the token array (no explode/re-group shuffle for the rewrite). */
  val llmStopwordScrub: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val stopArr = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(5)
      .agg(array_sort(collect_list("token")).as("stops"))
    Tables.documents(s, d)
      .crossJoin(broadcast(stopArr))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("clean", filter(col("toks"),
        t => !array_contains(col("stops"), t)))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(col("clean")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("clean"))).cast("long").as("n_removed"),
        array_join(col("clean"), " ").as("clean_text"),
        md5(array_join(col("clean"), " ").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** llm_regex_tokens — BPE-style pre-tokenization counting: tokens are
    * letter runs / digit runs / punctuation runs (the class structure of
    * the GPT-2 pre-tokenizer, without lookaheads so the pattern means
    * the same thing to Java regex and RE2). The whitespace-split
    * llm_token_stats counts words; this counts pre-tokenizer units —
    * the number a training-cost estimate actually needs. */
  val llmRegexTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+', 0)").as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_units"),
        expr("size(filter(toks, t -> t rlike '^[a-zA-Z]+$'))").cast("long").as("n_alpha"),
        expr("size(filter(toks, t -> t rlike '^[0-9]+$'))").cast("long").as("n_num"))
      .orderBy("doc_id")

  /** Document-frequency cap for llm_contamination's shingle join: a
    * shingle present in more train docs than this is boilerplate, not
    * contamination signal, and is dropped BEFORE the test⋈train join
    * (standard decontamination practice — and the only thing standing
    * between that join and a quadratic blow-up on one ubiquitous
    * navigation/footer trigram at web scale). The DEFAULT is the
    * declared oracle contract (the SQL mirror pins the same literal);
    * overriding spark.graft.contamination.maxDf departs from the
    * oracle. Fixture max train-df is 21, so the default is inert on the
    * declared correctness surface. */
  val ContaminationMaxDf = 1000L

  /** llm_contamination — benchmark-contamination report: for every doc
    * in the held-out test split (md5-bucket rule, as llm_split), count
    * the train-split documents sharing any word-trigram shingle and the
    * distinct shared shingles, plus the contaminated fraction of the
    * test doc's shingles. The decontamination step of a training
    * pipeline as one shuffle join on the shingle key — per-key join
    * input is bounded by the maxDf cap (above), never all-pairs. The
    * dropped-shingle count is logged, not silent. */
  val llmContamination: Q = (s, d) => {
    val split = expr(
      "conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10) % 100")
    // cut: the split shingle stream feeds the train side, the test side
    // AND the df-cap table — three consumers, one materialization of the
    // lead-window shingling
    val sh = graft.ops.Lineage.cut(shingles(s, d)
      .withColumn("bucket", split.cast("long"))
      .withColumn("part",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test")))
    // shingle identity interned to xxhash64 for the join/df-cap/count
    // stages (round 8, the jaccard-family interning move): the 32-char
    // md5 strings become longs through the test⋈train join, the anti-
    // join and both countDistincts. Unlike the jaccard family — where a
    // collision only widens a CANDIDATE set that exact scoring then
    // filters — here the hash IS the counted identity, so a collision
    // would silently perturb n_shared/n_train_docs and which shingles
    // the df-cap drops (P ≈ 6e-11 corpus-wide). For audit runs that need
    // the zero-collision guarantee, spark.graft.contamination.intern=
    // false falls back to the raw shingle strings — byte-identical
    // semantics to the oracle SQL, at string-key join cost; ContaminationSpec
    // pins the two paths equal.
    val intern = s.conf.get("spark.graft.contamination.intern", "true").toBoolean
    val shgKey = (c: org.apache.spark.sql.Column) => if (intern) xxhash64(c) else c
    val trainAll = sh.where(col("part") === "train")
      .select(col("doc_id").as("train_doc"), shgKey(col("shg")).as("shg"))
    val test = sh.where(col("part") === "test")
      .select(col("doc_id").as("test_doc"), shgKey(col("shg")).as("shg"))
    // df-cap: drop boilerplate shingles (train-df > maxDf) before the
    // join. The dropped set is small by construction (each member has
    // > maxDf occurrences, so there are < |train|/maxDf of them) — no
    // broadcast hint on the anti-join (AQE broadcasts it while small,
    // and at web scale a shuffled anti-join on shg is the correct
    // fallback). The no-silent-truncation census rides the MAIN job as
    // an observe() metric logged on action completion — the r4/r5 eager
    // count() here cost a separate job and a second materialization of
    // the capped-shingle table per invocation (r5 verdict item #5).
    val maxDf = s.conf.get("spark.graft.contamination.maxDf",
      ContaminationMaxDf.toString).toLong
    graft.ops.Observed.ensureListener(s)
    val dropped = trainAll.groupBy("shg").agg(count(lit(1)).as("df"))
      .observe(s"graft.llm_contamination.boilerplate_shingles_train_df_gt_$maxDf",
        count(when(col("df") > maxDf, true)).as("n_dropped"))
      .where(col("df") > maxDf).select("shg")
    val train = trainAll.join(dropped, Seq("shg"), "left_anti")
    val testSize = test.groupBy("test_doc").agg(count(lit(1)).as("n_shingles"))
    test.join(train, "shg")
      .groupBy("test_doc")
      .agg(countDistinct("train_doc").as("n_train_docs"),
           countDistinct("shg").as("n_shared"))
      .join(testSize, "test_doc")
      .select(col("test_doc"), col("n_train_docs"), col("n_shared"),
        r4(col("n_shared") * lit(1.0) / col("n_shingles")).as("contaminated_frac"))
      .orderBy("test_doc")
  }

  /** llm_repetition — repetition/boilerplate quality filters per doc
    * (the Gopher/C4 family: machine-generated and boilerplate text is
    * dominated by repeated tokens and repeated n-grams):
    *   max_run       longest run of one token repeated consecutively
    *   top_frac      most-frequent-token count / n_tok
    *   dup_tri_frac  1 − distinct trigrams / total trigrams
    *   rep_flag      1 if any metric crosses its filter threshold
    * All inputs are integer counts; the two fractions round through
    * Det.r4, so the flag comparisons are engine-deterministic. Scale:
    * one explode + three per-doc aggregations (window run-length
    * encoding shuffles by doc_id, the partition key everything else in
    * the pipeline already uses) — no joins wider than doc_id. */
  val llmRepetition: Q = (s, d) => {
    // cut: the positional token stream feeds run-length encoding, token
    // stats AND trigram stats — three consumers, one explode
    val tp = graft.ops.Lineage.cut(Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "t"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // run-length encoding: a segment id that increments on token change
    val runs = tp
      .withColumn("chg",
        when(lag("t", 1).over(w).isNull || col("t") =!= lag("t", 1).over(w), 1)
          .otherwise(0))
      .withColumn("seg", sum("chg").over(w))
    val maxRun = runs.groupBy("doc_id", "seg").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("max_run"))
    val tokStats = tp.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_tok"), max("c").as("top_c"))
    val tri = tp
      .withColumn("t1", lead("t", 1).over(w))
      .withColumn("t2", lead("t", 2).over(w))
      .where(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("tri"))
    val triStats = tri.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), countDistinct("tri").as("n_tri_d"))
    val topFrac = r4(col("top_c") * lit(1.0) / col("n_tok"))
    val dupFrac = r4(lit(1.0) - col("n_tri_d") * lit(1.0) / col("n_tri"))
    tokStats.join(maxRun, "doc_id")
      .join(triStats, Seq("doc_id"), "left") // <3-token docs have no trigrams
      .select(col("doc_id"), col("n_tok"), col("max_run"),
        topFrac.as("top_frac"),
        coalesce(dupFrac, lit(0.0)).as("dup_tri_frac"))
      .withColumn("rep_flag",
        (col("max_run") >= 3 || col("top_frac") >= 0.2 || col("dup_tri_frac") >= 0.5)
          .cast("long"))
      .orderBy("doc_id")
  }

  /** Lookahead-free PII patterns — identical semantics under Java regex
    * (Spark codegen) and RE2 (DuckDB), same compatibility rule as
    * llm_regex_tokens. Redaction is sequential (email → ipv4 → phone),
    * but the COUNTS are raw-text occurrence counts per pattern, computed
    * independently on the ORIGINAL text — they may overlap across
    * categories and need not equal the placeholders emitted into
    * clean_text (e.g. the phone inside `x@123-456-7890.com` counts in
    * n_phone yet is consumed by the <EMAIL> replacement; note emailRe
    * requires an alphabetic TLD, so a numeric host like `a@1.2.3.4` is
    * NOT an email match — its IP counts in n_ip and survives to the ip
    * pass). The oracle SQL mirrors exactly this counting rule;
    * PiiScrubSpec pins both the counts and the redaction output. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe    = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val phoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  /** llm_pii_scrub — PII redaction pass of a training-data pipeline:
    * count and replace emails / IPv4s / NANP-shaped phone numbers with
    * typed placeholder tokens. One projection — no shuffle, no UDF; the
    * regexes stay inside codegen'd string expressions, which is what
    * makes this viable as a full-corpus pass at 100 TB. The synthetic
    * fixture contains no PII (counts are zero, text passes through), so
    * the oracle validates the cross-engine rails; PiiScrubSpec feeds
    * synthesized PII documents through the same query and pins the
    * actual redaction behavior. */
  val llmPiiScrub: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(ipRe)).cast("long").as("n_ip"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phone"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), lit(emailRe), lit("<EMAIL>")),
            lit(ipRe), lit("<IP>")),
          lit(phoneRe), lit("<PHONE>")).as("clean_text"))
      .orderBy("doc_id")

  /** llm_pack_sequences — training-sequence packing (the pre-dataloader
    * step): docs are greedily concatenated in doc_id order into bins of
    * ≤ 2048 tokens; a doc's bin is the bin its START offset falls in
    * (greedy first-fit in stream order — the standard concat-packing a
    * GPT-style dataloader does, expressed as one running-sum window).
    * Packing runs independently per (lang, md5-shard): the shard bounds
    * every window partition at corpus_size/(langs·shards) docs and makes
    * the job embarrassingly parallel; each shard's packing is
    * deterministic and independent, so the output is reproducible at any
    * parallelism. The shard count is `spark.graft.pack.shards`; the
    * DEFAULT (16) is the declared oracle contract (the SQL mirror pins
    * the same literal), so overriding it departs from the oracle — at
    * 100 TB raise it with the corpus to keep the per-partition sort
    * bounded (QuerySemanticsSpec re-pins the packing invariants at a
    * non-default width). Outputs (doc_id, lang, shard, n_tok,
    * start_off, bin). */
  val llmPackSequences: Q = (s, d) => {
    val budget = 2048L
    val shards = s.conf.get("spark.graft.pack.shards", "16").toInt
    require(shards >= 1, s"spark.graft.pack.shards must be >= 1, got $shards")
    val docs = Tables.documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("shard",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long") % shards))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("start_off", sum("n_tok").over(w) - col("n_tok"))
      // integer division, not floor(double /): at extreme offsets a
      // double quotient could misbin; start_off ≥ 0 so div ≡ floor
      .withColumn("bin", expr(s"start_off div $budget"))
      .select("doc_id", "lang", "shard", "n_tok", "start_off", "bin")
      .orderBy("doc_id")
  }

  /** llm_shard_balance — token-balanced GLOBAL output sharding (the
    * dataset-publishing step after packing): every doc gets its offset
    * in the corpus-wide doc_id-ordered token stream and the shard that
    * offset falls in, target = ⌈total_tokens / 64⌉ per shard — so shard
    * files land within one document of equal token counts and the
    * manifest is a pure function of the corpus. Unlike
    * llm_pack_sequences (which SHARDS FIRST precisely to avoid global
    * order), here the global stream order IS the contract — and a
    * naive `sum over (order by doc_id)` window funnels the corpus
    * through ONE partition. Instead: the classic two-pass distributed
    * prefix sum. Pass 1 buckets docs by contiguous doc_id ranges
    * (width `spark.graft.shard.bucketWidth`, default 4096) and aggs
    * per-bucket token totals — a corpus/width-row frame whose ONLY
    * unpartitioned window runs over that bounded table (100 TB at
    * width 1M ⇒ ~10⁵ rows on one task; recurse the same trick if ever
    * deeper). Pass 2 joins the broadcast prefix offsets back and runs
    * the running sum per-bucket — Window.partitionBy(bucket), every
    * partition ≤ width docs, embarrassingly parallel. bucket is
    * monotone in doc_id, so bucket-prefix + within-bucket running sum
    * ≡ the global running sum, exactly, in integers. The oracle states
    * the spec (one global window); the engine states the plan. */
  val llmShardBalance: Q = (s, d) => {
    val width = s.conf.get("spark.graft.shard.bucketWidth", "4096").toLong
    require(width >= 1, s"spark.graft.shard.bucketWidth must be >= 1, got $width")
    val nShards = 64L // declared contract; the oracle pins the same literal
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        // null text = zero tokens (in-domain, mirrored in the oracle)
        when(col("text").isNull, lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")).as("n_tok"))
      .withColumn("b", expr(s"doc_id div $width"))
    val buckets = docs.groupBy("b").agg(sum("n_tok").as("bt"))
    val wb = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the corpus TOTAL rides the same tiny frame as the prefix offsets
    // (one more window over corpus/width rows) instead of a third
    // full-corpus scan + cross join — the base table is read exactly
    // twice, the two passes any non-cached prefix sum needs
    val wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = buckets
      .withColumn("boff", sum("bt").over(wb) - col("bt"))
      .withColumn("tot", sum("bt").over(wt))
      .select("b", "boff", "tot")
    val ww = Window.partitionBy("b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(offsets), "b")
      .withColumn("off", col("boff") + sum("n_tok").over(ww) - col("n_tok"))
      .withColumn("shard", expr(s"off div greatest(1L, (tot + ${nShards - 1}) div $nShards)"))
      .select("doc_id", "n_tok", "off", "shard")
      .orderBy("doc_id")
  }

  /** llm_logprob_score — perplexity-proxy quality score (the CCNet-family
    * cheap LM filter): train a corpus unigram LM with add-one smoothing,
    * score each doc by its mean token cross-entropy −log2 p(t). Low
    * scores = generic high-frequency text, high scores = rare-token /
    * garbage tails — the standard first LM-quality gate before an
    * expensive model-based one. Scale shape: one token-frequency shuffle
    * (width = vocab), a 1-row totals broadcast, one token→tf rejoin
    * (strategy left to Catalyst: broadcast while the vocab table fits
    * the threshold, size-based shuffle join beyond — the vocab grows
    * with the corpus, so it is never broadcast-FORCED here), one
    * per-doc agg — never a per-doc LM object.
    * Cross-engine floats: p(t) is an IEEE-exact division of integers
    * < 2^53 (identical doubles both engines); log2 may differ in the
    * last ulp between libm implementations, which the r4 on the per-doc
    * MEAN collapses (same argument as llm_tfidf's log). */
  val llmLogprobScore: Q = (s, d) => unigramXent(s, d).orderBy("doc_id")

  /** Unordered per-doc unigram cross-entropy — the shared scoring frame
    * behind llm_logprob_score (which totally orders it) and
    * llm_ccnet_bucket (which re-aggregates it; inheriting a global sort
    * there would pay a range-partition exchange the bucketing immediately
    * re-shuffles away). */
  private def unigramXent(s: org.apache.spark.sql.SparkSession, d: String) = {
    // the token stream feeds both the LM agg and the scoring join —
    // materialize it once (Lineage.cut) instead of exploding docs twice
    val tok = graft.ops.Lineage.cut(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("t")))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("n_t"))
    val tot = tf.agg(sum("n_t").as("n_corpus"), count(lit(1)).as("v"))
    tok.join(tf, "t")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"),
           r4(avg(-log2((col("n_t") + 1.0) / (col("n_corpus") + col("v"))))).as("xent"))
  }

  /** llm_ccnet_bucket — CCNet-style per-language perplexity bucketing:
    * split each language's docs into head / middle / tail terciles of
    * the unigram xent (llm_logprob_score's gate) and report each
    * bucket's census — the standard corpus-quality partition CCNet
    * ships to training (head = most-fluent third, tail = the third a
    * cheap LM finds surprising). Bucket names sort in quality order by
    * construction (head < middle < tail lexicographically), so the
    * total order doubles as the quality order.
    *
    * Scale shape — cutoffs, NOT ntile: a per-lang ntile window funnels
    * each language (half the corpus) through ONE task's sort; instead
    * the tercile cutoffs are a 2-doubles-per-lang aggregate broadcast
    * back for a codegen'd comparison — at 100 TB swap the exact
    * `percentile` for `approx_percentile` (same plan, sketch-sized agg
    * state) and the bucketing pass is unchanged. Cutoffs are r4-rounded
    * before thresholding (ev_anomaly / gopher_rules convention) so the
    * bucket verdicts never disagree with the emitted xents and the two
    * engines' last-ulp interpolation noise cannot flip a verdict. */
  val llmCcnetBucket: Q = (s, d) => {
    // cut: the scored frame feeds the cutoff aggregate AND the bucketing
    // join — one materialization, not two runs of the scoring pipeline
    val scored = graft.ops.Lineage.cut(unigramXent(s, d))
    val cuts = scored.groupBy("lang").agg(
      r4(expr("percentile(xent, cast(1 as double) / 3)")).as("t1"),
      r4(expr("percentile(xent, cast(2 as double) / 3)")).as("t2"))
    scored.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("xent") <= col("t1"), lit("head"))
          .when(col("xent") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
           // avg over the r4'd xents, summed as their EXACT scaled
           // integers (floor(x·10⁴+0.5) recovers each 4-decimal value's
           // integer numerator; integer sums are order-free-exact in
           // doubles) — a plain avg() summed r4'd doubles in engine-
           // specific order and flipped the 4th decimal at sf0.1
           r4(sum(floor(col("xent") * 10000 + lit(0.5))) /
              (count(lit(1)) * lit(10000.0))).as("avg_xent"),
           min("xent").as("min_xent"),
           max("xent").as("max_xent"))
      .orderBy("lang", "bucket")
  }

  /** llm_bigram_score — second-order LM quality score, the KenLM-family
    * upgrade of llm_logprob_score's unigram gate: corpus bigram LM with
    * add-1 smoothing, P(w2|w1) = (c(w1w2)+1)/(c(w1·)+V) with V = the
    * corpus unigram vocabulary; per-doc mean −log2 P over its n−1
    * bigrams (<2-token docs have no transitions and drop). What it
    * catches that the unigram gate provably cannot: a shuffled
    * word-salad doc has the SAME token multiset — identical unigram
    * xent — but unseen transitions, so its bigram xent spikes
    * (QuerySemanticsSpec pins exactly that separation). Scale shape:
    * one bigram-frequency shuffle (width = distinct bigrams), a 1-row
    * (V, totals) broadcast, one bigram→count rejoin (strategy
    * Catalyst's — the bigram table grows with the corpus, never
    * broadcast-forced), one per-doc agg. Bigrams via a higher-order
    * transform, no per-doc window. */
  val llmBigramScore: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
    // cut: the bigram stream feeds the LM agg, the w1 margin and the
    // scoring join — materialize once instead of exploding thrice
    val bg = graft.ops.Lineage.cut(docs
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
        "struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(col("toks")).as("t"))
      .agg(countDistinct("t").as("v"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
           r4(avg(-log2((col("c12") + 1.0) / (col("c1") + col("v"))))).as("xent2"))
      .orderBy("doc_id")
  }

  /** llm_entropy — per-doc token Shannon entropy and type census (the
    * lexical-diversity quality signal: low entropy = boilerplate /
    * repetition, high = diverse vocabulary; used alongside the repetition
    * and logprob gates in C4/Gopher-style corpus filters). Computed as
    * H = log2(n) − (Σ c·log2 c)/n over per-doc token counts — one
    * explode + two aggs keyed by doc_id, no joins, shuffle width = docs.
    * norm_entropy = H / log2(n_types) ∈ [0,1] (defined 0 for single-type
    * docs rather than inherit either engine's x/0).
    * Cross-engine floats: c and n are exact integers; log2 may differ in
    * the last ulp between libm implementations, which the r4 on the
    * per-doc result collapses (same argument as llm_logprob_score). */
  val llmEntropy: Q = (s, d) => {
    val tc = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("c"))
    val h = log2(col("n_tok")) - col("sclc") / col("n_tok")
    tc.groupBy("doc_id", "lang")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
           sum(col("c") * log2(col("c"))).as("sclc"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("n_types"),
        r4(h).as("entropy"),
        when(col("n_types") === 1, lit(0.0))
          .otherwise(r4(h / log2(col("n_types")))).as("norm_entropy"))
      .orderBy("doc_id")
  }

  /** llm_mix_weights — temperature-scaled corpus mixing weights per
    * language (the multilingual sampling step of XLM-R/mBERT-style
    * training: q_l ∝ p_l^α with α = 0.5 upsamples rare languages without
    * letting them dominate; weight = q/p is the per-doc sampling factor
    * a dataloader applies). Pure two-level aggregation: one per-lang agg
    * (shuffle width = langs), then totals computed by an unpartitioned
    * window over the tiny aggregated frame — never a second pass over
    * the corpus. Feeds llm_sample_balanced-style downsampling with
    * principled rates instead of min-lang clamping.
    * Cross-engine floats: shares are IEEE-exact divisions of exact
    * integer sums; sqrt is IEEE-exact; only the Σ√p accumulation order
    * differs between engines (ulps, collapsed by r4). */
  val llmMixWeights: Q = (s, d) => {
    val perLang = Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
    // whole-frame window over the per-lang frame (rows = distinct langs,
    // bounded and tiny — never the corpus): totals without a self-join
    val w = Window.partitionBy()
    perLang
      .withColumn("share", col("n_tok") / sum("n_tok").over(w))
      .withColumn("scaled", sqrt(col("share")))
      .withColumn("target_share", col("scaled") / sum("scaled").over(w))
      .select(col("lang"), col("n_docs"), col("n_tok"),
        r4(col("share")).as("share"),
        r4(col("target_share")).as("target_share"),
        r4(col("target_share") / col("share")).as("weight"))
      .orderBy("lang")
  }

  /** llm_mix_apply — temperature resampling APPLIED (the action
    * llm_mix_weights only computes): every doc is emitted `rep` times,
    * rep = floor(w) + (md5-bucket(doc_id:lang) < frac(w)·10⁴ ? 1 : 0)
    * with w the lang's r4-rounded mix weight — upsampled languages
    * (w > 1) repeat each doc floor(w) times plus an md5-selected
    * fractional extra, downsampled ones keep the md5-selected w
    * fraction. Deterministic and rand()-free like llm_split (the bucket
    * keys on doc_id:lang so the sampling decision never correlates with
    * split membership); the threshold compares INTEGERS (round(w·10⁴)
    * on a 4-decimal w is exact on both engines — comparing raw double
    * fractions would be an engine-dependent boundary). Output one row
    * per emitted copy: the materialized epoch plan a dataloader reads.
    * Scale: broadcast of the ≤langs-row weight table + a codegen'd
    * projection and bounded explode (Σ rep ≤ ceil(w_max)·docs) — no
    * shuffle beyond the final order. */
  val llmMixApply: Q = (s, d) => {
    val wts = llmMixWeights(s, d).select(col("lang"), col("weight"))
    val bucket = expr(
      "conv(substring(md5(concat(cast(doc_id as string), ':', lang)), 1, 6), 16, 10) % 10000")
      .cast("long")
    Tables.documents(s, d)
      .join(broadcast(wts), "lang")
      .withColumn("wbase", floor(col("weight")).cast("long"))
      .withColumn("thr",
        round(col("weight") * 10000).cast("long") - col("wbase") * 10000)
      .withColumn("rep", col("wbase") + when(bucket < col("thr"), 1L).otherwise(0L))
      .where(col("rep") >= 1)
      .withColumn("copy", explode(expr("sequence(1L, rep)")))
      .select(col("doc_id"), col("lang"), col("copy").cast("long").as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** llm_span_dedup — substring-level duplication signal (the Lee et al.
    * "Deduplicating Training Data" shape, bucketed not suffix-array):
    * documents are cut into NON-overlapping 16-token chunks (overlap
    * would double-count tokens in the fraction), chunks are md5-keyed,
    * and a chunk is duplicated iff its hash occurs in ≥ 2 DISTINCT
    * documents. Per doc: chunk/token census, duplicated-token fraction,
    * and a flag at dup_frac ≥ 0.5 — thresholded on exact integers
    * (2·dup_tok ≥ n_tok), so no rounding-boundary divergence.
    * Complements the set-similarity family: token-set Jaccard
    * (llm_jaccard_pairs) is order-free, trigram Jaccard
    * (llm_ngram_jaccard) is order-sensitive but still whole-doc — this
    * catches LOCALIZED verbatim reuse (a copied paragraph inside an
    * otherwise-novel doc) that whole-doc scores dilute below threshold.
    * Scale shape: explode → one hash groupBy (width = distinct chunks,
    * uniform md5 keys) → one rejoin (strategy Catalyst's — the chunk
    * table grows with the corpus, never broadcast-forced) → per-doc agg. */
  val llmSpanDedup: Q = (s, d) => {
    // cut: the chunk stream feeds both the cross-doc census and the
    // rejoin — materialize once instead of re-exploding the corpus
    val chunks = graft.ops.Lineage.cut(
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("i", explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / 16).cast("int"))))
        .select(col("doc_id"), col("lang"),
          size(expr("slice(toks, i * 16 + 1, 16)")).cast("long").as("c_ntok"),
          md5(array_join(expr("slice(toks, i * 16 + 1, 16)"), " ").cast("binary")).as("h")))
    val hd = chunks.groupBy("h").agg(countDistinct("doc_id").as("nd"))
    chunks.join(hd, "h")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_chunks"),
           sum("c_ntok").as("n_tok"),
           sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
           sum(when(col("nd") >= 2, col("c_ntok")).otherwise(0L)).as("dup_tok"))
      .select(col("doc_id"), col("lang"), col("n_chunks"), col("n_tok"),
        col("n_dup_chunks"), col("dup_tok"),
        r4(col("dup_tok") * lit(1.0) / col("n_tok")).as("dup_frac"),
        (col("dup_tok") * lit(2) >= col("n_tok")).as("flagged"))
      .orderBy("doc_id")
  }

  /** llm_gopher_rules — the Gopher/Dolma-family document-shape quality
    * gate: per doc, the three cheap structural rules those filters run
    * before any model-based scoring — token count in [50, 100 000],
    * mean word length in [3, 10], fraction of words containing an
    * alphabetic character ≥ 0.8 (canonical Gopher bounds, kept as
    * declared; the ~25-token fixtures fail the length rule by design —
    * QuerySemanticsSpec pins pass/fail variance on synthesized docs).
    * Rule comparisons run on the r4-ROUNDED features, so the emitted
    * flags never disagree with the emitted feature values across
    * engines. Scale shape: a PURE codegen'd projection — the word-length
    * sum and alpha census are higher-order functions over the split
    * array (aggregate/filter), so the whole gate is one shuffle-free
    * full-corpus pass, the only shape a 100 TB pre-filter can afford
    * (contrast the explode + agg ops, which pay a doc-keyed shuffle). */
  /** The Gopher gate verdict for a text column — the composition
    * surface of llm_gopher_rules (same three rules, same r4-rounded
    * features, same inclusive bounds) as ONE reusable boolean, so the
    * streaming ingest gate (DocStreams.gopherGate) and batch callers
    * apply the identical criterion. GopherSpec-style drift guard:
    * QuerySemanticsSpec pins gopherPass ≡ llm_gopher_rules.pass on the
    * fixture, so the two formulations cannot diverge silently. */
  def gopherPass(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = split(text, " ")
    val nTok = size(toks).cast("long")
    val avgWlen = r4(aggregate(toks, lit(0L), (a, x) => a + length(x)) * lit(1.0) / nTok)
    val fracAlpha = r4(size(filter(toks, x => x.rlike("[a-zA-Z]"))) * lit(1.0) / nTok)
    nTok.between(50L, 100000L) && avgWlen.between(3.0, 10.0) && fracAlpha >= 0.8
  }

  val llmGopherRules: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("avg_wlen",
        r4(expr("aggregate(toks, 0L, (a, x) -> a + length(x))") * lit(1.0) / col("n_tok")))
      .withColumn("frac_alpha",
        r4(size(expr("filter(toks, x -> x rlike '[a-zA-Z]')")) * lit(1.0) / col("n_tok")))
      .withColumn("ok_ntok", col("n_tok").between(50L, 100000L).cast("long"))
      .withColumn("ok_wlen", col("avg_wlen").between(3.0, 10.0).cast("long"))
      .withColumn("ok_alpha", (col("frac_alpha") >= 0.8).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("avg_wlen"),
        col("frac_alpha"), col("ok_ntok"), col("ok_wlen"), col("ok_alpha"),
        (col("ok_ntok") + col("ok_wlen") + col("ok_alpha") === 3).cast("long").as("pass"))
      .orderBy("doc_id")

  /** llm_top_ngrams — corpus-level top-20 word trigrams with doc reach
    * (occurrence count + distinct docs containing each): the boilerplate
    * DISCOVERY report — llm_span_dedup and llm_contamination act on
    * duplication once known; this is how the repeated passages are found
    * and eyeballed in the first place (headers, license blurbs, nav
    * text all surface here). Trigrams via a higher-order transform over
    * the split array — no per-doc window, no posexplode+lag shuffle;
    * the only shuffle is the count agg (width = distinct trigrams,
    * md5-uniform keys) and the top-20 is TakeOrderedAndProject
    * (per-partition top-k, 20-row driver merge — never a global sort).
    * Ties broken by the ngram string, so the cut is engine-exact. */
  val llmTopNgrams: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      // sequence(1, n-2) DESCENDS when n < 3 (Spark generates [1, 0]) —
      // the guard keeps the transform domain well-formed, and <3-token
      // docs have no trigrams anyway
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
        "element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"))
        .as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(20)

  /** llm_code_detect — heuristic code-vs-prose gate (the corpus-routing
    * step every mixed crawl runs: code goes to the code pipeline, prose
    * to the text one). STRUCTURAL signals only — symbol density and
    * identifier-convention hits (camelCase, snake_case), never a keyword
    * list (keywords are language- and corpus-biased; braces and
    * identifiers are not). All counts are codegen'd regexp_count on
    * lookahead-free classes (Java regex ≡ RE2); the ratio compares
    * r4-rounded so the flag never disagrees with the emitted value.
    * Fixture prose is symbol-free (rails only); QuerySemanticsSpec pins
    * detection on synthesized code/prose docs. One shuffle-free
    * projection — the routing-gate shape, like llm_gopher_rules. */
  val llmCodeDetect: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_txt"),
        regexp_count(col("text"), lit("[{}()\\[\\];=<>]")).cast("long").as("n_sym"),
        regexp_count(col("text"), lit("[a-z][A-Z]")).cast("long").as("n_camel"),
        regexp_count(col("text"), lit("[a-z]_[a-z]")).cast("long").as("n_snake"))
      .withColumn("sym_ratio",
        when(col("n_chars_txt") === 0, lit(0.0))
          .otherwise(r4(col("n_sym") * lit(1.0) / col("n_chars_txt"))))
      .withColumn("is_code",
        (col("sym_ratio") >= 0.02 || col("n_camel") >= 2 || col("n_snake") >= 2)
          .cast("long"))
      .orderBy("doc_id")

  /** llm_token_histogram — corpus document-length profile in 16-token
    * bins (top-clamped at bin 19): n_docs / share / cumulative share
    * per bin. This is the sequence-length planning input for
    * llm_pack_sequences (how many 2048-token training bins a corpus
    * fills is read off this curve) and the documents-table twin of
    * dq_histogram's "did the delivered distribution move?" check.
    * Scale: one shuffle-free projection into a ≤20-key groupBy; the
    * total and the cumulative sum run over the aggregated ≤20-row
    * frame, so the windows never touch per-doc data. */
  /** The 16-token length-bin key (top-clamped at 19), factored as ONE
    * column so llm_token_histogram, the DocStreams online census and
    * the CorpusReportMain dataset card can never bin differently
    * (gopherPass discipline; token counts are ≥ 1, where floor ≡ div). */
  def lengthBin(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(floor(size(split(text, " ")) / lit(16)).cast("long"), lit(19L))

  val llmTokenHistogram: Q = (s, d) => {
    val binW = 16L
    // cut: the ≤20-row bin frame feeds both the total and the output
    val bins = graft.ops.Lineage.cut(
      Tables.documents(s, d)
        .select(lengthBin(col("text")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_docs")))
    val tot = bins.agg(sum("n_docs").as("n_total"))
    val wCum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins.crossJoin(broadcast(tot))
      .withColumn("cum_docs", sum("n_docs").over(wCum))
      .select(
        (col("bin") * binW).as("len_lo"),
        col("n_docs"),
        r4(col("n_docs") * lit(1.0) / col("n_total")).as("share"),
        col("cum_docs"),
        r4(col("cum_docs") * lit(1.0) / col("n_total")).as("cum_share"))
      .orderBy("len_lo")
  }

  /** llm_dsir — DSIR-style importance weights (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023 — public method): score every doc by how target-like its
    * hashed unigram bag is. Feature = md5 bucket of the token (engine-
    * portable hash, B=4096 buckets); p̂ = Laplace-smoothed bucket
    * distribution over the TARGET slice (here sources src0–src3, the
    * declared curated subset), q̂ = over the whole corpus; per-doc log
    * importance weight = Σ_tokens [ln p̂(b) − ln q̂(b)] (the paper's
    * resampling weight; avg also reported so length-independent
    * comparisons don't re-divide). Downstream, sampling ∝ exp(w) is
    * llm_mix_apply's md5-uniform trick with these weights as the rate.
    *
    * Scale shape: one explode feeds both distributions and the scoring
    * join; the bucket-ratio table is ≤B rows BY CONSTRUCTION (hashing
    * bounds the feature space — the reason DSIR hashes at all), so it
    * broadcasts at any corpus size and scoring is a map-side join +
    * per-doc agg. No vocabulary-sized state anywhere. */
  val llmDsir: Q = (s, d) => {
    val B = 4096
    val isTgt = col("source").isin("src0", "src1", "src2", "src3")
    // cut: the bucketed token stream feeds the two distribution aggs and
    // the scoring join — materialize once, not three explodes
    val tok = graft.ops.Lineage.cut(
      Tables.documents(s, d)
        .select(col("doc_id"), isTgt.as("tgt"),
          explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"), col("tgt"),
          (conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long") % B).as("b")))
    val dist = tok.groupBy("b").agg(
      count(lit(1)).as("n_r"),
      count(when(col("tgt"), 1)).as("n_t"))
    val tots = dist.agg(sum("n_r").as("tot_r"), sum("n_t").as("tot_t"))
    val ratio = dist.crossJoin(broadcast(tots))
      .select(col("b"),
        (log((col("n_t") + 1.0) / (col("tot_t") + B)) -
         log((col("n_r") + 1.0) / (col("tot_r") + B))).as("lr"))
    tok.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        r4(sum("lr")).as("dsir_logw"),
        r4(avg("lr")).as("dsir_avg"))
      .orderBy("doc_id")
  }

  /** llm_kl_shift — unigram-distribution shift between the train and
    * test sides of the reproducible md5 split (llm_split's bucket
    * rule): per language, the Laplace-smoothed KL divergence
    * KL(train ‖ test) over the union vocabulary — the token-level
    * drift check a pretraining pipeline runs before trusting its
    * held-out loss (a test split whose unigram distribution has
    * drifted from train measures something other than generalization;
    * the textual sibling of dq_drift's numeric PSI). Smoothing
    * p = (c+1)/(N+V) keeps tokens one side never saw defined; the val
    * bucket (80–89) is excluded from both sides, exactly as llm_split
    * carves it.
    *
    * Scale shape: one token-stream scan to the (lang, token) count
    * frame (map-side combined, vocab-sized — never corpus-sized), the
    * per-lang totals and vocab sizes as a bounded broadcast, one
    * vocab-sized scoring pass collapsing to |langs| rows. Per-token
    * terms are pure functions of exact longs, r8'd (KL terms live at
    * the 1e-6 scale — the 1e-4 grain would zero most of the mass) and
    * summed as exact scaled integers — merge-order-free. */
  val llmKlShift: Q = (s, d) => {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long") % 100
    val tok = Tables.documents(s, d)
      .withColumn("b", bucket)
      .where(col("b") < 80 || col("b") >= 90)
      .select(col("lang"), (col("b") < 80).as("is_train"),
        explode(split(col("text"), " ")).as("t"))
    val counts = tok.groupBy("lang", "t").agg(
      count(when(col("is_train"), 1)).as("ca"),
      count(when(!col("is_train"), 1)).as("cb"))
    val tots = counts.groupBy("lang").agg(
      sum("ca").as("na"), sum("cb").as("nb"), count(lit(1)).as("v"))
    counts.join(broadcast(tots), "lang")
      .select(col("lang"), col("na"), col("nb"), col("v"),
        r8(((col("ca") + 1.0) / (col("na") + col("v"))) *
           log(((col("ca") + 1.0) / (col("na") + col("v"))) /
               ((col("cb") + 1.0) / (col("nb") + col("v"))))).as("term"))
      .groupBy("lang")
      .agg(max("na").as("n_train_tok"), max("nb").as("n_test_tok"),
        max("v").as("vocab"), sumR8(col("term")).as("kl_shift"))
      .orderBy("lang")
  }

  /** llm_bpe_merges — the distributed tokenizer-training primitive: one
    * BPE iteration's merge-candidate table (Sennrich et al., "Neural
    * Machine Translation of Rare Words with Subword Units", ACL 2016 —
    * public method). Counts adjacent character-pair frequencies across
    * the corpus and emits the top-50 pairs by weighted count — the
    * pairs a BPE trainer would merge first.
    *
    * Scale shape: the classic two-stage collapse every real distributed
    * BPE/WordPiece trainer uses. Stage 1 reduces the O(corpus-tokens)
    * stream to the word-frequency table (map-side partial combine; the
    * shuffle carries one row per distinct word per partition, and the
    * result is VOCAB-sized — ~10⁵-10⁷ rows at any corpus size, not
    * corpus-sized). Stage 2 enumerates character pairs over the
    * DISTINCT vocab only, weighting each pair by the word's corpus
    * count — O(vocab × word_len) work, independent of corpus row count;
    * a 100 TB corpus and a 1 GB corpus with the same vocabulary pay the
    * same stage-2 price. Top-50 is orderBy+limit =
    * TakeOrderedAndProject: each partition keeps a bounded 50-row heap,
    * no global sort materializes. Iterating BPE re-runs stage 2 on the
    * (re-segmented) vocab table — never the corpus — which is why the
    * word-count collapse is the contract here. Single-char words carry
    * no pair and are filtered before the explode. */
  val llmBpeMerges: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    words
      .select(col("w"), col("n_w"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"), col("n_w"))
      .groupBy("pair").agg(sum("n_w").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)
  }

  val queries: Map[String, Q] = Map(
    "llm_bpe_merges"     -> llmBpeMerges,
    "llm_dsir"           -> llmDsir,
    "llm_kl_shift"       -> llmKlShift,
    "llm_token_histogram" -> llmTokenHistogram,
    "llm_bigram_score"   -> llmBigramScore,
    "llm_code_detect"    -> llmCodeDetect,
    "llm_top_ngrams"     -> llmTopNgrams,
    "llm_gopher_rules"   -> llmGopherRules,
    "llm_span_dedup"     -> llmSpanDedup,
    "llm_entropy"        -> llmEntropy,
    "llm_mix_weights"    -> llmMixWeights,
    "llm_mix_apply"      -> llmMixApply,
    "llm_logprob_score"  -> llmLogprobScore,
    "llm_ccnet_bucket"   -> llmCcnetBucket,
    "llm_pack_sequences" -> llmPackSequences,
    "llm_shard_balance"  -> llmShardBalance,
    "llm_ngram_jaccard"  -> llmNgramJaccard,
    "llm_stopword_scrub" -> llmStopwordScrub,
    "llm_regex_tokens"   -> llmRegexTokens,
    "llm_contamination"  -> llmContamination,
    "llm_repetition"     -> llmRepetition,
    "llm_pii_scrub"      -> llmPiiScrub,
  )

  val oracle: Map[String, String] = Map(
    "llm_bpe_merges" ->
      """WITH words AS (
        | SELECT w, count(*) AS n_w FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        | WHERE len(w) >= 2 GROUP BY w),
        |pairs AS (
        | SELECT substr(w, i, 2) AS pair, n_w FROM (
        |  SELECT w, n_w, unnest(generate_series(1, len(w) - 1)) AS i
        |  FROM words))
        |SELECT pair, CAST(sum(n_w) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // the oracle is the SPEC (one global running-sum window); the
    // engine computes the same integers via the two-pass prefix sum
    "llm_shard_balance" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL THEN 0
        |   ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tok
        | FROM documents),
        |tot AS (SELECT sum(n_tok) AS t FROM toks),
        |o AS (
        | SELECT doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS off
        | FROM toks)
        |SELECT o.doc_id, o.n_tok, o.off,
        | CAST(o.off // greatest(1, (tot.t + 63) // 64) AS BIGINT) AS shard
        |FROM o, tot ORDER BY o.doc_id""".stripMargin,
    "llm_dsir" ->
      s"""WITH tok AS (
        | SELECT doc_id, source IN ('src0','src1','src2','src3') AS tgt,
        |  CAST(('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 6)) AS BIGINT) % 4096 AS b
        | FROM documents),
        |dist AS (
        | SELECT b, count(*) AS n_r,
        |  count(*) FILTER (WHERE tgt) AS n_t
        | FROM tok GROUP BY b),
        |tots AS (SELECT sum(n_r) AS tot_r, sum(n_t) AS tot_t FROM dist),
        |ratio AS (
        | SELECT b, ln((n_t + 1.0) / (tot_t + 4096)) - ln((n_r + 1.0) / (tot_r + 4096)) AS lr
        | FROM dist CROSS JOIN tots)
        |SELECT doc_id, count(*) AS n_tok,
        | ${r4Sql("sum(lr)")} AS dsir_logw,
        | ${r4Sql("avg(lr)")} AS dsir_avg
        |FROM tok JOIN ratio USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_kl_shift" ->
      s"""WITH tok AS (
        | SELECT lang, b < 80 AS is_train, unnest(string_split(text, ' ')) AS t
        | FROM (SELECT lang, text,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS b
        |       FROM documents)
        | WHERE b < 80 OR b >= 90),
        |counts AS (
        | SELECT lang, t,
        |  count(*) FILTER (WHERE is_train) AS ca,
        |  count(*) FILTER (WHERE NOT is_train) AS cb
        | FROM tok GROUP BY lang, t),
        |tots AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb, count(*) AS v
        |         FROM counts GROUP BY lang),
        |terms AS (
        | SELECT c.lang, t.na, t.nb, t.v,
        |  ${r8Sql("((c.ca + 1.0) / (t.na + t.v)) * ln(((c.ca + 1.0) / (t.na + t.v)) / ((c.cb + 1.0) / (t.nb + t.v)))")} AS term
        | FROM counts c JOIN tots t ON c.lang = t.lang)
        |SELECT lang, CAST(max(na) AS BIGINT) AS n_train_tok,
        | CAST(max(nb) AS BIGINT) AS n_test_tok, max(v) AS vocab,
        | ${sumR8Sql("term")} AS kl_shift
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_token_histogram" ->
      s"""WITH b AS (
        | SELECT least(len(string_split(text, ' ')) // 16, 19) AS bin,
        |        count(*) AS n_docs
        | FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS n_total FROM b)
        |SELECT CAST(bin * 16 AS BIGINT) AS len_lo, n_docs,
        | ${r4Sql("n_docs * 1.0 / n_total")} AS share,
        | CAST(sum(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cum_docs,
        | ${r4Sql("sum(n_docs) OVER (ORDER BY bin) * 1.0 / n_total")} AS cum_share
        |FROM b, t ORDER BY len_lo""".stripMargin,
    "llm_bigram_score" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
        |bg AS (
        | SELECT doc_id, lang, l[i] AS w1, l[i + 1] AS w2
        | FROM (SELECT doc_id, lang, l, unnest(generate_series(1, len(l) - 1)) AS i
        |       FROM d WHERE len(l) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(l) AS t FROM d))
        |SELECT bg.doc_id, bg.lang, count(*) AS n_bigrams,
        | ${r4Sql("avg(-log2((c12.c12 + 1.0) / (c1.c1 + v.v)))")} AS xent2
        |FROM bg JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
        | JOIN c1 ON c1.w1 = bg.w1, v
        |GROUP BY bg.doc_id, bg.lang ORDER BY bg.doc_id""".stripMargin,
    "llm_code_detect" ->
      s"""SELECT doc_id, lang, n_chars_txt, n_sym, n_camel, n_snake,
        | CASE WHEN n_chars_txt = 0 THEN 0.0
        |  ELSE ${r4Sql("n_sym * 1.0 / n_chars_txt")} END AS sym_ratio,
        | CAST((CASE WHEN n_chars_txt = 0 THEN 0.0
        |   ELSE ${r4Sql("n_sym * 1.0 / n_chars_txt")} END) >= 0.02
        |  OR n_camel >= 2 OR n_snake >= 2 AS BIGINT) AS is_code
        |FROM (
        | SELECT doc_id, lang,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_extract_all(text, '[{}()\\[\\];=<>]')) AS BIGINT) AS n_sym,
        |  CAST(len(regexp_extract_all(text, '[a-z][A-Z]')) AS BIGINT) AS n_camel,
        |  CAST(len(regexp_extract_all(text, '[a-z]_[a-z]')) AS BIGINT) AS n_snake
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "llm_top_ngrams" ->
      """SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs FROM (
        | SELECT doc_id,
        |  unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |          for i in generate_series(1, len(l) - 2)]) AS ngram
        | FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        | WHERE len(l) >= 3)
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,
    "llm_gopher_rules" ->
      s"""WITH f AS (
        | SELECT doc_id, lang,
        |  CAST(len(l) AS BIGINT) AS n_tok,
        |  ${r4Sql("list_sum(list_transform(l, x -> length(x))) * 1.0 / len(l)")} AS avg_wlen,
        |  ${r4Sql("len(list_filter(l, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(l)")} AS frac_alpha
        | FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents))
        |SELECT doc_id, lang, n_tok, avg_wlen, frac_alpha,
        | CAST(n_tok BETWEEN 50 AND 100000 AS BIGINT) AS ok_ntok,
        | CAST(avg_wlen BETWEEN 3.0 AND 10.0 AS BIGINT) AS ok_wlen,
        | CAST(frac_alpha >= 0.8 AS BIGINT) AS ok_alpha,
        | CAST(CAST(n_tok BETWEEN 50 AND 100000 AS INT)
        |  + CAST(avg_wlen BETWEEN 3.0 AND 10.0 AS INT)
        |  + CAST(frac_alpha >= 0.8 AS INT) = 3 AS BIGINT) AS pass
        |FROM f ORDER BY doc_id""".stripMargin,
    "llm_span_dedup" ->
      s"""WITH c AS (
        | SELECT doc_id, lang,
        |  CAST(len(l[i * 16 + 1 : i * 16 + 16]) AS BIGINT) AS c_ntok,
        |  md5(array_to_string(l[i * 16 + 1 : i * 16 + 16], ' ')) AS h
        | FROM (SELECT doc_id, lang, string_split(text, ' ') AS l,
        |        unnest(generate_series(0, (len(string_split(text, ' ')) - 1) // 16)) AS i
        |       FROM documents)),
        |hd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1)
        |SELECT doc_id, lang, count(*) AS n_chunks,
        | CAST(sum(c_ntok) AS BIGINT) AS n_tok,
        | CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        | CAST(sum(CASE WHEN nd >= 2 THEN c_ntok ELSE 0 END) AS BIGINT) AS dup_tok,
        | ${r4Sql("sum(CASE WHEN nd >= 2 THEN c_ntok ELSE 0 END) * 1.0 / sum(c_ntok)")} AS dup_frac,
        | (sum(CASE WHEN nd >= 2 THEN c_ntok ELSE 0 END) * 2 >= sum(c_ntok)) AS flagged
        |FROM c JOIN hd USING (h)
        |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "llm_entropy" ->
      s"""WITH tc AS (
        | SELECT doc_id, lang, t, count(*) AS c FROM (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents)
        | GROUP BY 1, 2, 3),
        |a AS (
        | SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tok,
        |  count(*) AS n_types, sum(c * log2(c)) AS sclc
        | FROM tc GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tok, n_types,
        | ${r4Sql("log2(n_tok) - sclc / n_tok")} AS entropy,
        | CASE WHEN n_types = 1 THEN 0.0
        |  ELSE ${r4Sql("(log2(n_tok) - sclc / n_tok) / log2(n_types)")} END AS norm_entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "llm_mix_weights" ->
      s"""WITH pl AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        | FROM documents GROUP BY 1),
        |x AS (
        | SELECT lang, n_docs, n_tok,
        |  n_tok * 1.0 / sum(n_tok) OVER () AS share,
        |  sqrt(n_tok * 1.0 / sum(n_tok) OVER ()) AS scaled
        | FROM pl)
        |SELECT lang, n_docs, n_tok,
        | ${r4Sql("share")} AS share,
        | ${r4Sql("scaled / sum(scaled) OVER ()")} AS target_share,
        | ${r4Sql("(scaled / sum(scaled) OVER ()) / share")} AS weight
        |FROM x ORDER BY lang""".stripMargin,
    "llm_mix_apply" ->
      s"""WITH pl AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        | FROM documents GROUP BY 1),
        |x AS (
        | SELECT lang,
        |  n_tok * 1.0 / sum(n_tok) OVER () AS share,
        |  sqrt(n_tok * 1.0 / sum(n_tok) OVER ()) AS scaled
        | FROM pl),
        |w AS (
        | SELECT lang, ${r4Sql("(scaled / sum(scaled) OVER ()) / share")} AS weight
        | FROM x),
        |r AS (
        | SELECT d.doc_id, d.lang,
        |  CAST(floor(weight) AS BIGINT)
        |   + CASE WHEN
        |       CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.lang), 1, 6)) AS BIGINT) % 10000
        |       < CAST(round(weight * 10000) AS BIGINT) - CAST(floor(weight) AS BIGINT) * 10000
        |     THEN 1 ELSE 0 END AS rep
        | FROM documents d JOIN w ON d.lang = w.lang)
        |SELECT doc_id, lang, CAST(unnest(generate_series(1, rep)) AS BIGINT) AS copy
        |FROM r WHERE rep >= 1
        |ORDER BY doc_id, copy""".stripMargin,
    "llm_ccnet_bucket" ->
      s"""WITH tok AS (
        | SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, count(*) AS n_t FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_corpus, count(*) AS v FROM tf),
        |sc AS (
        | SELECT doc_id, lang, ${r4Sql("avg(-log2((n_t + 1.0) / (n_corpus + v)))")} AS xent
        | FROM tok JOIN tf USING (t) CROSS JOIN tot GROUP BY doc_id, lang),
        |cuts AS (
        | SELECT lang,
        |  ${r4Sql("quantile_cont(xent, CAST(1 AS DOUBLE) / 3)")} AS t1,
        |  ${r4Sql("quantile_cont(xent, CAST(2 AS DOUBLE) / 3)")} AS t2
        | FROM sc GROUP BY lang)
        |SELECT sc.lang,
        | CASE WHEN xent <= t1 THEN 'head' WHEN xent <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        | count(*) AS n_docs,
        | ${r4Sql("sum(floor(xent * 10000 + 0.5)) / (count(*) * 10000.0)")} AS avg_xent,
        | min(xent) AS min_xent, max(xent) AS max_xent
        |FROM sc JOIN cuts USING (lang)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_logprob_score" ->
      s"""WITH tok AS (
        | SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, count(*) AS n_t FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_corpus, count(*) AS v FROM tf)
        |SELECT doc_id, lang, count(*) AS n_tok,
        | ${r4Sql("avg(-log2((n_t + 1.0) / (n_corpus + v)))")} AS xent
        |FROM tok JOIN tf USING (t) CROSS JOIN tot
        |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "llm_pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 16 AS shard
        | FROM documents),
        |o AS (
        | SELECT doc_id, lang, shard, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_off
        | FROM t)
        |SELECT doc_id, lang, shard, n_tok, start_off,
        | CAST(start_off // 2048 AS BIGINT) AS bin
        |FROM o ORDER BY doc_id""".stripMargin,
    "llm_pii_scrub" ->
      s"""SELECT doc_id, lang,
        | CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ip,
        | CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phone,
        | regexp_replace(regexp_replace(regexp_replace(
        |   text, '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
        |   '$phoneRe', '<PHONE>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_repetition" ->
      s"""WITH tp AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t,
        |  unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        | FROM documents),
        |runs AS (
        | SELECT doc_id, pos,
        |  CASE WHEN lag(t) OVER w IS NULL OR t <> lag(t) OVER w THEN 1 ELSE 0 END AS chg
        | FROM tp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |seg AS (SELECT doc_id, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS s FROM runs),
        |mr AS (SELECT doc_id, max(c) AS max_run FROM (
        |  SELECT doc_id, s, count(*) AS c FROM seg GROUP BY doc_id, s) GROUP BY doc_id),
        |ts AS (SELECT doc_id, sum(c) AS n_tok, max(c) AS top_c FROM (
        |  SELECT doc_id, t, count(*) AS c FROM tp GROUP BY doc_id, t) GROUP BY doc_id),
        |tri AS (
        | SELECT doc_id, unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |   for i in generate_series(1, len(l) - 2)]) AS tri
        | FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        | WHERE len(l) >= 3),
        |tst AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT tri) AS n_tri_d
        |        FROM tri GROUP BY doc_id)
        |SELECT ts.doc_id, CAST(ts.n_tok AS BIGINT) AS n_tok,
        | CAST(mr.max_run AS BIGINT) AS max_run,
        | ${r4Sql("ts.top_c * 1.0 / ts.n_tok")} AS top_frac,
        | coalesce(${r4Sql("1.0 - tst.n_tri_d * 1.0 / tst.n_tri")}, 0.0) AS dup_tri_frac,
        | CAST(CASE WHEN mr.max_run >= 3 OR ${r4Sql("ts.top_c * 1.0 / ts.n_tok")} >= 0.2
        |  OR coalesce(${r4Sql("1.0 - tst.n_tri_d * 1.0 / tst.n_tri")}, 0.0) >= 0.5
        |  THEN 1 ELSE 0 END AS BIGINT) AS rep_flag
        |FROM ts JOIN mr ON mr.doc_id = ts.doc_id
        | LEFT JOIN tst ON tst.doc_id = ts.doc_id
        |ORDER BY ts.doc_id""".stripMargin,
    "llm_ngram_jaccard" ->
      s"""WITH sh AS MATERIALIZED (
        | SELECT DISTINCT doc_id, lang,
        |  unnest([md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) for i in generate_series(1, len(l) - 2)]) AS shg
        | FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)
        | WHERE len(l) >= 3),
        |block AS MATERIALIZED (
        | SELECT doc_id, lang, shg AS block_shg FROM (
        |  SELECT doc_id, lang, shg,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY shg) AS rn
        |  FROM sh) WHERE rn <= 4),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS nt FROM sh GROUP BY doc_id),
        |doclist AS MATERIALIZED (SELECT doc_id, list(shg) AS shgs FROM sh GROUP BY doc_id),
        |cand AS MATERIALIZED (
        | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM block a JOIN block b ON a.block_shg = b.block_shg AND a.lang = b.lang
        |  AND a.doc_id < b.doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b,
        |  len(list_intersect(da.shgs, db.shgs)) AS ni
        | FROM cand c
        |  JOIN doclist da ON da.doc_id = c.doc_a
        |  JOIN doclist db ON db.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, jac FROM (
        | SELECT i.doc_a, i.doc_b,
        |  ${r4Sql("i.ni * 1.0 / (sa.nt + sb.nt - i.ni)")} AS jac
        | FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b)
        |WHERE jac >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,
    "llm_regex_tokens" ->
      """SELECT doc_id, lang,
        | CAST(len(toks) AS BIGINT) AS n_units,
        | CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-zA-Z]+$'))) AS BIGINT) AS n_alpha,
        | CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_num
        |FROM (SELECT doc_id, lang,
        |       regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "llm_contamination" ->
      s"""WITH sh AS (
        | SELECT DISTINCT doc_id,
        |  unnest([md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) for i in generate_series(1, len(l) - 2)]) AS shg
        | FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        | WHERE len(l) >= 3),
        |sp AS (SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS part
        | FROM (SELECT doc_id,
        |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS b
        |  FROM documents)),
        |train0 AS (SELECT s.doc_id AS train_doc, s.shg FROM sh s
        |           JOIN sp ON sp.doc_id = s.doc_id AND sp.part = 'train'),
        |trdf AS (SELECT shg, count(*) AS df FROM train0 GROUP BY shg),
        |train AS (SELECT t.train_doc, t.shg FROM train0 t
        |          JOIN trdf ON trdf.shg = t.shg AND trdf.df <= $ContaminationMaxDf),
        |test AS (SELECT s.doc_id AS test_doc, s.shg FROM sh s
        |         JOIN sp ON sp.doc_id = s.doc_id AND sp.part = 'test'),
        |tsz AS (SELECT test_doc, count(*) AS n_shingles FROM test GROUP BY test_doc),
        |j AS (SELECT t.test_doc, count(DISTINCT tr.train_doc) AS n_train_docs,
        |       count(DISTINCT t.shg) AS n_shared
        |      FROM test t JOIN train tr ON tr.shg = t.shg GROUP BY t.test_doc)
        |SELECT j.test_doc, j.n_train_docs, j.n_shared,
        | ${r4Sql("j.n_shared * 1.0 / z.n_shingles")} AS contaminated_frac
        |FROM j JOIN tsz z ON z.test_doc = j.test_doc
        |ORDER BY j.test_doc""".stripMargin,
    "llm_stopword_scrub" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |stops AS (
        | SELECT list(token ORDER BY token) AS sl FROM (
        |  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        |  FROM tok GROUP BY token) WHERE rn <= 5)
        |SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tok,
        | CAST(len(clean) AS BIGINT) AS n_kept,
        | CAST(len(toks) - len(clean) AS BIGINT) AS n_removed,
        | array_to_string(clean, ' ') AS clean_text,
        | md5(array_to_string(clean, ' ')) AS clean_md5
        |FROM (
        | SELECT doc_id, toks, list_filter(toks, t -> NOT list_contains(s.sl, t)) AS clean
        | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), stops s)
        |ORDER BY doc_id""".stripMargin,
  )
}
