package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** LLM-training-data pipeline operators — SURVEY.md §2.10.
  *
  * Scale design (the 100 TB story for each family):
  *  - exact dedup: hash-groupBy — one shuffle on the 256-bit digest, no
  *    text comparison; digests are uniform so never skewed.
  *  - cosine top-k: brute force is the CORRECTNESS baseline (bounded
  *    fixture); norms are precomputed per vector before the cross join so
  *    the pair loop is one fused dot product. The scale path is LSH
  *    bucketing (graft.functions.MinHash / SimHash, M6) that turns the
  *    cross join into a bucket-equi-join.
  *  - jaccard near-dup: rarity blocking (each doc keyed by its globally
  *    rarest token) — candidate generation is an equi-join on the block
  *    key, NOT the quadratic shared-token self-join; intersections are
  *    computed relationally only on candidates.
  *  - tf-idf/token stats: explode + two-phase aggs; partial aggregation
  *    keeps shuffle width = distinct (doc|lang, term), not token count.
  */
object Llm {

  /** llm_exact_dedup — exact dedup by sha256(text): keeper = min doc_id. */
  val llmExactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "h")
      .orderBy("keep_id")

  private def withNorm(s: org.apache.spark.sql.SparkSession, d: String) = {
    graft.functions.VectorExprs.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
  }

  private val TopkAdcCandidates = 64

  /** Candidate-generation mode for the dense top-k retrieval family
    * (llm_cosine_topk / llm_knn_label / llm_hardneg_mine) — round 10,
    * VERDICT r9 #1: the 100 TB candidate path is a CONF SWITCH, not a
    * comment. `exact` (default, the declared oracle contract) scores
    * every pair; `ivf` restricts candidates to the shared sign-bucket
    * cells within the multi-probe Hamming radius (Ann.withProbes);
    * `pq` ranks every pair by integer ADC distance (Sketches.Pq — the
    * shared codebook machinery) and keeps the top TopkAdcCandidates
    * (64) per query; `ivfpq` composes the two — ADC ranking restricted to the probed cells —
    * the FAISS IVF-PQ shape and the declared 100 TB default. EVERY mode
    * rescores the surviving candidates with the same exact rounded
    * cosine, so ANN modes differ from exact only by candidate-set
    * recall (DenseTopkRecallSpec pins the floors) — never by scoring. */
  private def candMode(s: org.apache.spark.sql.SparkSession): String = {
    val m = s.conf.get("spark.graft.topk.candidates", "exact")
    require(Set("exact", "ivf", "pq", "ivfpq")(m),
      s"spark.graft.topk.candidates must be exact|ivf|pq|ivfpq, got $m")
    m
  }

  /** Candidate pairs with exact rescore: (qid, qlabel, vid, nb_label,
    * cos). The exact mode IS the former cross-join (row-identical, so
    * the oracle SQL is untouched); ANN modes swap only the generator.
    * Scale: exact = N² pairs (the bounded-fixture baseline); ivf =
    * Σ cell-pair volume (~nprobe/2^bits of N²); pq = the ADC scan
    * (N²·M bounded-int adds, no vector payload in the shuffle) then
    * N·C pairs into the exact-cosine stage — the candidate-volume drop
    * VectorScale's A/B leg measures. */
  private[graft] def densePairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    // register up front (idempotent): the pq/ivfpq branch runs EAGER
    // work (Lineage.cut on the subvector frame, codebook training) whose
    // plans use graft_dot/graft_adc before any downstream helper would
    // have registered them — on a fresh session that branch would
    // otherwise throw 'Undefined function' (review r10)
    graft.functions.VectorExprs.register(s)
    def rescore(p: org.apache.spark.sql.DataFrame) =
      p.withColumn("cos", r4(expr("graft_dot(ea, eb)") / (col("na") * col("nb"))))
    candMode(s) match {
      case "exact" =>
        val v = withNorm(s, d)
        val a = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
                         col("e").as("ea"), col("nrm").as("na"))
        val b = v.select(col("vec_id").as("vid"), col("label").as("nb_label"),
                         col("e").as("eb"), col("nrm").as("nb"))
        // broadcast pinned to the query side + probe side spread
        // (spreadProbe): the N² dot-product scan below otherwise inherits
        // the probe SCAN's parallelism — one task on a single-row-group
        // source — and runs serially however many cores the session has.
        // Exact mode is the bounded-corpus oracle baseline by declaration
        // (the 100 TB candidate path is the ivf/pq conf), so an O(N)
        // exchange under an O(N²) stage is always the right trade here.
        rescore(broadcast(a).crossJoin(spreadProbe(b, col("vid")))
          .where(col("qid") =!= col("vid")))
      case "ivf" =>
        val v = Ann.bucketed(s, d)
        val a = Ann.withProbes(s, v).select(col("vec_id").as("qid"),
          col("label").as("qlabel"), col("e").as("ea"), col("nrm").as("na"),
          col("probe"))
        val b = v.select(col("vec_id").as("vid"), col("label").as("nb_label"),
          col("e").as("eb"), col("nrm").as("nb"), col("bkt").as("probe"))
        // broadcast pinned to the query·probe side + corpus side spread
        // (round 14, the exact-mode discipline applied to the conf'd
        // candidate path): pipelined off a broadcast, the Σ cell-pair
        // rescore stage otherwise inherits the corpus scan's parallelism
        // — one task on a single-row-group source. The query batch is
        // the small side by design at any scale.
        rescore(broadcast(a).join(spreadProbe(b, col("vid")), Seq("probe"))
          .where(col("qid") =!= col("vid")))
          .drop("probe")
      case "pq" | "ivfpq" =>
        val (m, k, iters) = Sketches.Pq.geometry(s)
        val sv = graft.ops.Lineage.cut(
          Sketches.Pq.subvectors(Tables.embeddings(s, d), m))
        val cb = Sketches.Pq.train(sv, k, iters, m)
        // packed ADC (the PqIndex.search scan shape, shared via Pq):
        // codes pack to one M-int array per vector, the per-query
        // tables nest to one tab[sub][code] per query, and each
        // candidate pair pays M integer lookups INSIDE its row —
        // no (sub, code) join, no (qid, vid) aggregation. The join
        // form this replaced shuffled candidates·M rows and
        // hash-aggregated a candidates-sized group set: 83 s for the
        // ×10 ivfpq leg where this form runs the same integers in
        // seconds. codesPk is (M+2) ints/vector → broadcastable far
        // past bench scale; qtabPk is M·K longs/query → it SHUFFLES
        // on qid next to the candidate stream.
        val codesPk = broadcast(
          Sketches.Pq.packCodes(Sketches.Pq.assign(sv, cb).select("vec_id", "sub", "code"))
            .withColumnRenamed("vec_id", "vid"))
        val qtabPk = Sketches.Pq.packQueryTables(Sketches.Pq.queryTables(sv, cb))
        val adc = Sketches.Pq.adcExpr
        val sums =
          if (candMode(s) == "pq")
            // flat ADC: every (query, vector) pair is scanned —
            // recall-optimal but quadratic (N² rows through the scan
            // with a small constant, pipelined off the broadcast). The
            // query-table side is spread first (round 14): the N²·M ADC
            // stage otherwise inherits the packed table's post-agg
            // partitioning — AQE coalesces the tiny-bytes frame to one
            // partition, blind to the quadratic fan-out (the exact-mode
            // spreadProbe rationale); the composed mode below is the
            // 100 TB shape. The spread key is a DERIVED hash of qid: a
            // plain repartition(n, qid) after the groupBy(qid) pack is
            // removed as redundant (same partitioning expression), and
            // the surviving ENSURE exchange is exactly what AQE's
            // byte-based coalescing folds back to one task
            spreadProbe(qtabPk, pmod(xxhash64(col("qid")), lit(1 << 20)))
              .crossJoin(codesPk)
              .where(col("qid") =!= col("vid"))
              .select(col("qid"), col("vid"), adc)
          else {
            // ivfpq — the FAISS IVF-PQ composition: the shared coarse
            // quantizer prunes candidates to the probed cells FIRST
            // (~nprobe/2^bits of N² pairs under the bits-with-corpus
            // posture), each surviving pair pays the in-row ADC sum,
            // and only N·C pairs ever see an embedding again (the
            // exact rescore). No stage shuffles vector payloads: the
            // probe join carries two longs + a cell id, the ADC stage
            // one packed code row (broadcast) + the qid-keyed table.
            val v = Ann.bucketed(s, d)
            val a = Ann.withProbes(s, v)
              .select(col("vec_id").as("qid"), col("probe"))
            val b = v.select(col("vec_id").as("vid"), col("bkt").as("probe"))
            // corpus-side spread under the broadcast probe join (round
            // 14): the pruned candidate stream and its in-row ADC sums
            // otherwise run at the single-split scan's parallelism
            broadcast(a).join(spreadProbe(b, col("vid")), Seq("probe"))
              .where(col("qid") =!= col("vid"))
              .select("qid", "vid")
              .join(codesPk, Seq("vid"))
              .join(qtabPk, Seq("qid"))
              .select(col("qid"), col("vid"), adc)
          }
        val cand = Sketches.Pq.topkOfSums(sums, TopkAdcCandidates).select("qid", "vid")
        val v = withNorm(s, d)
        // candidate-frame spread before the exact rescore (round 14,
        // VERDICT r13: "the actual 100 TB path would still run its
        // rescore serially off a single-split candidate frame"): the
        // N·C graft_dot rescore is pipelined off the two broadcastable
        // embedding joins, so its parallelism is the topk aggregate's
        // post-AQE output — one coalesced partition — without the
        // spread. Derived-hash key for the same reason as the flat-ADC
        // spread above: repartition on bare qid collapses into the topk
        // groupBy's own partitioning and loses its coalescing immunity
        rescore(spreadProbe(cand, pmod(xxhash64(col("qid")), lit(1 << 20)))
          .join(v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("e").as("ea"), col("nrm").as("na")), Seq("qid"))
          .join(v.select(col("vec_id").as("vid"), col("label").as("nb_label"),
            col("e").as("eb"), col("nrm").as("nb")), Seq("vid")))
    }
  }


  private def top5(s: org.apache.spark.sql.SparkSession, d: String) = {
    // top-5 as a bounded AGGREGATE (functions.TopKAgg), not a ranking
    // window: the window form shuffles the full cross-join output (4M
    // rows at sf0.1) to sort it; the Aggregator's map-side partial
    // combine reduces each partition to one ≤5-element buffer per qid
    // first, so the exchange moves O(qids · partitions · 5) buffers —
    // the answer, not the candidate set. Same total order (rounded cos
    // desc, vid asc; vid unique per qid), so the selection is
    // merge-order-independent and row-identical to the window form.
    // The embedding arrays are still projected away before the agg.
    val topk = udaf(new graft.functions.TopKAgg(5),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long, Long)]())
    densePairs(s, d).select("qid", "vid", "nb_label", "cos")
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid"), col("nb_label").cast("long")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("vid"), col("col._3").as("nb_label"),
        col("col._1").as("cos"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** llm_cosine_topk — top-5 nearest neighbours per vector by rounded
    * cosine (ties broken by vid on both engines). */
  val llmCosineTopk: Q = (s, d) =>
    top5(s, d).select("qid", "vid", "cos", "rn").orderBy("qid", "rn")

  /** llm_knn_label — 5-NN majority label (ties → smaller label).
    * Majority pick is a min_by aggregate under the strict total order
    * (votes desc, nb_label asc) — encoded as min of the orderable struct
    * (-votes, nb_label); nb_label is unique per (qid, label) group, so
    * the winner is a pure function of the vote multiset. Same top-1
    * result as the former ranking window, without shuffling the vote
    * frame into per-qid sorts (VERDICT r6 #4 family). */
  val llmKnnLabel: Q = (s, d) => {
    val votes = top5(s, d).groupBy("qid", "nb_label").agg(count(lit(1)).as("votes"))
    votes.groupBy("qid")
      .agg(min_by(struct(col("nb_label"), col("votes")),
        struct((-col("votes")).as("nv"), col("nb_label"))).as("t"))
      .select(col("qid"), col("t.nb_label").cast("long").as("pred_label"),
        col("t.votes").as("votes"))
      .orderBy("qid")
  }

  private def tokens(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))

  /** The distinct (doc_id, lang, token) stream both near-dup families
    * block on — exposed package-private so PlanSpec can feed the
    * extracted blocking stages below. */
  private[graft] def tokensDistinct(s: org.apache.spark.sql.SparkSession, d: String) =
    tokens(s, d).distinct()

  private[queries] def minkUdaf =
    udaf(new graft.functions.MinKAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, String, Int)]())

  /** Rarity-blocking stage (pre-Lineage.cut), extracted so PlanSpec can
    * pin its physical shape — the cut's localCheckpoint hides this
    * subtree from the full query's executedPlan. The 4-rarest selection
    * is a bounded MinKAgg aggregate, not a row_number window (VERDICT r6
    * #3): identical selection under the strict (df, token) per-doc total
    * order, but map-side partial combine moves one ≤4-element buffer per
    * (doc, partition) instead of shuffling and sorting the whole distinct
    * token stream. */
  private[graft] def rarityBlocked(tok: org.apache.spark.sql.DataFrame,
      dfTok: org.apache.spark.sql.DataFrame, ntDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tok.join(dfTok, "token")
      .groupBy("doc_id", "lang")
      .agg(minkUdaf(col("df"), col("token"), lit(4)).as("btoks"))
      // Block keys INTERNED to xxhash64 (round 8): the candidate
      // self-join is the pipeline's dominant stage (~45% — an ~8M-row
      // SMJ whose key was a token STRING and whose emit-once arrays were
      // string arrays); hashing makes the join key and the ≤4-element
      // emit-once merge scan pure long compares. The OUTPUT pair set is
      // unchanged: token selection (and its df tie-break) still happens
      // on real tokens, a 64-bit collision can only MERGE two blocks
      // (candidate superset), and exact scoring + the θ filter decide
      // membership. (The SCORING side's own collision exposure — two
      // different tokens of one pair's union colliding inside the
      // interned |∩| count — is the separate, also-bounded case argued
      // at the `sets` interning site below: P ≈ Σ|sa|·|sb|/2^64 ≈ 6e-11
      // corpus-wide at sf0.1.) So the string-blocking oracle SQL stays valid
      // (JaccardRecallSpec re-pins recall 1.0). btok_set: hashed keys
      // sorted + deduped (array_distinct keeps sort order; the dedup
      // also keeps the emit-once duplicate-free contract airtight under
      // a within-doc hash collision), block_tok exploded from the SAME
      // array — the by-construction contract, unchanged.
      .select(col("doc_id"), col("lang"),
        array_distinct(sort_array(
          expr("transform(btoks, t -> xxhash64(t))"))).as("btok_set"))
      .select(col("doc_id"), col("lang"), col("btok_set"),
        explode(col("btok_set")).as("block_tok"))
      .join(ntDf, "doc_id")

  /** Containment's probe-prefix stage (pre-join), extracted for the same
    * PlanSpec pin: k = (nt div 10) + 1 rarest tokens per doc via MinKAgg
    * (k constant per group — nt is doc-functional), not a ranking window
    * over the df-capped token stream. */
  private[graft] def probePrefix(tokDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tokDf
      .groupBy(col("doc_id"), col("lang"), col("nt"))
      .agg(minkUdaf(col("df"), col("token"),
        expr("cast((nt div 10) + 1 as int)")).as("ptoks"))
      .select(col("doc_id").as("pid"), col("lang"),
        explode(col("ptoks")).as("token"), col("nt").as("nt_p"))

  /** llm_token_stats — per-language corpus stats + most frequent term. */
  val llmTokenStats: Q = (s, d) => {
    val tok = tokens(s, d)
    val byLang = tok.groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("doc_id").as("n_docs"))
      .withColumn("avg_tok", r4(col("n_tokens") * lit(1.0) / col("n_docs")))
    // top term per lang via min_by under (cnt desc, token asc) — the
    // former ranking window shuffled the full (lang, token) count frame
    // into per-lang sorts to keep one row; the aggregate's map-side
    // combine moves one struct per (lang, partition). (token unique per
    // (lang, token) group ⇒ strict total order ⇒ same row.)
    val top = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .groupBy("lang")
      .agg(min_by(struct(col("token"), col("cnt")),
        struct((-col("cnt")).as("nc"), col("token"))).as("t"))
      .select(col("lang"), col("t.token").as("top_term"), col("t.cnt").as("top_term_n"))
    byLang.join(top, "lang")
      .select("lang", "n_docs", "n_tokens", "avg_tok", "top_term", "top_term_n")
      .orderBy("lang")
  }

  /** llm_tfidf — tf·idf per (doc, term); top term per doc. */
  val llmTfidf: Q = (s, d) => {
    val tok = tokens(s, d).select("doc_id", "token")
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf_n"))
    val nd = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(nd, "doc_id").join(dft, "token").crossJoin(broadcast(nDocs))
      .withColumn("score", r4((col("tf_n") * lit(1.0) / col("n_tok"))
        * log(col("n_docs") * lit(1.0) / col("df"))))
    // top term per doc via min_by under (score desc, token asc): score is
    // r4-rounded BEFORE selection (same grain the oracle windows on), and
    // token is unique per (doc, token) row, so the order is strict and
    // the aggregate picks exactly the window's row — without shuffling
    // the full (doc, term) score frame into per-doc sorts
    scored
      .groupBy("doc_id")
      .agg(min_by(struct(col("token"), col("score")),
        struct((-col("score")).as("ns"), col("token"))).as("t"))
      .select(col("doc_id"), col("t.token").as("top_term"), col("t.score").as("score"))
      .orderBy("doc_id")
  }

  /** llm_bm25 — Okapi BM25 lexical retrieval scoring (Robertson et al.,
    * TREC-3): top-20 documents for a fixed query term set, the
    * keyword-search sibling of llm_cosine_topk's dense retrieval (a
    * training-data pipeline runs BOTH: lexical for contamination/recall
    * audits, dense for semantic dedup). k1 = 1.2, b = 0.75 (the
    * textbook operating point); idf is the +1-smoothed Robertson
    * variant ln((N−df+0.5)/(df+0.5)+1) — strictly positive, so common
    * terms can't flip scores negative.
    *
    * Scale shape: the query-term filter collapses the token stream to
    * |Q| terms BEFORE any join, so tf is a bounded frame (docs×|Q| at
    * worst); df over it is |Q| rows and the corpus stats are ONE row —
    * both broadcast. The only corpus-sized work is two token-stream
    * scans (doc lengths + term frequencies), each one map-side-combined
    * agg; the final top-20 is TakeOrderedAndProject, never a sort of
    * the full score frame. At 100 TB the doc-length table is the one
    * per-doc artifact — the shape every search engine stores it in.
    *
    * Determinism: tf/df/dl/n_docs are exact longs; avgdl = sum·1.0/n is
    * one exact-long conversion + one IEEE division; each term's
    * contribution is r4'd and the per-doc score sums the exact scaled
    * integers (sumR4), so the ≤|Q|-element sum is merge-order-free. */
  val llmBm25: Q = (s, d) => {
    val qTerms = Seq("join", "hash", "scan", "filter")
    val tok = tokens(s, d).select("doc_id", "token")
    val nd = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = nd.agg(count(lit(1)).as("n_docs"),
      (sum("dl") * lit(1.0) / count(lit(1))).as("avgdl"))
    val tf = tok.where(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "token").join(nd, "doc_id").crossJoin(broadcast(corpus))
      .withColumn("contrib", r4(
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
      .groupBy("doc_id")
      .agg(sumR4(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** llm_hardneg_mine — hard-negative mining for contrastive embedding
    * training: per query vector, the top-3 most-similar vectors with a
    * DIFFERENT label — the negatives that sit closest to the decision
    * boundary, exactly the rows a triplet/InfoNCE trainer wants in its
    * batch (random negatives are too easy to carry gradient). The
    * retrieval twin of llm_knn_label with the label predicate flipped.
    *
    * Scale shape: same machinery as llm_cosine_topk — the conf-switched
    * densePairs candidate stream (exact cross join by default — the
    * oracle contract; spark.graft.topk.candidates=ivf|pq swaps in the
    * ANN generators for the 100 TB path) with this label-≠ filter and
    * TopKAgg selection, label filter applied BEFORE the aggregate so
    * mismatched pairs never enter a buffer, top-3 via the
    * merge-order-independent bounded TopKAgg (the exchange moves
    * ≤3-element buffers, not the candidate set). */
  val llmHardnegMine: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAgg(3),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long, Long)]())
    // label-≠ filter applied to the conf-switched candidate stream
    // BEFORE the aggregate, so mismatched pairs never enter a buffer
    // (in ANN modes the candidate budget is label-agnostic — the
    // negatives are whatever survives it; DenseTopkRecallSpec measures)
    densePairs(s, d)
      .where(col("qlabel") =!= col("nb_label"))
      .groupBy("qid", "qlabel")
      .agg(topk(col("cos"), col("vid"), col("nb_label").cast("long")).as("top"))
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
        posexplode(col("top")))
      .select(col("qid"), col("qlabel"), col("col._2").as("vid"),
        col("col._3").as("neg_label"), col("col._1").as("cos"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** llm_pref_pairs — preference-pair construction for contrastive /
    * DPO-style training delivery: per query vector, the single most
    * similar SAME-label neighbour (chosen) paired with the single most
    * similar DIFFERENT-label neighbour (rejected) and the cosine margin
    * between them — the (prompt, chosen, rejected) row a preference
    * trainer consumes, with the hardest available negative as the
    * rejected side (llm_hardneg_mine's selection at k = 1). Queries
    * whose label has no second member drop out (no positive exists to
    * prefer) — an inner join, identically in both engines.
    *
    * Scale shape: ONE pass over the conf-switched densePairs candidate
    * stream (exact cross join by default — the oracle contract;
    * spark.graft.topk.candidates=ivf|pq|ivfpq swaps in the ANN
    * generators for the 100 TB path): the bounded TopKAgg is keyed on
    * (qid, qlabel, is_pos) so the positive and negative winners fall
    * out of the SAME shuffle — never two candidate passes. The ≤2·N-row
    * aggregate is cut once and the chosen/rejected sides self-join on
    * qid, so the N²-shaped candidate stage runs exactly once however
    * the output is consumed.
    *
    * Determinism: cos is r4'd by densePairs before selection; TopKAgg's
    * (cos desc, vid asc) total order is strict (vid unique per qid) and
    * merge-order-free; the margin is one IEEE subtraction of two
    * already-rounded doubles, r4'd — the oracle mirrors each step. */
  val llmPrefPairs: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAgg(1),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long, Long)]())
    val t = graft.ops.Lineage.cut(
      densePairs(s, d)
        .withColumn("is_pos", col("qlabel") === col("nb_label"))
        .groupBy("qid", "qlabel", "is_pos")
        .agg(topk(col("cos"), col("vid"), col("nb_label").cast("long")).as("top"))
        .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
          col("is_pos"),
          col("top").getItem(0).getField("_2").as("vid"),
          col("top").getItem(0).getField("_1").as("cos")))
    val pos = t.where(col("is_pos"))
      .select(col("qid"), col("qlabel"),
        col("vid").as("chosen_vid"), col("cos").as("chosen_cos"))
    val neg = t.where(!col("is_pos"))
      .select(col("qid"),
        col("vid").as("rejected_vid"), col("cos").as("rejected_cos"))
    pos.join(neg, Seq("qid"))
      .select(col("qid"), col("qlabel"), col("chosen_vid"), col("chosen_cos"),
        col("rejected_vid"), col("rejected_cos"),
        r4(col("chosen_cos") - col("rejected_cos")).as("margin"))
      .orderBy("qid")
  }

  /** llm_kmeans — whole-vector Lloyd k-means over the embedding corpus
    * (k = 8, 2 rounds by default; both are confs, see below), reported
    * as the per-cluster census
    * (size, inertia, centroid norm) — the topic/domain clustering step
    * a curation pipeline runs over document embeddings (cluster-then-
    * sample, the SemDeDup/"cluster before you curate" shape) where
    * llm_ann_ivf's sign-LSH cells are hash-fixed and llm_ann_pq's
    * Lloyd runs per SUBSPACE; this is the one whole-vector learned
    * partitioning. Seeds = the k lowest-id vectors (deterministic,
    * never rand()); empty clusters keep their previous centroid.
    *
    * Scale shape: the Pq.train economics at M = 1 — the ≤k-row
    * codebook lives as a local relation between rounds (bounded-collect
    * class), so each Lloyd round is ONE job: scan the cut vector
    * frame, broadcast the codebook, argmin per vector via min_by, two
    * bounded aggregates, collect ≤k rows. Nothing per-round is ever
    * corpus-sized (the convergence variant is one `while` away).
    *
    * Determinism: distances are r4'd BEFORE the (d2, code) argmin —
    * both engines rank identical rounded values (the llm_cosine_topk
    * discipline); centroid means accumulate per-dimension as exact
    * scaled integers (sum of floor(x·1e9 + 0.5) — merge-order-free)
    * and divide back identically; the census inertia sums the already-
    * r4'd d2 as exact scaled integers (sumR4). */
  val llmKmeans: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val spark = s
    import spark.implicits._
    // k / round-count are production dials (spark.graft.kmeans.{k,rounds});
    // the defaults 8/2 are the oracle contract — the DuckDB twin replays
    // exactly that Lloyd schedule, so Verify must run with the confs unset
    // (same pattern as llm_pack_sequences' shards conf). KmeansSpec pins
    // conf-unset ≡ literal-default, and VectorScale's k=64 row shows the
    // broadcast-codebook shape holds at real cluster counts.
    val k = s.conf.get("spark.graft.kmeans.k", "8").toInt
    val rounds = s.conf.get("spark.graft.kmeans.rounds", "2").toInt
    // History: round 13 spread this frame (spreadProbe) because assign
    // fanned it out ×k against a broadcast codebook; round 14 moved the
    // ×k scan INSIDE the row (graft_pq_argmin_r4 below — the Pq.assign
    // rewrite at M = 1), so the frame's stages are N rows again and the
    // exchange bought only per-task overhead.
    val v = graft.ops.Lineage.cut(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("ne", expr("graft_dot(e, e)")))
    val seeds: Seq[(Int, Seq[Double])] =
      v.select("vec_id", "e").orderBy("vec_id").limit(k)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }
    // empty corpus → empty, well-typed census (EmptyInputSpec contract)
    if (seeds.isEmpty) {
      Seq.empty[(Long, Long, Double, Double)]
        .toDF("cluster", "n_vecs", "inertia", "centroid_norm")
    } else {
      // In-row argmin (round 14 — the Pq.assign rewrite at M = 1,
      // functions.PqArgmin round4 variant): the former crossJoin fanned
      // every vector out ×k and re-aggregated the winner back down via
      // min_by, paying an exchange per round. graft_pq_argmin_r4 ranks
      // the SAME r4'd distances under the same (d², code) total order
      // (java.lang.Double.compare ≡ Spark's struct double ordering) in
      // one loop per row — no join, no aggregation, no exchange; the
      // winner's d2/nc re-derive from the code via the same literal
      // codebook and the identical IEEE expression.
      def assign(cb: Seq[(Int, Seq[Double])]) = {
        val ordered = cb.sortBy(_._1)
        require(ordered.map(_._1) == ordered.indices,
          s"kmeans codebook: codes must be dense 0..${ordered.size - 1}")
        val cs: Seq[Seq[Double]] = ordered.map(_._2)
        val ncs: Seq[Double] = cs.map { c =>
          var acc = 0.0; var i = 0
          while (i < c.length) { acc += c(i) * c(i); i += 1 }
          acc
        }
        v.withColumn("code",
            call_function("graft_pq_argmin_r4",
              typedlit(Seq(cs)), lit(0), col("e"), col("ne")))
          .withColumn("c", element_at(typedlit(cs), col("code") + 1))
          .withColumn("nc", element_at(typedlit(ncs), col("code") + 1))
          .withColumn("d2", r4(col("ne") - expr("graft_dot(e, c)") * 2 + col("nc")))
          .select(col("vec_id"), col("code"), col("e"), col("d2"), col("nc"))
      }
      var cb = seeds
      for (_ <- 1 to rounds) {
        // ONE aggregation exchange per round (round 14, the Pq.train
        // twin): the (code, p) partial-sum frame is ≤ k·dim rows BY
        // CONSTRUCTION, so the former second groupBy(code) +
        // collect_list exchange is replaced by driver-side assembly of
        // the same rows — identical means (same sx9/1e9/n division,
        // now Long/Double → Double in Scala), one fewer shuffle + AQE
        // barrier per round.
        val rows = assign(cb)
          .select(col("code"), posexplode(col("e")).as(Seq("p", "x")))
          .groupBy("code", "p")
          .agg(sum(floor(col("x") * 1e9 + lit(0.5)).cast("long")).as("sx9"),
               count(lit(1)).as("n"))
          .collect()
        val means: Map[Int, Seq[Double]] = rows
          .map(r => (r.getInt(0), (r.getInt(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1)
          .map { case (code, g) =>
            code -> g.map(_._2).sortBy(_._1).map(t => t._2 / 1e9 / t._3).toSeq
          }
        cb = cb.map { case (code, c) => (code, means.getOrElse(code, c)) }
      }
      assign(cb)
        .groupBy(col("code").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sumR4(col("d2")).as("inertia"),
          r4(sqrt(max(col("nc")))).as("centroid_norm"))
        .orderBy("cluster")
    }
  }

  /** llm_rank_fusion — reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR'09) of two retrieval rankings for the same fixed query: the
    * BM25 lexical top-20 (llm_bm25's scorer) fused with a tf-idf-
    * weighted ranking — the hybrid-search standard (score =
    * Σ 1/(k + rank), k = 60; a doc absent from one list simply
    * contributes nothing, which is RRF's whole point: no score
    * calibration across rankers). At 100 TB the two input rankings are
    * exactly this bounded shape — every ranker ends in a top-k — so
    * the fusion is always a join of two k-row frames.
    *
    * Determinism: ranks are ints from strict (score DESC, doc_id)
    * orders; 1/(60+r) is one IEEE division per ranker, the 2-term sum
    * is a FIXED-ORDER addition mirrored verbatim in the oracle, and
    * the result is r8'd (RRF deltas live at the 1e-5 scale — the 1e-4
    * grain would merge adjacent ranks). */
  val llmRankFusion: Q = (s, d) => {
    val qTerms = Seq("join", "hash", "scan", "filter")
    val tok = tokens(s, d).select("doc_id", "token")
    val nd = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = nd.agg(count(lit(1)).as("n_docs"),
      (sum("dl") * lit(1.0) / count(lit(1))).as("avgdl"))
    val tf = graft.ops.Lineage.cut(tok.where(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfq), "token").join(nd, "doc_id")
      .crossJoin(broadcast(corpus))
    val wBm = Window.orderBy(col("bm25").desc, col("doc_id"))
    val bm = scored
      .withColumn("contrib", r4(
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
      .groupBy("doc_id").agg(sumR4(col("contrib")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rank_bm", row_number().over(wBm).cast("long"))
    val wTi = Window.orderBy(col("tfidf").desc, col("doc_id"))
    val ti = scored
      .withColumn("w", r4(col("tf") * log(col("n_docs") * lit(1.0) / col("df"))))
      .groupBy("doc_id").agg(sumR4(col("w")).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id")).limit(20)
      .withColumn("rank_ti", row_number().over(wTi).cast("long"))
    bm.select("doc_id", "rank_bm")
      .join(ti.select("doc_id", "rank_ti"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_bm"), col("rank_ti"),
        r8(coalesce(lit(1.0) / (lit(60) + col("rank_bm")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60) + col("rank_ti")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** llm_jaccard_pairs — near-dup candidates via rarity blocking, exact
    * token-set Jaccard ≥ 0.8 within the same language. */
  val llmJaccardPairs: Q = (s, d) =>
    jaccardPairsUnsorted(s, d).orderBy("doc_a", "doc_b")

  /** llm_pair_table — the materialized near-dup PAIR ARTIFACT: the same
    * blocked/scored pipeline floored at jac ≥ 0.6 instead of 0.8, so one
    * persisted table serves every downstream consumer that thresholds
    * above the floor (jaccard_pairs at 0.8, dedup_cluster at any θ ≥
    * 0.8, incremental dedup, audits at 0.9 — 0.2 of margin below the
    * lowest declared consumer) without recomputing candidates. Write it
    * with pipelines.PairTable and point `spark.graft.pairs.artifact` at
    * the parquet path: jaccardPairsUnsorted then READS the artifact and
    * re-applies its threshold/predicate — the daily-refresh shape where
    * the pair table is computed once per corpus version. */
  val llmPairTable: Q = (s, d) =>
    jaccardPairsUnsorted(s, d, None, PairTableFloorNum, PairTableFloorDen)
      .orderBy("doc_a", "doc_b")

  /** Artifact floor 0.6 = 3/5 (kept rational so the size prefilter stays
    * integer-exact). */
  val PairTableFloorNum = 3
  val PairTableFloorDen = 5

  /** Candidate-pair restriction pushed into the blocking stage:
    * `attr` derives a per-DOCUMENT attribute from the doc id (evaluated
    * once per blocked row, then carried through the self-join as a
    * plain column — never recomputed per candidate pair), and `pred`
    * accepts a pair by the two carried attribute values. Shaped this
    * way on purpose: a free-form (doc_a, doc_b) predicate would sink
    * into the self-join condition and be re-evaluated (md5 and all)
    * inside the SMJ inner loop for every same-key row combination —
    * measured 3× slower than the whole unfiltered pipeline at sf0.1. */
  type CandPred = (org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                   (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)

  def jaccardPairsUnsorted(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    jaccardPairsUnsorted(s, d, None, 4, 5)

  def jaccardPairsUnsorted(s: org.apache.spark.sql.SparkSession, d: String,
      candPred: Option[CandPred], thetaNum: Int, thetaDen: Int)
      : org.apache.spark.sql.DataFrame =
    jaccardPairsUnsorted(s, d, candPred, thetaNum, thetaDen, ignoreArtifact = false)

  /** Pair source without the final total order — consumers that only
    * need the pair SET (llm_dedup_cluster, CorpusPrep) skip the global
    * range-shuffle+sort of the full pair list (759k rows at sf0.1).
    *
    * @param candPred optional (attr, pred) restriction pushed into the
    *        CANDIDATE stage — pairs failing it are dropped before the
    *        dedup-distinct and the set-intersection joins, so e.g.
    *        incremental dedup's new↔old restriction never pays for
    *        old-old pairs. Output ≡ unfiltered output filtered by the
    *        predicate (the attributes derive from (doc_a, doc_b), which
    *        never change downstream); PropertySpec pins the equality.
    * @param thetaNum/@param thetaDen the Jaccard floor θ = num/den as an
    *        exact rational: the floor drives BOTH the final jac ≥ θ
    *        filter and the lossless size prefilter — jac = |∩|/|∪| ≤
    *        min(na,nb)/max(na,nb), so any pair with den·min < num·max
    *        cannot reach θ and is dropped on narrow (long, long) size
    *        columns BEFORE the wide array-payload joins (46% of sf0.1
    *        candidates die here at θ=0.8). Integer cross-multiplication,
    *        not doubles: 0.8·5 in binary floating point is not exactly 4,
    *        and an exact-boundary pair (4/5 ratio, jac exactly 0.8) must
    *        survive.
    * @param ignoreArtifact compute fresh even when
    *        `spark.graft.pairs.artifact` is set — the parameter
    *        pipelines.PairTable's builders thread instead of mutating
    *        the session-global conf around plan construction (a
    *        temporary unset raced with concurrent query construction on
    *        the same session, ADVICE r5). */
  def jaccardPairsUnsorted(s: org.apache.spark.sql.SparkSession, d: String,
      candPred: Option[CandPred], thetaNum: Int, thetaDen: Int,
      ignoreArtifact: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val theta = thetaNum.toDouble / thetaDen
    // Artifact read path: a pre-built pair table (pipelines.PairTable,
    // floored at 0.6) short-circuits the whole candidate pipeline. The
    // threshold re-applies on read; the caller's θ must be ≥ the
    // artifact floor for this to be lossless (0.8 and 0.6 both are).
    val artifact =
      if (ignoreArtifact) "" else s.conf.get("spark.graft.pairs.artifact", "")
    if (artifact.nonEmpty) {
      require(theta >= PairTableFloorNum.toDouble / PairTableFloorDen,
        s"pair-table artifact is floored at 0.6; cannot serve theta=$theta")
      // corpus-identity check: the conf is session-global, so without
      // this an artifact built for one corpus would silently answer for
      // every other dataset dir the session touches (wrong clusters and
      // splits, no error). PairTable.write stamps the marker.
      val marker = graft.pipelines.PairTable.readCorpusMarker(s, artifact)
      require(marker == d,
        s"pair-table artifact at $artifact was built for corpus '$marker', not '$d' " +
        "— rebuild with pipelines.PairTable.write or unset spark.graft.pairs.artifact")
      // candidate-mode identity: an artifact built with the approximate
      // minhash generator must not silently serve a session whose conf
      // declares the exact rarity contract (or vice versa) — same
      // fail-loudly rule as the corpus marker
      val builtWith = graft.pipelines.PairTable.readCandMode(s, artifact)
      val wantMode = s.conf.get("spark.graft.pairs.candidates", "rarity")
      require(builtWith == wantMode,
        s"pair-table artifact at $artifact was built with candidates='$builtWith' but " +
        s"this session declares spark.graft.pairs.candidates=$wantMode — rebuild the " +
        "artifact or align the conf")
      val base = s.read.parquet(artifact).where(col("jac") >= theta)
      return candPred.fold(base) { case (attr, pred) =>
        base.where(pred(attr(col("doc_a")), attr(col("doc_b")))) }
    }
    // materialize the distinct token stream once — it feeds the df table,
    // the blocking join and the per-doc set aggregation (3 references =
    // 3 recomputes of explode+distinct without the cut)
    val tok = graft.ops.Lineage.cut(tokensDistinct(s, d))
    lazy val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
    // block on each doc's 4 RAREST tokens, not just the single rarest:
    // one-token blocking measured only 0.79 recall against the unblocked
    // all-pairs truth (near-dups can disagree on their single rarest
    // token); 4 tokens measure 1.000 recall on the fixture (JaccardSpec
    // pins it) while rare-token df keeps blocks small at corpus scale.
    // No broadcast hint on dfTok: it is vocabulary-sized (unbounded at
    // web scale) — let Catalyst/AQE broadcast it only while it is small.
    // Per-doc set size (tok is distinct, so count = set size) joins onto
    // the blocked frame BEFORE candidate generation: nt rides the
    // self-join as a carried int, so the θ size prefilter (below) runs
    // before the pair-dedup distinct and no per-pair size join exists.
    val ntDf = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    // Candidate source (spark.graft.pairs.candidates):
    //  - "rarity" (default, the oracle contract): block on each doc's 4
    //    globally-rarest tokens — recall 1.000 vs the all-pairs truth
    //    pinned on the fixture, but candidate cost rides on token-df
    //    blocking staying healthy (rare tokens must exist and stay
    //    rare). The exactness default.
    //  - "minhash": MinHash(128) + 16×8 LSH banding as the candidate
    //    generator — the declared approximate 100 TB path, now wired
    //    INTO the pair pipeline (PairTable, dedup_cluster, CorpusPrep
    //    and the incremental refresh all inherit it through this conf)
    //    instead of living only in the standalone llm_minhash report.
    //    Pairs are still scored with EXACT set Jaccard below, so output
    //    is a SUBSET of the rarity-mode output (precision unchanged);
    //    what the mode trades is recall, by the banding S-curve: a true
    //    jac θ pair shares a band w.p. 1−(1−θ^8)^16 (≥ 0.947 at θ=0.8,
    //    ≥ 0.9999 at 0.9). JaccardRecallSpec pins subset + a recall
    //    floor vs the exact path. Departing from "rarity" departs from
    //    the oracle contract (maxDf pattern).
    val candMode = s.conf.get("spark.graft.pairs.candidates", "rarity")
    // cut: ShardedSelfJoin references the banded/blocked frame three
    // times (a side, b side, oversize-bucket census) — materialize the
    // small per-doc result instead of recomputing the candidate keying
    // per reference. Both sources carry (doc_id, lang, nt) plus their
    // bucket key columns; the self-join below only differs in `keys`.
    val (block, blockKeys, blockEmitOnce) =
      if (candMode == "minhash") {
        val sigs = tok.groupBy("doc_id", "lang")
          .agg(Sketches.minhash(col("token")).as("sig"))
        // bands carry only narrow columns (llm_minhash discipline: the
        // 128-int signatures never ride the candidate shuffle) — plus
        // the doc's sorted 16-key bucket set for EMIT-ONCE generation,
        // the same adoption as the standalone llm_minhash report and the
        // same reasoning: banding's duplicate factor is ~16 (a true pair
        // collides in many bands), so even with the size prefilter
        // killing pre-distinct, the surviving distinct shuffles ~16× the
        // pair set — while the emit-once merge scan is a codegen'd ≤16-
        // step filter per raw candidate. Same-phase min-of-3 at sf0.1
        // (conf-gated, measured via a candidate-mode A/B harness):
        // 3.99 → 3.43 s at an identical 745,364-pair output (round 7).
        // bkeys is sorted/duplicate-free BY CONSTRUCTION (band<<32|bkey
        // injective, bk64 exploded from the same array) → skip the
        // per-row contract re-check.
        (graft.ops.Lineage.cut(sigs
          .withColumn("bkeys", sort_array(expr(
            "transform(sequence(0, 15), b -> shiftleft(cast(b as bigint), 32)" +
              " + (cast(hash(slice(sig, b * 8 + 1, 8)) as bigint) & 4294967295))")))
          .select(col("doc_id"), col("lang"), col("bkeys"),
            explode(col("bkeys")).as("bk64"))
          .join(ntDf, "doc_id")),
         Seq("bk64", "lang"),
         Some(("bk64", "bkeys")))
      } else {
        // Emit-once ADOPTED for the rarity path too (round 8, reversing
        // round 6's measured negative): ShardedSelfJoin now runs the
        // emit-once merge scan AFTER the size prefilter/candPred instead
        // of before the projection, so the scan taxes only predicate
        // survivors (5.0 M of 8.0 M raw at sf0.1) while the candidate
        // distinct — which shuffled those same survivors — disappears.
        // A/B at sf0.1 min-of-3: distinct 2.7–3.0 s vs emit-once 1.2 s
        // at the identical 1 659 184-row candidate output (round 6's
        // trial scanned all raw candidates pre-filter and lost, 5.5 →
        // 5.8 s). btok_set is built sorted/duplicate-free/self-containing
        // by construction in rarityBlocked (three lines above the
        // explode), so the per-row contract re-check is skipped; the
        // conf can still force it on for an audit (ADVICE r7).
        (graft.ops.Lineage.cut(rarityBlocked(tok, dfTok, ntDf)),
         Seq("block_tok", "lang"),
         Some(("block_tok", "btok_set")))
      }
    // Skew-safe block self-join: a boilerplate-heavy corpus puts
    // thousands of docs in one (block_tok, lang) cell; the triangle-cell
    // shard bounds per-task input while keeping the pair set identical
    // (same helper + SkewSpec guarantees as the LSH band joins).
    // Two pair restrictions run BEFORE the pair-dedup distinct, both on
    // carried per-doc ints (never recomputed per pair):
    //  - the lossless θ size prefilter — jac = |∩|/|∪| ≤ min(na,nb)/
    //    max(na,nb), so θ·den-cross-multiplied size mismatches can never
    //    reach the floor (integer arithmetic: 0.8·5 in binary floating
    //    point is not exactly 4, and an exact-boundary pair must
    //    survive); 46% of sf0.1 candidates die here at θ=0.8
    //  - the caller's candidate predicate (if any) over its carried
    //    per-doc attribute (e.g. incremental dedup's new↔old buckets)
    val thr = graft.ops.ShardedSelfJoin.confThreshold(s)
    // The final filter thresholds the r4-ROUNDED jaccard, which rounds
    // half-up at 4 decimals — a true jac in [θ−0.00005, θ) still passes
    // it. The prefilter must therefore test min/max ≥ θ − 1/20000, not
    // θ, or boundary pairs (unreachable on ~25-token fixtures, real on
    // long web docs) would be dropped that the oracle keeps. Exact
    // integer form: min·den·20000 ≥ max·(num·20000 − den); nt up to
    // ~10^13 stays far from Long overflow.
    val sizeOk = least(col("nt_a"), col("nt_b")) * (thetaDen * 20000L) >=
                 greatest(col("nt_a"), col("nt_b")) * (thetaNum * 20000L - thetaDen)
    val blockIn = candPred.fold(block) { case (attr, _) =>
      block.withColumn("cattr", attr(col("doc_id"))) }
    val candFilter = candPred match {
      case None => sizeOk
      case Some((_, pred)) => sizeOk && pred(col("cattr_a"), col("cattr_b"))
    }
    val candSz = graft.ops.ShardedSelfJoin.pairs(
        blockIn, blockKeys, thr,
        carry = Seq("nt") ++ candPred.map(_ => "cattr").toSeq,
        pairFilter = Some(candFilter),
        emitOnce = blockEmitOnce,
        emitOnceByConstruction = blockEmitOnce.isDefined)
      .select(col("doc_a"), col("doc_b"), col("nt_a").as("na"), col("nt_b").as("nb"))
    // Per-document token sets, interned to xxhash64 before the set agg:
    // the arrays the candidate pairs drag through two SMJ shuffles become
    // primitive longs (~8 B/elem vs ~30 B/elem strings) and the
    // intersection compares longs, not strings. |∩| is unchanged unless
    // two DIFFERENT tokens inside one candidate pair's union collide in
    // 64 bits — P ≈ Σ|sa|·|sb|/2^64 ≈ 6e-11 across the whole sf0.1
    // fixture, and the dedup outcome of a real corpus is equally
    // indifferent. (Reverting to raw-token arrays is this one line, if a
    // zero-collision guarantee is ever required.)
    val sets = tok.groupBy("doc_id").agg(array_sort(collect_set(xxhash64(col("token")))).as("m"))
      .select(col("doc_id"), col("m"))
    // graft_icount: allocation-free merge count over the sorted interned
    // sets (VectorExprs.SortedInterCount) — array_intersect hashes and
    // materializes the intersection per pair only for size() to count it
    graft.functions.VectorExprs.register(s)
    // Rejoin the per-document sets via shuffle equi-joins on doc id and
    // intersect in-row. `sets` is per-document state (one array per
    // doc), so broadcasting it is O(corpus); the merge hint pins the SMJ
    // plan at every scale. Counting shared tokens by joining the pairs
    // back to the narrow token stream instead measured 27.1 s vs 10.2 s
    // at sf0.1 local[32]: ~25 tokens per candidate explode to ~19M rows.
    candSz
      .join(sets.select(col("doc_id").as("doc_a"), col("m").as("ma")).hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("m").as("mb")).hint("merge"), "doc_b")
      .withColumn("ni", expr("graft_icount(ma, mb)"))
      .select(col("doc_a"), col("doc_b"),
        r4(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= theta)
  }

  val ContainmentMaxDf = 1000

  /** llm_containment — asymmetric near-containment pairs: the dedup axis
    * Jaccard cannot see. A short doc quoted whole inside a long one has
    * tiny Jaccard (the union is the long doc) but containment
    * |A∩B|/min(|A|,|B|) ≈ 1 — this finds subset dups, full quotes and
    * wrapped reposts at θ = 0.9 within a language.
    *
    * Candidate generation is the textbook PREFIX FILTER (the AllPairs/
    * PPJoin family), not rarity blocking: jaccard's 4-rarest-token
    * blocks need BOTH docs to pick a shared block token, which a
    * contained-doc pair systematically fails (the container's rarest
    * tokens are exactly the ones OUTSIDE the contained doc). Instead
    * each doc probes with its (nt div 10 + 1) globally-rarest tokens
    * against the FULL token stream: if containment of the smaller set
    * truly reaches 0.9, at most floor(0.1·nt) of its tokens lie outside
    * the other doc, so by pigeonhole at least one probe token hits —
    * candidate generation is LOSSLESS at the exact threshold (the
    * boundary band the r4 rounding admits below 0.9 inherits the same
    * integer-exact prefix rule in the oracle SQL, so the engines agree
    * row-for-row). Prefix size and the final filter are integer/
    * r4-exact; df ties break on the token string.
    *
    * Scale: the probe join is an equi-join on (token, lang); per-cell
    * input is bounded by the `ContaminationMaxDf`-style df cap
    * `ContainmentMaxDf` (1000, mirrored literally in the oracle SQL —
    * probe tokens are rare-first by construction, so the cap only
    * touches docs whose entire vocabulary is common, the boilerplate
    * llm_exact_dedup removes first). Scoring reuses the
    * jaccard family's interned-long sorted-set arrays + graft_icount
    * through two merge-hinted equi-joins. Never consults the pair-table
    * artifact (it stores jaccard at a 0.6 floor — a different metric). */
  val llmContainment: Q = (s, d) => {
    // one distinct token-stream materialization feeds df, per-doc sizes,
    // the probe/index sides and the set aggregation (jaccard discipline)
    val tok = graft.ops.Lineage.cut(tokensDistinct(s, d))
    val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val ntDf = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val tokDf = tok.join(dfTok, "token").join(ntDf, "doc_id")
      .where(col("df") <= ContainmentMaxDf)
    // probe-join key interned to xxhash64 (round 8, same argument as the
    // rarity blocks): prefix selection — the oracle-mirrored, lossless-
    // at-θ part — stays on real tokens inside probePrefix; only the
    // (token, lang) equi-join compares longs. A collision merges two
    // tokens' cells → candidate superset → exact scoring decides, so the
    // pigeonhole guarantee and the oracle are untouched.
    val probe = probePrefix(tokDf)
      .withColumn("tk", xxhash64(col("token"))).drop("token")
    val index = tokDf
      .select(col("doc_id").as("iid"), col("lang"),
        xxhash64(col("token")).as("tk"), col("nt").as("nt_i"))
    val cand = probe.join(index, Seq("tk", "lang"))
      .where(col("pid") =!= col("iid"))
      .select(
        least(col("pid"), col("iid")).as("doc_a"),
        greatest(col("pid"), col("iid")).as("doc_b"),
        when(col("pid") < col("iid"), col("nt_p")).otherwise(col("nt_i")).as("na"),
        when(col("pid") < col("iid"), col("nt_i")).otherwise(col("nt_p")).as("nb"))
      .distinct()
    val sets = tok.groupBy("doc_id")
      .agg(array_sort(collect_set(xxhash64(col("token")))).as("m"))
    graft.functions.VectorExprs.register(s)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("m").as("ma")).hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("m").as("mb")).hint("merge"), "doc_b")
      .withColumn("ni", expr("graft_icount(ma, mb)"))
      .select(col("doc_a"), col("doc_b"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("small_doc"),
        r4(col("ni") * lit(1.0) / least(col("na"), col("nb"))).as("containment"))
      .where(col("containment") >= 0.9)
      .orderBy("doc_a", "doc_b")
  }

  /** llm_multimodal_schema — the multimodal column model: pack rows into
    * typed struct columns (content/meta), operate on nested fields, unpack.
    * Oracle checks the flat equivalents (schema plumbing is Spark-side;
    * MultimodalSpec covers the binary-payload variant). */
  val llmMultimodalSchema: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        struct(col("text"), col("lang")).as("content"),
        struct(col("n_chars"), col("source")).as("meta"))
      .select(col("content.lang").as("lang"), col("meta.n_chars").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")

  /** llm_multimodal_stats — per-mime corpus stats over the binary media
    * column model (payload bytes, average frame width, max duration):
    * the manifest a multimodal ingest job reports. Checks the
    * attachFakePayload packing against an independent SQL formulation —
    * the payload length and metadata must survive the struct hop. */
  val llmMultimodalStats: Q = (s, d) => {
    val media = graft.multimodal.Multimodal.attachFakePayload(Tables.documents(s, d))
    media.select(
        col("media.mime").as("mime"),
        length(col("media.payload")).cast("long").as("nbytes"),
        col("media.meta.width").as("w"),
        col("media.meta.duration_ms").as("dur"))
      .groupBy("mime")
      .agg(count(lit(1)).as("n"), sum("nbytes").as("sum_bytes"),
        r4(sum("w") * lit(1.0) / count(lit(1))).as("avg_w"),
        max("dur").as("max_dur_ms"))
      .orderBy("mime")
  }

  /** llm_embed_quantize — int8 scalar quantization of the embedding
    * column, the standard compression step before shipping vectors to an
    * ANN index at corpus scale (symmetric per-dimension absmax scaling,
    * q = round(x/absmax·127) ∈ [−127,127] — the scheme FAISS calls
    * SQ8/"QT_8bit_direct"-family and every vector DB applies at ingest;
    * 4× smaller than float32, which at 100 TB of embeddings is the
    * difference between an index that fits executor memory and one that
    * doesn't). Output is the per-dimension calibration + error census a
    * pipeline records next to the quantized artifact: the scale
    * (absmax), value count, and the total/max absolute reconstruction
    * error — the numbers that tell you whether SQ8 is safe for this
    * embedding family or you need PQ.
    *
    * Scale shape: one posexplode pass → per-dim absmax (bounded agg: D
    * rows regardless of corpus size, map-side combined) → broadcast
    * rejoin BY CONSTRUCTION (the table is dimension-width) → per-dim
    * error census (bounded agg again). No corpus-sized state, no
    * quadratic anything; the explode stream never materializes.
    *
    * Determinism: errors are summed as exact scaled integers
    * (floor(err·1e7 + 0.5), order-free — the §7.3 discipline), absmax is
    * an order-free max r4'd once at output. Quantization math is the
    * identical IEEE expression on both engines (floor(v + 0.5), never
    * engine round()). A zero absmax (all-zero dimension) quantizes to 0
    * with zero error by the CASE guard. */
  val llmEmbedQuantize: Q = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .select((col("p") + 1).cast("long").as("dim"), col("v").cast("double").as("x"))
    // bounded: one row per dimension (64 in the fixture; ≤ model width always)
    val scales = x.groupBy("dim").agg(max(abs(col("x"))).as("absmax"))
    val err = x.join(broadcast(scales), "dim")
      .withColumn("qv",
        when(col("absmax") === 0, lit(0.0))
          .otherwise(floor(col("x") / col("absmax") * 127 + lit(0.5))))
      .withColumn("e7",
        floor(abs(col("x") - col("qv") * col("absmax") / 127) * 1e7 + lit(0.5)))
    err.groupBy("dim")
      .agg(r4(max(col("absmax"))).as("absmax"),
        count(lit(1)).as("n"),
        sum(col("e7")).cast("long").as("err_e7"),
        max(col("e7")).cast("long").as("max_err_e7"))
      .orderBy("dim")
  }

  val queries: Map[String, Q] = Map(
    "llm_embed_quantize"    -> llmEmbedQuantize,
    "llm_multimodal_stats"  -> llmMultimodalStats,
    "llm_exact_dedup"       -> llmExactDedup,
    "llm_cosine_topk"       -> llmCosineTopk,
    "llm_knn_label"         -> llmKnnLabel,
    "llm_token_stats"       -> llmTokenStats,
    "llm_tfidf"             -> llmTfidf,
    "llm_bm25"              -> llmBm25,
    "llm_rank_fusion"       -> llmRankFusion,
    "llm_hardneg_mine"      -> llmHardnegMine,
    "llm_pref_pairs"        -> llmPrefPairs,
    "llm_kmeans"            -> llmKmeans,
    "llm_jaccard_pairs"     -> llmJaccardPairs,
    "llm_pair_table"        -> llmPairTable,
    "llm_containment"       -> llmContainment,
    "llm_multimodal_schema" -> llmMultimodalSchema,
  )

  private val cosSql = r4Sql("list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])")

  val oracle: Map[String, String] = Map(
    "llm_embed_quantize" ->
      """WITH x AS (
        | SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x
        | FROM embeddings),
        |s AS (SELECT dim, max(abs(x)) AS absmax FROM x GROUP BY dim),
        |e AS (
        | SELECT x.dim, s.absmax,
        |   floor(abs(x.x - (CASE WHEN s.absmax = 0 THEN 0
        |     ELSE floor(x.x / s.absmax * 127 + 0.5) END) * s.absmax / 127)
        |     * 10000000 + 0.5) AS e7
        | FROM x JOIN s ON x.dim = s.dim)
        |SELECT dim, floor(max(absmax) * 10000 + 0.5) / 10000 AS absmax,
        |  count(*) AS n,
        |  CAST(sum(e7) AS BIGINT) AS err_e7,
        |  CAST(max(e7) AS BIGINT) AS max_err_e7
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,
    "llm_multimodal_stats" ->
      s"""SELECT mime, count(*) AS n,
        | CAST(sum(length(text)) AS BIGINT) AS sum_bytes,
        | ${r4Sql("sum(n_chars % 640) * 1.0 / count(*)")} AS avg_w,
        | CAST(max(n_chars * 33) AS BIGINT) AS max_dur_ms
        |FROM (SELECT CASE CAST(doc_id % 3 AS INT)
        |        WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
        |        ELSE 'video/mp4' END AS mime, text, n_chars
        |      FROM documents)
        |GROUP BY mime ORDER BY mime""".stripMargin,
    "llm_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups, sha256(text) AS h
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    "llm_cosine_topk" ->
      s"""SELECT qid, vid, cos, rn FROM (
        | SELECT qid, vid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        | FROM (SELECT a.vec_id AS qid, b.vec_id AS vid, $cosSql AS cos
        |       FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id))
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "llm_knn_label" ->
      s"""WITH pairs AS (
        | SELECT a.vec_id AS qid, b.vec_id AS vid, b.label AS nb_label, $cosSql AS cos
        | FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
        |top5 AS (
        | SELECT * FROM (SELECT qid, nb_label,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM pairs)
        | WHERE rn <= 5),
        |votes AS (SELECT qid, nb_label, count(*) AS votes FROM top5 GROUP BY qid, nb_label)
        |SELECT qid, CAST(nb_label AS BIGINT) AS pred_label, votes FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nb_label) AS rnk
        | FROM votes)
        |WHERE rnk = 1 ORDER BY qid""".stripMargin,
    "llm_token_stats" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |by_lang AS (
        | SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
        |  ${r4Sql("count(*) * 1.0 / count(DISTINCT doc_id)")} AS avg_tok
        | FROM tok GROUP BY lang),
        |top AS (
        | SELECT lang, token AS top_term, cnt AS top_term_n FROM (
        |  SELECT lang, token, count(*) AS cnt,
        |   row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
        |  FROM tok GROUP BY lang, token) WHERE rn = 1)
        |SELECT b.lang, b.n_docs, b.n_tokens, b.avg_tok, t.top_term, t.top_term_n
        |FROM by_lang b JOIN top t ON b.lang = t.lang ORDER BY b.lang""".stripMargin,
    "llm_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf_n FROM tok GROUP BY doc_id, token),
        |nd AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.token,
        |  ${r4Sql("(tf.tf_n * 1.0 / nd.n_tok) * ln(n.n_docs * 1.0 / dft.df)")} AS score
        | FROM tf JOIN nd ON tf.doc_id = nd.doc_id JOIN dft ON tf.token = dft.token, n)
        |SELECT doc_id, token AS top_term, score FROM (
        | SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        | FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "llm_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |nd AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM nd),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token IN ('join', 'hash', 'scan', 'filter') GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |c AS (
        | SELECT tf.doc_id,
        |  ${r4Sql("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))")} AS contrib
        | FROM tf JOIN dfq ON tf.token = dfq.token JOIN nd ON tf.doc_id = nd.doc_id, corpus)
        |SELECT doc_id, ${sumR4Sql("contrib")} AS score, count(*) AS n_terms
        |FROM c GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "llm_hardneg_mine" ->
      s"""SELECT qid, qlabel, vid, neg_label, cos, rn FROM (
        | SELECT qid, qlabel, vid, neg_label, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        | FROM (SELECT a.vec_id AS qid, CAST(a.label AS BIGINT) AS qlabel,
        |        b.vec_id AS vid, CAST(b.label AS BIGINT) AS neg_label,
        |        $cosSql AS cos
        |       FROM embeddings a, embeddings b
        |       WHERE a.vec_id <> b.vec_id AND a.label <> b.label))
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "llm_pref_pairs" ->
      s"""WITH pairs AS (
        | SELECT a.vec_id AS qid, CAST(a.label AS BIGINT) AS qlabel,
        |        b.vec_id AS vid, CAST(b.label AS BIGINT) AS nb_label,
        |        $cosSql AS cos
        | FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
        |pos AS (SELECT qid, qlabel, vid, cos FROM (
        |  SELECT qid, qlabel, vid, cos,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        |  FROM pairs WHERE qlabel = nb_label) WHERE rn = 1),
        |neg AS (SELECT qid, vid, cos FROM (
        |  SELECT qid, vid, cos,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        |  FROM pairs WHERE qlabel <> nb_label) WHERE rn = 1)
        |SELECT p.qid, p.qlabel, p.vid AS chosen_vid, p.cos AS chosen_cos,
        | n.vid AS rejected_vid, n.cos AS rejected_cos,
        | ${r4Sql("p.cos - n.cos")} AS margin
        |FROM pos p JOIN neg n ON p.qid = n.qid ORDER BY p.qid""".stripMargin,
    "llm_kmeans" -> {
      // the r4'd squared distance both engines rank on (ne/nc broadcast
      // with each side's frame); tie → code asc, mirroring min_by's
      // (d2, code) struct order
      def d2Sql(c: String) = r4Sql(
        s"v.ne - 2*list_inner_product(v.e, $c.c) + list_inner_product($c.c, $c.c)")
      // one Lloyd assign round as SQL: argmin centroid per vector
      def asnSql(cb: String) =
        s"""SELECT vec_id, code, e FROM (
           |  SELECT v.vec_id, $cb.code, v.e,
           |   row_number() OVER (PARTITION BY v.vec_id
           |     ORDER BY ${d2Sql(cb)}, $cb.code) AS rn
           |  FROM v CROSS JOIN $cb) WHERE rn = 1""".stripMargin
      // recenter: per-dim exact scaled-int means, arrays rebuilt in dim
      // order; codes that received no members carry the previous
      // centroid (the Spark train contract)
      def recSql(asn: String, prev: String) =
        s"""SELECT code, list(m ORDER BY p) AS c FROM (
           |  SELECT code, p,
           |   CAST(sum(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS m
           |  FROM (SELECT code, unnest(e) AS x, generate_subscripts(e, 1) AS p FROM $asn)
           |  GROUP BY code, p) GROUP BY code
           |UNION ALL SELECT code, c FROM $prev
           | WHERE code NOT IN (SELECT DISTINCT code FROM $asn)""".stripMargin
      s"""WITH v AS MATERIALIZED (
        | SELECT vec_id, embedding::DOUBLE[] AS e,
        |  list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS ne
        | FROM embeddings),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        |          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
        |c0 AS MATERIALIZED (SELECT s.code, v.e AS c FROM seeds s JOIN v ON v.vec_id = s.vec_id),
        |a1 AS MATERIALIZED (${asnSql("c0")}),
        |c1 AS MATERIALIZED (${recSql("a1", "c0")}),
        |a2 AS MATERIALIZED (${asnSql("c1")}),
        |c2 AS MATERIALIZED (${recSql("a2", "c1")}),
        |a3 AS MATERIALIZED (
        | SELECT vec_id, code, d2, nc FROM (
        |  SELECT v.vec_id, c2.code, ${d2Sql("c2")} AS d2,
        |   list_inner_product(c2.c, c2.c) AS nc,
        |   row_number() OVER (PARTITION BY v.vec_id
        |     ORDER BY ${d2Sql("c2")}, c2.code) AS rn
        |  FROM v CROSS JOIN c2) WHERE rn = 1)
        |SELECT CAST(code AS BIGINT) AS cluster, count(*) AS n_vecs,
        | ${sumR4Sql("d2")} AS inertia,
        | ${r4Sql("sqrt(max(nc))")} AS centroid_norm
        |FROM a3 GROUP BY code ORDER BY cluster""".stripMargin
    },
    "llm_rank_fusion" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |nd AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM nd),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token IN ('join', 'hash', 'scan', 'filter') GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |c AS (
        | SELECT tf.doc_id,
        |  ${r4Sql("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))")} AS contrib,
        |  ${r4Sql("tf * ln(n_docs * 1.0 / df)")} AS w
        | FROM tf JOIN dfq ON tf.token = dfq.token JOIN nd ON tf.doc_id = nd.doc_id, corpus),
        |bm AS (SELECT doc_id, ${sumR4Sql("contrib")} AS bm25 FROM c GROUP BY doc_id
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |bmr AS (SELECT doc_id,
        |        CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_bm FROM bm),
        |ti AS (SELECT doc_id, ${sumR4Sql("w")} AS tfidf FROM c GROUP BY doc_id
        |       ORDER BY tfidf DESC, doc_id LIMIT 20),
        |tir AS (SELECT doc_id,
        |        CAST(row_number() OVER (ORDER BY tfidf DESC, doc_id) AS BIGINT) AS rank_ti FROM ti)
        |SELECT doc_id, rank_bm, rank_ti,
        | ${r8Sql("coalesce(1.0 / (60 + rank_bm), 0.0) + coalesce(1.0 / (60 + rank_ti), 0.0)")} AS rrf
        |FROM bmr FULL OUTER JOIN tir USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "llm_jaccard_pairs" -> jaccardPairsSql("0.8"),
    "llm_pair_table"    -> jaccardPairsSql("0.6"),
    "llm_containment" ->
      s"""WITH tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |dfr AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        |doclist AS MATERIALIZED (SELECT doc_id, list(token) AS toks FROM tok GROUP BY doc_id),
        |td AS MATERIALIZED (
        | SELECT t.doc_id, t.lang, t.token, d.df, s.nt
        | FROM tok t JOIN dfr d ON d.token = t.token JOIN sz s ON s.doc_id = t.doc_id
        | WHERE d.df <= 1000),
        |probe AS (
        | SELECT doc_id AS pid, lang, token, nt AS nt_p FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rn FROM td)
        | WHERE rn <= nt // 10 + 1),
        |cand AS MATERIALIZED (
        | SELECT DISTINCT
        |  least(p.pid, i.doc_id) AS doc_a, greatest(p.pid, i.doc_id) AS doc_b,
        |  CASE WHEN p.pid < i.doc_id THEN p.nt_p ELSE i.nt END AS na,
        |  CASE WHEN p.pid < i.doc_id THEN i.nt ELSE p.nt_p END AS nb
        | FROM probe p JOIN td i ON i.token = p.token AND i.lang = p.lang
        |  AND i.doc_id <> p.pid),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, c.na, c.nb,
        |  len(list_intersect(da.toks, db.toks)) AS ni
        | FROM cand c
        |  JOIN doclist da ON da.doc_id = c.doc_a
        |  JOIN doclist db ON db.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, small_doc, containment FROM (
        | SELECT doc_a, doc_b,
        |  CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS small_doc,
        |  ${r4Sql("ni * 1.0 / least(na, nb)")} AS containment
        | FROM inter)
        |WHERE containment >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    "llm_multimodal_schema" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )

  /** Oracle body shared by llm_jaccard_pairs (floor 0.8) and
    * llm_pair_table (artifact floor 0.6) — identical pipeline, different
    * Jaccard floor. `ni` computes as len(list_intersect) over per-doc
    * token lists (r12): the previous per-pair token equi-join form
    * materialized a Σ|A∩B| ≈ |cand| × doc-length intermediate — ~10^10
    * rows at the ×10 scale-oracle arm, which ran DuckDB to the memory
    * wall; the doclist form carries one list row per doc and is
    * value-identical on tok's distinct-token rows (every cand pair
    * shares a block token, so no ni=0 row is lost by either form). */
  private def jaccardPairsSql(floor: String): String =
      s"""WITH tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |dfr AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
        |block AS MATERIALIZED (
        | SELECT doc_id, lang, token AS block_tok FROM (
        |  SELECT t.doc_id, t.lang, t.token,
        |   row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS rn
        |  FROM tok t JOIN dfr d ON t.token = d.token) WHERE rn <= 4),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        |doclist AS MATERIALIZED (SELECT doc_id, list(token) AS toks FROM tok GROUP BY doc_id),
        |cand AS MATERIALIZED (
        | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM block a JOIN block b ON a.block_tok = b.block_tok AND a.lang = b.lang
        |  AND a.doc_id < b.doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b,
        |  len(list_intersect(da.toks, db.toks)) AS ni
        | FROM cand c
        |  JOIN doclist da ON da.doc_id = c.doc_a
        |  JOIN doclist db ON db.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, jac FROM (
        | SELECT i.doc_a, i.doc_b,
        |  ${r4Sql("i.ni * 1.0 / (sa.nt + sb.nt - i.ni)")} AS jac
        | FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b)
        |WHERE jac >= $floor ORDER BY doc_a, doc_b""".stripMargin
}
