package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{MinHashAgg, SimHashAgg}
import graft.ops.Det._

/** Sketch-based near-dup operators — SURVEY.md §2.10 `llm_minhash` /
  * `llm_simhash`. Not oracle-checked (hash values are engine-specific by
  * design, §7.3 item 7); correctness = MinHashSpec/SimHashSpec property
  * tests against the exact-Jaccard answer. These ARE the 100 TB
  * replacements for the bounded brute-force pairs in Llm / Joins:
  * LSH banding → candidate equi-join instead of a cross join.
  */
object Sketches {

  val minhash = udaf(new MinHashAgg(128))
  val simhash = udaf(new SimHashAgg)

  /** Max rows of one LSH bucket a single task may hold before the band
    * self-join shards it (spark.graft.lsh.shardThreshold — shared with
    * the rarity/min-shingle blocking joins; production can lower it for
    * boilerplate-heavy corpora). */
  private def shardThreshold(s: org.apache.spark.sql.SparkSession): Int =
    graft.ops.ShardedSelfJoin.confThreshold(s)

  /** Per-(doc, lang) MinHash(128) signature frame over a docs frame —
    * the one hash pipeline shared by llm_minhash and
    * pipelines.SignatureIndex: identical token distinct + UDAF ⇒
    * identical signatures, the property the index's refresh-parity pin
    * rests on. Unmaterialized; callers own the Lineage.cut. */
  def signatures(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()
      .groupBy("doc_id", "lang").agg(minhash(col("token")).as("sig"))

  /** The 16×8 LSH band-key array over `sig`: band<<32 | bucket32 —
    * injective in (band, bucket), so the array is sorted-distinct by
    * construction after sort_array (the emitOnceByConstruction
    * contract). Shared with pipelines.SignatureIndex, whose stored
    * band rows must collide exactly like the in-query banding. */
  val BandKeysExpr: String =
    "transform(sequence(0, 15), b -> shiftleft(cast(b as bigint), 32)" +
      " + (cast(hash(slice(sig, b * 8 + 1, 8)) as bigint) & 4294967295))"

  /** llm_minhash — MinHash(128) signatures + 16×8 LSH banding: candidate
    * pairs sharing any band bucket, estimated Jaccard = signature
    * agreement, kept at est ≥ 0.7. The band join S-curve detects
    * jac 0.9 pairs w.p. >0.9999 (16 bands of 8 rows). */
  val llmMinhash: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    // materialize signatures ONCE (eager lineage cut): the plan below
    // references sigs three times (banding + both rejoins) and each
    // reference would otherwise re-run the UDAF over the full token
    // stream — the dominant cost. Same hygiene as llm_dedup_cluster's
    // edge materialization; on a cluster this is a persisted/checkpointed
    // signature table, the standard shape of a dedup pipeline — which
    // pipelines.SignatureIndex now materializes as an actual artifact.
    val sigs = graft.ops.Lineage.cut(signatures(Tables.documents(s, d)))
    // bands carry only narrow columns, never the 128-int signatures
    // (carrying sigs through the self-join was the sf0.1 bottleneck —
    // 170 s → ~5 s). Signatures rejoin afterwards via a shuffle
    // equi-join on doc id: sigs is one 128-int array PER DOCUMENT, so
    // broadcasting it is O(corpus) and cannot work at 100 TB. The merge
    // hint pins the large-large-safe plan (SMJ) at every scale.
    //
    // Candidate generation runs EMIT-ONCE (the AllPairs exactly-once
    // discipline): a high-jac pair collides in up to all 16 bands, so
    // the duplicate factor here is ~16 with NO pre-distinct kills — the
    // profile where emit-once pays most (since round 8 the rarity path
    // adopted it too, after ShardedSelfJoin moved the merge scan behind
    // the pair predicates). Each banded row
    // carries the doc's sorted 16-key bucket set (band<<32|bkey —
    // injective, so sortedness and distinctness hold BY CONSTRUCTION:
    // sort_array over distinct-band encodings, bk64 exploded from the
    // same array → emitOnceByConstruction skips the per-row contract
    // re-check); a pair then survives only its minimum shared bucket and
    // the O(candidates) distinct shuffle disappears. Cost: +16 longs per
    // banded row (~128 B, vs the 512 B signature the discipline above
    // keeps out) and one codegen'd merge scan per raw candidate.
    // Candidate-stage A/B on the dup-dense sf0.1 fixture (1.36 M pairs,
    // same phase): distinct 4.05 s → emit-once 2.35 s; end-to-end query
    // (sig agg + rejoins included) 4.57 → 4.27 s min-of-4 at matched
    // simhash-canary phase (round 7; the string-only EmitOnceMin bug
    // this surfaced is noted on the expression). The stage win grows
    // with the duplicate factor — boilerplate-heavy corpora collide in
    // more bands at identical distinct cost per raw candidate.
    val banded = sigs
      .withColumn("bkeys", sort_array(expr(BandKeysExpr)))
      .select(col("doc_id"), col("lang"), col("bkeys"),
        explode(col("bkeys")).as("bk64"))
    // skew-safe bucket self-join: a pathological hot bucket
    // (boilerplate-identical docs at web scale) is sharded across
    // ceil(size/threshold) triangle cells instead of landing in one
    // task — identical pair set, bounded task input (ShardedSelfJoin;
    // SkewSpec pins both properties)
    val cand = graft.ops.ShardedSelfJoin.pairs(
      banded, Seq("bk64", "lang"), shardThreshold(s),
      emitOnce = Some(("bk64", "bkeys")), emitOnceByConstruction = true)
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")).hint("merge"), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")).hint("merge"), "doc_b")
      .withColumn("est_jac", r4(expr("graft_agree(sig_a, sig_b)") / lit(128.0)))
      .where(col("est_jac") >= 0.7)
      .select("doc_a", "doc_b", "est_jac")
      .orderBy("doc_a", "doc_b")
  }

  /** llm_simhash — 64-bit SimHash per doc; near-dup pairs via 4×16-bit
    * band blocking + exact Hamming distance ≤ 6.
    *
    * Operating point re-calibrated for the round-3 xxHash64 digest
    * (SimhashCalibrate at sf0.001, banded candidates vs exact-Jaccard
    * truth): ham≤4 → recall@jac≥0.9 0.336 / precision@jac≥0.8 0.993;
    * ham≤5 → 0.450 / 0.979; ham≤6 → 0.506 / 0.958; ham≤7 → 0.563 /
    * 0.934. ≤6 beats the old digest's ≤4 point (recall ~0.39) on recall
    * while keeping precision ≥0.95; floors pinned in JaccardRecallSpec
    * (recall ≥0.45) and SketchSpec (precision ≥0.8). Any future digest
    * or seed change MUST re-run SimhashCalibrate and re-pin (VERDICT r3
    * #1 — the r3 digest swap shipped without this and went red). */
  val llmSimhash: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sigs = graft.ops.Lineage.cut( // referenced twice by the band self-join
      tok.groupBy("doc_id", "lang").agg(simhash(col("token")).as("sh")))
    val banded = sigs
      .withColumn("band", explode(expr("sequence(0, 3)")))
      .withColumn("bkey", expr("(sh >> (band * 16)) & 65535"))
    // same skew-safe bucket self-join as llm_minhash (hot-bucket shard)
    val cand = graft.ops.ShardedSelfJoin.pairs(
      banded, Seq("band", "bkey", "lang"), shardThreshold(s), carry = Seq("sh"))
    cand
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .where(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** The PQ pipeline pieces, shared verbatim by llm_ann_pq (hermetic
    * in-query form) and pipelines.PqIndex (the delivery artifact) — the
    * Sketches.signatures/BandKeysExpr precedent: one construction, so
    * the index's parity pins rest on shared code, not on two
    * implementations agreeing. */
  object Pq {
    import org.apache.spark.sql.DataFrame

    /** Codes per subspace and Lloyd rounds of the codebook training. */
    val K = 64
    val Iters = 2

    /** The ONE source of the geometry (M, K, Lloyd iters) — read by
      * both the in-query form and pipelines.PqIndex, so the two can
      * never silently train different codebooks (the parity pins assume
      * identical geometry). */
    def geometry(s: org.apache.spark.sql.SparkSession): (Int, Int, Int) =
      (s.conf.getOption("spark.graft.pq.m").map(_.toInt).getOrElse(16), K, Iters)

    /** (vec_id, sub, sv, nsv): one row per (vector, subspace). Callers
      * that reference the stream repeatedly own the Lineage.cut.
      * History: round 13 spread this frame across cores (spreadProbe)
      * because every consumer fanned it out ×K against a broadcast
      * codebook (assign / queryTables — O(N·M·K) rows inside the
      * stage, serial off a single-split source). Round 14 moved that
      * ×K scan INSIDE the row (graft_pq_argmin / graft_pq_dists), so
      * the stages over this frame are O(N·M) rows again and the
      * exchange bought nothing but per-task overhead on the bench
      * corpus (A/B below); parallelism at real scale comes from the
      * source's own splits, exactly like every other scan. The one
      * remaining quadratic consumer (the pq candidate mode's flat ADC
      * scan) spreads its own packed query-table frame at the cross
      * join (Llm.densePairs). */
    def subvectors(vecs: DataFrame, m: Int): DataFrame =
      vecs
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("e"))
        .withColumn("sd", (size(col("e")) / m).cast("int"))
        .select(col("vec_id"), col("sub"), expr("slice(e, sub * sd + 1, sd)").as("sv"))
        .withColumn("nsv", expr("graft_dot(sv, sv)"))

    /** Nearest-centroid assignment under the strict (d², code) order.
      * Since round 14 this is an IN-ROW argmin loop over the dense
      * local codebook (functions.PqArgmin — same d² expression, same
      * total order, value-identical to the former broadcast-join +
      * min_by form): the join form fanned every (vector, subspace) row
      * out ×K through a join and re-aggregated it back down, paying an
      * ENSURE_REQUIREMENTS exchange per call (a localCheckpoint scan
      * reports UnknownPartitioning, so the groupBy could never reuse
      * the spread's partitioning) — the stage is now N·M rows, no
      * exchange, no aggregation. The ≤M·K-row codebook frame collects
      * to the driver (the bounded-collect class — for Pq.train's
      * LocalRelation output this is a plan-local fold, for a stored
      * codebook a tiny read the former broadcast paid anyway). */
    def assign(sv: DataFrame, cb: DataFrame): DataFrame =
      assignLocal(sv, localCb(cb))

    /** Collect a ≤M·K-row codebook frame to the driver-local form (the
      * bounded-collect class). */
    private def localCb(cb: DataFrame): Seq[(Int, Int, Seq[Double])] =
      cb.select(col("sub").cast("int"), col("code").cast("int"),
          col("c").cast("array<double>"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))

    /** Driver-local codebook → the dense [sub][code] nesting the in-row
      * expressions consume. Codes must be dense 0..K'−1 per subspace and
      * subs dense 0..M'−1 (Pq.train's seeding invariant, validated on
      * index load by PqIndex.search); violations fail loud here rather
      * than silently drop rows the way the former inner join did. */
    private def nestedCb(cb: Seq[(Int, Int, Seq[Double])]): Seq[Seq[Seq[Double]]] = {
      val bySub = cb.groupBy(_._1)
      val nSub = bySub.keys.max + 1
      require(bySub.keySet == (0 until nSub).toSet,
        s"Pq codebook: subs must be dense 0..${nSub - 1}, got ${bySub.keys.toSeq.sorted}")
      (0 until nSub).map { s0 =>
        val codes = bySub(s0).sortBy(_._2)
        require(codes.map(_._2) == codes.indices,
          s"Pq codebook: codes of sub $s0 must be dense 0..${codes.size - 1}")
        codes.map(_._3)
      }
    }

    /** `assign` over a driver-local codebook (the form Pq.train holds
      * between rounds — no DataFrame round-trip). */
    def assignLocal(sv: DataFrame, cb: Seq[(Int, Int, Seq[Double])]): DataFrame = {
      graft.functions.VectorExprs.register(sv.sparkSession)
      // empty codebook (empty corpus) → empty assignment, the same
      // zero-row frame the former inner join produced (EmptyInputSpec)
      if (cb.isEmpty)
        return sv.select(col("vec_id"), col("sub"),
          lit(0).cast("int").as("code"), col("sv")).where(lit(false))
      sv.select(col("vec_id"), col("sub"),
        call_function("graft_pq_argmin",
          typedlit(nestedCb(cb)), col("sub"), col("sv"), col("nsv")).as("code"),
        col("sv"))
    }

    /** Lloyd training: K centroids per subspace, `iters` rounds, seeded
      * by the K lowest-id vectors. Centroid means accumulate as exact
      * scaled integers (order-free ⇒ the codebook is a pure function of
      * the corpus); empty clusters keep their previous centroid.
      *
      * The codebook lives as a LOCAL relation between rounds: it is
      * ≤ M·K rows BY CONSTRUCTION (the bounded-collect class — the
      * Deliver-manifest precedent, never corpus-sized), so each Lloyd
      * round is exactly ONE Spark job (scan sv → broadcast-join the
      * local codebook → ONE bounded agg → collect the ≤M·K·sd partial
      * rows) and the returned frame is a LocalRelation the final
      * encode/ADC plan folds flat — no per-round lineage cut, no
      * iteration-deep plan. Values are identical to the distributed
      * form: the same aggregation expressions compute the means; only
      * where the bounded result lives changes.
      *
      * `m` is the subspace count of `sv` (every Pq.subvectors frame
      * carries EXACTLY m rows per vector — explode of sequence(0, m−1)),
      * which lets the seed collect in ONE TakeOrdered job. */
    def train(sv: DataFrame, k: Int, iters: Int, m: Int): DataFrame = {
      val spark = sv.sparkSession
      import spark.implicits._
      // Seed = the K lowest-id vectors with codes REMAPPED to dense
      // 0..K'-1 by id rank (ADVICE r9): the former `code = vec_id` seed
      // is only dense when corpus ids densely cover [0, K) — a shifted
      // or extended batch would train a SPARSE code set that silently
      // breaks positional ADC lookup in PqIndex.search (element_at by
      // code) and could even seed an empty codebook. On a dense-id
      // corpus (the fixture) rank(vec_id) == vec_id, so outputs are
      // unchanged. Fused seeding (round 14, guide §2.4/§5): sv carries
      // exactly m rows per vector, so the first K·m rows under the
      // (vec_id, sub) total order ARE the K lowest vec_ids' complete
      // subvector sets — one TakeOrdered job (no shuffle) replaces the
      // former distinct+orderBy+limit collect AND the filtered second
      // collect (two sequential jobs, one a distinct exchange).
      val seedRows = sv.select(col("vec_id"), col("sub"), col("sv"))
        .orderBy("vec_id", "sub").limit(k * m)
        .collect()
      // empty corpus → empty codebook → empty ranking (the EmptyInputSpec
      // contract): zero seed rows is a VALID input, not a geometry error
      if (seedRows.isEmpty)
        return Seq.empty[(Int, Int, Seq[Double])].toDF("sub", "code", "c")
      val rank: Map[Long, Int] =
        seedRows.map(_.getLong(0)).distinct.sorted.zipWithIndex.toMap
      var cb: Seq[(Int, Int, Seq[Double])] =
        seedRows.toSeq
          .map(r => (r.getInt(1), rank(r.getLong(0)), r.getSeq[Double](2)))
      for (_ <- 1 to iters) {
        // ONE aggregation exchange per round (round 14, guide §2.4): the
        // (sub, code, p) partial-sum frame is ≤ M·K·sd rows BY
        // CONSTRUCTION (bounded-collect class), so the former second
        // groupBy(sub, code) + collect_list exchange — a whole extra
        // shuffle + AQE barrier per round regrouping an already-bounded
        // frame — is replaced by driver-side assembly of the same rows.
        // Mean values are bit-identical: the same sx9/1e9/n double
        // division, now in Scala (Long/Double → Double, then /n).
        val rows = assignLocal(sv, cb)
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("p", "x")))
          .groupBy("sub", "code", "p")
          .agg(sum(floor(col("x") * 1e9 + lit(0.5)).cast("long")).as("sx9"),
               count(lit(1)).as("n"))
          .collect()
        val means: Map[(Int, Int), Seq[Double]] = rows
          .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getLong(3), r.getLong(4))))
          .groupBy(_._1)
          .map { case (sc, g) =>
            sc -> g.map(_._2).sortBy(_._1).map(t => t._2 / 1e9 / t._3).toSeq
          }
        // empty clusters keep their previous centroid
        cb = cb.map { case (s0, c0, old) => (s0, c0, means.getOrElse((s0, c0), old)) }
      }
      cb.toDF("sub", "code", "c")
    }

    /** Per-query ADC partial-distance rows: (qid, sub, row: array<long>)
      * with row[code] = floor(d²(q_sub, c)·1e9 + 0.5) — the same exact
      * integers the former (qid, sub, code, p9) broadcast-join fan-out
      * produced, generated IN-ROW (functions.PqDistRow, round 14 — the
      * graft_pq_argmin rationale: the ×K join existed only to be packed
      * straight back into this array). Exact integers, so ADC sums stay
      * merge-order-free; ≤ queries·M rows by construction. */
    def queryTables(qsv: DataFrame, cb: DataFrame): DataFrame = {
      graft.functions.VectorExprs.register(qsv.sparkSession)
      val local = localCb(cb)
      // empty codebook → empty table frame (the former inner join's
      // zero-row result; EmptyInputSpec)
      if (local.isEmpty)
        return qsv.select(col("vec_id").as("qid"), col("sub"),
          lit(null).cast("array<bigint>").as("row")).where(lit(false))
      qsv.select(col("vec_id").as("qid"), col("sub"),
        call_function("graft_pq_dists",
          typedlit(nestedCb(local)), col("sub"), col("sv"), col("nsv")).as("row"))
    }

    /** Top-k over exact integer ADC sums (qid, vid, ad2_9) →
      * (qid, vid, ad2, rn) — the one ranking tail both the in-query
      * form and PqIndex.search use, so their outputs are comparable
      * row-for-row. */
    def topkOfSums(sums: DataFrame, k: Int): DataFrame = {
      val topk = udaf(new graft.functions.TopKAgg(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long, Long)]())
      sums
        // TopKAgg keeps the max under (score desc, id asc): negate the
        // exact integer distance so "max" = nearest; ad2_9 ≤ ~3e10 is
        // exactly representable as a double
        .groupBy("qid")
        .agg(topk((-col("ad2_9")).cast("double"), col("vid"), col("vid")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col._2").as("vid"),
          r4(-col("col._1") / 1e9).as("ad2"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy("qid", "rn")
    }

    /** Top-k by summed ADC distance over per-(vec, sub, code) rows
      * joined with `queryTables` output: (qid, vid, ad2, rn). */
    /** (vec_id, codes: array<int>) — `assign` output packed to the
      * M-cell-per-vector layout (sort_array fixes collect_list's
      * arrival order): the row shape PqIndex persists and the packed
      * ADC scan (`adcExpr`) consumes. */
    def packCodes(assigned: DataFrame): DataFrame =
      assigned.groupBy("vec_id")
        .agg(expr("transform(sort_array(collect_list(struct(sub, code))), t -> t.code)")
          .as("codes"))

    /** (qid, tab: array<array<long>>) — `queryTables` output nested to
      * tab[sub][code]: the per-query lookup table `adcExpr` reads.
      * ≤ queries·M·K cells by construction. */
    def packQueryTables(qtab: DataFrame): DataFrame =
      qtab.groupBy("qid")
        .agg(expr("transform(sort_array(collect_list(struct(sub, row))), t -> t.row)")
          .as("tab"))

    /** The ADC sum over a (codes, tab) row pair: M exact-integer array
      * lookups INSIDE the row — no per-(sub, code) join, no aggregation
      * after. This is the IVFADC scan shape every ADC consumer shares
      * (PqIndex.search and the dense top-k pq/ivfpq candidate modes):
      * the join form shuffles candidates·M rows and hash-aggregates
      * candidates groups; this form shuffles candidates rows and
      * aggregates nothing. graft_adc is the codegen'd loop
      * (functions.AdcSum — the HOF fold it replaced kept the whole scan
      * stage out of whole-stage codegen). Callers hold the usual
      * VectorExprs.register precondition; the loop bound is row-derived
      * (min(|codes|, |tab|)), M being pinned by the packing. */
    def adcExpr: org.apache.spark.sql.Column =
      expr("graft_adc(codes, tab)").as("ad2_9")
  }

  /** llm_ann_pq's query batch: the vectors with vec_id below it. */
  val AnnPqQueries = 10

  /** llm_ann_pq — product-quantization ANN (Jégou/Douze/Schmid,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
    * 2011 — the public method behind every billion-vector FAISS IVF-PQ
    * deployment). Vectors are split into M subspaces; each subspace
    * gets a K-centroid codebook trained by Lloyd iterations; a vector's
    * code is M bytes (nearest centroid per subspace) — 64-d float32
    * compresses 32× to 8 bytes. Queries rank candidates by ADC
    * (asymmetric distance): per query a bounded M×K table of
    * query-to-centroid partial distances, approximate d² = sum of M
    * table lookups over the candidate's code. Output: top-3 neighbours
    * per query (qid < 10) by approximate d², ties by vid.
    *
    * No oracle by declared design (a k-means codebook is
    * engine-specific, like the minhash/simhash signatures); PqSpec
    * gates ADC error against exact d², pins recall@3 vs the exact
    * answer, run-to-run determinism, and the bounded-codebook plan.
    *
    * Default geometry M=16 / K=64 / 2 rounds calibrated by PqCalibrate
    * at sf0.001 (the fixture's random vectors are PQ's WORST case — no
    * cluster structure to exploit): mean relative ADC error 0.154 /
    * max 0.264 / recall@3 0.43, vs 0.40/0.51/0.10 at the textbook
    * M=8/K=16 start (a third round buys 0.154 → 0.138 for ~0.7 s of
    * suite wall); the sweep showed relErr monotone in M·log₂K while recall on
    * 30 near-equidistant ground-truth slots is noisy — so the spec
    * gates lean on the DISTANCE error, with a loose recall floor.
    * Geometry changes MUST re-run PqCalibrate and re-pin (the
    * SimhashCalibrate rule).
    *
    * Scale shape (the 100 TB story): training touches the corpus
    * O(iters) times but every shuffle is BOUNDED — assignment is a
    * broadcast join against the ≤M·K-row codebook followed by a
    * min_by agg (map-side combined), the centroid update aggregates to
    * ≤M·K·subDim rows. Encoding is one more broadcast-assign; the ADC
    * scan is one pass over the codes with the per-query tables
    * broadcast (≤nq·M·K rows by construction), partial-agg'd into
    * per-(query, candidate) sums and a bounded TopKAgg — no shuffle
    * ever carries corpus-sized vector payloads, only M-byte codes.
    * (In production the train corpus is a sample; the conf'd geometry
    * here trains on the full fixture for determinism.)
    *
    * Determinism discipline: centroid means and ADC sums accumulate as
    * exact scaled integers (floor(x·1e9 + 0.5) longs — order-free),
    * so codebooks and rankings are pure functions of the corpus, not
    * of task scheduling; init is the K lowest-id vectors per subspace.
    */
  val llmAnnPq: Q = (s, d) => {
    graft.functions.VectorExprs.register(s)
    val (m, k, iters) = Pq.geometry(s)
    // subvector stream re-read every Lloyd round — cut once
    val sv = graft.ops.Lineage.cut(Pq.subvectors(Tables.embeddings(s, d), m))
    val cb = Pq.train(sv, k, iters, m)
    // Packed ADC scan — the IVFADC shape every other ADC
    // consumer already shared (PqIndex.search, the densePairs pq/ivfpq
    // candidate modes): codes pack to one M-int array per vector, the
    // per-query tables nest to tab[sub][code], and each (query, vector)
    // pair pays M in-row integer lookups (graft_adc). Value-identical
    // to the former per-(sub, code) join + sum (exact integer adds in
    // subspace order — the adcExpr scaladoc contract), but the N·M-row
    // join output and its (qid, vid) hash-aggregate exchange drop out
    // of the plan; only the ≤N-row pack aggregate shuffles.
    val codesPk = Pq.packCodes(Pq.assign(sv, cb).select("vec_id", "sub", "code"))
      .withColumnRenamed("vec_id", "vid")
    val qtabPk = Pq.packQueryTables(
      Pq.queryTables(sv.where(col("vec_id") < AnnPqQueries), cb))
    Pq.topkOfSums(
      codesPk.join(broadcast(qtabPk), col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"), Pq.adcExpr),
      k = 3)
  }

  val queries: Map[String, Q] = Map(
    "llm_ann_pq"  -> llmAnnPq,
    "llm_minhash" -> llmMinhash,
    "llm_simhash" -> llmSimhash,
  )

  /** Sketch values are engine-specific; no SQL oracle (rows-only check). */
  val oracle: Map[String, String] = Map.empty
}
