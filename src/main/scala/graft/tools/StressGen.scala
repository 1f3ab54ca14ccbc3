package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perf-stress data generator: replicates a fixture dir K× with shifted
  * primary keys (FKs to dimensions preserved) into a scratch dir. For
  * scale-behavior testing ONLY — correctness always runs against the
  * pristine driver fixtures. Usage:
  * runMain graft.tools.StressGen <srcSfDir> <dstDir> <k> [kDocs] [kEmb]
  *
  * Dup-heavy documents mode (round 9, VERDICT r8 #1): pass `dup` as
  * kDocs (e.g. `StressGen src dst 1 dup:10`) to replicate documents
  * k× with CONTROLLED duplicate structure instead of byte-identical
  * clones — the corpus a web-scale dedup pipeline actually faces, and
  * the input for measuring the heavy dedup family's scaling exponents
  * (DedupScale) and the collapseExact A/B.
  */
object StressGen {
  private val OFF = 100000000L

  /** Dup-heavy documents replication: k× the corpus as ⌈k/5⌉ mutually
    * token-disjoint COHORTS of (up to) 5 replicas each. Replica
    * i ∈ [0, k) belongs to cohort g = i/5 with role r = i%5; within a
    * cohort every replica's tokens carry the cohort suffix (cohort 0
    * keeps the pristine text), so cohorts share zero vocabulary —
    * cross-cohort Jaccard is 0 — while INSIDE a cohort each doc heads a
    * controlled duplicate cluster, deterministic per doc via
    * c(doc) = 2 + (xxhash64(doc_id) mod 4) ∈ [2, 5]:
    *
    *   - r < c            EXACT duplicates (cohort text unchanged) — an
    *                      exact cluster of c ∈ [2, 5] members, the
    *                      duplicate factor 2-5× of a scraped corpus;
    *   - r == c (c < 5)   ONE near duplicate: a cohort-unique token
    *                      appended, token-set Jaccard n/(n+1) ≈ 0.96 ≥
    *                      the 0.8 near-dup floor against the cluster;
    *   - r > c            DISTINCT: every token additionally suffixed
    *                      with the replica index — Jaccard 0 against
    *                      every other replica class.
    *
    * URL synthesis (round 13, VERDICT r12 #4): 75% of base docs (keyed
    * on the PRE-shift doc_id, so a whole duplicate cluster agrees) carry
    * one appended URL token `https://www.siteX.example/gG/pY?u=1` keyed
    * on (doc_id mod 97, cohort, doc_id mod 997) — llm_url_dedup /
    * url_extract / domain_* compared empty-vs-empty on the old corpus
    * (the pristine fixtures carry no URLs), which checks nothing. The
    * cohort lands in the PATH so canonical URLs stay cohort-disjoint
    * (the `?u=1` query would be stripped by canonicalization, so a
    * cohort marker there would alias across cohorts); exact replicas
    * share the URL byte-for-byte (text stays exact-equal), the near-dup
    * keeps it (Jaccard (n+1)/(n+2), still ≥ the 0.8 floor), distinct
    * replicas suffix it like every other token. The mod-97/997 keying
    * creates real cross-doc canonical collisions inside a cohort, so
    * the dedup output exercises n_docs > 1 clusters beyond the exact
    * replica structure. One extra token per doc leaves the cohort
    * token-disjointness and pairs-linear-in-k construction intact.
    *
    * The cohort decomposition is what makes the MEASUREMENT mean
    * something: duplicate-cluster sizes, per-doc near-pair counts and
    * the base corpus's own intra-cohort near-dup structure are all
    * k-independent (only cohort COUNT grows), so total near-dup pairs
    * grow LINEARLY in corpus size by construction — a super-linear
    * runtime curve in DedupScale indicts a pipeline stage, not the
    * data. (A naive k× clone instead grows every cluster k-wide —
    * quadratic pair counts baked into the corpus.) Exact-dup share is
    * c̄/5 = 70% of rows at any k ≥ 5: heavy enough that the
    * collapseExact A/B measures the knob where it matters. */
  def documentsDup(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    val out = (0 until k).map { i =>
      val g = i / 5; val r = i % 5
      val c = pmod(xxhash64(col("doc_id")), lit(4)) + lit(2) // 2..5
      // cohort text WITH the synthesized URL token (before the replica
      // transforms, so exact replicas share it byte-for-byte and the
      // distinct replicas suffix it like any other token)
      val urlSql = s"CASE WHEN pmod(doc_id, 4) = 3 THEN text ELSE concat(text," +
        s" ' https://www.site', pmod(doc_id, 97), '.example/g$g/p'," +
        s" pmod(doc_id, 997), '?u=1') END"
      val cohortSql =
        if (g == 0) urlSql
        else s"array_join(transform(split($urlSql, ' '), t -> concat(t, '_g$g')), ' ')"
      val text =
        when(lit(r) < c, expr(cohortSql))
          .when(lit(r) === c, concat(expr(cohortSql), lit(s" pert_g$g")))
          .otherwise(expr(
            s"array_join(transform(split($cohortSql, ' '), t -> concat(t, '_x$i')), ' ')"))
      base.select(
        (col("doc_id") + lit(i * OFF)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast(base.schema("n_chars").dataType).as("n_chars"))
    }.reduce(_ union _)
    out.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"stress: documents x$k (dup-heavy, ${(k + 4) / 5} cohorts) -> ${out.count()} rows")
  }

  /** Novel-heavy documents replication (round 9, llm_dedup_bloom's
    * regime): k× the corpus with copy i > 0 suffixing EVERY token with
    * the copy index — copies are mutually token-disjoint and
    * byte-distinct, so the corpus keeps the base's ~99.8% distinctness
    * at any k. This is the daily-refresh shape a bloom-routed dedup is
    * FOR: almost the whole new batch is novel, the filter's miss
    * majority is nearly everything. (documentsDup is the opposite
    * regime — 70% exact-dup mass — and doubles as the bloom worst
    * case: a might-rate near the dup share.) */
  def documentsNovel(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    val out = (0 until k).map { i =>
      val text =
        if (i == 0) col("text")
        else expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_n$i')), ' ')")
      base.select(
        (col("doc_id") + lit(i * OFF)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast(base.schema("n_chars").dataType).as("n_chars"))
    }.reduce(_ union _)
    out.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"stress: documents x$k (novel-heavy) -> ${out.count()} rows")
  }

  /** Replicate one table `times`× with the `shifted` key columns offset
    * per copy (FKs to unreplicated dimensions stay valid; co-shifted
    * key pairs — l_orderkey/o_orderkey — stay joined). */
  def replicate(spark: SparkSession, src: String, dst: String,
                name: String, times: Int, shifted: Seq[String]): Unit = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    val out = (0 until times).map { i =>
      shifted.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * OFF)))
    }.reduce(_ union _)
    out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    println(s"stress: $name x$times -> ${out.count()} rows")
  }

  /** Graph-corpus replication for GraphScale (round 9, fifth session):
    * lineitem k× with BOTH l_orderkey AND l_partkey shifted — each copy
    * is an INDEPENDENT co-purchase graph population (node count ×k,
    * edge count ×k, per-node degree and triangle density constant), the
    * graph analogue of documentsDup's token-disjoint cohorts. Shifting
    * only the order key (coreStress) would instead DENSIFY one fixed
    * 20 k-part graph — per-node degree ×k, wedge volume ×k², triangle
    * count ×k³-ish — a different corpus, not a bigger one (real link
    * graphs grow in nodes). Orders co-shift o_orderkey and o_custkey
    * (independent customer populations: per-customer SCD2 change
    * streams stay fixture-depth, customer COUNT grows); events shift
    * event_id/user_id as in coreStress. The part FK intentionally
    * dangles — no graph/SCD2/corr query joins the part dimension.
    *
    * Customer replicates k× with c_custkey co-shifted (round 13: the
    * o_custkey populations now RESOLVE instead of dangling), and copies
    * i ≥ 1 flip a deterministic half-slice (pmod(c_custkey, 2) = 0) of
    * segments to BUILDING. The flip is multiplicity-surviving synthesis
    * for set_except_all (VERDICT r12 #4): on the pristine distribution
    * every nation has more acctbal>5000 customers (~45%) than BUILDING
    * ones (~20%), so BUILDING EXCEPT ALL rich is empty at every k and
    * the ×k oracle cell compared empty-vs-empty — checking nothing.
    * Flipped copies carry BUILDING share 0.5 + 0.5·0.2 = 0.6 > 0.45, so
    * per-nation BUILDING multiplicity exceeds rich multiplicity and the
    * multiset difference survives with real rows. Segment is the one
    * column no numeric aggregate reads — acctbal/nationkey stay
    * pristine, so only segment-keyed queries see the synthesis (both
    * engines, consistently). */
  def graphStress(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    Seq("region", "nation", "supplier", "part")
      .foreach(replicate(spark, src, dst, _, 1, Nil))
    val base = spark.read.parquet(s"$src/customer.parquet")
    val cust = (0 until k).map { i =>
      val shifted = base.withColumn("c_custkey", col("c_custkey") + lit(i * OFF))
      if (i == 0) shifted
      else shifted.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(2)) === 0, lit("BUILDING"))
          .otherwise(col("c_mktsegment")))
    }.reduce(_ union _)
    cust.write.mode("overwrite").parquet(s"$dst/customer.parquet")
    println(s"stress: customer x$k (BUILDING-skewed copies >0) -> ${cust.count()} rows")
    replicate(spark, src, dst, "orders", k, Seq("o_orderkey", "o_custkey"))
    replicate(spark, src, dst, "lineitem", k, Seq("l_orderkey", "l_partkey"))
    replicate(spark, src, dst, "events", k, Seq("event_id", "user_id"))
  }

  /** Deterministic Zipf(1)-degree power-law graph for GraphHubScale
    * (round 10, VERDICT r9 #5): the hub regime the degree-ordered
    * triangle orientation exists for — the graphStress co-purchase
    * corpus is near-uniform, so the O(√E) claim was never actually
    * stressed. Construction: each of `nEdges` raw edges draws both
    * endpoints' RANKS via the inverse-CDF map rank = ⌊N^u⌋ − 1 over a
    * hash-uniform u (P[rank ≤ x] = ln(x+2)/ln(N+1) ⇒ degree density
    * ∝ 1/(rank+1), Zipf exponent 1 — rank 0 is a genuine ~N/2-degree
    * hub after dedup), then SCATTERS ranks across the id space by the
    * fixed odd-multiplier bijection id = rank·2654435761 mod N (N a
    * power of two). The scatter is the point of the demo: with hubs at
    * low ids, id-orientation (src < dst) accidentally approximates
    * degree-orientation (a hub at id 0 has indegree 0 — no wedge ever
    * centers on it); scattered, a hub's neighbours split ~half below /
    * ~half above its id, so id-oriented wedge volume at the hub is
    * Θ(deg²/4) while degree-oriented keeps every center's fan-out
    * O(√E). Fully hash-deterministic (Det rule: no Math.random), edges
    * canonical (src < dst) and distinct — the shape copurchaseEdges
    * emits, so Graphs.sparsifiedTriangles consumes it directly. */
  def zipfEdges(spark: SparkSession, nNodes: Int, nEdges: Long): DataFrame = {
    require((nNodes & (nNodes - 1)) == 0, s"nNodes must be a power of 2, got $nNodes")
    val n = lit(nNodes.toLong)
    def endpoint(salt: Int) = {
      val u = pmod(xxhash64(col("id"), lit(salt)), lit(1000000L)) / lit(1000000.0)
      val rank = (pow(lit(nNodes.toDouble + 1), u) - lit(1.0)).cast("long")
      pmod(rank * lit(2654435761L), n)
    }
    spark.range(nEdges)
      .select(endpoint(0).as("a"), endpoint(1).as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
              greatest(col("a"), col("b")).as("dst"))
      .distinct()
  }

  /** Core-engine replication for CoreScale (round 9): the relational
    * tables k× with ALL entity keys shifted — orders/lineitem co-shift
    * the order key (the join stays k-partite), events shift event_id
    * AND user_id so each copy is an independent user population (same
    * per-user history ⇒ per-key work constant, key COUNT grows — the
    * linear-by-construction analogue of documentsDup's cohorts; the
    * legacy main keeps user_id fixed, which multiplies per-user window
    * depth instead — a different, also-interesting stress). Dimensions
    * copy once. */
  def coreStress(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(replicate(spark, src, dst, _, 1, Nil))
    replicate(spark, src, dst, "orders", k, Seq("o_orderkey"))
    replicate(spark, src, dst, "lineitem", k, Seq("l_orderkey"))
    replicate(spark, src, dst, "events", k, Seq("event_id", "user_id"))
  }

  /** Vector-corpus replication for VectorScale (round 9): embeddings k×
    * where copy 0 is the pristine fixture and every copy i ≥ 1 is an
    * INDEPENDENT pseudo-random population — each element replaced by a
    * deterministic hash-uniform value in [−1, 1] keyed on
    * (vec_id, copy, position), NOT a perturbed clone. A byte-identical
    * (or jittered) clone would hand every vector k near-parallel twins,
    * growing near-dup pair counts and per-cell candidate volume
    * quadratically in k BY CONSTRUCTION — the same trap documentsDup's
    * token-disjoint cohorts avoid; independent populations keep
    * cross-copy cosines in the random band, so similarity structure per
    * vector is k-independent and candidate/output volumes grow linearly
    * in corpus size. Labels and id spacing match the fixture. */
  def vectorStress(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val out = (0 until k).map { i =>
      if (i == 0) base
      else base.select(
        (col("vec_id") + lit(i * OFF)).as("vec_id"),
        expr(s"transform(embedding, (x, p) -> cast((pmod(xxhash64(vec_id, $i, p), 2001) - 1000) / 1000.0 AS float))")
          .as("embedding"),
        col("label"))
    }.reduce(_ union _)
    out.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"stress: embeddings x$k (independent populations) -> ${out.count()} rows")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val k = args(2).toInt
    val kDocsArg = args.lift(3).getOrElse("3")
    val kEmb = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = graft.Session.local("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    // Relational-mode arg (args(5), default "core"): "graph" replicates
    // via graphStress — BOTH l_orderkey AND l_partkey shifted, so each
    // copy is an independent co-purchase graph population and graph_cc's
    // component structure (and the fixed-round oracle's convergence
    // depth) is k-invariant. The legacy "core" shift densifies one fixed
    // part graph instead (see graphStress scaladoc) — wrong input for a
    // scaled GRAPH oracle check, kept as the default for the perf
    // harnesses that want the classic key-shift. (VERDICT r11 #2)
    if (args.lift(5).contains("graph"))
      graphStress(spark, src, dst, k)
    else {
      Seq("region", "nation", "customer", "supplier", "part")
        .foreach(replicate(spark, src, dst, _, 1, Nil))
      replicate(spark, src, dst, "orders", k, Seq("o_orderkey"))
      replicate(spark, src, dst, "lineitem", k, Seq("l_orderkey"))
      replicate(spark, src, dst, "events", k, Seq("event_id"))
    }
    if (kDocsArg.startsWith("dup:"))
      documentsDup(spark, src, dst, kDocsArg.stripPrefix("dup:").toInt)
    else
      replicate(spark, src, dst, "documents", kDocsArg.toInt, Seq("doc_id"))
    replicate(spark, src, dst, "embeddings", kEmb, Seq("vec_id"))
    spark.stop()
  }
}
