package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Det._

/** Web-corpus cleaning/extraction operators (round 5, SURVEY §2.13
  * growth): the steps between "crawled HTML-ish text" and the cleaned
  * corpus the rest of the LLM pipeline assumes — URL extraction, markup
  * stripping, and charset composition stats. All are single-projection
  * (or projection + bounded per-doc agg) passes with codegen'd regex
  * expressions — no UDFs, no shuffles beyond the per-doc aggregation —
  * the only shapes that survive a full-corpus pass at 100 TB.
  *
  * Regex discipline matches llm_pii_scrub / llm_regex_tokens:
  * lookahead-free patterns with identical semantics under Java regex
  * (Spark codegen) and RE2 (the DuckDB oracle). The sf fixtures contain
  * no URLs or markup, so the oracle run validates the cross-engine
  * rails; WebopsSpec synthesizes web-shaped docs and pins behavior.
  */
object Webops {

  private val urlRe = "https?://[^ ]+"
  private val domRe = "https?://([^/ ]+)"
  private val tagRe = "<[^>]*>"
  /** Trailing sentence punctuation is prose, not URL: `see
    * https://a.com.` must yield domain `a.com`, not `a.com.` (r5 verdict
    * item #4 — a real user grouping by domain hits the difference
    * immediately). Applied as a second anchored regexp_replace on each
    * extracted match — lookahead-free, so Java regex and RE2 agree. */
  private val trailRe = "[.,);!?]+$"

  /** llm_url_extract — per-doc URL census: how many URLs, how many
    * distinct domains, and the lexicographically-first domain (a stable
    * representative for per-site grouping downstream). Docs without
    * URLs report 0/0/NULL — the inner explode would drop them, so the
    * extraction re-joins the full doc list via a left join on doc_id
    * (broadcast-sized? no — doc-count-sized, stays a shuffle join). */
  val llmUrlExtract: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val urls = docs
      .select(col("doc_id"), explode(expr(s"regexp_extract_all(text, '$urlRe', 0)")).as("url"))
      .withColumn("url", regexp_replace(col("url"), lit(trailRe), lit("")))
      .withColumn("domain", regexp_extract(col("url"), domRe, 1))
    val perDoc = urls.groupBy("doc_id")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct("domain").as("n_domains"),
           min("domain").as("first_domain"))
    docs.select("doc_id", "lang").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_urls"), lit(0L)).as("n_urls"),
        coalesce(col("n_domains"), lit(0L)).as("n_domains"),
        col("first_domain"))
      .orderBy("doc_id")
  }

  /** llm_markup_strip — HTML-ish tag removal: replace every `<...>` run
    * with a space, squeeze repeated spaces, trim. Reports the tag count
    * and an md5 of the cleaned text (the compact cross-engine witness
    * that the full cleaned string matches — same trick as
    * llm_stopword_scrub's clean_md5). */
  val llmMarkupStrip: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        regexp_count(col("text"), lit(tagRe)).cast("long").as("n_tags"),
        trim(regexp_replace(
          regexp_replace(col("text"), lit(tagRe), lit(" ")),
          lit("  +"), lit(" "))).as("clean_text"))
      .withColumn("clean_md5", md5(col("clean_text").cast("binary")))
      .orderBy("doc_id")

  /** llm_charset_stats — per-doc character composition: printable-ASCII
    * count, digit count, uppercase count, and the ASCII ratio (the
    * cheap first-pass language/garbage discriminator of a web
    * pipeline). All counts via regexp_count on single-char classes —
    * one codegen'd projection. */
  val llmCharsetStats: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_txt"),
        regexp_count(col("text"), lit("[ -~]")).cast("long").as("n_ascii"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"),
        regexp_count(col("text"), lit("[A-Z]")).cast("long").as("n_upper"))
      // empty docs (common after aggressive cleaning): define the ratio
      // as 0.0 rather than inherit each engine's x/0 behavior (Spark
      // NULL vs DuckDB IEEE inf) — the oracle mirrors the same CASE
      .withColumn("ascii_ratio",
        when(col("n_chars_txt") === 0, lit(0.0))
          .otherwise(r4(col("n_ascii") * lit(1.0) / col("n_chars_txt"))))
      .orderBy("doc_id")

  /** llm_domain_stats — per-domain corpus rollup: the grouping every
    * web-pipeline quality filter runs on (block lists, per-site caps,
    * source-mix reports). Each doc is attributed to its first_domain
    * (the lexicographically-first of its trimmed URL domains, as
    * llm_url_extract); docs without URLs land in the '<none>' bucket so
    * the rollup always partitions the whole corpus. Reports docs, token
    * sum, average tokens and distinct languages per domain. Scale: one
    * per-doc bounded agg + one groupBy(domain) — shuffle width =
    * distinct domains, never rows. */
  val llmDomainStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val firstDom = docs
      .select(col("doc_id"), explode(expr(s"regexp_extract_all(text, '$urlRe', 0)")).as("url"))
      .withColumn("domain",
        regexp_extract(regexp_replace(col("url"), lit(trailRe), lit("")), domRe, 1))
      .groupBy("doc_id").agg(min("domain").as("domain"))
    docs.join(firstDom, Seq("doc_id"), "left")
      .withColumn("domain", coalesce(col("domain"), lit("<none>")))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("n_tokens"),
           r4(sum("n_tok") * lit(1.0) / count(lit(1))).as("avg_tok"),
           countDistinct("lang").as("n_langs"))
      .orderBy("domain")
  }

  /** Canonicalization chain for llm_url_dedup, applied to an extracted
    * (trail-trimmed) URL. Each pattern matches at most ONCE per string
    * (anchored, or `.*$`-consuming), so Spark's replace-all and a
    * replace-first engine agree: lowercase → strip fragment/query
    * (`[?#].*$`) → strip scheme → strip leading `www.` → strip trailing
    * slash runs. All lookahead-free (Java regex ≡ RE2). */
  private def canonUrl(u: org.apache.spark.sql.Column) =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(u), lit("[?#].*$"), lit("")),
          lit("^https?://"), lit("")),
        lit("^www\\."), lit("")),
      lit("/+$"), lit(""))

  /** llm_url_dedup — canonical-URL dedup: the crawl-level dedup that
    * runs BEFORE any content comparison (two fetches of one page differ
    * in boilerplate and timestamps, but their URLs canonicalize
    * identically — scheme, case, www., query/fragment and trailing
    * slashes are presentation, not identity). Each doc is keyed by the
    * lexicographically-first of its canonicalized URLs (the stable
    * representative, as llm_url_extract's first_domain); output is one
    * row per canonical key: keeper = min doc_id, doc count. URL-free
    * docs cannot URL-collide and don't key. Scale: codegen'd regex
    * projection + two bounded aggs — shuffle width = distinct canonical
    * URLs, never rows×rows. */
  val llmUrlDedup: Q = (s, d) => {
    val urls = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(s"regexp_extract_all(text, '$urlRe', 0)")).as("url"))
      .withColumn("curl", canonUrl(regexp_replace(col("url"), lit(trailRe), lit(""))))
    urls.groupBy("doc_id").agg(min("curl").as("url_key"))
      .groupBy("url_key")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("url_key")
  }

  /** doc_id → first_domain (trail-trimmed, min of the doc's domains)
    * over an arbitrary documents-shaped frame — the composition surface
    * behind llm_domain_cap / llm_domain_stats that CorpusPrep's cap
    * stage reuses on its CURRENT survivor frame (capping must rank the
    * docs actually in the pipeline, not the raw table). Docs without
    * URLs produce no row. */
  def firstDomain(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(expr(s"regexp_extract_all(text, '$urlRe', 0)")).as("url"))
      .withColumn("domain",
        regexp_extract(regexp_replace(col("url"), lit(trailRe), lit("")), domRe, 1))
      .groupBy("doc_id").agg(min("domain").as("domain"))

  /** The doc_ids a per-site cap of `cap` drops from `docs` (rank by
    * doc_id within first_domain, rk > cap loses; site-less docs are
    * exempt — see llm_domain_cap for the scale rationale). */
  def domainCapLosers(docs: org.apache.spark.sql.DataFrame, cap: Int)
      : org.apache.spark.sql.DataFrame = {
    require(cap >= 1, s"domain cap must be >= 1, got $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("doc_id")
    firstDomain(docs)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") > cap)
      .select("doc_id")
  }

  private val DomainCap = 2

  /** llm_domain_cap — per-site document cap (the RefinedWeb/C4-style
    * hot-domain downsampler: no single site may contribute more than K
    * docs to the corpus). Docs are attributed to their first_domain (as
    * llm_domain_stats); within each domain the K lowest doc_ids are
    * kept (deterministic, rand()-free — the md5/min-id convention this
    * repo uses for every reproducible keep/drop verdict). K is
    * `DomainCap` (2, the oracle contract, mirrored literally in the
    * SQL — the maxDf pattern).
    *
    * URL-free docs have no site, so the cap does NOT apply: they pass
    * through kept=true with rk=0 under the '<none>' label — which is
    * also the scale guard: the row_number window partitions by REAL
    * domains only, so the web-scale mega-bucket of domainless docs
    * never funnels through one task. Per-domain partitions are bounded
    * by the largest site's doc count (task-sized at web scale; a
    * pathological single-site corpus is exactly what the cap exists to
    * cut, and pre-filtering such a site's rows before ranking is the
    * upstream answer there). */
  val llmDomainCap: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("doc_id")
    val ranked = firstDomain(docs)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rk") <= DomainCap)
    docs.select("doc_id").join(ranked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("domain"), lit("<none>")).as("domain"),
        coalesce(col("rk"), lit(0L)).as("rk"),
        coalesce(col("kept"), lit(true)).as("kept"))
      .orderBy("doc_id")
  }

  /** llm_domain_rank — PageRank over the domain link graph (the
    * source-authority signal of a web pipeline: quality filters and
    * crawl schedulers weight a domain by who links to it, not by its
    * own volume). Graph: each doc is attributed to its first_domain
    * (min of its trimmed domains) and contributes distinct edges
    * first_domain → each OTHER domain it links to; nodes are every
    * domain seen (doc-attributed — including the isolated '<none>'
    * bucket for URL-free docs — plus edge endpoints). Two power
    * iterations from the uniform vector with damping 0.85 and uniform
    * dangling-mass redistribution (Σ rank = 1 each step); ranks are
    * r4-rounded only at the end.
    *
    * The iterative-graph shape beside llm_dedup_cluster's large-star /
    * small-star CC: each iteration is one edges⋈ranks shuffle (width =
    * edges) + a ≤1-row dangling aggregate — never an adjacency matrix,
    * never a driver-side loop over nodes; the iteration count is
    * `spark.graft.rank.iters` (default 2 = the oracle contract — the
    * oracle mirrors it as a 2-step CTE chain, so departing departs
    * from the declared SQL; PropertySpec re-pins 3 iterations against
    * the plain-Scala oracle), and the lineage is cut per step so the
    * plan stays bounded at any depth. Floats: damping
    * constants are written as the literal doubles 0.85 / 0.15 in BOTH
    * engines (never derived as 1.0 − 0.85, a DIFFERENT double) and the
    * oracle casts its literals to DOUBLE so DuckDB's decimal literal
    * arithmetic cannot diverge from Spark's IEEE; sum-order ulps
    * collapse under the final r4. */
  val llmDomainRank: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // cut: the (doc, domain) frame feeds BOTH the attribution agg and
    // the edge join — one regex-explode scan of the corpus, not two
    val ud = graft.ops.Lineage.cut(docs
      .select(col("doc_id"), explode(expr(s"regexp_extract_all(text, '$urlRe', 0)")).as("url"))
      .withColumn("domain",
        regexp_extract(regexp_replace(col("url"), lit(trailRe), lit("")), domRe, 1))
      .select("doc_id", "domain").distinct())
    val src = ud.groupBy("doc_id").agg(min("domain").as("src"))
    val attributed = docs.select("doc_id").join(src, Seq("doc_id"), "left")
      .select(coalesce(col("src"), lit("<none>")).as("domain"))
    val edges = graft.ops.Lineage.cut(
      ud.join(src, "doc_id").where(col("domain") =!= col("src"))
        .select(col("src"), col("domain").as("dst")).distinct())
    val nodes = graft.ops.Lineage.cut(
      attributed
        .union(edges.select(col("src").as("domain")))
        .union(edges.select(col("dst").as("domain")))
        .distinct())
    val iters = s.conf.get("spark.graft.rank.iters", "2").toInt
    require(iters >= 1 && iters <= 20,
      s"spark.graft.rank.iters must be in [1, 20], got $iters")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nTot = nodes.agg(count(lit(1)).as("n"))
    var rank = nodes.crossJoin(broadcast(nTot))
      .select(col("domain"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to iters) {
      val cur = graft.ops.Lineage.cut(rank) // feeds contrib AND dangling
      val contrib = edges
        .join(cur.withColumnRenamed("domain", "src"), "src")
        .join(deg, "src")
        .groupBy("dst").agg(sum(col("r") / col("deg")).as("cin"))
      val dangling = cur
        .join(deg.withColumnRenamed("src", "domain"), Seq("domain"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0)).as("dm"))
      rank = nodes
        .join(contrib.withColumnRenamed("dst", "domain"), Seq("domain"), "left")
        .crossJoin(broadcast(dangling)).crossJoin(broadcast(nTot))
        .select(col("domain"),
          (lit(0.15) / col("n") +
           lit(0.85) * (coalesce(col("cin"), lit(0.0)) + col("dm") / col("n"))).as("r"))
    }
    rank.join(deg.withColumnRenamed("src", "domain"), Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("deg"), lit(0L)).as("n_out"),
        r4(col("r")).as("rank"))
      .orderBy("domain")
  }

  val queries: Map[String, Q] = Map(
    "llm_url_extract"   -> llmUrlExtract,
    "llm_markup_strip"  -> llmMarkupStrip,
    "llm_charset_stats" -> llmCharsetStats,
    "llm_domain_stats"  -> llmDomainStats,
    "llm_url_dedup"     -> llmUrlDedup,
    "llm_domain_cap"    -> llmDomainCap,
    "llm_domain_rank"   -> llmDomainRank,
  )

  val oracle: Map[String, String] = Map(
    "llm_url_extract" ->
      s"""WITH u AS (
        | SELECT doc_id,
        |  regexp_replace(unnest(regexp_extract_all(text, '$urlRe')), '$trailRe', '') AS url
        | FROM documents),
        |pd AS (
        | SELECT doc_id, count(*) AS n_urls,
        |  count(DISTINCT regexp_extract(url, '$domRe', 1)) AS n_domains,
        |  min(regexp_extract(url, '$domRe', 1)) AS first_domain
        | FROM u GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        | coalesce(pd.n_urls, 0) AS n_urls,
        | coalesce(pd.n_domains, 0) AS n_domains,
        | pd.first_domain
        |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_markup_strip" ->
      s"""SELECT doc_id, lang,
        | CAST(len(regexp_extract_all(text, '$tagRe')) AS BIGINT) AS n_tags,
        | trim(regexp_replace(regexp_replace(text, '$tagRe', ' ', 'g'), '  +', ' ', 'g')) AS clean_text,
        | md5(trim(regexp_replace(regexp_replace(text, '$tagRe', ' ', 'g'), '  +', ' ', 'g'))) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_domain_stats" ->
      s"""WITH dt AS (
        | SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |u AS (
        | SELECT doc_id,
        |  regexp_replace(unnest(regexp_extract_all(text, '$urlRe')), '$trailRe', '') AS url
        | FROM documents),
        |fd AS (
        | SELECT doc_id, min(regexp_extract(url, '$domRe', 1)) AS domain
        | FROM u GROUP BY doc_id)
        |SELECT coalesce(fd.domain, '<none>') AS domain,
        | count(*) AS n_docs,
        | CAST(sum(dt.n_tok) AS BIGINT) AS n_tokens,
        | ${r4Sql("sum(dt.n_tok) * 1.0 / count(*)")} AS avg_tok,
        | count(DISTINCT dt.lang) AS n_langs
        |FROM dt LEFT JOIN fd ON fd.doc_id = dt.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_url_dedup" ->
      s"""WITH u AS (
        | SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   lower(regexp_replace(unnest(regexp_extract_all(text, '$urlRe')), '$trailRe', '')),
        |   '[?#].*$$', ''), '^https?://', ''), '^www\\.', ''), '/+$$', '') AS curl
        | FROM documents),
        |pd AS (SELECT doc_id, min(curl) AS url_key FROM u GROUP BY doc_id)
        |SELECT url_key, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM pd GROUP BY url_key ORDER BY url_key""".stripMargin,
    "llm_domain_cap" ->
      s"""WITH u AS (
        | SELECT doc_id,
        |  regexp_replace(unnest(regexp_extract_all(text, '$urlRe')), '$trailRe', '') AS url
        | FROM documents),
        |fd AS (
        | SELECT doc_id, min(regexp_extract(url, '$domRe', 1)) AS domain
        | FROM u GROUP BY doc_id),
        |rk AS (
        | SELECT doc_id, domain,
        |  CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT) AS rk
        | FROM fd)
        |SELECT d.doc_id,
        | coalesce(rk.domain, '<none>') AS domain,
        | coalesce(rk.rk, 0) AS rk,
        | coalesce(rk.rk <= 2, TRUE) AS kept
        |FROM documents d LEFT JOIN rk ON rk.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_domain_rank" ->
      s"""WITH u AS (
        | SELECT doc_id,
        |  regexp_replace(unnest(regexp_extract_all(text, '$urlRe')), '$trailRe', '') AS url
        | FROM documents),
        |ud AS (
        | SELECT DISTINCT doc_id, regexp_extract(url, '$domRe', 1) AS domain FROM u),
        |src AS (SELECT doc_id, min(domain) AS src FROM ud GROUP BY doc_id),
        |fd AS (
        | SELECT coalesce(s.src, '<none>') AS domain
        | FROM documents d LEFT JOIN src s ON s.doc_id = d.doc_id),
        |e AS (
        | SELECT DISTINCT s.src, ud.domain AS dst
        | FROM ud JOIN src s ON s.doc_id = ud.doc_id
        | WHERE ud.domain <> s.src),
        |nodes AS (
        | SELECT DISTINCT domain FROM (
        |  SELECT domain FROM fd
        |  UNION ALL SELECT src FROM e
        |  UNION ALL SELECT dst FROM e)),
        |nt AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (
        | SELECT domain, CAST(1 AS DOUBLE) / nt.n AS r FROM nodes CROSS JOIN nt),
        |d0 AS (
        | SELECT coalesce(sum(r0.r), CAST(0 AS DOUBLE)) AS dm
        | FROM r0 LEFT JOIN deg ON deg.src = r0.domain WHERE deg.src IS NULL),
        |c0 AS (
        | SELECT e.dst, sum(r0.r / deg.deg) AS cin
        | FROM e JOIN r0 ON r0.domain = e.src JOIN deg ON deg.src = e.src
        | GROUP BY e.dst),
        |r1 AS (
        | SELECT nodes.domain,
        |  CAST(0.15 AS DOUBLE) / nt.n
        |   + CAST(0.85 AS DOUBLE) * (coalesce(c0.cin, CAST(0 AS DOUBLE)) + d0.dm / nt.n) AS r
        | FROM nodes CROSS JOIN nt CROSS JOIN d0
        | LEFT JOIN c0 ON c0.dst = nodes.domain),
        |d1 AS (
        | SELECT coalesce(sum(r1.r), CAST(0 AS DOUBLE)) AS dm
        | FROM r1 LEFT JOIN deg ON deg.src = r1.domain WHERE deg.src IS NULL),
        |c1 AS (
        | SELECT e.dst, sum(r1.r / deg.deg) AS cin
        | FROM e JOIN r1 ON r1.domain = e.src JOIN deg ON deg.src = e.src
        | GROUP BY e.dst),
        |r2 AS (
        | SELECT nodes.domain,
        |  CAST(0.15 AS DOUBLE) / nt.n
        |   + CAST(0.85 AS DOUBLE) * (coalesce(c1.cin, CAST(0 AS DOUBLE)) + d1.dm / nt.n) AS r
        | FROM nodes CROSS JOIN nt CROSS JOIN d1
        | LEFT JOIN c1 ON c1.dst = nodes.domain)
        |SELECT r2.domain,
        | CAST(coalesce(deg.deg, 0) AS BIGINT) AS n_out,
        | ${r4Sql("r2.r")} AS rank
        |FROM r2 LEFT JOIN deg ON deg.src = r2.domain
        |ORDER BY r2.domain""".stripMargin,
    "llm_charset_stats" ->
      s"""SELECT doc_id, lang,
        | CAST(length(text) AS BIGINT) AS n_chars_txt,
        | CAST(len(regexp_extract_all(text, '[ -~]')) AS BIGINT) AS n_ascii,
        | CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        | CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
        | CASE WHEN length(text) = 0 THEN 0.0
        |  ELSE ${r4Sql("len(regexp_extract_all(text, '[ -~]')) * 1.0 / length(text)")} END AS ascii_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
