package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Webops behavior on documents that actually LOOK like web content —
  * the sf fixtures contain no URLs or markup (their oracle run
  * validates only the cross-engine rails), so this spec synthesizes a
  * web-shaped corpus in the fixture schema and pins extraction,
  * stripping and charset counts. Same discipline as PiiScrubSpec. */
class WebopsSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val dir: String = {
    val base = tempDir("graft_web")
    import spark.implicits._
    Seq(
      (0L, "see https://a.example.com/x and http://b.org plus https://a.example.com/y", "en", "w", 0L),
      (1L, "<div class=\"x\"><p>Hello  World</p></div> tail", "en", "w", 0L),
      (2L, "plain words only 123 ABC", "en", "w", 0L),
      (3L, "visit http:///odd and https://ok.io", "en", "w", 0L),
      (4L, "", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  test("url extract counts urls and distinct domains; url-free docs report zeros") {
    val rows = queries.Webops.llmUrlExtract(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), Option(r.getString(4)))).toSeq
    rows(0) shouldBe ((0L, 3L, 2L, Some("a.example.com")))
    rows(1) shouldBe ((1L, 0L, 0L, None))
    rows(2) shouldBe ((2L, 0L, 0L, None))
    // degenerate "http:///odd": the URL matches but its domain group
    // doesn't — BOTH engines yield '' for a no-match extract (probed
    // against DuckDB RE2), so '' is a countable domain value by contract
    rows(3) shouldBe ((3L, 2L, 2L, Some("")))
  }

  test("markup strip removes tags, squeezes spaces, trims; counts match") {
    val rows = queries.Webops.llmMarkupStrip(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    rows(0)._2 shouldBe 0L
    rows(1) shouldBe ((1L, 4L, "Hello World tail"))
    rows(2) shouldBe ((2L, 0L, "plain words only 123 ABC"))
  }

  test("charset stats count ascii/digit/upper and ratio exactly") {
    val r2 = queries.Webops.llmCharsetStats(spark, dir)
      .where(col("doc_id") === 2).head()
    // "plain words only 123 ABC": 24 chars, all printable ascii
    r2.getLong(2) shouldBe 24L
    r2.getLong(3) shouldBe 24L
    r2.getLong(4) shouldBe 3L // digits 1 2 3
    r2.getLong(5) shouldBe 3L // A B C
    r2.getDouble(6) shouldBe 1.0
    // empty doc: ratio is DEFINED as 0.0, not engine-specific x/0
    val r4row = queries.Webops.llmCharsetStats(spark, dir)
      .where(col("doc_id") === 4).head()
    r4row.getLong(2) shouldBe 0L
    r4row.getDouble(6) shouldBe 0.0
  }

  test("trailing sentence punctuation is trimmed from urls and domains") {
    import spark.implicits._
    val d = tempDir("graft_trail")
    Seq(
      (0L, "see https://a.com. and then stop", "en", "w", 0L),
      (1L, "(docs at https://b.io/path), right?", "en", "w", 0L),
      (2L, "really? https://c.net/x?q=1!", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = queries.Webops.llmUrlExtract(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), Option(r.getString(4)))).toSeq
    rows(0) shouldBe ((0L, 1L, Some("a.com")))   // not "a.com."
    rows(1) shouldBe ((1L, 1L, Some("b.io")))    // "…/path)," trimmed
    // the query string survives; only the trailing '!' goes
    rows(2) shouldBe ((2L, 1L, Some("c.net")))
  }

  test("domain stats roll the corpus up by first_domain with a '<none>' bucket") {
    val rows = queries.Webops.llmDomainStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    // doc 0 → a.example.com; doc 3 → '' (degenerate domain by contract);
    // docs 1, 2, 4 have no URLs → '<none>'
    rows.map(_._1) shouldBe Seq("", "<none>", "a.example.com")
    val none = rows.find(_._1 == "<none>").get
    none._2 shouldBe 3L // docs 1, 2, 4
    none._4 shouldBe 1L // one lang
    // every doc lands in exactly one bucket — the rollup partitions the corpus
    rows.map(_._2).sum shouldBe 5L
  }

  test("url dedup folds scheme/case/www/query/fragment/trailing-slash variants into one key") {
    import spark.implicits._
    val d = tempDir("graft_udup")
    Seq(
      (0L, "ref https://www.Site.com/Page/?utm=1 end", "en", "w", 0L),
      (1L, "see http://site.com/page#frag now", "en", "w", 0L),
      (2L, "at https://site.com/page/", "en", "w", 0L),
      (3L, "other https://site.com/other", "en", "w", 0L),
      (4L, "no urls here", "en", "w", 0L),
      (5L, "two https://zz.org/a and https://aa.org/b", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = queries.Webops.llmUrlDedup(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // docs 0/1/2 canonicalize to the same key (case, www., ?query,
    // #fragment, trailing slash are presentation); keeper = min doc_id.
    // doc 5 is keyed by the lexicographic MIN of its two canon URLs.
    // doc 4 has no URL → cannot URL-collide → absent.
    rows shouldBe Seq(
      ("aa.org/b", 5L, 1L),
      ("site.com/other", 3L, 1L),
      ("site.com/page", 0L, 3L))
  }

  test("domain cap keeps the K lowest doc_ids per site; domainless docs are exempt") {
    import spark.implicits._
    val d = tempDir("graft_cap")
    Seq(
      (0L, "a https://hot.com/1", "en", "w", 0L),
      (1L, "b https://hot.com/2", "en", "w", 0L),
      (2L, "c https://hot.com/3", "en", "w", 0L), // third hot.com doc → cut
      (3L, "d https://cold.org/1", "en", "w", 0L),
      (4L, "no urls at all", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = queries.Webops.llmDomainCap(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq
    rows shouldBe Seq(
      (0L, "hot.com", 1L, true),
      (1L, "hot.com", 2L, true),
      (2L, "hot.com", 3L, false), // rk 3 > cap 2
      (3L, "cold.org", 1L, true),
      (4L, "<none>", 0L, true))   // no site → cap does not apply
  }

  test("domain rank matches the hand-computed two-iteration PageRank") {
    import spark.implicits._
    val d = tempDir("graft_rank")
    // one doc at a.com linking to b.com: nodes {a.com, b.com}, edge a→b,
    // b dangling. r0 = (.5, .5);
    // iter1: dm=.5, cin(b)=.5 → r(a)=.075+.85*.25=.2875, r(b)=.075+.85*.75=.7125
    // iter2: dm=.7125, cin(b)=.2875
    //   → r(a)=.075+.85*(.7125/2)=.3778125 → r4 .3778
    //     r(b)=.075+.85*(.2875+.35625)=.6221875 → r4 .6222  (Σ=1)
    Seq((0L, "x https://a.com/p https://b.com/q", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = queries.Webops.llmDomainRank(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    rows shouldBe Seq(("a.com", 1L, 0.3778), ("b.com", 0L, 0.6222))
  }

  test("domain rank on the url-free fixture: one isolated '<none>' node holds all mass") {
    val rows = queries.Webops.llmDomainRank(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    rows shouldBe Seq(("<none>", 0L, 1.0))
  }

  test("on the web-free fixture: zero urls, zero tags, strip is whitespace-identity") {
    queries.Webops.llmUrlExtract(spark, sfDir)
      .where(col("n_urls") =!= 0).count() shouldBe 0L
    val ms = queries.Webops.llmMarkupStrip(spark, sfDir)
    ms.where(col("n_tags") =!= 0).count() shouldBe 0L
    ms.join(Tables.documents(spark, sfDir), "doc_id")
      .where(col("clean_text") =!= col("text")).count() shouldBe 0L
  }
}
