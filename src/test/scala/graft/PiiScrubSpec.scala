package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** llm_pii_scrub behavior on documents that actually CONTAIN PII — the
  * sf fixtures have none (their oracle run validates only the
  * cross-engine rails), so this spec synthesizes a corpus in the
  * fixture schema and pins counts and redacted text. The expected
  * strings were cross-checked against DuckDB's RE2 on the same
  * patterns (round 4), so a Java-regex semantic drift fails here
  * before it can silently zero the oracle. */
class PiiScrubSpec extends AnyFunSuite with Matchers with SparkFixture {

  private lazy val dir: String = {
    val base = tempDir("graft_pii")
    import spark.implicits._
    Seq(
      (0L, "mail a.b@ex.com or admin@1.2.3.4 host 10.0.0.1 call 555-123-4567 or 555.123.4567 x 123.456.7890", "en", "src0", 99L),
      (1L, "no pii here at all just words", "en", "src0", 29L),
      (2L, "edge: 999.999.999.999 still shaped like an ip; 12-34-5678 is not a phone; a@b.co is an email", "en", "src1", 93L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    base
  }

  test("pii scrub counts and redacts emails, ips and phones; clean text is exact") {
    val rows = queries.Textops.llmPiiScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    rows(0) shouldBe ((0L, 1L, 2L, 3L,
      "mail <EMAIL> or admin@<IP> host <IP> call <PHONE> or <PHONE> x <PHONE>"))
    rows(1) shouldBe ((1L, 0L, 0L, 0L, "no pii here at all just words"))
    // 999.999.999.999 matches the ip SHAPE (1-3 digit groups — the
    // pattern is a shape filter, not a validator); 12-34-5678 is not
    // 3-3-4 so it survives; a@b.co is a minimal email
    rows(2) shouldBe ((2L, 1L, 1L, 0L,
      "edge: <IP> still shaped like an ip; 12-34-5678 is not a phone; <EMAIL> is an email"))
  }

  test("pii scrub on the pii-free fixture is the identity with zero counts") {
    val out = queries.Textops.llmPiiScrub(spark, sfDir)
    out.where(col("n_email") =!= 0 || col("n_ip") =!= 0 || col("n_phone") =!= 0)
      .count() shouldBe 0L
    out.join(Tables.documents(spark, sfDir), "doc_id")
      .where(col("clean_text") =!= col("text")).count() shouldBe 0L
  }
}
