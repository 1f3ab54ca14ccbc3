package graft.pipelines

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Det._

/** One-line JSON datasheet for a documents corpus — the "dataset card"
  * summary a pipeline prints before handing a corpus to training (docs,
  * languages, token volume, exact-duplicate load, quality-gate yield).
  * Composes the engine's own verdicts rather than re-deriving them: the
  * dup census is llm_exact_dedup's grouping, the quality yield is the
  * SAME gopherPass column llm_gopher_rules reports and DocStreams
  * gates on — the card can never disagree with the operators.
  *
  * Usage: CorpusReportMain SRCDIR
  *
  * Scale: three scans of the documents table (one Expand-free stats
  * pass, one sha256 groupBy for the dup census, one ≤20-key length-bin
  * census via Textops.lengthBin — the histogram operator's own column)
  * plus a langs-wide aggregate; every number is an aggregate — nothing
  * per-row reaches the driver.
  */
object CorpusReportMain {

  /** JSON string-literal escaping for interpolated values (ADVICE r6):
    * lang comes from the data, and a quote/backslash/control char in it
    * would emit an invalid card line. Minimal RFC 8259 escape set. */
  private[pipelines] def jsonEscape(v: String): String = {
    val sb = new StringBuilder(v.length + 8)
    v.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\b'          => sb.append("\\b")
      case '\f'          => sb.append("\\f")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.result()
  }

  /** Exposed for tests: build the datasheet JSON line. */
  def report(spark: SparkSession, sfDir: String): String = {
    val docs = graft.Tables.documents(spark, sfDir)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct("lang").as("n_langs"),
      coalesce(sum(size(split(col("text"), " "))).cast("long"), lit(0L)).as("n_tokens"),
      coalesce(sum(graft.queries.Textops.gopherPass(col("text")).cast("long")), lit(0L))
        .as("n_gopher_pass")
    ).head()
    val nDocs = stats.getLong(0)
    val nLangs = stats.getLong(1)
    val nTokens = stats.getLong(2)
    val nPass = stats.getLong(3)
    val nDistinct = docs
      .groupBy(sha2(col("text").cast("binary"), 256)).agg(count(lit(1)))
      .count()
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang").collect()
      .map(r => s""""${jsonEscape(String.valueOf(r.getString(0)))}":${r.getLong(1)}""")
      .mkString(",")
    // length profile via the SAME bin column llm_token_histogram reports
    // (Textops.lengthBin) — keyed by the bin's token lower bound
    val lenBins = docs.select(graft.queries.Textops.lengthBin(col("text")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin").collect()
      .map(r => s""""${r.getLong(0) * 16}":${r.getLong(1)}""").mkString(",")
    def share(n: Long): Double =
      if (nDocs == 0) 0.0 else math.floor(n * 10000.0 / nDocs + 0.5) / 10000
    val avgTok = if (nDocs == 0) 0.0 else math.floor(nTokens * 10000.0 / nDocs + 0.5) / 10000
    s"""{"n_docs":$nDocs,"n_langs":$nLangs,"n_tokens":$nTokens,""" +
      s""""avg_doc_tokens":$avgTok,""" +
      s""""exact_dup_docs":${nDocs - nDistinct},""" +
      s""""exact_dup_share":${share(nDocs - nDistinct)},""" +
      s""""gopher_pass_docs":$nPass,"gopher_pass_share":${share(nPass)},""" +
      s""""len_bins":{$lenBins},""" +
      s""""langs":{$langs}}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: CorpusReportMain SRCDIR")
    val spark = graft.Session.local()
    try println(report(spark, args(0))) finally spark.stop()
  }
}
