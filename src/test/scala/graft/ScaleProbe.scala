package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev aid: measure how the near-dup family scales with corpus size.
  *
  * Synthesizes an N×-larger documents corpus by self-union with shifted
  * doc_ids and per-copy token translation (every token prefixed with the
  * copy index): copies are mutually dissimilar — no cross-copy pairs —
  * while each copy keeps the original corpus's intra-copy near-dup
  * structure, so pair counts and work should scale LINEARLY with the
  * multiplier. Quadratic growth in time or rows means a blocking/banding
  * regression.
  *
  * `SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.ScaleProbe 1 4 16"`
  */
object ScaleProbe {
  def scaled(spark: SparkSession, d: String, mult: Int, out: String): Unit = {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val copies = (0 until mult).map { i =>
      docs.select(
        (col("doc_id") + lit(i * n)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), t -> concat('c$i', t)), ' ')")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copies.reduce(_ union _).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16)
    val spark = Session.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "llm_exact_dedup" -> queries.Llm.llmExactDedup,
      "llm_minhash" -> queries.Sketches.llmMinhash,
      "llm_simhash" -> queries.Sketches.llmSimhash,
      "llm_jaccard_pairs" -> queries.Llm.llmJaccardPairs,
      "llm_ngram_jaccard" -> queries.Textops.llmNgramJaccard,
      // round-5/6 additions: the windowed packer, the shingle-join
      // decontaminator and the web projections must stay flat-per-row too
      "llm_pack_sequences" -> queries.Textops.llmPackSequences,
      "llm_contamination" -> queries.Textops.llmContamination,
      "llm_url_extract" -> queries.Webops.llmUrlExtract,
      "llm_domain_stats" -> queries.Webops.llmDomainStats,
      "llm_logprob_score" -> queries.Textops.llmLogprobScore,
      "llm_entropy" -> queries.Textops.llmEntropy,
      "llm_span_dedup" -> queries.Textops.llmSpanDedup,
      // round-6 sixth pass: the shuffle-free rule gate and the canon-URL
      // dedup (URL-free fixture → 0 rows, but the projection still scans)
      "llm_gopher_rules" -> queries.Textops.llmGopherRules,
      "llm_url_dedup" -> queries.Webops.llmUrlDedup,
      // round-6 eighth pass: prefix-filter containment + trigram census
      "llm_containment" -> queries.Llm.llmContainment,
      "llm_top_ngrams" -> queries.Textops.llmTopNgrams,
      // round-6 final passes: LM gates, site cap/rank, second-order LM
      "llm_bigram_score" -> queries.Textops.llmBigramScore,
      "llm_ccnet_bucket" -> queries.Textops.llmCcnetBucket,
      "llm_domain_cap" -> queries.Webops.llmDomainCap,
      "llm_domain_rank" -> queries.Webops.llmDomainRank)
    mults.foreach { m =>
      val out = s"/tmp/graft_scale_x$m"
      scaled(spark, d, m, out)
      val nDocs = spark.read.parquet(s"$out/documents.parquet").count()
      ops.foreach { case (name, q) =>
        val t0 = System.nanoTime()
        val rows = q(spark, out).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"x$m%-3d docs=$nDocs%-7d $name%-20s ${sec}%8.2f s  rows=$rows")
      }
    }
    spark.stop()
  }
}
