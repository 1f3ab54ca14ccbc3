package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev aid: time today's jaccardPairsUnsorted stages (MinKAgg blocking,
  * sharded self-join, interned-set scoring) as materialized prefixes.
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.PairProfile"` */
object PairProfile {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    import graft.queries.Llm
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def t(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = df
      val n = out.queryExecution.toRdd.count()
      println(f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
      out
    }
    // warmup
    graft.queries.Aggs.aggHash(spark, d).queryExecution.toRdd.count()

    val tokRaw = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
    t("tok distinct")(tokRaw.distinct())
    val tok = graft.ops.Lineage.cut(tokRaw.distinct())
    val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
    t("dfTok")(dfTok)
    val ntDf = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    t("rarityBlocked")(Llm.rarityBlocked(tok, dfTok, ntDf))
    val block = graft.ops.Lineage.cut(Llm.rarityBlocked(tok, dfTok, ntDf))
    val thr = graft.ops.ShardedSelfJoin.confThreshold(spark)
    val sizeOk = least(col("nt_a"), col("nt_b")) * (5 * 20000L) >=
                 greatest(col("nt_a"), col("nt_b")) * (4 * 20000L - 5)
    val candSz = t("cand sharded+prefilter")(
      graft.ops.ShardedSelfJoin.pairs(block, Seq("block_tok", "lang"), thr,
          carry = Seq("nt"), pairFilter = Some(sizeOk))
        .select(col("doc_a"), col("doc_b"), col("nt_a").as("na"), col("nt_b").as("nb")))
    val candC = graft.ops.Lineage.cut(candSz)
    val sets = t("sets agg (interned)")(
      tok.groupBy("doc_id").agg(array_sort(collect_set(xxhash64(col("token")))).as("m"))
        .select(col("doc_id"), col("m")))
    val setsC = graft.ops.Lineage.cut(sets)
    graft.functions.VectorExprs.register(spark)
    t("score 2 SMJ + icount")(candC
      .join(setsC.select(col("doc_id").as("doc_a"), col("m").as("ma")).hint("merge"), "doc_a")
      .join(setsC.select(col("doc_id").as("doc_b"), col("m").as("mb")).hint("merge"), "doc_b")
      .withColumn("ni", expr("graft_icount(ma, mb)"))
      .select(col("doc_a"), col("doc_b"),
        graft.ops.Det.r4(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= 0.8))
    t("full jaccard (uncut)")(Llm.jaccardPairsUnsorted(spark, d))
    t("full jaccard again")(Llm.jaccardPairsUnsorted(spark, d))
    spark.stop()
  }
}
