package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev aid: time the internal stages of the jaccard/dedup hot path.
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.StageProfile"` */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def t(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = df
      val n = out.queryExecution.toRdd.count()
      println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
      out
    }
    // warmup
    graft.queries.Aggs.aggHash(spark, d).queryExecution.toRdd.count()

    val tokRaw = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
    t("tok distinct")(tokRaw.distinct())
    val tok = graft.ops.Lineage.cut(tokRaw.distinct())
    val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val wBlock = Window.partitionBy("doc_id").orderBy(col("df"), col("token"))
    t("block window")(
      tok.join(dfTok, "token")
        .withColumn("rn", row_number().over(wBlock)).where(col("rn") <= 4)
        .select(col("doc_id"), col("lang"), col("token").as("block_tok")))
    val block = graft.ops.Lineage.cut(
      tok.join(dfTok, "token")
        .withColumn("rn", row_number().over(wBlock)).where(col("rn") <= 4)
        .select(col("doc_id"), col("lang"), col("token").as("block_tok")))
    val rawJoin = block.as("a").join(block.as("b"),
        col("a.block_tok") === col("b.block_tok") &&
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    t("cand join raw")(rawJoin)
    t("cand join+distinct")(rawJoin.distinct())
    val cand = graft.ops.Lineage.cut(
      graft.ops.ShardedSelfJoin.pairs(
        block, Seq("block_tok", "lang"), graft.ops.ShardedSelfJoin.confThreshold(spark)))
    val ntDf = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val candSz = cand
      .join(ntDf.select(col("doc_id").as("doc_a"), col("nt").as("na")).hint("merge"), "doc_a")
      .join(ntDf.select(col("doc_id").as("doc_b"), col("nt").as("nb")).hint("merge"), "doc_b")
      .where(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 4)
    t("candSz prefilter")(candSz)
    val candSzC = graft.ops.Lineage.cut(candSz)
    val sets = tok.groupBy("doc_id").agg(array_sort(collect_set("token")).as("m"))
      .select(col("doc_id"), col("m"))
    t("score array joins")(candSzC
      .join(sets.select(col("doc_id").as("doc_a"), col("m").as("ma")).hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("m").as("mb")).hint("merge"), "doc_b")
      .withColumn("ni", size(array_intersect(col("ma"), col("mb"))))
      .select(col("doc_a"), col("doc_b"),
        graft.ops.Det.r4(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= 0.8))
    t("full jaccard")(graft.queries.Llm.llmJaccardPairs(spark, d))
    t("full dedup_cluster")(graft.queries.Extras.llmDedupCluster(spark, d))
    spark.stop()
  }
}
