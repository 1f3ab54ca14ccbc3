package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev aid (round 13 optimization): time the internal stages of the
  * llm_minhash pipeline — signature UDAF, banding, candidate self-join,
  * rejoin/agree scoring — so the 35-task-second profile decomposes.
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.MinhashProfile"` */
object MinhashProfile {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.functions.VectorExprs.register(spark)
    def t(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      println(f"$name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    // warmup pass (codegen/JIT) then timed pass
    graft.queries.Sketches.queries("llm_minhash")(spark, d).queryExecution.toRdd.count()

    val docs = graft.Tables.documents(spark, d)
    val tokRaw = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))
    t("tok distinct")(tokRaw.distinct())
    val tok = graft.ops.Lineage.cut(tokRaw.distinct())
    t("sig UDAF")(tok.groupBy("doc_id", "lang")
      .agg(graft.queries.Sketches.minhash(col("token")).as("sig")))
    val sigs = graft.ops.Lineage.cut(tok.groupBy("doc_id", "lang")
      .agg(graft.queries.Sketches.minhash(col("token")).as("sig")))
    val banded = sigs
      .withColumn("bkeys", sort_array(expr(graft.queries.Sketches.BandKeysExpr)))
      .select(col("doc_id"), col("lang"), col("bkeys"),
        explode(col("bkeys")).as("bk64"))
    t("banding")(banded)
    val bandedC = graft.ops.Lineage.cut(banded)
    val cand = graft.ops.ShardedSelfJoin.pairs(
      bandedC, Seq("bk64", "lang"), graft.ops.ShardedSelfJoin.confThreshold(spark),
      emitOnce = Some(("bk64", "bkeys")), emitOnceByConstruction = true)
    t("cand self-join")(cand)
    val candC = graft.ops.Lineage.cut(cand)
    t("rejoin+agree+sort")(candC
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")).hint("merge"), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")).hint("merge"), "doc_b")
      .withColumn("est_jac", graft.ops.Det.r4(expr("graft_agree(sig_a, sig_b)") / lit(128.0)))
      .where(col("est_jac") >= 0.7)
      .select("doc_a", "doc_b", "est_jac")
      .orderBy("doc_a", "doc_b"))
    t("full llm_minhash")(graft.queries.Sketches.queries("llm_minhash")(spark, d))
    spark.stop()
  }
}
