package graft

import org.apache.spark.sql.functions._

/** IVF recall-vs-cost sweep (VERDICT r11 #4, the nprobe/bits half of the
  * curve — PqCalibrate covers M/K/iters): llm_ann_ivf recall@3 against
  * the brute-force llm_cosine_topk truth across the sign-quantizer's
  * (bits, probeRadius) grid, with wall time per cell. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt "Test/runMain graft.IvfCalibrate"
  */
object IvfCalibrate {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    val truth = queries.Llm.llmCosineTopk(spark, sfDir)
      .where(col("rn") <= 3).select("qid", "vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    require(truth.nonEmpty, "empty truth set")

    for {
      bits <- Seq(2, 3, 4, 5, 6)
      radius <- Seq(0, 1, 2)
    } {
      spark.conf.set("spark.graft.ann.bits", bits.toString)
      spark.conf.set("spark.graft.ann.probeRadius", radius.toString)
      val t0 = System.nanoTime()
      val found = queries.Extras.llmAnnIvf(spark, sfDir)
        .select("qid", "vid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = (truth & found).size.toDouble / truth.size
      println(f"bits=$bits%d radius=$radius%d  recall@3=$recall%.3f  wall=${dt}%.1fs")
    }
    spark.conf.unset("spark.graft.ann.bits")
    spark.conf.unset("spark.graft.ann.probeRadius")
    spark.stop()
  }
}
