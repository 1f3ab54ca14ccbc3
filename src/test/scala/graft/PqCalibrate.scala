package graft

/** One-off calibration sweep for llm_ann_pq's subspace count (the
  * SimhashCalibrate pattern): recall@3 and ADC relative error vs exact,
  * across M at the fixed K = Pq.K and Pq.Iters (the K and iters curve
  * is BASELINE.md's round-12 row). Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt "Test/runMain graft.PqCalibrate"
  */
object PqCalibrate {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val exact = vecs.filter(_._1 < queries.Sketches.AnnPqQueries).map { case (qid, q) =>
      val d2 = vecs.filter(_._1 != qid).map { case (vid, v) =>
        (q.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, vid)
      }
      qid -> d2.sortBy(identity).take(3).map(_._2).toSet
    }.toMap
    val byId = vecs.toMap

    for (m <- Seq(4, 8, 16)) {
      spark.conf.set("spark.graft.pq.m", m.toString)
      val t0 = System.nanoTime()
      val rows = queries.Sketches.llmAnnPq(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val dt = (System.nanoTime() - t0) / 1e9
      val got = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.toSeq.map { case (q, t) => t.count(got.getOrElse(q, Set.empty).contains) }.sum
      val rel = rows.map { case (q, v, ad2) =>
        val d2 = byId(q).zip(byId(v)).map { case (a, b) => (a - b) * (a - b) }.sum
        math.abs(ad2 - d2) / d2
      }
      println(f"M=$m%2d  recall@3=${hits / (exact.size * 3.0)}%.3f  " +
        f"relErr mean=${rel.sum / rel.size}%.4f max=${rel.max}%.4f  ${dt}%.1fs")
    }
    spark.stop()
  }
}
