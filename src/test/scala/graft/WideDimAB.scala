package graft

import org.apache.spark.sql.functions._

/** Dev aid (round 10): the ivf-vs-ivfpq CROSSOVER measured at
  * production embedding width. The round's VectorScale A/B showed ivf
  * beating ivfpq wall-clock at 64-d — there the exact rescore of the
  * probe candidates is cheap (64-mult dots), so ADC + top-C + a tiny
  * rescore buys nothing. The BASELINE claim is that the composed mode
  * wins once embedding width makes the rescore dominate: ADC cost is
  * M-lookups per pair REGARDLESS of dim, and the ivfpq rescore stream
  * is N·C pairs instead of every probe pair. This harness measures
  * llm_cosine_topk under both modes on a WIDE synthetic corpus
  * (default 60k × 512-d, deterministic hash-pattern vectors, same
  * bits/radius for both modes so the candidate GENERATION is identical
  * — the delta is purely [ADC + top-C + small rescore] vs
  * [full-width rescore of every candidate]).
  *
  * `SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.WideDimAB 60000 512 12"`  (n dim bits)
  */
object WideDimAB {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(60000)
    val dim = args.lift(1).map(_.toInt).getOrElse(512)
    val bits = args.lift(2).map(_.toInt).getOrElse(12)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    val spark = Session.local()

    val dir = s"${sys.props("java.io.tmpdir")}/graft_wide_${n}_$dim"
    if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists) {
      // deterministic pseudo-random components via murmur3: sin of
      // arithmetic-progression args (the first attempt) left sign bits
      // CORRELATED across ids — cell skew inflated probe candidates to
      // 22% of N² — while per-(id, dim) hashing keeps the 2^bits cells
      // near-uniform (the regime the A/B is about)
      spark.range(n).select(
        col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), " +
          "i -> cast((abs(hash(id, i)) % 10001) / 5000.0 - 1.0 as float))").as("embedding"),
        (col("id") % 5).cast("int").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    println(s"corpus: $n vectors x $dim-d, bits=$bits (${1 << bits} cells)")

    spark.conf.set("spark.graft.ann.bits", bits.toString)
    spark.conf.set("spark.graft.ann.probeRadius", "2")
    // candidate volume both modes share (the probe-pair stream)
    val cand = {
      spark.conf.set("spark.graft.topk.candidates", "ivf")
      val c = queries.Llm.densePairs(spark, dir).count()
      spark.conf.unset("spark.graft.topk.candidates")
      c
    }
    println(f"probe candidates: $cand%,d (${100.0 * cand / (n.toLong * (n - 1))}%.2f%% of N²)")
    for (mode <- Seq("ivf", "ivfpq")) {
      spark.conf.set("spark.graft.topk.candidates", mode)
      val times = (1 to iters).map { _ =>
        Session.sweep(spark)
        val t0 = System.nanoTime()
        val rows = queries.Llm.llmCosineTopk(spark, dir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      spark.conf.unset("spark.graft.topk.candidates")
      println(f"cosine_topk[$mode%-5s] min=${times.map(_._1).min}%8.2f s  " +
        f"all=[${times.map(t => f"${t._1}%.1f").mkString(", ")}]  rows=${times.head._2}")
    }
    spark.stop()
  }
}
