package graft


/** Dev aid (round 9): the VECTOR/ANN family's measured scaling — the
  * third leg beside DedupScale (llm near-dup) and CoreScale
  * (relational/event). The corpus is StressGen.vectorStress — k× the
  * embeddings with every copy an independent pseudo-random population,
  * so per-vector similarity structure is k-independent and candidate/
  * output volumes grow linearly in corpus size by construction.
  *
  * Query set and the posture each one measures:
  *   - llm_embed_quantize  — explode + bounded aggs: expect e ≈ 1.
  *   - llm_ann_pq          — Lloyd training + ADC over M-byte codes,
  *                           every shuffle bounded: expect e ≈ 1.
  *   - llm_ann_stats       — one bounded census: expect e ≈ 1.
  *   - llm_ann_ivf / llm_embed_neardup / llm_semdedup — IVF-cell
  *     candidate generation is occupancy-quadratic PER CELL (≈
  *     probes·N²/cells pairs): at FIXED bits the family is O(N²) —
  *     that is the formula, not worth an hour of wall to re-measure —
  *     so this harness applies the documented cluster posture
  *     (`raise spark.graft.ann.bits with the corpus`): bits(m) =
  *     3 + ⌈log₂ m⌉, holding cell occupancy ≈ constant; candidates
  *     then grow ≈ linearly and e ≈ 1 is the pass bar.
  *
  * Exponent e = ln(t₂/t₁)/ln(m₂/m₁); results land in BASELINE.md next
  * to the dedup/core rows.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.VectorScale 1 10 30"`
  */
object VectorScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 30)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt)
    val spark = Session.local("spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def timed(name: String, dir: String): (Double, Long) = {
      val runs = (1 to iters).map { _ =>
        Session.sweep(spark)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (runs.map(_._1).min, runs.head._2)
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")
    // (name, scaleBitsWithCorpus)
    val names = Seq(
      ("llm_embed_quantize", false), ("llm_ann_pq", false),
      ("llm_ann_stats", true), ("llm_ann_ivf", true),
      ("llm_embed_neardup", true), ("llm_semdedup", true),
      ("llm_kmeans", false)
    ).filter { case (n, _) => only.forall(_.contains(n)) }

    SparkEntry.queries("llm_ann_stats")(spark, src).queryExecution.toRdd.count() // warmup

    def bitsFor(m: Int): Int =
      math.min(8, 3 + math.ceil(math.log(m.toDouble) / math.log(2)).toInt)

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for (m <- mults) {
      val dir =
        if (m == 1) src
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft_vec_x$m"
          if (!(reuse && new java.io.File(s"$d/embeddings.parquet/_SUCCESS").exists))
            graft.tools.StressGen.vectorStress(spark, src, d, m)
          d
        }
      for ((name, scaleBits) <- names) {
        if (scaleBits) spark.conf.set("spark.graft.ann.bits", bitsFor(m).toString)
        else spark.conf.unset("spark.graft.ann.bits")
        val (sec, rows) = timed(name, dir)
        spark.conf.unset("spark.graft.ann.bits")
        results((name, m)) = sec
        val b = if (scaleBits) s" bits=${bitsFor(m)}" else ""
        println(f"x$m%-3d $name%-20s $sec%8.2f s  rows=$rows$b")
        if (name == "llm_kmeans") {
          // Round 11 (VERDICT r10 #7): the k=64 arm — real cluster
          // counts. The broadcast-codebook shape is k-independent (each
          // Lloyd round stays ONE job; per-vector work grows k-linearly
          // in the argmin, the collect stays ≤k rows); this measures
          // that claim instead of arguing it.
          spark.conf.set("spark.graft.kmeans.k", "64")
          try {
            val (s64, r64) = timed(name, dir)
            results(("llm_kmeans[k=64]", m)) = s64
            println(f"x$m%-3d llm_kmeans[k=64]     $s64%8.2f s  rows=$r64")
          } finally spark.conf.unset("spark.graft.kmeans.k")
        }
      }
    }
    for ((name, _) <- names ++ (if (names.exists(_._1 == "llm_kmeans"))
           Seq(("llm_kmeans[k=64]", false)) else Nil);
         Seq(m1, m2) <- mults.sliding(2)) {
      (results.get((name, m1)), results.get((name, m2))) match {
        case (Some(t1), Some(t2)) if t1 > 0 =>
          val e = math.log(t2 / t1) / math.log(m2.toDouble / m1)
          println(f"exponent $name%-20s x$m1->x$m2: $e%5.2f  (${t1}%.2f -> ${t2}%.2f s)")
        case _ =>
      }
    }

    // Round 10 (VERDICT r9 #1 done-criteria): the dense top-k family's
    // candidate-generator A/B — llm_cosine_topk end-to-end under each
    // spark.graft.topk.candidates mode, plus the candidate VOLUME the
    // TopKAgg consumes (the densePairs stream row count: N²−N exact;
    // the drop is the whole point of the conf). ivf/ivfpq run the
    // bits-with-corpus posture; exact at ×30 is 3.6e9 dot products on
    // this box (~4 min) — gated behind SPARK_GRAFT_EXACT=1, its volume
    // is the formula either way. DenseTopkRecallSpec pins the recall
    // floors; this measures the price.
    if (sys.env.get("SPARK_GRAFT_TOPK_AB").forall(_ == "1")) {
      val exactAll = sys.env.get("SPARK_GRAFT_EXACT").contains("1")
      for (m <- mults) {
        val dir = if (m == 1) src else s"${sys.props("java.io.tmpdir")}/graft_vec_x$m"
        val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
        for (mode <- Seq("exact", "ivf", "ivfpq")
             if mode != "exact" || m <= 10 || exactAll) {
          spark.conf.set("spark.graft.topk.candidates", mode)
          if (mode != "exact")
            spark.conf.set("spark.graft.ann.bits", bitsFor(m).toString)
          val cand =
            if (mode == "exact") n * (n - 1)
            else queries.Llm.densePairs(spark, dir).count()
          val (sec, rows) = timed("llm_cosine_topk", dir)
          spark.conf.unset("spark.graft.topk.candidates")
          spark.conf.unset("spark.graft.ann.bits")
          println(f"x$m%-3d cosine_topk[$mode%-6s] $sec%8.2f s  rows=$rows  " +
            f"candidates=$cand%,d (${100.0 * cand / (n * (n - 1))}%.2f%% of N²)")
        }
      }
    }
    spark.stop()
  }
}
