package graft

import org.apache.spark.sql.functions._

/** Dev aid (round 9): PqIndex refresh economics — the ANN sibling of the
  * BloomScale (exact-dedup) and SignatureIndex (near-dup) rows. On a ×k
  * vectorStress corpus split 80/20 old/batch: time (a) extend = encode
  * the BATCH against the stored codebook, vs (b) the from-scratch anchor
  * = buildFrom over the full union (train + encode everything), and
  * time search against the extended index. The claim under test is the
  * production posture: a daily refresh pays encoding for the batch
  * only — never retraining, never re-encoding the corpus.
  *
  * `SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.PqIndexScale 30"`
  */
object PqIndexScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(30)
    val spark = Session.local()
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    for (m <- mults) {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_vec_x$m"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists)
        graft.tools.StressGen.vectorStress(spark, src, dir, m)
      val vecs = Tables.embeddings(spark, dir)
      val n = vecs.count()
      val cut = vecs.agg(expr("percentile(vec_id, 0.8)")).head().getDouble(0).toLong
      val oldV = vecs.where(col("vec_id") <= cut)
      val newV = vecs.where(col("vec_id") > cut)
      println(s"x$m: $n vectors, batch = ${newV.count()} (20%)")

      val ix = SparkFixture.tempDir(s"graft_pqis_x$m")
      timed(s"x$m build(old 80%) [setup, 1 pass]") {
        pipelines.PqIndex.buildFrom(spark, oldV, dir, ix)
      }
      timed(s"x$m extend(batch 20%) — the refresh arm") {
        pipelines.PqIndex.extend(spark, newV, ix, 1L)
      }
      val full = SparkFixture.tempDir(s"graft_pqif_x$m")
      timed(s"x$m buildFrom(union) — the from-scratch anchor [1 pass]") {
        pipelines.PqIndex.buildFrom(spark, vecs, dir, full)
      }
      val q = vecs.where(col("vec_id") < 10)
      val rows = timed(s"x$m search(10 queries) over the extended index") {
        pipelines.PqIndex.search(spark, q, ix, 3).count()
      }
      println(s"x$m search rows = $rows")

      // Round 10 (VERDICT r9 #6): the IVF+PQ composition A/B — probe-
      // limited search vs the exhaustive flat scan over the SAME index,
      // at the cluster-posture cell width bits(m) = 3+⌈log₂ m⌉ (cell
      // occupancy ≈ constant as the corpus grows; VectorScale posture).
      // Three measured claims:
      //  (1) candidate volume — each query's probe set covers
      //      |masks|/2^bits of the cells, so the per-query ADC join
      //      input drops to ~14.5% (radius 2 at 8 bits) of the corpus;
      //  (2) file-level pruning — a SMALL query set's probe-cell union
      //      scans a fraction of the code files (the multi-query union
      //      saturates toward full scan by design: pruning is per-cell,
      //      the JOIN volume in (1) is what scales);
      //  (3) recall — on PLANTED near-duplicate queries (jittered
      //      corpus vectors — the twin structure semdedup/dedup
      //      corpora actually have) the probe keeps the true source;
      //      on the hash-uniform worst case the probe survival is the
      //      sign-LSH formula, reported for honesty, not as a floor.
      val bits = math.min(8, 3 + math.ceil(math.log(m.toDouble) / math.log(2)).toInt)
      spark.conf.set("spark.graft.ann.bits", bits.toString)
      val ivfIx = SparkFixture.tempDir(s"graft_pqivf_x$m")
      timed(s"x$m buildFrom(union, $bits-bit cells) [setup, 1 pass]") {
        pipelines.PqIndex.buildFrom(spark, vecs, dir, ivfIx)
      }
      spark.conf.unset("spark.graft.ann.bits")
      val codesAll = spark.read.parquet(s"$ivfIx/codes.parquet")
      val totalCodes = codesAll.count()
      spark.conf.set("spark.graft.ann.probeRadius", "2")
      val masks = queries.Ann.probeMasks(bits, 2)
      def cellsOf(qq: org.apache.spark.sql.DataFrame): Seq[Int] = qq
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .select(queries.Ann.cellExpr(bits).as("cell"))
        .collect().map(_.getInt(0)).toSeq
      // (1) per-query candidate volume: avg codes across each query's
      // own 37-cell probe set — the ADC join input per query
      val cellCounts = codesAll.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val perQ = cellsOf(q).map(c => masks.map(mk => cellCounts.getOrElse(c ^ mk, 0L)).sum)
      println(f"x$m ivf per-query candidates: avg ${perQ.sum / perQ.size}%,d of $totalCodes codes " +
        f"(${100.0 * perQ.sum / perQ.size / totalCodes}%.1f%% each; ${masks.size} of ${1 << bits} cells probed)")
      // (2) file-level pruning with a small probe set: 2 queries, radius 1
      val q2 = vecs.where(col("vec_id") < 2)
      val probe2 = cellsOf(q2).toSet
        .flatMap((c: Int) => queries.Ann.probeMasks(bits, 1).map(c ^ _))
      val scanned2 = codesAll.where(col("cell").isin(probe2.toSeq: _*)).count()
      println(f"x$m ivf 2-query radius-1 scan: $scanned2%,d of $totalCodes%,d codes " +
        f"(${100.0 * scanned2 / totalCodes}%.1f%%, ${probe2.size} cells pruned at file level)")
      def pairsOf(qq: org.apache.spark.sql.DataFrame) =
        pipelines.PqIndex.search(spark, qq, ivfIx, 3)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def pairs() = pairsOf(q)
      val flatPairs = { // pass 1 warms the codegen units, pass 2 is the number
        timed(s"x$m search FLAT pass1 [warm]")(pairs())
        timed(s"x$m search FLAT ($totalCodes codes)")(pairs())
      }
      spark.conf.set("spark.graft.pq.search", "ivf")
      val ivfPairs = {
        timed(s"x$m search IVF pass1 [warm]")(pairs())
        timed(s"x$m search IVF radius-2 (avg ${perQ.sum / perQ.size} codes/query)")(pairs())
      }
      timed(s"x$m search IVF 2-query radius-1 ($scanned2 codes scanned)") {
        spark.conf.set("spark.graft.ann.probeRadius", "1")
        try pairsOf(q2) finally spark.conf.set("spark.graft.ann.probeRadius", "2")
      }
      spark.conf.unset("spark.graft.pq.search")
      println(f"x$m ivf probe survival vs flat (hash-uniform worst case) = " +
        f"${ivfPairs.intersect(flatPairs).size.toDouble / flatPairs.size}%.3f")
      // (3) planted-twin recall: 20 queries, each an additive-noise twin
      // of a corpus vector (cos ≈ 0.93) under an OFFSET qid so the
      // source stays findable (search excludes qid == vid self-pairs);
      // recall = fraction of twins whose top-3 contains their source.
      val twins = vecs.where(col("vec_id") < 20)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          expr("""transform(embedding,
                 (x, i) -> cast(x + 0.4 * sqrt(aggregate(embedding, cast(0.0 as double),
                     (a, y) -> a + double(y) * double(y)) / size(embedding))
                   * sin((vec_id + 1) * (i + 1)) as float))""").as("embedding"))
      for (mode <- Seq("flat", "ivf")) {
        spark.conf.set("spark.graft.pq.search", mode)
        val got = pairsOf(twins)
        val hits = (0 until 20).count(i => got.contains((i + 1000000000L, i.toLong)))
        println(f"x$m planted-twin recall@3 [$mode%4s] = ${hits / 20.0}%.3f")
      }
      spark.conf.unset("spark.graft.pq.search")
      spark.conf.unset("spark.graft.ann.probeRadius")
    }
    spark.stop()
  }
}
