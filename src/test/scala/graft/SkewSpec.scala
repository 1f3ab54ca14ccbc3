package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Skew-mitigation patterns for 100 TB (README scale notes): salting a
  * skewed aggregation preserves results, and the extensions class
  * registers the custom expressions at session level. */
class SkewSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("salted two-phase aggregation equals direct aggregation") {
    // l_returnflag has only 3 values — maximal skew for a groupBy. The
    // salted form: (key, salt) partial agg → key final agg. At 100 TB
    // this caps any single reducer at 1/SALTS of the hot key's rows.
    val SALTS = 16
    val li = Tables.lineitem(spark, sfDir)
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val salted = li
      .withColumn("salt", pmod(col("l_orderkey"), lit(SALTS)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"), sum("l_quantity").as("pq"))
      .groupBy("l_returnflag")
      .agg(sum("pn").as("n"), sum("pq").as("q"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    salted.map(t => (t._1, t._2)) should equal(direct.map(t => (t._1, t._2)))
    salted.zip(direct).foreach { case (s, d) => s._3 shouldBe d._3 +- 1e-6 }
  }

  test("salted join spreads a hot key across reducers (measured partition balance)") {
    import spark.implicits._
    val S = 16 // fine-grained: a couple of same-partition collisions still balance
    // 90%-hot fact: 9000 rows on key 1, 1000 spread over keys 2..1000
    val fact = (1 to 10000).map(i => (if (i <= 9000) 1L else (i % 999) + 2L, i.toLong))
      .toDF("k", "payload")
    val dim = (1L to 1000L).map(k => (k, s"dim_$k")).toDF("k2", "attr")
    // force shuffle joins and disable AQE's own skew handling so the
    // measurement isolates the salting pattern itself; 32 partitions so
    // the 8 salt buckets don't collide coarsely in the partitioner
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "32") {
      def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      val plain = fact.join(dim, col("k") === col("k2"))
      val f = fact.withColumn("fsalt", pmod(col("payload"), lit(S)).cast("int"))
      val d2 = dim.withColumn("dsalt", explode(expr(s"sequence(0, ${S - 1})")))
      val saltedJ = f.join(d2, col("k") === col("k2") && col("fsalt") === col("dsalt"))
      saltedJ.count() shouldBe plain.count() // salting must not change the result
      val mPlain = maxPartRows(plain)
      val mSalted = maxPartRows(saltedJ)
      // hot key 1 puts ~9000 rows in one reducer unsalted; salted caps a
      // reducer at ~1/S of that
      mPlain should be >= 9000L
      mSalted.toDouble should be <= mPlain.toDouble / 4
    }
  }

  test("sharded LSH bucket self-join: identical pair set, bounded per-cell input on a hot bucket") {
    import spark.implicits._
    // adversarial band layout: 300 docs land in ONE (band, bkey) bucket
    // (boilerplate corpus), 50 more spread thinly. Naive self-join puts
    // all 300 rows (and 300*299/2 pair outputs) in one task.
    val hot = (1L to 300L).map(d => (d, 0, 7L, "en"))
    val thin = (301L to 350L).map(d => (d, 1, d % 25, "en"))
    val banded = (hot ++ thin).toDF("doc_id", "band", "bkey", "lang")
    val keys = Seq("band", "bkey", "lang")
    def pairSet(thr: Int) = ops.ShardedSelfJoin.pairs(banded, keys, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pairSet(Int.MaxValue) // S=1 everywhere — the original join
    naive.size shouldBe 300 * 299 / 2 + (thin.groupBy(_._3).map(g => g._2.size * (g._2.size - 1) / 2).sum)
    val sharded = pairSet(64) // hot bucket → ceil(300/64)=5 shards, 15 cells
    sharded should equal(naive) // sharding must not change the pair set
    // bounded task input: no (keys, p, q) join cell on either side may
    // exceed ~threshold rows (that is what lands in one task's hash/sort
    // buffer for the bucket)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val shardedRows = banded
      .withColumn("nsh", ceil(count(lit(1)).over(w) / lit(64.0)).cast("int"))
      .withColumn("srow", pmod(xxhash64(col("doc_id")), col("nsh")).cast("int"))
    val aCell = shardedRows
      .withColumn("p", col("srow"))
      .withColumn("q", explode(sequence(col("srow"), col("nsh") - 1)))
      .groupBy((keys ++ Seq("p", "q")).map(col): _*).count()
      .agg(max("count")).head().getLong(0)
    val bCell = shardedRows
      .withColumn("q", col("srow"))
      .withColumn("p", explode(sequence(lit(0), col("srow"))))
      .groupBy((keys ++ Seq("p", "q")).map(col): _*).count()
      .agg(max("count")).head().getLong(0)
    // 300 rows over 5 hash shards averages 60/cell-side; allow hash
    // imbalance up to 2x the threshold before calling it unbounded
    aCell should be <= 128L
    bCell should be <= 128L
    // and the production queries still run green through the sharded path
    // at a tiny threshold (llm_simhash carries its signature through it)
    val base = withConf("spark.graft.lsh.shardThreshold" -> "8") {
      queries.Sketches.llmSimhash(spark, sfDir).collect()
    }
    queries.Sketches.llmSimhash(spark, sfDir).collect() should equal(base)
  }

  test("exact-jaccard blocking joins are skew-safe: tiny shard threshold leaves outputs unchanged") {
    // The rarity-block (llm_jaccard_pairs) and min-shingle-block
    // (llm_ngram_jaccard) self-joins route through the same
    // ShardedSelfJoin as the LSH band joins. A threshold of 8 forces
    // sharding on EVERY fixture block bigger than 8 docs (the sf0.001
    // dup clusters qualify) — the pair outputs, carried sizes included,
    // must be byte-identical to the unsharded run. Cell-boundedness of
    // the decomposition itself is pinned by the synthetic hot-bucket
    // test above; carried-column normalization by PropertySpec.
    val key = "spark.graft.lsh.shardThreshold"
    val baseJac = queries.Llm.llmJaccardPairs(spark, sfDir).collect()
    val baseNgram = queries.Textops.llmNgramJaccard(spark, sfDir).collect()
    val baseIncr = queries.Extras.llmDedupIncremental(spark, sfDir).collect()
    withConf(key -> "8") {
      queries.Llm.llmJaccardPairs(spark, sfDir).collect() should equal(baseJac)
      queries.Textops.llmNgramJaccard(spark, sfDir).collect() should equal(baseNgram)
      queries.Extras.llmDedupIncremental(spark, sfDir).collect() should equal(baseIncr)
    }
  }

  test("llm_semdedup's within-cell join is skew-safe: tiny shard threshold leaves output unchanged") {
    // The SemDeDup cell self-join routes through ShardedSelfJoin with
    // uniqueMembership (one IVF cell per vector → pairs duplicate-free
    // with neither emit-once nor distinct). A threshold of 8 forces
    // sharding on every fixture cell bigger than 8 vectors (all 8 cells
    // of the sf0.001 500-vector corpus qualify) — the full keep/dup_of
    // report must be byte-identical to the unsharded run, proving the
    // triangle decomposition neither drops nor duplicates a
    // lower-id-witness pair (VERDICT r8 #4).
    val key = "spark.graft.lsh.shardThreshold"
    val base = queries.Extras.llmSemdedup(spark, sfDir).collect()
    base.length should be > 0
    withConf(key -> "8") {
      queries.Extras.llmSemdedup(spark, sfDir).collect() should equal(base)
    }
  }

  test("GraftExtensions injects without error; graft_dot evaluates via SQL") {
    // applying the extensions to a fresh SparkSessionExtensions must
    // register both builders without throwing
    new graft.functions.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
    // and the expressions are usable from plain SQL on a session
    val s2 = spark.newSession()
    graft.functions.VectorExprs.register(s2)
    s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0) shouldBe 11.0
    s2.sql("SELECT graft_agree(array(1, 2, 3), array(1, 9, 3)) AS a")
      .head().getInt(0) shouldBe 2
  }
}
