package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.queries.{Aggs, Events}

/** In-engine semantic checks that back the oracle declarations
  * (SURVEY.md §7.3 items 5-7). */
class QuerySemanticsSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("session_window matches gaps-and-islands (30-min strict-< boundary)") {
    val viaSessionWindow = Events.evSession(spark, sfDir).collect().toSeq
    // independent gaps-and-islands formulation in Spark itself
    val ev = Tables.events(spark, sfDir)
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val marked = ev.withColumn("prev_ts", lag("ts", 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             col("ts") >= col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
    val sess = marked.withColumn("sid",
      sum("new_sess").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val viaIslands = sess.groupBy("user_id", "sid")
      .agg(unix_timestamp(min("ts")).as("sess_start"),
           count(lit(1)).as("n_events"),
           graft.ops.Det.r4(sum("value")).as("sum_value"))
      .select("user_id", "sess_start", "n_events", "sum_value")
      .orderBy("user_id", "sess_start")
      .collect().toSeq
    viaSessionWindow should equal(viaIslands)
  }

  test("approx_count_distinct within 5% of exact per group") {
    val exact = Aggs.aggDistinct(spark, sfDir)
      .select("l_returnflag", "nd_part").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Aggs.aggApproxDistinct(spark, sfDir)
      .select("l_returnflag", "apx_part").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.keySet should equal(approx.keySet)
    for ((k, ex) <- exact) {
      math.abs(approx(k) - ex).toDouble / ex should be <= 0.05
    }
  }

  test("as-of join: every event matched to latest order at-or-before ts") {
    val out = graft.queries.Joins.joinAsof(spark, sfDir)
    val ev = Tables.events(spark, sfDir).select(col("event_id"),
      col("user_id"), col("ts"))
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    // brute-force reference (fine at sf0.001): max (date, okey) <= ts
    val ref = ev.join(orders, col("user_id") === col("o_custkey") &&
        col("o_orderdate") <= col("ts"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_id").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      .where(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got should equal(ref)
  }

  test("exact dedup is idempotent: dedup of dedup output changes nothing") {
    val once = graft.queries.Llm.llmExactDedup(spark, sfDir)
    once.select(countDistinct("h")).head().getLong(0) shouldBe once.count()
  }

  test("llm_dedup_cluster reliable-checkpoint path matches the localCheckpoint path") {
    val dir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val key = "spark.graft.checkpoint"
    val default = graft.queries.Extras.llmDedupCluster(spark, sfDir).collect().toSeq
    withConf(key -> "reliable") {
      val reliable = graft.queries.Extras.llmDedupCluster(spark, sfDir).collect().toSeq
      reliable should equal(default)
    }
  }

  test("llm_pack_sequences: contiguous offsets per shard, monotone bins, budget-aligned starts") {
    val out = queries.Textops.llmPackSequences(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    out.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3) // doc_id order = packing order
      // greedy concat: each doc starts exactly where the previous ended
      sorted.sliding(2).foreach {
        case Array((_, _, _, nTok, off, _), (_, _, _, _, off2, _)) =>
          off2 shouldBe off + nTok
        case _ =>
      }
      // bin = start_off div 2048, and bins never decrease in pack order
      sorted.foreach { case (_, _, _, _, off, bin) => bin shouldBe off / 2048 }
      sorted.map(_._6) shouldBe sorted.map(_._6).sorted
    }
  }

  test("llm_pack_sequences: spark.graft.pack.shards re-widens the packing; invariants hold at 5 shards") {
    // the conf is the 100 TB knob (per-partition sort bound =
    // corpus/(langs·shards)); the packing invariants must hold at any
    // width, and the shard column must actually follow the conf
    val key = "spark.graft.pack.shards"
    withConf(key -> "5") {
      val out = queries.Textops.llmPackSequences(spark, sfDir).collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      out.map(_._2).toSet.subsetOf((0L until 5L).toSet) shouldBe true
      out.map(_._2).toSet.size should be > 1 // really sharded, not all-zero
      out.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
        val sorted = rows.sortBy(_._3)
        sorted.sliding(2).foreach {
          case Array((_, _, _, nTok, off, _), (_, _, _, _, off2, _)) =>
            off2 shouldBe off + nTok
          case _ =>
        }
        sorted.foreach { case (_, _, _, _, off, bin) => bin shouldBe off / 2048 }
      }
    }
  }

  test("llm_kmeans: k/rounds confs re-shape the clustering; defaults equal the literal schedule") {
    // spark.graft.kmeans.{k,rounds} are the production dials (round 11);
    // the conf-unset result must stay byte-identical to the oracle's
    // fixed k=8/2-round schedule, and a widened k must really widen the
    // census while still partitioning the corpus
    val base = queries.Llm.llmKmeans(spark, sfDir).collect().toSeq
    val n = Tables.embeddings(spark, sfDir).count()
    base.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet) shouldBe true
    base.map(_.getLong(1)).sum shouldBe n
    withConf("spark.graft.kmeans.k" -> "8", "spark.graft.kmeans.rounds" -> "2") {
      queries.Llm.llmKmeans(spark, sfDir).collect().toSeq shouldBe base
    }
    val wide = withConf("spark.graft.kmeans.k" -> "16",
                        "spark.graft.kmeans.rounds" -> "3") {
      queries.Llm.llmKmeans(spark, sfDir).collect().toSeq
    }
    wide.map(_.getLong(0)).toSet.subsetOf((0L until 16L).toSet) shouldBe true
    wide.size should be > base.size // the extra codebook rows really attract
    wide.map(_.getLong(1)).sum shouldBe n
  }

  test("ev_anomaly flags exactly the synthesized spike hour; constant-rate types stay silent") {
    // the oracle SQL shares the z-score formula, so it cannot catch a
    // wrong formula — pin detection behavior on a corpus with a KNOWN
    // anomaly instead (same discipline as the recall specs)
    import spark.implicits._
    val dir = tempDir("graft_anom")
    val base = 1700000000L // epoch seconds; ts column is long NANOS like the fixture
    def rows(tpe: String, hour: Int, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { i =>
        val ts = (base + hour * 3600L + i * 7L) * 1000000000L
        (hour * 1000L + i, ts, i.toLong % 13, tpe, 1.0, "{}")
      }
    val ev =
      (0 until 50).flatMap(h => rows("spiky", h, if (h == 17) 50 else 5)) ++
      (0 until 50).flatMap(h => rows("flat", h, 5))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.evAnomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // flat: sd = 0 -> z defined 0 -> never flagged
    out.count(_._1 == "flat") shouldBe 0
    // spiky: exactly the injected hour, positive z
    val spikes = out.filter(_._1 == "spiky")
    spikes.map(_._2) shouldBe Array((base + 17 * 3600L) / 3600L * 3600L)
    spikes.head._3 shouldBe 50L
    spikes.head._4 should be > 2.0
  }

  test("dq_freshness: a dead producer ages against the corpus watermark; fresh share counts the last 24h") {
    // synthesized feed with KNOWN staleness (the oracle shares the
    // formula, so detection behavior is pinned on constructed truth):
    // 'live' produces up to the corpus watermark, 'stale' died ~3.5
    // days earlier — age_s must measure against the CORPUS max, not
    // the type's own, and fresh_share counts only the last 24 h
    import spark.implicits._
    val dir = tempDir("graft_fresh")
    val base = 1700000000L
    val wm = base + 300000L
    def ev(id: Long, tsS: Long, tpe: String) =
      (id, tsS * 1000000000L, id % 7, tpe, 1.0, "{}")
    val rows =
      (0L until 10L).map(i => ev(i, base + i, "stale")) ++
      (0L until 10L).map(i => ev(100L + i, base + i, "live")) ++ // old tail, outside 24 h
      (0L until 10L).map(i => ev(200L + i, wm - i, "live"))      // fresh head
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.Extras.dqFreshness(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    out("live") shouldBe ((20L, base, wm, 0L, 0.5))
    out("stale") shouldBe ((10L, base, base + 9L, 300000L - 9L, 0.0))
  }

  test("llm_logprob_score ranks rare-token docs above common-token docs") {
    import spark.implicits._
    val dir = tempDir("graft_lp")
    val docs = (0L until 40L).map(i => (i, "the quick brown fox", "en", "s", 0L)) ++
      Seq((40L, "zyzzyva qoph xylem", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Textops.llmLogprobScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    out(0L)._1 shouldBe 4L
    out(40L)._1 shouldBe 3L
    // every common doc scores the same; the rare doc scores strictly higher
    (0L until 40L).map(out(_)._2).distinct.size shouldBe 1
    out(40L)._2 should be > out(0L)._2
  }

  test("dq_histogram partitions all orders: counts sum to total, cumulative is monotone") {
    val out = graft.queries.Extras.dqHistogram(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    val total = Tables.orders(spark, sfDir).count()
    out.map(_._2).sum shouldBe total
    out.last._4 shouldBe total
    out.last._5 shouldBe 1.0 +- 0.001
    out.foreach { case (lo, _, pct, _, _) =>
      lo % 25000 shouldBe 0
      pct should (be >= 0.0 and be <= 1.0)
    }
    out.map(_._4).sliding(2).foreach {
      case Array(a, b) => b should be >= a
      case _ =>
    }
  }

  test("agg_approx_percentile is within 2% of the exact percentile per group") {
    // the sketch is engine-specific (no SQL oracle, like approx_distinct);
    // its semantics are pinned against the exact percentile instead
    val approx = Aggs.aggApproxPercentile(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
           expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    approx.keySet shouldBe exact.keySet
    for ((k, (a50, a90)) <- approx) {
      val (e50, e90) = exact(k)
      math.abs(a50 - e50) / e50 should be <= 0.02
      math.abs(a90 - e90) / e90 should be <= 0.02
    }
  }

  test("llm_entropy matches hand-computed values on known distributions") {
    // the oracle SQL shares the H formula, so it cannot catch a wrong
    // formula — pin against independently hand-computed entropies
    import spark.implicits._
    val dir = tempDir("graft_ent")
    Seq(
      (0L, "a a a a", "en", "s", 0L),       // single type: H = 0, norm defined 0
      (1L, "a b c d", "en", "s", 0L),       // uniform over 4: H = 2, norm = 1
      (2L, "a a a b", "en", "s", 0L))       // {3,1}: H = 2 - 3*log2(3)/4
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Textops.llmEntropy(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    out(0L) shouldBe ((4L, 1L, 0.0, 0.0))
    out(1L) shouldBe ((4L, 4L, 2.0, 1.0))
    val hMixed = 2.0 - 3.0 * (math.log(3.0) / math.log(2.0)) / 4.0 // 0.81127...
    out(2L)._3 shouldBe (math.floor(hMixed * 10000 + 0.5) / 10000)
    out(2L)._4 shouldBe (math.floor(hMixed * 10000 + 0.5) / 10000) // log2(2) = 1
  }

  test("llm_mix_weights upsamples the rare language with alpha=0.5 temperature") {
    import spark.implicits._
    val dir = tempDir("graft_mix")
    // en: 9 docs x 10 tokens = 90; xx: 1 doc x 10 tokens = 10
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = (0L until 9L).map(i => (i, ten, "en", "s", 0L)) :+ (9L, ten, "xx", "s", 0L)
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Textops.llmMixWeights(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // p = (.9, .1) -> q ∝ (√.9, √.1) = (.75, .25) -> weights (.8333, 2.5)
    out("en") shouldBe ((9L, 90L, 0.9, 0.75, 0.8333))
    out("xx") shouldBe ((1L, 10L, 0.1, 0.25, 2.5))
    // target shares always sum to 1 and preserve the size order
    (out("en")._4 + out("xx")._4) shouldBe 1.0 +- 1e-4
  }

  test("ev_inter_arrival matches hand-computed gap profile; single-event types drop") {
    import spark.implicits._
    val dir = tempDir("graft_gap")
    val base = 1700000000L
    def ev(id: Long, tpe: String, offS: Long): (Long, Long, Long, String, Double, String) =
      (id, (base + offS) * 1000000000L, 1L, tpe, 1.0, "{}")
    Seq(ev(0, "t", 0), ev(1, "t", 10), ev(2, "t", 20), ev(3, "t", 100),
        ev(4, "solo", 5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.evInterArrival(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap
    out.keySet shouldBe Set("t") // a single event has no gap
    // gaps {10, 10, 80}: avg 33.3333, p50 10, p90 = 10 + 0.8*(80-10) = 66
    out("t") shouldBe ((3L, 33.3333, 10.0, 66.0, 80L))
  }

  test("llm_span_dedup flags localized verbatim reuse, not novel text") {
    import spark.implicits._
    val dir = tempDir("graft_span")
    def toks(pfx: String, a: Int, b: Int) = (a until b).map(i => s"$pfx$i").mkString(" ")
    val shared = toks("w", 0, 16)
    Seq(
      (0L, shared + " " + toks("w", 16, 32), "en", "s", 0L), // half reused
      (1L, shared + " " + toks("x", 0, 16), "en", "s", 0L),  // same first chunk
      (2L, toks("y", 0, 32), "en", "s", 0L),                 // fully novel
      (3L, toks("z", 0, 16), "en", "s", 0L),                 // exact pair ...
      (4L, toks("z", 0, 16), "en", "s", 0L))                 // ... fully duplicated
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Textops.llmSpanDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getBoolean(7))))
      .toMap
    out(0L) shouldBe ((2L, 32L, 1L, 16L, 0.5, true))  // exactly the shared chunk
    out(1L) shouldBe ((2L, 32L, 1L, 16L, 0.5, true))
    out(2L) shouldBe ((2L, 32L, 0L, 0L, 0.0, false))  // novel text untouched
    out(3L) shouldBe ((1L, 16L, 1L, 16L, 1.0, true))  // exact dup: frac 1
    out(4L) shouldBe ((1L, 16L, 1L, 16L, 1.0, true))
  }

  test("llm_bigram_score flags shuffled word salad that the unigram gate provably cannot") {
    import spark.implicits._
    val dir = tempDir("graft_bigram")
    val phrase = "w0 w1 w2 w3 w0 w1 w2 w3" // ordered, repeated transitions
    val salad = "w3 w1 w0 w2 w2 w0 w3 w1"  // SAME token multiset, scrambled
    val docs = (0L until 20L).map(i => (i, phrase, "en", "s", 0L)) :+
      ((20L, salad, "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // unigram xent is blind here: every doc has the identical token
    // multiset, so the unigram gate scores all 21 docs the same...
    val uni = queries.Textops.llmLogprobScore(spark, dir).collect()
      .map(_.getDouble(3)).distinct
    uni.length shouldBe 1
    // ...while the bigram gate puts the salad doc strictly on top
    val bi = queries.Textops.llmBigramScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val phraseScores = (0L until 20L).map(bi)
    phraseScores.distinct.length shouldBe 1
    bi(20L) should be > phraseScores.head
  }

  test("llm_code_detect routes code-shaped docs by structure, not keywords") {
    import spark.implicits._
    val dir = tempDir("graft_code")
    Seq(
      (0L, "plain prose about data and tables flowing nicely along", "en", "c", 0L),
      (1L, "x = compute(a, b); if (x > 0) { emit(x); }", "en", "c", 0L), // symbol-dense
      (2L, "the getUserName and setUserAge helpers parseJson deeply", "en", "c", 0L), // camelCase
      (3L, "call snake_case and other_name then third_ident now", "en", "c", 0L), // snake_case
      (4L, "", "en", "c", 0L)) // empty: ratio defined 0.0, not x/0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Textops.llmCodeDetect(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(7))))
      .toMap
    out(0L)._4 shouldBe 0L                    // prose stays prose
    out(1L)._4 shouldBe 1L                    // braces/parens/semicolons
    out(1L)._1 should be >= 8L
    out(2L) shouldBe ((0L, 5L, 0L, 1L))       // tU rN / tU rA / eJ camel hits
    out(3L) shouldBe ((0L, 0L, 3L, 1L))       // three snake_case hits
    out(4L)._4 shouldBe 0L
  }

  test("llm_containment finds subset dups that whole-doc jaccard cannot see") {
    import spark.implicits._
    val dir = tempDir("graft_cont")
    def toks(pfx: String, a: Int, b: Int) = (a until b).map(i => s"$pfx$i").mkString(" ")
    Seq(
      (0L, toks("w", 0, 10), "en", "s", 0L),                        // fully inside doc 1
      (1L, toks("w", 0, 10) + " " + toks("x", 0, 20), "en", "s", 0L), // the container
      (2L, toks("y", 0, 10), "en", "s", 0L),                        // novel
      (3L, toks("w", 0, 10), "de", "s", 0L))                        // same text, other lang
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Llm.llmContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // jaccard of the (0,1) pair is 10/30 = 0.33 — far below every
    // jaccard floor; containment of the smaller set is exactly 1.0.
    // the de copy must NOT pair (containment is within-language).
    out shouldBe Seq((0L, 1L, 0L, 1.0))
  }

  test("ev_attribution credits each purchase to the latest preceding non-purchase touch") {
    import spark.implicits._
    val dir = tempDir("graft_attr")
    val base = 1700000000L
    def ev(id: Long, user: Long, off: Int, tpe: String, v: Double) =
      (id, (base + off) * 1000000000L, user, tpe, v, "{}")
    Seq(
      ev(0, 1, 0, "view", 0), ev(1, 1, 10, "click", 0), ev(2, 1, 20, "purchase", 10),
      ev(3, 2, 0, "purchase", 5), // no preceding touch → '<none>'
      // a preceding PURCHASE is never a touch: both purchases credit the click
      ev(4, 3, 0, "click", 0), ev(5, 3, 10, "purchase", 1), ev(6, 3, 20, "purchase", 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.evAttribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    out shouldBe Seq(("<none>", 1L, 5.0), ("click", 3L, 13.0))
  }

  test("ev_active_users computes DAU and trailing-7-day WAU on a known user-day grid") {
    import spark.implicits._
    val dir = tempDir("graft_dau")
    val day0 = 1700006400L // 2023-11-15 00:00 UTC; add noon offset below
    def at(dayOff: Int, user: Long, id: Long) =
      (id, (day0 + dayOff * 86400L + 43200L) * 1000000000L, user, "view", 1.0, "{}")
    // users 1-3 on day 0; user 1 again on day 1; user 4 alone on day 10
    // (outside every earlier 7-day window)
    Seq(at(0, 1L, 0L), at(0, 2L, 1L), at(0, 3L, 2L), at(0, 1L, 3L), // dup user-day collapses
        at(1, 1L, 4L), at(10, 4L, 5L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.evActiveUsers(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    out shouldBe Seq(
      ("2023-11-15", 3L, 3L, 1.0),    // WAU = {1,2,3}
      ("2023-11-16", 1L, 3L, 0.3333), // day-1 window still sees all three
      ("2023-11-25", 1L, 1L, 1.0))    // day 10: only user 4 in [day4, day10]
  }

  test("llm_gopher_rules gates each canonical rule independently, boundaries inclusive") {
    import spark.implicits._
    val dir = tempDir("graft_gopher")
    Seq(
      (0L, Seq.fill(60)("spark").mkString(" "), "en", "g", 0L),        // all rules pass
      (1L, Seq.fill(10)("spark").mkString(" "), "en", "g", 0L),        // too short
      (2L, Seq.fill(60)("abcdefghijkl").mkString(" "), "en", "g", 0L), // words too long (12)
      (3L, Seq.fill(60)("12345").mkString(" "), "en", "g", 0L),        // no alpha words
      (4L, Seq.fill(50)("abc").mkString(" "), "en", "g", 0L),          // BOTH boundaries: 50 tok, wlen 3.0
      (5L, (Seq.fill(48)("word") ++ Seq.fill(12)("123")).mkString(" "), "en", "g", 0L)) // alpha exactly 0.8
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.Textops.llmGopherRules(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    out(0L) shouldBe ((60L, 5.0, 1.0, 1L, 1L, 1L, 1L))
    out(1L) shouldBe ((10L, 5.0, 1.0, 0L, 1L, 1L, 0L)) // fails ONLY length
    out(2L) shouldBe ((60L, 12.0, 1.0, 1L, 0L, 1L, 0L)) // fails ONLY word length
    out(3L) shouldBe ((60L, 5.0, 0.0, 1L, 1L, 0L, 0L)) // fails ONLY alpha
    out(4L) shouldBe ((50L, 3.0, 1.0, 1L, 1L, 1L, 1L)) // 50 tokens and wlen 3.0 are IN
    out(5L) shouldBe ((60L, 3.8, 0.8, 1L, 1L, 1L, 1L)) // alpha 0.8 is IN
  }

  test("dq_drift psi matches an independent Scala recomputation on a forced drift") {
    import spark.implicits._
    val dir = tempDir("graft_drift")
    // membership is the repo's md5-bucket rule — compute it here with
    // Spark's md5 (fixed public function; the formula under test is PSI)
    val keys = (0L until 200L).toDF("o_orderkey")
      .withColumn("is_prev",
        (conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
          .cast("long") % 100 < 80))
    val P = keys.where(col("is_prev")).count()
    val N = 200L - P
    // prev rows -> bin 0 (price 10), new rows -> bin 1 (price 30000)
    keys.withColumn("o_totalprice", when(col("is_prev"), 10.0).otherwise(30000.0))
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def r4d(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    def psi(np: Long, nn: Long): Double = {
      val sp = (np + 1.0) / (P + 20.0); val sn = (nn + 1.0) / (N + 20.0)
      (sp - sn) * math.log(sp / sn)
    }
    val out = queries.Extras.dqDrift(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    out.keySet shouldBe Set(0L, 25000L)
    out(0L) shouldBe ((P, 0L, r4d(psi(P, 0L))))
    out(25000L) shouldBe ((0L, N, r4d(psi(0L, N))))
    out(0L)._3 should be > 1.0 // total shift = severe drift, loudly positive
  }

  test("llm_ccnet_bucket terciles a lang by xent: 3/3/3, quality order head<middle<tail") {
    import spark.implicits._
    val dir = tempDir("graft_ccnet")
    // three token-frequency tiers → three strictly-ordered xent levels:
    // 'a' ×12 (common), 'b' ×6, 'z' ×3 (rare) over a 21-token corpus
    val docs =
      (0L to 2L).map(i => (i, "a a a a", "en", "s", 0L)) ++
      (3L to 5L).map(i => (i, "b b", "en", "s", 0L)) ++
      (6L to 8L).map(i => (i, "z", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = queries.Textops.llmCcnetBucket(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toSeq
    rows.map(x => (x._1, x._2)) shouldBe Seq(("head", 3L), ("middle", 3L), ("tail", 3L))
    // uniform xent within each tier (min == max == avg), strictly rising across
    rows.foreach { x => x._3 shouldBe x._4; x._4 shouldBe x._5 }
    rows.map(_._3) shouldBe rows.map(_._3).sorted
    rows.map(_._3).distinct.size shouldBe 3
  }

  test("ev_cohort_ltv matches the hand-computed cohort revenue curve") {
    import spark.implicits._
    val dir = tempDir("graft_ltv")
    def ev(id: Long, user: Long, day: Int, hour: Int, typ: String, v: Double) =
      // midnight-aligned base (1699920000 = 19675 × 86400) so hour
      // offsets stay inside their calendar day
      (id, (1699920000L + day * 86400L + hour * 3600L) * 1000000000L, user, typ, v, "{}")
    // users 1,2 sign up day 0; user 3 day 1
    Seq(
      ev(0, 1, 0, 1, "view", 0.0), ev(1, 1, 0, 2, "purchase", 10.0),
      ev(2, 1, 1, 3, "purchase", 5.0),
      ev(3, 2, 0, 4, "view", 0.0), ev(4, 2, 2, 5, "purchase", 3.0),
      ev(5, 3, 1, 6, "view", 0.0), ev(6, 3, 1, 7, "purchase", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = queries.Events.evCohortLtv(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSeq
    val d0 = rows.head._1 // cohort of day 0 (absolute date irrelevant)
    val d1 = rows.last._1
    rows shouldBe Seq(
      (d0, 0L, 10.0, 10.0, 2L, 5.0),
      (d0, 1L, 5.0, 15.0, 2L, 7.5),
      (d0, 2L, 3.0, 18.0, 2L, 9.0),
      (d1, 0L, 7.0, 7.0, 1L, 7.0))
  }

  test("gopherPass column equals llm_gopher_rules' pass verdict on the fixture (drift guard)") {
    import org.apache.spark.sql.functions.col
    val rules = queries.Textops.llmGopherRules(spark, sfDir)
      .select(col("doc_id"), col("pass"))
    val gate = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        queries.Textops.gopherPass(col("text")).cast("long").as("gp"))
    rules.join(gate, "doc_id").where(col("pass") =!= col("gp")).count() shouldBe 0L
    // non-degenerate: the fixture has both passing and failing docs
    rules.select("pass").distinct().count() shouldBe 2L
  }

  test("dq_referential reports planted orphans and unreferenced parents, relation by relation") {
    import spark.implicits._
    val dir = tempDir("graft_ref")
    Seq(Tuple1(0)).toDF("r_regionkey")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    // nation 1 points at region 7 (orphan) and no customer references it
    Seq((0, 0), (1, 7)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0L, 0), (1L, 0)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((0L, 0)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq(Tuple1(0L)).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // order 1 belongs to customer 5 (orphan); customer 1 places no orders
    Seq((0L, 0L), (1L, 5L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // third line item references order 9 (orphan); order 1 has no lines
    Seq((0L, 0L, 0L), (0L, 0L, 0L), (9L, 0L, 0L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = queries.Extras.dqReferential(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    out("customer->nation") shouldBe ((2L, 0L, 0.0, 2L, 1L, 0.5))
    out("lineitem->orders") shouldBe ((3L, 1L, 0.3333, 2L, 1L, 0.5))
    out("lineitem->part") shouldBe ((3L, 0L, 0.0, 1L, 1L, 1.0))
    out("lineitem->supplier") shouldBe ((3L, 0L, 0.0, 1L, 1L, 1.0))
    out("nation->region") shouldBe ((2L, 1L, 0.5, 1L, 1L, 1.0))
    out("orders->customer") shouldBe ((2L, 1L, 0.5, 2L, 1L, 0.5))
    out("supplier->nation") shouldBe ((1L, 0L, 0.0, 2L, 1L, 0.5))
  }

  test("llm_mix_apply moves every resampled language's token share toward its target") {
    // the whole point of temperature resampling: after applying the
    // repeat plan, each language's token share must sit CLOSER to its
    // √p target than the raw corpus share did (md5 quantization allows
    // a small residual, never a regression past the raw share)
    val wts = queries.Textops.llmMixWeights(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val nt = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        org.apache.spark.sql.functions
          .size(org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("n_tok"))
    val post = queries.Textops.llmMixApply(spark, sfDir)
      .join(nt, "doc_id")
      .groupBy("lang").agg(sum("n_tok").as("post_tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val totPost = post.values.sum.toDouble
    wts.foreach { case (lang, share, target, weight) =>
      val postShare = post.getOrElse(lang, 0L) / totPost
      withClue(s"$lang (w=$weight): post=$postShare target=$target raw=$share") {
        if (math.abs(weight - 1.0) > 0.01)
          math.abs(postShare - target) should be < math.abs(share - target)
        else // ~unit weight: resampling must leave the language in place
          math.abs(postShare - target) should be <= (math.abs(share - target) + 0.01)
      }
    }
  }

  test("dq_delta reports schema divergence: added/dropped/retyped columns and null-rate drift") {
    import spark.implicits._
    // prev has (id bigint, a string, gone double); new drops `gone`, adds
    // `fresh`, retypes `a` to bigint, and introduces nulls in `id`
    val prev = Seq((1L, Option("x"), Option(1.5)), (2L, None, None))
      .toDF("id", "a", "gone")
    val cur = Seq((Option(10L), Option(7L), "u"), (None, None, "v"), (Option(12L), Option(9L), "w"))
      .toDF("id", "a", "fresh")
    val out = queries.Extras.dqDeltaFrames(prev, cur).collect()
      .map(r => r.getString(0) -> r).toMap
    out.keySet shouldBe Set("id", "a", "gone", "fresh")
    // shared, same-type column: full two-sided censuses, exact-ratio delta
    val id = out("id")
    (id.getString(1), id.getString(2), id.getBoolean(3)) shouldBe (("bigint", "bigint", true))
    (id.getLong(4), id.getLong(5)) shouldBe ((2L, 3L))          // version row counts
    (id.getLong(6), id.getLong(7)) shouldBe ((0L, 1L))          // null censuses
    id.getDouble(8) shouldBe 0.0
    id.getDouble(9) shouldBe 0.3333
    id.getDouble(10) shouldBe 0.3333                            // r4(1/3 - 0)
    // retyped column: present both sides, type_match false, rates still real
    val a = out("a")
    (a.getString(1), a.getString(2), a.getBoolean(3)) shouldBe (("string", "bigint", false))
    (a.getDouble(8), a.getDouble(9)) shouldBe ((0.5, 0.3333))
    a.getDouble(10) shouldBe -0.1667                            // r4(1/3 - 1/2)
    // dropped column: censuses on prev only, NULLs on the new side
    val gone = out("gone")
    (gone.getString(1), gone.isNullAt(2), gone.getBoolean(3)) shouldBe (("double", true, false))
    (gone.getLong(6), gone.isNullAt(7)) shouldBe ((1L, true))
    (gone.getDouble(8), gone.isNullAt(9), gone.isNullAt(10)) shouldBe ((0.5, true, true))
    // added column: censuses on new only
    val fresh = out("fresh")
    (fresh.isNullAt(1), fresh.getString(2)) shouldBe ((true, "string"))
    (fresh.isNullAt(6), fresh.getLong(7), fresh.getDouble(9)) shouldBe ((true, 0L, 0.0))
  }

  test("dq_manifest measures the pinned delivery layout and recomputes from source exactly") {
    import org.apache.spark.sql.functions._
    val out = queries.Extras.dqManifest(spark, sfDir).collect()
    out.map(_.getString(0)).toSeq shouldBe Seq("new", "prev") // version order
    // layout contract MEASURED from the delivered files, not assumed
    out.foreach(_.getLong(1) shouldBe 1L)
    // row/key/bounds/logical-size censuses must equal an independent
    // recomputation straight from the source table (the delivery is
    // lossless, so the read-back census and the source census agree)
    val src = Tables.orders(spark, sfDir)
      .withColumn("version",
        when(conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
          .cast("long") % 100 < 80, lit("prev")).otherwise(lit("new")))
      .groupBy("version")
      .agg(count(lit(1)), countDistinct(col("o_orderkey")),
        min("o_orderdate"), max("o_orderdate"),
        sum(lit(32L) + octet_length(col("o_orderstatus"))
          + octet_length(col("o_orderpriority"))))
      .collect().map(r => r.getString(0) -> r).toMap
    out.foreach { r =>
      val s = src(r.getString(0))
      r.getLong(2) shouldBe s.getLong(1)
      r.getLong(3) shouldBe s.getLong(2)
      r.getTimestamp(4) shouldBe s.getTimestamp(3)
      r.getTimestamp(5) shouldBe s.getTimestamp(4)
      r.getLong(6) shouldBe s.getLong(5)
    }
    // both versions are non-trivial on the fixture
    out.map(_.getLong(2)).sum shouldBe src.values.map(_.getLong(1)).sum
    out.foreach(_.getLong(2) should be > 0L)
  }

  test("interval join keeps every purchase exactly once and counts only in-window clicks") {
    // row contract: LEFT join + per-purchase groupBy => output rows ==
    // purchase events, each exactly once; n_clicks re-derivable by a
    // per-row recount against the raw events
    val ev = Tables.events(spark, sfDir)
    val out = graft.queries.Events.evIntervalJoin(spark, sfDir)
    val nPurch = ev.where(col("event_type") === "purchase").count()
    out.count() shouldBe nPurch
    out.select("event_id").distinct().count() shouldBe nPurch
    // independent recount for a sample: SQL-free Scala oracle
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val sample = out.orderBy("event_id").limit(200).collect()
    val purch = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2).getTime)).toMap
    sample.foreach { r =>
      val (uid, pts) = purch(r.getLong(0))
      val want = clicks.count { case (u, c) =>
        u == uid && c < pts && c >= pts - 600000L }
      r.getLong(4) shouldBe want
    }
  }

  test("llm_embed_quantize matches a driver-side brute force and respects the SQ8 error bound") {
    val out = queries.Llm.llmEmbedQuantize(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent recomputation in plain scala doubles
    val vecs = Tables.embeddings(spark, sfDir).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    val exp = (1 to dims).map { dim =>
      val xs = vecs.map(v => v(dim - 1).toDouble)
      val absmax = xs.map(math.abs).max
      val e7s = xs.map { x =>
        val qv = if (absmax == 0) 0.0 else math.floor(x / absmax * 127 + 0.5)
        math.floor(math.abs(x - qv * absmax / 127) * 1e7 + 0.5).toLong
      }
      (dim.toLong, math.floor(absmax * 10000 + 0.5) / 10000,
        xs.length.toLong, e7s.sum, e7s.max)
    }
    out shouldBe exp
    // the symmetric-SQ8 guarantee: reconstruction error ≤ half a
    // quantization step = absmax/254 (+1 for the e7 grain)
    out.foreach { case (_, absmax, _, _, maxE7) =>
      maxE7 should be <= (math.floor(absmax / 254 * 1e7 + 0.5) + 10000).toLong
    }
  }

  test("set multiset variants keep per-key multiplicity arithmetic (min / truncated difference)") {
    import org.apache.spark.sql.functions.col
    val a = Tables.customer(spark, sfDir).where(col("c_mktsegment") === "BUILDING")
      .select("c_nationkey").collect().map(_.getInt(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    val b = Tables.customer(spark, sfDir).where(col("c_acctbal") > 5000)
      .select("c_nationkey").collect().map(_.getInt(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    val inter = queries.Sets.queries("set_intersect_all")(spark, sfDir)
      .collect().map(_.getInt(0)).groupBy(identity).view.mapValues(_.length).toMap
    val excpt = queries.Sets.queries("set_except_all")(spark, sfDir)
      .collect().map(_.getInt(0)).groupBy(identity).view.mapValues(_.length).toMap
    val keys = a.keySet ++ b.keySet
    keys.foreach { k =>
      inter.getOrElse(k, 0) shouldBe math.min(a.getOrElse(k, 0), b.getOrElse(k, 0))
      excpt.getOrElse(k, 0) shouldBe math.max(0, a.getOrElse(k, 0) - b.getOrElse(k, 0))
    }
    // the fixture must actually exercise multiplicities > 1, or this
    // test (and the ALL-vs-DISTINCT distinction) is vacuous
    inter.values.max should be > 1
  }

  test("the round-9 additions are shuffle-width-independent (order-free sums by construction)") {
    // the exact-scaled-integer discipline's CI guard: results must be
    // bit-identical at 1, 7 and 32 shuffle partitions — a regression to
    // naive double summation would flip ulps with the merge order and
    // surface here before the oracle ever sees it
    def runAll(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      queries.Llm.llmEmbedQuantize(spark, sfDir).collect().toSeq,
      queries.Textops.llmBpeMerges(spark, sfDir).collect().toSeq,
      queries.Sketches.llmAnnPq(spark, sfDir).collect().toSeq,
      // fourth-session additions: the centered/weighted moment sums ride
      // the same exact-scaled-integer recipe (sumR4 / sumR4W)
      queries.Aggs.aggSkewKurt(spark, sfDir).collect().toSeq,
      queries.Aggs.aggWeighted(spark, sfDir).collect().toSeq,
      queries.Extras.dqOutliers(spark, sfDir).collect().toSeq,
      queries.Joins.joinNullsafe(spark, sfDir).collect().toSeq,
      // fifth-session additions: BM25's ≤|Q|-element contrib sums ride
      // sumR4; scd2/markov are pure window/count algebra but their
      // filtered-window and normalizer-join shapes must not depend on
      // the exchange width either
      queries.Llm.llmBm25(spark, sfDir).collect().toSeq,
      queries.Windows.winScd2(spark, sfDir).collect().toSeq,
      queries.Events.evMarkov(spark, sfDir).collect().toSeq,
      // fifth-session additions: pagerank's per-iteration sumR8 merges,
      // the triangle census's sampled wedge join, corr's centered sums,
      // gap-fill's bounded grid — none may depend on exchange width
      queries.Graphs.graphPagerank(spark, sfDir).collect().toSeq,
      queries.Graphs.graphTriangles(spark, sfDir).collect().toSeq,
      queries.Aggs.aggCorr(spark, sfDir).collect().toSeq,
      queries.Events.evGapFill(spark, sfDir).collect().toSeq,
      queries.Joins.joinBand(spark, sfDir).collect().toSeq,
      queries.Aggs.aggTtest(spark, sfDir).collect().toSeq,
      queries.Aggs.aggGini(spark, sfDir).collect().toSeq,
      queries.Extras.dqBenford(spark, sfDir).collect().toSeq,
      queries.Windows.winRfm(spark, sfDir).collect().toSeq,
      queries.Events.evForecastSn(spark, sfDir).collect().toSeq,
      queries.Aggs.aggChisq(spark, sfDir).collect().toSeq,
      queries.Scalars.fnTry(spark, sfDir).collect().toSeq,
      queries.Llm.llmHardnegMine(spark, sfDir).collect().toSeq,
      queries.Llm.llmRankFusion(spark, sfDir).collect().toSeq)
    val results = Seq("1", "7", "32").map { n =>
      withConf("spark.sql.shuffle.partitions" -> n)(runAll())
    }
    results(1) shouldBe results(0)
    results(2) shouldBe results(0)
    all(results(0).map(_.size)) should be > 0
  }

  test("llm_bpe_merges matches a driver-side brute force over the raw corpus") {
    val out = queries.Textops.llmBpeMerges(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
    // independent recomputation: no word-count collapse, no vocab table —
    // walk every token of every doc and tally adjacent char pairs
    val texts = Tables.documents(spark, sfDir).select("text")
      .collect().flatMap(r => Option(r.getString(0)))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ", -1) if w.length >= 2; i <- 0 until w.length - 1) {
      val p = w.substring(i, i + 2)
      counts(p) = counts.getOrElse(p, 0L) + 1L
    }
    val expTop = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    out shouldBe expTop
    all(out.map(_._1.length)) shouldBe 2
  }

  test("win_scd2 matches a driver-side SCD2 fold over the raw change stream") {
    val out = queries.Windows.winScd2(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDate(3).toString, r.getDate(4).toString, r.getBoolean(5)))
    // independent recomputation: a per-customer in-memory fold, no
    // windows — keep change rows, chain valid_to, close the tail at the
    // sentinel ("yyyy-MM-dd" strings sort chronologically)
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"), col("o_orderpriority"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toString, r.getString(3)))
    val exp = orders.groupBy(_._1).toSeq.flatMap { case (ck, rowsU) =>
      val rows = rowsU.sortBy(r => (r._3, r._2))
      val kept = rows.indices
        .filter(i => i == 0 || rows(i - 1)._4 != rows(i)._4).map(rows)
      kept.zipWithIndex.map { case (r, i) =>
        val vto = if (i + 1 < kept.size) kept(i + 1)._3 else "9999-12-31"
        (ck, r._2, r._4, r._3, vto, i + 1 == kept.size)
      }
    }.sortBy(t => (t._1, t._4, t._2))
    out shouldBe exp
    // structural SCD2 invariants: exactly one open version per customer,
    // and consecutive versions always differ in the tracked attribute
    exp.groupBy(_._1).foreach { case (_, vs) => vs.count(_._6) shouldBe 1 }
  }

  test("ev_markov matches a driver-side transition tally and rows normalize to 1") {
    val out = queries.Events.evMarkov(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type").collect().toSeq
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), t.getEpochSecond * 1000000L + t.getNano / 1000L,
          r.getLong(2), r.getString(3))
      }
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, rowsU) =>
      val types = rowsU.sortBy(r => (r._2, r._3)).map(_._4)
      types.zip(types.drop(1))
    }
    val counts = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val exp = counts.toSeq.map { case ((a, b), n) =>
      (a, b, n, graft.ops.Det.r4d(n.toDouble / tot(a)))
    }.sortBy(t => (t._1, t._2))
    out shouldBe exp
    // each matrix row's raw probabilities sum to 1 before the r4 grain
    tot.foreach { case (a, t) =>
      counts.collect { case ((p, _), n) if p == a => n }.sum shouldBe t }
  }

  test("graph_pagerank matches a driver-side power iteration (same r8 grain)") {
    val out = queries.Graphs.graphPagerank(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent recomputation: collect the undirected co-purchase
    // pairs, symmetrize, run 3 synchronous iterations with the exact
    // r8 / scaled-integer-sum arithmetic the query declares
    def r8d(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val und = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2)
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val edges = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank: Map[Long, Double] = deg.map { case (n, _) => n -> 1.0 }
    for (_ <- 1 to 3) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        // mirror sumR8: per-edge contribs to exact scaled longs, sum
        val ks = es.map { case (src, _) =>
          math.floor(r8d(rank(src) / deg(src)) * 1e8 + 0.5).toLong
        }
        dst -> ks.sum / 1e8
      }
      rank = contribs.map { case (n, s) => n -> r8d(0.15 + 0.85 * s) }
    }
    val exp = rank.toSeq.map { case (n, r) => (n, deg(n), r) }.sortBy(_._1)
    out shouldBe exp
    // total mass conservation at the r8 grain: Σ rank ≈ N (no dangling
    // leak in the symmetrized graph)
    val n = exp.size
    math.abs(exp.map(_._3).sum - n) should be < (n * 1e-3)
  }

  test("agg_corr matches a driver-side centered two-pass (same r4 mirroring)") {
    val out = queries.Aggs.aggCorr(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val rows = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
      .collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2) * (1 - r.getDouble(3))))
    val exp = rows.groupBy(_._1).toSeq.map { case (rf, g) =>
      val n = g.size
      val mx = graft.ops.Det.r4d(g.map(_._2).sum / n)
      val my = graft.ops.Det.r4d(g.map(_._3).sum / n)
      def s(f: ((String, Double, Double)) => Double): Double =
        g.map(t => math.floor(f(t) * 10000 + 0.5).toLong).sum / 10000.0
      val sxy = s(t => (t._2 - mx) * (t._3 - my))
      val sxx = s(t => (t._2 - mx) * (t._2 - mx))
      val syy = s(t => (t._3 - my) * (t._3 - my))
      (rf, n.toLong, graft.ops.Det.r4d(sxy / math.sqrt(sxx * syy)),
        graft.ops.Det.r4d(sxy / (n - 1)))
    }.sortBy(_._1)
    // driver fold sums raw doubles for the means where the engines sum
    // in their own orders — compare the r4'd outputs, which is the
    // contract (the oracle compare is the bit-exact gate)
    out.map(_._1) shouldBe exp.map(_._1)
    out.zip(exp).foreach { case (o, e) =>
      o._2 shouldBe e._2
      o._3 shouldBe e._3 +- 2e-4
      o._4 shouldBe e._4 +- 2e-4
    }
    // the fixture draws quantity and price independently, so the true
    // corr is ≈ 0 — the gate is the Cauchy-Schwarz bound plus sign
    // agreement between corr and covariance (same sxy numerator)
    out.foreach { r =>
      assert(r._3 >= -1.0 && r._3 <= 1.0)
      assert(r._3.sign == r._4.sign)
    }
  }

  test("ev_gap_fill densifies the calendar and forward-fills (driver-side fold)") {
    val out = queries.Events.evGapFill(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"))
      .collect().toSeq.map(r => (r.getString(0), r.getDate(1).toLocalDate))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.map(_._2).min
    val d1 = daily.keys.map(_._2).max
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val exp = daily.keys.map(_._1).toSeq.distinct.sorted.flatMap { t =>
      var carry = 0L
      days.map { day =>
        val n = daily.get((t, day))
        carry = n.getOrElse(carry)
        (t, day.toString, n.getOrElse(0L), carry, n.isEmpty)
      }
    }
    out shouldBe exp
    // structural: every (type, day) cell exists — |types| × |days| rows
    out.size shouldBe daily.keys.map(_._1).toSeq.distinct.size * days.size
  }

  test("agg_ttest matches a driver-side Welch fold over the md5 split") {
    val out = queries.Aggs.aggTtest(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(k: Long): Long = {
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val rows = Tables.orders(spark, sfDir)
      .select("o_orderpriority", "o_totalprice", "o_orderkey")
      .collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1),
        if (bucket(r.getLong(2)) < 50) "A" else "B"))
    val exp = rows.groupBy(_._1).toSeq.map { case (p, g) =>
      def stats(v: String): (Long, Double, Double) = {
        val xs = g.filter(_._3 == v).map(_._2)
        val m = graft.ops.Det.r4d(xs.sum / xs.size)
        val s2 = xs.map(x => math.floor((x - m) * (x - m) * 10000 + 0.5).toLong)
          .sum / 10000.0 / (xs.size - 1)
        (xs.size.toLong, m, s2)
      }
      val (na, ma, va) = stats("A"); val (nb, mb, vb) = stats("B")
      (p, na, nb, ma, mb, graft.ops.Det.r4d((ma - mb) / math.sqrt(va / na + vb / nb)))
    }.sortBy(_._1)
    out.map(t => (t._1, t._2, t._3)) shouldBe exp.map(t => (t._1, t._2, t._3))
    out.zip(exp).foreach { case (o, e) =>
      o._4 shouldBe e._4 +- 2e-4; o._5 shouldBe e._5 +- 2e-4
      o._6 shouldBe e._6 +- 2e-3
      // same-distribution arms: the split is random noise, so |t| stays
      // far from any significance blowup
      math.abs(o._6) should be < 4.0
    }
  }

  test("agg_gini matches a driver-side rank-formula fold exactly") {
    val out = queries.Aggs.aggGini(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val rows = Tables.orders(spark, sfDir)
      .select("o_orderpriority", "o_totalprice", "o_orderkey")
      .collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val exp = rows.groupBy(_._1).toSeq.map { case (p, g) =>
      val sorted = g.sortBy(t => (t._2, t._3))
      val n = sorted.size.toLong
      // i·x and x are exact at the money grain — mirror the scaled sums
      val sixy = sorted.zipWithIndex
        .map { case (t, i0) => math.floor((i0 + 1L) * t._2 * 10000 + 0.5).toLong }
        .sum / 10000.0
      val sx = sorted.map(t => math.floor(t._2 * 10000 + 0.5).toLong).sum / 10000.0
      (p, n, graft.ops.Det.r4d(2 * sixy / (n * sx) - (n + 1.0) / n))
    }.sortBy(_._1)
    out shouldBe exp
    // a Gini is a Gini: inside [0, 1) for a positive-valued column
    out.foreach(r => assert(r._3 >= 0.0 && r._3 < 1.0))
  }

  test("dq_benford matches a driver-side digit census exactly") {
    val out = queries.Extras.dqBenford(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val benford = Map(1L -> 0.301030, 2L -> 0.176091, 3L -> 0.124939,
      4L -> 0.096910, 5L -> 0.079181, 6L -> 0.066947, 7L -> 0.057992,
      8L -> 0.051153, 9L -> 0.045757)
    val digits = Tables.lineitem(spark, sfDir).select("l_extendedprice")
      .collect().toSeq
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong.toString.head.toString.toLong)
    val total = digits.size
    val exp = digits.groupBy(identity).toSeq.map { case (dg, g) =>
      val share = graft.ops.Det.r4d(g.size * 1.0 / total)
      (dg, g.size.toLong, share, benford(dg), graft.ops.Det.r4d(share - benford(dg)))
    }.sortBy(_._1)
    out shouldBe exp
    // the census covers every observed digit and shares sum to ~1
    math.abs(out.map(_._3).sum - 1.0) should be < 1e-3
  }

  test("win_rfm matches a driver-side RFM fold (exact ntile semantics)") {
    val out = queries.Windows.winRfm(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
    val rows = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
        col("o_totalprice"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val ref = rows.map(_._2).max
    val cust = rows.groupBy(_._1).toSeq.map { case (ck, g) =>
      val rec = java.time.temporal.ChronoUnit.DAYS.between(g.map(_._2).max, ref)
      val mon = g.map(t => math.floor(t._3 * 10000 + 0.5).toLong).sum / 10000.0
      (ck, rec, g.size.toLong, mon)
    }
    // SQL ntile: first (n mod 5) buckets get one extra row
    def ntile5[A](sorted: Seq[A]): Map[A, Long] = {
      val n = sorted.size; val base = n / 5; val rem = n % 5
      sorted.zipWithIndex.map { case (k, i) =>
        val b = if (i < rem * (base + 1)) i / (base + 1)
                else rem + (i - rem * (base + 1)) / base
        k -> (b + 1L)
      }.toMap
    }
    val rS = ntile5(cust.sortBy(c => (-c._2, c._1)).map(_._1))
    val fS = ntile5(cust.sortBy(c => (c._3, c._1)).map(_._1))
    val mS = ntile5(cust.sortBy(c => (c._4, c._1)).map(_._1))
    val exp = cust.map { case (ck, rec, fr, mon) =>
      (ck, rec, fr, mon, rS(ck), fS(ck), mS(ck), s"${rS(ck)}${fS(ck)}${mS(ck)}")
    }.sortBy(_._1)
    out shouldBe exp
    // quintiles are quintiles: bucket sizes differ by at most one
    val sizes = out.groupBy(_._5).values.map(_.size)
    (sizes.max - sizes.min) should be <= 1
  }

  test("ev_forecast_sn matches a driver-side seasonal-naive fold exactly") {
    val out = queries.Events.evForecastSn(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"))
      .collect().toSeq.map(r => (r.getString(0), r.getDate(1).toLocalDate))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.map(_._2).min
    val d1 = daily.keys.map(_._2).max
    val days = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toVector
    val exp = daily.keys.map(_._1).toSeq.distinct.sorted.map { t =>
      val series = days.map(day => daily.getOrElse((t, day), 0L))
      val pairs = series.drop(7).zip(series)   // (actual, lag-7 prediction)
      val n = pairs.size.toLong
      val mae = graft.ops.Det.r4d(pairs.map(p => math.abs(p._1 - p._2)).sum.toDouble / n)
      val bias = graft.ops.Det.r4d(pairs.map(p => p._1 - p._2).sum.toDouble / n)
      (t, n, mae, bias)
    }
    out shouldBe exp
  }

  test("llm_hardneg_mine's negatives are the closest DIFFERENT-label vectors (brute force twin)") {
    val out = queries.Llm.llmHardnegMine(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label", "cast(embedding as array<double>) e")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map(t => t._1 * t._2).sum
      graft.ops.Det.r4d(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
    }
    val exp = vecs.flatMap { case (q, ql, qe) =>
      vecs.filter(v => v._1 != q && v._2 != ql)
        .map(v => (v._1, v._2, cos(qe, v._3)))
        .sortBy(t => (-t._3, t._1)).take(3).zipWithIndex
        .map { case ((vid, nl, c), i) => (q, ql, vid, nl, c, i + 1L) }
    }.sortBy(t => (t._1, t._6))
    // cosines compared at tolerance: the driver dot sums in its own
    // order (engine r4 could differ by one grain on ulp-boundary pairs);
    // the SELECTION (ids, labels, ranks) must match exactly
    out.map(t => (t._1, t._2, t._3, t._4, t._6)) shouldBe
      exp.map(t => (t._1, t._2, t._3, t._4, t._6))
    out.zip(exp).foreach { case (o, e) => o._5 shouldBe e._5 +- 2e-4 }
    // every mined negative really is a negative
    out.foreach(t => assert(t._2 != t._4))
  }

  test("llm_pref_pairs pairs each query's best positive with its hardest negative (brute force twin)") {
    val out = queries.Llm.llmPrefPairs(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label", "cast(embedding as array<double>) e")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map(t => t._1 * t._2).sum
      graft.ops.Det.r4d(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
    }
    val exp = vecs.flatMap { case (q, ql, qe) =>
      val others = vecs.filter(_._1 != q).map(v => (v._1, v._2, cos(qe, v._3)))
      val pos = others.filter(_._2 == ql).sortBy(t => (-t._3, t._1)).headOption
      val neg = others.filter(_._2 != ql).sortBy(t => (-t._3, t._1)).headOption
      for (p <- pos; n <- neg)
        yield (q, ql, p._1, p._3, n._1, n._3)
    }.sortBy(_._1)
    // selection (ids, labels) exact; cosines/margins at one-grain tolerance
    // (driver fold sums the dot in its own order — same rationale as the
    // hardneg twin above)
    out.map(t => (t._1, t._2, t._3, t._5)) shouldBe
      exp.map(t => (t._1, t._2, t._3, t._5))
    out.zip(exp).foreach { case (o, e) =>
      o._4 shouldBe e._4 +- 2e-4
      o._6 shouldBe e._6 +- 2e-4
      o._7 shouldBe (e._4 - e._6) +- 4e-4
      // the pair is trainable: chosen really shares the label, and the
      // margin column is exactly chosen - rejected at the r4 grain
      assert(o._7 == graft.ops.Det.r4d(o._4 - o._6))
    }
  }

  test("llm_sample_topk draws exactly k docs, stable across runs and corpus order") {
    val a = queries.Extras.llmSampleTopk(spark, sfDir).collect().toSeq
    a.size shouldBe math.min(256,
      Tables.documents(spark, sfDir).count()).toInt
    // deterministic: a second evaluation returns the identical draw
    val b = queries.Extras.llmSampleTopk(spark, sfDir).collect().toSeq
    a.map(_.getLong(0)) shouldBe b.map(_.getLong(0))
    // the draw really is the k smallest salted ranks (driver-side twin)
    val ranks = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0))
      .map(id => (id, java.security.MessageDigest.getInstance("MD5")
        .digest(s"smp_$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
    val expIds = ranks.sortBy(_._2).take(256).map(_._1).sorted.toSeq
    a.map(_.getLong(0)) shouldBe expIds
  }

  test("ev_cdc_apply compacts the changelog latest-wins and drops tombstoned users (driver twin)") {
    val out = queries.Events.evCdcApply(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    // order on FULL-precision event time (unix_micros), not the seconds
    // the output reports — two events of one user inside the same second
    // must still resolve by raw ts first, exactly as the query's window
    val ev = Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) ts_us",
        "cast(floor(unix_timestamp(ts)) as long) ts_s",
        "event_id", "event_type", "value")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5)))
    val exp = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val last = rows.maxBy(r => (r._2, r._4))
      if (last._5 == "error") None
      else Some((uid, last._3, last._5, graft.ops.Det.r4d(last._6), rows.size.toLong))
    }.sortBy(_._1)
    out shouldBe exp
    // tombstone rule really fired on this fixture (an 'error'-last user exists)
    assert(out.size < ev.map(_._1).distinct.size)
  }

  test("llm_kmeans matches a driver-side Lloyd fold exactly (seeds, rounds, scaled-int means)") {
    val out = queries.Llm.llmKmeans(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var cb: Map[Int, Array[Double]] =
      vecs.take(8).zipWithIndex.map { case ((_, e), i) => i -> e }.toMap
    def assign(c: Map[Int, Array[Double]]): Seq[(Long, Int, Double)] =
      vecs.map { case (id, e) =>
        val ne = dot(e, e)
        val best = c.toSeq.map { case (code, cc) =>
          (graft.ops.Det.r4d(ne - 2 * dot(e, cc) + dot(cc, cc)), code)
        }.minBy(identity)
        (id, best._2, best._1)
      }
    for (_ <- 1 to 2) {
      val byCode = assign(cb).groupBy(_._2)
      cb = cb.map { case (code, prev) =>
        code -> byCode.get(code).fold(prev) { rows =>
          val members = rows.map(r => vecs(vecs.indexWhere(_._1 == r._1))._2)
          Array.tabulate(prev.length) { p =>
            members.map(e => math.floor(e(p) * 1e9 + 0.5).toLong).sum / 1e9 / members.size
          }
        }
      }
    }
    val fin = assign(cb)
    val exp = fin.groupBy(_._2).toSeq.map { case (code, rows) =>
      val inertia = rows.map(r => math.floor(r._3 * 1e4 + 0.5).toLong).sum / 1e4
      (code.toLong, rows.size.toLong, inertia,
        graft.ops.Det.r4d(math.sqrt(dot(cb(code), cb(code)))))
    }.sortBy(_._1)
    out shouldBe exp
    // the census partitions the corpus
    out.map(_._2).sum shouldBe vecs.size
  }

  test("llm_kl_shift matches a driver-side smoothed-KL fold and is 0 for identical sides") {
    val out = queries.Textops.llmKlShift(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "lang", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(3)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 100
    }
    val exp = docs
      .filter(d => d._2 != null && { val b = bucket(d._1); b < 80 || b >= 90 })
      .flatMap { case (id, lang, text) =>
        val train = bucket(id) < 80
        Option(text).toSeq.flatMap(_.split(" ", -1)).map(t => (lang, t, train))
      }
      .groupBy(t => (t._1, t._2)).toSeq
      .map { case ((lang, _), rows) =>
        (lang, rows.count(_._3).toLong, rows.count(!_._3).toLong)
      }
      .groupBy(_._1).toSeq.map { case (lang, toks) =>
        val na = toks.map(_._2).sum; val nb = toks.map(_._3).sum
        val v = toks.size.toLong
        val kl = toks.map { case (_, ca, cb) =>
          val p = (ca + 1.0) / (na + v); val q = (cb + 1.0) / (nb + v)
          math.floor(p * math.log(p / q) * 1e8 + 0.5).toLong
        }.sum / 1e8
        (lang, na, nb, v, kl)
      }.sortBy(_._1)
    out shouldBe exp
    // smoothed KL of a distribution against itself is 0 by construction:
    // identical counts make p == q per token — sanity on the formula
    val self = Seq((3L, 3L), (1L, 1L)).map { case (ca, cbb) =>
      val p = (ca + 1.0) / (4 + 2); val q = (cbb + 1.0) / (4 + 2)
      p * math.log(p / q)
    }.sum
    self shouldBe 0.0
  }

  test("llm_rank_fusion's RRF scores are a pure function of the two rank columns") {
    val out = queries.Llm.llmRankFusion(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3)))
    out should not be empty
    out.foreach { case (_, rb, rt, rrf) =>
      val e = rb.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rt.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      rrf shouldBe math.floor(e * 1e8 + 0.5) / 1e8
      // at least one ranker placed the doc
      assert(rb.nonEmpty || rt.nonEmpty)
    }
    // descending by fused score, ranks within each list are distinct
    out.map(_._4) shouldBe out.map(_._4).sorted.reverse
    val rbs = out.flatMap(_._2); rbs.distinct.size shouldBe rbs.size
  }

  test("agg_chisq matches a driver-side contingency fold exactly") {
    val out = queries.Aggs.aggChisq(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    val rows = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    val cells = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowT = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val colT = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tot = rows.size.toLong
    val contribs = cells.map { case ((rf, ls), n) =>
      val e = rowT(rf) * colT(ls) * 1.0 / tot
      (rf, ls) -> graft.ops.Det.r4d((n - e) * (n - e) / e)
    }
    val chi2 = contribs.values
      .map(c => math.floor(c * 10000 + 0.5).toLong).sum / 10000.0
    val df = (rowT.size - 1L) * (colT.size - 1L)
    val exp = cells.toSeq.map { case ((rf, ls), n) =>
      val e = rowT(rf) * colT(ls) * 1.0 / tot
      (rf, ls, n, graft.ops.Det.r4d(e), contribs((rf, ls)), chi2, df)
    }.sortBy(t => (t._1, t._2))
    out shouldBe exp
    // the marginals reconstruct the corpus
    out.map(_._3).sum shouldBe tot
  }

  test("fn_try's rails census the three outcome classes correctly") {
    val out = queries.Scalars.fnTry(spark, sfDir).collect().toSeq
    out.foreach { r =>
      val n = r.getLong(1)
      r.getLong(4) shouldBe n    // leading-digit cast always succeeds
      r.getLong(5) shouldBe 0L   // full-string int cast always fails
      r.getLong(6) shouldBe 0L   // timestamp parse of a priority fails
      r.getLong(7) shouldBe 1L   // priorities span 1..5
      r.getLong(8) shouldBe 5L
      // div_nulls counts exactly the custkey % 3 == 0 rows
      assert(r.getLong(2) > 0 && r.getLong(2) < n)
    }
    val ordersDivNull = Tables.orders(spark, sfDir)
      .where(col("o_custkey") % 3 === 0).count()
    out.map(_.getLong(2)).sum shouldBe ordersDivNull
  }

  test("join_band's banded equi-join equals the naive inequality join (coverage is exact)") {
    val out = queries.Joins.joinBand(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute force: every (customer, supplier) pair, no banding — the
    // 3-adjacent-buckets construction must lose nothing at the band
    // boundary (s ∈ [c−δ, c+δ] spans ≤ 3 δ-width buckets)
    val cs = Tables.customer(spark, sfDir).select("c_custkey", "c_acctbal")
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val ss = Tables.supplier(spark, sfDir).select("s_suppkey", "s_acctbal")
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val exp = (for {
      (ck, cb) <- cs; (sk, sb) <- ss if math.abs(cb - sb) <= 10
    } yield (ck, sk, graft.ops.Det.r4d(cb - sb))).sortBy(t => (t._1, t._2))
    out shouldBe exp
  }

  test("llm_bm25 matches a driver-side brute force (same r4 + scaled-integer sum)") {
    val qTerms = Seq("join", "hash", "scan", "filter")
    val out = queries.Llm.llmBm25(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().toSeq.flatMap(r => Option(r.getString(1)).map(t => r.getLong(0) -> t))
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val nDocs = dl.size.toLong
    val avgdl = dl.values.sum * 1.0 / nDocs
    val tf = toks.flatMap { case (id, ts) => ts.filter(qTerms.contains).map(id -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val exp = tf.toSeq.groupBy(_._1._1).toSeq.map { case (id, terms) =>
      // mirror sumR4 exactly: each contrib to its scaled integer, sum
      // the longs, divide back — never a naive double sum
      val ks = terms.map { case ((_, term), n) =>
        val c = math.log((nDocs - df(term) + 0.5) / (df(term) + 0.5) + 1.0) *
          (n * 2.2) / (n + 1.2 * (0.25 + 0.75 * (dl(id) / avgdl)))
        math.floor(c * 10000 + 0.5).toLong
      }
      (id, ks.sum / 10000.0, terms.size.toLong)
    }.sortBy(t => (-t._2, t._1)).take(20)
    out shouldBe exp
  }
}
