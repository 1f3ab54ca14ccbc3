package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions.MinHashAgg

/** Algebraic laws over the engine's operators (SURVEY.md §5.1 layer 4).
  * Raw ScalaCheck Gens with fixed seeds (the scalatestplus bridge is not
  * in the offline cache); Spark-side laws are checked on the sf0.001
  * fixture, pure-function laws on generated data. */
class PropertySpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Evaluate `gen` on 100 fixed seeds, run `body` on each sample. */
  private def forAllSeeded[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 100).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  test("filter fusion: filter(p).filter(q) == filter(p && q) on lineitem") {
    val li = Tables.lineitem(spark, sfDir)
    val p = col("l_quantity") > 25
    val q = col("l_discount") < 0.05
    val fused = li.where(p && q)
    val chained = li.where(p).where(q)
    chained.count() shouldBe fused.count()
    chained.exceptAll(fused).count() shouldBe 0L
  }

  test("union-all counts are additive; distinct union is bounded") {
    val c = Tables.customer(spark, sfDir)
    val a = c.where(col("c_acctbal") > 5000).select("c_custkey")
    val b = c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    a.union(b).count() shouldBe a.count() + b.count()
    val u = a.union(b).distinct().count()
    u should be <= a.count() + b.count()
    u should be >= math.max(a.count(), b.count())
    // inclusion-exclusion ties union to intersect
    u shouldBe a.count() + b.count() - a.intersect(b).count()
  }

  test("dedup idempotence: dropDuplicates twice == once") {
    val e = Tables.events(spark, sfDir).select("user_id", "event_type")
    val once = e.dropDuplicates()
    once.dropDuplicates().count() shouldBe once.count()
  }

  test("minhash estimate concentrates around exact jaccard (generated sets)") {
    val agg = new MinHashAgg(128)
    def sig(tokens: Set[String]): Array[Int] =
      tokens.foldLeft(agg.zero)((b, t) => agg.reduce(b, t))
    val genSets: Gen[(Set[String], Set[String])] = for {
      n <- Gen.choose(20, 80)
      overlap <- Gen.choose(0, n)
      base <- Gen.listOfN(n, Gen.alphaStr.suchThat(_.nonEmpty)).map(_.toSet)
      extra <- Gen.listOfN(n - overlap, Gen.numStr.suchThat(_.nonEmpty)).map(_.toSet)
    } yield (base, base.take(overlap) ++ extra.map("x" + _))
    forAllSeeded(genSets) { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val exact = (a & b).size.toDouble / (a | b).size
        val est = sig(a).zip(sig(b)).count { case (x, y) => x == y } / 128.0
        // 5 sigma + slack: flake probability < 1e-6 per case (fixed seeds)
        math.abs(est - exact) should be <= math.max(5 * math.sqrt(exact * (1 - exact) / 128.0), 0.05)
      }
    }
  }

  test("sharded self-join equals nested-loop bucket pairs on random layouts and thresholds") {
    // the triangle-cell decomposition's pairing logic is subtle (the
    // round-4 off-diagonal ordering bug survived an example-based test
    // until SkewSpec grew an adversarial case) — randomize layouts so
    // regressions can't hide in a fixed fixture. 8 seeded cases, each a
    // small Spark job against a Scala nested-loop oracle.
    import spark.implicits._
    val genLayout: Gen[(List[(Long, Long)], Int)] = for {
      n <- Gen.choose(10, 120)
      nBuckets <- Gen.choose(1, 6)
      buckets <- Gen.listOfN(n, Gen.choose(0L, nBuckets - 1L))
      thr <- Gen.choose(1, 50)
    } yield (buckets.zipWithIndex.map { case (b, i) => (i.toLong, b) }, thr)
    (1 to 8).foreach { i =>
      genLayout.apply(Gen.Parameters.default, Seed(900L + i)).foreach {
        case (rows, thr) =>
          val banded = rows.toDF("doc_id", "bkey")
          val got = ops.ShardedSelfJoin.pairs(banded, Seq("bkey"), thr)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val want = (for {
            (a, ba) <- rows; (b, bb) <- rows
            if ba == bb && a < b
          } yield (a, b)).toSet
          got should equal(want)
      }
    }
  }

  test("sharded self-join with carry + pre-distinct filter equals the filtered nested-loop oracle") {
    // round-5 machinery: carried per-doc columns must surface as the
    // {c}_a/{c}_b of the NORMALIZED pair (doc_a < doc_b — the
    // when(aLower) projection), and the pre-distinct pairFilter must
    // only remove pairs, never invent or reorder them. Randomized like
    // the plain-pairs case above so the diagonal/off-diagonal carry
    // normalization can't regress silently.
    import spark.implicits._
    val genLayout: Gen[(List[(Long, Long, Long)], Int)] = for {
      n <- Gen.choose(10, 100)
      nBuckets <- Gen.choose(1, 5)
      rows <- Gen.listOfN(n, for {
        b <- Gen.choose(0L, nBuckets - 1L)
        v <- Gen.choose(0L, 9L) // carried attribute
      } yield (b, v))
      thr <- Gen.choose(1, 40)
    } yield (rows.zipWithIndex.map { case ((b, v), i) => (i.toLong, b, v) }, thr)
    (1 to 6).foreach { i =>
      genLayout.apply(Gen.Parameters.default, Seed(4200L + i)).foreach {
        case (rows, thr) =>
          val banded = rows.toDF("doc_id", "bkey", "attr")
          val got = ops.ShardedSelfJoin.pairs(
              banded, Seq("bkey"), thr, carry = Seq("attr"),
              pairFilter = Some(col("attr_a") =!= col("attr_b")))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          val attr = rows.map(r => r._1 -> r._3).toMap
          val want = (for {
            (a, ba, _) <- rows; (b, bb, _) <- rows
            if ba == bb && a < b && attr(a) != attr(b)
          } yield (a, b, attr(a), attr(b))).toSet
          got should equal(want)
      }
    }
  }

  test("emit-once sharded self-join equals the distinct path and is duplicate-free") {
    // the emitOnce discipline: docs sitting in SEVERAL shared buckets
    // (the production shape — 4 block tokens per doc) must yield each
    // pair exactly once with NO distinct — pinned against the
    // nested-loop oracle on randomized multi-bucket memberships, and
    // duplicate-freedom asserted on the raw collected rows
    import spark.implicits._
    val genLayout: Gen[(List[(Long, List[String])], Int)] = for {
      n <- Gen.choose(10, 80)
      nBuckets <- Gen.choose(2, 6)
      memb <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.choose(0, nBuckets - 1)).map(_.distinct.take(4)))
      thr <- Gen.choose(1, 40)
    } yield (memb.zipWithIndex.map { case (bs, i) =>
      (i.toLong, bs.map(b => s"b$b")) }, thr)
    (1 to 6).foreach { i =>
      genLayout.apply(Gen.Parameters.default, Seed(7700L + i)).foreach {
        case (docs, thr) =>
          val banded = docs.flatMap { case (id, bs) =>
            bs.map(b => (id, b, bs.sorted))
          }.toDF("doc_id", "bkey", "bset")
          val rowsOut = ops.ShardedSelfJoin.pairs(banded, Seq("bkey"), thr,
              emitOnce = Some(("bkey", "bset")))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          rowsOut.size shouldBe rowsOut.toSet.size // no distinct, no dups
          val want = (for {
            (a, ba) <- docs; (b, bb) <- docs
            if a < b && ba.exists(bb.contains)
          } yield (a, b)).toSet
          rowsOut.toSet should equal(want)
      }
    }
  }

  test("TopKAgg ranks NaN scores first, independent of merge order") {
    // a zero-norm vector yields cos = NaN; Spark's descending sort and
    // DuckDB's ORDER BY both treat NaN as the largest double, so the
    // bounded aggregate must too — the primitive '>' form was all-false
    // on NaN and let reduce/merge order pick the winner (round-7 review)
    val agg = new graft.functions.TopKAgg(3)
    val rows = Seq((0.9, 1L, 0L), (Double.NaN, 2L, 0L), (0.5, 3L, 0L), (0.7, 4L, 0L))
    // every permutation must produce the identical ranked buffer
    rows.permutations.map(_.foldLeft(agg.zero)(agg.reduce)).toSeq.distinct match {
      case Seq(only) =>
        only.map(_._2) shouldBe Seq(2L, 1L, 4L) // NaN first, then 0.9, 0.7
      case many => fail(s"merge-order-dependent results: $many")
    }
    // split-merge equals sequential for a NaN-bearing split point
    val (l, r) = rows.splitAt(2)
    agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      .map(_._2) shouldBe Seq(2L, 1L, 4L)
  }

  test("emit-once over LONG bucket keys equals the distinct path (the banding encoding)") {
    // the codegen branch llm_minhash's banding rides (band<<32|bkey
    // encodings): same ≡-distinct-path property as the string pin above,
    // on the bigint element type — round 7 found the string-only kernel
    // silently read long arrays as garbage (zero pairs), so the typed
    // branch gets its own oracle pin, sharding included (thr down to 1)
    import spark.implicits._
    val genLayout: Gen[(List[(Long, List[Long])], Int)] = for {
      n <- Gen.choose(10, 80)
      nBuckets <- Gen.choose(2, 6)
      memb <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.choose(0, nBuckets - 1)).map(_.distinct.take(4)))
      thr <- Gen.choose(1, 40)
    } yield (memb.zipWithIndex.map { case (bs, i) =>
      // the production encoding shape: a large positive long per bucket
      (i.toLong, bs.map(b => (b.toLong << 32) + 0x9e3779b9L)) }, thr)
    (1 to 6).foreach { i =>
      genLayout.apply(Gen.Parameters.default, Seed(8800L + i)).foreach {
        case (docs, thr) =>
          val banded = docs.flatMap { case (id, bs) =>
            bs.map(b => (id, b, bs.sorted))
          }.toDF("doc_id", "bkey", "bset")
          val rowsOut = ops.ShardedSelfJoin.pairs(banded, Seq("bkey"), thr,
              emitOnce = Some(("bkey", "bset")))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          rowsOut.size shouldBe rowsOut.toSet.size
          val want = (for {
            (a, ba) <- docs; (b, bb) <- docs
            if a < b && ba.exists(bb.contains)
          } yield (a, b)).toSet
          rowsOut.toSet should equal(want)
      }
    }
  }

  test("graft_emit_once rejects mismatched element types at analysis, never silently") {
    // the exact misuse round 7 hit: long arrays through the string
    // kernel produced garbage comparisons and ZERO pairs with no error —
    // a typed misuse must now fail analysis
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val df = Seq((Seq(1L, 2L), Seq(2L, 3L), "s")).toDF("a", "b", "k")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("graft_emit_once(a, b, k)").collect()
    }
    ex.getMessage should include("graft_emit_once expects")
  }

  test("emit-once enforces its caller contract loudly instead of silently corrupting pairs") {
    // ADVICE r6: with emitOnce the distinct is skipped, so a setCol that
    // is unsorted, duplicated, or missing the row's own bucket key would
    // silently drop or duplicate pairs. The default-on validation must
    // raise instead; conf-off restores the raw (garbage-in) behavior.
    import spark.implicits._
    def chain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // row 1's bset does not contain its own bkey
    val missing = Seq((1L, "b0", Seq("b1", "b2")), (2L, "b1", Seq("b1")))
      .toDF("doc_id", "bkey", "bset")
    val e1 = intercept[Exception] {
      ops.ShardedSelfJoin.pairs(missing, Seq("bkey"), 10,
        emitOnce = Some(("bkey", "bset"))).collect()
    }
    chain(e1) should include("emitOnce contract")
    // unsorted bset
    val unsorted = Seq((1L, "b0", Seq("b2", "b0")))
      .toDF("doc_id", "bkey", "bset")
    val e2 = intercept[Exception] {
      ops.ShardedSelfJoin.pairs(unsorted, Seq("bkey"), 10,
        emitOnce = Some(("bkey", "bset"))).collect()
    }
    chain(e2) should include("emitOnce contract")
    // conf-off: the same violating input runs unchecked (documented escape
    // hatch for a validated production path)
    withConf("spark.graft.lsh.emitOnce.validate" -> "false") {
      noException should be thrownBy
        ops.ShardedSelfJoin.pairs(unsorted, Seq("bkey"), 10,
          emitOnce = Some(("bkey", "bset"))).collect()
    }
  }

  test("uniqueMembership audit (explicit validate=true) raises on multi-bucket input") {
    // ADVICE r9: uniqueMembership skips BOTH dedup mechanisms on a bare
    // caller assertion; under the explicit audit conf the join must
    // raise on a doc appearing in more than one bucket instead of
    // silently duplicating its pairs. Never on by default (every caller
    // is unique-by-construction and the check costs a window shuffle).
    import spark.implicits._
    def chain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val multi = Seq((1L, "b1"), (1L, "b2"), (2L, "b1"))
      .toDF("doc_id", "bkey")
    withConf("spark.graft.lsh.emitOnce.validate" -> "true") {
      val e = intercept[Exception] {
        ops.ShardedSelfJoin.pairs(multi, Seq("bkey"), 10,
          uniqueMembership = true).collect()
      }
      chain(e) should include("uniqueMembership contract")
      // partitioned input passes the audit and yields the naive pair set
      val uniq = Seq((1L, "b1"), (2L, "b1"), (3L, "b2"))
        .toDF("doc_id", "bkey")
      ops.ShardedSelfJoin.pairs(uniq, Seq("bkey"), 10, uniqueMembership = true)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((1L, 2L))
    }
    // conf unset: the assertion is trusted, the violating input runs
    // unchecked (pre-r10 behavior — duplicates are the caller's bug)
    noException should be thrownBy
      ops.ShardedSelfJoin.pairs(multi, Seq("bkey"), 10,
        uniqueMembership = true).collect()
  }

  test("llm_containment equals the all-pairs oracle on generated corpora with forced subsets") {
    import spark.implicits._
    // random corpora with PLANTED subset structure (random pairs alone
    // rarely reach 0.9 containment): for each seed, 8-14 random docs
    // over a 40-token vocab across two languages, plus a superset of
    // doc 0's token set in doc 0's language. The operator's
    // prefix-filter candidates must reproduce the unblocked all-pairs
    // truth EXACTLY — pairs, small_doc attribution and rounded scores.
    val vocab = (0 until 40).map(i => s"t$i")
    val genCorpus: Gen[Seq[(Long, String, String)]] = for {
      nDocs <- Gen.choose(8, 14)
      docs <- Gen.listOfN(nDocs, for {
        n <- Gen.choose(3, 20)
        toks <- Gen.pick(n, vocab)
        lang <- Gen.oneOf("en", "de")
      } yield (lang, toks.toSeq))
      extraA <- Gen.pick(6, vocab)
    } yield {
      val base = docs.zipWithIndex.map { case ((lang, toks), i) =>
        (i.toLong, lang, toks.mkString(" ")) }
      val d0 = docs.head._2.toSet
      val sup = (d0 ++ extraA).toSeq // ⊇ doc 0, same lang → containment 1.0
      base ++ Seq((100L, docs.head._1, sup.mkString(" ")))
    }
    def r4d(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    (1 to 5).foreach { i =>
      genCorpus.apply(Gen.Parameters.default, Seed(420L + i)).foreach { corpus =>
        val dir = tempDir(s"graft_contprop$i")
        corpus.map { case (id, lang, text) => (id, text, lang, "p", 0L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        // unblocked all-pairs truth in plain Scala
        val sets = corpus.map { case (id, lang, text) =>
          (id, lang, text.split(" ").toSet) }
        val expected = (for {
          (a, la, sa) <- sets; (b, lb, sb) <- sets
          if a < b && la == lb
          ni = (sa & sb).size
          c = r4d(ni.toDouble / math.min(sa.size, sb.size))
          if c >= 0.9
        } yield (a, b, if (sa.size <= sb.size) a else b, c)).toSet
        val got = queries.Llm.llmContainment(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        assert(got == expected, s"seed ${420 + i}: got $got expected $expected")
        // the planted superset pair is always found with containment 1.0
        assert(expected.exists(t => t._1 == 0L && t._2 == 100L && t._4 == 1.0))
      }
    }
  }

  test("llm_domain_rank equals a plain-Scala PageRank on generated link corpora") {
    import spark.implicits._
    // random web-shaped corpora: a small domain pool, docs carrying 0-3
    // urls with random paths and occasional prose punctuation glued on —
    // the independent recomputation mirrors the declared semantics
    // (min-domain attribution, distinct edges, 2 iterations, damping
    // 0.85, uniform dangling) in plain Scala collections, so a Spark-side
    // graph-construction or iteration bug cannot hide in the fixture
    val pool = Vector("a.com", "b.org", "c.net", "d.io", "e.dev")
    val genDocs: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(5, 12)
      docs <- Gen.sequence[List[(Long, String)], (Long, String)]((0 until n).toList.map { id =>
        for {
          k <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 3))
          urls <- Gen.listOfN(k, for {
            d <- Gen.oneOf(pool)
            p <- Gen.choose(0, 9)
            punct <- Gen.oneOf("", "", ".", "),")
          } yield s"https://$d/p$p$punct")
        } yield (id.toLong, (s"w$id" :: urls).mkString(" "))
      })
    } yield docs

    def expected(docs: List[(Long, String)], iters: Int = 2): Seq[(String, Long, Double)] = {
      val urlRe = "https?://[^ ]+".r
      val trailRe = "[.,);!?]+$".r
      val domRe = "https?://([^/ ]+)".r
      val perDoc = docs.map { case (id, text) =>
        val doms = urlRe.findAllIn(text).toList
          .map(u => trailRe.replaceAllIn(u, ""))
          .map(u => domRe.findFirstMatchIn(u).map(_.group(1)).getOrElse(""))
          .distinct
        (id, doms)
      }
      val src = perDoc.collect { case (id, ds) if ds.nonEmpty => id -> ds.min }.toMap
      val attributed = perDoc.map { case (id, _) => src.getOrElse(id, "<none>") }
      val edges = perDoc.flatMap { case (id, ds) =>
        src.get(id).toList.flatMap(s => ds.filter(_ != s).map(dst => (s, dst)))
      }.distinct
      val nodes = (attributed ++ edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.size
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val dm = nodes.filterNot(deg.contains).map(r).sum
        val cin = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (s, _) => r(s) / deg(s) }.sum }
        r = nodes.map(v => v -> (0.15 / n + 0.85 * (cin.getOrElse(v, 0.0) + dm / n))).toMap
      }
      nodes.map(v => (v, deg.getOrElse(v, 0).toLong, r(v)))
    }

    (1 to 6).foreach { i =>
      genDocs.apply(Gen.Parameters.default, Seed(910L + i)).foreach { docs =>
        val dir = tempDir(s"graft_prank$i")
        docs.map { case (id, t) => (id, t, "en", "w", 0L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = queries.Webops.llmDomainRank(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        val exp = expected(docs)
        got.map(t => (t._1, t._2)) shouldBe exp.map(t => (t._1, t._2))
        // ranks compare within one r4 grain: Spark sums in partition
        // order, the oracle in list order — last-ulp differences may
        // straddle a rounding boundary, a structural bug cannot
        got.zip(exp).foreach { case ((d, _, gr), (_, _, er)) =>
          assert(math.abs(gr - er) <= 0.0001, s"seed ${910 + i} domain $d: $gr vs $er")
        }
        // Σ rank = 1 (damping + dangling redistribution conserve mass)
        assert(math.abs(got.map(_._3).sum - 1.0) < 0.001, s"seed ${910 + i}: mass leak")
        // spark.graft.rank.iters re-pins a NON-default depth against the
        // same oracle (the departs-from-oracle knob, ann.bits pattern)
        if (i == 1) {
          withConf("spark.graft.rank.iters" -> "3") {
            val got3 = queries.Webops.llmDomainRank(spark, dir).collect()
              .map(r => (r.getString(0), r.getDouble(2))).toSeq
            val exp3 = expected(docs, iters = 3)
            got3.map(_._1) shouldBe exp3.map(_._1)
            got3.zip(exp3).foreach { case ((d, gr), (_, _, er)) =>
              assert(math.abs(gr - er) <= 0.0001, s"iters=3 domain $d: $gr vs $er")
            }
          }
        }
      }
    }
  }

  test("llm_domain_cap equals the plain-Scala cap rule on generated link corpora") {
    import spark.implicits._
    // same web-shaped generator as the PageRank oracle; the recompute
    // mirrors the declared rule (trail-trim → min-domain attribution →
    // rank by doc_id within domain → rk > K loses; site-less exempt)
    val pool = Vector("a.com", "b.org", "c.net")
    val genDocs: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(6, 14)
      docs <- Gen.sequence[List[(Long, String)], (Long, String)]((0 until n).toList.map { id =>
        for {
          k <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 2))
          urls <- Gen.listOfN(k, for {
            d <- Gen.oneOf(pool); p <- Gen.choose(0, 5)
            punct <- Gen.oneOf("", ".", ")")
          } yield s"https://$d/p$p$punct")
        } yield (id.toLong, (s"w$id" :: urls).mkString(" "))
      })
    } yield docs

    def expected(docs: List[(Long, String)], cap: Int): Seq[(Long, String, Long, Boolean)] = {
      val urlRe = "https?://[^ ]+".r
      val trailRe = "[.,);!?]+$".r
      val domRe = "https?://([^/ ]+)".r
      val dom = docs.map { case (id, text) =>
        val ds = urlRe.findAllIn(text).toList
          .map(u => trailRe.replaceAllIn(u, ""))
          .map(u => domRe.findFirstMatchIn(u).map(_.group(1)).getOrElse(""))
        id -> (if (ds.isEmpty) None else Some(ds.min))
      }
      val rk = dom.collect { case (id, Some(d)) => (id, d) }
        .groupBy(_._2).flatMap { case (_, ids) =>
          ids.map(_._1).sorted.zipWithIndex.map { case (id, i) => id -> (i + 1L) } }
      dom.sortBy(_._1).map {
        case (id, Some(d)) => (id, d, rk(id), rk(id) <= cap)
        case (id, None)    => (id, "<none>", 0L, true)
      }
    }

    (1 to 5).foreach { i =>
      genDocs.apply(Gen.Parameters.default, Seed(1300L + i)).foreach { docs =>
        val dir = tempDir(s"graft_pcap$i")
        docs.map { case (id, t) => (id, t, "en", "w", 0L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = queries.Webops.llmDomainCap(spark, dir).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq
        got shouldBe expected(docs, cap = 2)
      }
    }
  }

  test("large-star/small-star labels equal union-find components on random graphs") {
    import spark.implicits._
    val genGraph: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(5L, 60L)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1); b <- Gen.choose(0L, n - 1)
      } yield (a, b))
    } yield edges
    (1 to 8).foreach { i =>
      genGraph.apply(Gen.Parameters.default, Seed(700L + i)).foreach { edges =>
        val (labels, _) = ops.ConnectedComponents.largeStarSmallStar(
          edges.toDF("src", "dst"))
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // Scala union-find oracle over the same edges
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
        val nonIsolated = nodes.filter(u => edges.exists(e =>
          (e._1 == u || e._2 == u) && e._1 != e._2))
        val want = nonIsolated.map { u =>
          // component min = min over the component via root grouping
          val root = find(u)
          u -> nonIsolated.filter(v => find(v) == root).min
        }.toMap
        got should equal(want)
      }
    }
  }

  test("preOriented lss equals the normalizing path on random oriented graphs") {
    // the preOriented contract (round 8): when edges are already unique
    // with src < dst and loop-free, skipping the normalization distinct
    // must change nothing — pin against the same generator, normalized
    // caller-side the way the pair pipeline guarantees structurally
    import spark.implicits._
    val genGraph: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(5L, 60L)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1); b <- Gen.choose(0L, n - 1)
      } yield (a, b))
    } yield edges
    (1 to 6).foreach { i =>
      genGraph.apply(Gen.Parameters.default, Seed(900L + i)).foreach { raw =>
        val oriented = raw.filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
        if (oriented.nonEmpty) {
          val df = oriented.toDF("src", "dst")
          val base = ops.ConnectedComponents.largeStarSmallStar(df)._1
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val fast = ops.ConnectedComponents.largeStarSmallStar(
              df, preOriented = true)._1
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          fast should equal(base)
        }
      }
    }
  }

  test("graft_icount equals size(array_intersect) on generated sorted distinct long arrays") {
    // the scoring-path contract (VectorExprs.SortedInterCount): on sorted,
    // duplicate-free arrays the merge count must equal the engine's own
    // array_intersect length — checked across random sizes incl. empty,
    // disjoint and identical arrays, through the SQL surface (codegen path)
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(-50L, 50L))
      b <- Gen.listOf(Gen.chooseNum(-50L, 50L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val samples = collection.mutable.Buffer.empty[(Seq[Long], Seq[Long])]
    forAllSeeded(gen) { case (a, b) => samples += ((a, b)) }
    val df = samples.toSeq.toDF("a", "b")
      .selectExpr("graft_icount(a, b) AS mc", "size(array_intersect(a, b)) AS ai")
    df.where(col("mc") =!= col("ai")).count() shouldBe 0L
    // and at least some samples genuinely intersect (the check has teeth)
    df.where(col("mc") > 0).count() should be > 0L
  }

  test("graft_adc equals the aggregate() HOF fold on generated code/table pairs, and bounds-checks loudly") {
    // the ADC-scan contract (VectorExprs.AdcSum): the codegen loop must
    // return the identical exact-integer sum as the interpreted HOF fold
    // it replaced, across random M, K, code values and table contents —
    // through the SQL surface so the codegen path is the one under test
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val gen = for {
      m <- Gen.chooseNum(1, 24)
      k <- Gen.chooseNum(1, 16)
      codes <- Gen.listOfN(m, Gen.chooseNum(0, k - 1))
      tab <- Gen.listOfN(m, Gen.listOfN(k, Gen.chooseNum(-1000000000L, 1000000000L)))
    } yield (codes, tab)
    val samples = collection.mutable.Buffer.empty[(Seq[Int], Seq[Seq[Long]])]
    forAllSeeded(gen) { case (c, t) => samples += ((c, t)) }
    val df = samples.toSeq.toDF("codes", "tab").selectExpr(
      "graft_adc(codes, tab) AS native",
      "aggregate(sequence(0, size(codes) - 1), cast(0 as bigint), " +
        "(acc, i) -> acc + element_at(element_at(tab, i + 1), " +
        "element_at(codes, i + 1) + 1)) AS hof")
    df.where(col("native") =!= col("hof")).count() shouldBe 0L
    df.where(col("native") =!= 0L).count() should be > 0L
    // a code outside its table row fails LOUD (unsafe array access would
    // otherwise read garbage memory silently)
    val bad = Seq((Seq(5), Seq(Seq(1L, 2L)))).toDF("codes", "tab")
    val e = intercept[Exception] {
      bad.selectExpr("graft_adc(codes, tab)").collect()
    }
    e.getMessage should include("graft_adc")
  }

  test("MinKAgg bottom-k equals the ranking-window selection on generated token tables") {
    // the blocking-stage contract (VERDICT r6 #3 rewrite): MinKAgg over
    // (df, token, k) must select exactly the rows row_number().over(
    // partitionBy(doc).orderBy(df, token)) <= k kept, in the same rank
    // order, for per-doc-constant k — including k larger than the doc's
    // token count and df ties broken by token
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 40).flatMap { doc =>
      val n = 1 + (doc * 7) % 23
      (0 until n).map { i =>
        val token = "t%02d".format((i * 13 + doc) % 60)
        val df = ((i * 31 + doc * 17) % 7).toLong
        (doc.toLong, token, df, (doc % 6) + 1) // k in 1..6, constant per doc
      }.distinctBy(_._2)
    }
    val in = rows.toDF("doc_id", "token", "df", "k")
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("token"))
    val windowed = in.withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("k"))
      .select("doc_id", "rn", "token").as[(Long, Int, String)].collect().toSet
    val mink = udaf(new graft.functions.MinKAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, String, Int)]())
    val agged = in.groupBy("doc_id")
      .agg(mink(col("df"), col("token"), col("k").cast("int")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rn"), col("col").as("token"))
      .as[(Long, Int, String)].collect().toSet
    agged shouldBe windowed
    agged.size should be > 40 // teeth: more than one token per doc survives somewhere
  }

  test("r4 is idempotent and order-independent on representable values") {
    import graft.ops.Det
    val df = spark.range(1000).select(
      (col("id") * 0.37 + 0.00005).as("x"))
    val once = df.select(Det.r4(col("x")).as("r")).collect().map(_.getDouble(0))
    val twice = df.select(Det.r4(Det.r4(col("x"))).as("r")).collect().map(_.getDouble(0))
    once should equal(twice)
  }
}
