package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Q

/** Benchmark main. Prints JSON lines on stdout — run it via
  * `scripts/bench.sh` (execs java directly) or `sbt "runMain graft.Bench"`
  * (build.sbt pins run/outputStrategy to StdoutOutput so the lines are
  * NOT `[info]`-wrapped). Contract (BASELINE.md): the LAST stdout line is
  * a minimal always-parseable `{"metric":"total",...}` object.
  *
  * Hermeticity (VERDICT r3 #3): every timed run starts from a clean
  * state — the SQL cache and all persistent/localCheckpoint RDD blocks
  * (Lineage.cut) are dropped between queries, so block pressure from one
  * query cannot bleed into the next. The suite runs SPARK_GRAFT_ITERS
  * (default 4) full passes and reports the per-query MIN (the
  * co-tenant-noise-free estimate on a shared box) plus the max-min
  * spread, so a regression is distinguishable from a noisy neighbor.
  * Default raised 2 → 4 in round 8 (VERDICT r7 #2/#4 mechanism): this
  * box shows sustained multi-minute degraded phases (BENCH_r07's
  * max_spread was 72.95 s on one query), and min-of-2 lets a bad phase
  * through whenever both passes land inside it — 4 passes make the min
  * a calm-phase estimate at ~10 min extra wall, well inside a driver
  * round.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "4").toInt)
    val spark = Session.local()

    // JVM/codegen warmup on the smallest available sibling fixture so the
    // first timed queries don't absorb JIT + codegen-compiler cold start
    // (~8 s skew observed with no warmup). One representative per plan
    // shape — agg, window, shuffle join, vector expression. The warmup
    // dir derives from the benched sfDir (sibling sf0.001, else sfDir
    // itself) or SPARK_GRAFT_WARM_DIR; warmup failures are logged, not
    // swallowed, so a broken layout surfaces instead of re-skewing timings.
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    })
    Seq(
      "entry" -> (() => SparkEntry.entry(spark)),
      "win_rank" -> (() => SparkEntry.queries("win_rank")(spark, warm)),
      "join_shuffle" -> (() => SparkEntry.queries("join_shuffle")(spark, warm)),
      "llm_ann_ivf" -> (() => SparkEntry.queries("llm_ann_ivf")(spark, warm)),
      // the PQ Lloyd loop compiles its own codegen units (subvector
      // explode, broadcast-codebook assign, ADC scaled-int sums) that no
      // other warmup covers — without this the first timed ann_pq pass
      // absorbed the whole Janino/JIT cold start (BENCH_r09 max_spread
      // 35.3 s vs a 2.77 s min; VERDICT r9 #4)
      "llm_ann_pq" -> (() => SparkEntry.queries("llm_ann_pq")(spark, warm)),
      // the minhash banding/UDAF units are likewise unique to this
      // query — r11's spread_passes read [9.51, 5.47, 4.53, 4.85]: a
      // 2× pass-1 cold start no other warmup covers
      "llm_minhash" -> (() => SparkEntry.queries("llm_minhash")(spark, warm)),
    ).foreach { case (n, q) =>
      try q().queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"WARN bench warmup '$n' on $warm failed: $e") }
      Session.sweep(spark)
    }

    // SPARK_GRAFT_ONLY=q1,q2 benches a subset (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // Hot-shape warmup (VERDICT r11 #3): the sf0.001 warmup above
    // compiles the codegen CLASSES, but pass 1 at sf0.1 still paid
    // ~1.8× min on the heavy dedup/minhash pipelines (r11 spread_passes
    // [7.26, 4.03, 4.68, 4.41] on llm_cluster_sizes; [9.51, 5.47, 4.53,
    // 4.85] on llm_minhash DESPITE its sf0.001 warmup) — the residue is
    // C2/JIT tiering of the generated loops, which only trips at sf0.1
    // row volume. Run the named offenders once UNTIMED against the
    // benched sfDir itself, then sweep: the timed passes start from the
    // same cold-cache state as before (hermeticity is block state, not
    // JIT state), and min-of-N no longer depends on pass 1 being
    // written off. Override with SPARK_GRAFT_HOT_WARM (empty disables).
    // The graph pair is in the list for a different cold start: pass 1
    // builds the materialized VIEWS (r12 full run: graph_cc spread_passes
    // [3.18, 0.32, 0.32, 0.36] — the edges+kept2 build; cluster_coeff
    // 2.49 — the kept25/oriented25 sub-views). The build is priced by
    // graph_edges_build, so warming leaves every timed graph pass
    // reading the artifacts, which is those queries' actual claim.
    // graph_pagerank joined in round 13: its iteration loop's codegen
    // units (DECIMAL r8 contrib sums, broadcast msg joins) belong to it
    // alone, and BENCH_r12's max_spread was its pass-1 cold start
    // ([16.30, 4.25, 2.48, 2.40]). `SPARK_GRAFT_HOT_WARM=all` warms the
    // whole inventory once untimed (one extra ~bench-pass of wall) —
    // the nothing-left-to-warm arm for diagnosing residual spread.
    // graph_khop and agg_ttest joined after the r13 hand-off runs: with
    // everything else warmed they became the residual spread leaders,
    // both pass-1-JIT-shaped (khop [5.62, 2.07, 1.88, 1.86] — its BFS
    // join units are unique to it; ttest [3.33, 0.87, 0.64, 1.00])
    val hotWarmConf = sys.env.getOrElse("SPARK_GRAFT_HOT_WARM",
      "llm_cluster_sizes,llm_dedup_incremental,llm_dedup_cluster,llm_minhash," +
        "graph_cc,graph_cluster_coeff,graph_pagerank,graph_khop,agg_ttest")
    val hotWarm =
      if (hotWarmConf.trim == "all") names
      else hotWarmConf.split(",").map(_.trim)
        .filter(n => n.nonEmpty && names.contains(n)).toSeq
    hotWarm.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"WARN bench hot-warm '$n' on $sfDir failed: $e") }
      Session.sweep(spark)
    }
    val (samples, failed) = timedPasses(spark, names.map(n => n -> SparkEntry.queries(n)), sfDir, iters)
    val byName = names.filterNot(failed.contains).map { n =>
      val ts = samples.map(_(n))
      (n, ts.min, ts.max - ts.min)
    }
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jsonMap(f: ((String, Double, Double)) => Double) =
      byName.map(t => "\"" + t._1 + "\":" + fmt(f(t))).mkString("{", ",", "}")
    val total = byName.map(_._2).sum
    // Budget-adjudicating summary, computed here so it survives the
    // driver's stdout tail window (below): family sums match BASELINE.md's
    // budget partition (llm_* vs everything else), worst = the 15 s
    // single-query cap, maxSpread = the noise-vs-regression discriminator
    // (a large spread on the offending query means the min-of-passes
    // filter saw a calm pass — environment, not code).
    val llmSum    = byName.filter(_._1.startsWith("llm_")).map(_._2).sum
    val nonLlmSum = total - llmSum
    val worst     = byName.maxByOption(_._2).getOrElse(("", 0.0, 0.0))
    val wSpread   = byName.maxByOption(_._3).getOrElse(("", 0.0, 0.0))
    // Raw per-pass times (run order) for the worst-spread query: a cold
    // start shows pass 1 slow + the rest calm; a co-tenant stall shows a
    // late pass slow. Without these the artifact cannot distinguish the
    // two (BENCH_r10's 93.8 s ann_pq excursion vs its 2.7 s min was
    // unadjudicable; VERDICT r10 #1).
    val wPasses = samples.flatMap(_.get(wSpread._1))
      .map(fmt).mkString("[", ",", "]")
    // Top-8 heaviest per-query mins inline in the final line: the queries
    // any budget conversation is actually about, at ~25 B each.
    val top8 = byName.sortBy(-_._2).take(8)
      .map(t => "\"" + t._1 + "\":" + fmt(t._2)).mkString("{", ",", "}")
    // Output ordering is driver-contract-critical: the driver keeps only
    // the TAIL of captured stdout (~2 KB). At 130 queries the per-query
    // detail map alone is >2.5 KB, so the round-6 three-line contract
    // silently lost the spread line and 50 per-query numbers (VERDICT r6
    // #1). The full detail/spread lines stay FIRST (for humans reading
    // the whole log); the LAST line is minimal, always parseable, and now
    // carries the complete budget verdict on its own: total, family sums,
    // worst query, worst spread, top-8 heaviest. ~450 B — fits the tail
    // with room for the end of the detail line above it.
    println(s"""{"metric":"spread","unit":"sec","iters":$iters,"queries":${jsonMap(_._3)}}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jsonMap(_._2)},"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir"""" +
      s""","llm":${fmt(llmSum)},"nonllm":${fmt(nonLlmSum)}""" +
      s""","worst":["${worst._1}",${fmt(worst._2)}]""" +
      s""","max_spread":["${wSpread._1}",${fmt(wSpread._3)}]""" +
      s""","spread_passes":$wPasses""" +
      // effective hot-warm config inline (ADVICE r12): warmed runs'
      // pass-1/min numbers are not comparable to unwarmed rounds', so
      // the artifact must say which queries were warmed by itself
      s""","hot_warm":"${if (hotWarmConf.trim == "all") "all" else hotWarm.mkString(",")}"""" +
      s""","top":$top8,"iters":$iters,"n":${names.size}""" +
      s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
  }

  /** `iters` full passes over `queries` (not back-to-back reps): pass 2
    * hits each query with the same cold-cache state as pass 1, so min is
    * comparable run-to-run. Returns each pass's wall per query that ran,
    * and the queries that threw in any pass, in input order. A failure
    * goes to stderr with its exception and its query gets no sample: a
    * fast throw is not a valid min. */
  def timedPasses(spark: SparkSession, queries: Seq[(String, Q)], sfDir: String,
                  iters: Int): (Seq[Map[String, Double]], Seq[String]) = {
    val failed = scala.collection.mutable.Set.empty[String]
    val samples = (1 to iters).map { _ =>
      queries.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        // toRdd executes the physical plan exactly as the query defines
        // it; a plain .count() would let Catalyst prune unreferenced
        // window/projection work and under-report (SURVEY §3.2).
        val dt = try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"ERROR bench '$name' on $sfDir failed: $e")
          e.printStackTrace(System.err)
          failed += name
          None
        }
        Session.sweep(spark)
        dt.map(name -> _)
      }.toMap
    }
    val bad = queries.map(_._1).filter(failed)
    (samples.map(_ -- bad), bad)
  }
}
