package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.DataFrame
import graft.queries.Graphs

/** Gates for the graph-analytics family's estimator (SURVEY §2.13,
  * round 9): graph_triangles is DOULION (Tsourakakis et al. KDD'09) on
  * a DETERMINISTIC md5-sparsified subgraph — the estimator must (a)
  * reduce to the exact count when sparsification is off, and (b) land
  * inside the concentration band the unbiasedness argument predicts on
  * a graph with known ground truth. Synthetic disjoint cliques make the
  * truth analytic: k cliques of size m hold exactly k·C(m,3) triangles
  * and k·C(m,2) edges. */
class GraphSpec extends AnyFunSuite with Matchers with SparkFixture {

  /** k disjoint cliques of size m; node ids c·1000+i keep cliques
    * disjoint, edges emitted src < dst. */
  private def cliques(k: Int, m: Int): DataFrame = {
    import spark.implicits._
    val pairs = for {
      c <- 0 until k; i <- 0 until m; j <- (i + 1) until m
    } yield (c * 1000L + i, c * 1000L + j)
    pairs.toDF("src", "dst")
  }

  test("pct=100 is the exact triangle count (sparsifier off ≡ brute force)") {
    val r = Graphs.sparsifiedTriangles(cliques(30, 6), 100).collect().head
    r.getLong(0) shouldBe 30L * 20L // C(6,3) = 20 per clique
    r.getDouble(1) shouldBe 600.0   // scale 1³ — estimate IS the count
    r.getLong(3) shouldBe 450L      // all edges kept
    r.getLong(4) shouldBe 450L
  }

  test("DOULION pct=25 estimate concentrates around the analytic truth") {
    // 200 disjoint K6 cliques: 4000 triangles behind 3000 edges. Each
    // triangle survives iff its 3 edges all hash under the cut (p³ =
    // 1/64, E[sampled] = 62.5); triangle survivals within a clique are
    // positively correlated through shared edges, widening the band vs
    // the independent-case std (~13%) — ±50% is > 3 adjusted sigmas.
    // The draw is DETERMINISTIC (md5), so this pins a fixed value
    // inside the band, not a flaky sample.
    val truth = 4000.0
    val r = Graphs.sparsifiedTriangles(cliques(200, 6), 25).collect().head
    val est = r.getDouble(1)
    est should be >= truth * 0.5
    est should be <= truth * 1.5
    // the kept-edge census tracks the Bernoulli(0.25) cut
    r.getLong(3).toDouble shouldBe (3000 * 0.25) +- 3000 * 0.25 * 0.25
    r.getLong(4) shouldBe 3000L
  }

  test("degree-ordered orientation counts a hub graph exactly (the O(√E) fan-out case)") {
    // one hub adjacent to every rim node + a rim cycle: triangles =
    // exactly one per rim edge (hub, i, i+1). Under naive id-orientation
    // a low-id hub would fan out C(n,2) wedges; degree-ordering points
    // every rim→hub edge AT the hub (in-degree, not out), so the wedge
    // volume stays O(E) — and the count must still be exact, which pins
    // the orientation's exactly-once property where the two orderings
    // differ most. Hub id 0 makes the id-tiebreak the WRONG answer on
    // purpose.
    import spark.implicits._
    val n = 60
    val rim = (1 to n).map(i => (i.toLong, (i % n + 1).toLong))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val spokes = (1 to n).map(i => (0L, i.toLong))
    val edges = (rim ++ spokes).distinct.toDF("src", "dst")
    val r = Graphs.sparsifiedTriangles(edges, 100).collect().head
    r.getLong(0) shouldBe n.toLong // one triangle per rim edge
    r.getLong(4) shouldBe (2 * n).toLong
  }

  test("estimator consistency: the registered query's estimate is its sampled count × 64") {
    val r = queries.Graphs.graphTriangles(spark, sfDir).collect().head
    r.getDouble(1) shouldBe graft.ops.Det.r4d(r.getLong(0) * 64.0)
    r.getLong(2) shouldBe 25L
    r.getLong(3) should be <= r.getLong(4)
  }

  test("degreeHist: disjoint cliques collapse to one analytic histogram row") {
    // every node of a K6 has degree 5; share = all of them
    val rows = Graphs.degreeHist(cliques(30, 6)).collect()
    rows.length shouldBe 1
    rows.head.getLong(0) shouldBe 5L
    rows.head.getLong(1) shouldBe 180L
    rows.head.getDouble(2) shouldBe 1.0
  }

  test("clusterCoeffProfile: cliques have cc = 1.0 in every decile, wedges-only graph cc = 0") {
    // K6 cliques: per node deg 5, tri C(5,2) = 10 → cc = 2·10/(5·4) = 1.0
    val prof = Graphs.clusterCoeffProfile(cliques(30, 6)).collect()
    prof.length shouldBe 10
    prof.foreach { r =>
      r.getDouble(5) shouldBe 1.0   // avg_cc
      r.getLong(1) shouldBe 18L     // 180 nodes / 10 deciles
      r.getLong(2) shouldBe 5L      // min_dg
      r.getLong(3) shouldBe 5L      // max_dg
    }
    // a star (wedges, no closures): every cc is 0, triangle mass 0
    import spark.implicits._
    val star = (1 to 40).map(i => (0L, i.toLong)).toDF("src", "dst")
    val sp = Graphs.clusterCoeffProfile(star).collect()
    sp.map(_.getLong(4)).sum shouldBe 0L
    sp.foreach(_.getDouble(5) shouldBe 0.0)
  }

  test("jaccardTopk: identical-neighborhood pair ranks first with jaccard 1.0, adjacent pairs excluded") {
    import spark.implicits._
    // nodes 100, 101 both adjacent to 1..5 and NOT to each other:
    // N(100) = N(101) → jaccard 1.0; the c-nodes pairwise share {100,101}
    // (jaccard 1.0 too, common 2) — the 10^12-scaled integer key ties,
    // id order puts the larger-common pair's ids (100,101) AFTER (1,2):
    // assert the top row is (1,2) and that (100,101) appears with
    // common_n = 5 — and that no output pair is an edge.
    val edges = (1 to 5).flatMap(c => Seq((100L, c.toLong), (101L, c.toLong)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toDF("src", "dst")
    val top = Graphs.jaccardTopk(edges, 20).collect()
    top.head.getLong(0) shouldBe 1L
    top.head.getLong(1) shouldBe 2L
    top.head.getDouble(4) shouldBe 1.0
    val best = top.find(r => r.getLong(0) == 100L && r.getLong(1) == 101L).get
    best.getLong(2) shouldBe 5L  // common_n — the full shared neighborhood
    best.getLong(3) shouldBe 5L  // union_n = 5+5-5
    // none of the emitted pairs is an existing edge
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    top.foreach(r => edgeSet should not contain ((r.getLong(0), r.getLong(1))))
  }

  test("materialized graph views survive a harness sweep (unpersist-all between queries)") {
    // Bench.sweep() unpersists EVERY persistent RDD between queries; a
    // block-backed view cache dies at the first sweep and every later
    // hit throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (silently swallowed
    // by the bench's failure guard — the bug this test pins out). The
    // parquet-backed views must return identical rows after a sweep.
    def runAll() = Seq("graph_khop", "graph_triangles", "graph_jaccard")
      .map(q => queries.Graphs.queries(q)(spark, sfDir).collect().toSeq)
    val before = runAll()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    runAll() shouldBe before
  }

  test("khopProfile: path graph frontier grows one node per hop from the id-0 seed") {
    import spark.implicits._
    // path 0–1–2–…–9: only node 0 matches the % 97 seed rule
    val path = (0 until 9).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val prof = Graphs.khopProfile(path, 3).collect()
    prof.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Array((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
  }

  test("localUnionFind labels equal lss labels (component min) on the kept2 fixture subgraph") {
    // the auto() contract: both CC branches emit the identical
    // (node, label = component min) frame, so the threshold can never
    // change a result — only its price
    val kept = Graphs.keptForProbe(spark, sfDir, 2)
    val local = graft.ops.ConnectedComponents.localUnionFind(kept)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val (lssL, _) = graft.ops.ConnectedComponents.largeStarSmallStar(
      kept, preOriented = true)
    val lss = lssL.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    local should not be empty
    local shouldBe lss
  }

  test("graph_cc output is branch-independent (localMaxEdges=0 forces lss)") {
    val auto = queries.Graphs.graphCc(spark, sfDir).collect().toSeq.map(_.toString)
    withConf("spark.graft.graph.cc.localMaxEdges" -> "0") {
      val viaLss = queries.Graphs.graphCc(spark, sfDir).collect().toSeq.map(_.toString)
      viaLss shouldBe auto
    }
  }

  test("publish: losing writer's complete copy is discarded, winner's view survives intact") {
    // the cross-JVM race the atomic-rename publish exists for: two
    // writers each built a complete private copy; exactly one rename
    // wins and the loser must (a) report the dir complete, (b) remove
    // its own copy, (c) leave the winner's files untouched
    val base = new java.io.File(tempDir("graft_pub_race"))
    def mkTmp(marker: String): java.io.File = {
      val t = new java.io.File(base, s"view.tmp_$marker"); t.mkdirs()
      java.nio.file.Files.createFile(new java.io.File(t, "_SUCCESS").toPath)
      java.nio.file.Files.createFile(new java.io.File(t, marker).toPath)
      t
    }
    val dir = new java.io.File(base, "view")
    val a = mkTmp("writer_a"); val b = mkTmp("writer_b")
    Graphs.publish(a, dir) shouldBe true
    new java.io.File(dir, "writer_a").exists shouldBe true
    Graphs.publish(b, dir) shouldBe true
    b.exists shouldBe false
    new java.io.File(dir, "writer_a").exists shouldBe true
    new java.io.File(dir, "writer_b").exists shouldBe false
  }

  test("publish: stale partial target (crash residue without _SUCCESS) is cleared and replaced") {
    val base = new java.io.File(tempDir("graft_pub_stale"))
    val dir = new java.io.File(base, "view"); dir.mkdirs()
    java.nio.file.Files.createFile(new java.io.File(dir, "part-stale").toPath)
    val t = new java.io.File(base, "view.tmp_x"); t.mkdirs()
    java.nio.file.Files.createFile(new java.io.File(t, "_SUCCESS").toPath)
    Graphs.publish(t, dir) shouldBe true
    new java.io.File(dir, "_SUCCESS").exists shouldBe true
    new java.io.File(dir, "part-stale").exists shouldBe false
  }

  test("two sessions racing one scratch key build identical views, no orphan temp dirs") {
    // end-to-end over a FRESH dataset dir (its own scratch key, so no
    // interference with the suite's shared views): two sessions hit the
    // same never-built view concurrently; both must return the full
    // correct result, and afterwards exactly the published views exist —
    // no .tmp_* residue
    val ds = new java.io.File(tempDir("graft_race_ds"))
    java.nio.file.Files.copy(
      new java.io.File(sfDir, "lineitem.parquet").toPath,
      new java.io.File(ds, "lineitem.parquet").toPath)
    val s2 = spark.newSession()
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val fa = pool.submit(() => Graphs.queries("graph_degree_hist")(spark, ds.getPath)
      .collect().toSeq.map(_.toString).sorted)
    val fb = pool.submit(() => Graphs.queries("graph_degree_hist")(s2, ds.getPath)
      .collect().toSeq.map(_.toString).sorted)
    pool.shutdown(); pool.awaitTermination(120, TimeUnit.SECONDS) shouldBe true
    val (ra, rb) = (fa.get(), fb.get())
    ra should not be empty
    rb shouldBe ra
    // look where both sessions write their views (the scratch root),
    // and only at dirs THIS JVM could have created (the scratch key
    // embeds applicationId) — stray graft_gview_*.tmp_* residue from an
    // unrelated process or a crashed prior run must not fail this test
    val appId = spark.sparkContext.applicationId
    val root = spark.conf.get("spark.graft.scratch.root")
    s2.conf.get("spark.graft.scratch.root") shouldBe root
    val views = new java.io.File(root).listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_gview_") && n.contains(appId) &&
        n.contains(Tables.datasetKey(ds.getPath)))
    views should not be empty
    views.filter(_.contains(".tmp_")) shouldBe empty
  }

  test("graph_edges_build racing concurrent readers never exposes a partial or vanishing view") {
    // review r11: the old edges_build overwrote the published dir in
    // place — a reader that had already resolved the file listing could
    // lose its data files mid-scan. With the atomic republish, readers
    // must see correct, identical results on EVERY read while rebuilds
    // run, and no read may throw.
    val ds = new java.io.File(tempDir("graft_rebuild_ds"))
    java.nio.file.Files.copy(
      new java.io.File(sfDir, "lineitem.parquet").toPath,
      new java.io.File(ds, "lineitem.parquet").toPath)
    val expected = Graphs.queries("graph_degree_hist")(spark, ds.getPath)
      .collect().toSeq.map(_.toString).sorted
    val s2 = spark.newSession()
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val builder = pool.submit(() => {
      (1 to 3).foreach(_ =>
        Graphs.queries("graph_edges_build")(s2, ds.getPath).collect())
      true
    })
    val reader = pool.submit(() => {
      (1 to 6).map(_ => Graphs.queries("graph_degree_hist")(spark, ds.getPath)
        .collect().toSeq.map(_.toString).sorted)
    })
    pool.shutdown(); pool.awaitTermination(180, TimeUnit.SECONDS) shouldBe true
    builder.get() shouldBe true
    reader.get().foreach(_ shouldBe expected)
  }

  test("scratch root conf relocates the materialized views; results are root-invariant") {
    // VERDICT r11 #7: spark.graft.scratch.root promotes the view scratch
    // root from java.io.tmpdir to a conf (a multi-tenant box or cluster
    // points it at shared durable storage). Two roots must each receive
    // their own complete view artifacts and serve IDENTICAL results.
    val ds = new java.io.File(tempDir("graft_root_ds"))
    java.nio.file.Files.copy(
      new java.io.File(sfDir, "lineitem.parquet").toPath,
      new java.io.File(ds, "lineitem.parquet").toPath)
    val rootA = new java.io.File(tempDir("graft_rootA"))
    val rootB = new java.io.File(tempDir("graft_rootB"))
    def viewsUnder(root: java.io.File) = {
      val fs = root.listFiles()
      if (fs == null) Array.empty[java.io.File]
      else fs.filter(f => f.getName.startsWith("graft_gview_") &&
        new java.io.File(f, "_SUCCESS").exists())
    }
    def run() = Graphs.queries("graph_degree_hist")(spark, ds.getPath)
      .collect().toSeq.map(_.toString).sorted
    val ra = withConf("spark.graft.scratch.root" -> rootA.getPath)(run())
    val rb = withConf("spark.graft.scratch.root" -> rootB.getPath)(run())
    ra should not be empty
    rb shouldBe ra
    viewsUnder(rootA) should not be empty
    viewsUnder(rootB) should not be empty
    // default root (conf unset) must keep serving too
    run() shouldBe ra
  }

  test("localUnionFind on a long path: one component labeled by its min node") {
    import spark.implicits._
    val path = (0 until 63).map(i => (i.toLong + 100, i.toLong + 101)).toDF("src", "dst")
    val labels = graft.ops.ConnectedComponents.localUnionFind(path)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    labels.length shouldBe 64
    labels.foreach { case (_, lbl) => lbl shouldBe 100L }
  }
}
