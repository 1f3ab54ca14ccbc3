package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.delivery.Deliver
import graft.ops.ConnectedComponents
import graft.pipelines.{CorpusPrep, CorpusPrepMain, DigestIndex, PairTable, SignatureIndex}

object Workloads {
  /** The family a query is reported under: its name prefix, with the
    * scan, source, sink and copy roundtrips together as `io`. */
  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f @ ("agg" | "dq" | "ev" | "fn" | "graph" | "join" | "llm" | "set" | "sort" | "win") => f
    case "scan" | "source" | "sink" | "copy" => "io"
    case _ => "rest"
  }

  def query(ctx: Ctx, name: String, dir: String, layer: String = ""): Op =
    Op.query(name, family(name), layer)(SparkEntry.queries(name)(ctx.spark, dir))

  /** Shuffle whole chains (operations that depend on each other keep
    * their order inside a chain) with the pass's seeded generator. */
  def order(ctx: Ctx, pass: Int, chains: Seq[Seq[Op]]): Seq[Op] =
    ctx.rng(pass).shuffle(chains).flatten

  /** Every file under `dir`, relative path -> sha256 of its bytes. */
  def listing(dir: String): Map[String, String] = {
    val base = new File(dir).toPath
    if (!Files.exists(base)) return Map.empty
    val it = Files.walk(base)
    try it.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      base.relativize(p).toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally it.close()
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

}

import Workloads._

/** The inventory queries that are neither pair/dedup nor vector work,
  * over the fixture tables. Plan construction, job launch and stage
  * barriers dominate; the landing of the tables happens in set-up. */
final class QueryLibrary extends Workload {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def setup(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    // land every table above 5k rows, so the landing layer has work at
    // the fixture's scale (the program's default starts at 100k rows)
    spark.conf.set("spark.graft.layout.minRows", "5000")
    val t0 = System.nanoTime()
    tables.foreach(t => graft.Tables.servingPath(spark, ctx.in("sf"), t))
    val landS = (System.nanoTime() - t0) / 1e9
    val scratch = new File(spark.conf.get("spark.graft.scratch.root"))
    val app = spark.sparkContext.applicationId
    val landed = Option(scratch.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(s"graft_layout_$app"))
    Map("land_s" -> landS, "land_bytes" -> landed.map(Harness.dirBytes).sum)
  }

  /** Eight operations a pass: one pass alone leaves `op_p50_s` a
    * median of eight samples, which spread 0.27 between runs. */
  override def timedPasses: Int = 3

  def pass(ctx: Ctx, i: Int): Seq[Op] =
    order(ctx, i, QueryLibrary.Queries.map(q =>
      Seq(query(ctx, q, ctx.in("sf"), QueryLibrary.Layer.getOrElse(q, "")))))
}

object QueryLibrary {
  /** A fixed slice of the inventory, sized so a run fits its time
    * budget with a warm-up and three timed passes: six of the eight sketches (each
    * checked against an exact twin; minhash is the kernel-heavy one),
    * an events query (the loader that writes session conf) and a parquet
    * sink roundtrip (the workload's writes). A fixed list keeps the
    * workload the same when the inventory grows. */
  val Queries: Seq[String] = Seq(
    "agg_approx_distinct", "agg_approx_percentile", "agg_hll_partial", "agg_cms_partial",
    "agg_bloom_partial", "llm_minhash", "ev_session", "sink_parquet")

  /** Per-layer timers for the queries dominated by one kernel. */
  val Layer: Map[String, String] = Map("llm_minhash" -> "functions.minhash_s")
}

/** Day-by-day incremental delivery against a relational dataset and a
  * corpus delivered in set-up. Pass i applies day i's batch. */
final class DailyRefresh extends Workload {
  private var beforeSync: Map[String, String] = Map.empty
  private var incFilesBefore = 0L

  private def copyFile(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.copy(new File(from).toPath, new File(to).toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Today's corpus arrives upstream of the program: a file copy, not
    * a program write. */
  private def ingest(ctx: Ctx, day: Int): Unit =
    copyFile(ctx.in(s"corpus/day_$day.parquet"), ctx.at("corpus_src/documents.parquet"))

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Day 0, repeated each round: the initial delivery. */
  def setup(ctx: Ctx): Map[String, Any] = {
    ingest(ctx, 0)
    Map("copy_s" -> timed {
      Deliver.copy(ctx.spark, ctx.in("rel/day_0.parquet"), ctx.at("rel_dst"),
        partitionBy = Seq("o_year"))
      Deliver.copy(ctx.spark, ctx.in("inc/day_0.parquet"), ctx.at("inc_dst"))
    })
  }

  /** Day 0, once: the O(corpus) builds, the corpus indexes, the pair
    * table and the first prep delivery. */
  override def bootstrap(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val src = ctx.at("corpus_src")
    Map(
      "digest_build_s" -> timed(DigestIndex.build(spark, src, ctx.at("digest_0"))),
      "sig_build_s" -> timed(SignatureIndex.build(spark, src, ctx.at("sig"))),
      "pairs_write_s" -> timed(PairTable.write(spark, src, ctx.at("pairs"))),
      "prep_s" -> timed(CorpusPrepMain.refreshFlow(spark, src, ctx.at("prep_dst"),
        ctx.at("pairs"), refresh = false)))
  }

  /** No warm-up day: set-up and bootstrap call none of the sync, verify,
    * top-up, refresh or extend paths, so the timed day 1 pays their
    * first calls in the JVM (day 1 takes about a third longer than
    * day 2). A warm-up day adds 11-20 s to every run, which the run
    * budget cannot take when the box is in a slow phase. */
  override def warmupPasses: Int = 0

  override def beforePass(ctx: Ctx, i: Int): Unit = {
    ingest(ctx, i)
    beforeSync = listing(ctx.at("rel_dst"))
    incFilesBefore = listing(ctx.at("inc_dst")).keys
      .count(f => !f.startsWith("_") && !f.startsWith(".")).toLong
  }

  def pass(ctx: Ctx, i: Int): Seq[Op] = {
    val spark = ctx.spark
    val day = i
    val batch = () => spark.read.parquet(ctx.in(s"batch/day_$day.parquet"))
    val relSrc = ctx.in(s"rel/day_$day.parquet")
    val sync = Op.call("sync", "delivery", "delivery.sync_s")(
      Deliver.syncPartitions(spark, relSrc, ctx.at("rel_dst"), "o_year")) { r =>
      val (changed, stale, rep) = r.asInstanceOf[(Seq[String], Seq[String], graft.delivery.DeliveryReport)]
      Map("day" -> day, "changed" -> changed, "stale" -> stale, "files" -> rep.files,
        "before" -> beforeSync, "after" -> listing(ctx.at("rel_dst")))
    }
    val verify = Op.call("verify", "delivery", "delivery.verify_s")(
      Boolean.box(Deliver.verifyDelivery(spark, relSrc, "parquet", ctx.at("rel_dst"), "parquet")))(
      v => Map("day" -> day, "verified" -> v))
    val incremental = Op.call("incremental", "delivery", "delivery.incremental_s")(
      Deliver.copyIncremental(spark, ctx.in(s"inc/day_$day.parquet"), ctx.at("inc_dst"), "c_custkey")) { r =>
      val (n, rep) = r.asInstanceOf[(Long, graft.delivery.DeliveryReport)]
      Map("day" -> day, "appended" -> n, "files" -> rep.files,
        "files_before" -> incFilesBefore)
    }
    val digestRefresh = Op("digest_refresh", "pipelines", "pipelines.digest_refresh_s",
      () => DigestIndex.refresh(spark, batch(), ctx.at(s"digest_${day - 1}")),
      d => rows(d.asInstanceOf[DataFrame].select("doc_id", "dup_exact", "keep")),
      r => Map("day" -> day, "rows" -> r))
    val digestExtend = Op.call("digest_extend", "pipelines", "pipelines.digest_extend_s")(
      { DigestIndex.extend(spark, batch(), ctx.at(s"digest_${day - 1}"), ctx.at(s"digest_$day")); "" })(
      _ => Map("day" -> day))
    val sigRefresh = Op("sig_refresh", "pipelines", "pipelines.sig_refresh_s",
      () => SignatureIndex.refresh(spark, batch(), ctx.at("sig")),
      d => rows(d.asInstanceOf[DataFrame].select("doc_id", "n_near_old", "keep")),
      r => Map("day" -> day, "rows" -> r))
    val sigExtend = Op.call("sig_extend", "pipelines", "pipelines.sig_extend_s")(
      { SignatureIndex.extend(spark, batch(), ctx.at("sig"), day.toLong); "" })(
      _ => Map("day" -> day))
    val flow = Op.call("refresh_flow", "pipelines", "pipelines.refresh_flow_s")(
      CorpusPrepMain.refreshFlow(spark, ctx.at("corpus_src"), ctx.at("prep_dst"),
        ctx.at("pairs"), refresh = true)) { r =>
      val (changed, stale, rep) = r.asInstanceOf[(Seq[String], Seq[String], graft.delivery.DeliveryReport)]
      Map("day" -> day, "changed" -> changed, "stale" -> stale, "rows" -> rep.rows)
    }
    // the pair graph is far below the local union-find threshold; 0
    // sends it down the distributed alternation, whose rounds are the
    // layer measured here (CorpusPrep's own components keep the default)
    val cc = Op("cc_auto", "ops", "ops.cc_s",
      () => {
        spark.conf.set("spark.graft.graph.cc.localMaxEdges", "0")
        try ConnectedComponents.auto(spark.read.parquet(ctx.at("pairs"))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        finally spark.conf.unset("spark.graft.graph.cc.localMaxEdges")
      },
      r => {
        val (labels, rounds) = r.asInstanceOf[(DataFrame, Int)]
        (rows(labels.select("node", "label")), rounds)
      },
      r => {
        val (labels, rounds) = r.asInstanceOf[(Seq[Seq[Any]], Int)]
        Map("day" -> day, "labels" -> labels, "rounds" -> rounds,
          "edges" -> rows(spark.read.parquet(ctx.at("pairs")).select("doc_a", "doc_b")))
      })
    order(ctx, i, Seq(Seq(sync, verify), Seq(incremental),
      Seq(digestRefresh, digestExtend), Seq(sigRefresh, sigExtend), Seq(flow, cc)))
  }

  /** The refreshed corpus delivery must equal a from-scratch prep of the
    * same day's corpus; computed once, after the last pass. */
  override def finish(ctx: Ctx, lastPass: Int): Map[String, Any] = {
    val spark = ctx.spark
    val scratch = graft.ops.Lineage.cut(CorpusPrep.run(spark, ctx.at("corpus_src")))
    val delivered = spark.read.parquet(ctx.at("prep_dst/documents"))
      .select(scratch.columns.map(col): _*)
      .withColumn("split", col("split").cast("string"))
    Map("last_day" -> lastPass,
      "flow_fingerprint" -> Deliver.fingerprint(delivered),
      "scratch_fingerprint" -> Deliver.fingerprint(scratch),
      "rel_dst" -> ctx.at("rel_dst"), "inc_dst" -> ctx.at("inc_dst"))
  }
}
