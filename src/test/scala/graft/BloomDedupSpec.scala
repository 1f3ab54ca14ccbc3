package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** llm_dedup_bloom + graft_bloom_probe and llm_shard_balance pins.
  *
  * The bloom dedup's contract is that the sketch only ROUTES rows —
  * every test here is an output-identity or plan-shape pin against the
  * sketch-free exact computation; the probe expression's own contract
  * (decode-once, foldable-only sketch) is pinned at the expression
  * level. llm_shard_balance's contract is that the two-pass prefix sum
  * computes the same integers as the one-window spec at ANY bucket
  * width (partition-independence for the distributed scan). */
class BloomDedupSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def bkt(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long") % 100

  /** The sketch-free exact verdict — the spec llm_dedup_bloom must match. */
  private def exactVerdict() = {
    val docs = Tables.documents(spark, sfDir).withColumn("bucket", bkt(col("doc_id")))
    val oldSha = docs.where(col("bucket") < 80)
      .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
      .withColumn("dup", lit(1L))
    docs.where(col("bucket") >= 80)
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"))
      .join(oldSha, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup_exact"))
      .withColumn("keep", (col("dup_exact") === 0).cast("long"))
      .orderBy("doc_id")
      .collect().toSeq
  }

  test("llm_dedup_bloom output ≡ the sketch-free exact verdict") {
    val got = SparkEntry.queries("llm_dedup_bloom")(spark, sfDir).collect().toSeq
    got shouldBe exactVerdict()
  }

  test("llm_dedup_bloom stays exact with a deliberately overloaded filter (FP-heavy routing)") {
    // 64 expected items for a ~4k-key old corpus: the filter saturates
    // and the might-path widens toward everything — the verdict must
    // not move, because FPs only re-route rows into the exact join
    withConf("spark.graft.dedup.bloomItems" -> "64") {
      val got = SparkEntry.queries("llm_dedup_bloom")(spark, sfDir).collect().toSeq
      got shouldBe exactVerdict()
    }
  }

  test("llm_dedup_bloom plan: exactly one join — the miss majority never reaches an exchange") {
    val plan = SparkEntry.queries("llm_dedup_bloom")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // one equi-join (the candidate sha check), nothing else joins; the
    // fast-path union branch is Filter→Project only
    "HashJoin|SortMergeJoin|NestedLoop|CartesianProduct".r.findAllIn(plan).size shouldBe 1
  }

  test("graft_bloom_probe plans compactly (size tag, no hex blob) inside whole-stage codegen") {
    graft.functions.VectorExprs.register(spark)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100000, 0.01)
    bf.putLong(7L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val bytes = out.toByteArray
    val probed = Tables.documents(spark, sfDir).select(col("doc_id"),
      call_function("graft_bloom_probe", lit(bytes), xxhash64(col("text"))).as("might"))
    val plan = probed.queryExecution.executedPlan.toString
    // the ~117 KB bitmap is a constructor field, not a Literal child: it
    // prints as a size tag, so plan/explain strings stay readable
    plan should include(s"graft_bloom_probe(sketch[${bytes.length}B]")
    plan.length should be < 20000
    // and the probe projection stays inside whole-stage codegen
    plan should include("*(1)")
    probed.where(col("might")).count() should be >= 0L // codegen path executes
  }

  test("graft_bloom_probe rejects a per-row (non-foldable) sketch column") {
    graft.functions.VectorExprs.register(spark)
    val df = Tables.documents(spark, sfDir)
      .select(col("text").cast("binary").as("sk"), xxhash64(col("text")).as("k"))
    val e = intercept[Exception] {
      df.select(call_function("graft_bloom_probe", col("sk"), col("k"))).collect()
    }
    e.getMessage should include("graft_bloom_might")
  }

  test("graft_bloom_probe: no false negatives, null key → null, empty sketch → definite absence") {
    import graft.functions.BloomProbe
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (1L to 500L).foreach(bf.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val bytes = out.toByteArray
    val probe = BloomProbe(bytes,
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = true))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (1L to 500L).foreach { k =>
      row.update(0, k)
      probe.eval(row) shouldBe true // membership guarantee
    }
    row.update(0, null)
    assert(probe.eval(row) == null)
    val empty = BloomProbe(Array.empty[Byte],
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = true))
    row.update(0, 42L)
    empty.eval(row) shouldBe false
  }

  test("BloomProbe equality is content-based — canonicalization/CSE sees identical probes as equal") {
    // ADVICE r9: the case-class default compared the Array[Byte] field
    // by reference, so two semantically identical probes never compared
    // equal — defeating expression canonicalization and subexpression
    // reuse. Equality must follow sketch CONTENT.
    import graft.functions.BloomProbe
    val child = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = true)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    bf.putLong(7L)
    val out = new java.io.ByteArrayOutputStream(); bf.writeTo(out)
    val p1 = BloomProbe(out.toByteArray.clone(), child)
    val p2 = BloomProbe(out.toByteArray.clone(), child)
    (p1.sketch eq p2.sketch) shouldBe false // distinct array instances
    p1 shouldBe p2
    p1.hashCode() shouldBe p2.hashCode()
    p1.semanticEquals(p2) shouldBe true
    val other = BloomProbe(Array[Byte](1, 2, 3), child)
    p1 should not be other
  }

  test("per-version sketch union routes EVERY new-doc key exactly like the full-scan filter") {
    // the scaladoc's 100 TB composition: the old-corpus filter is not a
    // re-scan but BloomMergeAgg over the per-version sketches the
    // delivery already ships. SketchSpec pins union == full-scan on 20
    // fixed probes; this pins it over the ENTIRE new batch's key set —
    // the population llm_dedup_bloom would actually route with it.
    // (Same geometry on every version sketch — the mergeInPlace
    // contract; identical bitmap parameters make the union bit-for-bit
    // the filter a full scan builds, so routing is identical too.)
    graft.functions.VectorExprs.register(spark)
    val docs = Tables.documents(spark, sfDir).withColumn("bucket", bkt(col("doc_id")))
    val oldKeys = docs.where(col("bucket") < 80)
      .select(xxhash64(col("text")).as("k"), (col("bucket") % 4).as("version"))
      .where(col("k").isNotNull)
    val build = udaf(new graft.functions.BloomBuildAgg())
    val merge = udaf(new graft.functions.BloomMergeAgg)
    val unioned: Array[Byte] = oldKeys.groupBy("version")
      .agg(build(col("k")).as("sk"))
      .agg(merge(col("sk")).as("sk")).head().getAs[Array[Byte]](0)
    val fullScan: Array[Byte] = oldKeys
      .agg(build(col("k")).as("sk")).head().getAs[Array[Byte]](0)
    val newKeys = docs.where(col("bucket") >= 80)
      .select(xxhash64(col("text")).as("k")).where(col("k").isNotNull)
    val diverging = newKeys.select(
      call_function("graft_bloom_probe", lit(unioned), col("k")).as("u"),
      call_function("graft_bloom_probe", lit(fullScan), col("k")).as("f"))
      .where(col("u") =!= col("f")).count()
    diverging shouldBe 0L
  }

  test("llm_shard_balance ≡ at bucket widths 1, 7 and default (partition-independence of the prefix sum)") {
    val base = SparkEntry.queries("llm_shard_balance")(spark, sfDir).collect().toSeq
    base should not be empty
    for (w <- Seq("1", "7")) {
      withConf("spark.graft.shard.bucketWidth" -> w) {
        SparkEntry.queries("llm_shard_balance")(spark, sfDir)
          .collect().toSeq shouldBe base
      }
    }
  }

  test("llm_shard_balance invariants: offsets are the doc_id-ordered token prefix sum; shards balanced") {
    val rows = SparkEntry.queries("llm_shard_balance")(spark, sfDir).collect()
    var run = 0L
    rows.foreach { r =>
      r.getLong(2) shouldBe run // off = tokens before this doc
      run += r.getLong(1)
    }
    val byShard = rows.groupBy(_.getLong(3)).view.mapValues(_.map(_.getLong(1)).sum)
    val target = math.max(1L, (run + 63) / 64)
    // every shard except possibly the last holds within one document of
    // the target (a doc straddling a boundary lands in its start shard)
    val maxDoc = rows.map(_.getLong(1)).max
    byShard.toSeq.sortBy(_._1).dropRight(1).foreach { case (_, t) =>
      t should be <= (target + maxDoc)
      t should be >= (target - maxDoc)
    }
  }

  test("llm_shard_balance plan: per-bucket window + tiny offsets windows, broadcast re-entry, 2 scans") {
    val plan = SparkEntry.queries("llm_shard_balance")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the CORPUS-side window is partitioned by bucket (windowspec leads
    // with b); a naive global form would run ordered-only over all docs
    plan should include("windowspecdefinition(b#")
    // the only unpartitioned windows run over the aggregated bucket
    // frame — i.e. every SinglePartition exchange feeds from the
    // HashAggregate side, and there is exactly one (the offsets frame)
    "Exchange SinglePartition".r.findAllIn(plan).size shouldBe 1
    // offsets re-enter by broadcast; no cross join anywhere
    plan should include("BroadcastHashJoin")
    plan should not include "NestedLoop"
    // two base scans: the bucket-census pass and the main pass — the
    // third scan (a separate corpus-total agg) is folded into offsets
    "FileScan parquet".r.findAllIn(plan).size shouldBe 2
  }
}
