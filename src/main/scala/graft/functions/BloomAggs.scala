package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.util.sketch.BloomFilter

/** Mergeable membership sketches (Spark's util BloomFilter) — the third
  * leg of the versioned-sketch family beside agg_hll_partial (distinct
  * counts) and agg_cms_partial (frequencies): each delivery version
  * ships a KB-to-MB membership bitmap of its keys, and "was key X ever
  * delivered" across all of history is a bitmap OR + one probe, never a
  * re-scan — the incremental-dedup accelerant (llm_dedup_incremental's
  * anti-join skips the Bloom-negative majority at 100 TB; a Bloom miss
  * is DEFINITE absence, only the FP sliver pays the exact join).
  *
  * Geometry is the declared contract: expectedNumItems/fpp literals fix
  * (bitSize, numHashFunctions), which `mergeInPlace` requires identical
  * on every input — it throws loudly ("Cannot merge") on a mismatch.
  * Populations beyond expectedNumItems degrade FPR gracefully but NEVER
  * introduce false negatives (the Bloom guarantee the SketchSpec gate
  * leans on). */
object BloomAggs {
  /** The declared sketch geometry for agg_bloom_partial: ~100k expected
    * keys at 1% FPR → ~117 KB bitmap per version. */
  val ExpectedItems = 100000L
  val Fpp = 0.01

  private[graft] def read(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))
  private[graft] def write(s: BloomFilter): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    s.writeTo(o)
    o.toByteArray
  }
}

/** Build one version's membership sketch from its raw long keys. The
  * buffer is the live BloomFilter object (kryo-encoded between
  * partials); per-row cost is one putLong — map-side combine works
  * because bitmap OR is associative and commutative.
  *
  * Geometry defaults to the agg_bloom_partial declared contract;
  * callers sizing a filter to a DIFFERENT population (llm_dedup_bloom's
  * old-corpus filter, which should track the corpus key count at scale)
  * pass their own — sketches only merge with like geometry, so a
  * non-default build is for standalone/probe use, never for feeding
  * BloomMergeAgg beside contract-geometry version sketches. */
class BloomBuildAgg(expectedItems: Long = BloomAggs.ExpectedItems,
                    fpp: Double = BloomAggs.Fpp)
    extends Aggregator[Long, BloomFilter, Array[Byte]] {
  override def zero: BloomFilter =
    BloomFilter.create(expectedItems, fpp)
  override def reduce(b: BloomFilter, key: Long): BloomFilter = {
    b.putLong(key); b
  }
  override def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
    a.mergeInPlace(b).asInstanceOf[BloomFilter]
  override def finish(r: BloomFilter): Array[Byte] = BloomAggs.write(r)
  override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Union of already-serialized version sketches (the cross-version
  * merge the incremental-delivery pattern needs): bitmap OR, lossless —
  * a key present in ANY input is present in the union. Empty array is
  * the identity, so empty groups compose. */
class BloomMergeAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Array.empty[Byte]
  override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = merge(buf, in)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null || a.isEmpty) b
    else if (b == null || b.isEmpty) a
    else {
      val s = BloomAggs.read(a)
      s.mergeInPlace(BloomAggs.read(b))
      BloomAggs.write(s)
    }
  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
