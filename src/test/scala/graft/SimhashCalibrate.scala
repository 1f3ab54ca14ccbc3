package graft

import org.apache.spark.sql.functions._
import graft.queries.Sketches

/** Dev aid: re-measure the llm_simhash operating point after a digest
  * change (round-3 moved SimHashAgg to xxHash64 and the pinned recall
  * floor in JaccardRecallSpec went stale — VERDICT r3 #1).
  *
  * For each Hamming threshold 2..8, prints, at sf0.001:
  *   - banded recall/precision vs exact-Jaccard ≥0.9 and ≥0.8 truth
  *     (4×16-bit band candidates, as llm_simhash generates them)
  *   - all-pairs recall at the same threshold (what banding loses)
  *
  * `sbt "Test/runMain graft.SimhashCalibrate"`
  */
object SimhashCalibrate {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(8)

    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sets = tok.groupBy("doc_id", "lang").agg(collect_set("token").as("s"))
    val a = sets.select(col("doc_id").as("da"), col("lang").as("la"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("lang").as("lb"), col("s").as("sb"))
    val jacAll = a.join(b, col("la") === col("lb") && col("da") < col("db"))
      .withColumn("ni", expr("size(array_intersect(sa, sb))"))
      .withColumn("jac", expr("cast(ni * 1.0 / (size(sa) + size(sb) - ni) as double)"))
      .select("da", "db", "jac").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    val truth90 = jacAll.filter(_._2 >= 0.9).keySet
    val truth80 = jacAll.filter(_._2 >= 0.8).keySet
    println(s"truth pairs: jac>=0.9 -> ${truth90.size}, jac>=0.8 -> ${truth80.size}")

    // signatures + all-pairs hamming (500 docs at sf0.001 — fine here)
    val sigs = tok.groupBy("doc_id", "lang").agg(Sketches.simhash(col("token")).as("sh"))
    val sa2 = sigs.select(col("doc_id").as("da"), col("lang").as("la"), col("sh").as("ha"))
    val sb2 = sigs.select(col("doc_id").as("db"), col("lang").as("lb"), col("sh").as("hb"))
    val hamAll = sa2.join(sb2, col("la") === col("lb") && col("da") < col("db"))
      .withColumn("ham", expr("bit_count(ha ^ hb)"))
      .select("da", "db", "ham").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap

    // banded candidates under both geometries: the shipped 4×16 (Manku
    // k=3 guarantee) and the hypothetical 8×8 (k=7 guarantee but
    // 256-value buckets → candidate volume ~n²/32 per lang at scale)
    def bandCands(nBands: Int, bits: Int): Set[(Long, Long)] = {
      val mask = (1L << bits) - 1
      val banded = sigs
        .withColumn("band", explode(expr(s"sequence(0, ${nBands - 1})")))
        .withColumn("bkey", expr(s"(sh >> (band * $bits)) & $mask"))
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val cands = bandCands(4, 16)
    val cands8 = bandCands(8, 8)
    println(s"candidate volume: 4x16 -> ${cands.size}, 8x8 -> ${cands8.size}")

    for (t <- 2 to 8) {
      val allT = hamAll.filter(_._2 <= t).keySet
      val bandT = allT & cands
      val band8T = allT & cands8
      def r90(f: Set[(Long, Long)]) =
        if (truth90.isEmpty) 0.0 else (f & truth90).size.toDouble / truth90.size
      println(f"  8x8 at ham<=$t: pairs=${band8T.size}%5d recall90=${r90(band8T)}%.3f")
      def rec(found: Set[(Long, Long)], truth: Set[(Long, Long)]) =
        if (truth.isEmpty) 0.0 else (found & truth).size.toDouble / truth.size
      def prec(found: Set[(Long, Long)], truth: Set[(Long, Long)]) =
        if (found.isEmpty) 0.0 else (found & truth).size.toDouble / found.size
      println(f"ham<=$t: banded pairs=${bandT.size}%5d (all-pairs ${allT.size}%5d) " +
        f"| recall90 banded=${rec(bandT, truth90)}%.3f all=${rec(allT, truth90)}%.3f " +
        f"| recall80 banded=${rec(bandT, truth80)}%.3f " +
        f"| prec80 banded=${prec(bandT, truth80)}%.3f prec90=${prec(bandT, truth90)}%.3f")
    }
    spark.stop()
  }
}
