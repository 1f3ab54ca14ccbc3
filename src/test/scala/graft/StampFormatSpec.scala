package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The `_graft_*` stamps of the four artifacts, name for name and byte
  * for byte, over sf0.001. Artifacts already on disk are read by these
  * names and contents, so a change to either breaks them. The deflated
  * Bloom bitmap is pinned by its SHA-256. The batch split is doc_id < 400
  * (max 399) against the rest (max 499). */
class StampFormatSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def stamps(dir: String): Map[String, Array[Byte]] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("_graft_"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap

  private def texts(dir: String): Map[String, String] =
    stamps(dir).map { case (k, v) => k -> new String(v, "UTF-8") }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val old = docs.where(col("doc_id") < 400)
  private lazy val batch = docs.where(col("doc_id") >= 400)

  test("PairTable: corpus, watermark and candidate-mode stamps") {
    val root = tempDir("graft_stamp_pairs")
    pipelines.PairTable.write(spark, sfDir, s"$root/full")
    texts(s"$root/full") shouldBe Map(
      "_graft_corpus" -> sfDir, "_graft_watermark" -> "499", "_graft_candidates" -> "rarity")
    old.write.parquet(s"$root/c/documents.parquet")
    pipelines.PairTable.write(spark, s"$root/c", s"$root/art")
    texts(s"$root/art") shouldBe Map(
      "_graft_corpus" -> s"$root/c", "_graft_watermark" -> "399", "_graft_candidates" -> "rarity")
    pipelines.PairTable.refreshInPlace(spark, sfDir, s"$root/art")
    texts(s"$root/art") shouldBe Map(
      "_graft_corpus" -> sfDir, "_graft_watermark" -> "499", "_graft_candidates" -> "rarity")
  }

  test("DigestIndex: geometry, generations, corpus and deflated bloom stamps") {
    val root = tempDir("graft_stamp_digest")
    val (d0, d1) = (s"$root/d0", s"$root/d1")
    pipelines.DigestIndex.buildFrom(spark, old, sfDir, d0)
    pipelines.DigestIndex.extend(spark, batch, d0, d1)
    val (s0, s1) = (stamps(d0), stamps(d1))
    s0.keySet shouldBe Set("_graft_bloom", "_graft_bloom_geom", "_graft_corpus", "_graft_generations")
    s1.keySet shouldBe s0.keySet
    (texts(d0) - "_graft_bloom") shouldBe Map(
      "_graft_bloom_geom" -> "100000:0.01",
      "_graft_corpus" -> sfDir,
      "_graft_generations" -> s"file:$d0/digests.parquet")
    (texts(d1) - "_graft_bloom") shouldBe Map(
      "_graft_bloom_geom" -> "100000:0.01",
      "_graft_corpus" -> s"$sfDir+batch",
      "_graft_generations" -> s"file:$d0/digests.parquet\nfile:$d1/digests.parquet")
    sha256(s0("_graft_bloom")) shouldBe
      "84c63b3ea9d65c5f2d4e07420762acbebf7be51af83a40e0fa49ce40922ae61f"
    sha256(s1("_graft_bloom")) shouldBe
      "466f577d4c33a3d19eb186802ba3ff2176a2de4669766c62fb77e718b3c1fc5c"
  }

  test("SignatureIndex: corpus and geometry stamps") {
    val dir = tempDir("graft_stamp_sig")
    pipelines.SignatureIndex.buildFrom(spark, old, sfDir, dir)
    pipelines.SignatureIndex.extend(spark, batch, dir, 1L)
    texts(dir) shouldBe Map("_graft_corpus" -> sfDir, "_graft_geom" -> "128:16:8")
  }

  test("PqIndex: corpus, geometry and IVF-width stamps") {
    val dir = tempDir("graft_stamp_pq")
    pipelines.PqIndex.build(spark, sfDir, dir)
    texts(dir) shouldBe Map(
      "_graft_corpus" -> sfDir, "_graft_geom" -> "16:64:2", "_graft_ivf" -> "3")
  }
}
