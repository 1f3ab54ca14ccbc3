package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.delivery.Deliver

/** `Tables` layout landing: a single-row-group source at or above
  * `spark.graft.layout.minRows` rows is served from a re-landed
  * multi-file copy, with the same rows as the raw file. Each test copies
  * the fixture table into a directory of its own, so the per-application
  * layout decision starts cold. */
class LayoutSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def ordersCopy(prefix: String): String = {
    val dir = tempDir(prefix)
    Files.copy(Paths.get(s"$sfDir/orders.parquet"), Paths.get(dir, "orders.parquet"))
    dir
  }

  test("layout.minRows below a table's rows re-lands it into split files holding the same rows") {
    // sf0.001 orders: 1,500 rows in one row group, under the 100k default
    val raw = ordersCopy("graft_layout_raw")
    Tables.servingPath(spark, raw, "orders") shouldBe s"$raw/orders.parquet"

    val dir = ordersCopy("graft_layout_landed")
    val rawFile = s"$dir/orders.parquet"
    withConf("spark.graft.layout.minRows" -> "1000") {
      val served = Tables.servingPath(spark, dir, "orders")
      served should not be rawFile
      val parts = Option(new java.io.File(served).listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      parts.size should be >= 2
      Deliver.fingerprint(Tables.orders(spark, dir)) shouldBe
        Deliver.fingerprint(spark.read.parquet(rawFile))
    }
    Seq(raw, dir).foreach(d => queries.Scans.rmRf(new java.io.File(d)))
  }
}
