package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** graft.Session is the one session bootstrap: no other source file
  * builds a SparkSession (ExtensionsSpec's subject is a user-built
  * session, so it keeps its own), and the fixture session carries the
  * pins the mains carry. Runs from the project root (the forked test
  * JVM's working directory). */
class SessionSpec extends AnyFunSuite with Matchers with SparkFixture {

  private val allowed = Set("src/main/scala/graft/Session.scala",
                            "src/test/scala/graft/ExtensionsSpec.scala")

  test("no source file outside Session and ExtensionsSpec builds its own session") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val sites = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new java.io.File(d))).map(_.getPath)
      .filter { p =>
        val src = scala.io.Source.fromFile(p, "UTF-8")
        try builder.findFirstIn(src.mkString).isDefined finally src.close()
      }
    sites.toSet shouldBe allowed
  }

  test("the fixture session pins UTC, 4 shuffle partitions and an 8192-class codegen cache") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "8192"
  }

  test("withConf restores the value a key had before, and unsets a key that had none") {
    val parts = "spark.sql.shuffle.partitions"
    val knob = "spark.sessionspec.marker"
    withConf(parts -> "8", knob -> "on") {
      spark.conf.get(parts) shouldBe "8"
      spark.conf.get(knob) shouldBe "on"
    }
    spark.conf.get(parts) shouldBe "4"
    spark.conf.getOption(knob) shouldBe None
  }
}
