package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** README's "Runtime configs" table is the knob inventory: every
  * `"spark.graft.…"` key literal under src/main/scala has a row of its
  * own whose first cell is that backticked key, and every row names a
  * key the code reads. Runs from the project root (the forked test JVM's
  * working directory). */
class KnobTableSpec extends AnyFunSuite with Matchers {

  private lazy val codeKeys: Set[String] = {
    val lit = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    scalaFiles(new java.io.File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try lit.findAllMatchIn(src.mkString).map(_.group(1)).toList finally src.close()
    }.toSet
  }

  /** First cells of the table's body rows, header and rule skipped. */
  private lazy val firstCells: Seq[String] = {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    lines.dropWhile(_ != "## Runtime configs").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("|")).drop(2)
      .map(_.split('|')(1).trim)
  }

  private val keyCell = "`(spark\\.graft\\.[A-Za-z0-9_.]+)`".r
  private lazy val rowKeys: Seq[String] = firstCells.collect { case keyCell(k) => k }

  test("every row of the README knob table names exactly one key, once") {
    firstCells should not be empty
    firstCells.filterNot(keyCell.matches) shouldBe empty
    rowKeys.diff(rowKeys.distinct) shouldBe empty
  }

  test("every spark.graft key read under src/main/scala has its own README row") {
    codeKeys should not be empty
    (codeKeys -- rowKeys).toSeq.sorted shouldBe empty
  }

  test("every README knob row names a key the code reads") {
    (rowKeys.toSet -- codeKeys).toSeq.sorted shouldBe empty
  }
}
