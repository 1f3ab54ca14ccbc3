package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** README's "Runtime configs" table is the knob inventory: every
  * `"spark.graft.…"` key literal under src/main/scala has a row of its
  * own whose first cell is that backticked key, and every row names a
  * key the code reads. A production dial's row names, in parentheses,
  * the specs that pin it, and one of them sets the key. Runs from the
  * project root (the forked test JVM's working directory). */
class KnobTableSpec extends AnyFunSuite with Matchers {

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private lazy val codeKeys: Set[String] = {
    val lit = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    scalaFiles(new java.io.File("src/main/scala"))
      .flatMap(f => lit.findAllMatchIn(read(f)).map(_.group(1))).toSet
  }

  /** Cells of the table's body rows, header and rule skipped. */
  private lazy val rows: Seq[Seq[String]] =
    read(new java.io.File("README.md")).split('\n').toSeq
      .dropWhile(_ != "## Runtime configs").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("|")).drop(2)
      .map(_.split('|').toSeq.drop(1).map(_.trim))

  private lazy val firstCells: Seq[String] = rows.map(_.head)

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

  test("every production dial names a spec that sets its key") {
    val specs = scalaFiles(new java.io.File("src/test/scala"))
      .map(f => f.getName.stripSuffix(".scala") -> f).toMap
    val dial = "production dial \\((.+)\\)".r
    val dials = rows.collect { case Seq(keyCell(k), _, kind, _*) if kind.startsWith("production dial") =>
      k -> (kind match {
        case dial(names) => names.split(",").map(_.trim).toSeq
        case _           => Nil
      })
    }
    dials should not be empty
    val unpinned = dials.collect {
      case (k, names) if names.isEmpty || !names.forall(specs.contains) ||
          !names.exists(n => read(specs(n)).contains(s"\"$k\"")) => k
    }
    unpinned shouldBe empty
  }
}
