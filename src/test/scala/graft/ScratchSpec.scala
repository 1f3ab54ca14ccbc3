package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Scratch has an owner. Engine side: every query that writes scratch
  * gets its directory from `Tables.scratchDir`, so it lands under
  * `spark.graft.scratch.root` and is deleted when the context stops.
  * Test side: specs make their directories with `SparkFixture.tempDir`,
  * under one root a shutdown hook deletes. Runs from the project root
  * (the forked test JVM's working directory). */
class ScratchSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("no spec makes a temp directory of its own") {
    val raw = "createTemp(Directory|File)\\s*\\(".r
    val specs = Option(new java.io.File("src/test/scala/graft").listFiles).toSeq.flatten
      .filter(_.getName.endsWith("Spec.scala"))
    specs should not be empty
    val sites = specs.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try raw.findFirstIn(src.mkString).isDefined finally src.close()
    }.map(_.getName)
    sites shouldBe empty
  }

  test("join_bucketed and dq_manifest write under spark.graft.scratch.root") {
    val root = tempDir("graft_scratch_root")
    val app = spark.sparkContext.applicationId
    withConf("spark.graft.scratch.root" -> root) {
      SparkEntry.queries("join_bucketed")(spark, sfDir).collect() should not be empty
      SparkEntry.queries("dq_manifest")(spark, sfDir).collect() should not be empty
    }
    val made = Option(new java.io.File(root).list).toSeq.flatten
    val bkt = made.filter(_.startsWith(s"graft_bkt_${app}_"))
    val manifest = made.filter(_.startsWith(s"graft_manifest_${app}_"))
    bkt should have size 1
    manifest should have size 1
    new java.io.File(root, bkt.head).list.toSet shouldBe Set("lineitem", "orders")
    new java.io.File(root, s"${manifest.head}/orders").isDirectory shouldBe true
  }

  test("with no scratch root set, scratch lands in java.io.tmpdir") {
    // the fixture session sets a root; a private session without it
    // shows the default
    val s2 = spark.newSession()
    s2.conf.unset("spark.graft.scratch.root")
    val dir = new java.io.File(Tables.scratchDir(s2, tempDir("graft_default_ds"), "probe"))
    try {
      dir.isDirectory shouldBe true
      dir.getParentFile shouldBe new java.io.File(sys.props("java.io.tmpdir"))
      dir.getName should startWith(s"graft_probe_${spark.sparkContext.applicationId}_")
    } finally queries.Scans.rmRf(dir)
  }
}
