package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for ScalaTest suites — the mains' session
  * (graft.Session) on a fixed 4 cores, so tests keep 4 shuffle
  * partitions whatever SPARK_GRAFT_CPUS the runner exports. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with session confs set, then put back each key's prior
    * value (unset it if it had none) — returns f's value so measured
    * results can escape the scope. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A fresh directory under the fixture's scratch root. */
  def tempDir(prefix: String): String = SparkFixture.tempDir(prefix)

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  /** Every directory a test makes lives under this one root. The shared
    * session is never stopped, so a JVM shutdown hook deletes it. */
  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_test")
    sys.addShutdownHook(queries.Scans.rmRf(r.toFile))
    r
  }
  private val made = new java.util.concurrent.atomic.AtomicInteger()

  /** `<root>/<prefix><n>`: a counter, not a random suffix, keeps paths
    * short — plan strings cut a scan's location at 100 characters, and
    * the plan specs look for names inside it. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createDirectory(root.resolve(s"$prefix${made.incrementAndGet()}")).toString

  lazy val session: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> tempDir("graft_wh"),
    "spark.graft.scratch.root" -> tempDir("graft_scratch"))
}
