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

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  lazy val session: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
