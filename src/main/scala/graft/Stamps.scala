package graft

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The engine's own files beside the data it writes. A stamp is a small
  * underscore-prefixed file an artifact carries (`_graft_corpus`,
  * `_graft_geom`, …): parquet readers skip it like `_SUCCESS`, and every
  * reader of an artifact refuses a directory that lacks the stamp it
  * needs. `dataFiles` is the same naming rule seen from the data side. */
object Stamps {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write(spark: SparkSession, dir: String, name: String, content: Array[Byte]): Unit = {
    val p = new Path(dir, name)
    val os = fs(spark, p).create(p, true)
    try os.write(content) finally os.close()
  }

  def write(spark: SparkSession, dir: String, name: String, content: String): Unit =
    write(spark, dir, name, content.getBytes("UTF-8"))

  def exists(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = new Path(dir, name)
    fs(spark, p).exists(p)
  }

  /** The bytes of stamp `name` under `dir`; a missing stamp fails naming
    * the `owner` whose artifacts carry it, then `remedy` if one is given. */
  def read(spark: SparkSession, dir: String, name: String, owner: String,
           remedy: String = ""): Array[Byte] = {
    val p = new Path(dir, name)
    require(fs(spark, p).exists(p), s"$dir has no $name — not a $owner-written artifact" +
      (if (remedy.isEmpty) "" else s"; $remedy"))
    val in = fs(spark, p).open(p)
    try in.readAllBytes() finally in.close()
  }

  def text(spark: SparkSession, dir: String, name: String, owner: String,
           remedy: String = ""): String =
    new String(read(spark, dir, name, owner, remedy), "UTF-8")

  /** The data files under `dir` (a directory, listed recursively, or a
    * single file), lazily: every file whose name does not start with `_`
    * (stamps, `_SUCCESS`) or `.` (checksums). */
  def dataFiles(spark: SparkSession, dir: String): Iterator[LocatedFileStatus] = {
    val p = new Path(dir)
    val it = fs(spark, p).listFiles(p, true)
    new Iterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = it.next()
    }.filter { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
  }
}
