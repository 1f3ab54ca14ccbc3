package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(
      // Dump µs-int64 timestamps (not INT96) so the DuckDB-side compare
      // reads identical values (SURVEY.md §7.3 item 3).
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // Dump-boundary timestamp normalization: the r7 driver data carries
    // naive (isAdjustedToUTC=false) parquet timestamps, which DuckDB reads
    // as its naive TIMESTAMP, while the engine standardizes on session-TZ
    // TimestampType internally (Tables.normalizeNtz). Cast any timestamp
    // output back to TIMESTAMP_NTZ here so the dumped dtype matches the
    // oracle's; under the pinned UTC session the cast is the identity on
    // values. Engine internals and specs keep the one proven type.
    def naiveTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      Tables.castTimestampCols(df,
        org.apache.spark.sql.types.TimestampType, "timestamp_ntz")
    // Optional subset (SPARK_GRAFT_ONLY=q1,q2,...) for the ×k scale-oracle
    // arm (VERDICT r11 #2): dump only the named queries AND restrict
    // oracle_sql.json to the same keys so the checker's missing-dump gate
    // stays meaningful. The driver runs without the env — full inventory,
    // byte-identical behavior.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fail fast on unknown names (ADVICE r12): a typo'd query would be
    // silently dropped from BOTH the dump and oracle_sql.json, and the
    // scale-oracle gate would exit 0 without ever checking it.
    only.foreach { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.view.filterKeys(ks).toMap)
    // SPARK_GRAFT_SKIP_DUMP=1 regenerates oracle_sql.json WITHOUT
    // re-running the queries (local aid: iterate on oracle SQL plan
    // hints against an existing scale dump without re-paying the
    // multi-minute Spark dumps). Never set by the driver.
    val skipDump = sys.env.get("SPARK_GRAFT_SKIP_DUMP").contains("1")
    if (!skipDump) queries.foreach { case (name, fn) =>
      try naiveTs(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // TESTDATA.md lists only the eight star-schema/events tables, so a
    // DuckDB harness may not register views for documents/embeddings.
    // Substitute direct parquet paths for those two (valid DuckDB FROM
    // targets, alias-compatible) so the oracle SQL is self-contained.
    def inline(sql: String): String = {
      // Spark-written corpora (the StressGen ×k scale-oracle arm) are
      // parquet DIRECTORIES; DuckDB needs the part glob for those. The
      // pristine driver fixtures stay single files — path unchanged.
      def p(t: String) = {
        val f = new java.io.File(sfDir, s"$t.parquet")
        if (f.isDirectory) s"'$f/*.parquet'" else s"'$f'"
      }
      sql.replaceAll("\\bdocuments\\b", p("documents"))
         .replaceAll("\\bembeddings\\b", p("embeddings"))
    }
    val json = only.fold(SparkEntry.oracleSql)(ks =>
        SparkEntry.oracleSql.view.filterKeys(ks).toMap)
      .map { case (k, v) => s"${q(k)}: ${q(inline(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
