package graft

/** Plan-audit tool: print the formatted physical plan and wall time for
  * named queries. Usage: runMain graft.Explain <sfDir> <query> [query...]
  * (add -t to only time, skipping the plan dump). */
object Explain {
  def main(args: Array[String]): Unit = {
    val timeOnly = args.contains("-t")
    val rest = args.filterNot(_ == "-t")
    val sfDir = rest.head
    val names = rest.tail
    val spark = Session.local()
    names.foreach { name =>
      // construction is timed separately: eager Lineage.cuts run inside
      // the query builder, so "build" time IS pipeline time for the
      // checkpointed subtrees and "exec" only covers the post-cut plan
      val tB = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val build = (System.nanoTime() - tB) / 1e9
      if (!timeOnly) {
        println(s"===== $name =====")
        df.explain("formatted")
      }
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count() // execute as written, no count-pruning
      println(f"$name%-24s build $build%7.2f s  exec ${(System.nanoTime() - t0) / 1e9}%7.2f s  $n%8d rows")
    }
    spark.stop()
  }
}
