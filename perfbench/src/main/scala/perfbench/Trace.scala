package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark events attributed to the operation that caused them. The
  * harness sets the job group `pb|<pass>|<op>|<phase>` around every call
  * into the program; a job inherits that group, a stage its job's group
  * and a task its stage's. Counters are keyed by the group; nothing here
  * blocks the listener bus. */
final class LayerListener extends SparkListener {
  final class Counters {
    var jobs, cutJobs, stages, tasks = 0L
    var taskMs, cpuNs, shuffleWrite, shuffleRead, spill, output = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val c = of(g)
    c.jobs += 1
    // an eager cut is a job whose call site is `Lineage.cut`
    if (e.stageInfos.exists(s => s.name.contains("Lineage.scala") ||
        s.details.contains("graft.ops.Lineage"))) c.cutJobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    c.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.output += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Map[String, Counters] = synchronized(byGroup.toMap)
}

/** One timed interval in the traced run. Times are nanoseconds since the
  * JVM started; `parent` is the id of the enclosing span (0 for none). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

object Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private val origin = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  var enabled = false

  def now(): Long = System.nanoTime() - origin

  /** Run `f` inside a span named `name` under `parent`; returns its id
    * and result. With tracing off only the result is produced. */
  def within[T](parent: Int, name: String)(f: Int => T): T = {
    if (!enabled) return f(0)
    next += 1
    val id = next
    val t0 = now()
    try f(id) finally buf += Span(id, parent, name, t0, now())
  }

  def json: String = buf.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
