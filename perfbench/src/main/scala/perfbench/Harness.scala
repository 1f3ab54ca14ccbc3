package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One operation of a workload: a call into the program.
  *
  * `build` is the query-function or pipeline call up to the point where
  * it hands back something to execute (a DataFrame); `exec` executes it.
  * A pipeline call that executes inside itself has no build phase and
  * does all its work in `exec`. `record` turns the result into the facts
  * the output checks need; it runs after the timers stop. `layer` names
  * the per-layer timer the operation's wall time is added to. */
final case class Op(name: String, family: String, layer: String,
                    build: () => AnyRef,
                    exec: AnyRef => AnyRef,
                    record: AnyRef => Map[String, Any])

object Op {
  /** A query op: build the DataFrame, execute by collecting it, record
    * the canonical digest of its rows. */
  def query(name: String, family: String, layer: String = "")(df: => DataFrame): Op =
    Op(name, family, layer, () => df,
      d => { val f = d.asInstanceOf[DataFrame]; (f.schema, f.collect()) },
      out => rowsRecord(out, values = !graft.SparkEntry.oracleSql.contains(name)))

  /** The digest of the rows; the rows themselves too for a query with no
    * oracle SQL (the sketches), whose checks need the values. */
  def rowsRecord(out: AnyRef, values: Boolean): Map[String, Any] = {
    val (schema, rows) = out.asInstanceOf[(StructType, Array[Row])]
    val (cols, n, hash) = Canon.digest(schema, rows)
    Map("cols" -> cols, "rows" -> n, "hash" -> hash) ++
      (if (values) Map("values" -> rows.toSeq.map(_.toSeq)) else Map.empty)
  }

  /** A pipeline call that executes inside itself. */
  def call(name: String, family: String, layer: String)(f: => AnyRef)(
      record: AnyRef => Map[String, Any]): Op =
    Op(name, family, layer, () => null, _ => f, record)
}

/** What a workload gives the harness. `setup` builds the state the
  * passes start from, in a fresh session and scratch directory; it
  * runs once per set-up round. `bootstrap` is set-up work done once,
  * after the last round. `pass(i)` lists pass i's operations in the
  * order the seed fixed; passes are numbered from 1 and the first
  * `warmupPasses` are untimed. At least `timedPasses` passes are timed,
  * more while `--seconds` have not passed. `finish` records facts for
  * the checks after the last pass. */
trait Workload {
  def setup(ctx: Ctx): Map[String, Any]
  def bootstrap(ctx: Ctx): Map[String, Any] = Map.empty
  def warmupPasses: Int = 1
  def timedPasses: Int = 1
  def pass(ctx: Ctx, i: Int): Seq[Op]
  def beforePass(ctx: Ctx, i: Int): Unit = ()
  def finish(ctx: Ctx, lastPass: Int): Map[String, Any] = Map.empty
}

final class Ctx(val spark: SparkSession, val inputs: String, val work: String, val seed: Long) {
  def in(p: String): String = new File(inputs, p).getPath
  def at(p: String): String = new File(work, p).getPath
  def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

object Harness {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  /** Bytes written through Hadoop's local file system since the JVM
    * started: data-source outputs, landing copies, artifacts and stamps.
    * Shuffle and block-manager files bypass Hadoop and are not counted. */
  private def fsWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** A fixed amount of JVM work that uses none of the program: its time
    * shows how fast the box runs right now. */
  private def probe(): Double = {
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val block = Array.tabulate[Byte](1 << 16)(i => (i * 31).toByte)
    var i = 0
    while (i < 512) { md.update(block); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** The same for memory: dependent random reads over 32 MB, more than a
    * cache holds. A box whose memory is contended runs the workloads
    * slower while `probe` still reads the same. */
  private def memProbe(): Double = {
    val a = new Array[Int](1 << 23)
    val mask = a.length - 1
    var i = 0
    while (i < a.length) { a(i) = (i * 0x9E3779B1) & mask; i += 1 }
    val t0 = System.nanoTime()
    var j, n = 0
    while (n < (1 << 21)) { j = (a(j) ^ n) & mask; n += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (j == -1) println(j) // keep the loop from being dropped
    dt
  }

  private def session(root: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.graft.jaccard.setRepr", "array")
      .config("spark.local.dir", new File(root, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.graft.scratch.root", new File(root, "scratch").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every block an operation (or `Lineage.cut`) pinned, so each
    * operation starts from the same cache state. */
  private def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Heap in use right after each GC, at its highest since `reset`. */
  private object HeapAfterGc {
    @volatile var peak = 0L
    def reset(): Unit = peak = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
                  !pool.contains("Compressed Class") => u.getUsed
            }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ =>
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val cores = arg(args, "--cores").toInt
    val inputs = arg(args, "--inputs")
    val root = new File(arg(args, "--root"))
    val out = new File(arg(args, "--out"))
    val rounds = arg(args, "--setup-rounds").toInt
    out.mkdirs()
    val probeStart = probe()
    val memProbeStart = memProbe()
    HeapAfterGc.install()
    Spans.enabled = trace

    val wl: Workload = workload match {
      case "query_library" => new QueryLibrary
      case "daily_refresh" => new DailyRefresh
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up rounds: each starts a fresh session in a fresh scratch
    // directory and builds the workload's starting state. The first
    // round runs from JVM start, so it also pays class loading.
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupFacts = mutable.ArrayBuffer.empty[Map[String, Any]]
    Spans.within(0, s"workload:$workload") { wspan =>
      (1 to rounds).foreach { r =>
        val t0 = Spans.now()
        Spans.within(wspan, s"setup:$r") { _ =>
          if (spark != null) spark.stop()
          val work = new File(root, s"work$r")
          work.mkdirs()
          spark = session(root, cores)
          ctx = new Ctx(spark, inputs, work.getPath, seed)
          setupFacts += wl.setup(ctx)
        }
        setupTimes += (Spans.now() - t0) / 1e9
      }

      val tBoot = Spans.now()
      val bootFacts = Spans.within(wspan, "bootstrap")(_ => wl.bootstrap(ctx))
      val bootS = (Spans.now() - tBoot) / 1e9

      val listener = new LayerListener
      if (trace) spark.sparkContext.addSparkListener(listener)
      val samples = mutable.ArrayBuffer.empty[Map[String, Any]]

      def runPass(i: Int, timed: Boolean): Unit = Spans.within(wspan, s"pass:$i") { pspan =>
        wl.beforePass(ctx, i)
        wl.pass(ctx, i).foreach { op =>
          val group = s"pb|$i|${op.name}"
          val confBefore = spark.conf.getAll
          val w0 = fsWritten()
          val ms0 = System.currentTimeMillis()
          var buildS, execS = 0.0
          var result: Option[Map[String, Any]] = None
          var error: Option[String] = None
          Spans.within(pspan, s"op:${op.name}") { ospan =>
            try {
              val t0 = System.nanoTime()
              spark.sparkContext.setJobGroup(s"$group|build", op.name)
              val built = Spans.within(ospan, "build")(_ => op.build())
              val t1 = System.nanoTime()
              spark.sparkContext.setJobGroup(s"$group|exec", op.name)
              val done = Spans.within(ospan, "exec")(_ => op.exec(built))
              val t2 = System.nanoTime()
              buildS = (t1 - t0) / 1e9
              execS = (t2 - t1) / 1e9
              spark.sparkContext.clearJobGroup()
              result = Some(op.record(done))
            } catch {
              case NonFatal(e) =>
                spark.sparkContext.clearJobGroup()
                error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
            }
          }
          val ms1 = System.currentTimeMillis()
          val w1 = fsWritten()
          // conf isolation: an operation must leave the session conf as
          // it found it; count what it changed, then put it back
          val confAfter = spark.conf.getAll
          val changed = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
            .filter(k => confBefore.get(k) != confAfter.get(k))
          changed.foreach { k =>
            confBefore.get(k) match {
              case Some(v) => spark.conf.set(k, v)
              case None => spark.conf.unset(k)
            }
          }
          sweep(spark)
          // warm-up operations are checked and counted like timed ones;
          // only the timed ones give latency samples
          samples += Map(
            "pass" -> i, "timed" -> timed, "op" -> op.name, "family" -> op.family,
            "layer" -> op.layer, "ok" -> error.isEmpty, "error" -> error, "build_s" -> buildS, "exec_s" -> execS,
            "start_ms" -> ms0, "end_ms" -> ms1, "written_bytes" -> (w1 - w0),
            "conf_leaks" -> changed, "out" -> result)
        }
      }

      val tWarm = Spans.now()
      (1 to wl.warmupPasses).foreach(runPass(_, timed = false))
      val warmS = (Spans.now() - tWarm) / 1e9

      HeapAfterGc.reset()
      val gc0 = gcSeconds()
      val firstTimedOp = Spans.now()
      val t0 = System.nanoTime()
      var pass = wl.warmupPasses
      do {
        pass += 1
        runPass(pass, timed = true)
      } while (pass - wl.warmupPasses < wl.timedPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      val passes = pass - wl.warmupPasses
      val timedS = (System.nanoTime() - t0) / 1e9
      val gcS = gcSeconds() - gc0
      val heapPeakMb = HeapAfterGc.peak / 1048576.0
      val finishFacts = wl.finish(ctx, pass)

      // traced run: attribute the listener's counters to the samples
      val traced: Seq[Map[String, Any]] = if (!trace) Nil else {
        waitForListeners(spark)
        val byGroup = listener.snapshot()
        samples.toSeq.filter(_("timed") == true).map { s =>
          val g = s"pb|${s("pass")}|${s("op")}"
          val cs = Seq("build", "exec").flatMap(p => byGroup.get(s"$g|$p"))
          val spans = cs.flatMap(_.taskSpans).map { case (a, b) =>
            (math.max(a, s("start_ms").asInstanceOf[Long]), math.min(b, s("end_ms").asInstanceOf[Long]))
          }.filter { case (a, b) => b > a }.sortBy(_._1)
          var busy = 0L; var cur = (0L, 0L)
          spans.foreach { case (a, b) =>
            if (a > cur._2) { busy += cur._2 - cur._1; cur = (a, b) }
            else cur = (cur._1, math.max(cur._2, b))
          }
          busy += cur._2 - cur._1
          val wall = s("end_ms").asInstanceOf[Long] - s("start_ms").asInstanceOf[Long]
          Map[String, Any](
            "pass" -> s("pass"), "op" -> s("op"),
            "build_jobs" -> byGroup.get(s"$g|build").map(_.jobs).getOrElse(0L),
            "jobs" -> cs.map(_.jobs).sum, "cut_jobs" -> cs.map(_.cutJobs).sum,
            "stages" -> cs.map(_.stages).sum, "tasks" -> cs.map(_.tasks).sum,
            "task_s" -> cs.map(_.taskMs).sum / 1e3, "task_cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
            "shuffle_write_bytes" -> cs.map(_.shuffleWrite).sum,
            "shuffle_read_bytes" -> cs.map(_.shuffleRead).sum,
            "spill_bytes" -> cs.map(_.spill).sum, "output_bytes" -> cs.map(_.output).sum,
            "idle_s" -> math.max(0L, wall - busy) / 1e3)
        }
      }

      val oracle = wl.pass(ctx, pass).map(_.name).flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      spark.stop()
      val probeEnd = probe()
      val memProbeEnd = memProbe()
      val report = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "probe_start_s" -> probeStart, "probe_end_s" -> probeEnd,
        "mem_probe_start_s" -> memProbeStart, "mem_probe_end_s" -> memProbeEnd,
        "jvm_start_to_first_op_s" -> firstTimedOp / 1e9,
        "setup_s" -> setupTimes.toSeq, "setup_facts" -> setupFacts.toSeq,
        "bootstrap_s" -> bootS, "bootstrap_facts" -> bootFacts,
        "warmup_s" -> warmS, "timed_s" -> timedS, "passes" -> passes,
        "gc_s" -> gcS, "heap_live_peak_mb" -> heapPeakMb, "vm_hwm_mb" -> vmHwmMb(),
        "samples" -> samples.toSeq, "traced" -> traced, "finish" -> finishFacts,
        "oracle_sql" -> oracle)
      Files.writeString(Paths.get(out.getPath, "harness.json"), Json.value(report))
    }
    if (trace) Files.writeString(Paths.get(out.getPath, "spans.json"), Spans.json)
  }

  /** The listener bus delivers events asynchronously; drain it before
    * reading counters. `listenerBus` is package-private in Scala but
    * public in bytecode. */
  private def waitForListeners(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
