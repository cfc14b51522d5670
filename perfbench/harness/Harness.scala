package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark run in one fresh JVM: set up, a cold pass, timed
  * steady passes, then an untimed dump of every query's output for the
  * caller to check. All analysis happens in `perfbench/run.py`; this
  * program measures and records.
  *
  * Usage: perfbench.Harness <plan file> (written by run.py; key=value
  * lines, one `order=` line per pass).
  */
object Harness {

  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3
  /** Steady passes per run at least, and per traced run (one U T T U cycle). */
  private val MinSteady = 2
  private val MinSteadyTraced = 4

  final case class Plan(workload: String, dataDir: String, seconds: Double, trace: Boolean,
      out: String, dumpDir: String, localDir: String, queries: Seq[String],
      orders: Seq[Seq[String]])

  object Plan {
    def read(path: String): Plan = {
      val lines = Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq
        .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      def one(k: String): String = lines.collectFirst { case (`k`, v) => v }
        .getOrElse(throw new IllegalArgumentException(s"plan misses $k"))
      def list(v: String): Seq[String] = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      Plan(one("workload"), one("data"), one("seconds").toDouble, one("trace") == "1",
        one("out"), one("dump"), one("local_dir"), list(one("queries")),
        lines.collect { case ("order", v) => list(v) })
    }
  }

  final case class QueryRun(id: String, name: String, startUs: Long, constructEndUs: Long,
      endUs: Long, error: Option[String], persistedRdds: Int, storedBytes: Long) {
    def latencyS: Double = (endUs - startUs) / 1e6
  }

  final case class PassRun(index: Int, traced: Boolean, startUs: Long, endUs: Long,
      queries: Seq[QueryRun]) {
    def wallS: Double = (endUs - startUs) / 1e6
  }

  private def session(p: Plan, nproc: Int): SparkSession = {
    // Session settings match graft.Bench; the two directories keep
    // every file Spark writes inside the run's scratch directory.
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.localDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.localDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def message(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).linesIterator.take(3).mkString(" ").take(300)

  /** JVM-wide counters that a cold pass moves. */
  private def jvmCounters(): Map[String, Double] = Map(
    "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_s" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val nproc = Runtime.getRuntime.availableProcessors
    val registry = SparkEntry.queries
    val unknown = plan.queries.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"perfbench: queries not in SparkEntry.queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val mainUs = Clock.nowUs()
    val jvmStartS = (mainUs / 1000L - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Wall time of each phase of the run, for the run report.
    val marks = ArrayBuffer[(String, Long)]("start" -> System.nanoTime())
    def mark(name: String): Unit = marks += name -> System.nanoTime()

    // Set-up, several times: a fresh session, then every table opened
    // through graft.Tables and counted.
    var spark: SparkSession = null
    val setupS = ArrayBuffer[Double]()
    val loadS = ArrayBuffer[Double]()
    for (_ <- 1 to Setups) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(plan, nproc)
      val t1 = System.nanoTime()
      Tables.names.foreach(n => Tables.load(spark, plan.dataDir, n).count())
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      loadS += (t2 - t1) / 1e9
    }
    mark("setups")
    val s = spark
    val sc = s.sparkContext
    val recorder = new Recorder

    def attach(): Unit = {
      sc.addSparkListener(recorder.spark)
      s.listenerManager.register(recorder.execution)
      s.streams.addListener(recorder.streams)
    }
    def detach(): Unit = {
      BusAccess.drain(sc)
      sc.removeSparkListener(recorder.spark)
      s.listenerManager.unregister(recorder.execution)
      s.streams.removeListener(recorder.streams)
    }

    def runPass(index: Int, traced: Boolean): PassRun = {
      val order = plan.orders(index % plan.orders.size)
      if (traced) attach()
      val start = Clock.nowUs()
      // Once per pass, not per query: a pass costs what a fresh
      // session costs, and memos shared by its queries stay shared.
      graft.operators.Dedup.clearCaches()
      val queries = order.zipWithIndex.map { case (name, i) =>
        val id = s"pb-p$index-q$i-$name"
        sc.setJobGroup(id, name, false)
        val q0 = Clock.nowUs()
        var built = -1L
        val error = try {
          val df = registry(name)(s, plan.dataDir)
          built = Clock.nowUs()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case NonFatal(t) => Some(message(t)) }
        val q1 = Clock.nowUs()
        sc.clearJobGroup()
        val (persisted, stored) =
          if (!traced) (0, 0L)
          else (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        QueryRun(id, name, q0, if (built < 0) q1 else built, q1, error, persisted, stored)
      }
      val pass = PassRun(index, traced, start, Clock.nowUs(), queries)
      if (traced) detach()
      pass
    }

    val before = jvmCounters()
    val cold = runPass(0, plan.trace)
    val after = jvmCounters()
    val coldCounters = after.map { case (k, v) => k -> (v - before(k)) }

    // Steady passes until the measuring time is used up. A traced run
    // traces its steady passes in the pattern U T T U, repeated: the
    // tracing overhead is then measured under the same host state, and
    // a warm-up trend across passes cancels out of the comparison.
    val steady = ArrayBuffer[PassRun]()
    val minSteady = if (plan.trace) MinSteadyTraced else MinSteady
    val steadyStart = System.nanoTime()
    while (steady.size < minSteady ||
        (System.nanoTime() - steadyStart) / 1e9 < plan.seconds) {
      val index = steady.size + 1
      steady += runPass(index, plan.trace && (index % 4 == 2 || index % 4 == 3))
    }
    mark("cold+steady")
    val rssMb = peakRssMb()
    val host = HostProbes.run(nproc) ++ Map(
      "nproc" -> nproc, "java" -> System.getProperty("java.vm.version"),
      "java_vendor" -> System.getProperty("java.vm.vendor"), "spark" -> s.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jvm_start_to_main_s" -> jvmStartS)
    mark("probes")

    // Untimed output dump for the correctness check, as graft.Verify
    // writes it but without coalesce(1), which would serialize the
    // last stage of every query.
    graft.operators.Dedup.clearCaches()
    val checkErrors = plan.queries.flatMap { name =>
      try {
        registry(name)(s, plan.dataDir).write.mode("overwrite").parquet(s"${plan.dumpDir}/$name")
        None
      } catch { case NonFatal(t) => Some(name -> message(t)) }
    }.toMap
    graft.operators.Dedup.clearCaches()
    mark("check pass")
    val oracle = SparkEntry.oracleSql(s, plan.dataDir).filter { case (k, _) => plan.queries.contains(k) }
    Files.writeString(Paths.get(s"${plan.dumpDir}/oracle_sql.json"), Json.render(oracle))

    def passJson(p: PassRun): Map[String, Any] = Map(
      "index" -> p.index, "traced" -> p.traced, "start_us" -> p.startUs, "end_us" -> p.endUs,
      "wall_s" -> p.wallS,
      "queries" -> p.queries.map(q => Map("id" -> q.id, "name" -> q.name, "start_us" -> q.startUs,
        "construct_end_us" -> q.constructEndUs, "end_us" -> q.endUs, "latency_s" -> q.latencyS,
        "error" -> q.error, "persisted_rdds" -> q.persistedRdds, "stored_bytes" -> q.storedBytes)))
    mark("oracle sql")
    val result = Map(
      "phase_s" -> marks.zip(marks.tail).map { case ((_, a), (n, b)) => n -> (b - a) / 1e9 }.toMap,
      "workload" -> plan.workload, "setup_s" -> setupS, "tables_load_s" -> loadS,
      "cold" -> passJson(cold), "steady" -> steady.map(passJson), "cold_counters" -> coldCounters,
      "peak_rss_mb" -> rssMb, "host" -> host, "check_errors" -> checkErrors,
      "trace" -> (if (plan.trace) Some(recorder.dump()) else None))
    Files.writeString(Paths.get(plan.out), Json.render(result))
    stop(s)
  }
}

/** Host calibration, re-implemented from graft.Bench's probes: an
  * FNV-1a register loop (CPU clock and steal) on one thread and on all
  * cores, and a dependent pointer chase over 64 MB (memory latency).
  * Shorter loops than graft.Bench's, so results are given per
  * iteration. Recorded with each run; never used to rescale a metric.
  */
object HostProbes {
  private def fnv(iters: Int): Double = {
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < iters) { h ^= i; h *= 1099511628211L; i += 1 }
    if (h == 42L) System.err.println("probe sink")
    (System.nanoTime() - t0).toDouble / iters
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def run(nproc: Int): Map[String, Any] = {
    val iters = 10000000
    fnv(iters)
    val cpu = median(Seq.fill(3)(fnv(iters)))
    val t0 = System.nanoTime()
    val threads = (1 to nproc).map(_ => new Thread(() => { fnv(iters); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val par = (System.nanoTime() - t0).toDouble / iters

    // Full-period LCG successor (Hull-Dobell: c odd, a = 1 mod 4), so
    // the chase is one 2^24-cycle; graft.Bench shuffles instead, which
    // costs more set-up than the chase itself.
    val n = 1 << 24
    val next = Array.tabulate(n)(i => ((1103515245L * i + 12345L) & (n - 1)).toInt)
    val loads = 500000
    def chase(): Double = {
      val c0 = System.nanoTime()
      var p = 0
      var k = 0
      while (k < loads) { p = next(p); k += 1 }
      if (p == -1) System.err.println("probe sink")
      (System.nanoTime() - c0).toDouble / loads
    }
    chase()
    val mem = median(Seq.fill(3)(chase()))
    Map("calib_cpu_ns_per_iter" -> cpu, "calib_par_ns_per_iter" -> par, "calib_mem_ns_per_load" -> mem)
  }
}

/** Minimal JSON writer for the result file. */
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

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
