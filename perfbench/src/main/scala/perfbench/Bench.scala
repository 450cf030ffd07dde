package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Caches, Scratch, SparkEntry}
import graft.lineage.LineageListener

/** Closed-loop gate benchmark. One driver thread runs one gate at a time:
  * the gate function builds its DataFrame and the full result is written
  * to Spark's `noop` sink, with the production lineage listener
  * installed. See perfbench/README.md for the workloads and metrics.
  *
  *   Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --data <dir with sf0.1/ and sf0.001/> --out <result dir>
  *         --expected <expected.tsv> [--commit <id>]
  *   Bench --workload <name> --data <dir> --record <dir>
  */
object Bench {
  /** Leading passes of a run that warm the JVM and are not measured; the
    * output check before them warms every gate once more. The CPU time of
    * a pass still falls by a quarter over these while the JIT compiles
    * the hot code. */
  val WarmPasses = 4
  /** Measured passes per run (traced runs alternate traced and untraced). */
  val MeasuredPasses = 4

  /** Job description the benchmark sets around each gate run. */
  val JobDesc = raw"perfbench run (\d+) .*".r

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, outDir: String, expected: String,
      record: Option[String], commit: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.get("trace").contains("1"),
      need("data"), kv.getOrElse("out", "."), kv.getOrElse("expected", ""),
      kv.get("record"), kv.getOrElse("commit", "unknown"))
  }

  final case class Sess(spark: SparkSession, lineage: LineageListener, watch: Watch)

  final case class GateRun(pass: Int, gate: String, run: Int, traced: Boolean,
      start: Long, built: Long, end: Long, error: Option[String],
      lagMs: Option[Double], qes: Int, reports: Int, sweepNs: Long,
      rddsSwept: Int, compiles: Long, compileNs: Long, cpuNs: Long) {
    def windowS: Double = (end - start) / 1e9
    def cpuS: Double = cpuNs / 1e9
    def ok: Boolean = error.isEmpty
  }

  private def now(): Long = System.nanoTime()

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads (Spark tasks, driver, JIT, GC). */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** CPU time of this JVM's threads except the JIT compilers: the work
    * the program does (Spark tasks, driver, listeners, GC), without the
    * JVM compiling it. */
  def appCpuNs(): Long = processCpuNs() - ThreadCpu.jitNs()

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    String.valueOf(Runtime.getRuntime.availableProcessors()))

  def open(tracer: Option[Tracer]): Sess = {
    val spark = graft.Sessions.builder(cpus)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // production order: the lineage listener first, the benchmark's
    // watcher after it (listeners run in registration order)
    val lineage = LineageListener.install(spark)
    val watch = new Watch(tracer)
    spark.listenerManager.register(watch)
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streamListener)
    }
    Sess(spark, lineage, watch)
  }

  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  /** VmHWM of this JVM in MB (peak resident set). */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case NonFatal(_) => -1.0 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName.getOrElse(o.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${o.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    val sfDir = s"${o.dataDir}/${wl.sf}"
    require(Files.isRegularFile(Paths.get(s"$sfDir/lineitem.parquet")), s"no data at $sfDir")
    val missing = wl.gates.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unregistered gates: ${missing.mkString(", ")}")
    o.record match {
      case Some(dir) => Record.run(wl, sfDir, dir)
      case None => new Run(o, wl, sfDir).run()
    }
  }

  /** One measured run of one workload. */
  final class Run(o: Opts, wl: Workloads.Workload, sfDir: String) {
    private val epochMs0 = System.currentTimeMillis()
    private val t0 = now()
    private val spans = new Spans(t0)
    private val tracer = if (o.trace) Some(new Tracer(spans, epochMs0)) else None
    private val runSpan = spans.newId()
    private val fns = SparkEntry.queries
    private var nextRun = 0

    /** Process start on the nanoTime axis. */
    private val processStart: Long = t0 - (epochMs0 -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

    /** One gate run inside the timed window: the gate function, then the
      * noop write of its full result. Cache sweep before it and the
      * lineage wait after it are outside the window. */
    private def gate(s: Sess, name: String, pass: Int, traced: Boolean,
        parent: Int): GateRun = {
      val spark = s.spark
      val run = nextRun; nextRun += 1
      val sw0 = now()
      val rdds = spark.sparkContext.getPersistentRDDs.size
      Caches.sweep(spark)
      val sw1 = now()
      s.lineage.clear()
      val writesBefore = s.watch.writesSeen
      s.watch.currentRun = run
      val gateSpan = spans.newId()
      tracer.foreach { t => t.currentRun = run; t.gateSpan.put(run, (gateSpan, name)) }
      spark.sparkContext.setJobDescription(s"perfbench run $run $name")
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = appCpuNs()
      val start = now()
      var built = start
      var cols: Seq[String] = Nil
      var error: Option[String] = None
      try {
        val df = fns(name)(spark, sfDir)
        built = now()
        cols = df.columns.toSeq
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case NonFatal(e) =>
          error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val end = now()
      val cpu1 = appCpuNs()
      spark.sparkContext.setJobDescription(null)
      val done = s.watch.awaitWrite(writesBefore + 1, if (error.isEmpty) 60000L else 2000L)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      val compileNs = CodeGenerator.compileTime - cg0
      val qes = s.watch.qeCount(run)
      val reports = s.lineage.reports
      // lineage coverage: a report for every query the gate ran, and the
      // write's report maps every written column
      val writeReport = reports.reverseIterator.map(_._2)
        .find(_.outputs.contains("noop-table"))
      val lineageGap =
        if (error.nonEmpty) None
        else if (done.isEmpty) Some("no lineage callback for the write")
        else if (reports.size < qes) Some(s"lineage reports ${reports.size} < queries $qes")
        else writeReport match {
          case None => Some("no lineage report for the write")
          case Some(r) =>
            val unmapped = cols.filterNot(r.columnLineage.contains)
            if (unmapped.isEmpty) None
            else Some(s"write lineage misses columns ${unmapped.mkString(",")}")
        }
      val lag = if (error.isEmpty) done.map(d => (d - end) / 1e6) else None
      if (traced) {
        spans.add(gateSpan, parent, "gate", name, run, start, end)
        spans.add(gateSpan, "queries.build", name, run, start, built)
        spans.add(gateSpan, "exec.action", name, run, built, end)
        spans.add(parent, "caches.sweep", name, run, sw0, sw1)
      }
      GateRun(pass, name, run, traced, start, built, end, error.orElse(lineageGap),
        lag, qes, reports.size, sw1 - sw0, rdds, compiles, compileNs, cpu1 - cpu0)
    }

    /** Wait until the listeners have handled every query so far: a marker
      * write is the last event on the listener bus. */
    private def drain(s: Sess): Unit = {
      val n = s.watch.writesSeen + 1
      s.spark.range(1).write.format("noop").mode("overwrite").save()
      s.watch.awaitWrite(n, 60000L)
      s.lineage.clear()
    }

    /** Session start, warm-up and layout prebuild; returns its seconds and
      * the prebuild seconds. The first round is timed from process start. */
    private def setup(round: Int, prev: Option[Sess]): (Sess, Double, Double) = {
      val s0 = if (round == 0) processStart else now()
      prev.foreach { p => p.spark.stop(); Scratch.cleanup() }
      val s = open(tracer)
      val spark = s.spark
      val warm = now()
      def untimed(name: String, label: String): Unit = {
        spark.sparkContext.setJobDescription(s"perfbench $label $name")
        try fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally { spark.sparkContext.setJobDescription(null); Caches.sweep(spark) }
      }
      untimed(wl.warmup, "warmup")
      val p0 = now()
      val setupSpan = spans.newId()
      if (o.trace) spans.add(setupSpan, "warmup", wl.warmup, -1, warm, p0)
      wl.layouts.foreach { g =>
        val a = now()
        untimed(g, "prebuild")
        if (o.trace) spans.add(setupSpan, "layout.prebuild", g, -1, a, now())
      }
      val s1 = now()
      if (o.trace) spans.add(setupSpan, runSpan, "setup", "", -1, s0, s1)
      (s, (s1 - s0) / 1e9, (s1 - p0) / 1e9)
    }

    def run(): Unit = {
      val loadStart = loadavg()
      var sess: Option[Sess] = None
      val setups = (0 until Workloads.SetupRounds).map { r =>
        val (s, secs, pre) = setup(r, sess)
        sess = Some(s); (secs, pre)
      }
      val s = sess.get
      val spark = s.spark
      spark.sparkContext.setJobDescription(null)
      drain(s)

      // output check, once per run and outside every timed window; it runs
      // first, so it is also the run's first warm-up of every gate
      val expected = Expected.load(o.expected, wl.sf)
      val checkStart = now()
      val checks = wl.gates.sorted.map { g =>
        Caches.sweep(spark)
        val a = now()
        spark.sparkContext.setJobDescription(s"perfbench check $g")
        val verdict =
          try {
            val got = Digest.of(fns(g)(spark, sfDir))
            expected.get(g) match {
              case None => Some(s"no expected digest for $g at ${wl.sf}")
              case Some(e) if e.rowsOnly =>
                if (got.rows == e.rows) None else Some(s"rows ${got.rows} != ${e.rows}")
              case Some(e) =>
                if (got.toString == e.digest) None
                else Some(s"digest $got != ${e.digest}")
            }
          } catch {
            case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          } finally spark.sparkContext.setJobDescription(null)
        if (o.trace) spans.add(runSpan, "check", g, -1, a, now())
        g -> verdict
      }
      drain(s)
      val checkS = (now() - checkStart) / 1e9
      Caches.sweep(spark)
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
      val gc0 = gcMs
      val rng = new scala.util.Random(o.seed)
      val runs = mutable.ArrayBuffer.empty[GateRun]
      val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Long, Long)]
      val passCpu = mutable.ArrayBuffer.empty[Map[String, Double]]
      val tStart = now()
      val deadline = tStart + (o.seconds * 1e9).toLong
      // the first passes run cold (JIT, generated code): they are run and
      // checked like the others but left out of the medians. The JIT keeps
      // warming after them, so every run measures the same number of passes
      // (more only if --seconds is not yet reached)
      val minPasses = WarmPasses + MeasuredPasses
      var pass = 0
      while (pass < minPasses || now() < deadline) {
        // traced and untraced passes alternate in the traced run, so it
        // measures its own overhead
        val traced = o.trace && pass >= WarmPasses && (pass - WarmPasses) % 2 == 0
        tracer.foreach(_.active = traced)
        val passSpan = spans.newId()
        val th0 = ThreadCpu.snapshot()
        val a = now()
        rng.shuffle(wl.gates).foreach(g => runs += gate(s, g, pass, traced, passSpan))
        val b = now()
        passCpu += ThreadCpu.delta(th0, ThreadCpu.snapshot()).map { case (k, v) => k -> v / 1e9 }
        tracer.foreach(_.active = false)
        if (traced) spans.add(passSpan, runSpan, "pass", "", -1, a, b)
        passWall += ((pass, traced, a, b))
        pass += 1
      }
      val gcRunMs = gcMs - gc0
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0

      Caches.sweep(spark)
      val loadEnd = loadavg()
      val tEnd = now()
      if (o.trace) spans.add(runSpan, 0, "run", "", -1, processStart, tEnd)

      val timed = runs.toSeq.filter(r => !r.traced && r.pass >= WarmPasses)
      val failures = runs.filterNot(_.ok).map(r => s"${r.gate}#${r.run}: ${r.error.get}") ++
        checks.collect { case (g, Some(e)) => s"$g check: $e" }
      val attempted = runs.size + checks.size
      val failed = runs.count(!_.ok) + checks.count(_._2.nonEmpty)
      val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
      val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
      val byPass = timed.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
      val passSums = byPass.map(_.map(_.windowS).sum)
      def gateMedians(f: GateRun => Double) =
        timed.groupBy(_.gate).values.map(rs => median(rs.map(f))).toSeq
      def geomean(f: GateRun => Double) = {
        val ms = gateMedians(f)
        math.exp(ms.map(math.log).sum / ms.size)
      }
      val lags = timed.flatMap(_.lagMs).toSeq
      e2e("setup_s") = (median(setups.map(_._1)), "s")
      // a typical pass: each gate at its median, which is steadier than the
      // median of whole passes, where one slow gate moves its pass
      e2e("pass_cpu_s") = (gateMedians(_.cpuS).sum, "s")
      e2e("gate_cpu_geomean_s") = (geomean(_.cpuS), "s")
      e2e("peak_rss_mb") = (peakRssMb(), "MB")
      // reported with every run but not gated: on a shared host the wall
      // times follow the neighbours' load and the lag is a sub-millisecond
      // listener-thread wake-up (see README.md)
      val wall = mutable.LinkedHashMap[String, (Double, String)](
        "pass_s" -> ((median(passSums), "s")),
        "gate_geomean_s" -> ((geomean(_.windowS), "s")),
        "lineage_lag_ms_p50" -> ((pct(lags, 0.5), "ms")),
        "lineage_lag_ms_p90" -> ((pct(lags, 0.9), "ms")))

      tracer.foreach { t =>
        Layers.compute(t, runs.toSeq, passWall.toSeq, setups.map(_._2),
          gcRunMs, heapPeakMb, cpus.toDouble).foreach { case (k, v) => layer(k) = v }
        // the JIT compiler threads' CPU time, left out of pass_cpu_s
        layer("jvm.jit_cpu_s") =
          (median(passCpu.drop(WarmPasses).map(_.getOrElse("jit", 0.0)).toSeq), "s")
        layer("lineage.lag_ms_p50") = wall("lineage_lag_ms_p50")
        layer("lineage.lag_ms_p90") = wall("lineage_lag_ms_p90")
        layer("wall.pass_s") = wall("pass_s")
        layer("wall.gate_geomean_s") = wall("gate_geomean_s")
        Files.createDirectories(Paths.get(o.outDir))
        Layers.writeSpans(spans, Paths.get(o.outDir, "spans.jsonl"))
        Files.writeString(Paths.get(o.outDir, "selftime.json"), Layers.selfTimeJson(spans))
      }
      val cores = Runtime.getRuntime.availableProcessors()
      val stamp = mutable.LinkedHashMap[String, Any](
        "workload" -> wl.name, "sf" -> wl.sf, "seed" -> o.seed,
        "seconds" -> o.seconds, "trace" -> o.trace,
        "nproc" -> cores, "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS"),
        "cpus" -> cpus.toInt, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "commit" -> o.commit)
      val result = mutable.LinkedHashMap[String, Any](
        "stamp" -> stamp,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failed_frac" -> failed.toDouble / attempted,
        "passes" -> pass, "pass_samples" -> passSums.size, "pass_sums_s" -> passSums, "lag_samples" -> lags.size,
        "pass_thread_cpu_s" -> passCpu.toSeq,
        "setup_samples_s" -> setups.map(_._1), "setup_cold_s" -> setups.head._1,
        "check_s" -> checkS, "timed_s" -> (tEnd - tStart) / 1e9,
        "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
        "metrics" -> (if (o.trace) layer else e2e).map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
        "end_to_end" -> (e2e ++ wall).map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
        "gates" -> wl.gates.sorted.map { g =>
          val rs = timed.filter(_.gate == g)
          mutable.LinkedHashMap[String, Any]("gate" -> g,
            "median_s" -> median(rs.map(_.windowS)), "samples" -> rs.size,
            "cpu_s" -> rs.map(_.cpuS),
            "build_s" -> median(rs.map(r => (r.built - r.start) / 1e9)))
        },
        "failures" -> failures)
      Files.createDirectories(Paths.get(o.outDir))
      Files.writeString(Paths.get(o.outDir, "result.json"), Json(result) + "\n")
      // ordinary shutdown: stop Spark, let the JVM's own hooks run
      spark.stop()
      println(s"[perfbench] ${wl.name} seed ${o.seed}: ${pass} passes, " +
        s"$attempted attempted, $failed failed")
      (if (o.trace) layer else e2e ++ wall).foreach { case (k, (v, u)) =>
        println(f"[perfbench] $k%-24s $v%.4f $u") }
      failures.take(20).foreach(f => println(s"[perfbench] FAIL $f"))
    }
  }
}
