package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Counts and times are summed over
  * the gate runs of one traced pass and reported as the median over
  * traced passes; per-query lineage costs are medians over queries. */
object Layers {
  private val MB = 1048576.0

  def compute(t: Tracer, runs: Seq[Bench.GateRun],
      passes: Seq[(Int, Boolean, Long, Long)], prebuildS: Seq[Double],
      gcRunMs: Long, heapPeakMb: Double, cores: Double): Seq[(String, (Double, String))] = {
    import Bench.median
    val traced = runs.filter(_.traced)
    val stats = traced.map(r => r -> t.statsOf(r.run)).toMap
    val batches = t.batches.asScala.toSeq.map { case (at, ms) => (t.toNs(at), ms) }
    val byPass = traced.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, rs) =>
      val ss = rs.map(stats)
      val (a, b) = passes.find(_._1 == p).map(x => (x._3, x._4)).get
      val wall = rs.map(_.windowS).sum
      val taskRun = ss.map(_.taskRunMs).sum / 1e3
      val jobsNs = rs.map { r =>
        val st = stats(r)
        st.synchronized(st.jobIntervals.toSeq).map { case (s, e) =>
          (math.max(t.toNs(s), r.start), math.min(t.toNs(e), r.end)) }
      }
      val pb = batches.filter { case (at, _) => at >= a && at <= b }
      Map(
        "queries.build_s" -> rs.map(r => (r.built - r.start) / 1e9).sum,
        "queries.eager_jobs" -> rs.map { r =>
          val st = stats(r)
          st.synchronized(st.jobIntervals.toSeq).count { case (s, _) => t.toNs(s) < r.built }.toDouble
        }.sum,
        "exec.action_s" -> rs.map(r => (r.end - r.built) / 1e9).sum,
        "exec.task_run_s" -> taskRun,
        "exec.task_cpu_s" -> ss.map(_.taskCpuNs).sum / 1e9,
        "exec.input_mb" -> ss.map(_.inputBytes).sum / MB,
        "exec.shuffle_read_mb" -> ss.map(_.shuffleReadBytes).sum / MB,
        "exec.shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / MB,
        "exec.spill_mb" -> ss.map(_.spillBytes).sum / MB,
        "exec.gc_s" -> ss.map(_.gcMs).sum / 1e3,
        "exec.core_util" -> taskRun / (wall * cores),
        "exec.jobs" -> ss.map(_.jobs).sum.toDouble,
        "exec.stages" -> ss.map(_.stages).sum.toDouble,
        "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
        "exec.driver_gap_s" -> rs.zip(jobsNs).map { case (r, iv) =>
          (r.end - r.start - Spans.union(iv.filter { case (s, e) => e > s })) / 1e9 }.sum,
        "catalyst.qes" -> ss.map(_.qes).sum.toDouble,
        "catalyst.analysis_s" -> ss.map(_.analysisMs).sum / 1e3,
        "catalyst.optimization_s" -> ss.map(_.optimizationMs).sum / 1e3,
        "catalyst.planning_s" -> ss.map(_.planningMs).sum / 1e3,
        "codegen.compiles" -> rs.map(_.compiles).sum.toDouble,
        "codegen.compile_s" -> rs.map(_.compileNs).sum / 1e9,
        "lineage.column_edges" -> ss.map(_.columnEdges).sum.toDouble,
        "caches.sweep_s" -> rs.map(_.sweepNs).sum / 1e9,
        "caches.rdds_swept" -> rs.map(_.rddsSwept).sum.toDouble,
        "stream.batches" -> pb.size.toDouble,
        "stream.batch_s" -> pb.map(_._2).sum / 1e3,
        "pass_s" -> wall)
    }
    def perPass(k: String) = median(byPass.map(_(k)))
    def perQe(f: RunStats => collection.Seq[Long]) =
      median(traced.flatMap(r => { val st = stats(r); st.synchronized(f(st).toSeq) })
        .map(_ / 1e6))
    val untracedPass = median(runs.filter(r => !r.traced && r.pass >= Bench.WarmPasses)
      .groupBy(_.pass).values
      .map(_.map(_.windowS).sum).toSeq)
    val tracedPass = perPass("pass_s")
    val nPasses = passes.size.max(1)
    val unit = Map("queries.eager_jobs" -> "count", "exec.jobs" -> "count",
      "exec.stages" -> "count", "exec.tasks" -> "count", "catalyst.qes" -> "count",
      "codegen.compiles" -> "count", "lineage.column_edges" -> "count",
      "caches.rdds_swept" -> "count", "stream.batches" -> "count",
      "exec.core_util" -> "ratio")
    val passKeys = Seq("queries.build_s", "queries.eager_jobs", "exec.action_s",
      "exec.task_run_s", "exec.task_cpu_s", "exec.input_mb", "exec.shuffle_read_mb",
      "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s", "exec.core_util",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
      "catalyst.qes", "catalyst.analysis_s", "catalyst.optimization_s",
      "catalyst.planning_s", "codegen.compiles", "codegen.compile_s")
    def u(k: String) = unit.getOrElse(k,
      if (k.endsWith("_mb")) "MB" else if (k.endsWith("_ms")) "ms" else "s")
    passKeys.map(k => k -> ((perPass(k), u(k)))) ++ Seq(
      "lineage.extract_ms" -> ((perQe(_.extractNs), "ms")),
      "lineage.openlineage_ms" -> ((perQe(_.openLineageNs), "ms")),
      "lineage.registry_add_ms" -> ((perQe(_.registryAddNs), "ms")),
      "lineage.column_edges" -> ((perPass("lineage.column_edges"), "count")),
      "lineage.coverage" -> ((runs.map(_.reports).sum.toDouble /
        runs.map(_.qes).sum.max(1), "ratio")),
      "layout.prebuild_s" -> ((median(prebuildS), "s")),
      "caches.sweep_s" -> ((perPass("caches.sweep_s"), "s")),
      "caches.rdds_swept" -> ((perPass("caches.rdds_swept"), "count")),
      "stream.batches" -> ((perPass("stream.batches"), "count")),
      "stream.batch_s" -> ((perPass("stream.batch_s"), "s")),
      "jvm.heap_peak_mb" -> ((heapPeakMb, "MB")),
      "jvm.gc_s" -> ((gcRunMs / 1e3 / nPasses, "s")),
      "trace.traced_pass_s" -> ((tracedPass, "s")),
      "trace.untraced_pass_s" -> ((untracedPass, "s")),
      "trace.overhead_s" -> ((tracedPass - untracedPass, "s")),
      "trace.overhead_frac" -> (((tracedPass - untracedPass) / untracedPass, "ratio")))
  }

  def writeSpans(spans: Spans, path: Path): Unit = {
    val lines = spans.all.map(s => Json(mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "gate" -> s.gate,
      "run" -> s.run, "start_us" -> (s.start - spans.t0) / 1000,
      "end_us" -> (s.end - spans.t0) / 1000)))
    Files.write(path, lines.asJava)
  }

  /** Self time per layer, total and by gate (top ten), in seconds. */
  def selfTimeJson(spans: Spans): String = {
    val byLayer = spans.selfTimes.groupBy(_._1.name).toSeq.sortBy(_._1).map {
      case (layer, xs) =>
        val byGate = xs.groupBy(_._1.gate).toSeq
          .map { case (g, ys) => g -> ys.map(_._2).sum / 1e9 }.sortBy(-_._2)
        layer -> mutable.LinkedHashMap[String, Any](
          "self_s" -> xs.map(_._2).sum / 1e9, "spans" -> xs.size,
          "top_gates" -> byGate.take(10).map { case (g, v) =>
            mutable.LinkedHashMap[String, Any]("gate" -> g, "self_s" -> v) })
    }
    Json(mutable.LinkedHashMap(byLayer: _*)) + "\n"
  }
}
