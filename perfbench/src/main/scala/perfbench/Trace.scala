package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span store for the traced run. A span is a named interval on
  * the benchmark's nanoTime axis with the span that caused it; every span
  * of one gate run carries that run's id. Spans are written out once, at
  * the end of the run.
  */
final class Spans(val t0: Long) {
  import Spans.Span

  private val ids = new AtomicInteger(1)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def newId(): Int = ids.getAndIncrement()

  def add(id: Int, parent: Int, name: String, gate: String, run: Int,
      start: Long, end: Long): Unit =
    buf.add(Span(id, parent, name, gate, run, start, end))

  def add(parent: Int, name: String, gate: String, run: Int, start: Long,
      end: Long): Unit = add(newId(), parent, name, gate, run, start, end)

  /** Every span, in start order. Spark jobs and Catalyst phases are
    * recorded under their gate; here each is moved under the gate's
    * `queries.build` or `exec.action` span that was open when it started. */
  def all: Seq[Span] = {
    val ss = buf.asScala.toSeq.sortBy(s => (s.start, s.id))
    val phases = ss.filter(s => s.name == "queries.build" || s.name == "exec.action")
      .groupBy(_.parent)
    ss.map { s =>
      if (s.name != "exec.job" && !s.name.startsWith("catalyst.")) s
      else phases.getOrElse(s.parent, Nil)
        .find(h => h.start <= s.start && s.start < h.end)
        .fold(s)(h => s.copy(parent = h.id))
    }
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfTimes: Seq[(Span, Long)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s -> (s.end - s.start - Spans.union(iv))
    }
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, gate: String,
      run: Int, start: Long, end: Long)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Per-gate-run counters gathered by the listeners while tracing. */
final class RunStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** job intervals on the epoch-millisecond axis */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStarts = mutable.Map.empty[Int, Long]
  var qes = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val extractNs = mutable.ArrayBuffer.empty[Long]
  val openLineageNs = mutable.ArrayBuffer.empty[Long]
  val registryAddNs = mutable.ArrayBuffer.empty[Long]
  var columnEdges = 0L
}

/** Spark-side tracer: job, stage and task counters keyed by the gate run
  * named in each job's description, plus streaming batch progress. It
  * records only while `active` is set, so one run can alternate traced
  * and untraced passes.
  */
final class Tracer(val spans: Spans, epochMs0: Long) extends SparkListener {
  @volatile var active = false
  @volatile var currentRun: Int = -1
  /** gate-span id of each traced gate run, for parenting async spans */
  val gateSpan = new ConcurrentHashMap[Int, (Int, String)]()
  val stats = new ConcurrentHashMap[Int, RunStats]()
  private val stageRun = new ConcurrentHashMap[Int, Integer]()
  private val jobRun = new ConcurrentHashMap[Int, Integer]()
  /** (trigger time epoch ms, batch duration ms) of every streaming batch */
  val batches = new ConcurrentLinkedQueue[(Long, Long)]()

  def statsOf(run: Int): RunStats = stats.computeIfAbsent(run, _ => new RunStats)

  /** epoch ms → benchmark nanoTime axis */
  def toNs(epochMs: Long): Long = spans.t0 + (epochMs - epochMs0) * 1000000L

  private def runOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .collect { case Bench.JobDesc(r) => r.toInt }
      .getOrElse(currentRun)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val run = runOf(e.properties)
    if (run >= 0) {
      jobRun.put(e.jobId, run)
      e.stageIds.foreach(stageRun.put(_, Int.box(run)))
      val st = statsOf(run)
      st.synchronized { st.jobs += 1; st.jobStarts(e.jobId) = e.time }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobRun.remove(e.jobId)).map(_.intValue).foreach { run =>
      val st = statsOf(run)
      val start = st.synchronized {
        val s = st.jobStarts.remove(e.jobId).getOrElse(e.time)
        st.jobIntervals += ((s, e.time)); s
      }
      val parent = Option(gateSpan.get(run))
      spans.add(parent.map(_._1).getOrElse(0), "exec.job",
        parent.map(_._2).getOrElse(""), run, toNs(start), toNs(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageRun.get(e.stageInfo.stageId)).foreach { run =>
      val st = statsOf(run); st.synchronized(st.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageRun.get(e.stageId)).filter(_ => m != null).foreach { run =>
      val st = statsOf(run)
      st.synchronized {
        st.tasks += 1
        st.taskRunMs += m.executorRunTime
        st.taskCpuNs += m.executorCpuTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) {
        val p = e.progress
        val ms = Option(p.batchDuration).map(_.longValue).getOrElse(0L)
        val at = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
          .getOrElse(System.currentTimeMillis())
        batches.add((at, ms))
      }
  }
}
