package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lineage.{LineageExtractor, MetadataRegistry}

/** The benchmark's own execution listener, registered AFTER
  * `LineageListener`. Spark calls a session's execution listeners in
  * registration order on one thread, so when this listener sees a query,
  * the lineage listener has finished that query's report. It counts the
  * queries of each gate run and signals each noop-sink write, which is
  * what lineage lag is measured against. While a tracer is active it also
  * reads the Catalyst phase times and re-runs the lineage functions
  * under a timer.
  */
final class Watch(tracer: Option[Tracer]) extends QueryExecutionListener {
  @volatile var currentRun: Int = -1
  private val qes = new ConcurrentHashMap[Int, AtomicInteger]()
  private val lock = new Object
  private var writes = 0L
  private var lastWriteDone = 0L
  private val scratchRegistry = new MetadataRegistry

  def qeCount(run: Int): Int = Option(qes.get(run)).map(_.get).getOrElse(0)

  def writesSeen: Long = lock.synchronized(writes)

  /** Block until `n` noop writes have been seen; the completion time of
    * the n-th, or None on timeout. */
  def awaitWrite(n: Long, timeoutMs: Long): Option[Long] = lock.synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (writes < n && System.currentTimeMillis() < deadline)
      lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
    if (writes >= n) Some(lastWriteDone) else None
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val done = System.nanoTime()
    val run = currentRun
    qes.computeIfAbsent(run, _ => new AtomicInteger).incrementAndGet()
    tracer.filter(_.active).foreach(t => traced(t, run, qe))
    if (Watch.isNoopWrite(qe)) lock.synchronized {
      writes += 1; lastWriteDone = done; lock.notifyAll()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
    if (Watch.isNoopWrite(qe)) lock.synchronized {
      writes += 1; lastWriteDone = System.nanoTime(); lock.notifyAll()
    }
  }

  private def traced(t: Tracer, run: Int, qe: QueryExecution): Unit = {
    val st = t.statsOf(run)
    val (parent, gate) = Option(t.gateSpan.get(run)).getOrElse((0, ""))
    val ph = qe.tracker.phases
    def phase(name: String, span: String): Long = ph.get(name).map { p =>
      t.spans.add(parent, span, gate, run, t.toNs(p.startTimeMs), t.toNs(p.endTimeMs))
      p.durationMs
    }.getOrElse(0L)
    val a = phase("analysis", "catalyst.analysis")
    val o = phase("optimization", "catalyst.optimization")
    val p = phase("planning", "catalyst.planning")
    val e0 = System.nanoTime()
    val report = LineageExtractor.report(qe)
    val e1 = System.nanoTime()
    scratchRegistry.add(report)
    val e2 = System.nanoTime()
    report.openLineageJson("perfbench", gate, s"run-$run", "1970-01-01T00:00:00Z")
    val e3 = System.nanoTime()
    t.spans.add(parent, "lineage.extract", gate, run, e0, e1)
    t.spans.add(parent, "lineage.registry_add", gate, run, e1, e2)
    t.spans.add(parent, "lineage.openlineage", gate, run, e2, e3)
    st.synchronized {
      st.qes += 1
      st.analysisMs += a; st.optimizationMs += o; st.planningMs += p
      st.extractNs += e1 - e0
      st.registryAddNs += e2 - e1
      st.openLineageNs += e3 - e2
      st.columnEdges += report.columnLineage.valuesIterator.map(_.size.toLong).sum
    }
  }
}

object Watch {
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
    case _ => false
  }
}
