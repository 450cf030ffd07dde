package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Caches, SparkEntry}

/** The timed action of the benchmark is a noop-sink write. This spec shows,
  * on a sample of gates from every workload, that the write materializes
  * every column of the gate's result and reads real columns from every
  * scan, while `count()` on the same DataFrame lets Catalyst prune them.
  */
class ColumnKeepingSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sample = Seq(
    "q01_scan_filter_project", "q16_window_running", "q74_asof_native", // relational
    "sq05_sql_group_by_all", "d01_dedup_exact", "m01_binary_meta")      // plan_bound

  private lazy val sess = Bench.open(None)
  private lazy val dir = sys.props.getOrElse("perfbench.data", "data") + "/sf0.001"
  private val seen = new LinkedBlockingQueue[(String, QueryExecution)]()

  override def beforeAll(): Unit =
    sess.spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.put(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  override def afterAll(): Unit = sess.spark.stop()

  /** Run `action` and return the executed plan of its last query. */
  private def planOf(action: => Unit, pick: QueryExecution => Boolean): QueryExecution = {
    seen.clear()
    action
    Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
      .map(x => Option(x).getOrElse(fail("no query callback")))
      .map(_._2).find(pick).get
  }

  private def readSchemas(p: SparkPlan): Seq[Seq[String]] = collectWithSubqueries(p) {
    case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq
    case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
  }

  for (g <- sample) test(s"$g: the noop write keeps every output column; count() does not") {
    val spark = sess.spark
    val df = SparkEntry.queries(g)(spark, dir)
    Caches.sweep(spark)
    val write = planOf(df.write.format("noop").mode("overwrite").save(), Watch.isNoopWrite)
    val written = write.optimizedPlan.children.head.output.map(_.name)
    assert(written == df.columns.toSeq)
    val writeScans = readSchemas(write.executedPlan)
    assert(writeScans.nonEmpty)
    assert(writeScans.forall(_.nonEmpty), s"empty ReadSchema in the write plan: $writeScans")

    val count = planOf(df.count(), qe => !Watch.isNoopWrite(qe))
    val countScans = readSchemas(count.executedPlan)
    assert(count.optimizedPlan.output.size == 1)
    assert(countScans.map(_.size).sum < writeScans.map(_.size).sum,
      s"count() read as many columns as the write: $countScans vs $writeScans")
  }
}
