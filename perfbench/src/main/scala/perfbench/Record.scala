package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Caches, SparkEntry}

/** Expected per-gate outputs, one line per (sf, gate):
  * `sf <TAB> gate <TAB> digest|rows <TAB> rows <TAB> digest`. */
object Expected {
  final case class Entry(rowsOnly: Boolean, rows: Long, digest: String)

  def load(path: String, sf: String): Map[String, Entry] =
    if (path.isEmpty || !Files.isRegularFile(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t"))
      .collect { case Array(`sf`, gate, mode, rows, digest, _*) =>
        gate -> Entry(mode == "rows", rows.toLong, digest) }
      .toMap
}

/** Record mode: writes every gate's full result as parquet (the layout
  * `tools/check.py` reads, with `oracle_sql.json` beside it) and prints
  * the digest of the written result next to the digest of a second,
  * in-memory run, so unstable results show before they are recorded. */
object Record {
  def run(wl: Workloads.Workload, sfDir: String, outDir: String): Unit = {
    val s = Bench.open(None)
    val spark = s.spark
    val fns = SparkEntry.queries
    Files.createDirectories(Paths.get(outDir))
    wl.layouts.foreach { g =>
      fns(g)(spark, sfDir).write.format("noop").mode("overwrite").save()
      Caches.sweep(spark)
    }
    wl.gates.sorted.foreach { g =>
      val line =
        try {
          fns(g)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$g")
          Caches.sweep(spark)
          val written = Digest.of(spark.read.parquet(s"$outDir/$g"))
          val again = Digest.of(fns(g)(spark, sfDir))
          s"${wl.sf}\t$g\t${if (written == again) "same" else "differs"}\t" +
            s"${written.rows}\t$written\t$again"
        } catch {
          case NonFatal(e) => s"${wl.sf}\t$g\terror\t${e.getMessage}"
        } finally Caches.sweep(spark)
      println(s"[record] $line")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => wl.gates.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))
    spark.stop()
  }
}
