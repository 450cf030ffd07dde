package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** CPU time of this JVM's threads by class, from the kernel's per-thread
  * run time (`/proc/self/task/<tid>/schedstat`, nanoseconds). */
object ThreadCpu {
  /** Thread class from its (15-character) kernel name. */
  def classOf(comm: String): String =
    if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) "jit"
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") ||
      comm == "VM Thread") "gc"
    else if (comm.startsWith("Executor task")) "task"
    else "other"

  private val tasks = Paths.get("/proc/self/task")

  private def read(p: Path): Option[String] =
    try Some(Files.readString(p).trim) catch { case NonFatal(_) => None }

  /** tid -> (class, run time ns) for every live thread. */
  def snapshot(): Map[String, (String, Long)] = {
    val s = Files.list(tasks)
    try s.iterator().asScala.flatMap { t =>
      for {
        comm <- read(t.resolve("comm"))
        stat <- read(t.resolve("schedstat"))
      } yield t.getFileName.toString -> ((classOf(comm), stat.split(" ")(0).toLong))
    }.toMap
    finally s.close()
  }

  /** The JIT compiler threads, found once. The benchmark JVM runs with
    * -XX:-UseDynamicNumberOfCompilerThreads, so they live as long as it. */
  private lazy val jitStats: Seq[Path] = {
    val s = Files.list(tasks)
    try s.iterator().asScala.filter(t => read(t.resolve("comm")).exists(classOf(_) == "jit"))
      .map(_.resolve("schedstat")).toList
    finally s.close()
  }

  /** Run time of the JIT compiler threads so far. */
  def jitNs(): Long = jitStats.map(p => read(p).map(_.split(" ")(0).toLong).getOrElse(0L)).sum

  /** Run time per class between two snapshots; threads that ended in
    * between are missing, threads started in between count in full. */
  def delta(a: Map[String, (String, Long)], b: Map[String, (String, Long)]): Map[String, Long] =
    b.toSeq.map { case (tid, (cls, ns)) => cls -> (ns - a.get(tid).map(_._2).getOrElse(0L)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
}
