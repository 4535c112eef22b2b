package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Host and file-system facts the report records; the load average comes
  * from the frozen `graft.Bench`, which records it too. */
object Host {

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The commit of the checkout when it is a git work tree, else None (a
    * source export carries no history; build.py's source stamp identifies it
    * instead). */
  def gitCommit(root: Path): Option[String] =
    if (!Files.exists(root.resolve(".git"))) None
    else Try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .directory(root.toFile)
        .redirectErrorStream(true)
        .start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
    }.toOption.flatten

  final case class Ticks(busy: Long, steal: Long)

  /** /proc/stat counts in USER_HZ, which Linux fixes at 100 for user space. */
  val TicksPerS = 100.0

  /** Busy (user, nice, system, irq, softirq) and steal ticks of all CPUs
    * since boot, from the first line of /proc/stat; zeros where there is
    * none. */
  def cpuTicks(): Ticks = Try {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Ticks(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }.getOrElse(Ticks(0L, 0L))

  /** CPU time of this JVM's JIT compiler threads so far, from
    * /proc/self/task (0 where there is none). Exact only while no compiler
    * thread exits, so run.py starts the JVM with a fixed set of them
    * (-XX:-UseDynamicNumberOfCompilerThreads). */
  def jitCpuNs(): Long = Try {
    val tasks = Files.list(Path.of("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      Try {
        val stat = new String(Files.readAllBytes(t.resolve("stat")), StandardCharsets.US_ASCII)
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.startsWith("C1 Compiler") && !name.startsWith("C2 Compiler")) 0L
        else {
          // the fields after the name start at `state`; utime and stime follow at 11 and 12
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          ((f(11).toLong + f(12).toLong) / TicksPerS * 1e9).toLong
        }
      }.getOrElse(0L)
    }.sum
    finally tasks.close()
  }.getOrElse(0L)

  /** Bytes of all regular files under `dir`. */
  def duBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Parquet data files under `dir`. */
  def parquetFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}
