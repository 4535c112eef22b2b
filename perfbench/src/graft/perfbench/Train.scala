package graft.perfbench

import java.nio.file.Files

/** Loads the classes the benchmark's runs use, so that the build can record
  * them in a class-data archive: set-up and warm-up of every workload in
  * the benchmark, in one session, with no output.
  *
  * {{{
  * Train DIR
  * }}}
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val work = java.nio.file.Path.of(argv(0)).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(Main.Cores, work)
    try Workload.names.foreach { name =>
      val wl = Workload(name, spark, 1L, work.resolve(name))
      wl.setup()
      wl.warmUp().foreach { o => wl.check(o); o.release() }
      wl.release()
    } finally spark.stop()
  }
}
