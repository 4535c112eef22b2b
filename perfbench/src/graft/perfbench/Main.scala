package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** graft's benchmark: one workload, one seed, one process, `local[2]`, a
  * closed loop of one job at a time.
  *
  * {{{
  * Main --workload store|microbatch|dedup --seed N --seconds S --trace 0|1 --work DIR --root DIR
  *      [--source-stamp HEX]
  * }}}
  *
  * Set-up is what a user waits for before the first measured iteration:
  * JVM and Spark session start, the corpus (generated, persisted, counted)
  * and a warm-up. The corpus set-up runs three times and counts with its
  * median. Then iterations run back to back until `seconds` of iteration
  * time is measured and the workload's `minIterations` ran. Every
  * iteration's output is checked after its timer stops. With `--trace 1`
  * the same untraced loop runs first, then one traced iteration records a
  * span per layer call and Spark's task and plan metrics per span; the
  * untraced loop's wall time sets `trace.overhead_s`.
  *
  * Prints a report line, then, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, root: Path,
      sourceStamp: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      Path.of(need("work")).toAbsolutePath, Path.of(m.getOrElse("root", ".")).toAbsolutePath, m.get("source-stamp"))
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** Task slots: half the 4-vCPU host. With four task threads beside the
    * driver, JIT and GC threads, `dedup`'s CPU time per iteration spread by
    * 0.16 of its median across runs; with two, by 0.07-0.14. */
  val Cores = 2
  private val SetupRounds = 3
  private val TracedIterations = 1
  private val ContendedShare = 0.1

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile `p` of `xs`. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** Live heap: a full GC, a pause for Spark's ContextCleaner to drop the
    * broadcasts and shuffles the first GC released, and a second GC. */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Sizes.MB
  }

  /** Attempted and failed operations, and what failed. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def record(what: String, bad: Seq[String]): Unit = {
      attempted += 1
      if (bad.nonEmpty) { failed += 1; problems ++= bad.take(5).map(p => s"$what: $p") }
    }
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One checked iteration: its outcome, the live heap after it (when
    * probed), the CPU time the process used while it ran outside the JIT
    * compiler threads, and the JIT compiler threads' CPU time. */
  final case class Measured(o: Outcome, heapMb: Double, cpuS: Double, jitS: Double)

  /** Runs iterations, checks each after its timer stopped, releases it. A
    * throw fails the attempt. */
  private def step(wl: Workload, tally: Tally, what: String, probeHeap: Boolean = false)(run: => Seq[Outcome])
      : Seq[Measured] =
    try {
      val (cpu0, jit0) = (os.getProcessCpuTime, Host.jitCpuNs())
      val outs = run
      val jit = (Host.jitCpuNs() - jit0) / 1e9 / outs.length
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9 / outs.length - jit
      outs.map { o =>
        val heap = if (probeHeap) heapUsedMb() else 0.0
        tally.record(what, wl.check(o))
        o.release()
        Measured(o, heap, cpu, jit)
      }
    } catch {
      case e: Throwable =>
        tally.record(what, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"))
        Nil
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = graft.Bench.loadavg()._1
    val ticks0 = Host.cpuTicks()
    val ownCpu0 = os.getProcessCpuTime
    val main0 = System.nanoTime()
    val started = main0 - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    Files.createDirectories(a.work)
    val spark = session(Cores, a.work)
    val sessionS = (System.nanoTime() - started) / 1e9
    val wl = Workload(a.workload, spark, a.seed, a.work)
    val tally = new Tally

    val setups = (0 until SetupRounds).map { r =>
      if (r > 0) wl.release()
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    // the warm-up's own iterations, without their checks
    val warmupS = step(wl, tally, "warm-up")(wl.warmUp()).map(_.o.wallS).sum

    val runs = mutable.ArrayBuffer.empty[Measured]
    var spent = 0.0
    var fails = 0
    while ((spent < a.seconds || runs.length < wl.minIterations) && wl.more && fails < 3) {
      val t0 = System.nanoTime()
      step(wl, tally, s"iteration ${runs.length}", probeHeap = runs.isEmpty)(Seq(wl.iterate())) match {
        case Seq(r) => runs += r; spent += r.o.wallS
        case _ => spent += (System.nanoTime() - t0) / 1e9; fails += 1
      }
    }

    val (finishBad, extra) =
      try wl.finish()
      catch { case e: Throwable => (Seq(s"threw $e"), Map.empty[String, Double]) }
    tally.record("whole-run checks", finishBad)
    val selfCheck = wl.selfCheck()
    if (!selfCheck) tally.problems += "self-check: an output with one row changed passed the checks"

    val walls = runs.map(_.o.wallS).toSeq
    val wall = median(walls)
    val setupS = sessionS + median(setups) + warmupS
    val e2e = endToEnd(a, setupS, runs.toSeq, tally, extra)

    val layers: Map[String, Double] = if (a.trace) traced(wl, a, spark, tally, wall) else Map.empty
    spark.stop()

    // CPU the rest of the host used while this process ran: busy ticks of
    // all CPUs minus this process's own CPU time, and the hypervisor's steal
    val ticks1 = Host.cpuTicks()
    val window = (System.nanoTime() - main0) / 1e9
    val othersCpu = math.max(0.0, (ticks1.busy - ticks0.busy) / Host.TicksPerS - (os.getProcessCpuTime - ownCpu0) / 1e9)
    val stealS = (ticks1.steal - ticks0.steal) / Host.TicksPerS
    val elapsed = (System.nanoTime() - started) / 1e9
    val host = ListMap(
      "cpus" -> Host.cpus,
      "master" -> s"local[$Cores]",
      "load1_before" -> load0,
      "load1_after" -> graft.Bench.loadavg()._1,
      "steal_ticks_delta" -> (ticks1.steal - ticks0.steal),
      "others_cpu_s" -> othersCpu,
      "steal_s" -> stealS,
      // contended: other processes and the hypervisor together took more
      // than a tenth of the host's CPU capacity while this process ran
      "contended" -> (othersCpu + stealS > ContendedShare * window * Host.cpus),
      "git_commit" -> Host.gitCommit(a.root).orNull,
      "source_stamp" -> a.sourceStamp.orNull,
      "seed" -> a.seed,
      "workload" -> a.workload,
      "elapsed_s" -> elapsed
    )
    val correct = tally.failed == 0 && selfCheck
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    println(mapper.writeValueAsString(ListMap(
      "report" -> ListMap(
        "host" -> host,
        "session_s" -> sessionS,
        "corpus_setup_rounds_s" -> setups,
        "warmup_s" -> warmupS,
        "iteration_wall_s" -> walls,
        "end_to_end" -> e2e,
        "layers" -> ListMap.from(layers.toSeq.sortBy(_._1)),
        "self_check" -> selfCheck,
        "problems" -> tally.problems.take(20).toSeq
      )
    )))
    val metrics =
      if (a.trace) Units.perLayer.map(k => k -> layers.getOrElse(k, 0.0))
      else Units.endToEnd.map(k => k -> e2e(k)("value"))
    println(mapper.writeValueAsString(ListMap(
      "correct" -> correct,
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> ListMap.from(metrics.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> Units.of(k)) })
    )))
  }

  /** The ten named end-to-end metrics. One a workload has no value for is
    * null, with the reason. */
  private def endToEnd(a: Args, setup: Double, runs: Seq[Measured], tally: Tally,
      extra: Map[String, Double]): ListMap[String, ListMap[String, Any]] = {
    def m(name: String, v: Any, more: (String, Any)*) =
      name -> ListMap(Seq("value" -> v, "unit" -> Units.of(name)) ++ more: _*)
    val na = "not applicable to this workload"
    val outs = runs.map(_.o)
    val commits = outs.flatMap(_.commitS)
    val tail = a.workload match {
      case "microbatch" if commits.length > 10 =>
        val p = math.floor(100.0 * (1 - 10.0 / commits.length))
        m("commit_tail_s", percentile(commits, p), "percentile" -> p, "samples" -> commits.length)
      case "microbatch" => m("commit_tail_s", null, "why" -> s"needs more than 10 commits, have ${commits.length}")
      case _ => m("commit_tail_s", null, "why" -> na)
    }
    ListMap(
      m("setup_s", setup, "what" ->
        s"process start to the first measured iteration: session start, corpus (median of $SetupRounds), warm-up"),
      m("wall_s", median(outs.map(_.wallS)), "samples" -> outs.length),
      m("seq_per_s", median(outs.map(o => o.lines / o.wallS)), "what" -> "median of input lines / iteration wall"),
      m("cpu_s", median(runs.map(_.cpuS)), "what" -> "median process CPU time of one iteration, JIT compiler threads excluded",
        "jit_s" -> median(runs.map(_.jitS))),
      a.workload match {
        case "store" => m("commit_s", median(commits), "what" -> "fingerprint + writeRouted, to the manifest rename")
        case "microbatch" => m("commit_s", median(commits), "what" -> "median per-batch commitBatch", "samples" -> commits.length)
        case _ => m("commit_s", null, "why" -> na)
      },
      tail,
      extra.get("query_s").orElse(outs.flatMap(_.queryS).headOption.map(_ => median(outs.flatMap(_.queryS)))) match {
        case Some(q) => m("query_s", q, "what" -> "committed store to complete per-player and chat output")
        case None => m("query_s", null, "why" -> na)
      },
      extra.get("store_mb").orElse(outs.find(_.storeBytes > 0).map(_ => median(outs.map(_.storeBytes / Sizes.MB)))) match {
        case Some(v) => m("store_mb", v, "what" -> "data + audit + manifest on disk")
        case None => m("store_mb", null, "why" -> na)
      },
      m("heap_peak_mb", runs.headOption.fold(Double.NaN)(_.heapMb),
        "what" -> "live heap after a full GC at the end of the first measured iteration, its caches held"),
      m("failed_frac", tally.failed.toDouble / math.max(1L, tally.attempted), "attempted" -> tally.attempted),
      extra.get("dup_recall") match {
        case Some(r) => m("dup_recall", r, "planted_pairs" -> Sizes.dedupCopies)
        case None => m("dup_recall", null, "why" -> na)
      }
    )
  }

  /** Traced iterations, after the untraced loop: per-layer metrics from
    * their spans, medians over the iterations. */
  private def traced(wl: Workload, a: Args, spark: SparkSession, tally: Tally, untracedWall: Double): Map[String, Double] = {
    val rec = new Recorder(spark)
    rec.install()
    val perIter = (0 until TracedIterations).flatMap { i =>
      val t = new Tracer(rec, s"${a.workload}-${a.seed}-$i")
      step(wl, tally, s"traced iteration $i")(Seq(wl.traced(t))).map(r => (r.o, t.spans.toSeq))
    }
    rec.uninstall()
    writeSpans(a, perIter.flatMap(_._2))
    if (perIter.isEmpty) return Map.empty
    val metrics = perIter.map { case (_, spans) => Layers.metrics(spans, Cores) }
    val names = metrics.flatMap(_.keys).distinct
    names.map(n => n -> median(metrics.flatMap(_.get(n)))).toMap ++ Map(
      "trace.wall_s" -> untracedWall,
      "trace.overhead_s" -> (median(perIter.map(_._1.wallS)) - untracedWall))
  }

  private def writeSpans(a: Args, spans: Seq[Span]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val dir = a.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val lines = spans.map { s =>
      mapper.writeValueAsString(ListMap(
        "run_id" -> s.runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "jobs" -> s.totals.jobs, "tasks" -> s.totals.tasks, "task_run_ms" -> s.totals.runMs,
        "task_cpu_ns" -> s.totals.cpuNs, "gc_ms" -> s.totals.gcMs,
        "shuffle_write_bytes" -> s.totals.shuffleWriteBytes, "spill_bytes" -> s.totals.spillBytes,
        "counts" -> s.counts,
        "queries" -> s.queries.map(q => ListMap("func" -> q.func, "seconds" -> q.seconds,
          "output" -> q.outputPath.orNull, "shuffles" -> q.shuffles, "broadcasts" -> q.broadcasts, "rows_out" -> q.rowsOut))
      ))
    }
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Per-layer metrics of one traced iteration. A layer is the module a span
  * calls into: the span name's prefix before the dot. */
object Layers {
  def metrics(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val root = spans.find(_.parent == -1).get
    val kids = spans.filter(_.parent == root.id)
    def dur(name: String): Option[Double] = {
      val s = kids.filter(_.name == name)
      if (s.isEmpty) None else Some(s.map(_.seconds).sum)
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    kids.groupBy(_.name).foreach { case (name, ss) =>
      out(s"${name}_s") = if (name == "streaming.batch") Main.median(ss.map(_.seconds)) else ss.map(_.seconds).sum
      ss.flatMap(_.counts).foreach { case (k, v) => out(k) = v }
    }
    // layer self-time is its span minus its children; gap = root self time
    out("trace.gap_s") = Tracer.selfSeconds(root, spans)
    out("trace.iteration_s") = root.seconds

    val env = dur("expr.envelope")
    (dur("pipeline.routable"), env) match {
      case (Some(r), Some(e)) => out("pipeline.classify_s") = r - e
      case _ =>
    }
    kids.find(_.name == "pipeline.routable").foreach { s =>
      out("pipeline.classify_shuffle_mb") = s.totals.shuffleWriteBytes / Sizes.MB
    }
    kids.find(_.name == "store.assembly").foreach { s =>
      s.queries.lastOption.foreach(q => out("store.assembly_exchanges") = q.shuffles)
      dur("pipeline.per_player").foreach(pp => out("pipeline.sort_s") = pp - s.seconds)
    }
    kids.find(_.name == "route.write_routed").foreach { s =>
      val (data, rest) = s.queries.partition(_.outputPath.exists(_.endsWith("/data")))
      out("route.write_s") = data.map(_.seconds).sum
      out("route.audit_s") = rest.map(_.seconds).sum
      out("route.manifest_s") = s.seconds - s.queries.map(_.seconds).sum
      out("route.exchanges") = data.map(_.shuffles).sum
    }
    kids.find(_.name == "ops.lsh_candidates").foreach(s => out("ops.candidate_pairs") = s.queries.lastOption.map(_.rowsOut.toDouble).getOrElse(0.0))
    kids.find(_.name == "ops.cc").foreach(s => out("ops.cc_jobs") = s.totals.jobs)

    val all = new Totals
    spans.foreach(s => all.add(s.totals))
    out("iteration.cpu_s") = all.cpuNs / 1e9
    out("iteration.idle_core_s") = root.seconds * cores - all.runMs / 1e3

    // listener totals per layer, each span's own jobs only
    spans.filter(_ != root).groupBy(_.name.takeWhile(_ != '.')).foreach { case (layer, ss) =>
      val t = new Totals
      ss.foreach(s => t.add(s.totals))
      out(s"$layer.tasks") = t.tasks
      out(s"$layer.cpu_s") = t.cpuNs / 1e9
      out(s"$layer.idle_core_s") = ss.map(s => Tracer.selfSeconds(s, spans)).sum * cores - t.runMs / 1e3
      out(s"$layer.gc_s") = t.gcMs / 1e3
      out(s"$layer.shuffle_write_mb") = t.shuffleWriteBytes / Sizes.MB
      out(s"$layer.spill_mb") = t.spillBytes / Sizes.MB
      out(s"$layer.rows_out") = ss.flatMap(_.queries.lastOption).map(_.rowsOut).sum
    }
    out.toMap
  }
}

object Units {
  /** The gated end-to-end metrics: the ones every kept workload has, never
    * 0, and steady across seeds on a shared host. `wall_s` and `seq_per_s`
    * are in the report line: hypervisor steal spreads them by a third. */
  val endToEnd: Seq[String] = Seq("setup_s", "cpu_s", "heap_peak_mb")

  /** The per-layer metrics of the result line. Times are the ones every
    * workload has; a count of a layer the workload does not call is 0.
    * Every other layer time is in the report line and the span file. */
  val perLayer: Seq[String] = Seq(
    "trace.wall_s", "trace.overhead_s", "trace.gap_s", "trace.iteration_s", "iteration.cpu_s", "iteration.idle_core_s",
    "expr.tasks", "expr.rows_out",
    "pipeline.tasks", "pipeline.rows_out", "pipeline.shuffle_write_mb", "pipeline.classify_shuffle_mb",
    "route.tasks", "route.files", "route.write_mb", "route.exchanges", "route.shuffle_write_mb",
    "store.tasks", "store.assembly_exchanges", "store.shuffle_write_mb",
    "streaming.tasks", "streaming.files", "streaming.shuffle_write_mb",
    "ops.tasks", "ops.candidate_pairs", "ops.cc_jobs", "ops.shuffle_write_mb"
  )

  def of(metric: String): String =
    if (metric.endsWith("_per_s")) "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_frac") || metric.endsWith("_recall")) "ratio"
    else "count"
}
