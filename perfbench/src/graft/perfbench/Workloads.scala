package graft.perfbench

import graft.loggen.LogGen
import graft.ops.Dedup
import graft.pipeline.{Route, TfPipeline}
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

sealed trait Output
/** Collected `perPlayer` (plus `map_entries(heals)`) and `chat` rows. */
final case class Tables(perPlayer: Array[Row], chat: Array[Row]) extends Output
/** Collected `connectedComponents` rows: (id, component). */
final case class Clusters(components: Array[(Long, Long)]) extends Output
/** A micro-batch commit; its rows are checked once the run's batches are in. */
final case class Committed(batch: Int) extends Output

/** What one iteration hands to the checks once its timer has stopped. */
final case class Outcome(
    wallS: Double,
    lines: Long,
    output: Output,
    commitS: Option[Double] = None,
    queryS: Option[Double] = None,
    storeBytes: Long = 0L,
    /** Checks that need Spark or the committed files; run after the timer. */
    storeCheck: () => Seq[String] = () => Nil,
    /** Drops the iteration's caches and files once the checks are done. */
    release: () => Unit = () => ()
)

/** One benchmark workload over a seeded corpus. `iterate` is the measured
  * path; `traced` makes the same calls one layer at a time, each forced and
  * wrapped in a span. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  /** Generates and persists the corpus. */
  def setup(): Unit
  /** Drops the corpus, so that `setup` can run again. */
  def release(): Unit
  /** False once the corpus has no work left for another iteration. */
  def more: Boolean = true
  /** Measured iterations a run makes even past `--seconds`: three where an
    * iteration is short, so that the median is a middle sample and not the
    * mean of a JIT-heavy first one and a second. */
  def minIterations: Int = 1
  /** Untimed iterations that fill the JIT and codegen caches. */
  def warmUp(): Seq[Outcome] = Seq(iterate())
  def iterate(): Outcome
  def traced(t: Tracer): Outcome
  def check(o: Outcome): Seq[String]
  /** Checks that need the whole run, and figures derived from them. */
  def finish(): (Seq[String], Map[String, Double]) = (Nil, Map.empty)
  /** True when the checks reject the last checked output with one row
    * changed. */
  def selfCheck(): Boolean

  private var dirs = 0
  protected def freshDir(tag: String): Path = { dirs += 1; work.resolve(s"$tag-$dirs") }

  protected def force(df: DataFrame): Unit = graft.Bench.force(df)

  protected def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def persistCount(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }

  /** Shuffle partitions sized to the input as the frozen `Bench` sizes them
    * for small tables: between one and four waves of tasks on the
    * benchmark's cores, ~3000 rows per partition. */
  protected def sizeShuffle(rows: Long): Unit = {
    val cores = Main.Cores.toLong
    spark.conf.set("spark.sql.shuffle.partitions", math.max(cores, math.min(cores * 4, rows / 3000L)).toString)
  }
}

object Workload {
  val names: Seq[String] = Seq("store", "microbatch", "dedup")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "store" => new Store(spark, seed, work)
    case "microbatch" => new Microbatch(spark, seed, work)
    case "dedup" => new DedupWl(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}

/** Workloads over a `LogGen.generate` corpus whose per-player and chat
  * output is checked against `ReferenceSim`. */
abstract class LogWorkload(spark: SparkSession, seed: Long, work: Path, docs: Int)
    extends Workload(spark, seed, work) {
  protected var input: DataFrame = _
  protected var rows = 0L
  private var lastTables: Option[Tables] = None

  lazy val expected: Map[String, Check.Expected] = Check.expectations(seed, docs, Sizes.docLines)

  def setup(): Unit = {
    val (df, n) = persistCount(LogGen.generate(spark, docs, Sizes.docLines, seed).toDF())
    input = df
    rows = n
    sizeShuffle(rows)
  }

  def release(): Unit = input.unpersist(blocking = true)

  protected def perPlayerRows(routed: DataFrame, dim: DataFrame): Array[Row] =
    TfPipeline.perPlayer(routed, dim).withColumn("heal_entries", map_entries(col("heals"))).collect()

  protected def chatRows(routed: DataFrame, dim: DataFrame): Array[Row] = TfPipeline.chat(routed, dim).collect()

  /** The aggregate layer as `Bench` runs it: the subject dimension
    * persisted, per-player and chat output collected. */
  protected def aggregates(routed: DataFrame): (Tables, DataFrame) = {
    val dim = TfPipeline.subjectDim(routed).persist()
    (Tables(perPlayerRows(routed, dim), chatRows(routed, dim)), dim)
  }

  /** [[aggregates]] over the store, one module at a time. */
  protected def tracedAggregates(t: Tracer, routed: DataFrame): (Tables, DataFrame) = {
    val dim = TfPipeline.subjectDim(routed).persist()
    t.span("pipeline.subject_dim")(force(dim))
    t.span("pipeline.class_stats")(force(TfPipeline.classStats(routed)))
    t.span("pipeline.heal_spread")(force(TfPipeline.healSpread(routed)))
    t.span("pipeline.medic_stats")(force(TfPipeline.medicStats(routed)))
    val chat = t.span("pipeline.chat")(chatRows(routed, dim))
    t.span("store.assembly")(force(TfPipeline.perPlayerAssembled(routed, dim)))
    val pp = t.span("pipeline.per_player")(perPlayerRows(routed, dim))
    (Tables(pp, chat), dim)
  }

  /** `out` against the simulator over the docs in `exp`. */
  protected def checkTables(out: Tables, exp: Map[String, Check.Expected]): Seq[String] = {
    lastTables = Some(out)
    Check.pipeline(out.perPlayer, out.chat, exp)
  }

  def check(o: Outcome): Seq[String] = o.output match {
    case t: Tables => checkTables(t, expected) ++ o.storeCheck()
    case other => Seq(s"unexpected output $other")
  }

  /** Adds one kill to the first player row of the last checked output. */
  def selfCheck(): Boolean = lastTables.exists { case Tables(pp, chat) =>
    val r = pp.head.toSeq.toArray
    val kills = pp.head.getSeq[Long](4)
    r(4) = kills.updated(0, kills.head + 1)
    val docs = pp.map(_.getString(0)).toSet ++ chat.map(_.getString(0))
    Check.pipeline(Row.fromSeq(r.toSeq) +: pp.tail, chat, expected.filter { case (d, _) => docs(d) }).nonEmpty
  }

  /** Route counts of `df`, from the in-memory routing frame: what any
    * committed store of it must hold. */
  protected def routeCounts(df: DataFrame): Map[String, Long] =
    TfPipeline.routable(TfPipeline.envelope(df)).groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

}

/** `Route.fingerprint + Route.writeRouted`, then `routedFromStore ->
  * subjectDim -> perPlayer + chat`: the committed-store shape. */
final class Store(spark: SparkSession, seed: Long, work: Path) extends LogWorkload(spark, seed, work, Sizes.storeDocs) {
  private lazy val corpusRoutes = routeCounts(input)

  private def outcome(wall: Double, commit: Double, query: Double, out: Tables, dir: Path,
      res: Route.RouteResult, dim: DataFrame): Outcome =
    Outcome(
      wall, rows, out, commitS = Some(commit), queryS = Some(query), storeBytes = Host.duBytes(dir),
      storeCheck = () =>
        (if (res.resumed) Seq(s"$dir: write resumed instead of committing") else Nil) ++
          (if (res.counts != corpusRoutes) Seq(s"$dir: manifest counts ${res.counts} != corpus $corpusRoutes") else Nil),
      release = () => { dim.unpersist(); Host.deleteTree(dir) }
    )

  def iterate(): Outcome = {
    val dir = freshDir("store")
    val t0 = System.nanoTime()
    val fp = Route.fingerprint(input)
    val res = Route.writeRouted(spark, TfPipeline.routable(TfPipeline.envelope(input)), dir.toString, fp)
    val commit = since(t0)
    val t1 = System.nanoTime()
    val (out, dim) = aggregates(TfPipeline.routedFromStore(spark.read.parquet(s"$dir/data")))
    val query = since(t1)
    outcome(since(t0), commit, query, out, dir, res, dim)
  }

  def traced(t: Tracer): Outcome = {
    val dir = freshDir("store")
    val t0 = System.nanoTime()
    val (out, res, dim, commit, query) = t.span("iteration") {
      t.span("expr.envelope")(force(TfPipeline.envelope(input)))
      t.span("pipeline.routable")(force(TfPipeline.routable(TfPipeline.envelope(input))))
      val c0 = System.nanoTime()
      val fp = t.span("route.fingerprint")(Route.fingerprint(input))
      val res = t.span("route.write_routed") {
        val r = Route.writeRouted(spark, TfPipeline.routable(TfPipeline.envelope(input)), dir.toString, fp)
        t.count("route.files", Host.parquetFiles(dir.resolve("data")).toDouble)
        t.count("route.write_mb", Host.duBytes(dir.resolve("data")) / Sizes.MB)
        r
      }
      val commit = since(c0)
      val q0 = System.nanoTime()
      val routed = TfPipeline.routedFromStore(spark.read.parquet(s"$dir/data"))
      t.span("store.read")(force(routed))
      val (out, dim) = tracedAggregates(t, routed)
      (out, res, dim, commit, since(q0))
    }
    outcome(since(t0), commit, query, out, dir, res, dim)
  }
}

/** The corpus split by doc hash into small batches. One iteration commits
  * the next batch with `StreamIngest.commitBatch`, so fixed per-commit cost
  * and many small files dominate. After the measured loop, the committed
  * store is read back (`readCommitted -> routedFromStore -> perPlayer +
  * chat`) and checked. */
final class Microbatch(spark: SparkSession, seed: Long, work: Path)
    extends LogWorkload(spark, seed, work, Sizes.microDocs) {
  private val storeDir = work.resolve("stream")
  private var next = 0

  /** Batch of every doc: docs in order of a seeded hash of their id, cut
    * into batches of equal doc counts, so that every seed commits the same
    * amount per batch. */
  private val docBatch: Map[String, Int] =
    (0 until Sizes.microDocs).map(d => Check.docKey(d.toLong))
      .sortBy(k => scala.util.hashing.MurmurHash3.stringHash(k, seed.toInt))
      .zipWithIndex.map { case (k, i) => k -> i / Sizes.docsPerBatch }.toMap

  private def docsOf(batches: Int => Boolean): Seq[String] = docBatch.collect { case (k, b) if batches(b) => k }.toSeq

  private lazy val docLineCounts: Map[String, Long] =
    docBatch.keys.map(k => k -> LogGen.docLines(seed, k.stripPrefix("log-").toLong, Sizes.docLines).length.toLong).toMap

  private def commit(dir: Path, b: Int): Outcome = {
    val docs = docsOf(_ == b)
    val lines = docs.map(docLineCounts).sum
    val t0 = System.nanoTime()
    StreamIngest.commitBatch(spark, input.filter(col("doc_id").isin(docs: _*)), dir.toString, b.toLong)
    val s = since(t0)
    Outcome(s, lines, Committed(b), commitS = Some(s))
  }

  /** One commit into a store of its own, then thrown away. */
  override def warmUp(): Seq[Outcome] = {
    val dir = work.resolve("stream-warmup")
    try Seq(commit(dir, 0))
    finally Host.deleteTree(dir)
  }

  override def more: Boolean = next < Sizes.microDocs / Sizes.docsPerBatch
  override def minIterations: Int = 3

  def iterate(): Outcome = {
    require(more, "every batch is already committed")
    next += 1
    commit(storeDir, next - 1)
  }

  /** One more commit, then the read-back one layer at a time. The
    * outcome's wall time is the commit's, comparable to an untraced
    * iteration. */
  def traced(t: Tracer): Outcome = {
    var commitS = Double.NaN
    val (out, dim) = t.span("iteration") {
      if (more) commitS = t.span("streaming.batch")(iterate()).wallS
      val stored = StreamIngest.readCommitted(spark, storeDir.toString)
      t.span("streaming.read_committed") {
        force(stored)
        t.count("streaming.files", Host.parquetFiles(storeDir.resolve("batches")).toDouble)
      }
      val routed = TfPipeline.routedFromStore(stored)
      t.span("store.read")(force(routed))
      tracedAggregates(t, routed)
    }
    Outcome(commitS, 0L, out, release = () => { dim.unpersist(); () })
  }

  override def check(o: Outcome): Seq[String] = o.output match {
    case Committed(_) => Nil
    case t: Tables => checkTables(t, expectedCommitted)
    case other => Seq(s"unexpected output $other")
  }

  private def expectedCommitted: Map[String, Check.Expected] =
    expected.filter { case (d, _) => docBatch.get(d).exists(_ < next) }

  /** Manifest counts per batch against the rows in each committed batch
    * directory; every line committed once; nothing lost or added against
    * the committed batches' own routing. */
  private def exactlyOnce(): Seq[String] = {
    val text = new String(Files.readAllBytes(storeDir.resolve("_STREAM_MANIFEST.json")), StandardCharsets.UTF_8)
    val manifest: Map[(Long, String), Long] = {
      val b = Map.newBuilder[(Long, String), Long]
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(text).elements().forEachRemaining { e =>
        e.get("counts").fields().forEachRemaining(c => b += (e.get("batch").asLong(), c.getKey) -> c.getValue.asLong())
      }
      b.result()
    }
    val stored = StreamIngest.readCommitted(spark, storeDir.toString)
    val landed = stored.groupBy("batch", "route").count().collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1)) -> r.getLong(2)).toMap
    val dups = stored.groupBy("doc_id", "line_no").count().filter(col("count") > 1).count()
    val want = routeCounts(input.filter(col("doc_id").isin(docsOf(_ < next): _*)))
    val got = landed.groupMapReduce(_._1._2)(_._2)(_ + _)
    val batches = (0 until next).map(_.toLong).toSet
    (if (manifest != landed) Seq("manifest counts != committed rows per (batch, route)") else Nil) ++
      (if (manifest.keySet.map(_._1) != batches) Seq(s"manifest batches != the $next committed") else Nil) ++
      (if (dups > 0) Seq(s"$dups (doc_id, line_no) committed more than once") else Nil) ++
      (if (got != want) Seq(s"committed route counts $got != routed batches $want") else Nil)
  }

  /** Checks the committed store, and reads it back to per-player and chat
    * output (timed: `query_s`). */
  override def finish(): (Seq[String], Map[String, Double]) = {
    if (next == 0) return (Seq("no batch committed"), Map.empty)
    val bad = exactlyOnce()
    val t0 = System.nanoTime()
    val (out, dim) = aggregates(TfPipeline.routedFromStore(StreamIngest.readCommitted(spark, storeDir.toString)))
    val query = since(t0)
    dim.unpersist()
    (bad ++ checkTables(out, expectedCommitted),
      Map("query_s" -> query, "store_mb" -> Host.duBytes(storeDir) / Sizes.MB, "batches_committed" -> next.toDouble))
  }
}

/** Planted near-duplicate match logs through `Dedup.shingles ->
  * lshCandidates -> connectedComponents`. Bypasses the parser. */
final class DedupWl(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  private var docs: DataFrame = _
  private var rows = 0L
  private var last: Option[Array[(Long, Long)]] = None

  def setup(): Unit = {
    import spark.implicits._
    val s = seed
    docs = persistCount(
      spark.range(0, Planted.total.toLong, 1, Sizes.dedupPartitions).as[Long]
        .map(id => (id, Planted.doc(s, id).toArray)).toDF("id", "lines"))._1
    rows = docs.select(sum(size(col("lines")))).head().getLong(0)
    sizeShuffle(Planted.total.toLong)
  }

  def release(): Unit = docs.unpersist(blocking = true)

  /** An iteration is short and mostly fixed per-job cost, which gets
    * faster over the first iterations of a JVM: three untimed iterations,
    * then the median of at least five. */
  override def warmUp(): Seq[Outcome] = (0 until 3).map(_ => iterate())
  override def minIterations: Int = 5

  private def shingled: DataFrame = docs.select(col("id"), Dedup.shingles(col("lines"), Sizes.shingleLines).as("sh"))
  private def candidates(sh: DataFrame): DataFrame =
    Dedup.lshCandidates(sh, col("id"), col("sh"), Sizes.minhashK, Sizes.bandSize)
  private def components(pairs: DataFrame): Array[(Long, Long)] =
    Dedup.connectedComponents(pairs, col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))

  def iterate(): Outcome = {
    val t0 = System.nanoTime()
    val cc = components(candidates(shingled))
    Outcome(since(t0), rows, Clusters(cc))
  }

  def traced(t: Tracer): Outcome = {
    val t0 = System.nanoTime()
    val cc = t.span("iteration") {
      val sh = shingled
      t.span("ops.shingle")(force(sh))
      val pairs = candidates(sh)
      t.span("ops.lsh_candidates")(force(pairs))
      t.span("ops.cc")(components(pairs))
    }
    Outcome(since(t0), rows, Clusters(cc))
  }

  /** The candidate pairs, recomputed after the timer (the pipeline is
    * deterministic) for the union-find check. */
  private lazy val pairs: Seq[(Long, Long)] =
    candidates(shingled).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private lazy val planted = Planted.pairs(seed)

  /** Share of planted (source, copy) pairs that `cc` puts in one component. */
  private def recall(cc: Array[(Long, Long)]): Double = {
    val comp = cc.toMap
    planted.count { case (a, b) => comp.contains(a) && comp.get(a) == comp.get(b) }.toDouble / planted.size
  }

  /** The components against union-find over the candidate pairs, and the
    * planted pairs found against [[DedupWl.RecallFloor]]: the union-find
    * check alone passes a candidate step that drops pairs. */
  def check(o: Outcome): Seq[String] = o.output match {
    case Clusters(cc) =>
      last = Some(cc)
      val r = recall(cc)
      Check.components(cc, pairs) ++
        (if (r < DedupWl.RecallFloor) Seq(f"dup_recall $r%.3f below ${DedupWl.RecallFloor}") else Nil)
    case other => Seq(s"unexpected output $other")
  }

  /** Moves the first labelled id into a component of its own. */
  def selfCheck(): Boolean = last.exists { cc =>
    cc.nonEmpty && Check.components((cc.head._1, cc.head._1 + Planted.total) +: cc.tail, pairs).nonEmpty
  }

  override def finish(): (Seq[String], Map[String, Double]) = last match {
    case Some(cc) => (Nil, Map("dup_recall" -> recall(cc), "candidate_pairs" -> pairs.size.toDouble))
    case None => (Seq("no dedup output"), Map.empty)
  }
}

object DedupWl {
  /** Lowest planted-pair recall a correct run may show. LSH can miss a
    * pair: over seeds 1-40 and ten others, 8 of the 50 seeds missed one of
    * the 100 planted pairs and none missed more. The floor allows three. */
  val RecallFloor = 0.97
}

/** The dedup corpus: `dedupBase` generated match logs, then `dedupCopies`
  * near duplicates in chains of `chain`: the first copy of a chain copies a
  * base doc (a seeded choice, a different one per chain), every later copy
  * copies the one before it, each with one to four lines dropped or
  * altered, under a new id. The cluster shapes are the same for every seed;
  * every doc derives from (seed, id) alone. */
object Planted {
  def total: Int = Sizes.dedupBase + Sizes.dedupCopies

  private val chain = 4

  /** The doc that copy `id` was made from. */
  def source(seed: Long, id: Long): Long = {
    val j = (id - Sizes.dedupBase).toInt
    if (j % chain != 0) id - 1
    else {
      val bases = new scala.util.Random(seed).shuffle((0 until Sizes.dedupBase).toVector)
      bases(j / chain).toLong
    }
  }

  def doc(seed: Long, id: Long): Vector[String] =
    if (id < Sizes.dedupBase) LogGen.docLines(seed, id, Sizes.dedupLines)
    else {
      val r = new LogGen.Rng(seed * 0x5851f42d4c957f2dL + id)
      var lines = doc(seed, source(seed, id))
      (0 until 1 + r.nextInt(4)).foreach { _ =>
        val at = r.nextInt(lines.length)
        lines =
          if (r.chance(0.5)) lines.patch(at, Nil, 1)
          else lines.updated(at, lines(at) + s" (edited ${r.nextInt(1000)})")
      }
      lines
    }

  /** (source, copy) for every planted copy. */
  def pairs(seed: Long): Seq[(Long, Long)] =
    (Sizes.dedupBase until total).map(id => (source(seed, id.toLong), id.toLong))
}

/** Corpus sizes, fixed so that every seed gives the same amount of work. */
object Sizes {
  val MB: Double = 1024.0 * 1024.0
  val docLines = 500
  val storeDocs = 32
  val microDocs = 48
  val docsPerBatch = 3
  val dedupBase = 400
  val dedupCopies = 100
  val dedupLines = 300
  val dedupPartitions = 8
  val shingleLines = 3
  val minhashK = 16
  val bandSize = 4
}
