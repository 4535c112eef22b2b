package graft

import graft.expr.BoundedCollect
import graft.loggen.LogGen
import graft.ops.Dedup
import graft.pipeline.{Route, TfPipeline}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, GenerateExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** The physical shapes the scale-critical plans promise, asserted on AQE's
  * final plan. Each plan is forced through the noop sink and its operators
  * are counted the way perfbench's trace counts them: `collectWithSubqueries`
  * over the executed plan of that write. A persisted input shows up only as
  * an `InMemoryTableScan`, so the exchanges inside it are not counted. Every
  * failure message carries the formatted plan.
  *
  * The sf queries read the sf0.001 tables of TESTDATA.md; the pipeline
  * shapes run on a LogGen corpus of 40 docs x 300 lines, over the store
  * also with one hard-error doc added.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("plan-shape")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** The executed plan of one noop-sink write. */
  final class Executed(qe: QueryExecution) {
    val plan: SparkPlan = qe.executedPlan
    def explain: String = qe.explainString(ExplainMode.fromString("formatted"))
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = collectWithSubqueries(plan)(pf)
    def shuffles: Seq[ShuffleExchangeExec] = all { case e: ShuffleExchangeExec => e }
    def broadcasts: Seq[BroadcastExchangeExec] = all { case e: BroadcastExchangeExec => e }
    def scans: Seq[FileSourceScanExec] = all { case s: FileSourceScanExec => s }
    def windows: Seq[WindowExec] = all { case w: WindowExec => w }
    def count[T <: SparkPlan](implicit m: scala.reflect.ClassTag[T]): Int =
      all { case p if m.runtimeClass.isInstance(p) => p }.size
    /** Partial bounded_collect aggregates: one per capped-bucket aggregate. */
    def boundedCollects: Seq[BaseAggregateExec] = all {
      case a: BaseAggregateExec if isBoundedCollect(a) && a.aggregateExpressions.forall(_.mode == Partial) => a
    }
    def check(cond: Boolean, what: String): Unit = assert(cond, s"$what; plan:\n$explain")
  }

  private def isBoundedCollect(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[BoundedCollect])
    case _ => false
  }

  /** (action name, query execution) of every action heard while `body`
    * runs, up to the first that `last` accepts. The listener bus is
    * asynchronous: an action run before `body` can still be queued ahead. */
  private def actions(last: (String, QueryExecution) => Boolean)(body: => Unit): Seq[(String, QueryExecution)] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val heard = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = heard.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    classic.listenerManager.register(listener)
    try {
      body
      val out = Seq.newBuilder[(String, QueryExecution)]
      var done = false
      while (!done) {
        val a = heard.poll(60, TimeUnit.SECONDS)
        assert(a != null, "the last action was not heard within 60 s")
        out += a
        done = last(a._1, a._2)
      }
      out.result()
    } finally classic.listenerManager.unregister(listener)
  }

  private def run(df: DataFrame): Executed =
    new Executed(actions((_, qe) => qe.logical.exists(_.isInstanceOf[OverwriteByExpression]))(Bench.force(df)).last._2)

  private def query(name: String): Executed = run(SparkEntry.queries(name)(spark, sfDir))

  /** (shuffle, broadcast) exchanges of the plan as planned, before AQE has
    * seen any runtime statistics. */
  private def planned(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.executedPlan
    (collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }.size,
      collectWithSubqueries(p) { case e: BroadcastExchangeExec => e }.size)
  }

  test("q1_agg: the scan reads only the four aggregated columns and has no filter to push") {
    spark.sparkContext.setLogLevel("WARN")
    val e = query("q1_agg")
    e.check(e.scans.size == 1, "one lineitem scan")
    val scan = e.scans.head
    e.check(
      scan.requiredSchema.fieldNames.toSet == Set("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"),
      s"ReadSchema prunes to the aggregated columns, got ${scan.requiredSchema.fieldNames.mkString(",")}")
    e.check(scan.requiredSchema.size < scan.relation.schema.size, "ReadSchema is narrower than the table")
    e.check(scan.dataFilters.isEmpty, "q1_agg has no predicate, so PushedFilters is empty")
    e.check(e.shuffles.size == 1, "one exchange between the partial and the final aggregate")
  }

  test("q_broadcast_join: part joins by broadcast hash join") {
    val e = query("q_broadcast_join")
    e.check(e.count[BroadcastHashJoinExec] == 1 && e.broadcasts.size == 1, "one broadcast hash join")
    e.check(e.count[SortMergeJoinExec] == 0, "no sort-merge join")
  }

  test("q_decontam: the eval gram set broadcasts; the train side is map-only up to the per-doc aggregate") {
    val e = query("q_decontam")
    val joins = e.all { case j: BroadcastHashJoinExec => j }
    e.check(joins.size == 1 && e.broadcasts.size == 1, "one broadcast hash join of the eval gram set")
    val train = if (joins.head.buildSide == BuildRight) joins.head.left else joins.head.right
    e.check(collect(train) { case x: Exchange => x }.isEmpty, "no exchange on the train side")
    e.check(e.count[SortMergeJoinExec] == 0, "no sort-merge join")
    e.check(e.shuffles.size == 2, s"the eval-set distinct and the per-doc aggregate, got ${e.shuffles.size}")
  }

  private def checkPairsFromOneAggregate(e: Executed): Unit = {
    e.check(e.boundedCollects.size == 1, "one bounded_collect bucket aggregate")
    e.check(e.scans.size == 1, "one scan subtree: pairs come from the bucket arrays, not a self-join")
    e.check(e.windows.isEmpty, "no Window")
    e.check(e.count[SortMergeJoinExec] == 0, "no SortMergeJoin")
  }

  test("q_ngram_jaccard: one bounded_collect df-cap aggregate over one scan, no Window or self-join") {
    checkPairsFromOneAggregate(query("q_ngram_jaccard"))
  }

  test("lshCandidates (fast): one bounded_collect bucket aggregate over one scan, no Window or self-join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    checkPairsFromOneAggregate(run(Dedup.lshCandidates(docs, col("doc_id"), col("sh"), 8, 2)))
  }

  test("tf_ann_lsh: one bounded_collect aggregate caps the buckets") {
    val e = query("tf_ann_lsh")
    e.check(e.boundedCollects.size == 1, "one bounded_collect bucket aggregate")
    e.check(e.count[SortMergeJoinExec] == 0, "no sort-merge join")
  }

  test("q_sample_stratified: a filter over the scan, no exchange") {
    val e = query("q_sample_stratified")
    e.check(e.shuffles.isEmpty && e.broadcasts.isEmpty, "no exchange")
    e.check(e.scans.size == 1 && e.scans.head.dataFilters.nonEmpty, "the sample is a filter on the one scan")
  }

  test("q_repetition: map-side only, no exchange") {
    val e = query("q_repetition")
    e.check(e.shuffles.isEmpty && e.broadcasts.isEmpty, "no exchange")
    e.check(e.count[GenerateExec] == 0, "no explode: the top-bigram count is a sorted-run fold")
  }

  test("q_pack_chunks: exactly one hash exchange and one Window, no global order") {
    val e = query("q_pack_chunks")
    e.check(e.shuffles.size == 1 && e.shuffles.head.outputPartitioning.isInstanceOf[HashPartitioning],
      "one hash-partition exchange on shard")
    e.check(e.windows.size == 1, "one per-shard Window")
  }

  test("q_quality_cut: histogram windows per source, one corpus window per (source, score)") {
    // two passes over the corpus: the (stratum, score) histogram, and the
    // survivors of the broadcast kept-groups join
    val e = query("q_quality_cut")
    e.check(e.scans.size == 2, "two scans")
    e.check(e.count[BroadcastHashJoinExec] == 1 && e.broadcasts.size == 1, "kept groups join by broadcast")
    val arity = e.windows.map(_.partitionSpec.size).sorted
    e.check(arity == Seq(1, 1, 2), s"windows by stratum (x2) and by (stratum, score), got $arity")
    e.windows.filter(_.partitionSpec.size == 1).foreach { w =>
      e.check(collect(w) { case a: BaseAggregateExec => a }.nonEmpty, "a per-stratum window runs over the histogram")
    }
    e.check(e.shuffles.size == 3, s"histogram, per-stratum window and survivor window exchanges, got ${e.shuffles.size}")
  }

  test("bucketPairs cap > 2048: a REPARTITION_BY_NUM exchange ahead of the pair explode") {
    val ids = spark.range(0, 3000).select(lit("hot").as("k"), col("id"))
    val buckets = ids.groupBy("k")
      .agg(BoundedCollect.bounded_collect(col("id"), 10000).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
    val e = run(Dedup.bucketPairs(buckets, directed = false, cap = 10000))
    def byNum(p: SparkPlan) = collect(p) { case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM => s }
    e.check(byNum(e.plan).size == 1, "one user-numbered repartition of the chunk-pair rows")
    e.check(e.all { case g: GenerateExec => g }.exists(g => byNum(g).nonEmpty), "the pair explode runs after it")
  }

  /** The IVF candidate shape: cell assignment is a map-side kernel pass,
    * the capped cell table broadcasts, no centroid cross join. */
  private def checkIvfCells(e: Executed): Unit = {
    e.check(e.boundedCollects.size == 1, "one bounded_collect cell aggregate")
    e.check(collect(e.boundedCollects.head) { case x: Exchange => x }.isEmpty, "no exchange before cell assignment")
    e.check(e.broadcasts.exists(b => find(b)(isBoundedCollect).isDefined), "the capped cell table broadcasts")
    e.check(e.count[BroadcastNestedLoopJoinExec] == 0, "no BroadcastNestedLoopJoin for centroid assignment")
  }

  test("tf_ann_ivf: broadcast cell table, no exchange before cell assignment") {
    checkIvfCells(query("tf_ann_ivf"))
  }

  test("q_embed_neardup_ann: broadcast cell table, no exchange before cell assignment") {
    checkIvfCells(query("q_embed_neardup_ann"))
  }

  test("connectedComponents: two hash exchanges per round, none in the probes or the labels") {
    import spark.implicits._
    // a path 1..8 in mixed orientation, a triangle with a duplicate edge and
    // a self pair, and a star whose centre is not its minimum
    val pairs = (Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (6L, 7L), (8L, 7L),
      (10L, 11L), (11L, 12L), (12L, 10L), (10L, 11L), (12L, 12L)) ++ (20L to 25L).map(l => (l, 22L)))
      .toDF("id_a", "id_b")
    val heard = actions((name, _) => name == "collect") {
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b")).collect()
    }
    heard.foreach { case (name, qe) =>
      val e = new Executed(qe)
      val hash = e.shuffles.count(_.outputPartitioning.isInstanceOf[HashPartitioning])
      if (name == "localCheckpoint") e.check(hash <= 2, s"a round materializes through at most 2 hash exchanges, got $hash")
      else e.check(e.shuffles.isEmpty, s"no exchange in $name, got ${e.shuffles.size}")
    }
    // three star rounds: a node aggregate and a probe before each, and one
    // after the last
    val names = heard.map(_._1)
    assert(names == Seq.fill(4)(Seq("localCheckpoint", "isEmpty")).flatten :+ "collect", s"actions run: $names")
  }

  test("recovery: routed and routable each plan one exchange, two windows and one sort") {
    // the recovery step's running window and, on the same doc order, the
    // whole-doc abort window (routed) or the one-line-late hard-error lead
    // (routable)
    val env = TfPipeline.envelope(LogGen.generate(spark, 40, 300, 42L).toDF())
    for ((name, df) <- Seq("routed" -> TfPipeline.routed(env), "routable" -> TfPipeline.routable(env))) {
      val e = run(df)
      e.check(e.shuffles.size == 1, s"$name: one exchange, got ${e.shuffles.size}")
      e.check(e.windows.size == 2, s"$name: two WindowExec, got ${e.windows.size}")
      e.check(e.count[SortExec] == 1, s"$name: both windows share one sort, got ${e.count[SortExec]}")
    }
  }

  test("pipeline assembly: no shuffle over the persisted hub; pinned exchange counts over the store") {
    val input = LogGen.generate(spark, 40, 300, 42L).toDF()

    val routed = TfPipeline.routed(TfPipeline.envelope(input)).persist()
    val dim = TfPipeline.subjectDim(routed).persist()
    dim.count()
    try {
      // the cached hub keeps the classify window's doc_id partitioning and
      // line order: the assembly is one per-doc fold over it, with no
      // exchange, window or aggregate (the dim is not read); the dim is a
      // fold of the intern alone, with no exchange or aggregate either
      val assembled = run(TfPipeline.perPlayerAssembled(routed, dim))
      assembled.check(assembled.shuffles.isEmpty && assembled.broadcasts.isEmpty, "hub assembly: 0 shuffles, 0 broadcasts")
      assembled.check(assembled.windows.isEmpty, "hub assembly: no Window")
      assembled.check(assembled.count[BaseAggregateExec] == 0,
        s"hub assembly: no aggregate, got ${assembled.count[BaseAggregateExec]}")
      val dimPlan = run(TfPipeline.subjectDim(routed))
      dimPlan.check(dimPlan.shuffles.isEmpty && dimPlan.count[BaseAggregateExec] == 0, "hub dim: no exchange, no aggregate")
      // chat is one per-doc pass over the hub: no exchange, join or aggregate
      val chat = run(TfPipeline.chat(routed, dim))
      chat.check(chat.shuffles.isEmpty && chat.broadcasts.isEmpty, "hub chat: 0 shuffles, 0 broadcasts")
      chat.check(chat.count[BaseJoinExec] == 0 && chat.count[BaseAggregateExec] == 0, "hub chat: no join, no aggregate")
    } finally { dim.unpersist(blocking = true); routed.unpersist(blocking = true) }

    // The store scan reads the `__error` partition with the handled ones,
    // and the aborted-doc window shares the `start_ts` window's doc_id
    // exchange: the assembly and chat each plan that one exchange and no
    // broadcast, with or without a hard-error doc in the store.
    storeCounts(input, assembly = ((1, 0), (1, 0)), chat = ((1, 0), (1, 0)))
    storeCounts(input.unionByName(hardErrorDoc), assembly = ((1, 0), (1, 0)), chat = ((1, 0), (1, 0)))
  }

  /** One doc whose truncated kill line is followed within 60 s by another
    * line: a hard error, so the doc lands in the `__error` route. */
  private def hardErrorDoc: DataFrame = {
    import spark.implicits._
    val p = """"A<2><[U:1:100]><Red>""""
    Seq(
      s"""04/11/2021 - 10:00:00: $p spawned as "Scout"""",
      s"""04/11/2021 - 10:00:05: $p killed ${'"'}B<3><[U:1:200]><Blue""",
      s"""04/11/2021 - 10:00:10: $p spawned as "Medic""""
    ).zipWithIndex.map { case (l, i) =>
      val t = LogGen.tokenize(l)
      graft.loggen.SeqRow("doc-error", i.toLong, "src-0", t, t.length)
    }.toDF()
  }

  /** Writes `input` to a route store and pins the (shuffle, broadcast)
    * exchanges of the assembly and of chat over it: as planned, then in
    * AQE's final plan. */
  private def storeCounts(input: DataFrame, assembly: ((Int, Int), (Int, Int)), chat: ((Int, Int), (Int, Int))): Unit = {
    val dir = Files.createTempDirectory("graft-plan-shape").toString
    try {
      Route.writeRouted(spark, TfPipeline.routable(TfPipeline.envelope(input)), dir, Route.fingerprint(input))
      val stored = TfPipeline.routedFromStore(spark.read.parquet(s"$dir/data"))
      val sdim = TfPipeline.subjectDim(stored).persist()
      sdim.count()
      try {
        for ((name, df, (planShape, finalShape)) <- Seq(
            ("assembly", TfPipeline.perPlayerAssembled(stored, sdim), assembly),
            ("chat", TfPipeline.chat(stored, sdim), chat))) {
          assert(planned(df) == planShape, s"store $name as planned")
          val e = run(df)
          e.check((e.shuffles.size, e.broadcasts.size) == finalShape,
            s"store $name: $finalShape (shuffles, broadcasts), got ${(e.shuffles.size, e.broadcasts.size)}")
          e.check(e.count[SortExec] == 1, s"store $name: both store windows and the fold share one sort")
          e.check(
            e.scans.nonEmpty && e.scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "route"))),
            "every store scan is pruned by a route partition filter")
        }
      } finally { sdim.unpersist(blocking = true); () }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
