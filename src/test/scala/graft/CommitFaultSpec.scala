package graft

import graft.loggen.LogGen
import graft.pipeline.{Route, TfPipeline}
import graft.streaming.StreamIngest
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Spark's own file committer, except that `commitJob` throws for every
  * output path that [[FailingCommitProtocol.failOn]] accepts. By then the
  * tasks have written their files and an overwrite has already cleared the
  * target: the worst moment for a crash. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (FailingCommitProtocol.failOn(path)) throw new java.io.IOException(s"injected commit failure: $path")
    super.commitJob(jobContext, taskCommits)
  }
}

object FailingCommitProtocol {
  @volatile var failOn: String => Boolean = _ => false
}

/** The route store's commit protocol under a crash at each step, through
  * both entry points (`Route.writeRouted`, `StreamIngest.commitBatch`). */
class CommitFaultSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("commit-fault")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val input = LogGen.generate(spark, 4, 200, 42L).toDF().cache()
  private def docs(ds: Int*) = input.filter(col("doc_id").isin(ds.map(d => f"log-$d%06d"): _*))
  private lazy val batch0 = docs(0, 1)
  private lazy val batch1 = docs(2, 3)

  private def routable(df: DataFrame) = TfPipeline.routable(TfPipeline.envelope(df))
  private def routeCounts(df: DataFrame) =
    routable(df).groupBy("route").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString
  private def streamLog(dir: String) = Paths.get(dir, "_STREAM_MANIFEST.json")

  /** Run `body`, which must fail, with every write whose output path ends in
    * `suffix` crashing in its job commit. */
  private def crashingIn(suffix: String)(body: => Any): Unit = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.failOn = _.endsWith(suffix)
    try {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("injected commit failure")), e)
    } finally {
      FailingCommitProtocol.failOn = _ => false
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** `stored` holds as many rows as `expected`, each (doc_id, line_no) once. */
  private def assertExactlyOnce(stored: DataFrame, expected: DataFrame): Unit = {
    val n = expected.count()
    assert(stored.count() == n)
    assert(stored.select("doc_id", "line_no").distinct().count() == n)
  }

  for (step <- Seq("data", "audit"))
    test(s"writeRouted: a crash in the $step write leaves no stale snapshot to resume") {
      spark.sparkContext.setLogLevel("WARN")
      val dir = tmpDir("graft-fault-route")
      val fp0 = Route.fingerprint(batch0)
      assert(!Route.writeRouted(spark, routable(batch0), dir, fp0).resumed)

      // overwrite with another input, dying after Spark has deleted batch0's rows
      crashingIn(s"/$step")(Route.writeRouted(spark, routable(batch1), dir, Route.fingerprint(batch1)))

      val again = Route.writeRouted(spark, routable(batch0), dir, fp0)
      assert(!again.resumed, "resumed a snapshot whose rows the crashed overwrite replaced")
      assert(again.counts == routeCounts(batch0))
      assertExactlyOnce(spark.read.parquet(s"$dir/data"), batch0)
      assert(spark.read.parquet(s"$dir/audit").agg(sum("rows")).head().getLong(0) == batch0.count())
    }

  for (step <- Seq("batches", "audit"))
    test(s"commitBatch: a crash in the $step write leaves the batch uncommitted; re-commit lands it once") {
      spark.sparkContext.setLogLevel("WARN")
      val dir = tmpDir("graft-fault-stream")
      StreamIngest.commitBatch(spark, batch0, dir, 0)

      crashingIn(s"/$step/batch=1")(StreamIngest.commitBatch(spark, batch1, dir, 1))
      assert(StreamIngest.committedBatches(dir) == Set(0L))
      assertExactlyOnce(StreamIngest.readCommitted(spark, dir), batch0)

      StreamIngest.commitBatch(spark, batch1, dir, 1)
      assert(StreamIngest.committedBatches(dir) == Set(0L, 1L))
      val stored = StreamIngest.readCommitted(spark, dir)
      assertExactlyOnce(stored, input)
      assertExactlyOnce(stored.filter(col("batch") === 1), batch1)
      val audit = spark.read.parquet(s"$dir/audit")
      assert(audit.filter(col("batch") === 1).agg(sum("rows")).head().getLong(0) == batch1.count())
    }

  test("a leftover .tmp log beside a valid log is ignored, and the next commit succeeds") {
    spark.sparkContext.setLogLevel("WARN")
    val junk = """[{"batch":7,"cou""".getBytes(StandardCharsets.UTF_8)

    val dir = tmpDir("graft-fault-tmp-stream")
    StreamIngest.commitBatch(spark, batch0, dir, 0)
    val streamTmp = Paths.get(dir, "_STREAM_MANIFEST.json.tmp")
    Files.write(streamTmp, junk)
    assert(StreamIngest.committedBatches(dir) == Set(0L))
    StreamIngest.commitBatch(spark, batch1, dir, 1)
    assert(StreamIngest.committedBatches(dir) == Set(0L, 1L))
    assert(!Files.exists(streamTmp))
    assertExactlyOnce(StreamIngest.readCommitted(spark, dir), input)

    val rdir = tmpDir("graft-fault-tmp-route")
    val fp = Route.fingerprint(batch0)
    Route.writeRouted(spark, routable(batch0), rdir, fp)
    Files.write(Paths.get(rdir, "_MANIFEST.json.tmp"), junk)
    assert(Route.writeRouted(spark, routable(batch0), rdir, fp).resumed)
    assert(!Route.writeRouted(spark, routable(batch1), rdir, Route.fingerprint(batch1)).resumed)
    assertExactlyOnce(spark.read.parquet(s"$rdir/data"), batch1)
  }

  test("a replayed batch id is a no-op") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-fault-replay")
    StreamIngest.commitBatch(spark, batch0, dir, 0)
    val log = Files.readAllBytes(streamLog(dir)).toSeq
    StreamIngest.commitBatch(spark, batch1, dir, 0)
    assert(Files.readAllBytes(streamLog(dir)).toSeq == log)
    assertExactlyOnce(StreamIngest.readCommitted(spark, dir), batch0)
  }

  test("a truncated log makes the reader throw instead of returning a partial set") {
    spark.sparkContext.setLogLevel("WARN")
    val truncated = """[{"batch":0,"counts":{"healed":3},"committed_at_ms":1},{"batch":1,"cou"""
    val dir = tmpDir("graft-fault-truncated")
    Files.write(streamLog(dir), truncated.getBytes(StandardCharsets.UTF_8))
    intercept[Exception](StreamIngest.committedBatches(dir))
    intercept[Exception](StreamIngest.readCommitted(spark, dir))
    intercept[Exception](StreamIngest.commitBatch(spark, batch1, dir, 2))
    assert(new String(Files.readAllBytes(streamLog(dir)), StandardCharsets.UTF_8) == truncated)

    val rdir = tmpDir("graft-fault-truncated-route")
    Files.write(Route.manifestPath(rdir), truncated.getBytes(StandardCharsets.UTF_8))
    intercept[Exception](Route.writeRouted(spark, routable(batch0), rdir, Route.fingerprint(batch0)))
  }
}
