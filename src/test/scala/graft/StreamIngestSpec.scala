package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming ingestion into the committed route store: per-batch atomic
  * commits, replay idempotence, checkpoint resume, and aggregate parity with
  * the direct batch path. */
class StreamIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("stream-ingest")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("stream -> store: exactly-once commits, resume no-op, batch parity") {
    spark.sparkContext.setLogLevel("WARN")
    val inputDir = Files.createTempDirectory("graft-stream-in").toString
    val storeDir = Files.createTempDirectory("graft-stream-store").toString
    val ckptDir = Files.createTempDirectory("graft-stream-ckpt").toString

    // one parquet file per document (doc-boundary assumption of the recovery
    // logic: a doc's lines arrive in one micro-batch)
    val nDocs = 4
    val full = LogGen.generate(spark, nDocs, 300, 42L).toDF().cache()
    for (d <- 0 until nDocs)
      full.filter(col("doc_id") === f"log-$d%06d").coalesce(1)
        .write.mode("append").parquet(inputDir)

    val q = StreamIngest.ingest(spark, inputDir, storeDir, ckptDir, maxFilesPerTrigger = 2)
    q.awaitTermination()
    val committed1 = StreamIngest.committedBatches(storeDir)
    assert(committed1.nonEmpty, "at least one committed batch")

    // per-route counts must equal the direct batch routable
    val stored = StreamIngest.readCommitted(spark, storeDir)
    val gotCounts = stored.groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expCounts = TfPipeline.routable(TfPipeline.envelope(full))
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotCounts == expCounts, "streamed store route counts != batch routable")

    // replayed batch id is a no-op (idempotent commit)
    val anyBatch = committed1.min
    StreamIngest.commitBatch(spark, full.limit(50), storeDir, anyBatch)
    val after = StreamIngest.readCommitted(spark, storeDir).count()
    assert(after == stored.count(), "replayed batch must not duplicate rows")

    // restart with the same checkpoint: no new data -> no new commits
    val q2 = StreamIngest.ingest(spark, inputDir, storeDir, ckptDir, maxFilesPerTrigger = 2)
    q2.awaitTermination()
    assert(StreamIngest.committedBatches(storeDir) == committed1, "resume must be a no-op")

    // aggregate parity: per-player output from the streamed store equals the
    // direct batch pipeline
    val routedStore = TfPipeline.routedFromStore(StreamIngest.readCommitted(spark, storeDir))
    val routedDirect = TfPipeline.routed(TfPipeline.envelope(full))
    def pp(r: org.apache.spark.sql.DataFrame): Seq[String] = {
      val dim = TfPipeline.subjectDim(r)
      TfPipeline.perPlayer(r, dim)
        .withColumn("heal_entries", map_entries(col("heals"))).drop("heals")
        .collect().map(_.toString).sorted.toSeq
    }
    assert(pp(routedStore) == pp(routedDirect), "streamed-store aggregates diverge")

    // audit lineage rows exist for every committed batch
    val audit = spark.read.parquet(s"$storeDir/audit")
    assert(audit.select("batch").distinct().count() == committed1.size.toLong)
    full.unpersist()
  }
}
