package graft.streaming

import graft.pipeline.{Route, TfPipeline}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Paths

/** Streaming ingestion into the committed route store: the north rule's
  * "checkpoints per snapshot, resumes from the last committed partition"
  * shape, as Structured Streaming + foreachBatch.
  *
  *  - Each micro-batch runs the FULL batch parse->classify->route plan
  *    (window-based recovery logic is legal inside foreachBatch; the
  *    file-per-document source delivers whole documents per batch, which the
  *    per-doc recovery lookahead requires -- documented assumption);
  *  - a batch commits through [[Route]]'s protocol: its rows land under
  *    `batches/batch=<id>/route=<type>/`, its lineage under
  *    `audit/batch=<id>/` (`batch` comes back as a partition column on read),
  *    then snapshot `<id>` (per-route counts, no fingerprint) is appended to
  *    `_STREAM_MANIFEST.json`. Both writes overwrite, so a batch replayed
  *    after a crash before its log entry re-writes rather than duplicates;
  *  - a batch id already in the log is a no-op, and [[readCommitted]] reads
  *    only logged batches: exactly-once into the store. The log holds one
  *    entry per committed batch and is rewritten whole on each commit.
  */
object StreamIngest {

  private def manifest(dir: String) = Paths.get(dir, "_STREAM_MANIFEST.json")

  def committedBatches(dir: String): Set[Long] = Route.snapshots(manifest(dir)).map(_.batch).toSet

  /** Idempotently commit one micro-batch of raw tokenized rows. */
  def commitBatch(spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    if (!committedBatches(dir).contains(batchId)) { // a replayed batch is a no-op
      val routable = TfPipeline.routable(TfPipeline.envelope(batch))
      val counts = Route.writeData(spark, routable, s"$dir/batches/batch=$batchId", s"$dir/audit/batch=$batchId")
      Route.commit(manifest(dir), Route.Snapshot(batchId, None, counts))
    }

  /** Start the ingest stream: tokenized parquet dir -> committed route store.
    * `checkpointDir` carries Spark's own offset log, so a restarted query
    * resumes at the first unprocessed file; replayed batches are dropped by
    * the manifest check (end-to-end exactly-once into the store). */
  def ingest(
      spark: SparkSession,
      inputDir: String,
      storeDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8
  ): StreamingQuery =
    spark.readStream
      .schema(StreamingPipeline.inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch.sparkSession, batch, storeDir, batchId)
      }
      .start()

  /** Read back ONLY committed batches (`batch` and `route` come back as
    * partition columns). */
  def readCommitted(spark: SparkSession, dir: String): DataFrame = {
    val batches = committedBatches(dir).toSeq.sorted
    require(batches.nonEmpty, s"no committed batches under $dir")
    val paths = batches.map(b => s"$dir/batches/batch=$b")
    spark.read.option("basePath", s"$dir/batches").parquet(paths: _*)
  }
}
