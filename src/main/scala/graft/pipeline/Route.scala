package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Fan-out routing sinks (SURVEY.md S6) and the route store's one commit
  * protocol, a snapshot log standing in for Iceberg (no Iceberg jar offline --
  * SURVEY.md §7). A store is a log of committed snapshots; both entry points,
  * [[writeRouted]] and `StreamIngest.commitBatch`, commit through it:
  *
  *  1. [[writeData]] writes route-partitioned parquet (`<data>/route=<event_type>/`,
  *     partition pruning on read = the reference's does_handle masks), then
  *     one aggregate over what landed gives the audit rows (route, rows, docs,
  *     min_line, max_line, content_hash) that it writes to `<audit>/` and
  *     returns as per-route counts. The aggregate reads back exactly the
  *     files the write landed ([[landed]]): one recursive `FileSystem`
  *     listing on the driver, O(route dirs + files of one snapshot) calls
  *     and no Spark job, and the written schema, so nothing is inferred and
  *     an empty write commits an empty snapshot;
  *  2. [[commit]] appends a [[Snapshot]] to the log, a JSON array of
  *     `{"batch", "fingerprint"?, "counts": {route: rows}, "committed_at_ms"}`
  *     entries, by writing `<log>.tmp` and atomically renaming it over the
  *     log. The rename is the commit point: readers trust only logged
  *     snapshots, and a log that does not parse throws.
  *
  * `writeRouted(dir)` keeps `data/`, `audit/` and a one-entry
  * `_MANIFEST.json` (batch 0 plus the input fingerprint). It deletes that log
  * before the overwrite, so no step leaves an old snapshot over rows Spark
  * has already deleted. What a crash leaves behind, by step:
  *  - in the data or audit write: partial files and no log entry -- not
  *    visible, and the retry overwrites them;
  *  - before the rename: a stale `<log>.tmp` beside the intact log, which
  *    the next commit overwrites;
  *  - after the rename: a committed snapshot; retrying the same fingerprint
  *    (or batch id) is a no-op.
  *
  * Bound: one log entry per committed batch, and each commit reads and
  * rewrites the whole log, O(batches) bytes per commit.
  */
object Route {

  final case class RouteResult(counts: Map[String, Long], resumed: Boolean)

  /** One entry of a snapshot log. */
  final case class Snapshot(
      batch: Long,
      fingerprint: Option[String],
      counts: Map[String, Long],
      committedAtMs: Long = System.currentTimeMillis()
  )

  def manifestPath(dir: String): Path = Paths.get(dir, "_MANIFEST.json")

  /** Stable fingerprint of an input frame: count + xor/sum of row hashes.
    * Order-independent, cheap, and scale-out friendly (one pass). */
  def fingerprint(input: DataFrame): String = {
    val row = input
      .select(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(doc_id, line_no, tokens))"), lit(0L)).as("h")
      )
      .head()
    s"${row.getLong(0)}-${java.lang.Long.toHexString(row.getLong(1))}"
  }

  /** Commit `routable` as the store's only snapshot, or resume as a no-op
    * when the log already holds `fp`. */
  def writeRouted(
      spark: SparkSession,
      routable: DataFrame,
      dir: String,
      fp: String
  ): RouteResult = {
    val log = manifestPath(dir)
    snapshots(log).find(_.fingerprint.contains(fp)) match {
      case Some(s) => RouteResult(s.counts, resumed = true)
      case None =>
        // before the overwrite deletes the rows the old snapshot describes
        Files.deleteIfExists(log)
        // cluster by route before the partitioned write: without it every
        // (doc-partitioned) task opens a file per route it sees -- tasks x ~45
        // routes of tiny files, and the commit protocol dominates wall time.
        // REBALANCE is the AQE-aware form: route-pure output partitions, sized
        // to the advisory target, with skewed routes (damage/kill at scale)
        // split across several files instead of one straggler writer.
        val counts = writeData(spark, routable.hint("rebalance", col("route")), s"$dir/data", s"$dir/audit")
        commit(log, Snapshot(0, Some(fp), counts))
        RouteResult(counts, resumed = false)
    }
  }

  /** Overwrite `dataDir` with `routable` partitioned by route, and `auditDir`
    * with the per-route lineage of what landed; returns rows per route. */
  def writeData(spark: SparkSession, routable: DataFrame, dataDir: String, auditDir: String): Map[String, Long] = {
    routable.write.mode("overwrite").partitionBy("route").parquet(dataDir)
    val audit = auditOf(landed(spark, dataDir, routable.schema))
    val rows = audit.collect()
    spark.createDataFrame(rows.toSeq.asJava, audit.schema).coalesce(1).write.mode("overwrite").parquet(auditDir)
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The audit rows of route-partitioned data, one per route. */
  private[graft] def auditOf(data: DataFrame): DataFrame =
    data
      .groupBy(col("route"))
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(col("doc_id")).as("docs"),
        min(col("line_no")).as("min_line"),
        max(col("line_no")).as("max_line"),
        expr("bit_xor(xxhash64(doc_id, line_no, tokens))").as("content_hash")
      )

  private val routeSchema = StructType(Seq(StructField("route", StringType)))

  /** The parquet files under `dataDir`, read as `written` partitioned by
    * `route`, without Spark's listing job or schema-inference job: one
    * recursive `FileSystem.listFiles` on the driver, keeping each file none
    * of whose names below `dataDir` Spark's own listing would skip
    * (`_SUCCESS`, `.crc`, `_temporary/...`). The data schema is `written`
    * without `route`, nullable, as parquet stores it. */
  private[graft] def landed(spark: SparkSession, dataDir: String, written: StructType): DataFrame = {
    val dir = new HPath(dataDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(dir)
    val files = mutable.ArrayBuffer.empty[FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val below = Iterator.iterate(f.getPath)(_.getParent).take(f.getPath.depth - root.depth)
      if (!below.exists(p => GraftBridge.hiddenName(p.getName))) files += f
    }
    val data = StructType(written.filterNot(_.name == "route")).toNullable
    val index = new KnownFiles(spark, root, files.toSeq)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, routeSchema, data, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** A file index over a known file list under `root`, partition values
    * parsed from the directory names (the pattern of Spark's log-backed
    * `MetadataLogFileIndex`): it never lists. */
  private final class KnownFiles(spark: SparkSession, root: HPath, files: Seq[FileStatus])
      extends PartitioningAwareFileIndex(spark, Map.empty, Some(routeSchema)) {
    override val rootPaths: Seq[HPath] = Seq(root)
    override val leafFiles: mutable.LinkedHashMap[HPath, FileStatus] = mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))
    override val leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] = files.toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def refresh(): Unit = ()
  }

  private val json = new ObjectMapper()

  /** The snapshots in `log`, oldest first; none when there is no log. */
  def snapshots(log: Path): Seq[Snapshot] =
    if (!Files.exists(log)) Nil
    else {
      val entries = json.readTree(log.toFile)
      require(entries.isArray, s"$log is not a snapshot log")
      entries.elements().asScala.map { e =>
        Snapshot(
          e.required("batch").asLong(),
          Option(e.get("fingerprint")).map(_.asText()),
          e.required("counts").properties().asScala.map(c => c.getKey -> c.getValue.asLong()).toMap,
          e.required("committed_at_ms").asLong()
        )
      }.toSeq
    }

  /** Append `snapshot` to `log`: the commit point. */
  def commit(log: Path, snapshot: Snapshot): Unit = {
    val entries = json.createArrayNode()
    (snapshots(log) :+ snapshot).foreach { s =>
      val e = entries.addObject().put("batch", s.batch)
      s.fingerprint.foreach(e.put("fingerprint", _))
      val counts = e.putObject("counts")
      s.counts.toSeq.sorted.foreach { case (route, rows) => counts.put(route, rows) }
      e.put("committed_at_ms", s.committedAtMs)
    }
    val tmp = log.resolveSibling(s"${log.getFileName}.tmp")
    json.writeValue(tmp.toFile, entries)
    Files.move(tmp, log, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
