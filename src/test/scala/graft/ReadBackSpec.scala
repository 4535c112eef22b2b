package graft

import graft.loggen.LogGen
import graft.pipeline.{Route, TfPipeline}
import graft.streaming.StreamIngest
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The commit's read-back (`Route.landed`): it reads exactly the files the
  * data write landed, with the written schema, and starts no Spark job of its
  * own -- neither the parallel listing job Spark runs past 32 directories nor
  * the parquet schema-inference job. */
class ReadBackSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("read-back")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One started job: its description and whether it ran inside an SQL
    * query. Spark's listing job carries a "Listing leaf files ..."
    * description; its parquet schema inference runs, like the listing, while
    * the reader resolves the relation, before any query exists. */
  final case class Job(description: String, inQuery: Boolean) {
    def listing: Boolean = description.startsWith("Listing leaf files and directories")
    def inference: Boolean = !inQuery && !listing
  }

  /** The jobs that `body` starts. */
  private def jobsOf(body: => Any): Seq[Job] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val p = Option(e.properties)
        jobs += Job(
          p.flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse(""),
          p.exists(_.getProperty("spark.sql.execution.id") != null)
        )
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.synchronized(jobs.toList)
  }

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString
  private def routable(df: DataFrame) = TfPipeline.routable(TfPipeline.envelope(df))
  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted
  private def routeDirs(dataDir: String): Int =
    Option(new File(dataDir).list()).getOrElse(Array.empty[String]).count(_.startsWith("route="))

  test("the commit's read-back starts no listing job and no schema-inference job past Spark's 32-directory threshold") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-readback")
    val (dataDir, auditDir) = (s"$dir/data", s"$dir/audit")
    val input = routable(LogGen.generate(spark, 40, 500, 1L).toDF()).cache()

    val jobs = jobsOf(Route.writeData(spark, input, dataDir, auditDir))
    assert(routeDirs(dataDir) >= 33, "the commit must land more route directories than Spark lists serially")
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.listing), jobs)
    assert(!jobs.exists(_.inference), jobs)

    // the same directory read the plain way does start both: the checks above
    // are not vacuous
    val plain = jobsOf(spark.read.parquet(dataDir))
    assert(plain.count(_.listing) == 1 && plain.count(_.inference) == 1, plain)

    // the read-back equals the plain read, schema and rows, and so does the
    // audit written from it
    val back = Route.landed(spark, dataDir, input.schema)
    val read = spark.read.parquet(dataDir)
    assert(back.schema == read.schema)
    assert(rows(back) == rows(read))
    assert(rows(spark.read.parquet(auditDir)) == rows(Route.auditOf(read)))
    assert(back.count() == input.count())
    input.unpersist()
  }

  test("the read-back skips _SUCCESS, .crc and _temporary files") {
    spark.sparkContext.setLogLevel("WARN")
    val dataDir = s"${tmpDir("graft-readback-hidden")}/data"
    val input = routable(LogGen.generate(spark, 2, 200, 7L).toDF()).cache()
    input.write.partitionBy("route").parquet(dataDir)
    val parts = Files.walk(Paths.get(dataDir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toList
    val part = parts.head
    val route = part.getParent.getFileName.toString
    def plant(rel: String): Path = {
      val to = Paths.get(dataDir, rel)
      Files.createDirectories(to.getParent)
      Files.copy(part, to)
    }
    assert(Files.exists(Paths.get(dataDir, "_SUCCESS")))
    assert(Files.walk(Paths.get(dataDir)).iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")))
    // readable parquet under hidden names: read, they would add rows
    val planted = Seq(
      plant(s"_temporary/0/_temporary/attempt_0/$route/part-99999.parquet"),
      plant(s"$route/_temporary/part-99998.parquet"),
      plant(s"$route/.part-99997.parquet")
    )

    val back = Route.landed(spark, dataDir, input.schema)
    val read = back.inputFiles.map(f => Paths.get(new java.net.URI(f))).toSet
    assert(read == parts.toSet)
    assert(planted.forall(p => !read.contains(p)))
    assert(rows(back) == rows(input.select((input.columns.filterNot(_ == "route") :+ "route").map(col): _*)))
    input.unpersist()
  }

  test("an empty commit lands an empty snapshot through both entry points") {
    spark.sparkContext.setLogLevel("WARN")
    val full = LogGen.generate(spark, 2, 200, 42L).toDF().cache()
    val empty = full.limit(0)

    // writeRouted: an empty input commits counts {} and resumes as a no-op
    val rdir = tmpDir("graft-empty-route")
    val fp = Route.fingerprint(empty)
    val r1 = Route.writeRouted(spark, routable(empty), rdir, fp)
    assert(!r1.resumed && r1.counts.isEmpty)
    assert(Route.snapshots(Route.manifestPath(rdir)).map(_.counts) == Seq(Map.empty))
    assert(spark.read.parquet(s"$rdir/audit").count() == 0)
    val r2 = Route.writeRouted(spark, routable(empty), rdir, fp)
    assert(r2.resumed && r2.counts.isEmpty)

    // commitBatch: the empty micro-batch is logged, its replay is a no-op, and
    // the committed store reads back the non-empty batch beside it
    val sdir = tmpDir("graft-empty-stream")
    StreamIngest.commitBatch(spark, empty, sdir, 0)
    assert(StreamIngest.committedBatches(sdir) == Set(0L))
    StreamIngest.commitBatch(spark, full, sdir, 1)
    StreamIngest.commitBatch(spark, full, sdir, 0)
    assert(StreamIngest.committedBatches(sdir) == Set(0L, 1L))
    val stored = StreamIngest.readCommitted(spark, sdir)
    val expected = routable(full)
    assert(stored.count() == expected.count())
    assert(rows(stored.drop("batch")) == rows(expected.select(stored.drop("batch").columns.map(col): _*)))
    assert(stored.select("batch").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    full.unpersist()
  }
}
