package graft

import graft.loggen.LogGen
import graft.pipeline.{Route, TfPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class RouteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("route")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("routed sinks: counts, lineage, resume-from-manifest, crash recovery") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-route").toString
    val input = LogGen.generate(spark, 3, 300, 42L).toDF()
    val routable = TfPipeline.routable(TfPipeline.envelope(input)).cache()
    val fp = Route.fingerprint(input)

    // first write commits
    val r1 = Route.writeRouted(spark, routable, dir, fp)
    assert(!r1.resumed)
    val expected = routable
      .groupBy("route")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(r1.counts == expected)
    assert(r1.counts.values.sum == input.count())
    assert(Files.exists(Route.manifestPath(dir)))

    // audit table has per-partition lineage
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.columns.toSet == Set("route", "rows", "docs", "min_line", "max_line", "content_hash"))
    assert(audit.agg(sum("rows")).head().getLong(0) == input.count())

    // resume: identical input -> no-op with identical counts
    val r2 = Route.writeRouted(spark, routable, dir, fp)
    assert(r2.resumed && r2.counts == expected)

    // crash recovery: manifest missing (simulated mid-job kill) -> full rewrite
    Files.delete(Route.manifestPath(dir))
    val r3 = Route.writeRouted(spark, routable, dir, fp)
    assert(!r3.resumed && r3.counts == expected)

    // partition pruning readback
    val healed = spark.read.parquet(s"$dir/data").filter(col("route") === "healed")
    assert(healed.count() == expected("healed"))

    // dead-letter partitions exist for skip/unknown
    assert(expected.keys.exists(_ == "__skip") || expected.keys.exists(_ == "unknown"))
  }

  test("aggregates from the committed store equal the in-memory routed path") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-store-parity").toString
    val input = LogGen.generate(spark, 4, 400, 11L).toDF()
    val env = TfPipeline.envelope(input)
    val routable = TfPipeline.routable(env)
    Route.writeRouted(spark, routable, dir, Route.fingerprint(input))

    val direct = TfPipeline.routed(env)
    val stored = TfPipeline.routedFromStore(spark.read.parquet(s"$dir/data"))

    def pp(r: org.apache.spark.sql.DataFrame) = {
      val dim = TfPipeline.subjectDim(r)
      TfPipeline
        .perPlayer(r, dim)
        .withColumn("heal_entries", map_entries(col("heals")))
        .drop("heals")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
    }
    assert(pp(stored) == pp(direct), "store-based aggregate layer diverges from direct path")
  }
}
