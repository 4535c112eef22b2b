package graft

import graft.loggen.LogGen
import graft.pipeline.{Handlers, TfPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Handler composition (§2.9): a custom module (HighestDamage,
  * examples/custom_handler.rs) composed with the built-ins. */
class HandlersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("handlers")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("custom HighestDamage module composes with built-ins and matches max") {
    val routed = TfPipeline.routed(TfPipeline.envelope(LogGen.generate(spark, 2, 400, 7L).toDF())).cache()
    val dim = TfPipeline.subjectDim(routed)
    val healSpread: Handlers.PerPlayerModule = (r, _) => TfPipeline.healSpread(r)
    val out = Handlers.composePerPlayer(
      routed,
      dim,
      Seq("heal_spread" -> healSpread, "hd" -> Handlers.highestDamage)
    )
    val got = out
      .filter(col("highest_damage").isNotNull)
      .select(col("doc_id"), col("sid"), col("highest_damage.damage").as("dmg"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val exp = routed
      .filter(col("event_type") === "damage" && col("dmg").isNotNull)
      // composePerPlayer keys on real players only (bots/system excluded,
      // like the reference's per_player map)
      .filter(shiftrightunsigned(col("sid"), 32) === 1)
      .groupBy("doc_id", "sid")
      .agg(max(col("dmg")).as("m"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == exp, "composed highest-damage equals direct max per (doc, player)")
    routed.unpersist()
  }
}
