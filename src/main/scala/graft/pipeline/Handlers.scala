package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Handler composition (SURVEY.md §2.9): the Spark analogue of the
  * reference's `handler!` macro / `HandlerStack` (module/mod.rs:71-226).
  *
  * A per-player module is a `DataFrame -> DataFrame` stage over the routed
  * frame keyed on `(doc_id, sid)`, assembled with left joins onto the
  * player subjects (the reference iterates one SubjectMap, so every subject
  * appears in every module's output slot). Users add a custom module by
  * passing it to [[composePerPlayer]] -- the analogue of implementing
  * `EventHandler` (examples/custom_handler.rs).
  */
object Handlers {

  /** (routed, dim) -> frame keyed (doc_id, sid). */
  type PerPlayerModule = (DataFrame, DataFrame) => DataFrame

  /** Example custom module (HighestDamage, examples/custom_handler.rs:29-56):
    * per player, the single highest damage event (A14 top-1 exemplar). */
  val highestDamage: PerPlayerModule = (r, _) =>
    r.filter(col("event_type") === "damage" && col("dmg").isNotNull)
      .groupBy("doc_id", "sid")
      .agg(max_by(struct(col("dmg").as("damage"), col("line_no")), struct(col("dmg"), col("line_no")))
        .as("highest_damage"))

  /** Compose per-player modules over one routed frame: every interned player
    * subject appears once, joined with each selected module's output (J5).
    * The routed frame is scanned once per module -- at scale each module
    * reads only its pruned route partitions (see TfPipeline.routedFromStore),
    * exactly like `does_handle` masks.
    *
    * NOTE: this generic composition left-joins each module's arbitrary
    * schema; the BUILT-IN assembly (TfPipeline.perPlayerAssembled) instead
    * folds the built-in modules and the player intern in one per-doc pass,
    * with no join at all (left-outer SMJ of even tiny sides costs ~3s each
    * at 4M rows). */
  def composePerPlayer(
      routed: DataFrame,
      dim: DataFrame,
      modules: Seq[(String, PerPlayerModule)]
  ): DataFrame = {
    val players = dim
      .filter(shiftrightunsigned(col("sid"), 32) === 1)
      .withColumn("account", col("sid").bitwiseAND(lit(0xffffffffL)))
      .withColumn("steam3", concat(lit("[U:1:"), col("account"), lit("]")))
      .withColumn("steam64", col("account") + lit(graft.expr.Steam.STEAM64_BASE))
      .select("doc_id", "sid", "steam3", "steam64", "name")
    modules
      .foldLeft(players) { case (acc, (_, m)) => acc.join(m(routed, dim), Seq("doc_id", "sid"), "left") }
      .orderBy("doc_id", "steam64")
  }
}
