package graft

import graft.pipeline.TfPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test oracle for the recovery pass of [[graft.pipeline.TfPipeline]]: the
  * run-parity window formulation that [[graft.pipeline.Recovery.step]]'s
  * running aggregate replaced, kept unchanged -- `classified` /
  * `classifyFlags`, the `doc_error` window, the hub's `deriveRouted` and the
  * route labels over them. It shares only the pointwise classification
  * (`TfPipeline.classifyPointwise`, plus the `cand` flag it no longer
  * carries) and the typed-field flattening. */
object RecoveryWindowsOracle {

  private val wDoc = Window.partitionBy("doc_id").orderBy("line_no")

  /** Adds `tp`, `typed_err`, `drop` and `hard_error` columns implementing the
    * truncated-line recovery (lib.rs:68-99):
    *  (a) error + params embed a same-date `L MM/DD/YYYY` -> silently dropped;
    *  (b) otherwise the NEXT physical line is consumed (never evaluated
    *      itself) and both are dropped when the consumed line's raw
    *      timestamp jumps >60s; anything else is a hard error.
    *
    * Consumption is SEQUENTIAL in the reference: within a run of consecutive
    * candidate-error lines only the 1st/3rd/5th... actually error-and-consume;
    * the even-offset lines are consumed and their own errors never evaluated,
    * and a non-error line right after an odd-length run is consumed too.
    * That recurrence (consumed(i) = E(i-1); E(i) = cand(i) && !consumed(i))
    * resolves to alternating parity within each maximal `cand` run, which is
    * what the windowed formulation below computes -- exactly, for chains of
    * any length, with no driver-side iteration.
    *
    * Invalid dates mirror the reference's `unwrap_or(timestamp(0))` in the
    * recovery comparison (null ts -> 0) and its process-path `unwrap()` panic
    * (handled, unconsumed, error-free line with null ts -> hard error).
    */
  def classified(env: DataFrame): DataFrame = classifyFlags(pointwise(env))

  /** The pointwise classification plus `cand`: an error line that, IF
    * evaluated, consumes its successor. */
  private def pointwise(env: DataFrame): DataFrame =
    TfPipeline.classifyPointwise(env).withColumn("cand", col("typed_err") && !col("rescue_a"))

  /** Window half of [[classified]]: sequential-consumption recovery flags
    * over the doc order. Only reads small fixed-width columns (status, ts,
    * handled, typed_err, cand); everything else is passthrough payload. */
  def classifyFlags(pw: DataFrame): DataFrame = {
    val wRun = wDoc.rowsBetween(Window.unboundedPreceding, 0)
    val consumesNext = col("consume") && col("has_next")
    pw
      // window pass 1: everything that reads only base columns, adjacent so
      // CollapseWindow fuses them into ONE WindowExec over the shared
      // (doc_id, line_no) sort
      .withColumn("idx", row_number().over(wDoc))
      .withColumn("next_ts", lead(col("ts"), 1).over(wDoc))
      .withColumn("next_status", lead(col("status"), 1).over(wDoc))
      // status is a non-null envelope byte, so next_status is null exactly
      // past the partition end
      .withColumn("has_next", col("next_status").isNotNull)
      // window pass 2 (depends on idx): idx of the last non-cand line
      // at-or-before this row = run anchor
      .withColumn("run_anchor", max(when(!col("cand"), col("idx"))).over(wRun))
      // E: evaluated-and-consuming error = cand at an even 0-based offset
      // within its maximal cand run (odd offsets are consumed, inert)
      .withColumn(
        "consume",
        col("cand") && pmod(col("idx") - coalesce(col("run_anchor"), lit(0L)) - 1, lit(2)) === 0
      )
      // window pass 3 (depends on consume)
      .withColumn("consumed", coalesce(lag(col("consume"), 1).over(wDoc), lit(false)))
      .withColumn("consumes_next", consumesNext)
      .withColumn(
        "hard_error",
        (col("status") === 2) || // envelope Malformed
        (col("handled") && !col("typed_err") && !col("consumed") && col("ts").isNull) || // date panic
        (consumesNext && !(col("next_status") === 0 &&
          coalesce(col("next_ts"), lit(0L)) - coalesce(col("ts"), lit(0L)) > 60))
      )
      .withColumn("drop", col("typed_err") || col("consumed"))
      .drop("rescue_a", "cand", "idx", "run_anchor", "consume", "consumed",
        "has_next", "next_ts", "next_status")
  }

  /** The routed frame of surviving handled rows. */
  def routed(env: DataFrame): DataFrame = routedWithUniverse(env)._2

  /** (ingested-doc universe excluding aborted docs, routed frame): a doc
    * holding any hard_error line is excluded whole by an unordered max
    * window over the doc (`doc_error`). */
  def routedWithUniverse(env: DataFrame): (DataFrame, DataFrame) = {
    val pruned = TfPipeline.flattenTyped(TfPipeline.classifyPointwise(env.drop("tokens"))
      .withColumn("cand", col("typed_err") && !col("rescue_a")))
      .drop("tp", "params", "date")
    val cls = classifyFlags(pruned)
    val flagged = cls.withColumn(
      "doc_error",
      max(when(col("hard_error"), 1).otherwise(0)).over(Window.partitionBy("doc_id"))
    )
    val okRows = flagged.filter(col("doc_error") === 0)
    val universe = okRows.select("doc_id").distinct()
    val routed = deriveRouted(okRows.filter(col("handled") && !col("drop") && !col("hard_error")))
    (universe, routed)
  }

  /** Surviving handled rows (flattened, with ts) -> the routed frame: the
    * doc-relative u32 `time` from the first surviving `ts`. */
  private def deriveRouted(filtered: DataFrame): DataFrame = {
    filtered
      .withColumn("start_ts", first(col("ts")).over(wDoc))
      .withColumn("time", pmod(col("ts") - col("start_ts"), lit(4294967296L)))
      .select("doc_id", "line_no", "source", "kind", "subject", "event_type", "ts",
        "sid", "time", "text", "target_raw", "target_kind", "healing",
        "dmg", "charge", "duration", "f_time", "class_str")
  }

  /** All valid-envelope rows (any event type) with their route label. */
  def routable(env: DataFrame): DataFrame = {
    val cls = classified(env)
    cls
      .withColumn(
        "route",
        when(col("hard_error"), lit("__error"))
          .when(col("status") =!= 0, lit("__skip"))
          .when(col("drop"), lit("__dropped"))
          .otherwise(col("event_type"))
      )
      .select("doc_id", "line_no", "source", "tokens", "date", "kind", "subject",
        "event_type", "params", "route")
  }
}
