package graft.pipeline

import graft.expr.GraftExpressions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The parse -> enrich -> route -> aggregate pipeline over the tokenized
  * sequence table `(doc_id, line_no, source, tokens, n_tok)`.
  *
  * Spark-first design (SURVEY.md §3.1): every stage is a declarative
  * DataFrame transform built from native expressions, so Catalyst keeps
  * column pruning / filter pushdown, and all heavy operators are windows,
  * hash aggregates and co-partitioned joins keyed by `(doc_id, subject)` --
  * no cross-document shuffle anywhere except the final sink.
  *
  * Quirk fidelity notes are in SURVEY.md §7 risk 3 and graft.expr.LineParser.
  */
object TfPipeline {

  /** Event types handled by the default LogHandler composition
    * (lib.rs:127-132; masks cited in ReferenceSim). */
  val HandledTypes: Seq[String] = Seq(
    "say", "say_team", "healed",
    "charge_deployed", "charge_ended", "charge_ready", "advantage_lost",
    "medic_death", "first_heal",
    "kill", "kill_assist", "damage", "spawned", "role_change", "round_win",
    "round_start"
  )

  val MedicTypes: Seq[String] = Seq(
    "charge_deployed", "charge_ended", "charge_ready", "advantage_lost",
    "medic_death", "first_heal"
  )

  val ClassNames: Seq[String] = Seq(
    "scout", "soldier", "pyro", "demoman", "heavyweapons", "engineer",
    "medic", "sniper", "spy", "unknown"
  )

  private val wDoc = Window.partitionBy("doc_id").orderBy("line_no")

  /** IEEE f32 division (NaN/Inf on zero divisor), ANSI-mode safe. The
    * reference's averages divide by possibly-zero f32 counts. */
  private def f32div(n: Column, d: Column): Column = {
    val nf = n.cast("float")
    val df = d.cast("float")
    when(df === 0f, when(nf === 0f, lit(Float.NaN)).otherwise(lit(Float.PositiveInfinity)))
      .otherwise(nf / df) // Spark division promotes to double...
      .cast("float") // ...so narrow back to the reference's f32
  }

  // -------------------------------------------------------------------------
  // Stage 1+2: decode + envelope
  // -------------------------------------------------------------------------

  /** tokens -> line -> envelope struct, flattened. Keeps `tokens` for the
    * routed-row token-array-equality invariant. */
  def envelope(input: DataFrame): DataFrame = {
    input
      .withColumn("line", tokens_to_string(col("tokens")))
      .withColumn("r", parse_raw_line(col("line")))
      .select(
        col("doc_id"),
        col("line_no"),
        col("source"),
        col("tokens"),
        col("r.status").as("status"),
        col("r.date").as("date"),
        col("r.kind").as("kind"),
        col("r.subject").as("subject"),
        col("r.event_type").as("event_type"),
        col("r.params").as("params"),
        col("r.ts").as("ts") // epoch seconds computed inside the parse kernel
      )
  }

  // Event-level parse error (the reference's `?` propagation) is the `err`
  // field of the one-pass typed_params struct: the kernel validates required
  // AND present-but-malformed typed fields in the same scan that extracts
  // the typed values.

  // -------------------------------------------------------------------------
  // Stage 3: classification + routing
  // -------------------------------------------------------------------------

  /** Adds `pm` (typed params map), `typed_err`, `drop` and `hard_error`
    * columns implementing the truncated-line recovery (lib.rs:68-99):
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
  def classified(env: DataFrame): DataFrame = classifyFlags(classifyPointwise(env))

  /** Pointwise half of [[classified]]: one-pass typed params struct `tp`,
    * handled/typed_err flags and the consume-candidate flag -- no window, so
    * callers can prune heavyweight payload columns (params, tp, date) BEFORE
    * the per-doc window exchange that [[classifyFlags]] introduces. */
  def classifyPointwise(env: DataFrame): DataFrame = {
    val handled = col("status") === 0 && col("event_type").isInCollection(HandledTypes)
    val withPm = env
      .withColumn("handled", handled)
      .withColumn(
        "tp",
        when(handled, typed_params(col("event_type"), col("params")))
      )
      .withColumn(
        "typed_err",
        coalesce(when(handled, col("tp").getField("err")), lit(false))
      )
    val rescueA =
      col("typed_err") && col("params").contains(concat(lit("L "), substring(col("date"), 1, 10)))
    withPm
      .withColumn("rescue_a", rescueA)
      // cand: an error line that, IF evaluated, consumes its successor
      .withColumn("cand", col("typed_err") && !col("rescue_a"))
  }

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

  /** Surviving handled rows with event time: the aggregate layer's input.
    * `time` = u32 seconds since the first surviving handled line per doc
    * (module/mod.rs:37-44). Narrow: heavyweight payload columns (tokens,
    * raw params) are pruned BEFORE the per-doc window exchange -- they are
    * only needed on the route-write path ([[routable]]).
    *
    * DOC-LEVEL ABORT: the reference's parse() returns Err on the first hard
    * error, so a log with ANY hard-error line produces NO output at all
    * (main.rs propagates the error). Docs containing a hard_error line are
    * therefore excluded wholesale -- computed with an unordered max window
    * on the doc_id partitioning the per-doc windows already require (no
    * extra exchange), not a driver-side pass. The aborted lines remain
    * visible on the dead-letter path ([[routable]] `__error` routes). */
  def routed(env: DataFrame): DataFrame = routedWithUniverse(env)._2

  /** (ingested-doc universe excluding aborted docs, routed frame). The
    * universe is what the JSON emitter keys on: a doc whose lines are all
    * valid-but-unhandled still emits `[{},{}]` like main.rs, while an
    * aborted doc emits nothing. */
  def routedWithUniverse(env: DataFrame): (DataFrame, DataFrame) = {
    // flatten the typed fields POINTWISE and drop the heavyweight payload
    // (tp struct, raw params, date) before the per-doc window exchange: the
    // classification flags only read small fixed-width columns, so the
    // shuffle + sort carry primitives instead of a struct payload per row
    val pruned = flattenTyped(classifyPointwise(env.drop("tokens")))
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

  /** The aggregate layer's input recomputed FROM THE COMMITTED ROUTE STORE
    * (Route.writeRouted partitions): the 100 TB shape, where the parse/route
    * leg runs once and every aggregate job reads pruned parquet partitions
    * instead of an in-memory cache. Rows in HandledTypes partitions are by
    * construction the surviving handled rows; docs that aborted on a hard
    * error are removed with a broadcast anti-join against the (tiny)
    * `__error` dead-letter partition, mirroring [[routed]]'s doc abort.
    * `ts` is re-derived with the parse kernel's fixed-UTC epoch -- NOT
    * to_timestamp, which silently shifts with spark.sql.session.timeZone. */
  def routedFromStore(stored: DataFrame): DataFrame = {
    val errorDocs = stored
      .filter(col("route") === "__error") // partition pruning: tiny
      .select("doc_id")
      .distinct()
    deriveRouted(
      flattenTyped(
        stored
          .filter(col("route").isInCollection(HandledTypes)) // partition pruning
          .join(broadcast(errorDocs), Seq("doc_id"), "left_anti")
          .withColumn("ts", graft.expr.GraftExpressions.date_epoch(col("date")))
          .withColumn("tp", typed_params(col("event_type"), col("params")))
      )
    )
  }

  /** Flatten the typed fields the modules need into primitive columns
    * (pointwise, from the one-pass `tp` struct): columnar-cache-friendly and
    * shuffle-friendly (callers drop `tp` before any exchange). The
    * charge/duration/f_time defaults fire only when `tp` itself is null
    * (unhandled rows -- filtered before any consumer); on handled rows the
    * kernel already applied them. */
  private def flattenTyped(df: DataFrame): DataFrame = {
    df
      .withColumn("sid", subject_id(col("kind"), col("subject")))
      .withColumn("text", col("tp").getField("text"))
      .withColumn("target_raw", col("tp").getField("target_raw"))
      .withColumn("target_kind", col("tp").getField("target_kind"))
      .withColumn("healing", col("tp").getField("healing"))
      .withColumn("dmg", col("tp").getField("dmg"))
      .withColumn("charge", coalesce(col("tp").getField("charge"), lit(0L)))
      .withColumn("duration", coalesce(col("tp").getField("duration"), lit(0f)))
      .withColumn("f_time", coalesce(col("tp").getField("f_time"), lit(0f)))
      .withColumn("class_str", col("tp").getField("class_str"))
  }

  /** Shared derivation: surviving handled rows (flattened, with ts) -> the
    * routed frame consumed by every module aggregate. The two ordered windows
    * share the classification pass's (doc_id) partitioning + line_no sort. */
  private def deriveRouted(filtered: DataFrame): DataFrame = {
    filtered
      .withColumn("start_ts", first(col("ts")).over(wDoc))
      .withColumn("time", pmod(col("ts") - col("start_ts"), lit(4294967296L)))
      // round-active gate (A13) hoisted here so the one ordered-window pass
      // is shared by every consumer of the (persisted) routed frame
      .withColumn(
        "active",
        coalesce(
          last(
            when(col("event_type") === "round_start", lit(true))
              .when(col("event_type") === "round_win", lit(false)),
            ignoreNulls = true
          ).over(wDoc),
          lit(false)
        )
      )
      .select("doc_id", "line_no", "source", "kind", "subject", "event_type", "ts",
        "sid", "time", "active", "text", "target_raw", "target_kind", "healing",
        "dmg", "charge", "duration", "f_time", "class_str")
  }

  /** All valid-envelope rows (any event type) with sid -- the full routing
    * frame for fan-out sinks; unknown/invalid stay as dead-letter partitions. */
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

  // -------------------------------------------------------------------------
  // Stage 4: enrichment (subject dimension, J1)
  // -------------------------------------------------------------------------

  /** First-seen-wins subject dimension per (doc, sid): data kind
    * (1 player / 2 bot / 3 malformed / packed kind otherwise), display name
    * and text-parsed steam64 (SubjectData semantics, common.rs:308-342).
    *
    * `death_key` is the packed `SubjectData::id()` of a player-INTERNED
    * subject (common.rs:285-295) -- the key the reference's classstats
    * finalize uses to pull the deaths bucket (`self.data.remove(&subject
    * .id())`, classstats.rs:113-120), which diverges from the interned sid
    * for pathological subjects (the interning fast path reads the digits
    * between the last ':' and ']' of the raw, while SubjectData re-parses
    * the split steam field and user id). Null = a deterministic miss: a
    * MalformedPlayer data id hashes the raw string, and a raw whose
    * interning produced Player can never also intern as MalformedPlayer,
    * so the lookup can never hit (seed-random ahash notwithstanding). */
  def subjectDim(routedDf: DataFrame): DataFrame = {
    val sp = split_player_subject(col("first_subject"))
    val acct = steam_text_account(sp.getField("steam"))
    val uidOk = sp.getField("user_id").rlike("^[0-9]{1,18}$") &&
      sp.getField("user_id").cast("long") <= 65535L
    routedDf
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        min_by(col("subject"), col("line_no")).as("first_subject"),
        min(col("line_no")).as("first_line")
      )
      .withColumn("kind", shiftrightunsigned(col("sid"), 32).cast("int"))
      // sid kinds 1 (player) AND 2 (bot) both come from player-quoted raw
      // subjects; SubjectData splits the name for both (common.rs:313-329:
      // Bot { name, user_id, team } keeps the SPLIT name, not the raw)
      .withColumn(
        "data_kind",
        when(
          col("kind").isin(1, 2),
          when(sp.isNull, 3)
            .when(!uidOk, 3)
            .when(acct.isNull, 2)
            .otherwise(1)
        ).otherwise(col("kind"))
      )
      .withColumn(
        "name",
        when(col("kind").isin(1, 2) && col("data_kind").isin(1, 2), sp.getField("name"))
          .otherwise(col("first_subject"))
      )
      .withColumn(
        "steam64_text",
        when(col("kind") === 1 && col("data_kind") === 1, acct + lit(graft.expr.Steam.STEAM64_BASE))
      )
      .withColumn(
        "death_key",
        when(
          col("kind") === 1,
          when(col("data_kind") === 1, lit(graft.expr.Steam.K_PLAYER << 32) + acct)
            .when(col("data_kind") === 2,
              lit(graft.expr.Steam.K_BOT << 32) + sp.getField("user_id").cast("long"))
        )
      )
      .select("doc_id", "sid", "data_kind", "name", "steam64_text", "first_line", "death_key")
  }

  /** (doc_id, bkey, claimant): which player-interned subject claims each
    * deaths bucket -- the first-seen subject per (doc, death_key), as a
    * single min_by hash aggregate (no sort/window; first_line is unique per
    * subject within a doc, sid is a formal tiebreak). */
  private def deathClaims(dim: DataFrame): DataFrame =
    dim
      .filter(shiftrightunsigned(col("sid"), 32) === 1 && col("death_key").isNotNull)
      .groupBy(col("doc_id"), col("death_key").as("bkey"))
      .agg(min_by(col("sid"), struct(col("first_line"), col("sid"))).as("claimant"))

  /** Re-key per-bucket deaths arrays by the subject that CLAIMS them, the
    * distributed twin of the reference's finalize (classstats.rs:113-120 +
    * lib.rs:106-115): deaths accumulate under the raw kill-target's interned
    * id, but each player-interned output subject retrieves its array with
    * `self.data.remove(&subject.id())` -- a remove-once lookup by the
    * SubjectData-derived id (dim's `death_key`). One subject per bucket: the
    * reference's iteration order is its seed-random AHashMap, so when two
    * output subjects contend for one bucket the reference's own winner is
    * nondeterministic; we take the first-seen subject (first_line, sid) --
    * the deterministic choice, documented as the residual (same class as the
    * MalformedPlayer ahash substitution).
    *
    * `buckets`: (doc_id, sid, deaths) with sid = bucket key; `dim`:
    * [[subjectDim]] output. Returns (doc_id, sid, deaths) keyed by the
    * claiming subject; unclaimed buckets and claimants whose key misses are
    * dropped (callers default deaths to zeros). Shape: one tiny aggregate +
    * one union-merge exchange, both keyed (doc_id, x) -- no join, skew-free. */
  def claimDeaths(buckets: DataFrame, dim: DataFrame): DataFrame = {
    val claims = deathClaims(dim)
    buckets
      .select(col("doc_id"), col("sid").as("bkey"), col("deaths"),
        lit(null).cast("bigint").as("claimant"))
      .unionByName(claims.select(col("doc_id"), col("bkey"),
        lit(null).cast("array<bigint>").as("deaths"), col("claimant")))
      .groupBy(col("doc_id"), col("bkey"))
      .agg(
        first(col("deaths"), ignoreNulls = true).as("deaths"),
        first(col("claimant"), ignoreNulls = true).as("sid")
      )
      .filter(col("sid").isNotNull && col("deaths").isNotNull)
      .select("doc_id", "sid", "deaths")
  }

  // -------------------------------------------------------------------------
  // Stage 5: module aggregations
  // -------------------------------------------------------------------------

  /** Chat (A6 + J2): ordered player messages with first-seen identity. */
  def chatMessages(routedDf: DataFrame, dim: DataFrame): DataFrame = {
    val says = routedDf
      .filter(col("event_type").isin("say", "say_team"))
      .filter(shiftrightunsigned(col("sid"), 32) === 1) // SubjectId::Player only
      .select(
        col("doc_id"),
        col("sid"),
        col("line_no"),
        col("time"),
        col("text").as("message"),
        when(col("event_type") === "say", "All").otherwise("Team").as("chat_type")
      )
    says
      .join(dim.filter(col("data_kind") === 1), Seq("doc_id", "sid"))
      .select(
        col("doc_id"),
        col("line_no"),
        struct(
          col("time"),
          col("name"),
          col("steam64_text").as("steam_id"),
          col("message"),
          col("chat_type")
        ).as("msg")
      )
  }

  /** Heal spread (A5): per (healer, target) healing sums, u32 wrapping. */
  def healSpread(routedDf: DataFrame): DataFrame = {
    routedDf
      .filter(col("event_type") === "healed")
      .withColumn("target_sid", against_subject_id(col("target_raw")))
      .filter(shiftrightunsigned(col("target_sid"), 32) === 1)
      .withColumn("amount", coalesce(col("healing"), lit(0L)))
      .groupBy(col("doc_id"), col("sid"), (col("target_sid").bitwiseAND(lit(0xffffffffL))).as("target_account"))
      .agg(pmod(sum(col("amount")), lit(4294967296L)).as("healing"))
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        map_from_entries(
          sort_array(collect_list(struct(col("target_account"), col("healing"))))
        ).as("heals_by_account")
      )
  }

  /** Medic stats (A7-A10): windowed state machines per (doc, medic). */
  def medicStats(routedDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id", "sid").orderBy("line_no")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val ty = col("event_type")
    val frame = routedDf
      .filter(ty.isInCollection(MedicTypes))
      // last FirstHeal before this row (value + line), last ChargeReady line,
      // last ChargeEnded time: the sequential state, as ordered windows
      .withColumn("fh_time", last(when(ty === "first_heal", col("time")), ignoreNulls = true).over(wPrev))
      .withColumn("fh_line", last(when(ty === "first_heal", col("line_no")), ignoreNulls = true).over(wPrev))
      .withColumn("cr_line", last(when(ty === "charge_ready", col("line_no")), ignoreNulls = true).over(wPrev))
      .withColumn("uber_end", coalesce(last(when(ty === "charge_ended", col("time")), ignoreNulls = true).over(wPrev), lit(0L)))
      .withColumn(
        "build_consume",
        ty === "charge_ready" && col("fh_line").isNotNull && col("fh_time") > 0 &&
          (col("cr_line").isNull || col("fh_line") > col("cr_line"))
      )
      .withColumn("build_time", greatest(col("time") - col("fh_time"), lit(0L)))

    frame
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        count(when(ty === "advantage_lost", 1)).as("advantages_lost"),
        greatest(coalesce(max(when(ty === "advantage_lost", col("f_time"))), lit(0f)), lit(0f))
          .as("biggest_advantage_lost"), // only updated when time > current (starts 0)
        count(when(ty === "medic_death" && col("charge") >= 95 && col("charge") < 100, 1)).as("near_full_charge_death"),
        count(when(ty === "medic_death" && greatest(col("time") - col("uber_end"), lit(0L)) <= 10, 1)).as("deaths_after_uber"),
        sum(when(ty === "first_heal", col("f_time")).otherwise(lit(0f))).as("total_time_before_healing"),
        count(when(ty === "first_heal", 1)).as("start_healing_count"),
        sum(when(col("build_consume"), col("build_time")).otherwise(lit(0L))).as("total_time_to_build"),
        count(when(col("build_consume"), 1)).as("uber_build_count"),
        sum(when(ty === "charge_ended", col("duration")).otherwise(lit(0f))).as("total_uber_length"),
        count(when(ty === "charge_deployed", 1)).as("charge_count"),
        count(when(ty === "medic_death" && col("charge") >= 100, 1)).as("drops")
      )
      .withColumn(
        "medic",
        when(
          col("start_healing_count") > 0,
          struct(
            col("advantages_lost"),
            col("biggest_advantage_lost"),
            col("near_full_charge_death"),
            col("deaths_after_uber"),
            f32div(col("total_time_before_healing"), col("start_healing_count")).as("avg_time_before_healing"),
            f32div(col("total_time_to_build"), col("uber_build_count")).as("avg_time_to_build"),
            f32div(lit(0f), col("charge_count")).as("avg_time_to_use"), // never accrued (reference quirk)
            f32div(col("total_uber_length"), col("charge_count")).as("avg_uber_length"),
            col("charge_count"),
            col("drops")
          )
        ).otherwise(medicDefault)
      )
      .select("doc_id", "sid", "medic")
  }

  /** Class stats (A1-A4 + J3 as-of class lookup + A13 round gate).
    *
    * Single-scan formulation: each routed row emits its state/consumer
    * contributions as an inline array that is exploded once -- ONE pass over
    * the (possibly cached or store-read) input instead of six filtered
    * re-scans, one exchange on (doc_id, key). Semantics identical to the
    * reference's per-event handler calls (classstats.rs:61-109). */
  def classStats(routedDf: DataFrame): DataFrame = {
    val ty = col("event_type")
    val base = routedDf.filter(
      ty.isin("kill", "kill_assist", "damage", "spawned", "role_change", "round_start", "round_win")
    )

    // `ord` = within-line evaluation order, mirroring the reference's
    // statement order inside one Killed event (classstats.rs:81-88):
    //   0 = the death consumer's attacker-entry lookup (`self.data.get
    //       (&subject)` runs BEFORE the target entry is created, so a
    //       self-kill by a never-seen subject finds NO attacker entry),
    //   1 = state rows (spawn/role class sets, kill target-entry creation),
    //   2 = consumers that read AFTER creation (the kill's target-class
    //       read sees the entry `data_mut` just created).
    def entry(key: Column, cls: Column, isState: Column, role: Column, other: Column, dmg: Column,
              ord: Int) =
      struct(key.as("key"), cls.as("cls"), isState.as("is_state"), role.as("role"),
        other.as("other"), dmg.as("dmg"), lit(ord).as("ord"))

    val nullS = lit(null.asInstanceOf[String])
    val nullL = lit(null.asInstanceOf[Long])

    val killTargetSid =
      when(col("target_kind") === "player", player_subject_id(col("target_raw")))
        .when(col("target_kind") === "console", lit(graft.expr.Steam.K_CONSOLE << 32))
        .when(col("target_kind") === "team", lit((graft.expr.Steam.K_TEAM << 32) | 2L))
        .otherwise(lit(graft.expr.Steam.K_SYSTEM << 32))

    // a missing `against` defaults the target to System("unknown") in the
    // reference (player.rs:19-21 default attr); its class resolves only if a
    // kill ever created a System entry
    val damageTarget = coalesce(
      against_subject_id(col("target_raw")),
      lit(graft.expr.Steam.K_SYSTEM << 32)
    )

    val contribs =
      // class change: one state entry
      when(
        ty.isin("spawned", "role_change") && col("class_str").isNotNull,
        array(entry(col("sid"), col("class_str"), lit(1), nullS, nullL, nullL, 1))
      )
        // active kill: target-entry creation (state) + kill/death consumers;
        // the death consumer ('ka', keyed by the ATTACKER) evaluates at
        // ord=0 -- before this line's own target-entry state row -- so a
        // self-kill without a prior entry counts NO death, like the
        // reference (and the streaming machine)
        .when(
          ty === "kill" && col("active"),
          array(
            entry(col("tsid"), nullS, lit(1), nullS, nullL, nullL, 1),
            entry(col("tsid"), nullS, lit(0), lit("kt"), col("sid"), nullL, 2),
            entry(col("sid"), nullS, lit(0), lit("ka"), col("tsid"), nullL, 0)
          )
        )
        .when(
          ty === "kill_assist" && col("active"),
          array(entry(against_subject_id(col("target_raw")), nullS, lit(0), lit("at"), col("sid"), nullL, 2))
        )
        .when(
          ty === "damage" && col("active") && col("dmg") > 0 && col("dmg") < 1500,
          array(entry(damageTarget, nullS, lit(0), lit("dt"), col("sid"), col("dmg"), 2))
        )
        .otherwise(array().cast(
          "array<struct<key:bigint,cls:string,is_state:int,role:string,other:bigint,dmg:bigint,ord:int>>"
        ))

    val union = base
      .withColumn("tsid", killTargetSid)
      .select(col("doc_id"), col("line_no"), explode(contribs).as("e"))
      .select(
        col("doc_id"),
        col("e.key").as("key"),
        col("line_no"),
        col("e.cls").as("cls"),
        col("e.is_state").as("is_state"),
        col("e.role").as("role"),
        col("e.other").as("other"),
        col("e.dmg").as("dmg"),
        col("e.ord").as("ord")
      )

    // ---- as-of lookups per (doc, key): within one line, rows order by
    // `ord` (death lookup < state insert < class read -- the reference's
    // statement order inside a Killed event)
    val wKey = Window
      .partitionBy("doc_id", "key")
      .orderBy(col("line_no"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val looked = union
      .withColumn("last_cls", last(col("cls"), ignoreNulls = true).over(wKey))
      .withColumn("entry_before", count(when(col("is_state") === 1, 1)).over(wKey) > 0)
      .filter(col("is_state") === 0)
      .withColumn("cls_eff", coalesce(col("last_cls"), lit("unknown")))

    // deaths require the ATTACKER to have an entry; its class may still be
    // unknown (entry created as a kill target) -- classstats.rs:81-86
    val cells = ClassNames.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        least(sum(when(col("role") === "kt" && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"k_$i"),
        least(sum(when(col("role") === "ka" && col("entry_before") && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"d_$i"),
        least(sum(when(col("role") === "at" && col("entry_before") && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"a_$i"),
        least(sum(when(col("role") === "dt" && col("entry_before") && col("cls_eff") === c, col("dmg")).otherwise(0L)), lit(65535L)).as(s"g_$i")
      )
    }

    looked
      .groupBy(col("doc_id"), col("other").as("sid"))
      .agg(cells.head, cells.tail: _*)
      .select(
        col("doc_id"),
        col("sid"),
        array((0 until 10).map(i => col(s"k_$i")): _*).as("kills"),
        array((0 until 10).map(i => col(s"d_$i")): _*).as("deaths"),
        array((0 until 10).map(i => col(s"a_$i")): _*).as("assists"),
        array((0 until 10).map(i => col(s"g_$i")): _*).as("damage")
      )
  }

  // -------------------------------------------------------------------------
  // Stage 6: output assembly (J5)
  // -------------------------------------------------------------------------

  private def zeroArr = array((0 until 10).map(_ => lit(0L)): _*)
  private def medicDefault = struct(
    lit(0L).as("advantages_lost"),
    lit(0f).as("biggest_advantage_lost"),
    lit(0L).as("near_full_charge_death"),
    lit(0L).as("deaths_after_uber"),
    lit(0f).as("avg_time_before_healing"),
    lit(0f).as("avg_time_to_build"),
    lit(0f).as("avg_time_to_use"),
    lit(0f).as("avg_uber_length"),
    lit(0L).as("charge_count"),
    lit(0L).as("drops")
  )

  /** Per-player assembled output for every interned PLAYER subject, ordered
    * by (doc_id, steam64). */
  def perPlayer(routedDf: DataFrame, dim: DataFrame): DataFrame =
    perPlayerAssembled(routedDf, dim)
      // materialization boundary before the global output sort: the range
      // partitioner's sampling pass re-executes its child, and the join tree
      // above is deliberately exchange-free on top of the (doc_id)-clustered
      // routed frame -- without this shuffle the sampler would recompute
      // every module aggregate a second time. One extra exchange of the
      // tiny per-player output buys single execution of the heavy tree.
      .repartition(col("doc_id"))
      .orderBy("doc_id", "steam64")

  private val medicTypeDdl =
    "struct<advantages_lost:bigint,biggest_advantage_lost:float," +
      "near_full_charge_death:bigint,deaths_after_uber:bigint," +
      "avg_time_before_healing:float,avg_time_to_build:float," +
      "avg_time_to_use:float,avg_uber_length:float,charge_count:bigint,drops:bigint>"

  /** [[perPlayer]] without the ordered-output contract (the assembly only) --
    * separately timeable, and the right shape for sinks that do their own
    * partitioning.
    *
    * Assembly is a SINGLE-PASS merge, not a join chain: each module's
    * (doc_id, sid)-keyed output contributes one null-padded row to a union
    * that ONE aggregate collapses with first(_, ignoreNulls) -- exact because
    * every module emits at most one row per key (J5 semantics). One exchange
    * of already-aggregated rows replaces three left-outer sort-merge joins
    * (each of which costs two exchanges plus a merge pass), and the shape is
    * skew-free at 100 TB because the key space is (doc, player). */
  def perPlayerAssembled(routedDf: DataFrame, dim: DataFrame): DataFrame = {
    // Persist-MARKED but unmaterialized inputs are populated serially before
    // the assembly job WHEN the routed frame itself is cached: the union
    // fans out into ~6 root stages that all scan the cached frames, and
    // cold-cache population of the expensive parse + dim lineages under that
    // concurrency (per-block locking, stage-scheduling interleave) measured
    // ~1.4x the serial-materialize-then-run sequence at 4M rows (BASELINE.md,
    // "Round-6 assembly materialization order": serial phases sum ~10.5 s
    // vs lazy pipelineOnce 15.1 s; both-eager 11.2 s; routed-only 14.4 s).
    // Keyed on ROUTED being cached because the parquet-store path (routed
    // unpersisted, dim persisted) measured the OPPOSITE: a serial dim pass
    // there is a full extra store scan the lazy plan overlapped with the
    // fan-out's own scans (+1.5 s at sf0.1). A
    // no-op for fully-unpersisted inputs (Verify keeps its one-pass shape).
    if (routedDf.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      routedDf.count()
      if (dim.storageLevel != org.apache.spark.storage.StorageLevel.NONE) { dim.count(); () }
    }
    val players = dim
      .filter(shiftrightunsigned(col("sid"), 32) === 1) // SubjectId::steam_id() is Some
      .withColumn("account", col("sid").bitwiseAND(lit(0xffffffffL)))
      .withColumn("steam3", concat(lit("[U:1:"), col("account"), lit("]")))
      .withColumn("steam64", col("account") + lit(graft.expr.Steam.STEAM64_BASE))

    val nStr = lit(null).cast("string")
    val nLong = lit(null).cast("bigint")
    val nArr = lit(null).cast("array<bigint>")
    val nMap = lit(null).cast("map<bigint,bigint>")
    val nMedic = lit(null).cast(medicTypeDdl)

    def leg(df: DataFrame, cols: Column*): DataFrame =
      df.select(Seq(col("doc_id"), col("sid")) ++ cols: _*)

    // deaths are BUCKET-keyed in classStats output (raw kill-target interned
    // id); the reference's finalize re-keys them by the claiming subject's
    // SubjectData-id (classstats.rs:113-120, see [[claimDeaths]] for the
    // semantics). Shape note: classStats is deliberately consumed ONCE --
    // a second reference to its (explode + window + agg) subtree would
    // re-execute it wholesale (measured 3x on the assembly leg). The tiny
    // dim-derived claim mapping left-joins onto the aggregated cs rows
    // (co-partitioned on (doc_id, sid): the join reuses cs's groupBy
    // partitioning, only the claims side exchanges), and ONE explode emits
    // both the in-place row (deaths kept when self-claimed) and the
    // redirect row (deaths moved to a differing claimant) -- for every
    // non-pathological subject this reduces to "deaths of my own bucket".
    val cs = classStats(routedDf).alias("cs")
    val claims = deathClaims(dim).withColumnRenamed("doc_id", "cl_doc")
    val csClaimed = cs
      .join(claims, col("cs.doc_id") === col("cl_doc") && col("cs.sid") === col("bkey"), "left")
      .select(
        col("cs.doc_id").as("doc_id"),
        explode(
          array(
            struct(
              col("cs.sid").as("sid"),
              col("kills").as("kills"),
              when(col("claimant") === col("cs.sid"), col("deaths")).as("deaths"),
              col("assists").as("assists"),
              col("damage").as("damage")
            ),
            struct(
              when(col("claimant") =!= col("cs.sid"), col("claimant")).as("sid"),
              nArr.as("kills"),
              col("deaths").as("deaths"),
              nArr.as("assists"),
              nArr.as("damage")
            )
          )
        ).as("e")
      )
      .select(col("doc_id"), col("e.sid").as("sid"), col("e.kills").as("kills"),
        col("e.deaths").as("deaths"), col("e.assists").as("assists"), col("e.damage").as("damage"))
      .filter(col("sid").isNotNull)

    val unioned =
      leg(players, col("steam3"), col("steam64"), col("name"),
        nArr.as("kills"), nArr.as("deaths"), nArr.as("assists"), nArr.as("damage"),
        nMap.as("heals_by_account"), nMedic.as("medic"))
        .unionByName(leg(csClaimed, nStr.as("steam3"), nLong.as("steam64"), nStr.as("name"),
          col("kills"), col("deaths"), col("assists"), col("damage"),
          nMap.as("heals_by_account"), nMedic.as("medic")))
        .unionByName(leg(healSpread(routedDf), nStr.as("steam3"), nLong.as("steam64"), nStr.as("name"),
          nArr.as("kills"), nArr.as("deaths"), nArr.as("assists"), nArr.as("damage"),
          col("heals_by_account"), nMedic.as("medic")))
        .unionByName(leg(medicStats(routedDf), nStr.as("steam3"), nLong.as("steam64"), nStr.as("name"),
          nArr.as("kills"), nArr.as("deaths"), nArr.as("assists"), nArr.as("damage"),
          nMap.as("heals_by_account"), col("medic")))

    unioned
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        first(col("steam3"), ignoreNulls = true).as("steam3"),
        first(col("steam64"), ignoreNulls = true).as("steam64"),
        first(col("name"), ignoreNulls = true).as("name"),
        first(col("kills"), ignoreNulls = true).as("kills"),
        first(col("deaths"), ignoreNulls = true).as("deaths"),
        first(col("assists"), ignoreNulls = true).as("assists"),
        first(col("damage"), ignoreNulls = true).as("damage"),
        first(col("heals_by_account"), ignoreNulls = true).as("heals_by_account"),
        first(col("medic"), ignoreNulls = true).as("medic")
      )
      // module rows whose subject never interned as a player (bots, world)
      // have no players leg -> excluded, exactly like the old players-side
      // left join
      .filter(col("steam3").isNotNull)
      .select(
        col("doc_id"),
        col("steam3"),
        col("steam64"),
        col("name"),
        coalesce(col("kills"), zeroArr).as("kills"),
        coalesce(col("deaths"), zeroArr).as("deaths"),
        coalesce(col("assists"), zeroArr).as("assists"),
        coalesce(col("damage"), zeroArr).as("damage"),
        transform_keys(
          coalesce(
            col("heals_by_account"),
            map_from_entries(array().cast("array<struct<target_account:long,healing:long>>"))
          ),
          (k, _) => concat(lit("[U:1:"), k, lit("]"))
        ).as("heals"),
        coalesce(col("medic"), medicDefault).as("medic")
      )
  }

  /** Global chat output: one row per doc with the ordered message array. */
  def chat(routedDf: DataFrame, dim: DataFrame): DataFrame =
    chatMessages(routedDf, dim)
      .groupBy("doc_id")
      .agg(
        transform(
          sort_array(collect_list(struct(col("line_no"), col("msg")))),
          e => e.getField("msg")
        ).as("chat")
      )
}
