package graft.pipeline

import graft.expr.GraftExpressions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, KeyValueGroupedDataset}
import scala.annotation.unused

/** The parse -> enrich -> route -> aggregate pipeline over the tokenized
  * sequence table `(doc_id, line_no, source, tokens, n_tok)`.
  *
  * Spark-first design (SURVEY.md §3.1): every stage is a declarative
  * DataFrame transform built from native expressions, so Catalyst keeps
  * column pruning / filter pushdown. The heavy operators are the per-doc
  * recovery window, which runs the reference's sequential recovery step
  * ([[Recovery.step]], the one the stream runs) as a running aggregate in
  * line order, and the per-doc sorted passes that fold the per-player
  * modules, the subject intern and chat ([[PlayerModules]]) -- no
  * cross-document shuffle anywhere except the final sink.
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
  private val wholeDoc = wDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

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

  /** Pointwise classification: the one-pass typed params struct `tp` and
    * the `handled`, `typed_err` and `rescue_a` flags [[Recovery.step]]
    * reads -- no window, so callers can prune heavyweight payload columns
    * (params, tp, date) BEFORE the per-doc exchange. */
  def classifyPointwise(env: DataFrame): DataFrame = {
    val handled = col("status") === 0 && col("event_type").isInCollection(HandledTypes)
    env
      .withColumn("handled", handled)
      .withColumn("tp", when(handled, typed_params(col("event_type"), col("params"))))
      .withColumn("typed_err", coalesce(when(handled, col("tp").getField("err")), lit(false)))
      .withColumn("rescue_a",
        col("typed_err") && col("params").contains(concat(lit("L "), substring(col("date"), 1, 10))))
  }

  /** Runs [[Recovery.step]] down each doc in line order, as a running window
    * aggregate: adds the step's per-line `consumed`, `pair_abort`, `aborted`
    * (at or before the line) and `time` (Some on a surviving handled line).
    * One WindowExec over the doc_id exchange and (doc_id, line_no) sort. */
  private def recovered(pw: DataFrame): DataFrame =
    pw.withColumn("rec", Recovery.running.over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("*"), col("rec.*"))
      .drop("rec")

  /** Surviving handled rows with event time: the aggregate layer's input.
    * `time` = u32 seconds since the first surviving handled line per doc
    * (module/mod.rs:37-44), as [[Recovery.step]] gives it. Narrow:
    * heavyweight payload columns (tokens, raw params) are pruned BEFORE the
    * per-doc window exchange -- they are only needed on the route-write path
    * ([[routable]]).
    *
    * DOC-LEVEL ABORT: the reference's parse() returns Err on the first hard
    * error, so a log with ANY hard-error line produces NO output at all
    * (main.rs propagates the error). A doc whose step aborts anywhere is
    * excluded whole -- `max(aborted)` over the whole doc, a second window on
    * the same doc_id partitioning and line sort (no extra exchange), not a
    * driver-side pass. The aborted lines remain visible on the dead-letter
    * path ([[routable]] `__error` routes). */
  def routed(env: DataFrame): DataFrame = routedWithUniverse(env)._2

  /** (ingested-doc universe excluding aborted docs, routed frame). The
    * universe is what the JSON emitter keys on: a doc whose lines are all
    * valid-but-unhandled still emits `[{},{}]` like main.rs, while an
    * aborted doc emits nothing. */
  def routedWithUniverse(env: DataFrame): (DataFrame, DataFrame) = {
    // flatten the typed fields POINTWISE and drop the heavyweight payload
    // (tp struct, raw params, date) before the per-doc window exchange: the
    // step only reads small fixed-width columns, so the shuffle + sort carry
    // primitives instead of a struct payload per row
    val pruned = flattenTyped(classifyPointwise(env.drop("tokens")))
      .drop("tp", "params", "date")
    val okRows = recovered(pruned)
      .withColumn("doc_aborted", max(col("aborted")).over(wholeDoc))
      .filter(!col("doc_aborted"))
    (okRows.select("doc_id").distinct(), okRows.filter(col("time").isNotNull).select(RoutedColumns.map(col): _*))
  }

  /** The routed frame's columns, in order. */
  private val RoutedColumns = Seq("doc_id", "line_no", "source", "kind", "subject", "event_type", "ts",
    "sid", "time", "text", "target_raw", "target_kind", "healing", "dmg", "charge", "duration", "f_time", "class_str")

  /** The aggregate layer's input recomputed FROM THE COMMITTED ROUTE STORE
    * (Route.writeRouted partitions): the 100 TB shape, where the parse/route
    * leg runs once and every aggregate job reads pruned parquet partitions
    * instead of an in-memory cache. Store rows have already been through
    * recovery: HandledTypes partitions hold the surviving handled rows. One
    * scan, pruned to those partitions plus the `__error` dead-letter
    * partition, reads both; two native windows then drop a doc holding any
    * `__error` line whole (`max(err)` over the doc, [[routed]]'s doc abort)
    * and give `time` from the doc's first `ts`. Both sit on one doc_id
    * exchange and (doc_id, line_no) sort, whatever the store holds. `ts` is
    * re-derived with the parse kernel's fixed-UTC epoch -- NOT to_timestamp,
    * which silently shifts with spark.sql.session.timeZone. State: the
    * window buffers one doc's lines at a time. */
  def routedFromStore(stored: DataFrame): DataFrame = {
    val err = col("route") === "__error"
    val lines = flattenTyped(
      stored
        .filter(col("route").isInCollection(HandledTypes :+ "__error")) // partition pruning
        .withColumn("err", err)
        .withColumn("ts", date_epoch(col("date")))
        .withColumn("tp", when(!err, typed_params(col("event_type"), col("params"))))
    ).drop("tp", "params", "date", "route")
    lines
      .withColumn("aborted", max(col("err")).over(wholeDoc))
      .withColumn("start_ts", first(col("ts")).over(wDoc))
      .filter(!col("aborted"))
      .withColumn("time", pmod(col("ts") - col("start_ts"), lit(4294967296L)))
      .select(RoutedColumns.map(col): _*)
  }

  /** Flatten the typed fields the modules need into primitive columns
    * (pointwise, from the one-pass `tp` struct): columnar-cache-friendly and
    * shuffle-friendly (callers drop `tp` before any exchange). The
    * charge/duration/f_time defaults fire only when `tp` itself is null
    * (unhandled rows -- filtered before any consumer); on handled rows the
    * kernel already applied them. */
  private[graft] def flattenTyped(df: DataFrame): DataFrame = {
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

  /** All valid-envelope rows (any event type) with their route -- the full
    * routing frame for fan-out sinks; unknown/invalid stay as dead-letter
    * partitions. `__error` marks a hard error: a Malformed envelope, the
    * date panic, or a consuming line whose consumed successor fails the
    * >60 s test (`lead(pair_abort)` on the same doc order settles it one
    * line late). */
  def routable(env: DataFrame): DataFrame = {
    val hardError = col("status") === 2 ||
      (col("handled") && !col("typed_err") && !col("consumed") && col("ts").isNull) ||
      coalesce(lead(col("pair_abort"), 1).over(wDoc), lit(false))
    recovered(classifyPointwise(env))
      .withColumn(
        "route",
        when(hardError, lit("__error"))
          .when(col("status") =!= 0, lit("__skip"))
          .when(col("typed_err") || col("consumed"), lit("__dropped"))
          .otherwise(col("event_type"))
      )
      .select("doc_id", "line_no", "source", "tokens", "date", "kind", "subject",
        "event_type", "params", "route")
  }

  // -------------------------------------------------------------------------
  // Stage 4: enrichment (subject dimension, J1)
  // -------------------------------------------------------------------------

  /** First-seen-wins subject dimension per (doc, sid): the SubjectData
    * ([[graft.expr.Steam.subjectData]], common.rs:308-342) of each
    * subject's first surviving raw -- data kind (1 player / 2 bot /
    * 3 malformed / packed kind otherwise), display name, text-parsed
    * steam64 -- and its first line.
    *
    * `death_key` is the packed `SubjectData::id()` of a player-INTERNED
    * subject (common.rs:285-295) -- the key the reference's classstats
    * finalize uses to pull the deaths bucket ([[PlayerModules.claims]]),
    * which diverges from the interned sid for pathological subjects (the
    * interning fast path reads the digits between the last ':' and ']' of
    * the raw, while SubjectData re-parses the split steam field and user
    * id). Null = a deterministic miss.
    *
    * A projection of one per-doc fold that runs only the intern
    * ([[PlayerModules.intern]]): no aggregate, and no exchange over the
    * doc-clustered routed frame. State: one entry per distinct sid of the
    * doc being folded. */
  def subjectDim(routedDf: DataFrame): DataFrame = {
    import routedDf.sparkSession.implicits._
    routedDf
      .select(col("doc_id"), col("line_no"), col("sid"), col("subject"))
      .groupBy(col("doc_id"))
      .as[String, PlayerModules.SubjectRoutedLine]
      .flatMapSortedGroups(col("line_no"))(PlayerModules.subjectRows)
      .toDF()
  }

  /** Re-key bucket-keyed deaths by the subject that claims them, with the
    * assembly's claim rule ([[PlayerModules.claims]]) over the players of
    * `dim` ([[subjectDim]] output). `buckets`: (doc_id, sid, deaths) with
    * sid = bucket key. Returns (doc_id, sid, deaths) keyed by the claiming
    * subject; unclaimed buckets are dropped (callers default deaths to
    * zeros). One cogroup of the two sides by doc. */
  def claimDeaths(buckets: DataFrame, dim: DataFrame): DataFrame = {
    import buckets.sparkSession.implicits._
    val bucketsOfDoc = buckets.select(col("doc_id"), col("sid"), col("deaths"))
      .groupBy(col("doc_id")).as[String, PlayerModules.Bucket]
    dim.select(col("doc_id"), col("sid"), col("first_line"), col("death_key"))
      .groupBy(col("doc_id")).as[String, PlayerModules.Claimant]
      .cogroup(bucketsOfDoc) { (doc, players, bs) =>
        val claimed = PlayerModules.claims(players.map(p => (p.sid, p.first_line, p.death_key)))
        bs.flatMap(b => claimed.get(b.sid).map(sid => (doc, sid, b.deaths)))
      }
      .toDF("doc_id", "sid", "deaths")
  }

  // -------------------------------------------------------------------------
  // Stage 5: modules
  // -------------------------------------------------------------------------

  /** The routed frame as the module fold's input: grouped by doc, each doc's
    * lines in line order. `routed` is already classified and carries the u32
    * `time`, so the fold only steps. The routed frame is clustered by doc and
    * sorted by line (its per-doc windows), so the grouping plans no
    * exchange. */
  private def docLines(routedDf: DataFrame): KeyValueGroupedDataset[String, PlayerModules.RoutedLine] = {
    import routedDf.sparkSession.implicits._
    routedDf
      .select(col("doc_id"), col("line_no"), col("time"), col("sid"), col("subject"), col("event_type"),
        col("charge"), col("duration"), col("f_time"), col("class_str"), col("target_kind"),
        col("target_raw"), col("dmg").as("dmgOpt"), col("healing").as("healingOpt"))
      .groupBy(col("doc_id"))
      .as[String, PlayerModules.RoutedLine]
  }

  /** The per-doc pass of the per-player modules: each doc folded through the
    * medic, classStats and healSpread steps of [[PlayerModules]] (the steps
    * the stream runs). One row per (doc, sid) that any module keys: `kills`,
    * bucket-keyed `deaths`, `assists`, `damage` (u16-saturated),
    * `heals_by_account` and `medic`, each null where that module emits no
    * row. */
  private def modulePass(routedDf: DataFrame): DataFrame = {
    import routedDf.sparkSession.implicits._
    docLines(routedDf)
      .flatMapSortedGroups(col("line_no"))((doc, lines) =>
        PlayerModules.moduleRows(doc, PlayerModules.foldDoc(lines)))
      .toDF()
  }

  /** Heal spread (A5): per (healer, target account) healing sums, u32
    * wrapping, as a map in target-account order. A projection of the pass. */
  def healSpread(routedDf: DataFrame): DataFrame =
    modulePass(routedDf).filter(col("heals_by_account").isNotNull)
      .select("doc_id", "sid", "heals_by_account")

  /** Medic stats (A7-A10) per (doc, medic). A projection of the pass. */
  def medicStats(routedDf: DataFrame): DataFrame =
    modulePass(routedDf).filter(col("medic").isNotNull).select("doc_id", "sid", "medic")

  /** Class stats (A1-A4 + J3 as-of class lookup + A13 round gate) per
    * (doc, beneficiary), deaths keyed by bucket. A projection of the pass. */
  def classStats(routedDf: DataFrame): DataFrame =
    modulePass(routedDf).filter(col("kills").isNotNull)
      .select("doc_id", "sid", "kills", "deaths", "assists", "damage")

  /** The chat module's per-doc pass: each doc's surviving lines, in line
    * order, folded through [[PlayerModules.chatStep]] (the step the stream
    * runs), which resolves each player's first-seen SubjectData itself. One
    * row per doc with at least one message: `chat`, the messages in line
    * order, each with its `line_no`. It reads only the columns the step
    * reads, and plans no exchange over the doc-clustered routed frame. */
  def chatPass(routedDf: DataFrame): DataFrame = {
    import routedDf.sparkSession.implicits._
    routedDf
      .select(col("doc_id"), col("line_no"), col("time"), col("sid"), col("event_type"),
        col("subject"), col("text"))
      .groupBy(col("doc_id"))
      .as[String, PlayerModules.ChatRoutedLine]
      .flatMapSortedGroups(col("line_no"))(PlayerModules.chatDoc)
      .toDF()
  }

  // -------------------------------------------------------------------------
  // Stage 6: output assembly (J5)
  // -------------------------------------------------------------------------

  /** Per-player assembled output for every interned PLAYER subject, ordered
    * by (doc_id, steam64). */
  def perPlayer(routedDf: DataFrame, dim: DataFrame): DataFrame =
    perPlayerAssembled(routedDf, dim)
      // materialization boundary before the global output sort: the range
      // partitioner's sampling pass re-executes its child, and the tree
      // above is deliberately exchange-free on top of the (doc_id)-clustered
      // routed frame -- without this shuffle the sampler would run the
      // module pass a second time. One extra exchange of the tiny per-player
      // output buys single execution of the heavy tree.
      .repartition(col("doc_id"))
      .orderBy("doc_id", "steam64")

  /** [[perPlayer]] without the ordered-output contract (the assembly only) --
    * separately timeable, and the right shape for sinks that do their own
    * partitioning.
    *
    * ONE per-doc fold over the routed lines, in line order: the
    * [[PlayerModules]] steps and the player intern, then, at the doc's end,
    * the claim rule ([[PlayerModules.claims]]). One row per interned player:
    * its SubjectData name, kills, assists, damage, heals and medic, and the
    * deaths of the bucket it claims (zeros where a module has none). `dim`
    * is not read (the fold interns the players itself); the parameter stays
    * for existing callers. Over the doc-clustered routed frame the fold
    * plans no exchange and no aggregate; the key space is (doc, player), so
    * the shape is skew-free at 100 TB. State: one doc's module maps and its
    * distinct player sids. */
  def perPlayerAssembled(routedDf: DataFrame, @unused dim: DataFrame): DataFrame = {
    import routedDf.sparkSession.implicits._
    docLines(routedDf)
      .flatMapSortedGroups(col("line_no"))((doc, lines) => PlayerModules.playerRows(doc, PlayerModules.foldDoc(lines)))
      .select(
        col("doc_id"),
        concat(lit("[U:1:"), col("sid").bitwiseAND(lit(0xffffffffL)), lit("]")).as("steam3"),
        (col("sid").bitwiseAND(lit(0xffffffffL)) + lit(graft.expr.Steam.STEAM64_BASE)).as("steam64"),
        col("name"),
        col("kills"),
        col("deaths"),
        col("assists"),
        col("damage"),
        transform_keys(col("heals_by_account"), (k, _) => concat(lit("[U:1:"), k, lit("]"))).as("heals"),
        col("medic")
      )
  }

  /** Global chat output: one row per doc with the ordered message array, a
    * projection of [[chatPass]]. `dim` is not read (the pass derives
    * identity itself); the parameter stays for existing callers. */
  def chat(routedDf: DataFrame, @unused dim: DataFrame): DataFrame =
    chatPass(routedDf).select(col("doc_id"), transform(col("chat"), _.dropFields("line_no")).as("chat"))
}
