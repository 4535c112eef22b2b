package graft.streaming

import graft.expr.GraftExpressions._
import graft.pipeline.{PlayerModules, Recovery, TfPipeline}
import graft.pipeline.PlayerModules.{ClassDocState, MedicAcc, MedicStats}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming twins of the batch layers, for the ingest side
  * (SURVEY.md §2.8). Two kinds of operator live here:
  *
  *  - key-only state: first-arrival-wins exact dedup whose state the
  *    watermark evicts ([[dedupExactStream]]); MinHash-LSH candidate pairs
  *    at arrival from a capped per-bucket machine ([[lshCandidatesStream]]);
  *  - the reference's sequential per-doc pass (lib.rs:58-104) over
  *    micro-batches: one driver, [[perDoc]], steps each line through
  *    [[graft.pipeline.Recovery.step]] (which batch runs as a window
  *    aggregate), and the medic, classStats, healSpread and chat modules
  *    each supply only their own state, their step for a surviving line,
  *    and their output rows -- the steps of [[graft.pipeline.PlayerModules]],
  *    which batch folds too. The stream adds the multi-batch split, the
  *    resume guard, the stop at the abort and the tombstones,
  *    differential-tested against batch.
  */
object StreamingPipeline {

  val inputSchema: StructType = StructType(
    Seq(
      StructField("doc_id", StringType),
      StructField("line_no", LongType),
      StructField("source", StringType),
      StructField("tokens", ArrayType(IntegerType, containsNull = false)),
      StructField("n_tok", IntegerType)
    )
  )

  /** Streaming exact deduplication (ingest-side first-arrival-wins): keep
    * each content key's first-arriving row, drop every later duplicate --
    * within a micro-batch AND across batches (keyed state). State holds
    * only the key (dropDuplicatesWithinWatermark), and the watermark evicts
    * keys once the horizon passes, so state is bounded at 100 TB ingest; a
    * duplicate arriving later than the horizon passes through -- the
    * standard streaming-dedup tradeoff (global exactness is the batch
    * [[graft.ops.Dedup.exactByKey]] job). Within one micro-batch the
    * surviving row per key is arrival-order-dependent; emit the key, not
    * the winner id, where determinism matters downstream. */
  def dedupExactStream(docs: DataFrame, key: Column, eventTime: Column, horizon: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_key", key)
      .withColumn("__event_time", eventTime)
      .withWatermark("__event_time", horizon)
      .dropDuplicatesWithinWatermark("content_key")
      .drop("__event_time")

  /** Streaming MinHash-LSH near-dup candidate detection (ingest-side twin
    * of [[graft.ops.Dedup.lshCandidates]]): the purely map-side banding
    * runs unchanged on the stream; per (band, band_hash) bucket a
    * flatMapGroupsWithState machine keeps the member ids seen so far and
    * emits a normalized candidate pair (new, prior) the moment a new doc
    * lands in a non-empty bucket -- near-dups are flagged at ARRIVAL time,
    * no batch job needed.
    *
    * State per bucket is capped at `maxBucket` ids (same hot-bucket
    * pathology as batch), but the NUMBER of bucket states is unbounded for
    * the lifetime of the stream (GroupStateTimeout.NoTimeout, no watermark):
    * total state grows with the distinct (band, band_hash) keys ever seen.
    * A long-running ingest deployment must either restart periodically from
    * a compacted checkpoint or add an event-time/processing-time timeout --
    * with the caveat that evicted buckets stop pairing against pre-eviction
    * members, a divergence from batch the cap does not have.
    * Divergence from batch semantics ABOVE the cap:
    * batch drops an over-cap bucket whole, the stream has already emitted
    * the first cap members' pairs and stops adding -- below the cap the
    * emitted pair set equals the batch candidate set exactly (a pair can
    * arrive once per shared band; dedupe downstream where it matters).
    * Within a micro-batch, members join in id order (deterministic). */
  final case class BandMember(id: Long, band: Int, band_hash: String)
  final case class BucketMembers(ids: List[Long])
  final case class CandPair(id_a: Long, id_b: Long)

  def lshCandidatesStream(
      spark: SparkSession,
      docs: DataFrame,
      id: Column,
      shingleCol: Column,
      k: Int,
      bandSize: Int,
      fast: Boolean = true,
      maxBucket: Int = 1000
  ): DataFrame = {
    import spark.implicits._
    graft.ops.Dedup
      .bandedIds(docs, id, shingleCol, k, bandSize, fast)
      .as[BandMember]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState[BucketMembers, CandPair](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          var seen = state.getOption.map(_.ids).getOrElse(Nil)
          // O(1) membership via a task-local mirror (the encoded state stays
          // a List; a cap-sized bucket would otherwise pay O(cap) per arrival)
          val seenSet = scala.collection.mutable.HashSet.empty[Long] ++ seen
          val out = List.newBuilder[CandPair]
          for (r <- rows.toSeq.sortBy(_.id) if seenSet.size < maxBucket && !seenSet.contains(r.id)) {
            for (p <- seen) out += CandPair(math.min(p, r.id), math.max(p, r.id))
            seen = r.id :: seen
            seenSet += r.id
          }
          state.update(BucketMembers(seen))
          out.result().iterator
      }
      .toDF()
  }


  /** Memory-sink writer for the driver gate and tests: processAllAvailable
    * drives the available input through the streaming plan synchronously.
    * flatMapGroupsWithState(Append) queries need `OutputMode.Append`. */
  def memorySink(df: DataFrame, name: String, mode: OutputMode): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  // ---------------------------------------------------------------------
  // The per-doc driver of the recovery step (lib.rs:58-104) shared by
  // every module
  // ---------------------------------------------------------------------

  /** One classified line for the per-doc state machine: pointwise columns
    * only (the same expressions as the batch path), ordering restored inside
    * the keyed state handler. tsOpt is None on an invalid date. */
  final case class SeqLine(
      doc_id: String,
      line_no: Long,
      status: Byte,
      handled: Boolean,
      typed_err: Boolean,
      rescue_a: Boolean,
      tsOpt: Option[Long],
      sid: Long,
      event_type: String,
      charge: Long,
      duration: Float,
      f_time: Float,
      subject: String,
      text: String,
      // classStats / healSpread fields (null/None outside their event types)
      class_str: String,
      target_kind: String,
      target_raw: String,
      dmgOpt: Option[Long],
      healingOpt: Option[Long]
  ) extends Recovery.Line with PlayerModules.ModuleLine with PlayerModules.ChatLine

  /** A doc's keyed state: the recovery control plus the module's own state. */
  final case class DocRun[S](ctl: Recovery.Ctl, state: S)

  /** The per-doc driver every sequential module runs on. Lines are keyed by
    * doc with flatMapGroupsWithState(Update, NoTimeout); within a micro-batch
    * they are sorted by line_no, and lines below the `nextLine` resume guard
    * (replays) are skipped. Cross-batch order is the source's file order, the
    * streaming contract for sequence logs. Each line goes through
    * [[Recovery.step]], whose control state the doc keeps, and stepping
    * stops at the doc's abort; a surviving handled line goes to `step` with
    * its doc-relative time, and `step` may emit rows at that line. After
    * the batch, a live doc emits those rows then `rows(doc, state, upTo)`;
    * a doc that aborted in this batch emits only `tombstone(doc, upTo)` --
    * rows stepped earlier in the batch are dropped -- and an already-aborted
    * doc emits nothing.
    * `upTo` is the lines-consumed watermark, monotone per doc.
    *
    * State bound: one state row per doc ever seen, never evicted (NoTimeout,
    * no watermark), so total state grows with the distinct docs of the
    * stream's lifetime; each row holds the control plus the module's maps,
    * which are bounded by the subjects of that doc. */
  private def perDoc[S: TypeTag, O <: Product: TypeTag](seq: DataFrame, init: S)(
      step: (String, S, SeqLine, Long, O => Unit) => S,
      rows: (String, S, Long) => Iterator[O],
      tombstone: (String, Long) => Iterator[O]
  ): DataFrame = {
    import seq.sparkSession.implicits._
    seq
      .as[SeqLine]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[DocRun[S], O](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (doc, lines, state) =>
          val prior = state.getOption.getOrElse(DocRun(Recovery.Ctl(), init))
          if (prior.ctl.aborted) Iterator.empty
          else {
            val atLine = scala.collection.mutable.ArrayBuffer.empty[O]
            var ctl = prior.ctl
            var st = prior.state
            val ordered = lines.toArray.sortBy(_.line_no).filter(_.line_no >= ctl.nextLine)
            var i = 0
            while (i < ordered.length && !ctl.aborted) {
              val l = ordered(i)
              i += 1
              val (next, lineStep) = Recovery.step(ctl, l)
              ctl = next
              lineStep.time.foreach(time => st = step(doc, st, l, time, atLine += _))
            }
            state.update(DocRun(ctl, st))
            if (ctl.aborted) tombstone(doc, ctl.nextLine)
            else atLine.iterator ++ rows(doc, st, ctl.nextLine)
          }
      }
      .toDF()
  }

  /** Classified streaming lines: the batch envelope, pointwise classifier
    * and typed-field flattening over a streaming reader (stateless ->
    * identical semantics), as the [[SeqLine]] primitives. */
  def sequencedStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(inputSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    TfPipeline
      .flattenTyped(TfPipeline.classifyPointwise(TfPipeline.envelope(reader.parquet(dir))))
      .select(
        col("doc_id"), col("line_no"), col("status"), col("handled"),
        col("typed_err"), col("rescue_a"), col("ts").as("tsOpt"),
        // sid is only read on handled rows; sentinel for non-OK lines
        coalesce(col("sid"), lit(-2L)).as("sid"),
        coalesce(col("event_type"), lit("")).as("event_type"),
        col("charge"), col("duration"), col("f_time"), col("subject"), col("text"), col("class_str"),
        col("target_kind"), col("target_raw"), col("dmg").as("dmgOpt"), col("healing").as("healingOpt")
      )
  }

  /** Latest emission per (doc, sid) from an accumulating (Update-mode) sink
    * table of any per-subject module, picked order-independently via the
    * monotone `up_to` watermark. */
  def latestRows(df: DataFrame): DataFrame = {
    val payload = df.columns.toSeq.filter(c => c != "doc_id" && c != "sid").map(col)
    df.groupBy(col("doc_id"), col("sid"))
      .agg(max_by(struct(payload: _*), col("up_to")).as("r"))
      .select(col("doc_id"), col("sid"), col("r.*"))
  }

  // ---------------------------------------------------------------------
  // The per-player modules: the steps of graft.pipeline.PlayerModules, the
  // same ones the batch per-doc passes fold
  // ---------------------------------------------------------------------

  final case class MedicRow(
      doc_id: String,
      sid: Long,
      aborted: Boolean,
      advantages_lost: Long,
      biggest_advantage_lost: Float,
      near_full_charge_death: Long,
      deaths_after_uber: Long,
      avg_time_before_healing: Float,
      avg_time_to_build: Float,
      avg_time_to_use: Float,
      avg_uber_length: Float,
      charge_count: Long,
      drops: Long,
      // lines-consumed watermark: monotone per key, so consumers can pick
      // the latest emission order-independently (max_by(_, up_to))
      up_to: Long
  )

  private def medicRow(doc: String, sid: Long, aborted: Boolean, m: MedicStats, upTo: Long): MedicRow =
    MedicRow(doc, sid, aborted, m.advantages_lost, m.biggest_advantage_lost, m.near_full_charge_death,
      m.deaths_after_uber, m.avg_time_before_healing, m.avg_time_to_build, m.avg_time_to_use,
      m.avg_uber_length, m.charge_count, m.drops, upTo)

  /** Streaming medic stats on the per-doc machine (state: medic sid ->
    * [[MedicAcc]]). Emits the current per-(doc, medic) stats every batch;
    * an aborted doc emits a single tombstone row (sid = -1, aborted = true)
    * and nothing after, mirroring the batch path's whole-doc exclusion. */
  def medicStatsStream(seq: DataFrame): DataFrame =
    perDoc[Map[Long, MedicAcc], MedicRow](seq, Map.empty)(
      step = (_, medics, l, time, _) => PlayerModules.medicStep(medics, l, time),
      rows = (doc, medics, upTo) =>
        medics.iterator.map { case (sid, a) => medicRow(doc, sid, aborted = false, PlayerModules.medicStats(a), upTo) },
      tombstone = (doc, upTo) => Iterator.single(medicRow(doc, -1L, aborted = true, PlayerModules.medicDefault, upTo))
    )

  final case class ClassRow(
      doc_id: String,
      sid: Long,
      aborted: Boolean,
      kills: Seq[Long],
      deaths: Seq[Long],
      assists: Seq[Long],
      damage: Seq[Long],
      up_to: Long
  )

  /** Streaming classStats on the per-doc machine (state: [[ClassDocState]]),
    * deaths bucket-keyed like the batch [[TfPipeline.classStats]]. */
  def classStatsStream(seq: DataFrame): DataFrame = {
    val zero = Vector.fill(10)(0L)
    perDoc[ClassDocState, ClassRow](seq, ClassDocState())(
      step = (_, st, l, _, _) => PlayerModules.classStep(st, l),
      rows = (doc, st, upTo) =>
        st.stats.iterator.map { case (sid, a) =>
          ClassRow(doc, sid, aborted = false, PlayerModules.saturate(a.kills), PlayerModules.saturate(a.deaths),
            PlayerModules.saturate(a.assists), PlayerModules.saturate(a.damage), upTo)
        },
      tombstone = (doc, upTo) =>
        Iterator.single(ClassRow(doc, -1L, aborted = true, zero, zero, zero, zero, upTo))
    )
  }

  /** heals rendered in target-account order as "[U:1:acct]:sum;..." -- the
    * same string shape as tf_per_player's flattened heals column, so the
    * driver query compares against the SAME sim expectation. */
  final case class HealRow(doc_id: String, sid: Long, aborted: Boolean, heals: String, up_to: Long)

  /** Streaming healSpread on the per-doc machine (state: healer sid ->
    * target account -> u32-wrapped sum). */
  def healSpreadStream(seq: DataFrame): DataFrame = {
    def render(m: Map[Long, Long]): String =
      m.toSeq.sorted.map { case (acct, v) => s"[U:1:$acct]:$v" }.mkString(";")

    perDoc[PlayerModules.Heals, HealRow](seq, Map.empty)(
      step = (_, heals, l, _, _) => PlayerModules.healStep(heals, l),
      rows = (doc, heals, upTo) =>
        heals.iterator.map { case (sid, m) => HealRow(doc, sid, aborted = false, render(m), upTo) },
      tombstone = (doc, upTo) => Iterator.single(HealRow(doc, -1L, aborted = true, "", upTo))
    )
  }

  /** A chat message of a doc, as the stream emits it. */
  final case class ChatRow(doc_id: String, msg: PlayerModules.ChatMessage)

  /** Streaming chat on the per-doc machine (state: the player intern of
    * [[PlayerModules.chatStep]], one entry per distinct player sid of the
    * doc -- its first-seen line and SubjectData): say/say_team
    * messages of player subjects with a player identity, emitted at their
    * line with doc-relative time, flattened to (doc_id, line_no, time, name,
    * steam_id, message, chat_type). Each message is emitted exactly once
    * (the resume guard makes re-emission impossible); a doc that aborts
    * mid-batch emits nothing for that batch and nothing after -- messages
    * emitted in EARLIER batches stand (the Update-mode sink cannot retract;
    * batch consumers drop aborted docs via the medic tombstones or the batch
    * universe). */
  def chatStream(seq: DataFrame): DataFrame =
    perDoc[PlayerModules.Subjects, ChatRow](seq, Map.empty)(
      step = (doc, subjects, l, time, emit) => PlayerModules.chatStep(subjects, l, time, m => emit(ChatRow(doc, m))),
      rows = (_, _, _) => Iterator.empty,
      tombstone = (_, _) => Iterator.empty
    ).select(col("doc_id"), col("msg.*"))
}
