package graft.pipeline

import graft.expr.{LineParser, Steam}

/** The per-player modules -- medic, classStats, healSpread and chat -- and
  * the subject intern, as the reference runs them: one state per doc and
  * one step per surviving handled line, in line order, with the line's
  * doc-relative u32 time (lib.rs:58-104). This is the only implementation
  * of the four modules, of the intern and of the deaths claim rule. The
  * batch pipeline folds them over the doc-clustered, line-sorted routed
  * frame ([[TfPipeline.perPlayerAssembled]], its module projections,
  * [[TfPipeline.subjectDim]] and [[TfPipeline.chatPass]]); the stream folds
  * them on its per-doc driver ([[graft.streaming.StreamingPipeline]]). The
  * states are immutable, so the stream can keep them as keyed state. */
object PlayerModules {

  /** The fields of a surviving line that the module steps read. */
  trait ModuleLine {
    def sid: Long
    def event_type: String
    def charge: Long
    def duration: Float
    def f_time: Float
    def class_str: String
    def target_kind: String
    def target_raw: String
    def dmgOpt: Option[Long]
    def healingOpt: Option[Long]
  }

  /** IEEE f32 division: NaN on 0/0, +Inf on n/0 -- the reference's averages
    * divide by possibly-zero f32 counts. */
  private def f32div(n: Float, d: Float): Float =
    if (d == 0f) { if (n == 0f) Float.NaN else Float.PositiveInfinity }
    else (n.toDouble / d.toDouble).toFloat

  // ---------------------------------------------------------------------
  // Medic (A7-A10, medicstats.rs)
  // ---------------------------------------------------------------------

  /** Per-medic accumulator. The f32 sums are kept in double and narrowed to
    * f32 once, at the division. */
  final case class MedicAcc(
      advantagesLost: Long = 0L,
      biggestAdv: Float = 0f,
      nearFull: Long = 0L,
      deathsAfterUber: Long = 0L,
      totalBeforeHeal: Double = 0d,
      healCount: Long = 0L,
      totalBuild: Long = 0L,
      buildCount: Long = 0L,
      totalUber: Double = 0d,
      chargeCount: Long = 0L,
      drops: Long = 0L,
      // the sequential bits: last FirstHeal time, a FirstHeal since the last
      // ChargeReady, last ChargeEnded time
      lastFhTime: Long = 0L,
      fhSinceLastCr: Boolean = false,
      uberEnd: Long = 0L
  )

  /** The per-player `medic` output struct. */
  final case class MedicStats(
      advantages_lost: Long,
      biggest_advantage_lost: Float,
      near_full_charge_death: Long,
      deaths_after_uber: Long,
      avg_time_before_healing: Float,
      avg_time_to_build: Float,
      avg_time_to_use: Float,
      avg_uber_length: Float,
      charge_count: Long,
      drops: Long
  )

  val medicDefault: MedicStats = MedicStats(0L, 0f, 0L, 0L, 0f, 0f, 0f, 0f, 0L, 0L)

  /** State: medic sid -> accumulator; every medic-typed line keys its subject. */
  def medicStep(medics: Map[Long, MedicAcc], l: ModuleLine, time: Long): Map[Long, MedicAcc] =
    if (!TfPipeline.MedicTypes.contains(l.event_type)) medics
    else {
      val a = medics.getOrElse(l.sid, MedicAcc())
      val b = l.event_type match {
        case "first_heal" =>
          a.copy(
            totalBeforeHeal = a.totalBeforeHeal + l.f_time,
            healCount = a.healCount + 1,
            lastFhTime = time,
            fhSinceLastCr = true
          )
        case "charge_ready" =>
          val consume = a.fhSinceLastCr && a.lastFhTime > 0
          a.copy(
            totalBuild = a.totalBuild + (if (consume) math.max(time - a.lastFhTime, 0L) else 0L),
            buildCount = a.buildCount + (if (consume) 1 else 0),
            fhSinceLastCr = false
          )
        case "charge_ended" =>
          a.copy(uberEnd = time, totalUber = a.totalUber + l.duration)
        case "charge_deployed" => a.copy(chargeCount = a.chargeCount + 1)
        case "advantage_lost" =>
          a.copy(
            advantagesLost = a.advantagesLost + 1,
            // only updated when the time exceeds the current one (a NaN
            // time never does)
            biggestAdv = if (l.f_time > a.biggestAdv) l.f_time else a.biggestAdv
          )
        case "medic_death" =>
          a.copy(
            nearFull = a.nearFull + (if (l.charge >= 95 && l.charge < 100) 1 else 0),
            deathsAfterUber = a.deathsAfterUber + (if (math.max(time - a.uberEnd, 0L) <= 10) 1 else 0),
            drops = a.drops + (if (l.charge >= 100) 1 else 0)
          )
        case _ => a
      }
      medics.updated(l.sid, b)
    }

  /** A medic's output: all zeros until its first FirstHeal. */
  def medicStats(a: MedicAcc): MedicStats =
    if (a.healCount == 0) medicDefault
    else
      MedicStats(
        a.advantagesLost, a.biggestAdv, a.nearFull, a.deathsAfterUber,
        f32div(a.totalBeforeHeal.toFloat, a.healCount.toFloat),
        f32div(a.totalBuild.toFloat, a.buildCount.toFloat),
        f32div(0f, a.chargeCount.toFloat), // never accrued (reference quirk)
        f32div(a.totalUber.toFloat, a.chargeCount.toFloat),
        a.chargeCount, a.drops
      )

  // ---------------------------------------------------------------------
  // classStats (A1-A4 + J3 as-of class + A13 round gate, classstats.rs)
  // ---------------------------------------------------------------------

  /** Per-beneficiary 10-cell accumulators (u64; the reference's u16
    * saturation is applied at emission by [[saturate]]). */
  final case class ClassAcc(
      kills: Vector[Long] = Vector.fill(10)(0L),
      deaths: Vector[Long] = Vector.fill(10)(0L),
      assists: Vector[Long] = Vector.fill(10)(0L),
      damage: Vector[Long] = Vector.fill(10)(0L)
  )

  /** Per-doc classStats state: the as-of entry table (sid -> normalized
    * class; "" = entry created by a kill target with its class still
    * unknown), the accumulators, and the round-active gate. */
  final case class ClassDocState(
      entries: Map[Long, String] = Map.empty,
      stats: Map[Long, ClassAcc] = Map.empty,
      active: Boolean = false
  )

  def saturate(v: Vector[Long]): Seq[Long] = v.map(x => if (x > 65535L) 65535L else x)

  private def clsIdx(entry: String): Int =
    if (entry == null || entry.isEmpty) LineParser.classIndex("unknown")
    else LineParser.classIndex(entry)

  private def killTargetSid(l: ModuleLine): Long = l.target_kind match {
    case "player"  => Steam.playerSubjectId(l.target_raw)
    case "console" => Steam.K_CONSOLE << 32
    case "team"    => (Steam.K_TEAM << 32) | 2L
    case _         => Steam.K_SYSTEM << 32
  }

  /** The reference's SEQUENTIAL as-of semantics (classstats.rs:61-109):
    * round_start/round_win toggle the gate; spawns and role changes set the
    * subject's class; an active kill creates the target's entry BEFORE the
    * class reads; deaths, assists and damage count only when the read
    * subject has an entry; consumers accumulate under the beneficiary.
    * Deaths are keyed by the kill target's interned id (the bucket; see
    * [[claims]] for the re-keying). */
  def classStep(prior: ClassDocState, l: ModuleLine): ClassDocState = {
    var st = prior
    def bump(sid: Long, pick: ClassAcc => ClassAcc): Unit = {
      val a = st.stats.getOrElse(sid, ClassAcc())
      st = st.copy(stats = st.stats.updated(sid, pick(a)))
    }
    l.event_type match {
      case "round_start" => st = st.copy(active = true)
      case "round_win"   => st = st.copy(active = false)
      case "spawned" | "role_change" =>
        if (l.class_str != null)
          st = st.copy(entries = st.entries.updated(l.sid, l.class_str))
      case "kill" if st.active =>
        val tsid = killTargetSid(l)
        // the attacker's class is read BEFORE the target entry is created
        // (classstats.rs:81-82) -- observable on a self-kill with no prior
        // entry; then the target entry is created and the kill is counted
        // under the target's as-of class
        val attackerEntry = st.entries.get(l.sid)
        if (!st.entries.contains(tsid))
          st = st.copy(entries = st.entries.updated(tsid, ""))
        val vIdx = clsIdx(st.entries(tsid))
        bump(l.sid, a => a.copy(kills = a.kills.updated(vIdx, a.kills(vIdx) + 1)))
        // the victim is a beneficiary either way; its death counts only when
        // the ATTACKER had an entry (its class may still be unknown) --
        // classstats.rs:83-86
        attackerEntry match {
          case Some(ac) =>
            val aIdx = clsIdx(ac)
            bump(tsid, a => a.copy(deaths = a.deaths.updated(aIdx, a.deaths(aIdx) + 1)))
          case None => bump(tsid, identity)
        }
      case "kill_assist" if st.active =>
        // the assister is a beneficiary even when the target has no entry
        val counted = l.target_raw != null && {
          val t = Steam.againstSubjectId(l.target_raw)
          st.entries.contains(t) && {
            val tIdx = clsIdx(st.entries(t))
            bump(l.sid, a => a.copy(assists = a.assists.updated(tIdx, a.assists(tIdx) + 1)))
            true
          }
        }
        if (!counted) bump(l.sid, identity)
      case "damage" if st.active =>
        val d = l.dmgOpt.getOrElse(0L)
        if (d > 0 && d < 1500) {
          // a missing `against` defaults the target to System("unknown")
          // (player.rs:19-21); its class resolves only if a kill ever
          // created a System entry
          val t =
            if (l.target_raw == null) Steam.K_SYSTEM << 32
            else Steam.againstSubjectId(l.target_raw)
          if (st.entries.contains(t)) {
            val tIdx = clsIdx(st.entries(t))
            bump(l.sid, a => a.copy(damage = a.damage.updated(tIdx, a.damage(tIdx) + d)))
          } else bump(l.sid, identity)
        }
      case _ =>
    }
    st
  }

  // ---------------------------------------------------------------------
  // healSpread (A5, healspread.rs:20-33)
  // ---------------------------------------------------------------------

  /** State: healer sid -> target account -> u32-wrapped healing sum. */
  type Heals = Map[Long, Map[Long, Long]]

  /** `healed` lines whose `against` target is a PLAYER add the healing
    * amount (absent -> 0) under (healer, target account), wrapping at u32;
    * a missing `against` is a no-op. */
  def healStep(heals: Heals, l: ModuleLine): Heals =
    if (l.event_type != "healed" || l.target_raw == null) heals
    else {
      val t = Steam.againstSubjectId(l.target_raw)
      if (Steam.packedKind(t) != Steam.K_PLAYER.toInt) heals
      else {
        val acct = t & 0xffffffffL
        val m = heals.getOrElse(l.sid, Map.empty[Long, Long])
        val next = (m.getOrElse(acct, 0L) + l.healingOpt.getOrElse(0L)) & 0xffffffffL
        heals.updated(l.sid, m.updated(acct, next))
      }
    }

  // ---------------------------------------------------------------------
  // Subject intern (subjectmap.rs:37-46) and the deaths claim rule
  // ---------------------------------------------------------------------

  /** The fields of a surviving line that the intern reads. */
  trait SubjectLine {
    def line_no: Long
    def sid: Long
    def subject: String
  }

  /** A subject's first-seen line and the SubjectData of that line's raw. */
  final case class Interned(firstLine: Long, data: Steam.SubjectData)

  /** State: sid -> its first-seen line and SubjectData. Bounded by the
    * distinct sids the caller interns in one doc. */
  type Subjects = Map[Long, Interned]

  /** The intern step (subjectmap.rs:37-46): the first line of a sid
    * records its line and resolves its raw with [[Steam.subjectData]];
    * later lines of that sid change nothing (first-seen wins). The state
    * grows by one entry per distinct sid interned in the doc. */
  def intern(subjects: Subjects, l: SubjectLine): Subjects =
    if (subjects.contains(l.sid)) subjects
    else subjects.updated(l.sid, Interned(l.line_no, Steam.subjectData(l.sid, l.subject)))

  /** [[intern]] of player sids only (SubjectId::steam_id() is Some): the
    * subjects that reach the per-player output and chat. */
  def internPlayer(subjects: Subjects, l: SubjectLine): Subjects =
    if (Steam.packedKind(l.sid) != Steam.K_PLAYER.toInt) subjects else intern(subjects, l)

  /** The claim rule of the reference's classstats finalize
    * (classstats.rs:113-120 + lib.rs:106-115): deaths accumulate under the
    * kill target's interned id (the bucket), and each player retrieves one
    * with `self.data.remove(&subject.id())`, a remove-once lookup by its
    * SubjectData id (`deathKey`). When two players contend for a bucket the
    * reference's winner follows its seed-random AHashMap; here the least
    * (first line, sid) wins -- the deterministic choice, the residual class
    * of the MalformedPlayer hash. `players`: (sid, first line, death key);
    * other kinds and a None key claim nothing. Returns bucket -> claimant. */
  def claims(players: Iterator[(Long, Long, Option[Long])]): Map[Long, Long] =
    players
      .collect { case (sid, first, Some(bkey)) if Steam.packedKind(sid) == Steam.K_PLAYER.toInt => bkey -> (first, sid) }
      .toSeq
      .groupMapReduce(_._1)(_._2)((a, b) => Ordering[(Long, Long)].min(a, b))
      .map { case (bkey, (_, sid)) => bkey -> sid }

  /** The two sides of [[TfPipeline.claimDeaths]]: a dim row as [[claims]]
    * reads it, and a deaths bucket (`sid` = the bucket key). */
  final case class Claimant(sid: Long, first_line: Long, death_key: Option[Long])
  final case class Bucket(sid: Long, deaths: Seq[Long])

  // ---------------------------------------------------------------------
  // Chat (A6 + J2, chat.rs:57-77)
  // ---------------------------------------------------------------------

  /** The fields of a surviving line that the chat step reads. */
  trait ChatLine extends SubjectLine {
    def event_type: String
    def text: String
  }

  /** One chat message; `line_no` orders the messages of a doc. */
  final case class ChatMessage(
      line_no: Long,
      time: Long,
      name: String,
      steam_id: Long,
      message: String,
      chat_type: String
  )

  /** Interns each player subject ([[internPlayer]]), then emits a
    * say/say_team line of a player subject whose SubjectData is a player,
    * with that identity. Only player subjects can emit (F2), so the state
    * holds the distinct player sids of one doc. */
  def chatStep(subjects: Subjects, l: ChatLine, time: Long, emit: ChatMessage => Unit): Subjects = {
    val next = internPlayer(subjects, l)
    if (l.event_type == "say" || l.event_type == "say_team")
      next.get(l.sid).map(_.data).filter(_.dataKind == 1).foreach { sd =>
        emit(ChatMessage(l.line_no, time, sd.name, sd.steam64Text.get, Option(l.text).getOrElse(""),
          if (l.event_type == "say") "All" else "Team"))
      }
    next
  }

  // ---------------------------------------------------------------------
  // The batch folds
  // ---------------------------------------------------------------------

  /** A surviving routed line: [[TfPipeline.routed]]'s module and intern
    * columns. */
  final case class RoutedLine(
      line_no: Long,
      time: Long,
      sid: Long,
      subject: String,
      event_type: String,
      charge: Long,
      duration: Float,
      f_time: Float,
      class_str: String,
      target_kind: String,
      target_raw: String,
      dmgOpt: Option[Long],
      healingOpt: Option[Long]
  ) extends ModuleLine with SubjectLine

  /** A surviving routed line: [[TfPipeline.routed]]'s chat columns. */
  final case class ChatRoutedLine(line_no: Long, time: Long, sid: Long, event_type: String, subject: String,
      text: String) extends ChatLine

  /** A surviving routed line: [[TfPipeline.routed]]'s intern columns. */
  final case class SubjectRoutedLine(line_no: Long, sid: Long, subject: String) extends SubjectLine

  /** One doc's chat, the messages in line order. */
  final case class DocChat(doc_id: String, chat: Seq[ChatMessage])

  /** Fold the chat step over one doc's lines, given in line order; a doc
    * without messages emits no row. */
  def chatDoc(doc: String, lines: Iterator[ChatRoutedLine]): Iterator[DocChat] = {
    var subjects: Subjects = Map.empty
    val msgs = Vector.newBuilder[ChatMessage]
    lines.foreach(l => subjects = chatStep(subjects, l, l.time, msgs += _))
    val chat = msgs.result()
    if (chat.isEmpty) Iterator.empty else Iterator.single(DocChat(doc, chat))
  }

  /** One row of the subject dimension: a subject of a doc, its first-seen
    * line and that line's SubjectData (`death_key` None = a deterministic
    * miss). */
  final case class SubjectRow(doc_id: String, sid: Long, data_kind: Int, name: String, steam64_text: Option[Long],
      first_line: Long, death_key: Option[Long])

  /** Fold only the intern over one doc's lines, given in line order: one
    * row per distinct sid of the doc. */
  def subjectRows(doc: String, lines: Iterator[SubjectRoutedLine]): Iterator[SubjectRow] =
    lines.foldLeft(Map.empty: Subjects)(intern).iterator.map { case (sid, Interned(first, sd)) =>
      SubjectRow(doc, sid, sd.dataKind, sd.name, sd.steam64Text, first, sd.deathKey)
    }

  /** The medic, classStats, healSpread and player-intern states of one doc
    * after its last line. */
  final case class DocModules(medics: Map[Long, MedicAcc], cls: ClassDocState, heals: Heals, players: Subjects)

  /** Fold those three modules and [[internPlayer]] over one doc's lines,
    * given in line order. */
  def foldDoc(lines: Iterator[RoutedLine]): DocModules = {
    var medics = Map.empty[Long, MedicAcc]
    var cls = ClassDocState()
    var heals: Heals = Map.empty
    var players: Subjects = Map.empty
    lines.foreach { l =>
      medics = medicStep(medics, l, l.time)
      cls = classStep(cls, l)
      heals = healStep(heals, l)
      players = internPlayer(players, l)
    }
    DocModules(medics, cls, heals, players)
  }

  private def healMap(m: Map[Long, Long]): Map[Long, Long] =
    scala.collection.immutable.TreeMap(m.toSeq: _*) // in target-account order

  /** One subject of one doc after the fold. A module column is None when
    * the module emits no row for the subject. */
  final case class ModuleRow(
      doc_id: String,
      sid: Long,
      kills: Option[Seq[Long]],
      deaths: Option[Seq[Long]],
      assists: Option[Seq[Long]],
      damage: Option[Seq[Long]],
      heals_by_account: Option[Map[Long, Long]],
      medic: Option[MedicStats]
  )

  /** Every subject any module keys, with the module outputs; deaths stay
    * keyed by bucket. */
  def moduleRows(doc: String, m: DocModules): Iterator[ModuleRow] =
    (m.cls.stats.keySet ++ m.heals.keySet ++ m.medics.keySet).iterator.map { sid =>
      val c = m.cls.stats.get(sid)
      ModuleRow(
        doc, sid,
        c.map(a => saturate(a.kills)), c.map(a => saturate(a.deaths)),
        c.map(a => saturate(a.assists)), c.map(a => saturate(a.damage)),
        m.heals.get(sid).map(healMap), m.medics.get(sid).map(medicStats)
      )
    }

  final case class PlayerRow(
      doc_id: String,
      sid: Long,
      name: String,
      kills: Seq[Long],
      deaths: Seq[Long],
      assists: Seq[Long],
      damage: Seq[Long],
      heals_by_account: Map[Long, Long],
      medic: MedicStats
  )

  /** One row per interned player of the doc, named by its SubjectData,
    * zeros where a module has none. A player's deaths are those of the
    * bucket it claims ([[claims]]), so an unclaimed bucket's deaths are
    * dropped (classstats.rs:113-120). */
  def playerRows(doc: String, m: DocModules): Iterator[PlayerRow] = {
    val claimed = claims(m.players.iterator.map { case (sid, p) => (sid, p.firstLine, p.data.deathKey) })
      .map(_.swap) // claimant -> bucket
    val none = ClassAcc()
    def cells(sid: Long): ClassAcc = m.cls.stats.getOrElse(sid, none)
    m.players.iterator.map { case (sid, p) =>
      val c = cells(sid)
      PlayerRow(
        doc, sid, p.data.name,
        saturate(c.kills), saturate(claimed.get(sid).fold(none)(cells).deaths),
        saturate(c.assists), saturate(c.damage),
        m.heals.get(sid).fold(Map.empty[Long, Long])(healMap),
        m.medics.get(sid).fold(medicDefault)(medicStats)
      )
    }
  }
}
