package graft.sim

import graft.expr.{LineParser, Steam}
import scala.collection.mutable

/** Single-threaded reference simulator: a faithful re-implementation of the
  * reference's parse() pipeline (lib.rs:42-120 + the four default modules)
  * used as the oracle for the distributed pipeline's golden tests. Reuses the
  * unit-tested LineParser/Steam kernels for grammar-level parity; everything
  * above them (interning, recovery, module state machines, finalization) is
  * re-derived from the reference sources cited in SURVEY.md §2.
  */
object ReferenceSim {

  val HandledTypes: Set[String] = Set(
    "say", "say_team", // chat.rs:53-55
    "healed", // healspread.rs:16-18
    "charge_deployed", "charge_ended", "charge_ready", "advantage_lost",
    "medic_death", "first_heal", // medicstats.rs:64-74
    "kill", "kill_assist", "damage", "spawned", "role_change", "round_win",
    "round_start" // classstats.rs:48-59
  )

  final case class MedicOut(
      advantagesLost: Long,
      biggestAdvantageLost: Float,
      nearFullChargeDeath: Long,
      deathsAfterUber: Long,
      avgTimeBeforeHealing: Float,
      avgTimeToBuild: Float,
      avgTimeToUse: Float,
      avgUberLength: Float,
      chargeCount: Long,
      drops: Long
  )
  val MedicDefault: MedicOut = MedicOut(0, 0f, 0, 0, 0f, 0f, 0f, 0f, 0, 0)

  final case class PlayerOut(
      account: Long,
      steam3: String,
      steam64: Long,
      kills: Array[Long],
      deaths: Array[Long],
      assists: Array[Long],
      damage: Array[Long],
      heals: Seq[(String, Long)], // target steam3 -> healing, ordered by steam64
      medic: MedicOut,
      /** The distributed engine's float shape: identical semantics, but
        * f32 sums accumulate in double (order-independent and exact for this
        * value range) and round to f32 once -- what TfPipeline.medicStats
        * computes, bit-for-bit, so driver hash-compares can be exact. */
      medicEngine: MedicOut
  )

  final case class ChatMsg(time: Long, name: String, steam64: Long, message: String, chatType: String, lineNo: Long)

  /** Interned subject (J1 dimension row): packed sid, SubjectData kind
    * (1 player / 2 bot / 3 malformed / packed kind), first-seen name,
    * steam64 (-1 when not a player), first surviving line. */
  final case class SubjRow(sid: Long, dataKind: Int, name: String, steam64: Long, firstLine: Long)

  final case class SimResult(
      chat: Vector[ChatMsg],
      perPlayer: Vector[PlayerOut], // ordered by steam64
      hardError: Boolean,
      handledCount: Long,
      subjects: Vector[SubjRow] // insertion (first-seen) order
  )

  /** MM/DD/YYYY - HH:MM:SS -> epoch seconds; None on malformed or invalid
    * calendar dates (chrono NaiveDate validation). Shares the exact kernel
    * the distributed parse uses (LineParser.dateEpoch) so sim and engine
    * cannot drift on date edge cases. */
  private def epochOpt(date: String): Option[Long] = {
    val ep = LineParser.dateEpoch(date)
    if (ep == Long.MinValue) None else Some(ep)
  }

  /** The reference's recovery-path `try_into().unwrap_or(timestamp(0,0))`. */
  private def epochOr0(date: String): Long = epochOpt(date).getOrElse(0L)

  private def u32wrap(v: Long): Long = v & 0xffffffffL
  private def satSub(a: Long, b: Long): Long = if (a > b) a - b else 0L

  /** Typed-parse of a handled event: returns (fields, error). */
  final class Typed(val m: Map[String, String], val error: Boolean)

  def typedParse(eventType: String, params: String): Typed = {
    val p = LineParser.paramsFor(eventType, params)
    val err = p.error || LineParser.typedError(eventType, p.keys, p.values)
    val m = {
      val b = mutable.LinkedHashMap.empty[String, String]
      var i = 0
      while (i < p.keys.length) { b(p.keys(i)) = p.values(i); i += 1 }
      b.toMap
    }
    new Typed(m, err)
  }

  private final class MedicBuf {
    var advantagesLost = 0L
    var biggest = 0f
    var nearFull = 0L
    var deathsAfterUber = 0L
    var totalTimeBeforeHealing = 0f
    var totalTimeBeforeHealingD = 0.0 // engine-shape double accumulator
    var startHealingCount = 0L
    var totalTimeToBuild = 0L
    var uberBuildCount = 0L
    var totalUberLength = 0f
    var totalUberLengthD = 0.0 // engine-shape double accumulator
    var chargeCount = 0L
    var lastBuildStart = 0L
    var lastUberEnd = 0L
    var drops = 0L
  }

  /** TfPipeline.f32div twin: cast both sides double->f32, divide (Spark
    * promotes to double), narrow to f32; 0/0 -> NaN, n/0 -> +Inf. */
  private def f32div(n: Double, d: Double): Float = {
    val nf = n.toFloat
    val df = d.toFloat
    if (df == 0f) { if (nf == 0f) Float.NaN else Float.PositiveInfinity }
    else (nf.toDouble / df.toDouble).toFloat
  }

  private final class SubjData(
      val kind: Int, // packed kind
      val name: String, // first-seen
      val steam64FromText: Long, // -1 if not a player per SubjectData
      val firstLine: Long,
      // packed SubjectData::id() (common.rs:285-295) -- the classstats
      // finalize deaths-lookup key (classstats.rs:119); -1 = deterministic
      // miss (MalformedPlayer: its ahash id can never equal an interned
      // bucket key, because the same raw interned as Player/Bot instead)
      val dataKey: Long
  )

  def run(lines: IndexedSeq[String]): SimResult = {
    // per-subject state keyed by packed SubjectId
    val subjects = mutable.LinkedHashMap.empty[Long, SubjData]
    val heal = mutable.Map.empty[Long, mutable.Map[Long, Long]] // sid -> target account -> sum
    val medic = mutable.Map.empty[Long, MedicBuf]
    val kills = mutable.Map.empty[Long, Array[Long]]
    val assists = mutable.Map.empty[Long, Array[Long]]
    val damage = mutable.Map.empty[Long, Array[Long]]
    // ClassStatsHandler.data: entry presence matters (classstats.rs:30-41)
    val classData = mutable.Map.empty[Long, (String, Array[Long])] // sid -> (class, deaths)
    var active = false
    val chatBuf = mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
    var startTime: Option[Long] = None
    var handledCount = 0L

    def arr(m: mutable.Map[Long, Array[Long]], k: Long): Array[Long] =
      m.getOrElseUpdate(k, new Array[Long](10))
    def satAdd16(a: Array[Long], i: Int, v: Long): Unit =
      a(i) = math.min(65535L, a(i) + v)

    var i = 0
    var hardError = false
    var break = false
    while (i < lines.length && !break && !hardError) {
      val line = lines(i)
      val lineNo = i.toLong
      i += 1
      val raw = LineParser.parse(line)
      if (raw.status == LineParser.MALFORMED) { hardError = true }
      else if (raw.status == LineParser.OK && HandledTypes.contains(raw.eventType)) {
        val typed = typedParse(raw.eventType, raw.params)
        if (typed.error) {
          // recovery (lib.rs:68-99)
          val sameDateStart = "L " + raw.date.substring(0, 10)
          if (raw.params.contains(sameDateStart)) {
            // ignore silently
          } else if (i >= lines.length) { break = true }
          else {
            val next = LineParser.parse(lines(i))
            i += 1 // next line consumed in both outcomes
            if (next.status == LineParser.OK && epochOr0(next.date) - epochOr0(raw.date) > 60) {
              // ignore both
            } else hardError = true
          }
        } else if (epochOpt(raw.date).isEmpty) {
          // process-path date `unwrap()` panic (module/mod.rs:38)
          hardError = true
        } else {
          // process (module/mod.rs:30-52)
          handledCount += 1
          val ts = epochOpt(raw.date).get
          val time = startTime match {
            case Some(st) => u32wrap(ts - st)
            case None     => startTime = Some(ts); 0L
          }
          val sid = Steam.subjectId(raw.kind, raw.subject)
          if (!subjects.contains(sid)) {
            val sd =
              if (raw.kind == LineParser.KIND_PLAYER) {
                val parts = Steam.splitPlayerSubject(raw.subject)
                if (parts != null) {
                  // from_steam3 orElse from_steam2 (common.rs:315-316)
                  val acct = {
                    val a3 = Steam.steam3Account(parts(2))
                    if (a3 >= 0) a3 else Steam.steam2Account(parts(2))
                  }
                  // plain u16 parse (no clamp): error -> MalformedPlayer.
                  // Rust's u16::from_str: an optional '+', then ASCII digits
                  // only (not the other Unicode decimal digits that
                  // isDigit/parseLong accept), leading zeros allowed
                  val uid =
                    if (!parts(1).matches("\\+?[0-9]+")) None
                    else Some(BigInt(parts(1).stripPrefix("+"))).filter(_ <= 65535).map(_.toLong)
                  if (acct >= 0 && uid.isDefined)
                    new SubjData(1, parts(0), Steam.steam64(acct), lineNo, (Steam.K_PLAYER << 32) | acct)
                  else if (uid.isDefined) // Bot
                    new SubjData(2, parts(0), -1L, lineNo, (Steam.K_BOT << 32) | uid.get)
                  else new SubjData(3, raw.subject, -1L, lineNo, -1L) // MalformedPlayer
                } else new SubjData(3, raw.subject, -1L, lineNo, -1L)
              } else new SubjData(Steam.packedKind(sid), raw.subject, -1L, lineNo, sid)
            subjects(sid) = sd
          }
          val m = typed.m

          raw.eventType match {
            // ---- chat (chat.rs:57-77)
            case "say" | "say_team" =>
              if (Steam.packedKind(sid) == 1)
                chatBuf += ((time, sid, m("_text"), if (raw.eventType == "say") "All" else "Team", lineNo))

            // ---- heal spread (healspread.rs:20-33)
            case "healed" =>
              m.get("against").foreach { t =>
                val tsid = Steam.againstSubjectId(t)
                if (Steam.packedKind(tsid) == 1) {
                  val amount = m.get("healing").map(LineParser.clampParse(_, 4294967295L).longValue()).getOrElse(0L)
                  val hm = heal.getOrElseUpdate(sid, mutable.Map.empty)
                  hm(Steam.packedValue(tsid)) = u32wrap(hm.getOrElse(Steam.packedValue(tsid), 0L) + amount)
                }
              }

            // ---- medic (medicstats.rs:76-118)
            case "charge_ended" =>
              val b = medic.getOrElseUpdate(sid, new MedicBuf)
              val dur = m.get("duration").map(LineParser.parseF32(_).floatValue()).getOrElse(0f)
              b.totalUberLength += dur
              b.totalUberLengthD += dur.toDouble
              b.lastUberEnd = time
            case "charge_deployed" =>
              medic.getOrElseUpdate(sid, new MedicBuf).chargeCount += 1
            case "advantage_lost" =>
              val b = medic.getOrElseUpdate(sid, new MedicBuf)
              b.advantagesLost += 1
              val tv = m.get("time").map(LineParser.parseF32(_).floatValue()).getOrElse(0f)
              if (tv > b.biggest) b.biggest = tv
            case "first_heal" =>
              val b = medic.getOrElseUpdate(sid, new MedicBuf)
              val tv = m.get("time").map(LineParser.parseF32(_).floatValue()).getOrElse(0f)
              b.totalTimeBeforeHealing += tv
              b.totalTimeBeforeHealingD += tv.toDouble
              b.startHealingCount += 1
              b.lastBuildStart = time
            case "charge_ready" =>
              val b = medic.getOrElseUpdate(sid, new MedicBuf)
              if (b.lastBuildStart > 0) {
                b.totalTimeToBuild += satSub(time, b.lastBuildStart)
                b.lastBuildStart = 0
                b.uberBuildCount += 1
              }
            case "medic_death" =>
              val b = medic.getOrElseUpdate(sid, new MedicBuf)
              val charge = m.get("ubercharge").map(LineParser.clampParse(_, 4294967295L).longValue()).getOrElse(0L)
              if (charge >= 95 && charge < 100) b.nearFull += 1
              else if (charge >= 100) b.drops += 1
              if (satSub(time, b.lastUberEnd) <= 10) b.deathsAfterUber += 1

            // ---- class stats (classstats.rs:61-109)
            case "spawned" | "role_change" =>
              val key = if (raw.eventType == "spawned") "as" else "to"
              m.get(key).foreach { c =>
                val cls = LineParser.classNormalize(c)
                val cur = classData.getOrElse(sid, ("unknown", new Array[Long](10)))
                classData(sid) = (cls, cur._2)
              }
            case "round_start" => active = true
            case "round_win"   => active = false
            case "kill" if active =>
              val tsid = m("_target_kind") match {
                case "player"  => Steam.playerSubjectId(m("_target"))
                case "console" => Steam.K_CONSOLE << 32
                case "team"    => (Steam.K_TEAM << 32) | 2L // spectator arm
                case _         => Steam.K_SYSTEM << 32
              }
              val subjectClass = classData.get(sid).map(_._1) // before target insert
              val targetData = classData.getOrElseUpdate(tsid, ("unknown", new Array[Long](10)))
              subjectClass.foreach { sc =>
                satAdd16(targetData._2, LineParser.classIndex(sc), 1)
              }
              satAdd16(arr(kills, sid), LineParser.classIndex(targetData._1), 1)
            case "kill_assist" if active =>
              val tsid = Steam.againstSubjectId(m("_target"))
              classData.get(tsid).foreach { case (cls, _) =>
                satAdd16(arr(assists, sid), LineParser.classIndex(cls), 1)
              }
            case "damage" if active =>
              m.get("damage")
                .map(LineParser.clampParseSigned(_, Long.MinValue, Long.MaxValue).longValue())
                .filter(d => d > 0 && d < 1500)
                .foreach { d =>
                  // missing `against` -> default System("unknown") target
                  val tsid = m
                    .get("against")
                    .map(Steam.againstSubjectId)
                    .getOrElse(Steam.K_SYSTEM << 32)
                  classData.get(tsid).foreach { case (cls, _) =>
                    satAdd16(arr(damage, sid), LineParser.classIndex(cls), d)
                  }
                }
            case _ => // kill/assist/damage outside active rounds: ignored
          }
        }
      }
    }

    if (hardError) return SimResult(Vector.empty, Vector.empty, hardError = true, handledCount, Vector.empty)

    // ---- finalize (lib.rs:106-119) --------------------------------------
    // deaths retrieval: `self.data.remove(&subject.id())` (classstats.rs:119)
    // -- a remove-once lookup keyed by the SubjectData-derived id, claimed in
    // subject first-seen order (the reference's own iteration order is its
    // seed-random AHashMap; first-seen is the deterministic stand-in, same
    // residual class as the MalformedPlayer hash substitution)
    val perPlayer = subjects.iterator
      .filter { case (sid, _) => Steam.packedKind(sid) == 1 } // SubjectId::steam_id() is Some
      .map { case (sid, sd) =>
        val acct = Steam.packedValue(sid)
        val claimedDeaths =
          if (sd.dataKey == -1L) new Array[Long](10)
          else classData.remove(sd.dataKey).map(_._2).getOrElse(new Array[Long](10))
        val mOut = medic.get(sid) match {
          case Some(b) if b.startHealingCount > 0 =>
            MedicOut(
              b.advantagesLost,
              b.biggest,
              b.nearFull,
              b.deathsAfterUber,
              b.totalTimeBeforeHealing / b.startHealingCount,
              b.totalTimeToBuild.toFloat / b.uberBuildCount,
              0f / b.chargeCount, // total_time_to_use is never accrued (reference quirk)
              b.totalUberLength / b.chargeCount,
              b.chargeCount,
              b.drops
            )
          case _ => MedicDefault
        }
        val mEng = medic.get(sid) match {
          case Some(b) if b.startHealingCount > 0 =>
            MedicOut(
              b.advantagesLost,
              b.biggest,
              b.nearFull,
              b.deathsAfterUber,
              f32div(b.totalTimeBeforeHealingD, b.startHealingCount.toDouble),
              f32div(b.totalTimeToBuild.toDouble, b.uberBuildCount.toDouble),
              f32div(0.0, b.chargeCount.toDouble),
              f32div(b.totalUberLengthD, b.chargeCount.toDouble),
              b.chargeCount,
              b.drops
            )
          case _ => MedicDefault
        }
        val heals = heal
          .getOrElse(sid, mutable.Map.empty)
          .toSeq
          .sortBy(_._1) // account order == steam64 order
          .map { case (acc, v) => (Steam.steam3(acc), v) }
        PlayerOut(
          acct,
          Steam.steam3(acct),
          Steam.steam64(acct),
          kills.getOrElse(sid, new Array[Long](10)),
          claimedDeaths,
          assists.getOrElse(sid, new Array[Long](10)),
          damage.getOrElse(sid, new Array[Long](10)),
          heals,
          mOut,
          mEng
        )
      }
      .toVector
      .sortBy(_.steam64)

    val chat = chatBuf.iterator.flatMap { case (time, sid, msg, ct, lineNo) =>
      subjects.get(sid) match {
        case Some(sd) if sd.kind == 1 =>
          Some(ChatMsg(time, sd.name, sd.steam64FromText, msg, ct, lineNo))
        case _ => None
      }
    }.toVector

    val subjRows = subjects.iterator.map { case (sid, sd) =>
      SubjRow(sid, sd.kind, sd.name, sd.steam64FromText, sd.firstLine)
    }.toVector

    SimResult(chat, perPlayer, hardError = false, handledCount, subjRows)
  }
}
