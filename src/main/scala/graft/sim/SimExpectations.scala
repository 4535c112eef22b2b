package graft.sim

import graft.expr.{LineParser, Steam}

import scala.collection.mutable

/** Sequential expectation builders for the driver's tf_* oracle twins: each
  * function computes, in plain single-threaded Scala, the EXACT flattened
  * rows the corresponding distributed query in SparkEntry must produce.
  *
  * Authority: the same sequential machinery (ReferenceSim + the LineParser
  * kernels) reproduces the reference's 5 committed real-log snapshots
  * bit-for-bit (RealLogGoldenSpec), so these expectations are anchored to
  * the reference itself, not to the Spark code under test.
  *
  * The route/drop classification here replicates the reference's SEQUENTIAL
  * consumption loop (lib.rs:58-104) directly, with its own code;
  * TfPipeline.routable runs graft.pipeline.Recovery.step, the pipeline's one
  * implementation of that loop, and ClassificationSpec asserts the two
  * agree (including adjacent-error chains).
  */
object SimExpectations {

  import LineParser.{MALFORMED, OK}

  private def epochOpt(date: String): Option[Long] = {
    // the shared parse kernel (fixed offsets + chrono-style calendar checks)
    val ep = LineParser.dateEpoch(date)
    if (ep == Long.MinValue) None else Some(ep)
  }

  /** Canonical "x y z" (i32-clamped) or null -- Kernels.parsePosition twin. */
  def posStr(v: String): String = {
    if (v == null) return null
    val a = v.indexOf(' ')
    if (a < 0) return null
    val b = v.indexOf(' ', a + 1)
    if (b < 0) return null
    val x = LineParser.clampParseSigned(v.substring(0, a), Int.MinValue, Int.MaxValue)
    val y = LineParser.clampParseSigned(v.substring(a + 1, b), Int.MinValue, Int.MaxValue)
    val z = LineParser.clampParseSigned(v.substring(b + 1), Int.MinValue, Int.MaxValue)
    if (x == null || y == null || z == null) null
    else s"${x.intValue()} ${y.intValue()} ${z.intValue()}"
  }

  private def lastWins(p: LineParser.Params): Map[String, String] = {
    val b = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < p.keys.length) { b(p.keys(i)) = p.values(i); i += 1 }
    b.toMap
  }

  // -------------------------------------------------------------------------
  // Route classification (TfPipeline.routable twin, sequential)
  // -------------------------------------------------------------------------

  final case class LineClass(
      status: Byte,
      raw: LineParser.Raw,
      ts: Option[Long],
      handled: Boolean,
      typedErr: Boolean,
      route: String
  )

  /** Sequential replica of lib.rs:58-104's consumption loop: a consumed
    * line is never evaluated (its own error, if any, is inert) and cannot
    * consume its successor -- the recurrence Recovery.step runs for
    * TfPipeline.routable. Invalid dates use the reference's
    * `unwrap_or(timestamp(0))` in the >60s comparison. */
  def classify(lines: IndexedSeq[String]): Vector[LineClass] = {
    val n = lines.length
    val raws = lines.map(LineParser.parse).toArray
    val ts = raws.map(r => if (r.status == OK) epochOpt(r.date) else None)
    val handled = raws.map(r => r.status == OK && ReferenceSim.HandledTypes.contains(r.eventType))
    val typedErr = Array.tabulate(n) { i =>
      handled(i) && ReferenceSim.typedParse(raws(i).eventType, raws(i).params).error
    }
    val rescueA = Array.tabulate(n) { i =>
      typedErr(i) && raws(i).params.contains("L " + raws(i).date.substring(0, 10))
    }
    val consumed = new Array[Boolean](n)
    val hard = new Array[Boolean](n)
    val drop = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (raws(i).status == MALFORMED) hard(i) = true // Err in loop OR in consumption
      if (consumed(i)) drop(i) = true // inert: never evaluated
      else if (typedErr(i)) {
        drop(i) = true
        if (!rescueA(i) && i + 1 < n) {
          consumed(i + 1) = true
          val nextOk = raws(i + 1).status == OK
          val bigGap = nextOk &&
            ts(i + 1).getOrElse(0L) - ts(i).getOrElse(0L) > 60
          if (!bigGap) hard(i) = true
        } // rescue_a or end-of-log: silently dropped
      } else if (handled(i) && ts(i).isEmpty) {
        hard(i) = true // process-path date unwrap() panic
      }
      i += 1
    }
    Vector.tabulate(n) { i =>
      val route =
        if (hard(i)) "__error"
        else if (raws(i).status != OK) "__skip"
        else if (drop(i)) "__dropped"
        else raws(i).eventType
      LineClass(raws(i).status, raws(i), ts(i), handled(i), typedErr(i), route)
    }
  }

  /** Subjects with at least one SURVIVING medic-typed line (the universe the
    * streaming medic module emits), from the sequential classification. */
  def medicActiveSids(lines: IndexedSeq[String]): Set[Long] =
    classify(lines).iterator
      .filter(lc => graft.pipeline.TfPipeline.MedicTypes.contains(lc.route))
      .map(lc => graft.expr.Steam.subjectId(lc.raw.kind, lc.raw.subject))
      .toSet

  /** tf_route_counts accumulator: route -> n. */
  def routeCounts(lines: IndexedSeq[String], acc: mutable.Map[String, Long]): Unit =
    classify(lines).foreach(c => acc(c.route) = acc.getOrElse(c.route, 0L) + 1L)

  /** tf_envelope accumulator: event_type-or-status-bucket -> (n, n_tokens). */
  def envelopeCounts(lines: IndexedSeq[String], acc: mutable.Map[String, (Long, Long)]): Unit =
    lines.foreach { line =>
      val r = LineParser.parse(line)
      val key = if (r.status == OK) r.eventType else s"__status_${r.status}"
      val toks = line.codePointCount(0, line.length).toLong
      val (n, t) = acc.getOrElse(key, (0L, 0L))
      acc(key) = (n + 1L, t + toks)
    }

  // -------------------------------------------------------------------------
  // Typed views (TypedEvents twins)
  // -------------------------------------------------------------------------

  final case class KillRow(
      doc_id: String,
      line_no: Long,
      kind: Long,
      subject: String,
      target: String,
      target_kind: String,
      weapon: String,
      attacker_position: String,
      victim_position: String,
      parse_error: Long
  )

  def typedKills(docId: String, lines: IndexedSeq[String]): Seq[KillRow] =
    lines.zipWithIndex.flatMap { case (line, i) =>
      val r = LineParser.parse(line)
      if (r.status == OK && r.eventType == "kill") {
        val p = LineParser.paramsFor("kill", r.params)
        val err = p.error || LineParser.typedError("kill", p.keys, p.values)
        val m = lastWins(p)
        Some(
          KillRow(
            docId,
            i.toLong,
            r.kind.toLong,
            r.subject,
            m.getOrElse("_target", ""),
            m.getOrElse("_target_kind", ""),
            m.getOrElse("with", ""),
            Option(posStr(m.getOrElse("attacker_position", null))).getOrElse(""),
            Option(posStr(m.getOrElse("victim_position", null))).getOrElse(""),
            if (err) 1L else 0L
          )
        )
      } else None
    }

  final case class CaptureRow(
      doc_id: String,
      line_no: Long,
      cp: Long,
      cp_name: String,
      num_cappers: Long,
      idx: Long,
      subject: String,
      position: String
  )

  def captures(docId: String, lines: IndexedSeq[String]): Seq[CaptureRow] =
    lines.zipWithIndex.flatMap { case (line, i) =>
      val r = LineParser.parse(line)
      if (r.status == OK && r.eventType == "point_captured") {
        val m = lastWins(LineParser.paramsFor("point_captured", r.params))
        def u8(k: String): Long =
          m.get(k).flatMap(v => Option(LineParser.clampParse(v, 255L)).map(_.longValue())).getOrElse(-1L)
        val players = (1 to 32).flatMap { pi =>
          for {
            subj <- m.get(s"player$pi")
            pos <- Option(posStr(m.getOrElse(s"position$pi", null)))
          } yield (subj, pos)
        }
        players.zipWithIndex.map { case ((subj, pos), idx) =>
          CaptureRow(docId, i.toLong, u8("cp"), m.getOrElse("cpname", ""), u8("numcappers"), idx.toLong, subj, pos)
        }
      } else Nil
    }

  // -------------------------------------------------------------------------
  // Reference JSON (pipeline/JsonEmit twin, sequential)
  // -------------------------------------------------------------------------

  // Jackson is what Spark's to_json generator uses; routing the sim's
  // string/float rendering through the same library guarantees byte parity
  // with the engine (escaping table, float shortest-repr algorithm), while
  // the VALUES stay anchored to the reference via RealLogGoldenSpec.
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def js(s: String): String = jsonMapper.writeValueAsString(s)
  private def jf(f: Float): String =
    if (f.isNaN || f.isInfinite) "null" // serde_json: non-finite f32 -> null
    else jsonMapper.writeValueAsString(java.lang.Float.valueOf(f))

  /** The exact `[global, per_player]` JSON line JsonEmit.emit produces for
    * one doc (main.rs:14 shape, skip-default serialization). */
  def renderDocJson(sim: ReferenceSim.SimResult): String = {
    val global =
      if (sim.chat.isEmpty) "{}"
      else
        sim.chat
          .map(c =>
            s"""{"time":${c.time},"name":${js(c.name)},"steam_id":${c.steam64},""" +
              s""""message":${js(c.message)},"chat_type":${js(c.chatType)}}"""
          )
          .mkString("""{"chat":[""", ",", "]}")

    def classMap(a: Array[Long]): String =
      graft.pipeline.TfPipeline.ClassNames.zipWithIndex
        .collect { case (c, i) if a(i) != 0L => s"${js(c)}:${a(i)}" }
        .mkString("{", ",", "}")

    val pp = sim.perPlayer
      .map { p =>
        val sections = Vector.newBuilder[String]
        if (p.heals.nonEmpty)
          sections += p.heals
            .map { case (s3, v) => s"${js(s3)}:$v" }
            .mkString("\"heal_spread\":{", ",", "}")
        val m = p.medicEngine
        val isDefault = m.advantagesLost == 0L && m.biggestAdvantageLost == 0f &&
          m.nearFullChargeDeath == 0L && m.deathsAfterUber == 0L &&
          m.avgTimeBeforeHealing == 0f && m.avgTimeToBuild == 0f &&
          m.avgTimeToUse == 0f && m.avgUberLength == 0f &&
          m.chargeCount == 0L && m.drops == 0L
        if (!isDefault)
          sections += "\"medic_stats\":{" +
            s""""advantages_lost":${m.advantagesLost},""" +
            s""""biggest_advantage_lost":${jf(m.biggestAdvantageLost)},""" +
            s""""near_full_charge_death":${m.nearFullChargeDeath},""" +
            s""""deaths_after_uber":${m.deathsAfterUber},""" +
            s""""avg_time_before_healing":${jf(m.avgTimeBeforeHealing)},""" +
            s""""avg_time_to_build":${jf(m.avgTimeToBuild)},""" +
            s""""avg_time_to_use":${jf(m.avgTimeToUse)},""" +
            s""""avg_uber_length":${jf(m.avgUberLength)},""" +
            s""""charge_count":${m.chargeCount},"drops":${m.drops}}"""
        val anyClass =
          p.kills.exists(_ != 0L) || p.deaths.exists(_ != 0L) ||
            p.assists.exists(_ != 0L) || p.damage.exists(_ != 0L)
        if (anyClass)
          sections += s""""class_stats":{"kills":${classMap(p.kills)},"deaths":${classMap(
              p.deaths
            )},"assists":${classMap(p.assists)},"damage":${classMap(p.damage)}}"""
        s"${js(p.steam3)}:{${sections.result().mkString(",")}}"
      }
      .mkString("{", ",", "}")

    s"[$global,$pp]"
  }

  // -------------------------------------------------------------------------
  // Composed custom handler (Handlers.highestDamage twin, sequential)
  // -------------------------------------------------------------------------

  /** Per-sid highest (damage, line_no), lexicographic max, over SURVIVING
    * handled damage rows -- the routed-frame semantics Handlers.highestDamage
    * aggregates (no round gate, no damage-range filter; i64-clamped parse,
    * missing/malformed value skipped). */
  def composedDamage(lines: IndexedSeq[String]): Map[Long, (Long, Long)] = {
    val best = mutable.Map.empty[Long, (Long, Long)]
    classify(lines).zipWithIndex.foreach { case (c, i) =>
      if (c.route == "damage") {
        val m = ReferenceSim.typedParse(c.raw.eventType, c.raw.params).m
        m.get("damage").foreach { v =>
          val d = LineParser.clampParseSigned(v, Long.MinValue, Long.MaxValue)
          if (d != null) {
            val sid = Steam.subjectId(c.raw.kind, c.raw.subject)
            val cand = (d.longValue(), i.toLong)
            val cur = best.get(sid)
            if (cur.forall(x => cand._1 > x._1 || (cand._1 == x._1 && cand._2 > x._2)))
              best(sid) = cand
          }
        }
      }
    }
    best.toMap
  }

  // -------------------------------------------------------------------------
  // Lobby settings (pipeline/Lobby twin, sequential fold)
  // -------------------------------------------------------------------------

  final case class LobbyRow(
      doc_id: String,
      ok: Long,
      error_kind: String,
      error: String,
      id: Long,
      leader_name: String,
      leader_steam64: Long,
      map: String,
      game_type: String,
      location: String,
      advanced: Long,
      region_lock: Long,
      allow_offclassing: Long,
      balancing: Long,
      restriction: String,
      mumble_required: Long,
      date_epoch: Long,
      server: String
  )

  private val boolKeys =
    Set("Advanced Lobby", "Region lock", "Allow offclassing", "Balancing", "Mumble required")

  private def strictBool(v: String): Option[Boolean] =
    v match { case "true" => Some(true); case "false" => Some(false); case _ => None }

  private def strictU32(v: String): Option[Long] = {
    // Rust u32 FromStr: '+' prefix, ASCII digits (leading zeros legal, any
    // count), VALUE <= u32::MAX
    val digits = v.stripPrefix("+")
    if (digits.nonEmpty && digits.forall(c => c >= '0' && c <= '9')) {
      val trimmed = digits.dropWhile(_ == '0') match { case "" => "0"; case t => t }
      if (trimmed.length <= 10 && java.lang.Long.parseLong(trimmed) <= 4294967295L)
        Some(java.lang.Long.parseLong(trimmed))
      else None
    } else None
  }

  private def parseIntErrDisplay(v: String): String = {
    val digits = v.stripPrefix("+")
    if (v.isEmpty) "cannot parse integer from empty string"
    else if (digits.isEmpty || !digits.forall(c => c >= '0' && c <= '9')) "invalid digit found in string"
    else "number too large to fit in target type"
  }

  private def leaderParse(v: String): Option[(String, Long)] = {
    // Rust u64 FromStr: '+' prefix, leading zeros, full u64 value range;
    // values above i64::MAX carry as the wrapped two's-complement Long
    // (Long.parseUnsignedLong), the twin of Lobby.leaderParse
    val p = v.lastIndexOf(" (")
    if (p < 0) return None
    val name = v.substring(0, p)
    val digits = v.substring(p + 2).replaceAll("\\)+$", "").stripPrefix("+")
    if (digits.nonEmpty && digits.forall(c => c >= '0' && c <= '9')) {
      val trimmed = digits.dropWhile(_ == '0') match { case "" => "0"; case t => t }
      if (trimmed.length <= 20)
        try Some((name, java.lang.Long.parseUnsignedLong(trimmed)))
        catch { case _: NumberFormatException => None }
      else None
    } else None
  }

  // ---- launch-date twin of Lobby.dateParse/dateErr ------------------------

  /** Right(utcEpoch) or Left((error_kind, display)). Timezone resolves FIRST
    * by containment; the naive-datetime part goes through the SAME
    * chrono-faithful kernel the engine uses ([[graft.expr.ChronoDate]]),
    * including the TooShort/TooLong/Invalid/OutOfRange/Impossible Displays. */
  private def dateEpochChecked(v: String): Either[(String, String), Long] = {
    val tzOffset =
      if (v.contains("CEST")) Some(7200L)
      else if (v.contains("CET")) Some(3600L)
      else None
    if (tzOffset.isEmpty) return Left(("unknown_timezone", s"Unknown timezone in date: $v"))
    val r = graft.expr.ChronoDate.parse(v)
    if (r.err == graft.expr.ChronoDate.Ok) Right(r.epochLocal - tzOffset.get)
    else Left(("invalid_date", graft.expr.ChronoDate.displays(r.err)))
  }

  private def dateEpoch(v: String): Option[Long] = dateEpochChecked(v).toOption

  /** Per-doc lobby fold over the console-say messages that SURVIVE routing. */
  def lobby(docId: String, lines: IndexedSeq[String]): Option[LobbyRow] = {
    val says = classify(lines).zipWithIndex.collect {
      case (c, i)
          if c.route == "say" &&
            Steam.packedKind(Steam.subjectId(c.raw.kind, c.raw.subject)) == Steam.K_CONSOLE.toInt =>
        (i.toLong, ReferenceSim.typedParse(c.raw.eventType, c.raw.params).m("_text"))
    }
    val headers = says.filter { case (_, msg) =>
      msg.startsWith("TF2Center Lobby #") && msg.indexOf(" |") > 0
    }
    if (headers.isEmpty) return None
    val armLine = headers.map(_._1).min
    val headerId = {
      val (_, msg) = headers.minBy(_._1)
      strictU32(msg.substring(17, msg.indexOf(" |")))
    }

    def kv(msg: String): Option[(String, String)] = {
      val p = msg.indexOf(": ")
      if (p > 0) Some((msg.substring(0, p), msg.substring(p + 2))) else None
    }

    // per-message (error_kind, display) -- same rules/order as Lobby.errKind
    def errOf(line: Long, msg: String): Option[(String, String)] = {
      if (line == armLine && headerId.isEmpty) {
        val raw = headers.minBy(_._1)._2
        val hid = raw.substring(17, raw.indexOf(" |"))
        return Some(("invalid_lobby_id", parseIntErrDisplay(hid)))
      }
      if (line <= armLine) return None
      kv(msg).flatMap { case (k, v) =>
        if (k == "Leader" && leaderParse(v).isEmpty) Some(("malformed_leader", s"Malformed leader: $v"))
        else if (k == "GameType" && !Set("6v6", "highlander").contains(v))
          Some(("unknown_game_type", s"Unknown game type: $v"))
        else if (k == "Location" && !Set("Europe", "North America").contains(v))
          Some(("unknown_location", s"Unknown location: $v"))
        else if (boolKeys.contains(k) && strictBool(v).isEmpty)
          Some(("invalid_bool", "provided string was not `true` or `false`"))
        else if (k == "Launch date") dateEpochChecked(v).left.toOption
        else None
      }
    }

    val errs = says.flatMap { case (l, m) => errOf(l, m).map(k => (l, k)) }
    val firstErr = errs.sortBy(_._1).headOption
    val effective = says.filter { case (l, _) =>
      l > armLine && firstErr.forall(l < _._1)
    }
    val assigns = mutable.LinkedHashMap.empty[String, String]
    effective.foreach { case (_, m) => kv(m).foreach { case (k, v) => assigns(k) = v } }

    val ok = firstErr.isEmpty
    if (!ok)
      Some(LobbyRow(docId, 0L, firstErr.get._2._1, firstErr.get._2._2,
        -1L, "", -1L, "", "", "", -1L, -1L, -1L, -1L, "", -1L, -1L, ""))
    else {
      val leader = assigns.get("Leader").flatMap(leaderParse)
      def b(k: String): Long = assigns.get(k).flatMap(strictBool).map(x => if (x) 1L else 0L).getOrElse(0L)
      Some(
        LobbyRow(
          docId,
          1L,
          "",
          "",
          headerId.getOrElse(0L),
          leader.map(_._1).getOrElse(""),
          leader.map(_._2).getOrElse(0L),
          assigns.getOrElse("Map", ""),
          if (assigns.get("GameType").contains("highlander")) "Highlander" else "Sixes",
          if (assigns.get("Location").contains("North America")) "NorthAmerica" else "Europe",
          b("Advanced Lobby"),
          b("Region lock"),
          b("Allow offclassing"),
          b("Balancing"),
          assigns.getOrElse("Restriction", ""),
          b("Mumble required"),
          assigns.get("Launch date").flatMap(dateEpoch).getOrElse(-1L),
          assigns.getOrElse("Server", "")
        )
      )
    }
  }
}
