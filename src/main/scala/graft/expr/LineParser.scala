package graft.expr

/** Envelope + param parsing for the TF2 Source-engine log grammar.
  *
  * Pure JVM string logic (no Spark deps) so it can be driven both from the
  * Catalyst expressions in [[GraftExpressions]] (interpreted + codegen paths
  * call these static methods) and from plain unit tests.
  *
  * Semantics re-derived from the reference (not ported code):
  *  - envelope:      /root/reference/src/raw_event.rs:26-45
  *  - subject:       /root/reference/src/raw_event.rs:143-176
  *  - event lexer:   /root/reference/src/raw_event.rs:189-319 (60 literals)
  *  - params:        /root/reference/src/event/mod.rs:118-192
  *
  * Deliberately replicated reference quirks (bit-for-bit output parity):
  *  - `Team "Red"`/`Team "Blue"` subjects parse as team=Spectator because the
  *    reference compares byte 6 against lowercase 'r'/'b'
  *    (raw_event.rs:156-169) while logs emit uppercase.
  *  - the `killed` event's weapon value loses its first character: skip_after=1
  *    after the target subject plus param_parse_with's blind `key.len()+2` skip
  *    over-consumes by one (player.rs:29-38, event/mod.rs:176).
  *  - `triggered "player_dropobject"` maps to carry_object and
  *    `player_carryobject` to drop_object (swapped in raw_event.rs:223-228).
  *  - all-digit integer literals that overflow clamp to MAX (mod.rs:224-261);
  *    the empty string counts as all-digits and clamps to MAX too.
  */
object LineParser {

  // ---- result codes ------------------------------------------------------
  final val KIND_PLAYER: Byte = 1
  final val KIND_TEAM: Byte = 2
  final val KIND_SYSTEM: Byte = 3
  final val KIND_CONSOLE: Byte = 4

  final val OK: Byte = 0
  final val SKIP: Byte = 1 // Error::Skip / Incomplete -> silently dropped
  final val MALFORMED: Byte = 2 // Error::Malformed at envelope -> hard error

  /** Parsed envelope. `team` is only set for KIND_TEAM ("Red"/"Blue"/"Spectator"). */
  final class Raw(
      val status: Byte,
      val date: String, // 21-char raw date field
      val kind: Byte,
      val subject: String, // player raw / system word / team name; null for console
      val eventType: String, // canonical snake_case id, "unknown" if lexer missed
      val params: String
  )

  private def raw(status: Byte): Raw = new Raw(status, null, 0, null, null, null)

  /** Subject parse result: status as in Raw; `after` = input after subject. */
  final class Subj(val status: Byte, val kind: Byte, val subject: String, val after: String)

  /** subject_parser (raw_event.rs:143-176), shared by the envelope and the
    * kill event's unnamed target field. */
  def subjectParse(rest: String): Subj = {
    if (rest.length > 0 && rest.charAt(0) == '"') {
      val body = rest.substring(1)
      val e = body.indexOf(">\"")
      if (e < 0) { // no subject terminator: console, re-lex from the full rest
        return new Subj(OK, KIND_CONSOLE, null, rest)
      }
      val player = body.substring(0, e + 1)
      val after = body.substring(e + 2)
      if (after.length < 1) return new Subj(SKIP, 0, null, null) // skip(1) -> Incomplete
      if (player.endsWith("le>")) new Subj(OK, KIND_CONSOLE, null, after.substring(1))
      else new Subj(OK, KIND_PLAYER, player, after.substring(1))
    } else if (rest.startsWith("Te")) {
      if (rest.length <= 6) { // get(6) -> None -> 'else' arm, get(7..) fails
        return new Subj(SKIP, 0, null, null)
      }
      val b6 = rest.charAt(6)
      if (b6 == 'r') { // lowercase only -- uppercase "Red" does NOT match
        if (rest.length < 11) return new Subj(MALFORMED, 0, null, null)
        new Subj(OK, KIND_TEAM, "Red", rest.substring(11))
      } else if (b6 == 'b') {
        if (rest.length < 12) return new Subj(MALFORMED, 0, null, null)
        new Subj(OK, KIND_TEAM, "Blue", rest.substring(12))
      } else {
        if (rest.length < 7) return new Subj(SKIP, 0, null, null)
        val r2 = rest.substring(7)
        val q = r2.indexOf('"')
        if (q < 0) return new Subj(SKIP, 0, null, null) // split_once Incomplete
        val after = r2.substring(q + 1)
        if (after.length < 1) return new Subj(SKIP, 0, null, null)
        new Subj(OK, KIND_TEAM, "Spectator", after.substring(1))
      }
    } else {
      val s = rest.indexOf(' ')
      if (s < 0) new Subj(OK, KIND_SYSTEM, rest, "")
      else new Subj(OK, KIND_SYSTEM, rest.substring(0, s), rest.substring(s + 1))
    }
  }

  /** Envelope parse of one line (without the leading "L "). */
  def parse(line: String): Raw = {
    if (line.length < 24) return raw(SKIP)
    val date = line.substring(0, 21)
    val rest = line.substring(23)

    val sj = subjectParse(rest)
    if (sj.status != OK) return raw(sj.status)
    val kind = sj.kind
    val subject = sj.subject

    // ---- event type ------------------------------------------------------
    val (ty, remainder) = lexEventType(sj.after)
    // skip one leading space if present (skip_matches)
    val params =
      if (remainder.length > 0 && remainder.charAt(0) == ' ') remainder.substring(1)
      else remainder
    new Raw(OK, date, kind, subject, ty, params)
  }

  // ---- event-type lexer (60 literals, maximal munch) ---------------------

  /** Returns (eventType, remainderAfterToken). Unknown -> ("unknown", input). */
  def lexEventType(input: String): (String, String) = {
    var ty: String = null
    var len = 0
    @inline def m(lit: String, name: String): Boolean =
      if (input.startsWith(lit)) { ty = name; len = lit.length; true } else false

    if (input.isEmpty) return ("unknown", input)
    input.charAt(0) match {
      case 'j' => m("joined ", "joined")
      case 'c' =>
        m("changed role ", "role_change") ||
        m("committed suicide ", "suicide") ||
        m("current ", "current_score") ||
        m("connected, ", "connected") ||
        m("cvars ", "cvars")
      case 'k' => m("killed ", "kill")
      case 's' =>
        m("say_team ", "say_team") || m("say ", "say") || m("spawned ", "spawned")
      case 'p' => m("picked up ", "picked_up")
      case 'f' =>
        m("final ", "final_score") || m("file started ", "log_file_started") ||
        m("file closed", "log_file_closed")
      case 'd' => m("disconnected ", "disconnect")
      case 'e' => m("entered the game", "entered")
      case 'm' => m("mode started", "tournament_start")
      case 'R' => m("Request:  ", "request") || m("Response:  ", "response")
      case 'S' => m("STEAM USERID validated", "steamid_validated")
      case 'T' => m("The log might have not been uploaded. ", "not_uploaded")
      case 't' =>
        if (input.startsWith("triggered \"") && input.length > 11) {
          val t = input.substring(11) // after `triggered "`
          val base = 11
          @inline def mq(body: String, name: String): Boolean =
            if (t.startsWith(body)) { ty = name; len = base + body.length; true }
            else false
          t.charAt(0) match {
            case 's' => mq("shot_fired\"", "shot_fired") || mq("shot_hit\"", "shot_hit")
            case 'd' => mq("damage\"", "damage") || mq("domination\"", "domination")
            case 'h' => mq("healed\"", "healed")
            case 'f' =>
              mq("first_heal_after_spawn\"", "first_heal") || mq("flagevent\"", "flag_event")
            case 'k' => mq("kill assist\"", "kill_assist") || mq("killedobject\"", "killed_object")
            case 'r' => mq("revenge\"", "revenge") || mq("rocket_jump\"", "rocket_jump")
            case 'e' => mq("empty_uber\"", "empty_uber")
            case 'p' =>
              mq("player_builtobject\"", "built_object") ||
              mq("player_dropobject\"", "carry_object") || // swapped in the reference
              mq("player_carryobject\"", "drop_object") || // swapped in the reference
              mq("player_extinguished\"", "extinguished") ||
              mq("pointcaptured\"", "point_captured")
            case 'o' => mq("object_detonated\"", "object_detonated")
            case 'm' =>
              mq("medic_death_ex\"", "medic_death_ex") || mq("medic_death\"", "medic_death")
            case 'c' =>
              mq("chargeended\"", "charge_ended") || mq("chargeready\"", "charge_ready") ||
              mq("chargedeployed\"", "charge_deployed") ||
              mq("captureblocked\"", "capture_blocked")
            case 'l' => mq("lost_uber_advantage\"", "advantage_lost")
            case 'R' =>
              mq("Round_Setup_Begin\"", "round_setup_begin") ||
              mq("Round_Setup_End\"", "round_setup_end") ||
              mq("Round_Start\"", "round_start") ||
              mq("Round_Win\"", "round_win") ||
              mq("Round_Length\"", "round_length") ||
              mq("Round_Overtime\"", "round_overtime")
            case 'M' =>
              mq("Mini_Round_Selected\"", "mini_round_selected") ||
              mq("Mini_Round_Start\"", "mini_round_start") ||
              mq("Mini_Round_Win\"", "mini_round_win") ||
              mq("Mini_Round_Length\"", "mini_round_length")
            case 'G' =>
              mq("Game_Over\"", "game_over") || mq("Game_Paused\"", "paused") ||
              mq("Game_Unpaused\"", "unpaused")
            case 'I' => mq("Intermission_Win_Limit\"", "win_limit")
            case _ => false
          }
        } else false
      case _ => false
    }
    if (ty == null) ("unknown", input) else (ty, input.substring(len))
  }

  // ---- params ------------------------------------------------------------

  /** Result of param extraction: interleaved key/value pairs (last-wins applied
    * later at map build) plus an error flag mirroring the reference's event
    * parse `?` propagation for required fields.
    */
  final class Params(val keys: Array[String], val values: Array[String], val error: Boolean)

  private val EMPTY = new Params(Array.empty, Array.empty, false)
  private def perr = new Params(Array.empty, Array.empty, true)

  /** Full typed-param extraction for one event. Positional/required fields are
    * emitted under pseudo-keys: `_target` (kill target subject raw), `_text`
    * (say), `_blue`/`_red` (tournament). Named required fields use their log
    * keys. Returns error=true when the reference's Event::parse would error.
    */
  def paramsFor(eventType: String, params: String): Params = {
    eventType match {
      case "kill"             => parseKill(params)
      case "say" | "say_team" => parseSay(params)
      case "kill_assist"      => parseRequiredThenIter(params, Array(("against", "_target", true)))
      case "extinguished" =>
        parseRequiredThenIter(params, Array(("against", "against", true), ("with", "with", false)))
      case "picked_up"     => parseRequiredThenIter(params, Array(("item", "item", false)))
      case "game_over"     => parseRequiredThenIter(params, Array(("reason", "reason", false)))
      case "joined"        => parseRequiredThenIter(params, Array(("team", "team", false)))
      case "connected"     => parseRequiredThenIter(params, Array(("address", "address", false)))
      case "current_score" | "final_score" =>
        parseRequiredThenIter(params, Array(("score", "score", false), ("with", "with", false)))
      case "tournament_start" => parseTournament(params)
      case "request" | "response" => EMPTY // kept raw in the params column
      case _ => paramIter(params) // optional-only types: plain ParamIter
    }
  }

  /** ParamIter: `(key "value")` or bare `key "value"` pairs; `against` /
    * `objectowner` values end at `>"` (quotes are legal inside player names).
    * Stops at the first pair that fails to parse.
    */
  def paramIter(input: String): Params = {
    // index-cursor loop (no tail substrings -- this is the hottest function)
    val keys = new java.util.ArrayList[String](8)
    val vals = new java.util.ArrayList[String](8)
    val n = input.length
    var pos = 0
    var done = false
    while (!done) {
      var p = pos
      var open = false
      if (p < n && input.charAt(p) == '(') { open = true; p += 1 }
      val sp = input.indexOf(' ', p)
      if (sp < 0) done = true
      else {
        val key = input.substring(p, sp)
        p = sp + 1
        if (p >= n) done = true // skip(input, 1) -> Incomplete
        else {
          p += 1 // skip the opening quote position
          var value: String = null
          if (key == "against" || key == "objectowner") {
            val e = input.indexOf(">\"", p)
            if (e < 0) done = true
            else { value = input.substring(p, e + 1); p = e + 2 }
          } else {
            val q = input.indexOf('"', p)
            if (q < 0) done = true
            else { value = input.substring(p, q); p = q + 1 }
          }
          if (!done && open) {
            if (p >= n) done = true else p += 1
          }
          if (!done) {
            if (p < n && input.charAt(p) == ' ') p += 1
            keys.add(key); vals.add(value)
            pos = p
          }
        }
      }
    }
    new Params(
      keys.toArray(new Array[String](keys.size())),
      vals.toArray(new Array[String](vals.size())),
      false
    )
  }

  /** param_parse_with: blind positional skip of `key.len + 2`, value to `"`
    * (or `>"` for against/objectowner). Returns (value, rest) or null on
    * Incomplete. */
  private def paramParseWith(input0: String, key: String): (String, String) = {
    var in = input0
    var hasOpen = 0
    if (in.length > 0 && in.charAt(0) == '(') { hasOpen = 1; in = in.substring(1) }
    val skip = key.length + 2
    if (in.length < skip) return null
    in = in.substring(skip)
    var value: String = null
    if (key == "against" || key == "objectowner") {
      val e = in.indexOf(">\"")
      if (e < 0) return null
      value = in.substring(0, e + 1); in = in.substring(e + 2)
    } else {
      val q = in.indexOf('"')
      if (q < 0) return null
      value = in.substring(0, q); in = in.substring(q + 1)
    }
    if (in.length < hasOpen) return null
    in = in.substring(hasOpen)
    if (in.length >= 1) in = in.substring(1) // tolerant trailing skip
    (value, in)
  }

  /** Required named fields in order, then ParamIter over the remainder.
    * spec: (logKey, mapKey, isSubjectValue). */
  private def parseRequiredThenIter(
      params: String,
      spec: Array[(String, String, Boolean)]
  ): Params = {
    var in = params
    val keys = new scala.collection.mutable.ArrayBuffer[String](8)
    val vals = new scala.collection.mutable.ArrayBuffer[String](8)
    var i = 0
    while (i < spec.length) {
      val (logKey, mapKey, _) = spec(i)
      val r = paramParseWith(in, logKey)
      if (r == null) return perr
      keys += mapKey; vals += r._1
      in = r._2
      i += 1
    }
    val tail = paramIter(in)
    new Params(keys.toArray ++ tail.keys, vals.toArray ++ tail.values, false)
  }

  /** KillEvent: unnamed subject target (subject_parser), skip_after=1, then
    * `with` (misaligned by one char -- replicated), then ParamIter.
    * Emits `_target_kind` in {player, team, system, console} plus `_target`
    * raw (and `_target_team` for team targets) so downstream SubjectId
    * semantics stay faithful. */
  private def parseKill(params: String): Params = {
    val sj = subjectParse(params)
    if (sj.status != OK) return perr
    var in = sj.after
    // skip_after = 1
    if (in.length < 1) return perr
    in = in.substring(1)
    // weapon: param_parse_with("with") -- inherits the one-char misalignment
    val r = paramParseWith(in, "with")
    if (r == null) return perr
    val keys = new scala.collection.mutable.ArrayBuffer[String](8)
    val vals = new scala.collection.mutable.ArrayBuffer[String](8)
    keys += "_target_kind"
    vals += (sj.kind match {
      case KIND_PLAYER  => "player"
      case KIND_TEAM    => "team"
      case KIND_CONSOLE => "console"
      case _            => "system"
    })
    if (sj.subject != null) { keys += "_target"; vals += sj.subject }
    keys += "with"; vals += r._1
    val tail = paramIter(r._2)
    new Params(keys.toArray ++ tail.keys, vals.toArray ++ tail.values, false)
  }

  /** Say/SayTeam: single unnamed quoted field with trim-on-Incomplete. */
  private def parseSay(params: String): Params = {
    var text: String = null
    if (params.length < 1) {
      text = "" // skip(1) fails -> Incomplete -> trim_matches of ""
    } else {
      val in = params.substring(1)
      val q = in.indexOf('"')
      text =
        if (q < 0) trimQuotes(params) // Incomplete fallback: whole input trimmed
        else in.substring(0, q)
    }
    new Params(Array("_text"), Array(text), false)
  }

  private def trimQuotes(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == '"') a += 1
    while (b > a && s.charAt(b - 1) == '"') b -= 1
    s.substring(a, b)
  }

  /** TournamentModeStarted: 2-line body `\nBlue Team: X\nRed Team: Y`. */
  private def parseTournament(params: String): Params = {
    if (params.length < 12) return perr
    var in = params.substring(12) // "\nBlue Team: ".len
    var nl = in.indexOf('\n')
    val blue = if (nl < 0) { val b = in; in = ""; b }
    else { val b = in.substring(0, nl); in = in.substring(nl); b }
    if (in.length < 11) return perr
    in = in.substring(11) // "\nRed Team: ".len
    nl = in.indexOf('\n')
    val red = if (nl < 0) in else in.substring(0, nl)
    new Params(Array("_blue", "_red"), Array(blue, red), false)
  }

  // ---- scalar field parsers ---------------------------------------------

  /** parse_int_overflow: plain parse; on failure, all-ASCII-digit (or empty)
    * input clamps to `max`; otherwise malformed (-> Long.MinValue sentinel
    * is NOT used; we return null via boxed). */
  def clampParse(input: String, max: Long): java.lang.Long =
    clampParseSigned(input, 0L, max)

  /** As clampParse but with an explicit lower bound (i32/i64 accept sign). */
  def clampParseSigned(input: String, min: Long, max: Long): java.lang.Long = {
    if (input == null) return null
    try {
      val v = java.lang.Long.parseLong(input)
      if (v > max || v < min) {
        // a numeric parse outside the target width errors in Rust, then the
        // all-digits check clamps to MAX (never to MIN: '-' is not a digit)
        if (allDigits(input)) java.lang.Long.valueOf(max) else null
      } else java.lang.Long.valueOf(v)
    } catch {
      case _: NumberFormatException =>
        if (allDigits(input)) java.lang.Long.valueOf(max) else null
    }
  }

  private def allDigits(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true // empty string: vacuously all digits (matches the reference)
  }

  /** Rust f32::from_str compatible-enough float parse: rejects Java-isms
    * (trailing f/d/D/F, hex floats, leading/trailing whitespace). */
  def parseF32(input: String): java.lang.Float = {
    if (input == null || input.isEmpty) return null
    val last = input.charAt(input.length - 1)
    if (last == 'f' || last == 'F' || last == 'd' || last == 'D') return null
    if (input.indexOf('x') >= 0 || input.indexOf('X') >= 0) return null
    if (input.charAt(0) == ' ' || last == ' ') return null
    try java.lang.Float.valueOf(java.lang.Float.parseFloat(input))
    catch { case _: NumberFormatException => null }
  }

  /** Epoch seconds (UTC-naive) from the fixed 21-char date field
    * `MM/DD/YYYY - HH:MM:SS`; Long.MinValue when malformed (the reference
    * panics on a malformed date of a handled event -- surfaced as a hard
    * error by the classifier). */
  def dateEpoch(date: String): Long = {
    if (date == null || date.length < 21) return Long.MinValue
    // digit positions: 0,1 / 3,4 / 6..9 / 13,14 / 16,17 / 19,20
    def d2(a: Int): Int = {
      val c1 = date.charAt(a); val c2 = date.charAt(a + 1)
      if (c1 < '0' || c1 > '9' || c2 < '0' || c2 > '9') return -1
      (c1 - '0') * 10 + (c2 - '0')
    }
    val mo = d2(0); val dy = d2(3); val y1 = d2(6); val y2 = d2(8)
    val h = d2(13); val mi = d2(16); val se = d2(19)
    if (mo < 1 || mo > 12 || dy < 1 || dy > 31 || y1 < 0 || y2 < 0 ||
      h < 0 || h > 23 || mi < 0 || mi > 59 || se < 0 || se > 59) return Long.MinValue
    val y = y1 * 100 + y2
    // days-in-month validation (chrono NaiveDate::from_ymd does this; an
    // invalid calendar date panics the reference's process path)
    val dim = mo match {
      case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (dy > dim) return Long.MinValue
    // days-from-civil (Howard Hinnant), proleptic Gregorian
    val yy = if (mo <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (mo > 2) mo - 3 else mo + 9) + 2) / 5 + dy - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    val days = era * 146097L + doe - 719468L
    days * 86400L + h * 3600L + mi * 60L + se
  }

  /** Typed-field validation for a handled event: true when the reference's
    * Event::parse would error on a present-but-malformed optional field
    * (`event.field = parse_field(value)?` propagation). Last-wins lookup over
    * the raw key/value arrays. */
  def typedError(eventType: String, keys: Array[String], values: Array[String]): Boolean = {
    def get(k: String): String = {
      var i = keys.length - 1
      while (i >= 0) {
        if (keys(i) == k) return values(i)
        i -= 1
      }
      null
    }
    def badU32(k: String) = { val v = get(k); v != null && clampParse(v, 4294967295L) == null }
    def badI64(k: String) = {
      val v = get(k); v != null && clampParseSigned(v, Long.MinValue, Long.MaxValue) == null
    }
    def badF32(k: String) = { val v = get(k); v != null && parseF32(v) == null }
    def badPos(k: String) = {
      val v = get(k)
      v != null && {
        val a = v.indexOf(' ')
        if (a < 0) true
        else {
          val b = v.indexOf(' ', a + 1)
          b < 0 ||
          clampParseSigned(v.substring(0, a), Int.MinValue, Int.MaxValue) == null ||
          clampParseSigned(v.substring(a + 1, b), Int.MinValue, Int.MaxValue) == null ||
          clampParseSigned(v.substring(b + 1), Int.MinValue, Int.MaxValue) == null
        }
      }
    }
    eventType match {
      case "healed"         => badU32("healing")
      case "damage"         => badI64("damage") || badI64("realdamage")
      case "kill"           => badPos("attacker_position") || badPos("victim_position")
      case "kill_assist"    => badPos("attacker_position") || badPos("victim_position")
      case "charge_ended"   => badF32("duration")
      case "advantage_lost" => badF32("time")
      case "first_heal"     => badF32("time")
      case "medic_death"    => badU32("ubercharge")
      case _                => false
    }
  }

  /** Class alias normalization (common.rs:101-118): total, never errors. */
  def classNormalize(s: String): String = s match {
    case "Scout" | "scout"                                   => "scout"
    case "Soldier" | "soldier"                               => "soldier"
    case "Pyro" | "pyro"                                     => "pyro"
    case "Demoman" | "demoman"                               => "demoman"
    case "Heavyweapons" | "heavyweapons" | "Heavy" | "heavy" => "heavyweapons"
    case "Engineer" | "engineer"                             => "engineer"
    case "Medic" | "medic"                                   => "medic"
    case "Sniper" | "sniper"                                 => "sniper"
    case "Spy" | "spy"                                       => "spy"
    case _                                                   => "unknown"
  }

  /** Index of a class name in the reference's ClassMap order. */
  def classIndex(s: String): Int = s match {
    case "scout"        => 0
    case "soldier"      => 1
    case "pyro"         => 2
    case "demoman"      => 3
    case "heavyweapons" => 4
    case "engineer"     => 5
    case "medic"        => 6
    case "sniper"       => 7
    case "spy"          => 8
    case _              => 9
  }
}
