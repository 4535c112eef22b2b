package graft.expr

/** SubjectId + SteamID arithmetic, re-derived from
  * /root/reference/src/common.rs:201-262,344-373 and steam2/steam3 text forms.
  *
  * SubjectIds are packed into a single long: `kind << 32 | value32`.
  * Kinds: 1=player(account id), 2=bot(user id), 3=malformed(stable hash32),
  * 4=team(0 red / 1 blue / 2 spectator), 5=system, 6=console.
  *
  * Divergence (documented, SURVEY.md §7 risk 4): the reference hashes
  * malformed player strings with randomly-seeded ahash (not reproducible even
  * across its own runs); we use a fixed-seed FNV-1a 32-bit hash instead. Such
  * subjects never reach per-player output (filtered: lib.rs:107-116).
  */
object Steam {
  final val STEAM64_BASE = 76561197960265728L

  final val K_PLAYER = 1L
  final val K_BOT = 2L
  final val K_MALFORMED = 3L
  final val K_TEAM = 4L
  final val K_SYSTEM = 5L
  final val K_CONSOLE = 6L

  def packedKind(packed: Long): Int = (packed >>> 32).toInt
  def packedValue(packed: Long): Long = packed & 0xffffffffL

  private def fnv1a32(s: String): Long = {
    var h = 0x811c9dc5
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xff)) * 0x01000193
      i += 1
    }
    h.toLong & 0xffffffffL
  }

  /** find_between_end(raw, ':', ']'): rightmost ']' then rightmost ':' before
    * it; substring between. Null if either missing. */
  def findBetweenEnd(raw: String, start: Char, end: Char): String = {
    val e = raw.lastIndexOf(end)
    if (e < 0) return null
    val s = raw.lastIndexOf(start, e - 1)
    if (s < 0) return null
    raw.substring(s + 1, e)
  }

  /** Strict u32 parse of the steam2/steam3 text fields: 1..10 ASCII digits,
    * no sign, no clamp. Narrower than Rust's `u32::from_str`
    * ([[fromStrUnsigned]]); kept as is, since the reference source of these
    * text parsers is not at hand to derive their grammar from. */
  private def parseU32(s: String): Long = {
    if (s == null || s.isEmpty || s.length > 10) return -1L
    var i = 0
    var v = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      if (v > 0xffffffffL) return -1L
      i += 1
    }
    v
  }

  /** Rust's `FromStr` for an unsigned integer at most `max`: an optional
    * leading '+', then one or more ASCII digits (leading zeros allowed);
    * else -1. */
  private def fromStrUnsigned(s: String, max: Long): Long =
    if (s == null) -1L
    else { val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8); fromStrUnsigned(b, 0, b.length, max) }

  /** The same grammar over the UTF-8 bytes `b[from, until)`: a non-ASCII
    * char is never a digit. */
  private def fromStrUnsigned(b: Array[Byte], from: Int, until: Int, max: Long): Long = {
    var i = if (from < until && b(from) == '+') from + 1 else from
    if (i >= until) return -1L
    var v = 0L
    while (i < until) {
      val c = b(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      if (v > max) return -1L
      i += 1
    }
    v
  }

  /** Rust's `u16::from_str`: at most 65535. */
  private def parseU16(s: String): Long = fromStrUnsigned(s, 0xffffL)

  /** rsplitn(4, '<') player-subject split: (name, user_id, steam_id, team)
    * with trailing '>' stripped from the last three; null on malformed
    * (raw_event.rs:95-116). */
  def splitPlayerSubject(raw: String): Array[String] = {
    val i3 = raw.lastIndexOf('<')
    if (i3 < 0) return null // fewer than 4 parts -> Incomplete
    val i2 = raw.lastIndexOf('<', i3 - 1)
    if (i2 < 0) return null
    val i1 = raw.lastIndexOf('<', i2 - 1)
    if (i1 < 0) return null
    val team = raw.substring(i3 + 1)
    val steam = raw.substring(i2 + 1, i3)
    val user = raw.substring(i1 + 1, i2)
    val name = raw.substring(0, i1)
    // emptiness is checked before stripping the trailing '>'
    if (steam.isEmpty || user.isEmpty || team.isEmpty) return null
    // the reference strips the last char unconditionally (it is '>' for
    // well-formed input); mirror that: strip whatever the last char is
    Array(
      name,
      user.substring(0, user.length - 1),
      steam.substring(0, steam.length - 1),
      team.substring(0, team.length - 1)
    )
  }

  /** steam2 `STEAM_X:Y:Z` -> account id (Z*2+Y), or -1. */
  def steam2Account(s: String): Long = {
    if (s == null || !s.startsWith("STEAM_")) return -1L
    val rest = s.substring(6)
    val c1 = rest.indexOf(':')
    if (c1 < 0) return -1L
    val c2 = rest.indexOf(':', c1 + 1)
    if (c2 < 0) return -1L
    val x = parseU32(rest.substring(0, c1))
    val y = parseU32(rest.substring(c1 + 1, c2))
    val z = parseU32(rest.substring(c2 + 1))
    if (x < 0 || x > 4 || y < 0 || y > 1 || z < 0) return -1L
    val acct = z * 2 + y
    if (acct > 0xffffffffL) -1L else acct
  }

  /** steam3 `[U:1:N]` (any letter type, optional instance) -> account, or -1. */
  def steam3Account(s: String): Long = {
    if (s == null || s.length < 5 || s.charAt(0) != '[' || s.charAt(s.length - 1) != ']')
      return -1L
    val body = s.substring(1, s.length - 1)
    val c1 = body.indexOf(':')
    if (c1 != 1) return -1L // single letter account type
    val t = body.charAt(0)
    if (!Character.isLetter(t)) return -1L
    val c2 = body.indexOf(':', 2)
    if (c2 < 0) return -1L
    val universe = parseU32(body.substring(2, c2))
    if (universe < 0 || universe > 4) return -1L
    var acctStr = body.substring(c2 + 1)
    val c3 = acctStr.indexOf(':')
    if (c3 >= 0) { // instance suffix
      if (parseU32(acctStr.substring(c3 + 1)) < 0) return -1L
      acctStr = acctStr.substring(0, c3)
    }
    parseU32(acctStr)
  }

  /** SubjectId::try_from for a raw PLAYER subject string (common.rs:236-255). */
  def playerSubjectId(raw: String): Long = {
    // fast path: find_between_end(raw, ':', ']') -> u32::from_str
    val fast = findBetweenEnd(raw, ':', ']')
    if (fast != null) {
      val acct = fromStrUnsigned(fast, 0xffffffffL)
      if (acct >= 0) return (K_PLAYER << 32) | acct
    }
    val parts = splitPlayerSubject(raw)
    if (parts == null) return (K_MALFORMED << 32) | fnv1a32(raw)
    val s2 = steam2Account(parts(2))
    if (s2 >= 0) return (K_PLAYER << 32) | s2
    val uid = parseU16(parts(1))
    if (uid >= 0) (K_BOT << 32) | uid
    else (K_MALFORMED << 32) | fnv1a32(raw)
  }

  /** SubjectData (common.rs:308-342) of a subject: `dataKind` 1 player /
    * 2 bot / 3 malformed, else the packed kind; the display `name`;
    * `steam64Text`, the text-parsed steam64 of a player-interned player;
    * and `deathKey`, the packed `SubjectData::id()` of a player-interned
    * subject (common.rs:285-295), None where it can never match a bucket. */
  final case class SubjectData(dataKind: Int, name: String, steam64Text: Option[Long], deathKey: Option[Long])

  /** The one SubjectData derivation: subject `sid` whose first-seen raw is
    * `raw`. Kinds 1 (player) and 2 (bot) both come from player-quoted raws,
    * and both keep the SPLIT name (common.rs:313-329). The user id is a
    * plain u16 parse ([[parseU16]]); the steam field parses as steam3, else
    * steam2 (common.rs:315-316). A MalformedPlayer's id hashes
    * the raw, and a raw interned as Player never interns as MalformedPlayer,
    * so its death key is None (a deterministic miss). */
  def subjectData(sid: Long, raw: String): SubjectData = {
    val kind = packedKind(sid)
    val playerQuoted = kind == 1 || kind == 2
    val parts = if (playerQuoted) splitPlayerSubject(raw) else null
    if (parts == null) return SubjectData(if (playerQuoted) 3 else kind, raw, None, None)
    val uid = parseU16(parts(1))
    if (uid < 0) return SubjectData(3, raw, None, None)
    val acct = { val a3 = steam3Account(parts(2)); if (a3 >= 0) a3 else steam2Account(parts(2)) }
    val player = kind == 1
    if (acct < 0) SubjectData(2, parts(0), None, Option.when(player)((K_BOT << 32) + uid))
    else SubjectData(1, parts(0), Option.when(player)(steam64(acct)), Option.when(player)((K_PLAYER << 32) + acct))
  }

  def teamCode(team: String): Long = team match {
    case "Red"  => 0L
    case "Blue" => 1L
    case _      => 2L // Spectator
  }

  /** Packed SubjectId for an envelope subject (kind from LineParser). */
  def subjectId(kind: Byte, subject: String): Long = kind match {
    case LineParser.KIND_PLAYER  => playerSubjectId(subject)
    case LineParser.KIND_TEAM    => (K_TEAM << 32) | teamCode(subject)
    case LineParser.KIND_SYSTEM  => K_SYSTEM << 32
    case LineParser.KIND_CONSOLE => K_CONSOLE << 32
    case _                       => K_SYSTEM << 32
  }

  /** Packed SubjectId for an `against "..."` value
    * (against_subject_parser: console iff endsWith "le>", else player). */
  def againstSubjectId(raw: String): Long = {
    if (raw == null) return 0L
    if (raw.endsWith("le>")) K_CONSOLE << 32
    else playerSubjectId(raw)
  }

  // ---- byte fast paths (zero-copy kernels) --------------------------------
  //
  // The hot classify leg calls subject_id / against_subject_id once per row;
  // the byte fast path resolves the overwhelmingly common shapes without
  // decoding the subject to a String: all the structural delimiters are
  // ASCII (which UTF-8 guarantees never appear inside multibyte sequences),
  // so the rightmost-']'/rightmost-':' scan finds the same occurrences as
  // the char version and the digits between are ASCII -- when the fast path
  // succeeds the result is IDENTICAL by construction. Any other shape falls
  // back to the String functions (rare: malformed subjects, steam2 text).

  /** Byte twin of [[playerSubjectId]]'s fast path; falls back for the rest. */
  def playerSubjectIdU(raw: org.apache.spark.unsafe.types.UTF8String): Long = {
    val b = raw.getBytes
    var e = b.length - 1
    while (e >= 0 && b(e) != ']') e -= 1
    if (e >= 0) {
      var s = e - 1
      while (s >= 0 && b(s) != ':') s -= 1
      if (s >= 0) {
        val acct = fromStrUnsigned(b, s + 1, e, 0xffffffffL)
        if (acct >= 0) return (K_PLAYER << 32) | acct
      }
    }
    playerSubjectId(raw.toString)
  }

  private val U_RED = org.apache.spark.unsafe.types.UTF8String.fromString("Red")
  private val U_BLUE = org.apache.spark.unsafe.types.UTF8String.fromString("Blue")

  def teamCodeU(team: org.apache.spark.unsafe.types.UTF8String): Long =
    if (team.equals(U_RED)) 0L else if (team.equals(U_BLUE)) 1L else 2L

  def subjectIdU(kind: Byte, subject: org.apache.spark.unsafe.types.UTF8String): Long = kind match {
    case LineParser.KIND_PLAYER  => playerSubjectIdU(subject)
    case LineParser.KIND_TEAM    => (K_TEAM << 32) | teamCodeU(subject)
    case LineParser.KIND_SYSTEM  => K_SYSTEM << 32
    case LineParser.KIND_CONSOLE => K_CONSOLE << 32
    case _                       => K_SYSTEM << 32
  }

  /** Byte twin of [[againstSubjectId]] ("le>" suffix is ASCII-safe). */
  def againstSubjectIdU(raw: org.apache.spark.unsafe.types.UTF8String): Long = {
    val b = raw.getBytes
    val n = b.length
    if (n >= 3 && b(n - 3) == 'l' && b(n - 2) == 'e' && b(n - 1) == '>') K_CONSOLE << 32
    else playerSubjectIdU(raw)
  }

  def steam64(account: Long): Long = STEAM64_BASE + account

  def steam3(account: Long): String = "[U:1:" + account + "]"
}
