package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sim.ReferenceSim
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end: the distributed pipeline must reproduce the sequential
  * reference simulator (ReferenceSim) on deterministic synthetic logs --
  * per-player class stats, heal spread, medic stats, chat, keying and order.
  */
class GoldenPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("golden")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Seed = 42L
  private val NDocs = 6
  private val Lines = 500

  private def feq(a: Float, b: Float): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= 1e-3f * math.max(1f, math.abs(b))

  test("pipeline matches reference simulator on synthetic logs") {
    runGolden(Seed, NDocs, Lines)
  }

  test("pipeline matches simulator on a second seed/size (regression breadth)") {
    runGolden(7L, 4, 350)
  }

  test("pipeline matches simulator on further seeds (differential fuzz)") {
    runGolden(13L, 3, 250)
    runGolden(99L, 3, 250)
  }

  private def runGolden(Seed: Long, NDocs: Int, Lines: Int): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val input = LogGen.generate(spark, NDocs, Lines, Seed).toDF()
    val env = TfPipeline.envelope(input)
    val routed = TfPipeline.routed(env).cache()
    val dim = TfPipeline.subjectDim(routed)
    val pp = TfPipeline
      .perPlayer(routed, dim)
      .withColumn("heal_entries", map_entries(col("heals"))) // order-preserving view
      .collect()
    val chat = TfPipeline.chat(routed, dim).collect()

    val ppByDoc = pp.groupBy(_.getString(0))
    val chatByDoc = chat.map(r => r.getString(0) -> r).toMap

    for (docId <- 0 until NDocs) {
      val docKey = f"log-$docId%06d"
      val lines = LogGen.docLines(Seed, docId.toLong, Lines)
      val sim = ReferenceSim.run(lines)
      assert(!sim.hardError, s"$docKey: simulator hit a hard error (generator bug)")

      val rows = ppByDoc.getOrElse(docKey, Array.empty).sortBy(_.getLong(2))
      assert(
        rows.map(_.getString(1)).toSeq == sim.perPlayer.map(_.steam3),
        s"$docKey: player key set/order mismatch"
      )
      for ((row, exp) <- rows.zip(sim.perPlayer)) {
        val who = s"$docKey/${exp.steam3}"
        assert(row.getLong(2) == exp.steam64, s"$who steam64")
        def arr(i: Int): Seq[Long] = row.getSeq[Long](i)
        assert(arr(4) == exp.kills.toSeq, s"$who kills")
        assert(arr(5) == exp.deaths.toSeq, s"$who deaths")
        assert(arr(6) == exp.assists.toSeq, s"$who assists")
        assert(arr(7) == exp.damage.toSeq, s"$who damage")
        val heals = row
          .getSeq[org.apache.spark.sql.Row](10)
          .map(e => (e.getString(0), e.getLong(1)))
        assert(heals == exp.heals, s"$who heals (order + values)")
        val m = row.getStruct(9)
        assert(m.getLong(0) == exp.medic.advantagesLost, s"$who advantages_lost")
        assert(feq(m.getFloat(1), exp.medic.biggestAdvantageLost), s"$who biggest_advantage_lost")
        assert(m.getLong(2) == exp.medic.nearFullChargeDeath, s"$who near_full")
        assert(m.getLong(3) == exp.medic.deathsAfterUber, s"$who deaths_after_uber")
        assert(feq(m.getFloat(4), exp.medic.avgTimeBeforeHealing), s"$who avg_time_before_healing")
        assert(feq(m.getFloat(5), exp.medic.avgTimeToBuild), s"$who avg_time_to_build")
        assert(feq(m.getFloat(6), exp.medic.avgTimeToUse), s"$who avg_time_to_use")
        assert(feq(m.getFloat(7), exp.medic.avgUberLength), s"$who avg_uber_length")
        assert(m.getLong(8) == exp.medic.chargeCount, s"$who charge_count")
        assert(m.getLong(9) == exp.medic.drops, s"$who drops")
      }

      // chat
      val got = chatByDoc
        .get(docKey)
        .map(_.getSeq[org.apache.spark.sql.Row](1))
        .getOrElse(Seq.empty)
      assert(got.length == sim.chat.length, s"$docKey chat length")
      for ((g, e) <- got.zip(sim.chat)) {
        assert(g.getLong(0) == e.time, s"$docKey chat time")
        assert(g.getString(1) == e.name, s"$docKey chat name")
        assert(g.getLong(2) == e.steam64, s"$docKey chat steam64")
        assert(g.getString(3) == e.message, s"$docKey chat message")
        assert(g.getString(4) == e.chatType, s"$docKey chat type")
      }
    }
  }

  test("classstats self-kill edge: attacker entry is read BEFORE target-entry creation") {
    // classstats.rs:81-88 statement order: `self.data.get(&subject)` (death
    // precondition) runs before `self.data_mut(target)` (entry creation), so
    //  - G's FIRST self-kill counts a kill but NO death (G had no entry);
    //  - G's SECOND self-kill counts the death (the first kill created G's
    //    entry, class still default/unknown);
    //  - unspawned H killing A counts H's kill (A's class read post-entry)
    //    but NOT A's death (H has no entry);
    //  - spawned A killing H counts both (A's entry exists, class scout).
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val a = """"A<2><[U:1:1001]><Red>""""
    val g = """"G<9><[U:1:2001]><Red>""""
    val h = """"H<10><[U:1:2002]><Blue>""""
    val kp = """(attacker_position "1 2 3") (victim_position "4 5 6")"""
    val lines = Vector(
      s"""04/11/2021 - 13:53:20: $a spawned as "Scout"""",
      s"""04/11/2021 - 13:53:21: World triggered "Round_Start"""",
      s"""04/11/2021 - 13:53:22: $g killed $g with "world" $kp""",
      s"""04/11/2021 - 13:53:23: $g killed $g with "world" $kp""",
      s"""04/11/2021 - 13:53:24: $h killed $a with "world" $kp""",
      s"""04/11/2021 - 13:53:25: $a killed $h with "scattergun" $kp"""
    )
    val sim = ReferenceSim.run(lines)
    assert(!sim.hardError)
    val input = lines.zipWithIndex.map { case (l, i) =>
      val toks = LogGen.tokenize(l)
      graft.loggen.SeqRow("edge-doc", i.toLong, "src-0", toks, toks.length)
    }.toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input))
    val rows = TfPipeline
      .perPlayer(routed, TfPipeline.subjectDim(routed))
      .collect()
      .sortBy(_.getLong(2))
    assert(rows.map(_.getString(1)).toSeq == sim.perPlayer.map(_.steam3), "player universe")
    for ((row, exp) <- rows.zip(sim.perPlayer)) {
      assert(row.getSeq[Long](4) == exp.kills.toSeq, s"${exp.steam3} kills")
      assert(row.getSeq[Long](5) == exp.deaths.toSeq, s"${exp.steam3} deaths")
    }
    // pin the hand-derived reference values, not just batch == sim
    val unk = graft.expr.LineParser.classIndex("unknown")
    val sct = graft.expr.LineParser.classIndex("scout")
    val byAcct = sim.perPlayer.map(p => p.account -> p).toMap
    val (pA, pG, pH) = (byAcct(1001L), byAcct(2001L), byAcct(2002L))
    assert(pG.kills(unk) == 2 && pG.deaths.sum == 1 && pG.deaths(unk) == 1,
      "G: 2 self-kills, only the second counts a death")
    assert(pH.kills(sct) == 1 && pH.deaths(sct) == 1, "H")
    assert(pA.kills(unk) == 1 && pA.deaths.sum == 0,
      "A: H had no entry when it killed A, so A's death is uncounted")
  }

  test("LogGen corpora actually contain the ghost self-kill edge (fuzz coverage)") {
    val all = (0 until 6).flatMap(d => LogGen.docLines(Seed, d.toLong, Lines))
    assert(all.exists(l => l.contains("ghost_") && l.contains(" killed ")),
      "generator must emit the unspawned-attacker kill edge")
  }

  test("LogGen corpora contain all three SubjectData-id divergence shapes (fuzz coverage)") {
    val all = (0 until 6).flatMap(d => LogGen.docLines(Seed, d.toLong, Lines)) ++
      (0 until 4).flatMap(d => LogGen.docLines(7L, d.toLong, 350))
    assert(all.exists(_.contains("uid_overflow<")), "u16-overflow uid (MalformedPlayer data id)")
    assert(all.exists(_.contains("junk_steam<")), "trailing-junk steam (Bot data id)")
    assert(all.exists(_.contains("team_trick<")), "team-embedded ':N]' (diverging Player data id)")
  }

  test("classstats deaths are claimed by SubjectData id, not the interned sid (classstats.rs:119)") {
    // Four shapes in one doc (see PlayerModules.claims):
    //  A  normal player: claims its own bucket;
    //  B  "O<70000><[U:1:5005]><Red>": interned Player(5005) via the ':5005]'
    //     fast scan, SubjectData = MalformedPlayer (u16 overflow) -> the
    //     finalize lookup MISSES -> deaths zero even though B died;
    //  C  "J<7><[U:1:6006]x><Blue>": interned Player(6006), SubjectData =
    //     Bot(7) -> C STEALS the roster bot's (uid 7) deaths bucket;
    //  D  "T<9><[U:1:1001]><R:7777]d>": interned Player(7777) (team-embedded
    //     ':7777]' wins the rightmost scan), SubjectData = Player(1001) = A's
    //     id -> A (first-seen) already removed its bucket, D gets zeros.
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val a = """"A<2><[U:1:1001]><Red>""""
    val b = """"O<70000><[U:1:5005]><Red>""""
    val c = """"J<7><[U:1:6006]x><Blue>""""
    val bot = """"bot<7><BOT><Red>""""
    val dd = """"T<9><[U:1:1001]><R:7777]d>""""
    val kp = """(attacker_position "1 2 3") (victim_position "4 5 6")"""
    val lines = Vector(
      s"""04/11/2021 - 13:53:20: $a spawned as "Scout"""",
      s"""04/11/2021 - 13:53:21: World triggered "Round_Start"""",
      s"""04/11/2021 - 13:53:22: $a killed $b with "scattergun" $kp""", // B bucket: death @scout
      s"""04/11/2021 - 13:53:23: $b killed $a with "world" $kp""", // A bucket: death @unknown (B entry from kill target)
      s"""04/11/2021 - 13:53:24: $a killed $bot with "scattergun" $kp""", // Bot(7) bucket: death @scout
      s"""04/11/2021 - 13:53:25: $c say "borrowed"""",
      s"""04/11/2021 - 13:53:26: $dd say "second claimant""""
    )
    val sim = ReferenceSim.run(lines)
    assert(!sim.hardError)
    val input = lines.zipWithIndex.map { case (l, i) =>
      val toks = LogGen.tokenize(l)
      graft.loggen.SeqRow("claim-doc", i.toLong, "src-0", toks, toks.length)
    }.toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input))
    val rows = TfPipeline
      .perPlayer(routed, TfPipeline.subjectDim(routed))
      .collect()
      .sortBy(_.getLong(2))
    assert(rows.map(_.getString(1)).toSeq == sim.perPlayer.map(_.steam3), "player universe")
    for ((row, exp) <- rows.zip(sim.perPlayer)) {
      assert(row.getSeq[Long](4) == exp.kills.toSeq, s"${exp.steam3} kills")
      assert(row.getSeq[Long](5) == exp.deaths.toSeq, s"${exp.steam3} deaths")
    }
    // hand-derived reference values (not just batch == sim)
    val unk = graft.expr.LineParser.classIndex("unknown")
    val sct = graft.expr.LineParser.classIndex("scout")
    val byAcct = sim.perPlayer.map(p => p.account -> p).toMap
    val (pA, pB, pC, pD) = (byAcct(1001L), byAcct(5005L), byAcct(6006L), byAcct(7777L))
    assert(pA.deaths(unk) == 1 && pA.deaths.sum == 1, "A keeps its own bucket (death by entry-less B)")
    assert(pB.deaths.sum == 0, "B: MalformedPlayer data id -> deterministic miss -> zero deaths")
    assert(pB.kills(sct) == 1, "B's kill of scout A still accrues (subject-keyed)")
    assert(pC.deaths(sct) == 1 && pC.deaths.sum == 1, "C steals the bot's bucket via Bot(7) data id")
    assert(pD.deaths.sum == 0, "D: A already claimed bucket Player(1001) -> default")
    assert(pA.kills(unk) == 2 && pA.kills.sum == 2, "A killed B and the bot (both class-unknown)")
  }

  test("perPlayer assembly plan contains exactly ONE per-doc module pass (no double execution)") {
    // Regression guard for the double-reference trap: a DataFrame referenced
    // from two union branches is EXECUTED twice -- Spark does no cross-branch
    // subtree CSE. The assembly folds the modules and the player intern and
    // re-keys the deaths in ONE per-doc pass: the plan's one MapGroups node,
    // and no CoGroup (the dim is not read).
    val input = LogGen.generate(spark, 2, 200, Seed).toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input))
    val plan = TfPipeline
      .perPlayerAssembled(routed, TfPipeline.subjectDim(routed))
      .queryExecution
      .optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, Join, MapGroups}
    val passes = plan.collect { case g @ (_: CoGroup | _: MapGroups) => g.nodeName }
    assert(passes == Seq("MapGroups"), s"expected exactly one per-doc module pass, found $passes")
    // chat: one per-doc pass (MapGroups) and no join with the dim
    val chatPlan = TfPipeline.chat(routed, TfPipeline.subjectDim(routed)).queryExecution.optimizedPlan
    val chatPasses = chatPlan.collect { case g @ (_: CoGroup | _: MapGroups | _: Join) => g.nodeName }
    assert(chatPasses == Seq("MapGroups"), s"expected exactly one chat pass and no join, found $chatPasses")
  }

  test("a uid of non-ASCII decimal digits is a MalformedPlayer in the simulator and in batch") {
    // Rust's parse::<u16> takes ASCII digits only; '١٢' (Arabic-Indic 12)
    // fails it, so SubjectData is MalformedPlayer: no chat message, and the
    // player's name is the raw subject
    import spark.implicits._
    val raw = "A<\u0661\u0662><[U:1:5]><Red>"
    val lines = Vector(s"""04/11/2021 - 13:53:20: "$raw" say "hello"""")
    val sim = ReferenceSim.run(lines)
    assert(!sim.hardError)
    val sid = (graft.expr.Steam.K_PLAYER << 32) | 5L
    assert(sim.subjects.map(s => (s.sid, s.dataKind, s.name)) == Seq((sid, 3, raw)), s"sim: ${sim.subjects}")
    assert(sim.chat.isEmpty, s"sim chat: ${sim.chat}")
    assert(sim.perPlayer.map(_.steam3) == Seq("[U:1:5]"))
    val input = lines.zipWithIndex.map { case (l, i) =>
      val toks = LogGen.tokenize(l)
      graft.loggen.SeqRow("uid-doc", i.toLong, "src-0", toks, toks.length)
    }.toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input))
    val dim = TfPipeline.subjectDim(routed)
    assert(dim.select("sid", "data_kind", "name").as[(Long, Int, String)].collect().toSeq == Seq((sid, 3, raw)))
    assert(TfPipeline.chat(routed, dim).isEmpty, "batch chat")
    val pp = TfPipeline.perPlayer(routed, dim).select("steam3", "name").as[(String, String)].collect().toSeq
    assert(pp == Seq("[U:1:5]" -> raw), s"batch per-player: $pp")
  }

  test("uid grammar: Rust's u16::from_str takes a leading '+' and leading zeros, in the simulator and in batch") {
    // Hand-derived from the documented FromStr grammar: an optional '+',
    // then one or more ASCII digits (leading zeros allowed), value <= 65535.
    // Empty, a lone '+', a '-' and an overflow are parse errors, so the
    // subject's SubjectData is MalformedPlayer (name = the raw subject).
    import spark.implicits._
    val cases = Seq(
      "+5" -> 1, "0005" -> 1, "00000000000000000007" -> 1,
      "65536" -> 3, "+" -> 3, "-1" -> 3, "" -> 3
    )
    val raws = cases.zipWithIndex.map { case ((uid, _), i) => s"P$i<$uid><[U:1:${100 + i}]><Red>" }
    // the interning fallback parses the uid the same way: Bot(6)
    val bot = "B<+6><BOT><Blue>"
    val lines = (raws :+ bot).zipWithIndex.map { case (raw, i) => f"""04/11/2021 - 13:53:$i%02d: "$raw" say "hi"""" }.toVector
    val sim = ReferenceSim.run(lines)
    assert(!sim.hardError)
    def p(acct: Long) = (graft.expr.Steam.K_PLAYER << 32) | acct
    val expected = cases.zipWithIndex.map { case ((_, kind), i) =>
      (p(100L + i), kind, if (kind == 1) s"P$i" else raws(i))
    } :+ (((graft.expr.Steam.K_BOT << 32) | 6L, 2, "B"))
    assert(sim.subjects.map(s => (s.sid, s.dataKind, s.name)) == expected, s"sim: ${sim.subjects}")
    assert(sim.chat.size == 3, s"sim chat: ${sim.chat}")
    val input = lines.zipWithIndex.map { case (l, i) =>
      val toks = LogGen.tokenize(l)
      graft.loggen.SeqRow("uid-doc", i.toLong, "src-0", toks, toks.length)
    }.toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input))
    val dim = TfPipeline.subjectDim(routed)
    assert(dim.select("sid", "data_kind", "name").as[(Long, Int, String)].collect().toSeq.sortBy(_._1) ==
      expected.sortBy(_._1), "batch dim")
    val chat = TfPipeline.chatPass(routed).select(inline(col("chat"))).select("name").as[String].collect().toSeq
    assert(chat == Seq("P0", "P1", "P2"), s"batch chat: $chat")
    val pp = TfPipeline.perPlayer(routed, dim).select("name").as[String].collect().toSeq
    assert(pp == expected.take(cases.size).map(_._3), s"batch per-player: $pp")
  }

  test("account grammar: the interning fast path takes Rust's u32::from_str, on the string and the byte path") {
    // Hand-derived from the documented FromStr grammar: an optional '+',
    // then one or more ASCII digits (leading zeros allowed), value <=
    // 4294967295. A parse error falls back to the split, where uid 2 makes
    // the subject Bot(2).
    import graft.expr.Steam
    def player(acct: Long) = (Steam.K_PLAYER << 32) | acct
    val bot2 = (Steam.K_BOT << 32) | 2L
    val cases = Seq(
      "+7" -> player(7), "00000000007" -> player(7), "4294967295" -> player(4294967295L),
      "4294967296" -> bot2, "+" -> bot2, "-7" -> bot2, "" -> bot2
    )
    for ((acct, want) <- cases) {
      val raw = s"A<2><[U:1:$acct]><Red>"
      assert(Steam.playerSubjectId(raw) == want, s"string path: $raw")
      assert(Steam.playerSubjectIdU(org.apache.spark.unsafe.types.UTF8String.fromString(raw)) == want, s"byte path: $raw")
    }
  }

  test("routed rows preserve the token array exactly (per-row invariant)") {
    val input = LogGen.generate(spark, 2, 200, Seed).toDF()
    val env = TfPipeline.envelope(input)
    val bad = TfPipeline
      .routable(env)
      .withColumn("reline", graft.expr.GraftExpressions.tokens_to_string(col("tokens")))
      .join(input.select(col("doc_id"), col("line_no"), col("tokens").as("orig")), Seq("doc_id", "line_no"))
      .filter(not(col("tokens") <=> col("orig")))
      .count()
    assert(bad == 0L)
  }

  test("tokenize/detokenize round-trips (including multi-byte codepoints)") {
    val strings = Seq("hello", "héllo wörld", "emoji 😀 test", "", "\"quoted\" <x>")
    for (s <- strings) {
      val toks = LogGen.tokenize(s)
      assert(new String(toks, 0, toks.length) == s)
    }
  }
}
