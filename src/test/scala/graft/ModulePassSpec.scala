package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import graft.sim.ReferenceSim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec of the per-doc module pass: `classStats`, `healSpread`
  * and `medicStats` (projections of the pass over the PlayerModules steps)
  * must equal the ordered-window formulations they replaced
  * ([[WindowModulesOracle]]) row for row -- same keys, same values (floats
  * bit-exact, NaN included), same heal-map order, same column types -- on
  * LogGen corpora and on hand-built docs holding the quirk edges. */
class ModulePassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("module-pass")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val modules: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("classStats", TfPipeline.classStats, WindowModulesOracle.classStats),
    ("healSpread", TfPipeline.healSpread, WindowModulesOracle.healSpread),
    ("medicStats", TfPipeline.medicStats, WindowModulesOracle.medicStats)
  )

  /** (doc_id, sid, every other column as JSON; maps as ordered entries). */
  private def rows(df: DataFrame): Seq[(String, Long, String)] = {
    val payload = df.columns.toSeq.filter(c => c != "doc_id" && c != "sid").map { c =>
      if (c == "heals_by_account") map_entries(col(c)).as(c) else col(c)
    }
    df.select(col("doc_id"), col("sid"), to_json(struct(payload: _*)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
      .sorted
  }

  /** Asserts pass == oracle for every module; returns the row counts. */
  private def assertEqualToOracle(routed: DataFrame, what: String): Map[String, Int] =
    modules.map { case (name, pass, oracle) =>
      val (p, o) = (pass(routed), oracle(routed))
      assert(p.schema.simpleString == o.schema.simpleString, s"$what $name schema")
      val (got, want) = (rows(p), rows(o))
      assert(got == want,
        s"$what $name: only-pass=${got.diff(want).take(5)}, only-oracle=${want.diff(got).take(5)}")
      name -> got.size
    }.toMap

  private def routedOf(docs: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val input = docs.flatMap { case (doc, lines) =>
      lines.zipWithIndex.map { case (l, i) =>
        val toks = LogGen.tokenize(l)
        graft.loggen.SeqRow(doc, i.toLong, "src-0", toks, toks.length)
      }
    }.toDF()
    TfPipeline.routed(TfPipeline.envelope(input))
  }

  /** `events` stamped one second apart from 13:50:00. */
  private def stamped(events: Seq[String]): Seq[String] =
    events.zipWithIndex.map { case (e, i) => f"04/11/2021 - 13:${50 + i / 60}%02d:${i % 60}%02d: $e" }

  private val A = """"A<2><[U:1:1001]><Red>""""
  private val B = """"B<3><[U:1:1002]><Blue>""""
  private val G = """"ghost_1<9><[U:1:1009]><Red>""""
  private val M = """"M<4><[U:1:1004]><Red>""""
  private val N = """"N<5><[U:1:1005]><Blue>""""
  private val H = """"H<6><[U:1:1006]><Red>""""
  private val kp = """(attacker_position "1 2 3") (victim_position "4 5 6")"""
  private def damage(by: String, on: String, d: String) = s"""$by triggered "damage" against $on (damage "$d") (weapon "scattergun")"""
  private def healed(by: String, acct: Long, h: String) =
    s"""$by triggered "healed" against "T<7><[U:1:$acct]><Blue>" (healing "$h")"""

  test("LogGen corpora: the pass projections equal the window oracle on several seeds") {
    spark.sparkContext.setLogLevel("WARN")
    for ((seed, docs, lines) <- Seq((42L, 12, 400), (7L, 4, 350), (13L, 3, 250), (99L, 3, 250), (44L, 10, 400))) {
      val routed = TfPipeline.routed(TfPipeline.envelope(LogGen.generate(spark, docs, lines, seed).toDF())).cache()
      try {
        val n = assertEqualToOracle(routed, s"seed $seed")
        assert(n.values.forall(_ > 0), s"seed $seed: every module emits rows, got $n")
      } finally { routed.unpersist(); () }
    }
  }

  test("hand-built edge docs: the pass projections equal the window oracle") {
    val classDoc = Seq(
      s"""$A spawned as "Scout"""",
      s"""$B spawned as "Soldier"""",
      // outside a round: no kill, assist or damage counts
      s"""$B killed $A with "rocket" $kp""",
      s"""$A triggered "kill assist" against $B""",
      damage(A, B, "100"),
      """World triggered "Round_Start"""",
      // ghost self-kills: the first finds no attacker entry (no death)
      s"""$G killed $G with "world" $kp""",
      s"""$G killed $G with "world" $kp""",
      // damage bounds: 0 and 1500 are dropped, 1 and 1499 count
      damage(A, B, "0"),
      damage(A, B, "1500"),
      damage(A, B, "1"),
      damage(A, B, "1499"),
      // damage against a subject without an entry groups the attacker only
      damage(B, N, "10"),
      s"""$A killed $B with "scattergun" $kp""",
      s"""$B triggered "kill assist" against $N"""
    ) ++
      // u16 saturation: 50 x 1499 damage > 65535
      Seq.fill(50)(damage(B, A, "1499")) ++ Seq(
      """World triggered "Round_Win" (winner "Red")""",
      s"""$A killed $B with "scattergun" $kp""",
      damage(A, B, "50")
    )
    val medicDoc = Seq(
      s"""$M spawned as "Medic"""",
      // charge_ready before any first_heal builds nothing
      s"""$M triggered "chargeready"""",
      s"""$M triggered "first_heal_after_spawn" (time "3.5")""",
      // an uber length with no deployed charge: x / 0 = Inf, 0 / 0 = NaN
      s"""$M triggered "chargeended" (duration "4.2")""",
      s"""$M triggered "chargeready"""",
      s"""$M triggered "lost_uber_advantage" (time "12")""",
      s"""$A triggered "medic_death" against $M (healing "100") (ubercharge "97")""",
      // first_heal only: every average divides by zero
      s"""$N triggered "first_heal_after_spawn" (time "0")""",
      // no first_heal: the all-zero default
      s"""$H triggered "chargedeployed" (medigun "medigun")"""
    )
    val healDoc = Seq(
      // u32 wrap: 2 x (2^32 - 1) + 2 = 0 mod 2^32
      healed(H, 700L, "4294967295"),
      healed(H, 700L, "4294967295"),
      healed(H, 700L, "2"),
      healed(H, 9L, "5"),
      healed(H, 3L, "7"),
      s"""$H triggered "healed" against "T<7><[U:1:8]><Blue>"""", // no amount: 0
      s"""$H triggered "healed" against "Console<0><Console><Console>" (healing "5")""", // not a player
      healed(M, 3L, "1")
    )
    val emptyDoc = Seq(s"""$A say "gg"""", s"""$B say_team "rematch?"""")
    val routed = routedOf(Seq(
      "class-doc" -> stamped(classDoc), "medic-doc" -> stamped(medicDoc),
      "heal-doc" -> stamped(healDoc), "empty-doc" -> stamped(emptyDoc))).cache()
    try {
      val n = assertEqualToOracle(routed, "edges")
      assert(n == Map("classStats" -> 3, "healSpread" -> 2, "medicStats" -> 4), s"rows per module: $n")
      // the edges are really in the output, not vacuously equal
      val cs = TfPipeline.classStats(routed).filter(col("doc_id") === "class-doc")
      val sat = cs.filter(col("sid") === ((1L << 32) | 1002L)).select("damage").head().getSeq[Long](0)
      assert(sat.contains(65535L), s"u16 saturation of B's damage: $sat")
      val wrap = TfPipeline.healSpread(routed).filter(col("sid") === ((1L << 32) | 1006L))
        .select(map_entries(col("heals_by_account"))).head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(wrap == Seq(3L -> 7L, 8L -> 0L, 9L -> 5L, 700L -> 0L), s"heal map order and u32 wrap: $wrap")
      val m = TfPipeline.medicStats(routed).filter(col("sid") === ((1L << 32) | 1004L))
        .select("medic.avg_uber_length", "medic.avg_time_to_use").head()
      assert(m.getFloat(0).isPosInfinity && m.getFloat(1).isNaN, s"zero-divisor averages: $m")
      assert(TfPipeline.classStats(routed).filter(col("doc_id") === "empty-doc").isEmpty)
    } finally { routed.unpersist(); () }
  }

  test("a NaN lost-advantage time never raises the biggest one: the pass follows the reference") {
    // The reference updates biggest_advantage_lost only when the time
    // exceeds the current one, so NaN never wins; the window oracle's max()
    // ranks NaN highest. The pass matches ReferenceSim here, not the oracle.
    val lines = stamped(Seq(
      s"""$M triggered "first_heal_after_spawn" (time "2")""",
      s"""$M triggered "lost_uber_advantage" (time "7")""",
      s"""$M triggered "lost_uber_advantage" (time "NaN")"""))
    val sim = ReferenceSim.run(lines.toIndexedSeq).perPlayer.find(_.account == 1004L).get
    val routed = routedOf(Seq("nan-doc" -> lines))
    val got = TfPipeline.medicStats(routed).select("medic.biggest_advantage_lost").head().getFloat(0)
    val oracle = WindowModulesOracle.medicStats(routed).select("medic.biggest_advantage_lost").head().getFloat(0)
    assert(got == 7f && sim.medicEngine.biggestAdvantageLost == 7f, s"pass $got, sim ${sim.medicEngine}")
    assert(oracle.isNaN, s"oracle $oracle")
  }
}
