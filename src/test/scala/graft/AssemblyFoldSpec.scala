package graft

import graft.expr.{LineParser, Steam}
import graft.loggen.LogGen
import graft.pipeline.{Route, TfPipeline}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Differential spec of the one-fold assembly: `perPlayerAssembled` (one
  * per-doc fold of the module steps and the player intern, then the claim
  * rule), `subjectDim` (a fold of the intern alone) and `claimDeaths` (the
  * same claim rule over the dim) must equal the formulations they replaced
  * ([[AssemblyOracle]] over [[ChatJoinOracle.subjectDim]]) row for row on
  * every column -- on LogGen corpora, on hand-built docs holding the claim
  * and identity edges, and over a route store holding a hard-error doc. */
class AssemblyFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("assembly-fold")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The rows as (doc_id, JSON of every other column; maps as ordered
    * entries), sorted. */
  private def rows(df: DataFrame): Seq[(String, String)] = {
    val payload = df.schema.fields.toSeq.filter(_.name != "doc_id").map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]) map_entries(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(col("doc_id"), to_json(struct(payload: _*)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
      .sorted
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Int = {
    assert(got.schema.simpleString == want.schema.simpleString, s"$what schema")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: only-fold=${g.diff(w).take(5)}, only-oracle=${w.diff(g).take(5)}")
    g.size
  }

  /** Asserts the assembly, the dim and the claimed deaths equal the
    * oracle; returns their row counts. */
  private def assertEqualToOracle(routed: DataFrame, what: String): (Int, Int, Int) = {
    val oracleDim = ChatJoinOracle.subjectDim(routed)
    val dim = TfPipeline.subjectDim(routed)
    val buckets = TfPipeline.classStats(routed).select("doc_id", "sid", "deaths")
    (
      assertSame(TfPipeline.perPlayerAssembled(routed, dim), AssemblyOracle.perPlayerAssembled(routed, oracleDim),
        s"$what assembly"),
      assertSame(dim, oracleDim, s"$what subjectDim"),
      assertSame(TfPipeline.claimDeaths(buckets, dim), AssemblyOracle.claimDeaths(buckets, oracleDim),
        s"$what claimed deaths")
    )
  }

  private def seqRows(docs: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    docs.flatMap { case (doc, lines) =>
      lines.zipWithIndex.map { case (l, i) =>
        val toks = LogGen.tokenize(l)
        graft.loggen.SeqRow(doc, i.toLong, "src-0", toks, toks.length)
      }
    }.toDF()
  }

  /** `events` stamped one second apart from 13:50:00. */
  private def stamped(events: Seq[String]): Seq[String] =
    events.zipWithIndex.map { case (e, i) => f"04/11/2021 - 13:${50 + i / 60}%02d:${i % 60}%02d: $e" }

  private val kp = """(attacker_position "1 2 3") (victim_position "4 5 6")"""
  private val A = """"A<2><[U:1:1001]><Red>""""
  private val B = """"B<3><[U:1:1002]><Blue>""""
  // interned Player(7777) by the rightmost ':N]' scan; SubjectData Player(1001)
  private val D = """"T<9><[U:1:1001]><R:7777]d>""""
  // interned Player(6006); SubjectData Bot(7)
  private val J = """"J<7><[U:1:6006]x><Blue>""""
  private val Bot = """"bot<7><BOT><Red>""""
  // interned Player(5005); SubjectData MalformedPlayer (u16 overflow)
  private val O = """"O<70000><[U:1:5005]><Red>""""
  // no 4-way split: interned Player(77), SubjectData MalformedPlayer
  private val NoSplit = """"NoSplit<[U:1:77]>""""
  // interned MalformedPlayer: no steam id, no u16 uid
  private val W = """"W<x><STEAM_9><Red>""""

  /** Two players contending for bucket Player(1001), D seen first. */
  private val contendDoc = stamped(Seq(
    s"""$D spawned as "Spy"""",
    s"""$A spawned as "Scout"""",
    s"""$B spawned as "Soldier"""",
    """World triggered "Round_Start"""",
    s"""$B killed $A with "rocket" $kp""", // bucket Player(1001): D claims it
    s"""$A killed $D with "scattergun" $kp""", // bucket Player(7777): nobody's key
    s"""$A say "gg""""
  ))

  /** Pathological keys and MalformedPlayer raws. */
  private val identityDoc = stamped(Seq(
    s"""$A spawned as "Scout"""",
    s"""$O spawned as "Pyro"""",
    s"""$W spawned as "Heavy"""",
    """World triggered "Round_Start"""",
    s"""$A killed $Bot with "scattergun" $kp""", // bucket Bot(7): J steals it
    s"""$A killed $O with "scattergun" $kp""", // bucket Player(5005): O's key misses
    s"""$O killed $A with "flamethrower" $kp""",
    s"""$W killed $A with "minigun" $kp""",
    s"""$J say "borrowed"""",
    s"""$NoSplit say "no split"""",
    s"""$O triggered "healed" against $A (healing "40")"""
  ))

  test("LogGen corpora: the assembly, subjectDim and the claimed deaths equal the oracle on several seeds") {
    spark.sparkContext.setLogLevel("WARN")
    for ((seed, docs, lines) <- Seq((42L, 12, 400), (7L, 4, 350), (13L, 3, 250), (99L, 3, 250))) {
      val routed = TfPipeline.routed(TfPipeline.envelope(LogGen.generate(spark, docs, lines, seed).toDF())).cache()
      try {
        val (players, dims, claimed) = assertEqualToOracle(routed, s"seed $seed")
        assert(players > 0 && dims > players && claimed > 0, s"seed $seed: rows $players / $dims / $claimed")
      } finally { routed.unpersist(); () }
    }
  }

  test("hand-built docs: contended bucket, pathological death keys and MalformedPlayer raws equal the oracle") {
    val routed = TfPipeline.routed(TfPipeline.envelope(seqRows(Seq(
      "contend-doc" -> contendDoc, "identity-doc" -> identityDoc)))).cache()
    try {
      // players: D, A, B; A, O, J, NoSplit. sids: those plus World and W. claimed
      // buckets: B and Player(1001) (by D); Player(1001) (by A) and Bot(7) (by J)
      assert(assertEqualToOracle(routed, "edges") == ((7, 10, 4)))
      // the edges are really resolved as described, not vacuously equal
      val pp = TfPipeline.perPlayerAssembled(routed, TfPipeline.subjectDim(routed))
        .select("doc_id", "steam3", "name", "deaths").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getSeq[Long](3))).toMap
      val (sol, sct, pyro) = (LineParser.classIndex("soldier"), LineParser.classIndex("scout"), LineParser.classIndex("pyro"))
      def cell(i: Int) = Seq.tabulate(10)(j => if (j == i) 1L else 0L)
      val zero = Seq.fill(10)(0L)
      assert(pp(("contend-doc", "[U:1:7777]")) == (("T", cell(sol))), "D, first seen, claims Player(1001)")
      assert(pp(("contend-doc", "[U:1:1001]")) == (("A", zero)), "A finds its bucket claimed")
      assert(pp(("identity-doc", "[U:1:6006]")) == (("J", cell(sct))), "J steals the bot's bucket")
      assert(pp(("identity-doc", "[U:1:5005]")) == ((O.stripPrefix("\"").stripSuffix("\""), zero)),
        "O: malformed name, its key misses")
      val aDeaths = pp(("identity-doc", "[U:1:1001]"))._2
      assert(aDeaths(pyro) == 1L && aDeaths.sum == 2L, s"A died to the pyro O and to W: $aDeaths")
      assert(pp(("identity-doc", "[U:1:77]"))._1 == NoSplit.stripPrefix("\"").stripSuffix("\""), "no-split raw")
      assert(pp.keys.count(_._1 == "identity-doc") == 4, "W interns as MalformedPlayer and the bot as a bot: no rows")
    } finally { routed.unpersist(); () }
  }

  test("a hard-error doc read back through routedFromStore is dropped whole; the rest equals the oracle") {
    spark.sparkContext.setLogLevel("WARN")
    val hardError = stamped(Seq(
      s"""$A spawned as "Scout"""",
      s"""$A killed ${'"'}B<3><[U:1:200]><Blue""", // truncated, next line within 60 s
      s"""$A spawned as "Medic""""
    ))
    val input = LogGen.generate(spark, 4, 300, 42L).toDF()
      .unionByName(seqRows(Seq("contend-doc" -> contendDoc, "identity-doc" -> identityDoc, "doc-error" -> hardError)))
    val dir = Files.createTempDirectory("graft-assembly-fold").toString
    try {
      Route.writeRouted(spark, TfPipeline.routable(TfPipeline.envelope(input)), dir, Route.fingerprint(input))
      val stored = spark.read.parquet(s"$dir/data")
      assert(stored.filter(col("route") === "__error" && col("doc_id") === "doc-error").count() > 0,
        "the store holds the hard-error doc's dead letters")
      assert(stored.filter(col("route") =!= "__error" && col("doc_id") === "doc-error").count() > 0,
        "and its handled lines")
      val fromStore = TfPipeline.routedFromStore(stored).cache()
      val routed = TfPipeline.routed(TfPipeline.envelope(input)).cache()
      try {
        assert(fromStore.filter(col("doc_id") === "doc-error").isEmpty, "the aborted doc is dropped whole")
        assertSame(fromStore, routed, "routedFromStore vs routed")
        assertSame(TfPipeline.perPlayerAssembled(fromStore, TfPipeline.subjectDim(fromStore)),
          AssemblyOracle.perPlayerAssembled(routed, ChatJoinOracle.subjectDim(routed)), "store assembly")
      } finally { fromStore.unpersist(); routed.unpersist(); () }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("the claim rule: the least (first line, sid) per death key, players only, None claims nothing") {
    def p(v: Long) = (Steam.K_PLAYER << 32) | v
    def bot(v: Long) = (Steam.K_BOT << 32) | v
    val claims = graft.pipeline.PlayerModules.claims(Iterator(
      (p(1), 5L, Some(p(1))), (p(2), 3L, Some(p(1))), // p(2) is seen first
      (p(3), 1L, Some(bot(7))),
      (p(4), 0L, None), // a miss claims nothing
      (bot(9), 0L, Some(bot(9))) // not a player
    ))
    assert(claims == Map(p(1) -> p(2), bot(7) -> p(3)))
  }
}
