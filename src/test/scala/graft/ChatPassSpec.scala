package graft

import graft.expr.Steam
import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec of the subject identity and the chat pass:
  * `subjectDim` (one SubjectData kernel), `chat` and the `tf_chat`
  * projection (the per-doc pass over `PlayerModules.chatStep`) must equal
  * the Column formulations they replaced ([[ChatJoinOracle]]) row for row
  * on every column -- on LogGen corpora and on a hand-built doc holding the
  * identity edges. */
class ChatPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("chat-pass")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The rows as (doc_id, JSON of every other column), sorted. */
  private def rows(df: DataFrame): Seq[(String, String)] =
    df.select(col("doc_id"), to_json(struct(df.columns.filter(_ != "doc_id").map(col).toIndexedSeq: _*)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
      .sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Int = {
    assert(got.schema.simpleString == want.schema.simpleString, s"$what schema")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: only-new=${g.diff(w).take(5)}, only-oracle=${w.diff(g).take(5)}")
    g.size
  }

  /** The tf_chat shape of the oracle: one row per message. */
  private def oracleMessages(routed: DataFrame): DataFrame =
    ChatJoinOracle.chatMessages(routed, ChatJoinOracle.subjectDim(routed))
      .select(col("doc_id"), col("line_no"), col("msg.*"))

  /** Asserts dim, chat and the per-message projection equal the oracle;
    * returns their row counts. */
  private def assertEqualToOracle(routed: DataFrame, what: String): (Int, Int, Int) = {
    val dims = assertSame(TfPipeline.subjectDim(routed), ChatJoinOracle.subjectDim(routed), s"$what subjectDim")
    val chats = assertSame(TfPipeline.chat(routed, TfPipeline.subjectDim(routed)),
      ChatJoinOracle.chat(routed, ChatJoinOracle.subjectDim(routed)), s"$what chat")
    val msgs = assertSame(TfPipeline.chatPass(routed).select(col("doc_id"), inline(col("chat"))),
      oracleMessages(routed), s"$what messages")
    (dims, chats, msgs)
  }

  test("LogGen corpora: subjectDim, chat and the messages equal the oracle on several seeds") {
    spark.sparkContext.setLogLevel("WARN")
    for ((seed, docs, lines) <- Seq((42L, 12, 400), (7L, 4, 350), (13L, 3, 250), (99L, 3, 250))) {
      val routed = TfPipeline.routed(TfPipeline.envelope(LogGen.generate(spark, docs, lines, seed).toDF())).cache()
      try {
        val (dims, chats, msgs) = assertEqualToOracle(routed, s"seed $seed")
        assert(dims > 0 && chats > 0 && msgs > chats, s"seed $seed: rows $dims / $chats / $msgs")
      } finally { routed.unpersist(); () }
    }
  }

  test("the tf_chat query equals the oracle's messages") {
    // tf_* queries generate LogGen seed 42; sf0.005 -> 10 docs x 500 lines
    val dir = "generated/sf0.005"
    val routed = TfPipeline.routed(TfPipeline.envelope(SparkEntry.tfInput(spark, dir)))
    val got = SparkEntry.queries("tf_chat")(spark, dir)
    assert(got.columns.toSeq == Seq("doc_id", "line_no", "time", "name", "steam_id", "message", "chat_type"))
    assert(assertSame(got, oracleMessages(routed), "tf_chat") > 0)
  }

  test("hand-built identity edges: subjectDim, chat and the messages equal the oracle") {
    import spark.implicits._
    def q(raw: String) = "\"" + raw + "\""
    val subjects = Seq(
      "U1<65535><[U:1:11]><Red>", // largest u16 uid: a player
      "U2<65536><[U:1:12]><Red>", // u16 overflow: malformed
      "U3<000000000000000007><[U:1:13]><Red>", // 18 digits: a player
      "U4<0000000000000000007><[U:1:14]><Red>", // 19 digits, leading zeros: a player
      "U5<><[U:1:15]><Red>", // empty uid: malformed
      // Rust's u16::from_str: an optional '+', then ASCII digits with any
      // number of leading zeros
      "U6<+5><[U:1:16]><Red>", // leading '+': a player
      "U7<0005><[U:1:17]><Red>", // leading zeros: a player
      "U8<00000000000000000007><[U:1:18]><Red>", // 20 digits, zero-padded: a player
      "U9<+><[U:1:19]><Red>", // a lone '+': malformed
      "U10<-1><[U:1:20]><Red>", // a sign u16 rejects: malformed
      "B2<+6><BOT><Red>", // interned Bot(6) through the same uid parse
      "S2<8><STEAM_0:1:4444><Blue>", // steam2 text: player 8889
      "J<7><[U:1:6006]x><Blue>", // steam3 with trailing junk: a bot with uid 7
      "NoSplit<[U:1:77]>", // no 4-way split: malformed
      "B<5><[U:1:99]><Re]d>", // interned as Bot(5), valid steam3 text
      "A<2><[U:1:1001]><Red>",
      "Renamed<2><[U:1:1001]><Red>" // same sid as A: A's first-seen identity wins
    )
    val lines = (subjects.map(s => s"""${q(s)} say "from $s"""") ++ Seq(
      s"""${q("A<2><[U:1:1001]><Red>")} say_team "team line"""",
      s"""${q("Console<0><Console><Console>")} say "console line""""
    )).zipWithIndex.map { case (e, i) => f"04/11/2021 - 13:50:$i%02d: $e" }
    val input = lines.zipWithIndex.map { case (l, i) =>
      val toks = LogGen.tokenize(l)
      graft.loggen.SeqRow("edge-doc", i.toLong, "src-0", toks, toks.length)
    }.toDF()
    val routed = TfPipeline.routed(TfPipeline.envelope(input)).cache()
    try {
      assert(routed.count() == lines.size, "every line survives")
      val (dims, chats, msgs) = assertEqualToOracle(routed, "edges")
      assert((dims, chats, msgs) == (17, 1, 10), s"rows: ${(dims, chats, msgs)}")
      // the edges are really resolved as described, not vacuously equal
      val dim = TfPipeline.subjectDim(routed)
        .select("sid", "data_kind", "name", "steam64_text", "death_key").as[(Long, Int, String, Option[Long], Option[Long])]
        .collect().map(r => r._1 -> r).toMap
      def p(acct: Long) = (Steam.K_PLAYER << 32) | acct
      def kinds(ids: Long*) = ids.map(id => dim(id)._2)
      assert(kinds(p(11), p(12), p(13), p(14), p(15), p(8889), p(6006), p(77), (Steam.K_BOT << 32) | 5, p(1001)) ==
        Seq(1, 3, 1, 1, 3, 1, 2, 3, 1, 1), s"data kinds: $dim")
      assert(kinds(p(16), p(17), p(18), p(19), p(20), (Steam.K_BOT << 32) | 6) == Seq(1, 1, 1, 3, 3, 2),
        s"uid grammar: $dim")
      assert(dim(p(16)) == ((p(16), 1, "U6", Some(Steam.steam64(16)), Some(p(16)))), "'+5' player")
      assert(dim(p(8889)) == ((p(8889), 1, "S2", Some(Steam.steam64(8889)), Some(p(8889)))), "steam2 player")
      assert(dim(p(6006)) == ((p(6006), 2, "J", None, Some((Steam.K_BOT << 32) | 7))), "junk-steam bot id")
      assert(dim((Steam.K_BOT << 32) | 5) == (((Steam.K_BOT << 32) | 5, 1, "B", None, None)), "kind-2 bot")
      assert(dim(p(12))._3 == "U2<65536><[U:1:12]><Red>" && dim(p(12))._5.isEmpty, "malformed keeps the raw")
      assert(dim(p(1001))._3 == "A", "first-seen name")
      assert(dim(Steam.K_CONSOLE << 32)._3 == null, "console has no raw subject")
      val names = TfPipeline.chatPass(routed).select(inline(col("chat"))).select("name", "chat_type")
        .as[(String, String)].collect().toSeq
      assert(names == Seq("U1", "U3", "U4", "U6", "U7", "U8", "S2", "A", "A").map(_ -> "All") :+ ("A" -> "Team"),
        s"messages: $names")
    } finally { routed.unpersist(); () }
  }
}
