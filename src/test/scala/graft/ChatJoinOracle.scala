package graft

import graft.expr.Steam
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test oracle for [[graft.pipeline.TfPipeline.subjectDim]] and
  * [[graft.pipeline.TfPipeline.chat]]: the Column formulations that the
  * SubjectData kernel and the per-doc chat pass replaced, kept unchanged --
  * the dimension's SubjectData derivation as Column code, and chat as the
  * player says joined to that dimension, then collected and sorted per doc.
  * The raw-subject split and the steam-text account, formerly native
  * expressions, are Scala UDFs here over the same [[Steam]] parsers. */
object ChatJoinOracle {

  final case class Split(name: String, user_id: String, steam: String, team: String)

  /** rsplitn(4, '<') player-subject split; null on malformed. */
  private val split_player_subject = udf((raw: String) =>
    Option(raw).flatMap(r => Option(Steam.splitPlayerSubject(r))).map(p => Split(p(0), p(1), p(2), p(3))))

  /** from_steam3 orElse from_steam2 -> account id, null if neither parses. */
  private val steam_text_account = udf((s: String) =>
    Option(s).map { t => val a3 = Steam.steam3Account(t); if (a3 >= 0) a3 else Steam.steam2Account(t) }
      .filter(_ >= 0))

  def subjectDim(routedDf: DataFrame): DataFrame = {
    val sp = split_player_subject(col("first_subject"))
    val acct = steam_text_account(sp.getField("steam"))
    // u16::from_str: an optional '+', ASCII digits, leading zeros allowed
    val digits = regexp_replace(sp.getField("user_id"), "^\\+?0*", "")
    val uidOk = sp.getField("user_id").rlike("^\\+?[0-9]+$") && length(digits) <= 5 &&
      lpad(digits, 5, "0") <= lit("65535")
    routedDf
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        min_by(col("subject"), col("line_no")).as("first_subject"),
        min(col("line_no")).as("first_line")
      )
      .withColumn("kind", shiftrightunsigned(col("sid"), 32).cast("int"))
      // sid kinds 1 (player) AND 2 (bot) both come from player-quoted raw
      // subjects; SubjectData splits the name for both (common.rs:313-329:
      // Bot { name, user_id, team } keeps the SPLIT name, not the raw)
      .withColumn(
        "data_kind",
        when(
          col("kind").isin(1, 2),
          when(sp.isNull, 3)
            .when(!uidOk, 3)
            .when(acct.isNull, 2)
            .otherwise(1)
        ).otherwise(col("kind"))
      )
      .withColumn(
        "name",
        when(col("kind").isin(1, 2) && col("data_kind").isin(1, 2), sp.getField("name"))
          .otherwise(col("first_subject"))
      )
      .withColumn(
        "steam64_text",
        when(col("kind") === 1 && col("data_kind") === 1, acct + lit(Steam.STEAM64_BASE))
      )
      .withColumn(
        "death_key",
        when(
          col("kind") === 1,
          when(col("data_kind") === 1, lit(Steam.K_PLAYER << 32) + acct)
            .when(col("data_kind") === 2,
              lit(Steam.K_BOT << 32) + lpad(digits, 5, "0").cast("long"))
        )
      )
      .select("doc_id", "sid", "data_kind", "name", "steam64_text", "first_line", "death_key")
  }

  /** Chat (A6 + J2): ordered player messages with first-seen identity. */
  def chatMessages(routedDf: DataFrame, dim: DataFrame): DataFrame = {
    val says = routedDf
      .filter(col("event_type").isin("say", "say_team"))
      .filter(shiftrightunsigned(col("sid"), 32) === 1) // SubjectId::Player only
      .select(
        col("doc_id"),
        col("sid"),
        col("line_no"),
        col("time"),
        col("text").as("message"),
        when(col("event_type") === "say", "All").otherwise("Team").as("chat_type")
      )
    says
      .join(dim.filter(col("data_kind") === 1), Seq("doc_id", "sid"))
      .select(
        col("doc_id"),
        col("line_no"),
        struct(
          col("time"),
          col("name"),
          col("steam64_text").as("steam_id"),
          col("message"),
          col("chat_type")
        ).as("msg")
      )
  }

  /** Global chat output: one row per doc with the ordered message array. */
  def chat(routedDf: DataFrame, dim: DataFrame): DataFrame =
    chatMessages(routedDf, dim)
      .groupBy("doc_id")
      .agg(
        transform(
          sort_array(collect_list(struct(col("line_no"), col("msg")))),
          e => e.getField("msg")
        ).as("chat")
      )
}
