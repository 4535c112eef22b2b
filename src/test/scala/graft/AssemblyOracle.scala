package graft

import graft.pipeline.PlayerModules
import graft.pipeline.PlayerModules.{ClassAcc, DocModules, PlayerRow, RoutedLine, medicDefault, medicStats, saturate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test oracle for [[graft.pipeline.TfPipeline.perPlayerAssembled]] and
  * [[graft.pipeline.TfPipeline.claimDeaths]]: the formulations that the
  * one-fold assembly replaced, kept unchanged -- the routed lines cogrouped
  * with the doc's dim rows (every player with its name, and every death
  * claim), the claims as a `min_by` aggregate per (doc, death_key), and the
  * claimed deaths as a union-merge aggregate. The dim they read is
  * [[ChatJoinOracle.subjectDim]], the `min_by` subject dimension. */
object AssemblyOracle {

  /** (doc_id, bkey, claimant): which player-interned subject claims each
    * deaths bucket -- the first-seen subject per (doc, death_key), as a
    * single min_by aggregate (no window; first_line is unique per
    * subject within a doc, sid is a formal tiebreak). */
  private def deathClaims(dim: DataFrame): DataFrame =
    dim
      .filter(shiftrightunsigned(col("sid"), 32) === 1 && col("death_key").isNotNull)
      .groupBy(col("doc_id"), col("death_key").as("bkey"))
      .agg(min_by(col("sid"), struct(col("first_line"), col("sid"))).as("claimant"))

  /** Re-key per-bucket deaths arrays by the subject that claims them.
    * `buckets`: (doc_id, sid, deaths) with sid = bucket key. Returns
    * (doc_id, sid, deaths) keyed by the claiming subject; unclaimed buckets
    * and claimants whose key misses are dropped. */
  def claimDeaths(buckets: DataFrame, dim: DataFrame): DataFrame = {
    val claims = deathClaims(dim)
    buckets
      .select(col("doc_id"), col("sid").as("bkey"), col("deaths"),
        lit(null).cast("bigint").as("claimant"))
      .unionByName(claims.select(col("doc_id"), col("bkey"),
        lit(null).cast("array<bigint>").as("deaths"), col("claimant")))
      .groupBy(col("doc_id"), col("bkey"))
      .agg(
        first(col("deaths"), ignoreNulls = true).as("deaths"),
        first(col("claimant"), ignoreNulls = true).as("sid")
      )
      .filter(col("sid").isNotNull && col("deaths").isNotNull)
      .select("doc_id", "sid", "deaths")
  }

  /** A doc's row of the subject dimension for the assembly: a player subject
    * with its name (`bkey` None), or the deaths bucket `bkey` that subject
    * `sid` claims ([[deathClaims]]). */
  final case class DimRow(sid: Long, name: String, bkey: Option[Long])

  /** One row per player subject of the doc, zeros where a module has none.
    * A player's deaths are those of the bucket it claims. */
  private def playerRows(doc: String, m: DocModules, dim: Iterator[DimRow]): Iterator[PlayerRow] = {
    val (claims, players) = dim.toSeq.partition(_.bkey.isDefined)
    val claimed = claims.map(c => c.sid -> c.bkey.get).toMap
    val none = ClassAcc()
    def cells(sid: Long): ClassAcc = m.cls.stats.getOrElse(sid, none)
    players.iterator.map { p =>
      val c = cells(p.sid)
      PlayerRow(
        doc, p.sid, p.name,
        saturate(c.kills), saturate(claimed.get(p.sid).fold(none)(cells).deaths),
        saturate(c.assists), saturate(c.damage),
        m.heals.get(p.sid).fold(Map.empty[Long, Long])(h => scala.collection.immutable.TreeMap(h.toSeq: _*)),
        m.medics.get(p.sid).fold(medicDefault)(medicStats)
      )
    }
  }

  /** The cogroup assembly: each doc's routed lines, in line order, with
    * the doc's dim rows, folded through the module steps. */
  def perPlayerAssembled(routedDf: DataFrame, dim: DataFrame): DataFrame = {
    import routedDf.sparkSession.implicits._
    val dimRows = dim
      .filter(shiftrightunsigned(col("sid"), 32) === 1) // SubjectId::steam_id() is Some
      .select(col("doc_id"), col("sid"), col("name"), lit(null).cast("bigint").as("bkey"))
      .unionByName(deathClaims(dim).select(col("doc_id"), col("claimant").as("sid"),
        lit(null).cast("string").as("name"), col("bkey")))
      .groupBy(col("doc_id"))
      .as[String, DimRow]

    routedDf
      .select(col("doc_id"), col("line_no"), col("time"), col("sid"), col("subject"), col("event_type"),
        col("charge"), col("duration"), col("f_time"), col("class_str"), col("target_kind"),
        col("target_raw"), col("dmg").as("dmgOpt"), col("healing").as("healingOpt"))
      .groupBy(col("doc_id"))
      .as[String, RoutedLine]
      .cogroupSorted(dimRows)(col("line_no"))()((doc, lines, dimOfDoc) =>
        playerRows(doc, PlayerModules.foldDoc(lines), dimOfDoc))
      .select(
        col("doc_id"),
        concat(lit("[U:1:"), col("sid").bitwiseAND(lit(0xffffffffL)), lit("]")).as("steam3"),
        (col("sid").bitwiseAND(lit(0xffffffffL)) + lit(graft.expr.Steam.STEAM64_BASE)).as("steam64"),
        col("name"),
        col("kills"),
        col("deaths"),
        col("assists"),
        col("damage"),
        transform_keys(col("heals_by_account"), (k, _) => concat(lit("[U:1:"), k, lit("]"))).as("heals"),
        col("medic")
      )
  }
}
