package graft.perfbench

import graft.expr.Steam
import graft.loggen.LogGen
import graft.sim.ReferenceSim
import org.apache.spark.sql.Row

import scala.collection.mutable

/** Output checks, run after an iteration's timer has stopped. Every check
  * returns the list of mismatches it found; an empty list means correct. */
object Check {

  /** The reference simulator's answer for one generated doc. */
  final case class Expected(
      aborted: Boolean,
      players: Vector[ReferenceSim.PlayerOut],
      chat: Vector[ReferenceSim.ChatMsg],
      /** First-seen name of each interned subject, by packed subject id. */
      names: Map[Long, String]
  )

  def docKey(doc: Long): String = f"log-$doc%06d"

  /** `ReferenceSim.run(LogGen.docLines(seed, doc, lines))` for every doc of
    * a `LogGen.generate(spark, docs, lines, seed)` corpus. */
  def expectations(seed: Long, docs: Int, lines: Int): Map[String, Expected] =
    (0 until docs).map { d =>
      val sim = ReferenceSim.run(LogGen.docLines(seed, d.toLong, lines))
      docKey(d.toLong) -> Expected(sim.hardError, sim.perPlayer, sim.chat, sim.subjects.map(x => x.sid -> x.name).toMap)
    }.toMap

  /** Collected `perPlayer` rows (with a trailing `map_entries(heals)`
    * column) and `chat` rows against the simulator, doc by doc. A doc the
    * simulator aborts on a hard error must be absent from both outputs. */
  def pipeline(perPlayer: Array[Row], chat: Array[Row], exp: Map[String, Expected]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val keys = perPlayer.map(r => (r.getString(0), r.getLong(2))).toSeq
    if (keys != keys.sorted) bad += "perPlayer is not ordered by (doc_id, steam64)"
    val ppByDoc = perPlayer.groupBy(_.getString(0))
    val chatByDoc = chat.groupBy(_.getString(0))
    (ppByDoc.keySet ++ chatByDoc.keySet).diff(exp.keySet).foreach(d => bad += s"$d: output for a doc not in the input")
    chatByDoc.collect { case (d, rs) if rs.length > 1 => bad += s"$d: ${rs.length} chat rows" }
    exp.toSeq.sortBy(_._1).foreach { case (doc, e) =>
      val rows = ppByDoc.getOrElse(doc, Array.empty[Row]).toSeq
      val msgs = chatByDoc.get(doc).map(_.head.getSeq[Row](1)).getOrElse(Seq.empty)
      if (e.aborted) {
        if (rows.nonEmpty || msgs.nonEmpty) bad += s"$doc: aborted doc has output"
      } else {
        if (rows.map(_.getString(1)) != e.players.map(_.steam3))
          bad += s"$doc: player set ${rows.map(_.getString(1))} != ${e.players.map(_.steam3)}"
        else rows.zip(e.players).foreach { case (r, p) => bad ++= player(doc, r, p, e.names) }
        if (msgs.length != e.chat.length) bad += s"$doc: ${msgs.length} chat messages != ${e.chat.length}"
        else msgs.zip(e.chat).zipWithIndex.foreach { case ((g, m), i) =>
          val got = (g.getLong(0), g.getString(1), g.getLong(2), g.getString(3), g.getString(4))
          val want = (m.time, m.name, m.steam64, m.message, m.chatType)
          if (got != want) bad += s"$doc: chat[$i] $got != $want"
        }
      }
    }
    bad.toSeq
  }

  /** Every column of one per-player row. */
  private def player(doc: String, r: Row, p: ReferenceSim.PlayerOut, names: Map[Long, String]): Seq[String] = {
    val who = s"$doc/${p.steam3}"
    val m = r.getStruct(9)
    val e = p.medicEngine // the engine's float accumulation order, bit for bit
    val fields = Seq(
      "steam64" -> (r.getLong(2), p.steam64),
      "name" -> (r.getString(3), names.getOrElse((Steam.K_PLAYER << 32) | p.account, null)),
      "kills" -> (r.getSeq[Long](4), p.kills.toSeq),
      "deaths" -> (r.getSeq[Long](5), p.deaths.toSeq),
      "assists" -> (r.getSeq[Long](6), p.assists.toSeq),
      "damage" -> (r.getSeq[Long](7), p.damage.toSeq),
      "heals" -> (r.getSeq[Row](10).map(h => (h.getString(0), h.getLong(1))), p.heals),
      "medic" -> (
        (m.getLong(0), m.getFloat(1), m.getLong(2), m.getLong(3), m.getFloat(4), m.getFloat(5),
          m.getFloat(6), m.getFloat(7), m.getLong(8), m.getLong(9)),
        (e.advantagesLost, e.biggestAdvantageLost, e.nearFullChargeDeath, e.deathsAfterUber,
          e.avgTimeBeforeHealing, e.avgTimeToBuild, e.avgTimeToUse, e.avgUberLength, e.chargeCount, e.drops)
      )
    )
    fields.collect { case (f, (got, want)) if !same(got, want) => s"$who $f: $got != $want" }
  }

  /** Equality that treats NaN as equal to NaN (the f32 averages divide by
    * zero exactly where the reference does). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Product, y: Product) =>
      x.productArity == y.productArity && x.productIterator.zip(y.productIterator).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }

  /** Components (id -> smallest id of its component) of an undirected
    * pair list, by union-find on the driver. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** `connectedComponents` output against union-find over the same pairs. */
  def components(got: Array[(Long, Long)], pairs: Seq[(Long, Long)]): Seq[String] = {
    val want = unionFind(pairs)
    val gotMap = got.toMap
    val bad = mutable.ArrayBuffer.empty[String]
    if (gotMap.size != got.length) bad += s"${got.length - gotMap.size} ids labelled twice"
    (gotMap.keySet ++ want.keySet).toSeq.sorted.foreach { id =>
      if (gotMap.get(id) != want.get(id)) bad += s"id $id: component ${gotMap.get(id)} != ${want.get(id)}"
    }
    bad.take(20).toSeq
  }
}
