package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import graft.sim.SimExpectations
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec of the one recovery step: batch runs
  * [[graft.pipeline.Recovery.step]] as a running window aggregate, and the
  * route of every line, the routed rows (every column, `time` included) and
  * the emit universe must equal [[RecoveryWindowsOracle]], the run-parity
  * window formulation it replaced -- on LogGen corpora under a heavy and a
  * light line-mutation recipe, and on hand-built recovery chains. The
  * mutated corpora abort docs at scale, which the oracle gate's clean
  * corpora never do, so this is the check of abort handling there. */
class RecoveryStepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("recovery-step")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def seqRows(docs: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    docs.flatMap { case (doc, lines) =>
      lines.zipWithIndex.map { case (l, i) =>
        val toks = LogGen.tokenize(l)
        graft.loggen.SeqRow(doc, i.toLong, "src-0", toks, toks.length)
      }
    }.toDF()
  }

  import RecoveryStepSpec.Recipe
  private val Heavy = Recipe("heavy", cut = 12, minute = 40, hour = 97)
  private val Light = Recipe("light", cut = 300, minute = 200, hour = 2000)

  /** `docs` LogGen docs of about `lines` lines under `r`, seeded by `seed`.
    * LogGen lines start `MM/DD/YYYY - HH:MM:SS: `. */
  private def mutated(seed: Long, docs: Int, lines: Int, r: Recipe): Seq[(String, Seq[String])] =
    (0 until docs).map { d =>
      val rnd = new scala.util.Random(seed * 1000003L + d)
      f"log-$d%06d" -> LogGen.docLines(seed, d.toLong, lines).map { l0 =>
        var l = l0
        if (rnd.nextInt(r.minute) == 0) l = l.substring(0, 16) + f"${(l.substring(16, 18).toInt + 7) % 60}%02d" + l.substring(18)
        if (rnd.nextInt(r.hour) == 0) l = l.substring(0, 13) + "27" + l.substring(15)
        if (rnd.nextInt(r.cut) == 0) l = l.substring(0, 1 + rnd.nextInt(l.length - 1))
        l
      }
    }

  /** The rows as JSON of every column, sorted. */
  private def json(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*))).collect().map(_.getString(0)).toSeq.sorted

  /** Compares batch with the oracle on `input`; returns (the routes as
    * (doc_id, line_no, route), universe docs, routed rows). */
  private def assertSameAsOracle(input: DataFrame, what: String): (Seq[(String, Long, String)], Int, Int) = {
    val env = TfPipeline.envelope(input)
    def routes(df: DataFrame) =
      df.select("doc_id", "line_no", "route").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val (gotRoutes, wantRoutes) = (routes(TfPipeline.routable(env)), routes(RecoveryWindowsOracle.routable(env)))
    assert(gotRoutes == wantRoutes,
      s"$what routes: only-step=${gotRoutes.diff(wantRoutes).take(5)}, only-oracle=${wantRoutes.diff(gotRoutes).take(5)}")

    val (universe, routed) = TfPipeline.routedWithUniverse(env)
    val (wantUniverse, wantRouted) = RecoveryWindowsOracle.routedWithUniverse(env)
    assert(routed.schema.simpleString == wantRouted.schema.simpleString, s"$what routed schema")
    val (g, w) = (json(routed), json(wantRouted))
    assert(g == w, s"$what routed: only-step=${g.diff(w).take(3)}, only-oracle=${w.diff(g).take(3)}")
    val docs = json(universe)
    assert(docs == json(wantUniverse), s"$what universe")
    (gotRoutes, docs.size, g.size)
  }

  private def linesTo(routes: Seq[(String, Long, String)], route: String): Int = routes.count(_._3 == route)

  test("mutated LogGen corpora: routes, routed rows and universe equal the run-parity windows") {
    spark.sparkContext.setLogLevel("WARN")
    val nDocs = 30
    for (seed <- Seq(42L, 7L, 13L); recipe <- Seq(Heavy, Light)) {
      val what = s"seed $seed ${recipe.name}"
      val (routes, universe, routed) = assertSameAsOracle(seqRows(mutated(seed, nDocs, 200, recipe)), what)
      // the corpus exercises what it is for: hard errors in every corpus,
      // surviving docs with routed rows under the light recipe
      assert(linesTo(routes, "__error") > 0, s"$what: no __error line")
      assert(linesTo(routes, "__dropped") > 0, s"$what: no __dropped line")
      if (recipe == Light) assert(universe > 0 && universe < nDocs && routed > 0,
        s"$what: $universe of $nDocs docs survive, $routed routed rows")
      else assert(universe < nDocs / 2, s"$what: $universe of $nDocs docs survive the heavy recipe")
    }
  }

  private val P = """"A<2><[U:1:100]><Red>""""
  private def ln(hms: String, rest: String) = s"04/11/2021 - $hms: $rest"
  private def truncKill(hms: String, tag: String) = ln(hms, s"""$P killed ${'"'}$tag""")
  private def spawn(hms: String) = ln(hms, s"""$P spawned as "Scout"""")

  test("hand-built chains: routes, routed rows and universe equal the oracle and the sequential classifier") {
    val docs = Seq(
      // ClassificationSpec's chains
      "hard-60s" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "B<3><[U:1:200]><Blue"), spawn("10:00:10")),
      "recovery-b" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "B<3><[U:1:200]><Blue"), spawn("10:02:00"),
        ln("10:02:05", s"""$P triggered "healed" against $P (healing "7")""")),
      "recovery-a" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "garbage L 04/11/2021 - 09:00:00 tail"),
        spawn("10:00:06")),
      "trailing" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "B<3><[U:1:200]><Blue")),
      "chain-2" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "chain-a"), truncKill("10:01:10", "chain-b"),
        spawn("10:01:15")),
      "chain-3" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "chain-a"), truncKill("10:01:10", "chain-b"),
        truncKill("10:01:15", "chain-c"), spawn("10:02:20"),
        ln("10:02:25", s"""$P triggered "healed" against $P (healing "7")""")),
      "chain-abort" -> Seq(spawn("10:00:00"), ln("10:00:05", s"""$P triggered "healed" against $P (healing "7")"""),
        truncKill("10:00:10", "chain-a"), spawn("10:00:15")),
      // a date panic, then lines after the abort
      "date-panic" -> Seq(spawn("10:00:00"), spawn("27:00:01"), truncKill("10:00:05", "x"), spawn("10:00:06")),
      // an invalid date on the consumed line counts as 0: >60 s back is an abort
      "consumed-bad-date" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "x"), spawn("27:30:00")),
      // an invalid date on the consuming line counts as 0: any valid date is > 60 s on
      "consumer-bad-date" -> Seq(spawn("10:00:00"), truncKill("27:00:05", "x"), spawn("10:00:10"), spawn("10:00:11")),
      // a Malformed envelope as the consumed line, and one on its own
      "consumed-malformed" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "x"), "04/11/2021 - 10:02:00: \""),
      "malformed" -> Seq(spawn("10:00:00"), "04/11/2021 - 10:00:01: \"", spawn("10:00:02")),
      // skipped and unhandled lines between a consumer and the rest
      "skip-consumed" -> Seq(spawn("10:00:00"), truncKill("10:00:05", "x"), "short junk", spawn("10:03:00")),
      "clean" -> Seq(spawn("10:00:00"), spawn("10:00:01"), ln("10:00:02", "World triggered \"Round_Start\""))
    )
    val (routes, universe, routed) = assertSameAsOracle(seqRows(docs), "hand-built")
    assert(linesTo(routes, "__error") > 0 && linesTo(routes, "__dropped") > 0)
    assert(universe > 0 && universe < docs.size && routed > 0, s"$universe docs, $routed rows")
    val got = routes.map { case (doc, line, route) => (doc, line) -> route }.toMap
    for ((doc, lines) <- docs) {
      val want = SimExpectations.classify(lines.toIndexedSeq).map(_.route)
      assert(want.indices.map(i => got((doc, i.toLong))) == want, s"$doc: routes != sequential classifier")
    }
  }
}

object RecoveryStepSpec {

  /** A line-mutation recipe: each line independently has its minute moved
    * 7 on (mod 60) with probability 1/`minute`, its hour set to the invalid
    * 27 with 1/`hour`, and is cut at a random point with 1/`cut`. */
  final case class Recipe(name: String, cut: Int, minute: Int, hour: Int)
}
