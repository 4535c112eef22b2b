package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.ReferenceSim
import org.scalatest.funsuite.AnyFunSuite

/** Recovery-classification semantics (lib.rs:68-99) on hand-built docs, plus
  * parser-totality properties over adversarial random lines. */
class ClassificationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("classification")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toDf(lines: Seq[String]) = {
    import spark.implicits._
    lines.zipWithIndex.map { case (l, i) =>
      val t = LogGen.tokenize(l)
      graft.loggen.SeqRow("doc-x", i.toLong, "src-0", t, t.length)
    }.toDF()
  }

  /** Lines of `env` routed to `route`. */
  private def routedTo(env: DataFrame, route: String): Long =
    TfPipeline.routable(env).filter(col("route") === route).count()

  private val P = """"A<2><[U:1:100]><Red>""""
  private def ln(hms: String, rest: String) = s"04/11/2021 - $hms: $rest"

  test("hard error: truncated kill followed by <=60s line") {
    spark.sparkContext.setLogLevel("WARN")
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}B<3><[U:1:200]><Blue"""), // required-field error
      ln("10:00:10", s"""$P spawned as "Medic"""") // within 60s -> hard error
    )
    assert(routedTo(TfPipeline.envelope(toDf(lines)), "__error") == 1)
    val sim = ReferenceSim.run(lines.toIndexedSeq)
    assert(sim.hardError)
  }

  test("recovery (b): truncated kill + >60s jump drops BOTH lines") {
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}B<3><[U:1:200]><Blue"""),
      ln("10:02:00", s"""$P spawned as "Medic""""), // consumed + dropped
      ln("10:02:05", s"""$P triggered "healed" against $P (healing "7")""")
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 0)
    assert(routedTo(env, "__dropped") == 2)
    val routed = TfPipeline.routed(env)
    // survivors: the first spawn and the heal
    assert(routed.select("event_type").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("healed", "spawned"))
    val sim = ReferenceSim.run(lines.toIndexedSeq)
    assert(!sim.hardError && sim.handledCount == 2)
  }

  test("recovery (a): same-date embedded line start drops silently") {
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}garbage L 04/11/2021 - 09:00:00 tail"""),
      ln("10:00:06", s"""$P spawned as "Medic"""") // NOT consumed
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 0)
    assert(TfPipeline.routed(env).count() == 2)
    val sim = ReferenceSim.run(lines.toIndexedSeq)
    assert(!sim.hardError && sim.handledCount == 2)
  }

  test("trailing truncated error line just drops (break)") {
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}B<3><[U:1:200]><Blue""")
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 0)
    assert(TfPipeline.routed(env).count() == 1)
    assert(!ReferenceSim.run(lines.toIndexedSeq).hardError)
  }

  test("adjacent-error chain: consumed line's own error is inert (lib.rs sequential consumption)") {
    // [ok, errA, errB(+70s), ok(+5s from B)]: the reference evaluates A,
    // consumes B unevaluated (gap>60 -> both dropped) and processes the last
    // line normally. A one-step-lookbehind formulation would let B "consume"
    // the last line and hard-error the doc.
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}chain-a"""),
      ln("10:01:10", s"""$P killed ${'"'}chain-b"""), // consumed, never evaluated
      ln("10:01:15", s"""$P spawned as "Medic"""") // processed normally
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 0)
    val routed = TfPipeline.routed(env)
    assert(routed.count() == 2, "first spawn + last spawn survive")
    val sim = ReferenceSim.run(lines.toIndexedSeq)
    assert(!sim.hardError && sim.handledCount == 2)
  }

  test("adjacent-error chain of three resolves pairwise: A consumes B, C consumes the tail") {
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}chain-a"""),
      ln("10:01:10", s"""$P killed ${'"'}chain-b"""), // consumed by A
      ln("10:01:15", s"""$P killed ${'"'}chain-c"""), // evaluated, consumes next
      ln("10:02:20", s"""$P spawned as "Medic"""") // consumed by C (gap 65s > 60)
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 0)
    assert(TfPipeline.routed(env).count() == 1, "only the first spawn survives")
    val sim = ReferenceSim.run(lines.toIndexedSeq)
    assert(!sim.hardError && sim.handledCount == 1)
  }

  test("hard error inside a chain aborts the WHOLE doc (reference parse() returns Err)") {
    val lines = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P triggered "healed" against $P (healing "7")"""),
      ln("10:00:10", s"""$P killed ${'"'}chain-a"""),
      ln("10:00:15", s"""$P spawned as "Medic"""") // consumed, gap 5s <= 60 -> hard error
    )
    val env = TfPipeline.envelope(toDf(lines))
    assert(routedTo(env, "__error") == 1)
    // doc-level abort: even the lines processed before the error emit nothing
    assert(TfPipeline.routed(env).count() == 0)
    val (docs, _) = TfPipeline.routedWithUniverse(env)
    assert(docs.count() == 0, "aborted doc is not in the emit universe")
    assert(ReferenceSim.run(lines.toIndexedSeq).hardError)
  }

  test("route labels match the sequential classifier on hand-built chains and generated docs") {
    import graft.sim.SimExpectations
    val chain = Seq(
      ln("10:00:00", s"""$P spawned as "Scout""""),
      ln("10:00:05", s"""$P killed ${'"'}chain-a"""),
      ln("10:01:10", s"""$P killed ${'"'}chain-b"""),
      ln("10:01:15", s"""$P killed ${'"'}chain-c"""),
      ln("10:02:20", s"""$P spawned as "Medic""""),
      ln("10:02:25", s"""$P triggered "healed" against $P (healing "7")""")
    )
    val docsUnderTest: Seq[(String, Vector[String])] =
      ("chain" -> chain.toVector) +: (2000 until 2010).map { d =>
        s"gen-$d" -> LogGen.docLines(11L, d.toLong, 120)
      }
    for ((name, lines) <- docsUnderTest) {
      val expected = SimExpectations.classify(lines).map(_.route)
      val got = TfPipeline
        .routable(TfPipeline.envelope(toDf(lines)))
        .orderBy("line_no")
        .select("route")
        .collect()
        .map(_.getString(0))
        .toVector
      assert(got == expected, s"$name: distributed route labels != sequential classifier")
    }
  }

  test("parser totality: never throws on arbitrary lines (5000 fuzz cases)") {
    val rnd = new java.util.Random(42)
    val fragments = Array(
      "04/11/2021 - 10:00:00: ", "\"", "<", ">", "[U:1:", "]", "Team ", "Te",
      "triggered \"", "killed ", "say ", "against ", "(", ")", " ", "\n",
      "damage", "Console<0><Console><Console>", "héllo", "😀", ":",
      "999999999999999999999999", "-1", "Red", "with \""
    )
    for (_ <- 0 until 5000) {
      val sb = new StringBuilder
      val n = rnd.nextInt(20)
      for (_ <- 0 until n) {
        if (rnd.nextBoolean()) sb.append(fragments(rnd.nextInt(fragments.length)))
        else sb.append((32 + rnd.nextInt(95)).toChar)
      }
      val s = sb.toString
      val r = graft.expr.LineParser.parse(s)
      if (r.status == graft.expr.LineParser.OK) {
        // params extraction + subject id must be total too
        val p = graft.expr.LineParser.paramsFor(r.eventType, r.params)
        graft.expr.LineParser.typedError(r.eventType, p.keys, p.values)
        graft.expr.Steam.subjectId(r.kind, r.subject)
      }
    }
  }

  test("sim vs pipeline on 20 more random docs (seeds 1000-1019)") {
    for (docId <- 1000 until 1020) {
      val lines = LogGen.docLines(7L, docId.toLong, 150)
      val sim = ReferenceSim.run(lines)
      val env = TfPipeline.envelope(toDf(lines))
      if (sim.hardError) {
        assert(routedTo(env, "__error") > 0, s"doc $docId")
      } else {
        val routed = TfPipeline.routed(env)
        assert(routed.count() == sim.handledCount, s"doc $docId handled count")
      }
    }
  }
}
