package graft

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** `Dedup.connectedComponents` against [[StarLoopOracle]], the loop it
  * replaced: equal labels on seeded random graphs, and never more star
  * rounds. A loop's round count is read as the smallest `maxRounds` it
  * converges under. Plus the edges of the advertised bounds. */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("connected-components")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("id_a", "id_b")
  }

  private def labels(cc: DataFrame): Map[Long, Long] = {
    val rows = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
    val m = rows.toMap
    assert(m.size == rows.length, "one row per id")
    m
  }

  /** Labels, or None when `maxRounds` rounds do not converge. */
  private def within(cc: => DataFrame): Option[Map[Long, Long]] =
    try Some(labels(cc))
    catch { case e: IllegalArgumentException if e.getMessage.contains("did not converge") => None }

  private def fused(edges: DataFrame, maxRounds: Int) =
    Dedup.connectedComponents(edges, col("id_a"), col("id_b"), maxRounds)
  private def oracle(edges: DataFrame, maxRounds: Int) =
    StarLoopOracle.connectedComponents(edges, col("id_a"), col("id_b"), maxRounds)

  /** The oracle's labels and its round count (both loops converge under
    * every `maxRounds` at or above their round count). */
  private def oracleRun(edges: DataFrame): (Map[Long, Long], Int) =
    Iterator.from(1).take(30).map(k => within(oracle(edges, k)).map(_ -> k)).collectFirst { case Some(r) => r }
      .getOrElse(fail("the oracle did not converge in 30 rounds"))

  private def differential(name: String, edges: Seq[(Long, Long)]): Unit = {
    val in = df(edges)
    val (want, rounds) = oracleRun(in)
    val got = within(fused(in, rounds))
    assert(got.isDefined, s"$name: the fused loop needs more than the oracle's $rounds rounds")
    assert(got.get == want, s"$name: labels differ from the oracle")
  }

  private def orient(rnd: Random, a: Long, b: Long): (Long, Long) = if (rnd.nextBoolean()) (a, b) else (b, a)

  /** Chains over a shuffled id space: the adversarial diameter case. */
  private def chains(rnd: Random, n: Int, k: Int): Seq[(Long, Long)] =
    rnd.shuffle((0L until n.toLong).toList).grouped(n / k).toSeq
      .flatMap(c => c.zip(c.tail).map { case (a, b) => orient(rnd, a, b) })

  /** Stars whose centre is a random member, not the minimum. */
  private def stars(rnd: Random, n: Int, k: Int): Seq[(Long, Long)] =
    rnd.shuffle((0L until n.toLong).toList).grouped(n / k).toSeq
      .flatMap(s => s.tail.map(leaf => orient(rnd, s.head, leaf)))

  /** Duplicate pairs, self pairs (some ids only in self pairs) and reversed
    * copies mixed into a sparse random graph. */
  private def noisy(rnd: Random, n: Int, m: Int): Seq[(Long, Long)] = {
    val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val dups = es.take(m / 4) ++ es.takeRight(m / 4).map(_.swap)
    val selfs = Seq.fill(10)(rnd.nextInt(2 * n).toLong).map(i => (i, i))
    rnd.shuffle(es ++ dups ++ selfs)
  }

  test("labels equal the oracle's on seeded random graphs, in no more star rounds") {
    spark.sparkContext.setLogLevel("WARN")
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      differential(s"chains seed $seed", chains(rnd, 300, 1 + rnd.nextInt(6)))
      differential(s"stars seed $seed", stars(rnd, 200, 1 + rnd.nextInt(8)))
      differential(s"noisy seed $seed", noisy(rnd, 60, 120))
      differential(s"mixed seed $seed", chains(rnd, 100, 4) ++ stars(rnd, 100, 5).map { case (a, b) => (a + 100, b + 100) } ++
        noisy(rnd, 40, 30).map { case (a, b) => (a + 200, b + 200) })
    }
    assert(labels(fused(df(Nil), 50)).isEmpty && labels(oracle(df(Nil), 50)).isEmpty, "empty input")
  }

  test("the 2000-node path: oracle labels in no more star rounds") {
    differential("path", (0L until 1999L).map(i => (i, i + 1L)))
  }

  test("maxRounds = 0 accepts only a star forest; negative maxRounds is rejected") {
    assert(labels(fused(df(Nil), 0)).isEmpty)
    assert(labels(fused(df(Seq((5L, 2L), (2L, 7L), (2L, 2L), (9L, 8L))), 0)) == Map(2L -> 2L, 5L -> 2L, 7L -> 2L, 8L -> 8L, 9L -> 8L))
    assert(within(fused(df(Seq((1L, 2L), (2L, 3L))), 0)).isEmpty, "a path is not a star forest")
    assert(within(fused(df(Seq((1L, 2L), (2L, 3L))), 1)).isDefined, "one round settles a 3-node path")
    intercept[IllegalArgumentException](fused(df(Nil), -1))
  }

  test("a 20,000-leaf star converges and labels every leaf") {
    // the centre is not the minimum, so a round re-attaches its larger
    // leaves to leaf 1; the converged root's set then holds all the others
    val leaves = (1L to 20001L).filter(_ != 5000L)
    val got = labels(fused(df(leaves.map(l => (5000L, l))), 50))
    assert(got.size == 20001)
    assert(got.values.forall(_ == 1L), "every id labels to the component minimum")
  }
}
