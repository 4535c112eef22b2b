package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor operators over embedding columns
  * (array<float>). Baseline: brute-force cosine top-k (exact). Scale path:
  * random-hyperplane LSH bucketing so only same-bucket pairs are scored --
  * the bucket join is an equi-join, broadcastable when the query side is
  * small, and the candidate set shrinks ~2^bits-fold.
  */
object Similarity {

  /** Dot product of two float-array columns in doubles (zip_with + aggregate:
    * codegen'd, no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** floor(cosine*10000) as ONE fused codegen'd kernel pass (bit-identical
    * double arithmetic to the expression chain for finite results;
    * differential spec pins it).
    *
    * Zero-norm (all-zero) vectors: the kernel returns NULL where the raw
    * floor(cosine) chain produced floor(NaN) = 0 -- a deliberate choice, so
    * degenerate vectors sort nulls-LAST in the top-k rankings below instead
    * of ranking as similarity 0. Callers that need the old behavior can
    * coalesce(_, 0). */
  def cosineX10000(a: Column, b: Column): Column =
    graft.expr.GraftExpressions.cosine_x10000(a, b)

  /** Exact brute-force top-k neighbors for each query row.
    * Broadcast the (small) query side; rank with a deterministic tie-break
    * on the x1e4-floored similarity so results are stable across engines. */
  def bruteForceTopK(
      queries: DataFrame, // (id, vec)
      corpus: DataFrame, // (id, vec)
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = broadcast(queries.select(col("id").as("qid"), col("vec").as("qv")))
      .join(corpus.select(col("id").as("cid"), col("vec").as("cv")), col("qid") =!= col("cid"))
      .select(
        col("qid"),
        col("cid"),
        cosineX10000(col("qv"), col("cv")).as("sim_x10000")
      )
    val w = Window.partitionBy("qid").orderBy(col("sim_x10000").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic cross-engine hyperplane weight in [-1000, 1000]: md5 of
    * "t:b:i" -> 60-bit int -> mod 2001 - 1000. Computable verbatim in DuckDB
    * as (('0x' || substr(md5(t||':'||b||':'||i),1,15))::BIGINT % 2001) - 1000. */
  def planeWeight(table: Int, bit: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$table:$bit:$i".getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L) - 1000L
  }

  /** floor(v*1000) integer quantization of an embedding (compute ONCE per
    * row and feed every table/bit projection -- the raw expression would
    * otherwise be re-evaluated tables*bits times per dimension). */
  def quantize1000(vec: Column): Column =
    transform(vec, v => floor(v.cast("double") * 1000).cast("long"))

  /** Integer-quantized random-hyperplane bucket for one table over a
    * pre-quantized vector: EXACT integer arithmetic, so the bucket id is
    * bit-identical in any engine (no float-summation-order hazard at the
    * sign boundary). */
  def rhpBucketQ(qvec: Column, dim: Int, bits: Int, table: Int): Column =
    (0 until bits)
      .map { b =>
        // plane as ONE array literal + zip_with/aggregate: a constant-size
        // expression tree regardless of dim (an unrolled dim*bits*tables sum
        // spends tens of seconds in Catalyst/janino before the first row)
        val w = typedLit((0 until dim).map(i => planeWeight(table, b, i)))
        val proj = aggregate(zip_with(qvec, w, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
        when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }
      .reduce(_.bitwiseOR(_))

  /** Driver-side flattened coarse quantizer: the centroid table collected
    * once (it is driver-sized by the IVF contract -- thousands of rows, like
    * any broadcast side), sorted by cid and flattened into primitive arrays
    * that ship to executors as codegen reference objects. `cnorm2` is each
    * centroid's squared norm accumulated in index order (bit-identical to
    * the interleaved [[graft.expr.Kernels.cosineX10000]] accumulation);
    * `bad` marks centroids whose score is NULL for every row (null / null
    * element / length-mismatched cvec -- mixed-dim corpora do not occur: the
    * quantizer is a set of corpus-shaped vectors). */
  private[graft] case class Quantizer(
      cids: Array[Long],
      cents: Array[Float],
      cnorm2: Array[Double],
      bad: Array[Boolean],
      dim: Int)

  private[graft] def collectQuantizer(cents0: DataFrame): Quantizer = {
    val rows = cents0
      .select(col("cid").cast("long").as("cid"), col("cvec"))
      .collect()
      .sortBy(_.getLong(0))
    val n = rows.length
    val dim = rows.iterator
      .filterNot(_.isNullAt(1))
      .map(_.getAs[scala.collection.Seq[Any]](1).length)
      .nextOption()
      .getOrElse(0)
    val cids = new Array[Long](n)
    val bad = new Array[Boolean](n)
    val cents = new Array[Float](n * dim)
    val cn2 = new Array[Double](n)
    var j = 0
    while (j < n) {
      val r = rows(j)
      cids(j) = r.getLong(0)
      if (r.isNullAt(1)) bad(j) = true
      else {
        val s = r.getAs[scala.collection.Seq[Any]](1)
        if (s.length != dim || s.exists(_ == null)) bad(j) = true
        else {
          var nb = 0d
          var i = 0
          while (i < dim) {
            val y = s(i).asInstanceOf[Float]
            cents(j * dim + i) = y
            nb += y.toDouble * y.toDouble
            i += 1
          }
          cn2(j) = nb
        }
      }
      j += 1
    }
    Quantizer(cids, cents, cn2, bad, dim)
  }

  /** The deterministic coarse quantizer: corpus vectors whose
    * `id % centroidEvery == 0`. */
  private def sampledQuantizer(df: DataFrame, centroidEvery: Int): Quantizer =
    collectQuantizer(
      df.filter(pmod(col("id"), lit(centroidEvery)) === 0)
        .select(col("id").as("cid"), col("vec").as("cvec")))

  /** Top-nProbe probed cell ids for a vector column, map-side (see
    * [[graft.expr.Kernels.ivfProbeCells]]): best-first, so element 1 is the
    * assignment cell and posexplode's pos is crank-1. */
  private[graft] def probeCells(vec: Column, q: Quantizer, nProbe: Int): Column =
    graft.expr.GraftExpressions.ivf_probe_cells(
      vec, q.cids, q.cents, q.cnorm2, q.bad, q.dim, nProbe)

  /** IVF-flat ANN: a coarse quantizer of deterministically-sampled centroids
    * partitions the corpus into cells; each query probes its `nProbe`
    * nearest cells and scores EXACT cosine only against their members.
    *
    *  - centroids = corpus vectors with `id % centroidEvery == 0` -- a
    *    deterministic sample any engine reproduces (no k-means float
    *    iteration, so the DuckDB twin is exact).
    *  - assignment/probing use the integer-stable fused cosine
    *    ([[cosineX10000]]) with (score desc, cid asc) tie-breaks.
    *  - SCALE SHAPE: the centroid table is collected once into a driver-side
    *    quantizer (its size is corpus/centroidEvery rows -- keep it
    *    thousands, not millions); assignment and probe selection are
    *    map-side kernel passes ([[probeCells]]), so no exchange exists
    *    before cell assignment; cell membership is capped per cell via ONE
    *    bounded_collect hash-aggregate ([[graft.ops.Dedup.cappedBuckets]])
    *    so a hot cell (near-constant embedding region) cannot straggle the
    *    probe join -- over-cap cells are dropped whole (recall knob, same
    *    contract as [[lshTopK]]'s maxBucket); the capped cell table
    *    broadcasts into the candidate join, and candidates come from
    *    exploding its arrays. PlanShapeSpec pins this shape.
    *
    * Same output shape as [[bruteForceTopK]]/[[lshTopK]]. Each candidate
    * appears exactly once (assignment is unique), so no distinct is needed. */
  def ivfTopK(
      df: DataFrame, // (id, vec)
      k: Int,
      centroidEvery: Int,
      nProbe: Int,
      maxCell: Int = 1000
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // MAP-SIDE probe selection (guide §2.4): the flattened broadcast
    // quantizer + one codegen'd kernel pass replace the former
    // row_number().over(partitionBy(id)) window over the df x centroids
    // cross join -- at 10^12 vectors that window exchanged AND sorted the
    // corpus expanded n_centroids-fold; now no exchange exists before cell
    // assignment. The kernel subtree is referenced twice (assignment build
    // + probe side) and recomputes -- 2x map-side flops for 0 shuffles, the
    // right trade at any scale.
    val q = sampledQuantizer(df, centroidEvery)
    val probes = df.select(
      col("id"),
      explode(probeCells(col("vec"), q, nProbe)).as("cell"))
    // assignment = the top-1 probe (crank 1); `get` is 0-based and null-safe
    // on the empty-quantizer edge (empty array -> null cell -> no members)
    val assign = df.select(
      get(probeCells(col("vec"), q, 1), lit(0)).as("cell"), col("id"))
    // capped cell membership in ONE bounded_collect pass; unlike the pair
    // generators, a SINGLETON cell is kept (its member is a candidate for
    // other probing queries); over-cap cells come back NULL and drop whole.
    // The cell table is bounded by construction (<= nCent rows x maxCell
    // ids), so it BROADCASTS: the candidate join costs the probe side no
    // exchange at all.
    val cells = assign
      .groupBy("cell")
      .agg(graft.expr.BoundedCollect.bounded_collect(col("id"), maxCell).as("__ids"))
      .filter(col("__ids").isNotNull)
    val cands = probes
      .select(col("id").as("qid"), col("cell"))
      .join(broadcast(cells), Seq("cell"))
      .select(col("qid"), explode(col("__ids")).as("cid"))
      .filter(col("qid") =!= col("cid"))
    val scoredPairs = cands
      .join(df.select(col("id").as("qid"), col("vec").as("qv")), Seq("qid"))
      .join(df.select(col("id").as("cid"), col("vec").as("cv")), Seq("cid"))
      .select(col("qid"), col("cid"), cosineX10000(col("qv"), col("cv")).as("sim_x10000"))
    val w = Window.partitionBy("qid").orderBy(col("sim_x10000").desc, col("cid").asc)
    scoredPairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs through IVF candidates -- the 100 TB
    * shape of the brute-force `a.id < b.id` cross join: candidate pairs come
    * only from probed cells (each corpus vector is assigned to ONE cell; the
    * pair (a,b) is a candidate when b's cell is among a's nProbe probes or
    * vice versa), so the scored set is ~n*nProbe*cellSize instead of n^2/2.
    *
    * Returns undirected pairs (id_a < id_b, sim_x10000 >= thrX10000). On a
    * corpus with true near-duplicates (cosine >= 0.95) the duplicate and its
    * original quantize to the same (or a probed) cell and recall is ~1.0
    * (pinned by OpsSpec's planted-cluster test); on weakly-similar pairs
    * recall degrades with the probe fraction -- the standard IVF trade
    * (recall telemetry in the bench JSON quantifies it on the bench corpus).
    * Exact DuckDB twin: q_embed_neardup_ann. */
  def ivfNearDupPairs(
      df: DataFrame, // (id, vec)
      thrX10000: Long,
      centroidEvery: Int,
      nProbe: Int,
      maxCell: Int = 1000
  ): DataFrame = {
    // map-side probe selection, same shape as [[ivfTopK]]
    val q = sampledQuantizer(df, centroidEvery)
    val probes = df.select(
      col("id"),
      explode(probeCells(col("vec"), q, nProbe)).as("cell"))
    val assign = df.select(
      get(probeCells(col("vec"), q, 1), lit(0)).as("cell"), col("id"))
    val cells = assign
      .groupBy("cell")
      .agg(graft.expr.BoundedCollect.bounded_collect(col("id"), maxCell).as("__ids"))
      .filter(col("__ids").isNotNull)
    // a pair can surface from BOTH endpoints' probes (and from the shared
    // own-cell probe) -> canonicalize to (min, max) and dedup BEFORE scoring,
    // so each pair is scored exactly once
    val cands = probes
      .select(col("id").as("pid"), col("cell"))
      .join(broadcast(cells), Seq("cell"))
      .select(col("pid"), explode(col("__ids")).as("mid"))
      .filter(col("pid") =!= col("mid"))
      .select(least(col("pid"), col("mid")).as("id_a"), greatest(col("pid"), col("mid")).as("id_b"))
      .distinct()
    cands
      .join(df.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(df.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosineX10000(col("va"), col("vb")).as("sim_x10000"))
      .filter(col("sim_x10000") >= thrX10000)
  }

  /** Multi-table LSH ANN (L independent hash tables OR-amplified): candidates
    * are same-bucket pairs in ANY table (posexplode -> equi-join per (table,
    * bucket) -> distinct), so recall no longer collapses with one unlucky
    * table. Oversized buckets (> maxBucket ids: near-constant embedding
    * regions) are dropped BEFORE the self-join -- the O(bucket^2) blow-up and
    * task skew a hot bucket would cause is bounded by construction; the ids
    * they contain still pair up in their other L-1 tables. Scoring is exact
    * cosine on the candidate set; same output shape as [[bruteForceTopK]]. */
  def lshTopK(
      df: DataFrame,
      dim: Int,
      bits: Int,
      k: Int,
      tables: Int = 4,
      maxBucket: Int = 1000
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // flattened [table][bit][dim] plane matrix, shipped once as a codegen
    // reference; the kernel computes all tables' buckets in one pass with
    // the same integer arithmetic as rhpBucketQ / the DuckDB twin
    val weights = Array.tabulate(tables * bits * dim) { idx =>
      val t = idx / (bits * dim); val b = idx / dim % bits; val i = idx % dim
      planeWeight(t, b, i)
    }
    val buckets = df
      .withColumn("qv", quantize1000(col("vec")))
      .select(
        col("id"),
        posexplode(graft.expr.GraftExpressions.rhp_buckets(col("qv"), weights, tables, bits, dim))
          .as(Seq("t", "bucket"))
      )
    // one hash-aggregate pass groups each (table, bucket) into a capped
    // member array (Dedup.cappedBuckets: over-cap buckets -> NULL, O(cap)
    // memory per group); DIRECTED candidate pairs come from the arrays --
    // every qid needs all its neighbors -- with no self-join (which would
    // recompute the hyperplane projections per side plus a count side)
    val cands = Dedup
      .bucketPairs(Dedup.cappedBuckets(buckets, Seq("t", "bucket"), "id", maxBucket), directed = true, maxBucket)
      .select(col("pair_a").as("qid"), col("pair_b").as("cid"))
      .distinct()
    val scored = cands
      .join(df.select(col("id").as("qid"), col("vec").as("qv")), Seq("qid"))
      .join(df.select(col("id").as("cid"), col("vec").as("cv")), Seq("cid"))
      .select(col("qid"), col("cid"), cosineX10000(col("qv"), col("cv")).as("sim_x10000"))
    val w = Window.partitionBy("qid").orderBy(col("sim_x10000").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
