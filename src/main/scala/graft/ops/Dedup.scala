package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Shuffle discipline: everything keys on a derived
  * hash/bucket so the heavy joins are equi-joins Catalyst can plan as
  * shuffle-hash (or broadcast for the small side), and candidate generation
  * never goes O(n^2) -- pairs only materialize inside a shared bucket.
  */
object Dedup {

  import TextOps.stableHash60
  import graft.expr.BoundedCollect.bounded_collect

  /** (keys..., id) rows -> capped per-key member arrays: ONE hash-aggregate
    * pass (map-side partial merge, bounded memory per group via
    * [[graft.expr.BoundedCollect]]); keys with more than `maxN` members
    * come back NULL and are dropped. This is the scale-safe hot-key cap: no
    * count-over-window sort exchange, no single-task hot key, and -- unlike
    * a count-side join -- the (often expensive) input subtree is computed
    * exactly once instead of three times. */
  private[graft] def cappedBuckets(df: DataFrame, keys: Seq[String], id: String, maxN: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(bounded_collect(col(id), maxN).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)

  /** Above this cap, [[bucketPairs]] switches to the chunked generator: a
    * bucket at the cap emits cap^2/2 pairs, and below ~2k that is fine in one
    * pipelined task (<= ~2M rows, no exchange); above it, one task would both
    * straggle and pay O(cap) slice copies per element. */
  private[graft] val ChunkedPairCap = 2048

  /** Chunk edge length for the large-cap path: per-task pair work is bounded
    * by PairChunk^2 (~1M rows) regardless of the cap. */
  private val PairChunk = 1024

  /** Capped bucket arrays -> member pairs. Undirected: each unordered pair
    * once per bucket, normalized (pair_a < pair_b); directed: both
    * orientations. Members of a bucket are assumed distinct (true for every
    * caller: ids explode once per bucket key).
    *
    * `cap` (the maxN the buckets were built with) picks the strategy: caps
    * at or under [[ChunkedPairCap]] pair in-place from the array (pipelined,
    * zero exchanges). Larger caps dispatch PER BUCKET: only buckets actually
    * OVER the in-task bound decompose into PairChunk-sized chunk pairs and
    * REPARTITION (per-task work bounded by PairChunk^2 instead of cap^2, the
    * shuffle carrying only O(cap^2/PairChunk) longs per hot bucket), while
    * the typically-dominant small buckets keep the zero-exchange in-task
    * path. A large cap is a per-task SAFETY BOUND, not a prediction that
    * buckets are large -- routing every bucket through the chunk exchange
    * just because the cap allowed big ones shuffled the whole bucket table
    * (measured: the q_ngram_jaccard bucket table is ~2.4M single-digit
    * buckets at sf0.1 under a maxDf=10000 cap). The bucket subtree is
    * referenced by both branches; its exchange is reused at runtime
    * (ReuseExchange), so the expensive explode + partial aggregate runs
    * once -- only the final merge above the shuffle runs per branch. */
  private[graft] def bucketPairs(buckets: DataFrame, directed: Boolean, cap: Int = ChunkedPairCap): DataFrame =
    if (cap <= ChunkedPairCap) bucketPairsInTask(buckets, directed)
    else
      bucketPairsInTask(buckets.filter(size(col("__ids")) <= ChunkedPairCap), directed)
        .unionByName(bucketPairsChunked(buckets.filter(size(col("__ids")) > ChunkedPairCap), directed))

  private def bucketPairsInTask(buckets: DataFrame, directed: Boolean): DataFrame =
    if (directed)
      buckets
        .select(explode(col("__ids")).as("pair_a"), col("__ids"))
        .select(col("pair_a"), explode(col("__ids")).as("pair_b"))
        .filter(col("pair_a") =!= col("pair_b"))
    else
      buckets
        .select(posexplode(col("__ids")).as(Seq("__i", "pair_a")), col("__ids"))
        .select(col("pair_a"), explode(slice(col("__ids"), col("__i") + 2, size(col("__ids")))).as("pair_b"))
        .select(
          least(col("pair_a"), col("pair_b")).as("pair_a"),
          greatest(col("pair_a"), col("pair_b")).as("pair_b")
        )

  private def shufflePartitions(df: DataFrame): Int =
    try df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: NumberFormatException => 200 }

  private def bucketPairsChunked(buckets: DataFrame, directed: Boolean): DataFrame = {
    val C = PairChunk
    def nc: Column = (floor((size(col("__ids")) - 1) / C) + 1).cast("int")
    // __b only keys the spreading repartition (values never reach output)
    val base = buckets.select(monotonically_increasing_id().as("__b"), col("__ids"))
    // chunk-pair rows: undirected needs ci <= cj (each unordered pair lands
    // in exactly one chunk pair); directed needs every ordered (ci, cj)
    val chunkRows = base
      .select(col("__b"), col("__ids"), explode(sequence(lit(0), nc - 1)).as("__ci"))
      .select(
        col("__b"),
        col("__ids"),
        col("__ci"),
        explode(sequence(if (directed) lit(0) else col("__ci"), nc - 1)).as("__cj")
      )
      .select(
        col("__b"),
        col("__ci"),
        col("__cj"),
        (col("__ci") === col("__cj")).as("__same"),
        slice(col("__ids"), col("__ci") * C + 1, lit(C)).as("__ca"),
        slice(col("__ids"), col("__cj") * C + 1, lit(C)).as("__cb")
      )
      // EXPLICIT partition count: the shuffle carries small pre-explosion
      // rows, so AQE's byte-based coalescing would merge them back into one
      // task and re-create the straggler this path exists to prevent (the
      // pair amplification is invisible to shuffle statistics). A
      // user-numbered repartition is exempt from AQE coalescing.
      .repartition(shufflePartitions(buckets), col("__b"), col("__ci"), col("__cj"))
    if (directed)
      chunkRows
        .select(col("__same"), col("__cb"), explode(col("__ca")).as("pair_a"))
        .select(col("__same"), col("pair_a"), explode(col("__cb")).as("pair_b"))
        .filter(!col("__same") || col("pair_a") =!= col("pair_b"))
        .select(col("pair_a"), col("pair_b"))
    else
      chunkRows
        .select(col("__same"), col("__cb"), posexplode(col("__ca")).as(Seq("__i", "pair_a")))
        // same-chunk: strictly-later members of the (identical) slice;
        // cross-chunk (ci < cj): every member of the later chunk
        .select(
          col("pair_a"),
          explode(
            when(col("__same"), slice(col("__cb"), col("__i") + 2, lit(C))).otherwise(col("__cb"))
          ).as("pair_b")
        )
        .select(
          least(col("pair_a"), col("pair_b")).as("pair_a"),
          greatest(col("pair_a"), col("pair_b")).as("pair_b")
        )
  }

  /** Exact dedup by content hash: one row per distinct key with the kept
    * (minimum) id and the duplicate count. Map-side partial aggregation
    * applies; the shuffle key is the 128-bit md5, so skew is impossible. */
  def exactByKey(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(md5(key.cast("string")).as("content_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word shingles (n consecutive words joined by a space). One codegen'd
    * kernel pass (graft.expr.Kernels.shingles) -- value-identical to the
    * sequence/element_at/concat_ws formulation, ~5x cheaper (the shingle
    * build dominated every minhash/jaccard leg at sf0.1). */
  def shingles(words: Column, n: Int): Column =
    graft.expr.GraftExpressions.shingles_native(words, n)

  /** Per-shingle (h1, h2) base-hash pairs for double-hashing MinHash
    * (Kirsch-Mitzenmacher): the k signature functions derive affinely from
    * two md5-based hashes, `g_i = (h1 + i * (h2 mod 2^53)) mod 2^60` --
    * exact 64-bit integer arithmetic on any engine while i < 896 (see
    * [[minhashSignature]]), so the DuckDB oracle reproduces it. Project
    * THIS column first, then take [[minhashSignature]] columns off the
    * projected frame: CollapseProject keeps the expensive hash pass
    * single-copy (it never duplicates non-cheap multi-referenced producer
    * expressions), so the shingle set is md5-hashed twice TOTAL instead of
    * once per signature function. Measured 2.5x faster than the per-salt
    * md5 formulation at sf0.1. */
  def minhashHashPairs(shingleCol: Column): Column =
    transform(
      shingleCol,
      s =>
        struct(
          stableHash60(s).as("h1"),
          pmod(stableHash60(concat(lit("x:"), s)), lit(9007199254740992L)).as("h2") // 2^53
        )
    )

  /** sig_0..sig_{k-1} from a projected [[minhashHashPairs]] column. Empty
    * shingle arrays yield NULL (list_min([]) semantics).
    *
    * k <= 896 is the exact-arithmetic bound of the affine combination:
    * h1 < 2^60 and h2 < 2^53, so h1 + i*h2 < 2^60 + 896 * 2^53 = 2^63 for
    * every i < 896. From i = 896 on the sum can pass 2^63: under ANSI the
    * chain throws, and a wrapping kernel returns negative values. */
  def minhashSignature(hashPairs: Column, k: Int): Seq[Column] = {
    require(k >= 1 && k <= 896, s"minhashSignature: k=$k outside the exact-arithmetic bound [1, 896]")
    (0 until k).map { i =>
      array_min(
        transform(
          hashPairs,
          p => pmod(p.getField("h1") + lit(i.toLong) * p.getField("h2"), lit(1152921504606846976L)) // 2^60
        )
      ).as(s"sig_$i")
    }
  }

  /** Fast-path signatures: ONE codegen'd traversal computing all k per-salt
    * xxhash64 mins (custom Catalyst expression, Kernels.minhashMulti) --
    * value-identical to `array_min(transform(sh, s => xxhash64(lit(i), s)))`
    * per salt, without k interpreted higher-order passes or intermediate
    * arrays. Reference the columns from a frame that projected the array
    * (two-step select, CollapseProject keeps it single-copy). */
  def minhashMultiFast(shingleCol: Column, k: Int): Column =
    graft.expr.GraftExpressions.minhash_multi(shingleCol, k)

  def minhashSignatureFast(arr: Column, k: Int): Seq[Column] =
    (0 until k).map(i => element_at(arr, i + 1).as(s"sig_$i"))

  /** Oracle-path signatures in ONE codegen'd traversal: value-identical to
    * [[minhashSignature]] over [[minhashHashPairs]] (differential-spec
    * pinned) -- same md5-derived affine family, but each shingle is hashed
    * natively once per base hash and all k mins fold in the same pass,
    * instead of two md5 expression calls per shingle (hex-string alloc +
    * substring + conv parse each) plus k interpreted transform/array_min
    * passes. Same k <= 896 exact-arithmetic bound. */
  def minhashMd5Fast(shingleCol: Column, k: Int): Column = {
    require(k >= 1 && k <= 896, s"minhashMd5Fast: k=$k outside the exact-arithmetic bound [1, 896]")
    graft.expr.GraftExpressions.minhash_md5_multi(shingleCol, k)
  }

  /** MinHash LSH candidate pairs: signatures banded (bandSize rows/band);
    * docs sharing any band bucket become candidates. Returns (id_a, id_b)
    * with id_a < id_b, distinct.
    *
    * Shape: ONE pass computes signatures and bands, one hash-aggregate
    * groups (band, band_hash) into capped member arrays
    * ([[cappedBuckets]]), and pairs are generated from the arrays -- no
    * self-join (which would recompute the minhash subtree for each side
    * plus a count side) and per-bucket work bounded by maxBucket^2.
    *
    * `maxBucket` RECALL KNOB: a band bucket holding more than maxBucket ids
    * (near-identical boilerplate docs, the common web-dedup pathology) is
    * dropped whole; its ids can still pair through their other bands, and
    * pairs connected ONLY through over-cap buckets are lost -- set the cap
    * above the largest duplicate cluster that must be detected, or
    * deduplicate mega-clusters with [[exactByKey]] first (they are
    * near-exact duplicates by definition). */
  def lshCandidates(
      df: DataFrame,
      id: Column,
      shingleCol: Column,
      k: Int,
      bandSize: Int,
      fast: Boolean = true,
      maxBucket: Int = 1000
  ): DataFrame = {
    bucketPairs(
      cappedBuckets(bandedIds(df, id, shingleCol, k, bandSize, fast), Seq("band", "band_hash"), "id", maxBucket),
      directed = false,
      maxBucket
    )
      .select(col("pair_a").as("id_a"), col("pair_b").as("id_b"))
      .distinct()
  }

  /** (id, band, band_hash) rows of the MinHash-LSH banding -- the purely
    * map-side front half of [[lshCandidates]], shared with the streaming
    * candidate detector (stateless, so it runs unchanged on a streaming
    * frame). */
  private[graft] def bandedIds(
      df: DataFrame,
      id: Column,
      shingleCol: Column,
      k: Int,
      bandSize: Int,
      fast: Boolean
  ): DataFrame = {
    val nBands = k / bandSize
    // docs with no shingles have all-null signatures; they must not all
    // collide into one giant shared band bucket. The shingle column is
    // projected ONCE behind a pushdown barrier: the emptiness filter and the
    // signature kernel would otherwise each evaluate the shingle chain per
    // row (the filter pushes into the scan by expression substitution)
    val shped = df.select(
      id.as("id"),
      graft.expr.GraftExpressions.no_push_barrier(shingleCol).as("__sh"))
    val nonEmpty = shped.filter(size(col("__sh")) > 0)
    val sigDf =
      if (fast)
        nonEmpty
          .select(col("id"), minhashMultiFast(col("__sh"), k).as("__mh"))
          .select(col("id") +: minhashSignatureFast(col("__mh"), k): _*)
      else
        nonEmpty
          .select(col("id"), minhashMd5Fast(col("__sh"), k).as("__mh"))
          .select(col("id") +: minhashSignatureFast(col("__mh"), k): _*)
    def bandKey(b: Int): Column = {
      val parts = (b * bandSize until (b + 1) * bandSize).map(i => col(s"sig_$i"))
      // fast: 32-bit murmur of the band; stable: a cross-engine string key
      if (fast) hash(parts: _*).cast("string")
      else concat_ws("|", parts.map(_.cast("string")): _*)
    }
    sigDf.select(
      col("id"),
      posexplode(array((0 until nBands).map(bandKey): _*)).as(Seq("band", "band_hash"))
    )
  }

  /** 60-bit SimHash over the word multiset: per bit, sum +-1 weighted by
    * word frequency; bit set where the sum is positive. `fast=true` hashes
    * with native xxhash64; the default md5 path is DuckDB-reproducible.
    *
    * Single-pass formulation: ONE `aggregate()` with a 60-long vote-array
    * accumulator (bit b tested as `h & 2^b`, so no variable shifts), then
    * one zip to assemble the hash -- the word-hash array is traversed once,
    * not 60 times as with per-bit aggregates (~60x less expression work on
    * the hot path; identical output). */
  def simhash60(words: Column, fast: Boolean = true): Column = {
    // fast path: one codegen'd kernel pass (differential spec pins equality
    // with the fold formulation below)
    if (fast) return graft.expr.GraftExpressions.simhash60_native(words)
    // bits masked/limited to 60 (sign-safe arithmetic below)
    val hashes = transform(words, w => stableHash60(w))
    val pows = typedLit((0 until 60).map(b => 1L << b))
    val zeros = typedLit(Seq.fill(60)(0L))
    val votes = aggregate(
      hashes,
      zeros,
      (acc, h) => zip_with(acc, pows, (a, p) => a + when(h.bitwiseAND(p) =!= 0L, 1L).otherwise(-1L))
    )
    aggregate(
      zip_with(votes, pows, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit)
    )
  }

  /** Exact n-gram Jaccard similarity for candidate pairs that share at least
    * one shingle: explode -> self-equi-join on the shingle -> intersection
    * counts; union = |A| + |B| - |A ∩ B|. jaccard scaled x10000 (integer).
    *
    * `maxDf` caps the document frequency of join-key shingles: a shingle in
    * d documents contributes d^2 join rows, so one stop-word-ish shingle is
    * an O(n^2) scale-killer at 100 TB. It is an APPROXIMATION knob: shingles
    * with df > maxDf are dropped from the join, so (a) pairs connected only
    * through ubiquitous shingles disappear, and (b) pairs that also share a
    * dropped shingle have their intersection undercounted (sizes stay exact,
    * so their jaccard is understated). Set maxDf above the df of any shingle
    * whose loss matters; Int.MaxValue recovers exact jaccard.
    *
    * `id` must be an integral column (the one-pass formulation packs it into
    * an all-long struct for the bounded collect). */
  def ngramJaccardPairs(
      df: DataFrame,
      id: Column,
      shingleCol: Column,
      maxDf: Int = 10000
  ): DataFrame = {
    // ONE pass over the corpus: each exploded shingle row carries the doc's
    // distinct-shingle count packed next to its id, the bounded collect
    // groups (id, n) structs per shingle, and pairs inherit both sizes --
    // no size-lookup joins, so the expensive shingle subtree runs ONCE
    // instead of three times (buckets + one replay per join side). The
    // two-step select keeps array_distinct single-copy (CollapseProject
    // never inlines non-cheap multi-referenced producers).
    // no_push_barrier: the optimizer infers `size(__ad) > 0` for the explode
    // and would otherwise push it BELOW this projection, re-evaluating the
    // whole shingle + array_distinct chain a second time per row inside the
    // pushed filter (plan-verified: one shinglesexpr in the plan instead of two; ~7% at sf0.1)
    val withAd = df.select(
      id.as("id"),
      graft.expr.GraftExpressions.no_push_barrier(array_distinct(shingleCol)).as("__ad"))
    val ex = withAd.select(
      struct(col("id"), size(col("__ad")).cast("long").as("n")).as("id"),
      explode(col("__ad")).as("sh")
    )
    // df cap as a bounded collect per shingle ([[cappedBuckets]]): a shingle
    // with df > maxDf comes back NULL and is dropped -- exactly the cap
    // semantics -- in ONE aggregate pass with O(maxDf) memory per shingle.
    // No count-over-window (full sort exchange + df=10M stop-word shingle in
    // one straggler task) and no self-join on sh (which recomputes the
    // exploded table per side); intersections count pairs from the arrays.
    // Pair normalization orders the (id, n) structs by id (ids are distinct
    // within a bucket), identical to the bare-id ordering.
    bucketPairs(cappedBuckets(ex, Seq("sh"), "id", maxDf), directed = false, maxDf)
      .groupBy(
        col("pair_a.id").as("id_a"),
        col("pair_a.n").as("na"),
        col("pair_b.id").as("id_b"),
        col("pair_b.n").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("id_a"),
        col("id_b"),
        col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        floor(col("inter") * 10000L / (col("na") + col("nb") - col("inter"))).as("jaccard_x10000")
      )
  }

  /** Connected components over an undirected pair list -- the cluster step
    * of a dedup pipeline (LSH/Jaccard emits candidate PAIRS; keeping one
    * canonical doc per duplicate group needs the transitive closure).
    *
    * Alternating large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in O(log^2 n)
    * rounds on any graph -- unlike plain min-label propagation, whose round
    * count is the graph DIAMETER (a 100 TB near-dup chain of boilerplate
    * variants can be thousands of hops deep).
    *
    * ROUND SHAPE. The loop state is the NODE AGGREGATE of the current edge
    * set: one row per node u with its neighbour set `nbrs` and m = min(u,
    * nbrs), built by exploding every edge into both orientations and
    * grouping by node (one hash exchange). Each node aggregate is eagerly
    * `localCheckpoint`ed, so that checkpoint holds exactly (u, nbrs, m) for
    * every node of the round's edge set; the probe, the next round and the
    * labels read it instead of recomputing the lineage (on a real cluster
    * prefer `checkpoint` with a reliable dir so executor loss stays
    * recoverable). A round then reads the checkpoint once:
    *  - large-star: every LARGER neighbour v of u re-attaches to m;
    *  - small-star: group those edges by `hi` (the second hash exchange),
    *    collect the `lo` side as a set (which is the edge dedup), and
    *    re-attach hi and every smaller neighbour to the set's minimum;
    *  - the node aggregate of the small-star edges is the next checkpoint.
    * So a round's materializing query plans TWO hash exchanges; the input
    * pairs are referenced once, by the first node aggregate, and no
    * `distinct` or join runs anywhere. Edge rows never grow: the large-star
    * emits one row per distinct edge, the small-star one per distinct
    * large-star edge.
    *
    * CONVERGENCE. The edge set is a star forest -- the fixpoint -- when
    * every node is settled: a root (no smaller neighbour) or a leaf (one
    * neighbour, which is smaller). The probe scans the checkpointed node
    * aggregate for an unsettled node (`isEmpty`, no exchange), before the
    * first round too, so a graph that already is a star forest runs no
    * round and a graph one round settles runs one. A star forest's labels
    * are m read straight off the node aggregate (a root is its own minimum,
    * a leaf's only neighbour is its root): no final `distinct`.
    *
    * BOUNDS. `maxRounds` caps the star rounds; 0 means the input must
    * already be a star forest. Past the cap the call throws. A node's
    * neighbour set holds its degree in the round's edge set, and after
    * convergence a root's set holds its whole component, so the largest
    * component's size bounds the widest row (and one task's memory).
    *
    * Input pairs may contain duplicates / self-pairs / either orientation.
    * Returns (id, component) for every id appearing in a NON-SELF pair
    * (self-pairs hi == lo are filtered on entry, so an id appearing only in
    * self-pairs is absent -- harmless for callers, which left-join and
    * coalesce(component, id) to cover singletons either way), where
    * component is the smallest id in its component. Ids must be
    * integral-typed. */
  def connectedComponents(pairs: DataFrame, idA: Column, idB: Column, maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var nodes = nodeAggregate(
      pairs
        .select(greatest(idA, idB).as("hi"), least(idA, idB).as("lo"))
        .filter(col("hi") =!= col("lo")))
    var round = 0
    // unsettled: a smaller neighbour and any second neighbour
    while (!nodes.filter(size(col("nbrs")) > 1 && array_min(col("nbrs")) < col("u")).isEmpty) {
      require(round < maxRounds, s"connectedComponents did not converge in $maxRounds rounds")
      // large-star: each larger neighbour of u re-attaches to m
      val large = nodes.select(explode(filter(col("nbrs"), _ > col("u"))).as("hi"), col("m").as("lo"))
      // small-star: the set's minimum stands in for hi's own edge (hi, m);
      // every other member l becomes (l, m)
      val small = large
        .groupBy("hi")
        .agg(collect_set(col("lo")).as("los"))
        .select(col("hi"), col("los"), array_min(col("los")).as("m"))
        .select(explode(transform(col("los"), l =>
          struct(when(l === col("m"), col("hi")).otherwise(l).as("hi"), col("m").as("lo")))).as("e"))
        .select("e.*")
      nodes = nodeAggregate(small)
      round += 1
    }
    nodes.select(col("u").as("id"), col("m").as("component"))
  }

  /** (hi, lo) edges, duplicates allowed -> checkpointed (u, nbrs, m): each
    * node's neighbour set and the minimum of it and the node. */
  private def nodeAggregate(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("hi").as("u"), col("lo").as("v")),
        struct(col("lo").as("u"), col("hi").as("v")))).as("e"))
      .groupBy(col("e.u").as("u"))
      .agg(collect_set(col("e.v")).as("nbrs"))
      .select(col("u"), col("nbrs"), least(col("u"), array_min(col("nbrs"))).as("m"))
      .localCheckpoint()
}
