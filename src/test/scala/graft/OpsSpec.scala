package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit/property tests for the training-data operators that have no SQL
  * oracle (SimHash, LSH recall) plus sanity for the stubbed multimodal path.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("ops")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("simhash: near-duplicates have small hamming distance") {
    spark.sparkContext.setLogLevel("WARN")
    val sh = docs
      .select(col("doc_id"), Dedup.simhash60(split(col("text"), " ")).as("h"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0) // identical text -> identical hash
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)), "near-dup closer than unrelated")
    assert(ham(sh(1L), sh(2L)) <= 12)
  }

  test("minhash LSH finds the near-duplicate pair") {
    val withSh = docs.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val pairs = Dedup
      .lshCandidates(withSh, col("doc_id"), col("sh"), 8, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), "near-dup should collide")
    assert(!pairs.contains((1L, 3L)) || !pairs.contains((2L, 3L)), "unrelated docs mostly don't collide")
  }

  test("jaccard pairs: exact dup = 10000, near dup high, unrelated absent") {
    val withSh = docs.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val j = Dedup
      .ngramJaccardPairs(withSh, col("doc_id"), col("sh"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4)))
      .toMap
    assert(j((1L, 4L)) == 10000L)
    assert(j((1L, 2L)) >= 7000L)
    assert(!j.contains((1L, 3L)))
  }

  test("brute-force cosine topk is exact and deterministic") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(-1f, 0f, 0f))
    ).toDF("id", "vec")
    val top = Similarity
      .bruteForceTopK(vecs.filter(col("id") === 1), vecs, 2)
      .collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(top.toSeq == Seq((2L, 1), (3L, 2)))
  }

  test("multi-table LSH ANN: recall >= 0.9 vs brute force, buckets bounded") {
    val n = 50
    val vecs = (0 until n).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)
      (i.toLong, base)
    }.toDF("id", "vec")
    val bf = Similarity.bruteForceTopK(vecs, vecs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(vecs, 8, 2, 3, tables = 4, maxBucket = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // OR-amplified recall: fraction of true top-3 pairs the multi-table
    // candidate generation recovers (single-table collapses well below this)
    val recall = bf.count(lsh.contains).toDouble / bf.size
    assert(recall >= 0.9, s"multi-table LSH recall too low: $recall")
    // the bucket cap is real behavior, not decoration: with maxBucket = 0
    // every bucket is oversized and dropped, so no candidates survive
    val capped = Similarity.lshTopK(vecs, 8, 2, 3, tables = 4, maxBucket = 0).count()
    assert(capped == 0L, "maxBucket=0 must drop every bucket")
    // and a tight cap strictly reduces the candidate set vs a loose one
    val tight = Similarity.lshTopK(vecs, 8, 2, 3, tables = 4, maxBucket = 10).count()
    assert(tight <= lsh.size.toLong, "tight cap must not add results")
  }

  test("IVF-flat ANN: good recall vs brute force, cell cap drops hot cells whole") {
    val n = 60
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }.toDF("id", "vec")
    val bf = Similarity.bruteForceTopK(vecs, vecs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, 3, centroidEvery = 10, nProbe = 3, maxCell = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    assert(recall >= 0.7, s"IVF nProbe=3 recall too low: $recall")
    // more probes -> recall monotonically non-decreasing (here: full)
    val ivfAll = Similarity.ivfTopK(vecs, 3, centroidEvery = 10, nProbe = 6, maxCell = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.count(ivfAll.contains) >= bf.count(ivf.contains))
    assert(bf.count(ivfAll.contains).toDouble / bf.size >= 0.99,
      "probing every cell must recover brute-force exactly")
    // the cell cap is real: maxCell=0 drops every cell -> no candidates
    assert(Similarity.ivfTopK(vecs, 3, centroidEvery = 10, nProbe = 3, maxCell = 0).count() == 0L)
    // singleton cells are candidates (unlike the pair generators): with one
    // centroid every vector, every cell is its own singleton, and queries
    // still find neighbors through probing other cells
    val single = Similarity.ivfTopK(vecs, 1, centroidEvery = 1, nProbe = 2, maxCell = 10)
    assert(single.count() > 0, "singleton cells must still produce probe candidates")
  }

  test("planted near-duplicates (cosine >= 0.95): IVF pair harvest has recall 1.0") {
    // the synthetic sf tables contain NO true near-dups (max pairwise cosine
    // ~0.6), so the gate queries run at a rank-derived threshold; this test
    // is the semantics anchor for REAL near-dup corpora: plant duplicate
    // clusters with ~0.5% perturbation and require the IVF candidate path
    // to recover the full brute-force pair set at the 0.95 threshold
    val dim = 16
    def base(i: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(i * 1.3 + d * 0.7).toFloat)
    val originals = (0 until 120).map(i => (i.toLong, base(i)))
    val dups = (0 until 15).map { j =>
      val src = base(j * 8)
      val wobbled = src.zipWithIndex.map { case (v, d) =>
        v + 0.005f * math.sin(j * 2.1 + d).toFloat
      }
      ((1000 + j).toLong, wobbled)
    }
    val vecs = (originals ++ dups).toDF("id", "vec")
    val brute = vecs.as("a")
      .join(vecs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosineX10000(col("a.vec"), col("b.vec")).as("s"))
      .filter(col("s") >= 9500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 15, s"planting failed: only ${brute.size} true pairs")
    val ann = Similarity.ivfNearDupPairs(vecs, 9500L, centroidEvery = 10, nProbe = 3, maxCell = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann == brute, s"IVF must recover ALL true near-dup pairs: missed ${brute -- ann}")
    // and each planted duplicate's ANN top-1 is SOME true >=0.95 partner
    // (the sin-lattice originals alias near-periodically, so a duplicate can
    // have several legitimate near-dup partners -- any of them is correct)
    val partners: Map[Long, Set[Long]] = (brute.toSeq.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val lshTop1 = Similarity.lshTopK(vecs, dim, 6, 1, tables = 4, maxBucket = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfTop1 = Similarity.ivfTopK(vecs, 1, centroidEvery = 10, nProbe = 3, maxCell = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 15).map(j => (1000 + j).toLong).foreach { dup =>
      val ok = partners(dup)
      assert(lshTop1.get(dup).exists(ok.contains), s"LSH top-1 of $dup must be a true partner $ok")
      assert(ivfTop1.get(dup).exists(ok.contains), s"IVF top-1 of $dup must be a true partner $ok")
    }
  }

  test("lshCandidates: hot band bucket is bounded by maxBucket before the self-join") {
    // web-scale dedup's common pathology: a large cluster of identical
    // boilerplate docs -> every band bucket holds the whole cluster and an
    // unbounded self-join materializes d^2 rows in one task
    val clones = (0 until 2000)
      .map(i => (i.toLong, "identical boilerplate text repeated across the entire crawl segment"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val bounded = Dedup.lshCandidates(clones, col("doc_id"), col("sh"), 8, 2, maxBucket = 100)
    assert(bounded.count() == 0L, "a 2000-doc bucket must be dropped at cap 100")

    // sanity on a small mixed corpus: a cap above every bucket size is a
    // no-op (same pairs as effectively-unbounded)
    val withSh = docs.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val capped = Dedup.lshCandidates(withSh, col("doc_id"), col("sh"), 8, 2, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loose = Dedup.lshCandidates(withSh, col("doc_id"), col("sh"), 8, 2, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == loose, "cap above bucket sizes must not change candidates")

    // the mega-cluster is still dedupable by the exact pass (the documented
    // recall-knob mitigation): one keep-id + 1999 duplicates
    val exact = Dedup.exactByKey(clones, col("doc_id"), col("sh").cast("string")).collect()
    assert(exact.length == 1 && exact.head.getLong(2) == 2000L)
  }

  test("bounded_collect: exact cap kept, cap+1 latches NULL across partial merges") {
    import graft.expr.BoundedCollect.bounded_collect
    // 40 partitions force map-side partials + serde + merge for every group
    val rows = ((1 to 5).map(i => ("at", i.toLong)) ++       // == cap -> kept
      (1 to 6).map(i => ("over", i.toLong)) ++               // cap+1 -> NULL
      Seq(("tiny", 99L))).toDF("k", "v").repartition(40)
    val got = rows
      .groupBy("k")
      .agg(bounded_collect(col("v"), 5).as("ids"))
      .collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted))
      .toMap
    assert(got("at").contains(Seq(1L, 2L, 3L, 4L, 5L)), "group of exactly max is kept intact")
    assert(got("over").isEmpty, "group of max+1 must be NULL (dropped by the cap)")
    assert(got("tiny").contains(Seq(99L)))

    // string elements: UTF8String buffers are reused by unsafe rows; the
    // clone in update() must keep values distinct
    val strs = (0 until 8).map(i => ("g", s"v$i")).toDF("k", "s").repartition(8)
    val arr = strs
      .groupBy("k")
      .agg(bounded_collect(col("s"), 100).as("vals"))
      .collect()(0)
      .getSeq[String](1)
      .toSeq
      .sorted
    assert(arr == (0 until 8).map(i => s"v$i"))
  }

  test("simhash single-pass fold equals the per-bit formulation") {
    // per-bit reference formulation (the pre-optimization shape), inline
    def perBit(words: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val hashes = transform(words, w => xxhash64(w).bitwiseAND(lit(0xfffffffffffffffL)))
      (0 until 60).map { bit =>
        val votes = aggregate(
          hashes,
          lit(0L),
          (acc, h) =>
            acc + when(shiftrightunsigned(h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
        )
        when(votes > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }
    val both = docs
      .select(
        col("doc_id"),
        Dedup.simhash60(split(col("text"), " ")).as("fold"),
        perBit(split(col("text"), " ")).as("ref")
      )
      .collect()
    assert(both.nonEmpty)
    for (r <- both) assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
  }

  test("minhash_multi kernel equals the per-salt xxhash64 formulation") {
    val sh = Dedup.shingles(split(col("text"), " "), 3)
    val naive = (0 until 8).map { i =>
      array_min(transform(sh, s => xxhash64(lit(i), s))).as(s"ref_$i")
    }
    val both = docs
      .select(col("doc_id") +: (Dedup.minhashMultiFast(sh, 8).as("mh") +: naive): _*)
      .collect()
    assert(both.nonEmpty)
    for (r <- both) {
      val mh = Option(r.getAs[scala.collection.Seq[Long]]("mh"))
      (0 until 8).foreach { i =>
        val ref = if (r.isNullAt(r.fieldIndex(s"ref_$i"))) None else Some(r.getLong(r.fieldIndex(s"ref_$i")))
        assert(mh.map(_(i)) == ref, s"doc ${r.get(0)} salt $i")
      }
    }
    // empty shingle array -> null, matching array_min([])
    val empty = spark.sql("SELECT 'a b' AS text")
      .select(Dedup.minhashMultiFast(Dedup.shingles(split(col("text"), " "), 3), 8).as("mh"))
      .head()
    assert(empty.isNullAt(0))
  }

  test("cosine and hyperplane-bucket kernels equal the expression formulations") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .limit(50)
    // cosine kernel vs the aggregate/zip_with chain on 50x50 pairs
    val pairs = e.select(col("id").as("qid"), col("vec").as("qv"))
      .crossJoin(e.select(col("id").as("cid"), col("vec").as("cv")))
      .filter(col("qid") =!= col("cid"))
      .select(
        col("qid"), col("cid"),
        Similarity.cosineX10000(col("qv"), col("cv")).as("kern"),
        floor(Similarity.cosine(col("qv"), col("cv")) * 10000).as("expr")
      )
      .collect()
    assert(pairs.nonEmpty)
    for (r <- pairs) assert(r.getLong(2) == r.getLong(3), s"${r.get(0)} x ${r.get(1)}")

    // bucket kernel vs per-bit integer projection
    val dim = 64; val bits = 7; val tables = 4
    val weights = Array.tabulate(tables * bits * dim) { idx =>
      val t = idx / (bits * dim); val b = idx / dim % bits; val i = idx % dim
      Similarity.planeWeight(t, b, i)
    }
    val q = e.select(col("id"), Similarity.quantize1000(col("vec")).as("qv"))
    val both = q.select(
      col("id"),
      graft.expr.GraftExpressions.rhp_buckets(col("qv"), weights, tables, bits, dim).as("kern"),
      array((0 until tables).map(t => Similarity.rhpBucketQ(col("qv"), dim, bits, t)): _*).as("expr")
    ).collect()
    for (r <- both)
      assert(r.getAs[scala.collection.Seq[Long]]("kern") == r.getAs[scala.collection.Seq[Long]]("expr"),
        s"id ${r.get(0)}")
  }

  test("kernel fuzz: shingles/minhash/simhash equal expression formulations on edge corpora") {
    // deterministic edge corpus: empty docs, 1-2 words, unicode, empty-string
    // words, long repeats -- beyond what documents.parquet exercises
    val rnd = new scala.util.Random(20260817L)
    val vocab = Vector("a", "", "word", "éé", "漢字", "x" * 40, "b c", "\"q\"", "7")
    val docs2 = (0 until 200).map { i =>
      val n = rnd.nextInt(8) // 0..7 words
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    import spark.implicits._
    val df = docs2.toDF("id", "text")
    val w = split(col("text"), " ")
    // old expression formulations, inline
    def shinglesExprOld(words: org.apache.spark.sql.Column, n: Int) =
      when(size(words) < n, array())
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*)))
    val sh = graft.ops.Dedup.shingles(w, 3)
    val shOld = shinglesExprOld(w, 3)
    val naiveMh = (0 until 8).map { i =>
      array_min(transform(sh, s => xxhash64(lit(i), s))).as(s"ref_$i")
    }
    val rows = df.select(
      Seq(col("id"), sh.as("sh"), shOld.as("sh_old"),
        graft.ops.Dedup.minhashMultiFast(sh, 8).as("mh"),
        graft.ops.Dedup.simhash60(w).as("sim"),
        graft.ops.Dedup.simhash60(w, fast = false).as("sim_md5")) ++ naiveMh: _*
    ).collect()
    for (r <- rows) {
      assert(r.getAs[scala.collection.Seq[String]]("sh") == r.getAs[scala.collection.Seq[String]]("sh_old"),
        s"shingles diverge at id ${r.get(0)}")
      val mh = Option(r.getAs[scala.collection.Seq[Long]]("mh"))
      (0 until 8).foreach { i =>
        val ref = if (r.isNullAt(r.fieldIndex(s"ref_$i"))) None else Some(r.getLong(r.fieldIndex(s"ref_$i")))
        assert(mh.map(_(i)) == ref, s"minhash diverges at id ${r.get(0)} salt $i")
      }
      assert(!r.isNullAt(r.fieldIndex("sim")), s"simhash null at id ${r.get(0)}")
    }
  }

  test("multimodal stub codec: deterministic features, histogram sums to bytes") {
    val media = Multimodal.mediaFromDocuments(
      docs.select(col("doc_id"), col("text"))
    )
    val feats = Multimodal.extractFeatures(spark, media, 2).collect()
    assert(feats.length == 4)
    for (f <- feats) {
      assert(f.histogram16.sum == f.n_bytes)
      assert(f.n_bytes > 0)
      if (f.kind == "video") assert(f.frames_sampled >= 1)
    }
    // determinism across runs
    val again = Multimodal.extractFeatures(spark, media, 3).collect()
    assert(feats.sortBy(_.media_id).map(_.byte_mean_x1000).toSeq ==
      again.sortBy(_.media_id).map(_.byte_mean_x1000).toSeq)
  }

  test("fingerprints: rolling is order-sensitive, wordset is not") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),
      (3L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val r = df
      .select(
        col("doc_id"),
        TextOps.rollingFingerprint(split(col("text"), " ")).as("roll"),
        TextOps.wordSetFingerprint(split(col("text"), " ")).as("ws")
      )
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    assert(r(1L)._1 == r(3L)._1 && r(1L)._1 != r(2L)._1)
    assert(r(1L)._2 == r(2L)._2)
  }

  test("ngram overlap decontamination: planted leak found, short docs drop, counts exact") {
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val train = Seq(
      (10L, s"prefix $eight suffix tail more words here"), // contains the leaked 8-gram
      (11L, "a completely different document with eight words plus padding tokens"),
      (12L, "too short") // < 8 words -> no grams -> absent from output
    ).toDF("doc_id", "text")
    val eval = Seq((90L, s"other lead-in $eight closing words")).toDF("doc_id", "text")
    val got = TextOps
      .ngramOverlap(train, eval, n = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(!got.contains(12L), "sub-n doc must drop (both engines agree)")
    // doc 10: 14 words -> 7 distinct 8-grams; exactly one equals the leak
    assert(got(10L) == ((7L, 1L)), s"leaked doc: ${got(10L)}")
    assert(got(11L)._2 == 0L, "clean doc has zero matches")
  }

  test("hash sampling: deterministic, stratified rates bite, keyed-subset monotone") {
    val docs = (0L until 4000L)
      .map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    def sample(enRate: Int) = TextOps
      .hashSample(docs, col("doc_id"), col("lang"), Map("en" -> enRate, "zh" -> 50), 100)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val s1 = sample(200)
    assert(s1 == sample(200), "deterministic across runs")
    val en = s1.count(_._2 == "en").toDouble / 2000
    val zh = s1.count(_._2 == "zh").toDouble / 2000
    assert(math.abs(en - 0.2) < 0.05 && math.abs(zh - 0.05) < 0.03,
      s"stratum rates: en=$en zh=$zh")
    // keyed-sample property: raising one stratum's rate only ADDS rows --
    // reruns/backfills never resample unrelated keys
    val s2 = sample(400)
    assert(s1.subsetOf(s2), "rate increase must be a superset (keyed sampling)")
  }

  test("repetition metrics: hand values, sub-2-word drop, fold == explode+groupBy") {
    val docs = Seq(
      (1L, "a b a b a"), // 5 words, 2 distinct; bigrams {a b, b a, a b, b a} -> top 2/4
      (2L, "x y"), // single bigram
      (3L, "solo") // no bigrams -> dropped
    ).toDF("doc_id", "text")
    val got = TextOps
      .repetitionMetrics(docs)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got(1L) == ((5L, 2L, 4L, 2L, 600L, 500L)))
    assert(got(2L) == ((2L, 2L, 1L, 1L, 0L, 1000L)))
    assert(!got.contains(3L))

    // differential: the map-side sorted-run fold equals explode + groupBy max
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L)
      .map(i => (i, Seq.fill(3 + rnd.nextInt(60))(s"w${rnd.nextInt(8)}").mkString(" ")))
      .toDF("doc_id", "text")
    val viaFold = TextOps
      .repetitionMetrics(corpus)
      .select("doc_id", "top_bigram_n")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val viaGroup = corpus
      .select(col("doc_id"), explode(graft.ops.Dedup.shingles(split(col("text"), " "), 2)).as("g"))
      .groupBy("doc_id", "g")
      .count()
      .groupBy("doc_id")
      .agg(max("count").as("m"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(viaFold == viaGroup)
  }

  test("connected components: chains, orientation/dup tolerance, fixpoint == brute closure") {
    // path graph 1-2-3-4 (diameter 3), a triangle with mixed orientation and
    // duplicate edges, and an isolated pair
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), // path, mixed orientation
      (10L, 11L), (11L, 12L), (12L, 10L), (10L, 11L), // triangle + dup edge
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Dedup
      .connectedComponents(pairs, col("id_a"), col("id_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    // differential vs brute-force union-find on a random graph (includes
    // long chains: sparse edges over a small id space)
    val rnd = new scala.util.Random(11)
    val es = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)
    val parent = Array.tabulate(60L.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.map { n =>
      // canonical label = min node id in the component
      val root = find(n.toInt)
      val members = nodes.filter(m => find(m.toInt) == root)
      n -> members.min
    }.toMap
    val ccGot = Dedup
      .connectedComponents(es.toDF("id_a", "id_b"), col("id_a"), col("id_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(ccGot == expect)

    // empty pair list -> empty result, no convergence failure
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), col("id_a"), col("id_b")).count() == 0L)
  }

  test("connected components: 2000-node path converges in O(log n) rounds, not diameter") {
    // a path graph is the adversarial case for plain min-label propagation
    // (diameter 1999 -> 1999 rounds); the star alternation must finish in
    // well under maxRounds=20 or this throws
    val pairs = (0L until 1999L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val got = Dedup
      .connectedComponents(pairs, col("id_a"), col("id_b"), maxRounds = 20)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 2000)
    assert(got.forall(_._2 == 0L), "every node labels to the component min")
  }

  test("connected components: maxRounds = 1 converges on a star forest, throws on a path") {
    val star = Dedup
      .connectedComponents(Seq((2L, 1L), (3L, 1L)).toDF("id_a", "id_b"), col("id_a"), col("id_b"), maxRounds = 1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(path, col("id_a"), col("id_b"), maxRounds = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("packChunks: per-shard prefix-sum invariants, chunk arithmetic, rerun stability") {
    val docs = (1L to 200L).map(i => (i, Seq.fill(1 + (i % 7).toInt)("w").mkString(" "))).toDF("doc_id", "text")
    def run() =
      TextOps
        .packChunks(docs, col("doc_id"), TextOps.wsTokenCount(col("text")), 4, 10L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val rows = run()
    assert(rows.length == 200)
    // within each shard, start offsets are exactly the prefix sums: sorted
    // by start, each doc starts where the previous ended
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 == a._4 + a._3)
        case _ =>
      }
    }
    // chunk arithmetic consistent with the budget
    rows.foreach { case (_, _, _, start, seqId, seqOff) =>
      assert(seqId == start / 10L && seqOff == start % 10L)
    }
    assert(run().sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq, "packing plan must be rerun-stable")
  }

  test("stratumTopPermille: integer rank gate, deterministic ties, per-stratum counts") {
    val df = ((1 to 10).map(i => ("A", i.toLong, i.toLong)) ++
      (1 to 4).map(i => ("B", 5L, 100L + i))).toDF("src", "q", "id")
    val kept = TextOps
      .stratumTopPermille(df, col("src"), col("q"), col("id"), 200)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getInt(3)))
      .toSet
    // A: 10 rows, keep rk<=2 -> the two best scores (10, 9 -> ids 10, 9)
    // B: 4 rows all tied, keep rk=1 -> smallest id wins the tie
    assert(kept == Set(("A", 10L, 1), ("A", 9L, 2), ("B", 101L, 1)))
  }

  test("plan shapes: repetition is shuffle-free; packChunks has exactly one shuffle") {
    val docs = (1L to 50L).map(i => (i, s"w$i x y z a b")).toDF("doc_id", "text")
    // simple mode prints each shuffle as "Exchange hashpartitioning(...)";
    // formatted mode would split node name from arguments
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))).length
    assert(shuffles(TextOps.repetitionMetrics(docs)) == 0, "repetition must stay map-side")
    assert(
      shuffles(TextOps.packChunks(docs, col("doc_id"), TextOps.wsTokenCount(col("text")), 4, 10L)) == 1,
      "packing plan must be one per-shard exchange, no global order"
    )
  }

  test("mixtureWeights: uniform-target ppm weights, exact integer floor") {
    val df = Seq(
      ("A", "w x y z a b"), // 6 tokens
      ("A", "p q r s"), // 4 tokens -> A: 2 docs, 10 tokens
      ("B", Seq.fill(30)("t").mkString(" ")) // B: 1 doc, 30 tokens
    ).toDF("src", "text")
    val got = TextOps
      .mixtureWeights(df, Seq("src"), TextOps.wsTokenCount(col("text")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // tot=40, ns=2 -> target 20 tokens/stratum
    assert(got("A") == ((2L, 10L, 2000000L))) // 1e6*40/(2*10)
    assert(got("B") == ((1L, 30L, 666666L))) // floor(1e6*40/60)
  }

  test("language id picks marker-heavy language deterministically") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato la casa de el perro"),
      (3L, "der hund und die katze der strasse"),
      (4L, "xyz abc qqq")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "de" && got(4L) == "und")
  }

  test("ngram jaccard df-cap: identical output on normal corpus, bounded on pathological") {
    import spark.implicits._
    def sh(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))

    // normal corpus: cap high enough to be a no-op -> identical pairs
    val normal = sh(docs.select(col("doc_id"), col("text")))
    val uncapped = Dedup.ngramJaccardPairs(normal, col("doc_id"), col("sh"), maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.ngramJaccardPairs(normal, col("doc_id"), col("sh"), maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == uncapped, "df-cap must be a no-op when no shingle is hot")

    // pathological: 100 docs all sharing one ubiquitous shingle ("the same
    // three words") -> uncapped join would materialize 100*99/2 pairs from
    // that single shingle; the cap prunes them all
    val patho = sh((0 until 100).map(i => (i.toLong, s"the same words unique$i tail$i end$i"))
      .toDF("doc_id", "text"))
    val bounded = Dedup.ngramJaccardPairs(patho, col("doc_id"), col("sh"), maxDf = 10)
    assert(bounded.count() == 0, "hot-shingle pairs must be pruned by the df cap")
    val unbounded = Dedup.ngramJaccardPairs(patho, col("doc_id"), col("sh"), maxDf = Int.MaxValue)
    assert(unbounded.count() == 100L * 99 / 2, "sanity: uncapped blow-up is real")
  }

  test("chunked bucket pairs: equal to the in-task generator, spread across tasks") {
    import spark.implicits._
    // one bucket spanning 3 chunks (n=3000 > 2*PairChunk) plus a small one:
    // the large-cap path decomposes into chunk pairs and repartitions, so no
    // single task emits the full n^2/2 explosion
    val ids = ((0 until 3000).map(i => ("hot", i.toLong)) ++
      (0 until 5).map(i => ("cold", 100000L + i))).toDF("k", "id")
    def buckets = ids.groupBy("k").agg(
      graft.expr.BoundedCollect.bounded_collect(col("id"), 10000).as("__ids")
    ).filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val small = pairSet(Dedup.bucketPairs(buckets, directed = false, cap = 2048))
    val chunked = pairSet(Dedup.bucketPairs(buckets, directed = false, cap = 10000))
    assert(chunked.size == 3000 * 2999 / 2 + 5 * 4 / 2, "exact undirected pair count")
    assert(chunked == small, "chunked generator must produce the identical pair set")

    val smallD = pairSet(Dedup.bucketPairs(buckets, directed = true, cap = 2048))
    val chunkedD = pairSet(Dedup.bucketPairs(buckets, directed = true, cap = 10000))
    assert(chunkedD.size == 3000 * 2999 + 5 * 4, "exact directed pair count")
    assert(chunkedD == smallD, "directed chunked generator must match")

    // scale property: the chunked plan repartitions the chunk-pair rows (the
    // spreading exchange the in-task plan deliberately lacks)
    val chunkedPlan = Dedup.bucketPairs(buckets, directed = false, cap = 10000)
      .queryExecution.executedPlan.toString
    assert(chunkedPlan.contains("Exchange"), "chunked path must spread via an exchange")

    // per-task bound: with shuffle.partitions=4 and 3 chunks -> 6 chunk
    // pairs, no task can see more than a few chunk pairs of <=C^2 work; count
    // rows per partition right after the pair explode to pin the spread
    val perPart = Dedup.bucketPairs(buckets, directed = false, cap = 10000)
      .rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
    val total = 3000L * 2999 / 2 + 5 * 4 / 2
    assert(perPart.sum == total)
    assert(perPart.max < total, "pair generation must not collapse into one task")
  }

  test("minhashMd5Fast kernel == hash-pairs + per-salt array_min oracle chain") {
    // shingle corpora incl. edge shapes: normal docs, a single-shingle doc,
    // an EMPTY shingle array (-> all sigs null), and an array with null
    // elements (array_min null-skip)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox leaps over the lazy dog"),
      (3L, "a b c"),
      (4L, "a b") // < 3 words -> empty shingles
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
      .union(Seq((5L, "x")).toDF("doc_id", "t")
        .select(col("doc_id"), array(lit(null).cast("string"), lit("p q r"), lit(null).cast("string")).as("sh")))
    val k = 8
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 to k).map(i => if (r.isNullAt(i)) null else r.get(i)).toList).toSet
    val chain = rows(
      sh.select(col("doc_id"), Dedup.minhashHashPairs(col("sh")).as("__hp"))
        .select(col("doc_id") +: Dedup.minhashSignature(col("__hp"), k): _*))
    val fused = rows(
      sh.select(col("doc_id"), Dedup.minhashMd5Fast(col("sh"), k).as("__mh"))
        .select(col("doc_id") +: Dedup.minhashSignatureFast(col("__mh"), k): _*))
    assert(fused == chain, "fused md5 minhash must equal the expression chain")
  }

  test("minhash exact-arithmetic bound: k = 896 kernel == chain under ANSI, k = 897 rejected") {
    // h1 < 2^60 and h2 < 2^53, so h1 + i*h2 < 2^63 for every i < 896: at
    // the edge the ANSI chain must not overflow and the kernel must not wrap
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val sh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark catalyst optimizer internals")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val k = 896
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 to k).map(r.getLong).toList).toSet
    val chain = rows(
      sh.select(col("doc_id"), Dedup.minhashHashPairs(col("sh")).as("__hp"))
        .select(col("doc_id") +: Dedup.minhashSignature(col("__hp"), k): _*))
    val fused = rows(
      sh.select(col("doc_id"), Dedup.minhashMd5Fast(col("sh"), k).as("__mh"))
        .select(col("doc_id") +: Dedup.minhashSignatureFast(col("__mh"), k): _*))
    assert(fused == chain, "fused md5 minhash must equal the expression chain at k = 896")
    assert(fused.forall(_.forall(_ >= 0L)), "every signature value must be non-negative")
    intercept[IllegalArgumentException](Dedup.minhashSignature(col("__hp"), 897))
    intercept[IllegalArgumentException](Dedup.minhashMd5Fast(col("sh"), 897))
  }

  test("ivfProbeCells kernel == row_number window probe selection (incl. ties, nulls, degenerate)") {
    import org.apache.spark.sql.expressions.Window
    // corpus with deliberate pathologies: duplicate centroids (exact score
    // ties -> cid tie-break), an all-zero vector (NaN cosine -> all-null
    // scores, ranked by cid asc), a scaled copy (cosine exactly 1), and
    // near-orthogonal noise
    val rnd = new scala.util.Random(11)
    val dim = 8
    val base = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d => (rnd.nextFloat() * 2 - 1)))
    }
    val scaled = Seq((100L, base(3)._2.map(_ * 2.5f)))
    val zero = Seq((101L, Array.fill(dim)(0f)))
    val vecs = (base ++ scaled ++ zero).toDF("id", "vec")
    // centroids: every 7th vector PLUS an exact duplicate of one centroid
    // under a different cid (score ties for every row)
    val cents = vecs.filter(pmod(col("id"), lit(7)) === 0)
      .select(col("id").as("cid"), col("vec").as("cvec"))
      .union(vecs.filter(col("id") === 7).select(lit(999L).as("cid"), col("vec").as("cvec")))
    def windowProbes(nProbe: Int) = vecs
      .join(broadcast(cents))
      .select(col("id"), col("cid"), Similarity.cosineX10000(col("vec"), col("cvec")).as("cscore"))
      .withColumn("crank",
        row_number().over(Window.partitionBy("id").orderBy(col("cscore").desc, col("cid").asc)))
      .filter(col("crank") <= math.max(1, nProbe))
      .select(col("id"), col("crank"), col("cid").as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def kernelProbes(nProbe: Int) = {
      val q = Similarity.collectQuantizer(cents)
      vecs.select(col("id"), posexplode(Similarity.probeCells(col("vec"), q, nProbe)).as(Seq("p", "cell")))
        .select(col("id"), (col("p") + 1).as("crank"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    for (np <- Seq(0, 1, 2, 3, 7, 100)) { // 0 -> max(1,_) floor; 100 > nCent
      assert(kernelProbes(np) == windowProbes(np), s"probe divergence at nProbe=$np")
    }
  }

  test("stratumTopPermille == the single-window formulation (ties, null score, many rates)") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties (scores 0..4), uneven strata, one null score
    val rnd = new scala.util.Random(23)
    val rows: Seq[(String, Option[Long], Long)] =
      (1 to 150).map(i => ("A", Some(rnd.nextInt(5).toLong), 1000L + i)) ++
        (1 to 37).map(i => ("B", Some(rnd.nextInt(3).toLong), 2000L + i)) ++
        Seq(("B", None, 2999L), ("C", Some(2L), 3000L))
    val df = rows.toDF("src", "q", "id")
    def oldForm(keepPermille: Int) = {
      val base = df.select(col("src").as("stratum"), col("q").as("score"), col("id").as("key"))
      val cnt = base.groupBy("stratum").agg(count(lit(1)).as("cnt"))
      val rk = row_number().over(
        Window.partitionBy("stratum").orderBy(col("score").desc, col("key")))
      base.select(col("stratum"), col("score"), col("key"), rk.as("rk"))
        .join(broadcast(cnt), Seq("stratum"))
        .filter((col("rk") - 1L) * 1000L < col("cnt") * keepPermille)
        .collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          r.getLong(2), r.getInt(3), r.getLong(4))).toSet
    }
    def newForm(keepPermille: Int) = TextOps
      .stratumTopPermille(df, col("src"), col("q"), col("id"), keepPermille)
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getInt(3), r.getLong(4))).toSet
    for (kp <- Seq(0, 1, 10, 200, 500, 999, 1000))
      assert(newForm(kp) == oldForm(kp), s"quality-cut divergence at keepPermille=$kp")
    // plan shape: the corpus-side rank window partitions by (stratum, SCORE),
    // never by stratum alone -- the r5 single-task-per-stratum sort is gone
    val lp = TextOps.stratumTopPermille(df, col("src"), col("q"), col("id"), 200)
      .queryExecution.optimizedPlan
    val rankParts = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.mkString.contains("row_number") =>
        w.partitionSpec.length
    }
    assert(rankParts.nonEmpty && rankParts.forall(_ == 2),
      s"rank window must partition by (stratum, score): $rankParts")
  }
}
