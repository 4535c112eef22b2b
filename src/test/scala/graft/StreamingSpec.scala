package graft

import graft.loggen.LogGen
import graft.pipeline.TfPipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("streaming")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming exact dedup: in-batch and cross-batch duplicates dropped, batch key parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft-dedup-stream").toString
    new java.io.File(s"$base/in").mkdirs()
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("doc_id", "text")
        .withColumn("ts", to_timestamp(col("doc_id") + 1600000000L))
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    writeFile("a", Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c"))) // in-batch dup {1,3}
    val src = spark.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .parquet(s"$base/in")
    val dd = StreamingPipeline.dedupExactStream(src, col("text"), col("ts"))
    val q = StreamingPipeline.memorySink(dd, "dedup_stream", OutputMode.Update).start()
    try {
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate (must hit the keyed state) + a new key
      writeFile("b", Seq((4L, "d e f"), (5L, "g h i")))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").select("doc_id").as[Long].collect().toSet
      assert(out.contains(2L) && out.contains(5L))
      assert(!out.contains(4L), "cross-batch duplicate must be dropped by keyed state")
      assert((out & Set(1L, 3L)).size == 1, "exactly one in-batch winner per key")
      assert(out.size == 3)
      // key-set parity with the batch operator on the union of all arrivals
      val all = Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c"), (4L, "d e f"), (5L, "g h i"))
        .toDF("doc_id", "text")
      val batchKeys = graft.ops.Dedup
        .exactByKey(all, col("doc_id"), col("text"))
        .count()
      assert(batchKeys == 3L)
    } finally q.stop()
  }

  test("streaming exact dedup: keyed state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft-dedup-restart").toString
    new java.io.File(s"$base/in").mkdirs()
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("doc_id", "text")
        .withColumn("ts", to_timestamp(col("doc_id") + 1600000000L))
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    def startQuery() = {
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
        .parquet(s"$base/in")
      StreamingPipeline
        .dedupExactStream(src, col("text"), col("ts"))
        .writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
    }
    writeFile("a", Seq((1L, "a b c"), (2L, "d e f")))
    val q1 = startQuery()
    try q1.processAllAvailable()
    finally q1.stop()
    // restart: the batch-1 keys live only in the recovered state store
    writeFile("b", Seq((3L, "a b c"), (4L, "g h i")))
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    val out = spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 4L), s"duplicate across restart must be dropped by recovered state, got $out")
  }

  test("streaming LSH candidates: cross-batch pair at arrival, batch pair-set parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft-lsh-stream").toString
    new java.io.File(s"$base/in").mkdirs()
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("doc_id", "text")
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    val near1 = "the quick brown fox jumps over the lazy dog today"
    val near2 = "the quick brown fox jumps over the lazy dog tonight"
    val other = "completely different text about catalyst optimizer internals here"
    writeFile("a", Seq((1L, near1), (2L, other)))
    val src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(s"$base/in")
    def sh(c: org.apache.spark.sql.Column) = graft.ops.Dedup.shingles(split(c, " "), 3)
    val cands = StreamingPipeline.lshCandidatesStream(spark, src, col("doc_id"), sh(col("text")), 8, 2)
    val q = StreamingPipeline.memorySink(cands, "lsh_stream", OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 -- the pair must be emitted AT ARRIVAL
      // against the batch-1 bucket state
      writeFile("b", Seq((3L, near1), (4L, near2)))
      q.processAllAvailable()
      val got = spark.table("lsh_stream").select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 3L)), "cross-batch near-dup pair must surface from keyed state")
      // parity: distinct streamed pairs == the batch operator on the union
      val all = Seq((1L, near1), (2L, other), (3L, near1), (4L, near2)).toDF("doc_id", "text")
      val batch = graft.ops.Dedup
        .lshCandidates(all, col("doc_id"), sh(col("text")), 8, 2)
        .as[(Long, Long)].collect().toSet
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming LSH candidates: bucket state survives a query restart (no pair lost or duplicated)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft-lsh-restart").toString
    new java.io.File(s"$base/in").mkdirs()
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("doc_id", "text")
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    // identical texts -> all 4 bands collide -> each pair is emitted exactly
    // once per band, which makes loss AND duplication across the restart
    // boundary countable
    val text = "a b c d e f g h i j"
    val nBands = 4 // k=8, bandSize=2
    def sh(c: org.apache.spark.sql.Column) = graft.ops.Dedup.shingles(split(c, " "), 3)
    def startQuery() = {
      val src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(s"$base/in")
      StreamingPipeline
        .lshCandidatesStream(spark, src, col("doc_id"), sh(col("text")), 8, 2)
        .writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
    }
    writeFile("a", Seq((1L, text), (2L, text)))
    val q1 = startQuery()
    try q1.processAllAvailable()
    finally q1.stop()
    // restart: docs 1 and 2 live only in the recovered bucket state; doc 3
    // must pair with BOTH at arrival, and the (1,2) pair must not re-emit
    writeFile("b", Seq((3L, text)))
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    val out = spark.read.parquet(s"$base/out").select("id_a", "id_b").as[(Long, Long)].collect()
    val byPair = out.groupBy(identity).view.mapValues(_.length).toMap
    assert(byPair.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"recovered state must pair the new doc with both prior members, got ${byPair.keySet}")
    // exactly once per shared band: nothing lost, nothing replayed
    assert(byPair.values.toSet == Set(nBands),
      s"each pair must be emitted exactly once per band across the restart, got $byPair")
  }

  test("streaming LSH candidates: bucket cap edge -- at the cap equals batch, over it keeps the first cap ids") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft-lsh-cap").toString
    new java.io.File(s"$base/in").mkdirs()
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("doc_id", "text")
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    // identical texts share all 4 band buckets; the two texts share no
    // shingle, so their buckets are disjoint: one bucket family holds
    // exactly maxBucket = 3 members, the other maxBucket + 1
    val atCap = "the quick brown fox jumps over the lazy dog today"
    val overCap = "completely different text about catalyst optimizer internals here"
    val maxBucket = 3
    val nBands = 4 // k=8, bandSize=2
    def sh(c: org.apache.spark.sql.Column) = graft.ops.Dedup.shingles(split(c, " "), 3)
    // each bucket fills across two micro-batches, so the cap is checked
    // against the recovered member list, not only within one batch
    writeFile("a", Seq((1L, atCap), (2L, atCap), (10L, overCap), (11L, overCap)))
    val src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(s"$base/in")
    val cands = StreamingPipeline.lshCandidatesStream(
      spark, src, col("doc_id"), sh(col("text")), 8, 2, maxBucket = maxBucket)
    val q = StreamingPipeline.memorySink(cands, "lsh_cap", OutputMode.Append).start()
    try {
      q.processAllAvailable()
      writeFile("b", Seq((3L, atCap), (12L, overCap), (13L, overCap)))
      q.processAllAvailable()
      val out = spark.table("lsh_cap").select("id_a", "id_b").as[(Long, Long)].collect()
      val got = out.toSet
      val all = Seq(1L, 2L, 3L).map(_ -> atCap) ++ Seq(10L, 11L, 12L, 13L).map(_ -> overCap)
      val batch = graft.ops.Dedup
        .lshCandidates(all.toDF("doc_id", "text"), col("doc_id"), sh(col("text")), 8, 2, maxBucket = maxBucket)
        .as[(Long, Long)].collect().toSet
      // at the cap: the bucket is kept whole, in the stream and in batch
      assert(batch == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"batch must keep the at-cap bucket and drop the over-cap one: $batch")
      assert(got.filter(_._1 < 10L) == batch, s"at the cap the stream must equal batch: $got vs $batch")
      // over the cap: batch drops the bucket, the stream keeps the pairs
      // among the first maxBucket ids (here the three smallest) and never
      // admits the fourth
      assert(got.filter(_._1 >= 10L) == Set((10L, 11L), (10L, 12L), (11L, 12L)),
        s"over the cap the stream must keep only the first $maxBucket members' pairs: $got")
      // one emission per pair per shared band
      assert(out.groupBy(identity).values.map(_.length).toSet == Set(nBands),
        s"each kept pair must be emitted once per band: ${out.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("lsh_cap")
      ()
    }
  }

  test("streaming medic module: multi-batch delivery (docs split across files) equals batch") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-stream-mb").toString
    val input = LogGen.generate(spark, 4, 400, 43L).toDF()
    // three sequential segment files, each doc SPLIT across them in line
    // order -- the streaming contract for sequence logs (file order = line
    // order); one file per micro-batch forces cross-batch state resume
    val segs = Seq((0L, 130L), (130L, 260L), (260L, Long.MaxValue))
    segs.zipWithIndex.foreach { case ((lo, hi), i) =>
      val dir = s"$base/seg$i"
      input.filter(col("line_no") >= lo && col("line_no") < hi)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      // stable arrival order for the file source
      f.setLastModified(1000000L + i * 60000L)
      Files.move(f.toPath, java.nio.file.Paths.get(s"$base/part-$i.parquet"))
    }
    val seq = StreamingPipeline.sequencedStream(spark, s"$base/part-*.parquet", maxFilesPerTrigger = Some(1))
    val q = StreamingPipeline
      .memorySink(StreamingPipeline.medicStatsStream(seq), "medics_mb", OutputMode.Update)
      .start()
    try {
      q.processAllAvailable()
      // the differential only proves cross-batch state if delivery was
      // actually split into one batch per segment file
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      val got = StreamingPipeline.latestRows(spark.sql("select * from medics_mb"))
        .filter(!col("aborted"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getLong(11), r.getLong(12)))
        .toMap
      val (_, routed) = TfPipeline.routedWithUniverse(TfPipeline.envelope(input))
      val batch = TfPipeline.medicStats(routed)
        .select(col("doc_id"), col("sid"), col("medic.advantages_lost"),
          col("medic.charge_count"), col("medic.drops"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(batch.nonEmpty)
      assert(got == batch, s"multi-batch streaming diverged: $got vs $batch")

      // chat module over the SAME multi-batch delivery: exact message-level
      // equality with the batch chat pass
      val seq2 = StreamingPipeline.sequencedStream(spark, s"$base/part-*.parquet", maxFilesPerTrigger = Some(1))
      val qc = StreamingPipeline
        .memorySink(StreamingPipeline.chatStream(seq2), "chat_mb", OutputMode.Update)
        .start()
      try {
        qc.processAllAvailable()
        val gotChat = spark.sql("select * from chat_mb").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getString(5), r.getString(6)))
          .toSet
        val batchChat = TfPipeline.chatPass(routed).select(col("doc_id"), inline(col("chat")))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getString(5), r.getString(6)))
          .toSet
        assert(batchChat.nonEmpty)
        assert(gotChat == batchChat,
          s"chat stream diverged: only-stream=${gotChat -- batchChat}, only-batch=${batchChat -- gotChat}")
      } finally qc.stop()
    } finally q.stop()
  }

  test("streaming medic module (flatMapGroupsWithState) equals batch medicStats exactly") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-stream3").toString
    val input = LogGen.generate(spark, 12, 400, 42L).toDF()
    input.write.mode("overwrite").parquet(dir)

    val seq = StreamingPipeline.sequencedStream(spark, dir)
    val q = StreamingPipeline
      .memorySink(StreamingPipeline.medicStatsStream(seq), "medics_stream", OutputMode.Update)
      .start()
    try {
      q.processAllAvailable()
      // latest emission per key via the monotone up_to watermark
      val got = StreamingPipeline.latestRows(spark.sql("select * from medics_stream"))

      val tombstoned = got.filter(col("aborted")).select("doc_id").collect().map(_.getString(0)).toSet
      val streamed = got
        .filter(!col("aborted"))
        .collect()
        .map { r =>
          (r.getString(0), r.getLong(1)) ->
            (r.getLong(3), r.getFloat(4), r.getLong(5), r.getLong(6), r.getFloat(7),
              r.getFloat(8), r.getFloat(9), r.getFloat(10), r.getLong(11), r.getLong(12))
        }
        .toMap

      // batch twin on the identical input
      val env = TfPipeline.envelope(input)
      val (universe, routed) = TfPipeline.routedWithUniverse(env)
      val abortedBatch = input
        .select("doc_id").distinct()
        .join(universe, Seq("doc_id"), "left_anti")
        .collect().map(_.getString(0)).toSet
      assert(tombstoned == abortedBatch, "streaming tombstones must equal batch doc aborts")

      val batch = TfPipeline
        .medicStats(routed)
        .select(
          col("doc_id"), col("sid"),
          col("medic.advantages_lost"), col("medic.biggest_advantage_lost"),
          col("medic.near_full_charge_death"), col("medic.deaths_after_uber"),
          col("medic.avg_time_before_healing"), col("medic.avg_time_to_build"),
          col("medic.avg_time_to_use"), col("medic.avg_uber_length"),
          col("medic.charge_count"), col("medic.drops")
        )
        .collect()
        .map { r =>
          (r.getString(0), r.getLong(1)) ->
            (r.getLong(2), r.getFloat(3), r.getLong(4), r.getLong(5), r.getFloat(6),
              r.getFloat(7), r.getFloat(8), r.getFloat(9), r.getLong(10), r.getLong(11))
        }
        .toMap

      assert(batch.nonEmpty, "generator must produce medic events for this differential to bite")
      assert(streamed.keySet == batch.keySet, "streaming medic universe must equal batch")
      for ((k, b) <- batch) {
        val s = streamed(k)
        // NaN-tolerant exact equality: f32div yields NaN for 0/0 on both sides
        def feq(x: Float, y: Float): Boolean = (x.isNaN && y.isNaN) || x == y
        assert(s._1 == b._1 && s._3 == b._3 && s._4 == b._4 && s._9 == b._9 && s._10 == b._10,
          s"count fields diverge at $k: $s vs $b")
        assert(feq(s._2, b._2) && feq(s._5, b._5) && feq(s._6, b._6) && feq(s._7, b._7) && feq(s._8, b._8),
          s"float fields diverge at $k: $s vs $b")
      }
    } finally q.stop()
  }

  test("streaming classStats equals batch exactly (multi-batch) and ignores replayed late lines") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-stream-cs").toString
    try {
      val input = LogGen.generate(spark, 10, 400, 44L).toDF()
      // split every doc across two sequential segment files (cross-batch
      // as-of state: entries created in batch 1 must resolve reads in batch 2)
      val segs = Seq((0L, 200L), (200L, Long.MaxValue))
      segs.zipWithIndex.foreach { case ((lo, hi), i) =>
        val dir = s"$base/seg$i"
        input.filter(col("line_no") >= lo && col("line_no") < hi)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
        f.setLastModified(1000000L + i * 60000L)
        Files.move(f.toPath, java.nio.file.Paths.get(s"$base/part-$i.parquet"))
      }
      val seq = StreamingPipeline.sequencedStream(spark, s"$base/part-*.parquet", maxFilesPerTrigger = Some(1))
      val q = StreamingPipeline
        .memorySink(StreamingPipeline.classStatsStream(seq), "class_stream", OutputMode.Update)
        .start()
      def snapshot(): (Set[String], Map[(String, Long), (Seq[Long], Seq[Long], Seq[Long], Seq[Long])]) = {
        val latest = StreamingPipeline.latestRows(spark.sql("select * from class_stream"))
        val tomb = latest.filter(col("aborted")).select("doc_id").collect().map(_.getString(0)).toSet
        val rows = latest.filter(!col("aborted")).collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            (r.getSeq[Long](3).toSeq, r.getSeq[Long](4).toSeq, r.getSeq[Long](5).toSeq, r.getSeq[Long](6).toSeq)
        }.toMap
        (tomb, rows)
      }
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected >=2 micro-batches")
        val (tombstoned, streamed) = snapshot()

        val env = TfPipeline.envelope(input)
        val (universe, routed) = TfPipeline.routedWithUniverse(env)
        val abortedBatch = input.select("doc_id").distinct()
          .join(universe, Seq("doc_id"), "left_anti")
          .collect().map(_.getString(0)).toSet
        assert(tombstoned == abortedBatch, "streaming tombstones must equal batch doc aborts")

        val batch = TfPipeline.classStats(routed).collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            (r.getSeq[Long](2).toSeq, r.getSeq[Long](3).toSeq, r.getSeq[Long](4).toSeq, r.getSeq[Long](5).toSeq)
        }.toMap
        assert(batch.nonEmpty, "generator must produce class events for this differential to bite")
        assert(streamed.keySet == batch.keySet,
          s"beneficiary universe diverged: only-stream=${streamed.keySet -- batch.keySet}, only-batch=${batch.keySet -- streamed.keySet}")
        for ((k, b) <- batch) assert(streamed(k) == b, s"class arrays diverge at $k")

        // healSpread module over the SAME multi-batch delivery: exact
        // equality with the batch aggregate's (healer -> account -> u32 sum)
        val seqH = StreamingPipeline.sequencedStream(spark, s"$base/part-*.parquet", maxFilesPerTrigger = Some(1))
        val qh = StreamingPipeline
          .memorySink(StreamingPipeline.healSpreadStream(seqH), "heal_stream", OutputMode.Update)
          .start()
        try {
          qh.processAllAvailable()
          val gotHeals = StreamingPipeline.latestRows(spark.sql("select * from heal_stream"))
            .filter(!col("aborted"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1)) -> r.getString(3))
            .toMap
          val batchHeals = TfPipeline.healSpread(routed)
            .select(col("doc_id"), col("sid"),
              array_join(
                transform(map_entries(col("heals_by_account")),
                  e => concat(lit("[U:1:"), e.getField("key"), lit("]:"), e.getField("value"))),
                ";").as("heals"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2))
            .toMap
          assert(batchHeals.nonEmpty, "generator must produce heal events")
          assert(gotHeals == batchHeals,
            s"healSpread diverged: only-stream=${gotHeals.toSet -- batchHeals.toSet}, only-batch=${batchHeals.toSet -- gotHeals.toSet}")
        } finally qh.stop()

        // late-line policy: replay the FIRST segment as a new file -- the
        // per-doc resume guard (nextLine) must drop every replayed line and
        // leave the state byte-identical
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$base/part-0.parquet"),
          java.nio.file.Paths.get(s"$base/part-9replay.parquet"))
        q.processAllAvailable()
        val (tomb2, streamed2) = snapshot()
        assert(tomb2 == tombstoned && streamed2 == streamed,
          "replayed (late) lines must not change streaming classStats state")
      } finally q.stop()
    } finally {
      spark.catalog.dropTempView("class_stream")
      spark.catalog.dropTempView("heal_stream")
      ()
    }
  }
}
