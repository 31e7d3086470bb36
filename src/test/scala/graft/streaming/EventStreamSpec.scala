package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.EventStream.Event

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** State-partition count = shuffle partitions at query start; this
    * container has no libhadoop, so every state checkpoint rename
    * shells out (readlink/stat) — with 32 state partitions the fork
    * storm can wedge. One partition keeps streaming tests fast and
    * hermetic. */
  private def withFewPartitions[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("windowed counts aggregate 30-minute event-time windows with watermark") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:25:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 00:40:00"), 1, "view", 3.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the earlier windows
    in.addData(Event(4, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
      .map(r => (r.getAs[Timestamp]("wstart").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("val_sum"))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 00:30:00.0", "view", 1L, 3.0)))
    }
  }

  test("stream-static enrichment joins a broadcast dim per micro-batch " +
      "and windows on the dim attribute") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "EUROPE"), (2L, "ASIA")).toDF("u_key", "region")
    val in = MemoryStream[Event]
    val q = EventStream.enrichedWindowedCounts(
      in.toDF(), dim, "u_key", "region")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 1, "view", 1.0),
      Event(3, ts("2024-01-01 00:20:00"), 2, "click", 1.0),
      // user 3 has no dim row: inner join drops it
      Event(4, ts("2024-01-01 00:25:00"), 3, "click", 1.0))
    q.processAllAvailable()
    in.addData(Event(5, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_out").collect()
      .map(r => (r.getAs[Timestamp]("wstart").toString,
        r.getAs[String]("region"), r.getAs[Long]("n"))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00.0", "EUROPE", 2L)))
    assert(rows.contains(("2024-01-01 00:00:00.0", "ASIA", 1L)))
    assert(!rows.exists(_._2 == null))
    }
  }

  test("streaming dedupe emits each key once across batches") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.streamingDedupe(in.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 00:01:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:02:00"), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(Event(1, ts("2024-01-01 00:05:00"), 1, "click", 9.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id"))
    q.stop()
    assert(ids.sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("streaming session windows close at watermark + gap and emit " +
      "one row per (session, user)") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.streamingSessions(in.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 1, "click", 2.0), // same session
      Event(3, ts("2024-01-01 00:50:00"), 1, "view", 3.0),  // gap >30m: new
      Event(4, ts("2024-01-01 00:05:00"), 2, "view", 4.0))  // other user
    q.processAllAvailable()
    // advance the watermark far enough to close every session above
    in.addData(Event(9, ts("2024-01-01 06:00:00"), 9, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out").collect().map(r =>
      (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("s_start").toString,
        r.getAs[Timestamp]("s_end").toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("val_sum"))).toSet
    // session end = last event + gap (native session_window semantics)
    assert(rows.contains((1L, "2024-01-01 00:00:00.0",
      "2024-01-01 00:40:00.0", 2L, 3.0)))
    assert(rows.contains((1L, "2024-01-01 00:50:00.0",
      "2024-01-01 01:20:00.0", 1L, 3.0)))
    assert(rows.contains((2L, "2024-01-01 00:05:00.0",
      "2024-01-01 00:35:00.0", 1L, 4.0)))
    }
  }

  test("sessionize splits per-user event streams at >gap boundaries " +
      "and aggregates each session") {
    val events = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 00:41:00"), // 31 min gap -> session 2
      (1L, "2024-01-01 01:05:00"), // 24 min -> still session 2
      (2L, "2024-01-01 09:00:00")) // other user -> own session 1
      .map { case (u, t) => (u, ts(t)) }.toDF("user_id", "ts")
    val out = EventStream.sessionize(events, gapMinutes = 30)
      .orderBy("user_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).toString, r.getTimestamp(4).toString))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0"),
      (1L, 2L, 2L, "2024-01-01 00:41:00.0", "2024-01-01 01:05:00.0"),
      (2L, 1L, 1L, "2024-01-01 09:00:00.0", "2024-01-01 09:00:00.0")))
  }

  test("watermark dedupe drops event-time duplicates and re-admits a key " +
      "after the watermark evicts its state") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.watermarkDedupe(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup_out")
      .outputMode(OutputMode.Append()).start()
    def ids(): Seq[Long] = spark.table("wm_dedup_out").collect()
      .map(_.getAs[Long]("event_id")).sorted.toSeq
    // in-batch and cross-batch duplicates inside the watermark horizon
    in.addData(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 00:01:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:02:00"), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(Event(1, ts("2024-01-01 00:05:00"), 1, "click", 3.0))
    q.processAllAvailable()
    assert(ids() == Seq(1L, 2L))
    // advance event time so the watermark passes key 1's state ...
    in.addData(Event(99, ts("2024-01-01 02:00:00"), 9, "click", 0.0))
    q.processAllAvailable()
    // ... then the SAME key is admitted again: state was evicted by
    // the watermark, not by any wall-clock TTL
    in.addData(Event(1, ts("2024-01-01 02:01:00"), 1, "click", 4.0))
    q.processAllAvailable()
    q.stop()
    assert(ids() == Seq(1L, 1L, 2L, 99L))
    }
  }

  test("watermark eviction reaches a STATE EQUILIBRIUM: tripling the " +
      "stream length does not grow max state rows (the bound is the " +
      "watermark horizon, never stream length)") {
    // the regression pin for PERF.md's "Streaming family rate
    // measurement" (78,400 state rows at BOTH 200k and 2M events):
    // with event time advancing 1 s/event and a 100 s watermark,
    // state is evicted at the same pace it arrives once the stream
    // outlives the horizon — a deterministic equilibrium under fixed
    // chunking
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val base = ts("2024-01-01 00:00:00").getTime
    def run(nChunks: Int): Long = {
      val in = MemoryStream[Event]
      val q = EventStream.watermarkDedupe(in.toDF(), watermark = "100 seconds")
        .writeStream.format("noop").start()
      (0 until nChunks).foreach { c =>
        in.addData((0 until 100).map { j =>
          val k = c * 100L + j
          Event(k, new Timestamp(base + k * 1000L), k % 7, "click", 1.0)
        })
        q.processAllAvailable()
      }
      val maxState = q.recentProgress
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).max
      q.stop()
      maxState
    }
    val short = run(5) // 500 s of event time — several horizons
    val long = run(15) // 3x the stream
    // equilibrium, with a small tolerance: exact equality would pin
    // micro-batch boundary placement, which is not the claim — the
    // claim is that state does NOT track stream length
    assert(long <= short * 1.05 + 1,
      s"max state grew with stream length: $short -> $long")
    assert(long < 1500, s"state ($long) must not track stream length")
    assert(long >= 100, s"state ($long) must cover the watermark horizon")
    }
  }

  test("streaming admission drops index hits statelessly and stream " +
      "duplicates via the watermark — the streaming incremental dedupe") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val index = graft.dedup.Dedup.contentDigests(
      Seq((1L, "alpha beta gamma")).toDF("id", "text"), "id", "text")
    val in = MemoryStream[Doc]
    val q = EventStream.streamingAdmission(in.toDF(), index)
      .writeStream.format("memory").queryName("admit_out")
      .outputMode(OutputMode.Append()).start()
    def ids(): Seq[Long] = spark.table("admit_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), " alpha  beta gamma "), // index hit
      Doc(11L, ts("2024-01-01 00:01:00"), "delta epsilon"),       // new
      Doc(12L, ts("2024-01-01 00:02:00"), "delta  epsilon"))      // stream dup
    q.processAllAvailable()
    // cross-batch duplicate of 11 inside the watermark horizon
    in.addData(Doc(13L, ts("2024-01-01 00:03:00"), "delta epsilon"))
    q.processAllAvailable()
    // null-text docs carry no digest and BOTH pass through — the
    // batch face (incrementalExactDedup) deliberately keeps every
    // null-digest row; a shared null state key would silently drop
    // doc 15
    in.addData(Doc(14L, ts("2024-01-01 00:04:00"), null),
      Doc(15L, ts("2024-01-01 00:05:00"), null))
    q.processAllAvailable()
    q.stop()
    assert(ids() == Seq(11L, 14L, 15L))
    }
  }

  test("streaming near-dup admission: a batch-built band index drops " +
      "near and exact corpus duplicates on the stream, admits novel " +
      "docs after the watermark closes their window") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    // same text shapes as the batch admitBatch spec: 60 words, a
    // near-dup swaps two content words
    def text(prefix: String): String =
      (0 until 54).map(i => s"$prefix$i").grouped(9).toSeq
        .zip(Seq("the", "of", "and", "in", "is", "it"))
        .flatMap { case (g, s) => g :+ s }.mkString(" ")
    def near(t: String): String = {
      val w = t.split(" ")
      (w.take(10) ++ Seq("zzA", "zzB") ++ w.drop(12)).mkString(" ")
    }
    val tA = text("aa"); val tB = text("bb"); val tC = text("cc")
    val corpus = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val corpusBands = graft.dedup.Dedup.minhashBandRows(
      corpus, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)

    val in = MemoryStream[Doc]
    val q = EventStream.streamingNearDupAdmission(
        in.toDF(), corpus, corpusBands,
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.3,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("neardup_admit_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), near(tA)), // corpus near-dup
      Doc(11L, ts("2024-01-01 00:01:00"), tC),       // novel -> admitted
      Doc(12L, ts("2024-01-01 00:02:00"), tB),       // corpus exact dup
      Doc(13L, ts("2024-01-01 00:02:30"), null))     // null text dropped
    q.processAllAvailable()
    // verdicts are watermark-gated: advance event time past the
    // window end + watermark so the first window's verdicts emit
    in.addData(Doc(99L, ts("2024-01-01 02:00:00"), text("zz")))
    q.processAllAvailable()
    val rows = spark.table("neardup_admit_out").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(11L),
      s"admitted: ${rows.mkString(";")}")
    // the admitted doc's best corpus similarity is reported and below
    // threshold; its payload survives the verdict aggregation
    assert(rows.head.getAs[Double]("best_jaccard") < 0.3)
    assert(rows.head.getAs[String]("text") == tC)
    }
  }

  test("streaming fingerprint admission: a batch-built hamming index " +
      "drops in-bound image codes on the stream (verdict parity with " +
      "the batch probe), admits far and no-candidate codes with their " +
      "best distance, null codes dropped") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.CodeDoc
    import graft.dedup.Dedup
    val base = 0x00a5a5a5a5a5a5L
    val corpusCodes = Seq((1L, base), (2L, 0x003c3c3c3c3c3cL))
      .toDF("id", "code")
    // the SAME index build the batch face probes — shared kernel
    val index = Dedup.hammingBandRows(corpusCodes, maxHamming = 3,
      bits = 56)
    val in = MemoryStream[CodeDoc]
    val q = EventStream.streamingFingerprintAdmission(
        in.toDF(), index, maxHamming = 3, bits = 56,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("fp_admit_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      CodeDoc(10L, ts("2024-01-01 00:00:00"), Some(base ^ 1L)), // h=1 drop
      CodeDoc(11L, ts("2024-01-01 00:01:00"), Some(base ^ 0x1fL)), // h=5 admit
      CodeDoc(12L, ts("2024-01-01 00:02:00"), Some(base)),      // h=0 drop
      CodeDoc(13L, ts("2024-01-01 00:02:30"), None),            // null drop
      // shares NO segment with any corpus code: admitted, null best
      CodeDoc(14L, ts("2024-01-01 00:03:00"), Some(~base & ((1L << 56) - 1))))
    q.processAllAvailable()
    // verdicts are watermark-gated: advance event time past the
    // window end + watermark so the first window's verdicts emit
    in.addData(CodeDoc(99L, ts("2024-01-01 02:00:00"), Some(12345L)))
    q.processAllAvailable()
    val rows = spark.table("fp_admit_out").collect()
    q.stop()
    val m = rows.map(r => r.getAs[Long]("doc_id") ->
      Option(r.get(r.fieldIndex("best_hamming")))).toMap
    assert(m.keySet == Set(11L, 14L), s"admitted: $m")
    assert(m(11L).contains(5), s"best_hamming of 11: ${m(11L)}")
    // verdict parity with the batch probe: the stream dropped exactly
    // the ids incrementalHammingPairs flags against the same index
    val batchView = Seq((10L, base ^ 1L), (11L, base ^ 0x1fL),
      (12L, base), (14L, ~base & ((1L << 56) - 1)))
      .toDF("id", "code")
    val batchDropped = Dedup.incrementalHammingPairs(index, batchView,
        maxHamming = 3, maxBucket = Some(5000), bits = 56)
      .select("id_new").collect().map(_.getLong(0)).toSet
    assert(batchDropped == Set(10L, 12L),
      s"batch face disagrees: $batchDropped")
    }
  }

  test("streaming video admission: frame matches against a batch-built " +
      "hamming index roll up to per-video verdicts in ONE stateful " +
      "windowed aggregation — matched/seen distinct-frame counts, " +
      "minMatchedFrames gate, all-null videos never emit") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.FrameDoc
    import graft.dedup.Dedup
    val fA = 0x00a5a5a5a5a5a5L
    val fB = 0x003c3c3c3c3c3cL
    // corpus video's frame codes, indexed the batch way
    val index = Dedup.hammingBandRows(
      Seq((1L, fA), (2L, fB)).toDF("id", "code"),
      maxHamming = 3, bits = 56)
    val in = MemoryStream[FrameDoc]
    val q = EventStream.streamingVideoAdmission(
        in.toDF(), index, maxHamming = 3, bits = 56,
        minMatchedFrames = 2, watermark = "10 minutes")
      .writeStream.format("memory").queryName("video_admit_out")
      .outputMode(OutputMode.Append()).start()
    val far = ~fA & ((1L << 56) - 1)
    in.addData(
      // video 100: two frames near the corpus (h=1, h=2), one far ->
      // matched 2 of 3, flagged at minMatchedFrames=2
      FrameDoc(100L, 0, ts("2024-01-01 00:00:00"), Some(fA ^ 1L)),
      FrameDoc(100L, 1, ts("2024-01-01 00:00:10"), Some(fB ^ 3L)),
      FrameDoc(100L, 2, ts("2024-01-01 00:00:20"), Some(far)),
      // video 101: one near frame only -> seen, but below the gate
      FrameDoc(101L, 0, ts("2024-01-01 00:01:00"), Some(fA)),
      FrameDoc(101L, 1, ts("2024-01-01 00:01:10"), Some(far ^ 7L)),
      // video 102: all frames undecodable -> never emits
      FrameDoc(102L, 0, ts("2024-01-01 00:02:00"), None),
      FrameDoc(102L, 1, ts("2024-01-01 00:02:10"), None),
      // video 104: two NEAR frames straddling the 10-minute mark —
      // the old tumbling window split them into two verdict rows of
      // matched=1 each (both below minMatchedFrames=2, a true
      // near-dup ADMITTED); the session window folds them into one
      FrameDoc(104L, 0, ts("2024-01-01 00:09:59"), Some(fA ^ 2L)),
      FrameDoc(104L, 1, ts("2024-01-01 00:10:01"), Some(fB ^ 1L)))
    q.processAllAvailable()
    in.addData(FrameDoc(999L, 0, ts("2024-01-01 02:00:00"), Some(1L)))
    q.processAllAvailable()
    val rows = spark.table("video_admit_out").collect()
    q.stop()
    val m = rows.map(r => r.getAs[Long]("video_id") ->
      ((r.getAs[Int]("frames_seen"), r.getAs[Int]("matched_frames"),
        Option(r.get(r.fieldIndex("min_hamming"))),
        r.getAs[Boolean]("is_corpus_dup")))).toMap
    assert(m.keySet == Set(100L, 101L, 104L), s"emitted: $m")
    assert(m(100L) == ((3, 2, Some(1), true)), s"video 100: ${m(100L)}")
    assert(m(101L) == ((2, 1, Some(0), false)), s"video 101: ${m(101L)}")
    assert(m(104L) == ((2, 2, Some(1), true)),
      s"video 104 (boundary-straddling) must fold into ONE session " +
        s"verdict: ${m(104L)}")
    // verdict parity with the batch probe: the frames the stream
    // counted as matched are exactly incrementalHammingPairs' id_new
    // set against the same index
    val batchView = Seq((1000L, fA ^ 1L), (1001L, fB ^ 3L),
      (1002L, far), (1010L, fA), (1011L, far ^ 7L))
      .toDF("id", "code")
    val batchHits = Dedup.incrementalHammingPairs(index, batchView,
        maxHamming = 3, maxBucket = Some(5000), bits = 56)
      .select("id_new").collect().map(_.getLong(0)).toSet
    assert(batchHits == Set(1000L, 1001L, 1010L),
      s"batch face disagrees: $batchHits")
    }
  }

  test("admitVideoBatch parity: the batch admission face replays a " +
      "stream window's verdicts identically — frames_seen / " +
      "matched_frames / min_hamming / is_corpus_dup equal " +
      "streamingVideoAdmission's on a shared fixture and index, and " +
      "the batch-only keeper columns fill the streaming face's gap") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.FrameDoc
    import graft.dedup.Dedup
    import graft.jobs.CorpusPipeline
    import org.apache.spark.sql.functions.{col, struct}
    val fA = 0x00a5a5a5a5a5a5L
    val fB = 0x003c3c3c3c3c3cL
    val c1 = 0x000f0f0f0f0f0fL
    // far fillers: pairwise hamming ~24 from everything above
    val d100 = 0x00111111111111L
    val d101 = 0x00222222222222L
    val d103 = 0x00444444444444L
    // ONE corpus frame index (video 1's frames, struct keys), served
    // unchanged to both faces
    val index = Dedup.hammingBandRows(
      Seq((1L, 0, fA), (1L, 1, fB)).toDF("media_id", "frame_no", "code")
        .select(struct(col("media_id"), col("frame_no")).as("id"),
          col("code")),
      maxHamming = 3, bits = 56)
    // fixture: 100 near the corpus; 101/102 near EACH OTHER only;
    // 103 clean; 102's second frame undecodable
    val frames = Seq(
      (100L, 0, Some(fA ^ 1L)), (100L, 1, Some(d100)),
      (101L, 0, Some(c1)), (101L, 1, Some(d101)),
      (102L, 0, Some(c1 ^ 3L)), (102L, 1, None),
      (103L, 0, Some(d103)))
    val in = MemoryStream[FrameDoc]
    val q = EventStream.streamingVideoAdmission(
        in.toDF(), index, maxHamming = 3, bits = 56,
        minMatchedFrames = 1, watermark = "10 minutes")
      .writeStream.format("memory").queryName("video_parity_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(frames.zipWithIndex.map { case ((v, f, c), i) =>
      FrameDoc(v, f, ts(s"2024-01-01 00:00:${10 + i}"), c) }: _*)
    q.processAllAvailable()
    in.addData(FrameDoc(999L, 0, ts("2024-01-01 02:00:00"), Some(1L)))
    q.processAllAvailable()
    val streamV = spark.table("video_parity_out")
      .filter(col("video_id") < 999L).collect()
      .map(r => r.getAs[Long]("video_id") ->
        ((r.getAs[Int]("frames_seen").toLong,
          r.getAs[Int]("matched_frames").toLong,
          Option(r.get(r.fieldIndex("min_hamming"))),
          r.getAs[Boolean]("is_corpus_dup")))).toMap
    q.stop()
    // batch face on the SAME frames + index
    val adm = CorpusPipeline.admitVideoBatch(index,
      frames.toDF("media_id", "frame_no", "code"),
      maxHamming = 3, bits = 56, minMatchedPairs = 1L)
    val ann = adm.annotated.collect()
    val batchV = ann.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), Option(r.get(3)),
        r.getBoolean(4)))).toMap
    assert(batchV == streamV,
      s"batch verdicts $batchV != streaming $streamV")
    // the batch-only keeper columns (streaming cannot compare within
    // the batch): 101 keeps (min-id), 102 flags, 103 admits clean,
    // 100's batch verdict is null (the corpus verdict already fired)
    val extra = ann.map(r => r.getLong(0) ->
      ((Option(r.get(5)), Option(r.get(6))))).toMap
    assert(extra(100L) == ((None, None)), s"100: ${extra(100L)}")
    assert(extra(101L) == ((Some(1L), Some(false))), s"101: ${extra(101L)}")
    assert(extra(102L) == ((Some(1L), Some(true))), s"102: ${extra(102L)}")
    assert(extra(103L) == ((Some(0L), Some(false))), s"103: ${extra(103L)}")
    assert(adm.admitted.select("media_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(101L, 103L))
    }
  }

  test("streamingVideoAdmission state is BOUNDED by the watermark " +
      "horizon: one state row per (window, video) still open under " +
      "the watermark, never tracking stream length — the bound " +
      "PERF.md's 1M-frame streaming video admission run measured, " +
      "pinned so a watermark change cannot silently unbound the store") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.FrameDoc
    import graft.dedup.Dedup
    val index = Dedup.hammingBandRows(
      Seq((1L, 0x00a5a5a5a5a5a5L)).toDF("id", "code"),
      maxHamming = 3, bits = 56)
    val base = ts("2024-01-01 00:00:00").getTime
    val nVideos = 5
    // one chunk = one minute of event time; every video lands 3
    // frames in every 1-minute window, watermark 2 minutes
    def run(nChunks: Int): Long = {
      val in = MemoryStream[FrameDoc]
      val q = EventStream.streamingVideoAdmission(in.toDF(), index,
          maxHamming = 3, bits = 56, minMatchedFrames = 1,
          watermark = "2 minutes", windowLen = Some("1 minute"))
        .writeStream.format("noop").start()
      (0 until nChunks).foreach { c =>
        in.addData((0 until nVideos).flatMap(v => (0 until 3).map(f =>
          FrameDoc(v.toLong, c * 3 + f,
            new Timestamp(base + c * 60000L + f * 15000L),
            Some(0x00111111111111L ^ (v * 16L))))): _*)
        q.processAllAvailable()
      }
      val maxState = q.recentProgress
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).max
      q.stop()
      maxState
    }
    val short = run(6)
    val long = run(18) // 3x the stream length
    // horizon: windows whose end the 2-minute watermark has not yet
    // passed = ceil(watermark/windowLen) + the currently-filling one,
    // +1 boundary slack; one state row per (open window, video)
    val bound = nVideos.toLong * (2 + 1 + 1)
    assert(long <= bound,
      s"max state rows $long exceed the horizon bound $bound")
    assert(long <= short + nVideos,
      s"state grew with stream length: $short -> $long")
    assert(long >= nVideos,
      s"state ($long) must at least hold the open window's videos")
    }
  }

  test("streaming passage strip: indexed windows are cut from arriving " +
      "docs once the watermark closes their verdict window; fresh and " +
      "sub-window docs pass through whole") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val f = (1 to 10).map(i => s"f$i").mkString(" ")
    val idx = graft.dedup.Dedup.windowDigestSet(
      Seq((1L, p)).toDF("doc_id", "text"), "doc_id", "text")
    val in = MemoryStream[Doc]
    val q = EventStream.streamingStripPassages(in.toDF(), idx,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("strip_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), s"$p $f"), // window 0 cut
      Doc(11L, ts("2024-01-01 00:01:00"), f), // fresh: passes whole
      Doc(12L, ts("2024-01-01 00:02:00"), "tiny doc"), // sub-window
      // un-hit doc with newlines/tabs: must come back VERBATIM (the
      // batch kernel's preserve-originals contract, streaming face)
      Doc(13L, ts("2024-01-01 00:03:00"), "code:\n\tx = 1\n\ny  z"))
    q.processAllAvailable()
    // verdicts are watermark-gated: advance event time past the
    // window end + watermark so the first window's verdicts emit
    in.addData(Doc(99L, ts("2024-01-01 02:00:00"), "watermark pusher"))
    q.processAllAvailable()
    val rows = spark.table("strip_out").collect()
    q.stop()
    val m = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text"), r.getAs[Int]("n_stripped")))).toMap
    assert(m(10L) == ((f, 1)), s"got $m")
    assert(m(11L) == ((f, 0)))
    assert(m(12L) == (("tiny doc", 0)))
    assert(m(13L) == (("code:\n\tx = 1\n\ny  z", 0)))
    }
  }

  test("streaming strip: the verdict-fold window width is its own knob " +
      "— a 2-minute window under a 10-minute watermark folds per-doc " +
      "verdicts correctly with watermark != window") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val f = (1 to 10).map(i => s"f$i").mkString(" ")
    val idx = graft.dedup.Dedup.windowDigestSet(
      Seq((1L, p)).toDF("doc_id", "text"), "doc_id", "text")
    val in = MemoryStream[Doc]
    val q = EventStream.streamingStripPassages(in.toDF(), idx,
        watermark = "10 minutes", windowLen = Some("2 minutes"))
      .writeStream.format("memory").queryName("strip_winlen_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:30"), s"$p $f"), // window 0 cut
      Doc(11L, ts("2024-01-01 00:03:00"), f)) // different 2-min bucket
    q.processAllAvailable()
    in.addData(Doc(99L, ts("2024-01-01 02:00:00"), "watermark pusher"))
    q.processAllAvailable()
    val rows = spark.table("strip_winlen_out").collect()
    q.stop()
    val m = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text"), r.getAs[Int]("n_stripped")))).toMap
    assert(m(10L) == ((f, 1)), s"got $m")
    assert(m(11L) == ((f, 0)))
    }
  }

  test("streaming admission survives stop/restart from its checkpoint: " +
      "committed batches are not replayed and dedupe state is restored " +
      "across the boundary (exactly-once admission)") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val ckpt = java.nio.file.Files.createTempDirectory("admit_ckpt").toString
    val index = graft.dedup.Dedup.contentDigests(
      Seq((1L, "alpha beta gamma")).toDF("id", "text"), "id", "text")
      .localCheckpoint()
    val in = MemoryStream[Doc]
    // the memory sink refuses checkpoint recovery by design;
    // foreachBatch is the recoverable sink shape (what a real
    // admission job uses to append its deltas)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = EventStream.streamingAdmission(in.toDF(), index)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("doc_id").collect().foreach(r => emitted.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), "alpha beta gamma"), // index hit
      Doc(11L, ts("2024-01-01 00:01:00"), "delta epsilon"))    // admitted
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSeq == Seq(11L))

    // new arrivals while the query is DOWN: 12 duplicates 11's text
    // (within the watermark horizon), 13 is novel
    in.addData(
      Doc(12L, ts("2024-01-01 00:02:00"), "delta  epsilon"),
      Doc(13L, ts("2024-01-01 00:03:00"), "zeta eta"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // 11 appears ONCE (batch 1's offsets were committed — no replay);
    // 12 never emits (the dedupe state store was RESTORED from the
    // checkpoint, 11's digest still known, NOT rebuilt empty); 13
    // admits normally post-restart.
    assert(emitted.asScala.toSeq.sorted == Seq(11L, 13L),
      s"restart broke exactly-once admission: emitted ${emitted.asScala.toSeq}")
    }
  }

  test("streaming near-dup admission survives stop/restart: pending " +
      "window verdicts are restored from the checkpoint (not lost, not " +
      "double-emitted) and post-restart docs admit normally") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    def text(prefix: String): String =
      (0 until 54).map(i => s"$prefix$i").grouped(9).toSeq
        .zip(Seq("the", "of", "and", "in", "is", "it"))
        .flatMap { case (g, s) => g :+ s }.mkString(" ")
    def near(t: String): String = {
      val w = t.split(" ")
      (w.take(10) ++ Seq("zzA", "zzB") ++ w.drop(12)).mkString(" ")
    }
    val tA = text("aa")
    val corpus = Seq((1L, tA)).toDF("doc_id", "text").localCheckpoint()
    val corpusBands = graft.dedup.Dedup.minhashBandRows(
      corpus, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
      .localCheckpoint()
    val ckpt = java.nio.file.Files.createTempDirectory("nd_ckpt").toString
    val in = MemoryStream[Doc]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = EventStream.streamingNearDupAdmission(
        in.toDF(), corpus, corpusBands,
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.3,
        watermark = "10 minutes")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("doc_id").collect().foreach(r => emitted.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), near(tA)), // corpus near-dup
      Doc(11L, ts("2024-01-01 00:01:00"), text("cc"))) // novel
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    // both verdicts still PENDING in window state (watermark hasn't
    // closed their window) — nothing emitted yet
    assert(emitted.asScala.isEmpty,
      s"verdicts emitted before the watermark: ${emitted.asScala.toSeq}")

    // arrivals while the query is DOWN: a new novel doc, then a
    // far-future doc that closes the first window
    in.addData(
      Doc(12L, ts("2024-01-01 00:02:00"), text("dd")),
      Doc(99L, ts("2024-01-01 02:00:00"), text("zz")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // 11 and 12 emit exactly once each: the windowed verdict state
    // (including batch-1's partial max-jaccard aggregates) was
    // RESTORED, not rebuilt empty; 10's verdict stayed a drop across
    // the boundary; 99's window is still open
    assert(emitted.asScala.toSeq.sorted == Seq(11L, 12L),
      s"restart broke the pending verdicts: ${emitted.asScala.toSeq}")
    }
  }

  test("streaming passage strip survives stop/restart: pending window " +
      "verdicts are restored from the checkpoint (rebuilt texts emit " +
      "exactly once, with their cuts intact)") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val f = (1 to 10).map(i => s"f$i").mkString(" ")
    val g = (1 to 10).map(i => s"g$i").mkString(" ")
    val idx = graft.dedup.Dedup.windowDigestSet(
      Seq((1L, p)).toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint()
    val ckpt = java.nio.file.Files.createTempDirectory("strip_ckpt")
      .toString
    val in = MemoryStream[Doc]
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int)]()
    def start() = EventStream.streamingStripPassages(in.toDF(), idx,
        watermark = "10 minutes")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.add((r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Int]("n_stripped"))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    in.addData(
      Doc(10L, ts("2024-01-01 00:00:00"), s"$p $f"), // indexed cut
      Doc(11L, ts("2024-01-01 00:01:00"), g)) // fresh: whole
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.isEmpty,
      s"verdicts emitted before the watermark: ${emitted.asScala.toSeq}")

    // arrivals while the query is DOWN: one more doc, then a
    // far-future doc that closes the first window
    in.addData(
      Doc(12L, ts("2024-01-01 00:02:00"), s"$g $p"), // window 1 cut
      Doc(99L, ts("2024-01-01 02:00:00"), "watermark pusher"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = emitted.asScala.toSeq.sortBy(_._1)
    assert(got == Seq((10L, f, 1), (11L, g, 0), (12L, g, 1)),
      s"restart broke the pending verdicts: $got")
    }
  }

  test("streaming embed admission survives stop/restart: pending " +
      "window verdicts are restored from the checkpoint and the " +
      "near-dup drop verdict holds across the boundary") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.VecDoc
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val vA = v(1, 0, 0, 0, 0, 0, 0, 0)
    val corpusVecs = Seq((1L, vA)).toDF("id", "vec").localCheckpoint()
    val nBits = 2
    val corpusCodes = graft.similarity.Similarity.signCodeIndex(
      corpusVecs, dim = 8, nBits = nBits).localCheckpoint()
    val ckpt = java.nio.file.Files.createTempDirectory("emb_ckpt").toString
    val in = MemoryStream[VecDoc]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = EventStream.streamingEmbedAdmission(
        in.toDF(), corpusVecs, corpusCodes,
        dim = 8, nBits = nBits, simThreshold = 0.9,
        watermark = "10 minutes")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("doc_id").collect().foreach(r => emitted.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    in.addData(
      VecDoc(10L, ts("2024-01-01 00:00:00"),
        Seq(0.99f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f)), // ~vA -> drop
      VecDoc(11L, ts("2024-01-01 00:01:00"),
        Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)))       // novel
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.isEmpty,
      s"verdicts emitted before the watermark: ${emitted.asScala.toSeq}")

    in.addData(
      VecDoc(12L, ts("2024-01-01 00:02:00"),
        Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),       // novel, while down
      VecDoc(99L, ts("2024-01-01 02:00:00"),
        Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)))       // closes window 1
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.asScala.toSeq.sorted == Seq(11L, 12L),
      s"restart broke the pending verdicts: ${emitted.asScala.toSeq}")
    }
  }

  test("streaming IVF top-k: query vectors arriving on the stream get " +
      "their k nearest corpus neighbors from a batch-built IVF index, " +
      "equal to the batch probe at the same centroids, after the " +
      "watermark") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.VecDoc
    import graft.similarity.Similarity
    // loosely clustered base so the coarse cells carry structure
    def bv(i: Int): Array[Float] = {
      val c = i % 4
      Array.tabulate(8)(j => (math.sin(c * 31 + j) * 2 +
        math.cos(i * 7 + j * 3) * 0.3).toFloat)
    }
    val base = (100 until 300).map(i => (i.toLong, bv(i))).toDF("id", "vec")
    val (centDf, assigned) = Similarity.ivfIndex(base, nLists = 4)
    val assignments = assigned.localCheckpoint()
    val cents = Similarity.loadedCentroids(centDf)

    val qVecs = Seq(7, 8, 9).map(i => i.toLong -> bv(i))
    val in = MemoryStream[VecDoc]
    val q = EventStream.streamingIvfTopK(
        in.toDF(), assignments, cents, k = 3, nProbe = 2,
        idCol = "doc_id", watermark = "10 minutes")
      .writeStream.format("memory").queryName("ivf_topk_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      VecDoc(7L, ts("2024-01-01 00:00:00"), qVecs(0)._2.toSeq),
      VecDoc(8L, ts("2024-01-01 00:01:00"), qVecs(1)._2.toSeq),
      VecDoc(9L, ts("2024-01-01 00:02:00"), qVecs(2)._2.toSeq),
      VecDoc(13L, ts("2024-01-01 00:02:30"), null)) // null vec dropped
    q.processAllAvailable()
    // results are watermark-gated: advance event time past the window
    in.addData(VecDoc(99L, ts("2024-01-01 02:00:00"),
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivf_topk_out")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 90)
      .select("doc_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    // the batch probe over the SAME assignments + centroids is the
    // contract: identical candidates, identical tie-break
    val queriesDf = qVecs.toDF("qid", "qvec")
    val want = Similarity.ivfTopKFromIndex(queriesDf, assignments,
        centDf, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got == want && got.nonEmpty,
      s"streaming IVF diverged from the batch probe: $got vs $want")
    }
  }

  test("streaming IVF-PQ top-k: query vectors probe the codes-only " +
      "persisted index (row-local cell + ADC coding against the " +
      "stored quantizers), refine against the corpus table, equal to " +
      "the batch probe at the same index") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.VecDoc
    import graft.similarity.{Pq, Similarity}
    def bv(i: Int): Array[Float] = {
      val c = i % 4
      Array.tabulate(8)(j => (math.sin(c * 31 + j) * 2 +
        math.cos(i * 7 + j * 3) * 0.3).toFloat)
    }
    val base = (100 until 300).map(i => (i.toLong, bv(i))).toDF("id", "vec")
    val (centDf, cbDf, assigned) = Pq.ivfPqIndex(base, nLists = 4,
      m = 4, kCodes = 8)
    val assignments = assigned.localCheckpoint()
    val cents = Similarity.loadedCentroids(centDf)
    val cb = Pq.loadedCodebooks(cbDf)

    val qVecs = Seq(7, 8, 9).map(i => i.toLong -> bv(i))
    val in = MemoryStream[VecDoc]
    val q = EventStream.streamingIvfPqTopK(
        in.toDF(), assignments, cents, cb, base, k = 3,
        nProbe = 2, refine = 8,
        idCol = "doc_id", watermark = "10 minutes")
      .writeStream.format("memory").queryName("ivfpq_topk_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      VecDoc(7L, ts("2024-01-01 00:00:00"), qVecs(0)._2.toSeq),
      VecDoc(8L, ts("2024-01-01 00:01:00"), qVecs(1)._2.toSeq),
      VecDoc(9L, ts("2024-01-01 00:02:00"), qVecs(2)._2.toSeq),
      VecDoc(13L, ts("2024-01-01 00:02:30"), null)) // null vec dropped
    q.processAllAvailable()
    in.addData(VecDoc(99L, ts("2024-01-01 02:00:00"),
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivfpq_topk_out")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 90)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    val queriesDf = qVecs.toDF("qid", "qvec")
    val want = Pq.ivfPqTopKFromIndex(queriesDf, assignments, centDf,
        cbDf, base, k = 3, nProbe = 2, refine = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
      .toSet
    assert(got == want && got.nonEmpty,
      s"streaming IVF-PQ diverged from the batch probe: $got vs $want")
    // the exact regime is a batch shape: an unbounded refine refuses
    val e = intercept[IllegalArgumentException] {
      EventStream.streamingIvfPqTopK(in.toDF(), assignments, cents,
        cb, base, k = 3, refine = Int.MaxValue)
    }
    assert(e.getMessage.contains("bounded refine"), e.getMessage)
    }
  }

  test("streaming BM25 top-k: free-text queries on the stream score " +
      "against the pre-scored postings index, equal to the batch " +
      "probe per query, after the watermark") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    import graft.text.Search
    val corpus = Seq(
      (1L, "spark spark merge"), (2L, "window merge fast"),
      (3L, "the quick fox"), (4L, "spark window fox"))
      .toDF("doc_id", "text")
    val post = Search.postings(corpus, "doc_id", "text").localCheckpoint()
    val stats = Search.corpusStats(corpus, "text").localCheckpoint()

    val in = MemoryStream[Doc]
    val q = EventStream.streamingBm25TopK(
        in.toDF(), post, stats, k = 2,
        idCol = "doc_id", docCol = "hit_id", watermark = "10 minutes")
      .writeStream.format("memory").queryName("bm25_stream_out")
      .outputMode(OutputMode.Append()).start()
    // queries ride the Doc shape: doc_id is the QUERY id here, text
    // the query text ('spark spark' dedupes row-locally)
    in.addData(
      Doc(100L, ts("2024-01-01 00:00:00"), "spark spark merge"),
      Doc(101L, ts("2024-01-01 00:01:00"), "the fox"),
      Doc(102L, ts("2024-01-01 00:02:00"), "nosuchterm"))
    q.processAllAvailable()
    in.addData(Doc(999L, ts("2024-01-01 02:00:00"), "window"))
    q.processAllAvailable()
    q.stop()
    val fcol = org.apache.spark.sql.functions.col _
    val got = spark.table("bm25_stream_out")
      .filter(fcol("doc_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .toSet
    val want = Seq(
      100L -> Seq("spark", "merge"), 101L -> Seq("the", "fox"))
      .flatMap { case (qid, terms) =>
        Search.bm25FromPostings(post, stats, "doc_id", terms, k = 2)
          .collect().zipWithIndex.map { case (r, i) =>
            (qid, i + 1, r.getLong(0), r.getDouble(1), r.getLong(2)) }
      }.toSet
    assert(got == want && got.nonEmpty,
      s"streaming BM25 diverged from the batch probe: $got vs $want")
    }
  }

  test("streaming BM25 tie-break holds for STRING doc ids — " +
      "(score desc, id ASC): the shared fold negates the SCORE, " +
      "never the id (negating a string id under non-ANSI casts " +
      "yields null and silently flips ties to id-descending)") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    import graft.text.Search
    // identical texts -> identical score for the query: a pure tie
    val corpus = Seq(("b", "spark fast"), ("a", "spark fast"),
      ("c", "other words")).toDF("doc_id", "text")
    val post = Search.postings(corpus, "doc_id", "text").localCheckpoint()
    val stats = Search.corpusStats(corpus, "text").localCheckpoint()
    val in = MemoryStream[Doc]
    val q = EventStream.streamingBm25TopK(in.toDF(), post, stats, k = 2,
        idCol = "doc_id", docCol = "hit_id", watermark = "10 minutes")
      .writeStream.format("memory").queryName("bm25_tie_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(Doc(1L, ts("2024-01-01 00:00:00"), "spark"))
    q.processAllAvailable()
    in.addData(Doc(9L, ts("2024-01-01 02:00:00"), "spark"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bm25_tie_out")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .collect().sortBy(_.getInt(2))
      .map(r => (r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq((1, "a"), (2, "b")),
      s"string-id score tie must rank id-ASCENDING: $got")
    }
  }

  test("streaming EMBEDDING admission: a batch-built sign-code index " +
      "drops vector near-dups of the corpus on the stream, admits " +
      "novel vectors after the watermark with their best cosine") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.VecDoc
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val vA = v(1, 0, 0, 0, 0, 0, 0, 0)
    val vB = v(0, 1, 0, 0, 0, 0, 0, 0)
    val corpusVecs = Seq((1L, vA), (2L, vB)).toDF("id", "vec")
    val nBits = 2
    val corpusCodes = graft.similarity.Similarity.signCodeIndex(
      corpusVecs, dim = 8, nBits = nBits)

    val in = MemoryStream[VecDoc]
    val q = EventStream.streamingEmbedAdmission(
        in.toDF(), corpusVecs, corpusCodes,
        dim = 8, nBits = nBits, simThreshold = 0.9,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("embed_admit_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      VecDoc(10L, ts("2024-01-01 00:00:00"),
        Seq(0.99f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f)), // ~vA -> dropped
      VecDoc(11L, ts("2024-01-01 00:01:00"),
        Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)),       // novel -> admitted
      VecDoc(12L, ts("2024-01-01 00:02:00"),
        List(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)),      // == vB -> dropped
      VecDoc(13L, ts("2024-01-01 00:02:30"), null)) // null vec -> dropped up front
    q.processAllAvailable()
    // verdicts are watermark-gated: advance event time past the
    // window end + watermark so the first window's verdicts emit
    in.addData(VecDoc(99L, ts("2024-01-01 02:00:00"),
      Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)))
    q.processAllAvailable()
    val rows = spark.table("embed_admit_out").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(11L),
      s"admitted: ${rows.mkString(";")}")
    assert(rows.head.getAs[Double]("best_cos") < 0.9)
    // the payload vector survives the verdict aggregation intact
    assert(rows.head.getSeq[Float](rows.head.fieldIndex("vec")).toList ==
      List(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f))
    }
  }

  test("streamingEmbedAdmission IS the streaming face of SemDeDup " +
      "admission: its verdicts equal semanticDedup survivorship on a " +
      "shared fixture at the same threshold") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.VecDoc
    import graft.similarity.Similarity
    // Shared fixture: corpus {vA, vB}; arriving docs 10 (~vA, a
    // semantic dup), 11 (novel), 12 (== vB, dup), 14 (novel). The
    // batch docs are mutually dissimilar BY CONSTRUCTION — the one
    // honest scope cut between the faces is that a stream never
    // compares two in-flight docs (within-batch dups are the chained
    // batch pipeline's job), so parity is asserted on a fixture where
    // that cut cannot bite.
    def v(xs: Float*): Seq[Float] = xs
    val vA = v(1, 0, 0, 0, 0, 0, 0, 0)
    val vB = v(0, 1, 0, 0, 0, 0, 0, 0)
    val corpusVecs = Seq((1L, vA), (2L, vB)).toDF("id", "vec")
    val batch = Seq(
      10L -> v(0.99f, 0.05f, 0, 0, 0, 0, 0, 0),
      11L -> v(0, 0, 1, 0, 0, 0, 0, 0),
      12L -> v(0, 1, 0, 0, 0, 0, 0, 0),
      14L -> v(0, 0, 0, 0, 0, 1, 0, 0))
    val thr = 0.9

    // batch face: SemDeDup over corpus + batch in the exact regime;
    // a batch doc is ADMITTED iff it survives (corpus ids are
    // smaller, so any corpus-similar doc merges into a corpus-led
    // group and its min-id keeper is the corpus row)
    val emb = (Seq(1L -> vA, 2L -> vB) ++ batch).toDF("id", "vec")
    val survivors = Similarity.semanticDedup(emb, threshold = thr,
        nLists = 1, maxCell = None)
      .select("id").collect().map(_.getLong(0)).toSet
    val batchSurvivors = survivors.intersect(batch.map(_._1).toSet)

    // streaming face: same corpus, same threshold, docs on a stream
    val nBits = 2
    val corpusCodes = Similarity.signCodeIndex(corpusVecs, dim = 8,
      nBits = nBits)
    val in = MemoryStream[VecDoc]
    val q = EventStream.streamingEmbedAdmission(
        in.toDF(), corpusVecs, corpusCodes,
        dim = 8, nBits = nBits, simThreshold = thr,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("semdedup_parity_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(batch.zipWithIndex.map { case ((id, vec), i) =>
      VecDoc(id, ts(f"2024-01-01 00:0$i%d:00"), vec) }: _*)
    q.processAllAvailable()
    in.addData(VecDoc(99L, ts("2024-01-01 02:00:00"),
      v(0, 0, 0, 1, 0, 0, 0, 0))) // closes the verdict window
    q.processAllAvailable()
    val admitted = spark.table("semdedup_parity_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(admitted == batchSurvivors,
      s"streaming admitted $admitted but semanticDedup keeps " +
        s"$batchSurvivors of the batch — the two faces diverged")
    }
  }

  test("stream-stream interval join matches same-user events within the " +
      "bound, across micro-batches, and never outside it") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = EventStream.streamingIntervalJoin(
        clicks.toDF(), views.toDF(), within = "10 minutes")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 2, "click", 1.0),
      Event(3, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    views.addData(
      Event(10, ts("2024-01-01 00:05:00"), 1, "view", 1.0),  // -5 min: match 1
      Event(11, ts("2024-01-01 00:25:00"), 1, "view", 1.0),  // +15 min: no
      Event(12, ts("2024-01-01 00:12:00"), 9, "view", 1.0))  // other user: no
    q.processAllAvailable()
    // late-arriving partner lands in a LATER micro-batch than event 3
    views.addData(Event(13, ts("2024-01-01 00:55:00"), 1, "view", 1.0))
    q.processAllAvailable()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
    q.stop()
    assert(got == Set((1L, 10L), (3L, 13L)))
    }
  }

  test("left-outer interval join emits null-partner rows once the " +
      "watermark proves no match can arrive") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = EventStream.streamingIntervalJoin(
        clicks.toDF(), views.toDF(), within = "10 minutes",
        watermark = "30 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("ssj_outer_out")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),  // matched
      Event(2, ts("2024-01-01 00:10:00"), 2, "click", 1.0))  // no partner
    views.addData(Event(10, ts("2024-01-01 00:05:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past 00:20 + 30min, then run extra
    // batches so the eviction pass emits the null-partner row
    clicks.addData(Event(3, ts("2024-01-01 06:00:00"), 9, "click", 1.0))
    views.addData(Event(11, ts("2024-01-01 06:00:00"), 9, "view", 1.0))
    q.processAllAvailable()
    clicks.addData(Event(4, ts("2024-01-01 07:00:00"), 8, "click", 1.0))
    views.addData(Event(12, ts("2024-01-01 07:00:00"), 8, "view", 1.0))
    q.processAllAvailable()
    val got = spark.table("ssj_outer_out").collect()
      .map(r => (r.getAs[Long]("l_id"),
        if (r.isNullAt(r.fieldIndex("r_id"))) None
        else Some(r.getAs[Long]("r_id")))).toSet
    q.stop()
    assert(got.contains((1L, Some(10L))), s"matched pair missing: $got")
    assert(got.contains((2L, None)), s"null-partner row missing: $got")
    }
  }

  test("full-outer interval join emits null-partner rows on BOTH sides " +
      "after watermark eviction, with the key surviving from either side") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = EventStream.streamingIntervalJoin(
        clicks.toDF(), views.toDF(), within = "10 minutes",
        watermark = "30 minutes", joinType = "full_outer")
      .writeStream.format("memory").queryName("ssj_full_out")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),  // matched
      Event(2, ts("2024-01-01 00:10:00"), 2, "click", 1.0))  // no partner
    views.addData(
      Event(10, ts("2024-01-01 00:05:00"), 1, "view", 1.0),  // matched
      Event(14, ts("2024-01-01 00:08:00"), 3, "view", 1.0))  // no partner
    q.processAllAvailable()
    // advance both watermarks well past the horizon, extra batches so
    // the eviction pass emits the unmatched rows
    clicks.addData(Event(3, ts("2024-01-01 06:00:00"), 9, "click", 1.0))
    views.addData(Event(11, ts("2024-01-01 06:00:00"), 9, "view", 1.0))
    q.processAllAvailable()
    clicks.addData(Event(4, ts("2024-01-01 07:00:00"), 8, "click", 1.0))
    views.addData(Event(12, ts("2024-01-01 07:00:00"), 8, "view", 1.0))
    q.processAllAvailable()
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    val got = spark.table("ssj_full_out").collect()
      .map(r => (r.getAs[Long]("user_id"), opt(r, "l_id"), opt(r, "r_id")))
      .toSet
    q.stop()
    assert(got.contains((1L, Some(1L), Some(10L))), s"matched missing: $got")
    assert(got.contains((2L, Some(2L), None)), s"left-unmatched missing: $got")
    // the right-unmatched row must carry ITS key, not a null from the
    // absent left side
    assert(got.contains((3L, None, Some(14L))), s"right-unmatched missing: $got")
    }
  }

  test("generic interval join works on an arbitrary schema: caller-chosen " +
      "key/ts columns, all payload columns prefixed l_/r_") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.{Ping, Pong}
    val pings = MemoryStream[Ping]
    val pongs = MemoryStream[Pong]
    val q = EventStream.streamingIntervalJoinOn(
        pings.toDF(), pongs.toDF(),
        keyCol = "device", tsCol = "at", within = "5 minutes")
      .writeStream.format("memory").queryName("gij_out")
      .outputMode(OutputMode.Append()).start()
    pings.addData(
      Ping("d1", ts("2024-01-01 00:10:00"), "boot"),
      Ping("d2", ts("2024-01-01 00:10:00"), "boot"))
    pongs.addData(
      Pong("d1", ts("2024-01-01 00:12:00"), 7L),   // +2 min: match
      Pong("d2", ts("2024-01-01 00:30:00"), 8L),   // +20 min: no
      Pong("d9", ts("2024-01-01 00:11:00"), 9L))   // other device: no
    q.processAllAvailable()
    val got = spark.table("gij_out").collect()
      .map(r => (r.getAs[String]("device"), r.getAs[String]("l_tag"),
        r.getAs[Long]("r_seq"))).toSet
    val cols = spark.table("gij_out").columns.toSeq
    q.stop()
    assert(cols == Seq("device", "l_at", "l_tag", "r_at", "r_seq"))
    assert(got == Set(("d1", "boot", 7L)))
    }
  }

  test("row-generic streaming dedupe keys on any column of any schema " +
      "and drops repeats across batches") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    import EventStreamSpec.Doc
    val in = MemoryStream[Doc]
    val q = EventStream.streamingDedupeRows(in.toDF(), keyCol = "text")
      .writeStream.format("memory").queryName("rowdedup_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Doc(1L, ts("2024-01-01 00:00:00"), "alpha"),
      Doc(2L, ts("2024-01-01 00:01:00"), "alpha"),   // in-batch dup text
      Doc(3L, ts("2024-01-01 00:02:00"), "beta"))
    q.processAllAvailable()
    in.addData(Doc(4L, ts("2024-01-01 00:03:00"), "beta")) // cross-batch dup
    q.processAllAvailable()
    val got = spark.table("rowdedup_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    q.stop()
    assert(got == Seq(1L, 3L))
    }
  }

  test("row-generic dedupe's TTL branch wires setTimeoutDuration without " +
      "breaking first-wins semantics (batch execution, timeouts inert)") {
    // flatMapGroupsWithState runs on static frames too (timeouts never
    // fire); this pins the Some(TTL) code path — state writes + timeout
    // re-arming — deterministically, leaving wall-clock expiry to the
    // typed TTL test above
    import EventStreamSpec.Doc
    val in = Seq(
      Doc(1L, ts("2024-01-01 00:00:00"), "alpha"),
      Doc(2L, ts("2024-01-01 00:01:00"), "alpha"),
      Doc(3L, ts("2024-01-01 00:02:00"), "beta")).toDF()
    val got = EventStream.streamingDedupeRows(in, keyCol = "text",
        stateTTL = Some("10 seconds"))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(got == Seq(1L, 3L))
  }

  test("bounded-state dedupe: per-key state EXPIRES after the TTL, " +
      "so an expired key is admitted again") {
    withFewPartitions {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // A registered ProcessingTimeTimeout makes the engine schedule a
    // no-data batch on EVERY trigger (timeouts must re-evaluate as the
    // clock advances), so noNewData is never latched and
    // processAllAvailable would block forever. The test therefore
    // POLLS the memory sink with a deadline, and the interval trigger
    // keeps the no-data batches from hot-spinning.
    // TTL margin: the within-TTL dedupe check below only holds if the
    // second batch is processed less than one TTL after the first. A
    // 4s TTL flaked under full-suite load (the gap exceeded it); 20s
    // gives a ~5x margin while the expiry phase POLLS observable state
    // instead of sleeping, so a wide TTL costs only the real idle time.
    val q = EventStream.streamingDedupe(in.toDS(), stateTTL = "20 seconds")
      .writeStream.format("memory").queryName("dedup_ttl_out")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .start()
    def ids(): Seq[Long] = spark.table("dedup_ttl_out").collect()
      .map(_.getAs[Long]("event_id")).sorted.toSeq
    def awaitIds(expect: Seq[Long], deadlineMs: Long = 60000): Unit = {
      val t0 = System.nanoTime()
      while (ids() != expect) {
        assert((System.nanoTime() - t0) / 1e6 < deadlineMs,
          s"timeout waiting for $expect, sink has ${ids()}")
        Thread.sleep(100)
      }
    }
    // Observable expiry: state removal is visible as the state
    // operator's numRowsTotal dropping to 0 — polling it is
    // load-proof where a fixed sleep is a guess.
    def awaitStateEmpty(deadlineMs: Long = 120000): Unit = {
      val t0 = System.nanoTime()
      def stateRows(): Long = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      while (stateRows() != 0L) {
        assert((System.nanoTime() - t0) / 1e6 < deadlineMs,
          s"timeout waiting for state expiry, numRowsTotal=${stateRows()}")
        Thread.sleep(200)
      }
    }
    try {
      // keys 1 and 2 pass, the in-batch repeat of 1 is dropped
      in.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 00:01:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:02:00"), 2, "view", 2.0))
      awaitIds(Seq(1L, 2L))
      // within the TTL: key 1 is still deduped (key 3 in the same
      // batch proves the batch itself was processed)
      in.addData(
        Event(1, ts("2024-01-01 00:03:00"), 1, "click", 3.0),
        Event(3, ts("2024-01-01 00:04:00"), 3, "view", 4.0))
      awaitIds(Seq(1L, 2L, 3L))
      // let the idle TTL lapse; timeout batches remove expired state —
      // wait for the REMOVAL to be observable, not for a wall estimate
      awaitStateEmpty()
      // key 1's state expired -> admitted (and emitted) AGAIN
      in.addData(Event(1, ts("2024-01-01 00:11:00"), 1, "click", 5.0))
      awaitIds(Seq(1L, 1L, 2L, 3L))
    } finally q.stop()
    }
  }
}

object EventStreamSpec {
  /** Top-level so spark.implicits can derive its Encoder. */
  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  final case class VecDoc(
      doc_id: Long, ts: java.sql.Timestamp, vec: Seq[Float])
  final case class CodeDoc(
      doc_id: Long, ts: java.sql.Timestamp, code: Option[Long])
  final case class FrameDoc(video_id: Long, frame_no: Int,
      ts: java.sql.Timestamp, code: Option[Long])
  final case class Ping(device: String, at: java.sql.Timestamp, tag: String)
  final case class Pong(device: String, at: java.sql.Timestamp, seq: Long)
}
