package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface.
  *
  * The reference has no streaming engine — its incremental semantics
  * are micro-batched windows + idempotent upserts (SURVEY §2.10). We
  * still expose the two streaming shapes a training-data pipeline
  * needs: watermarked tumbling-window aggregation (the reference's
  * half-hour ingestion windows, flickr.py:95-122, as true event-time
  * windows) and stateful streaming dedupe (the D-family as a stream).
  *
  * Every operator is COLUMN-PARAMETERIZED (key / event-time / value
  * column names are arguments, defaulting to the events testdata
  * schema) the same way `graft.joins.Temporal.asOfJoin` is — the
  * operators are generic; only the defaults know the test schema.
  */
object EventStream {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling event-time windows with a late-data watermark; emits
    * (wstart, keyCol, n, val_sum). Defaults reproduce the reference's
    * half-hour ingestion windows over the events schema. */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "1 hour",
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "value",
      windowLen: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("val_sum"))
      .select(col("window.start").as("wstart"), col(keyCol),
        col("n"), col("val_sum"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension on `streamKey = dimKey`, then count per (tumbling
    * window, dim attribute). Stream-static equi-joins are STATELESS —
    * with the dim broadcast, enrichment is a map-side operation on
    * every micro-batch and only the windowed aggregate keeps state.
    * This is the streaming form of the J3/J5 dim-lookup family. */
  def enrichedWindowedCounts(
      events: DataFrame,
      dim: DataFrame,
      dimKey: String,
      dimAttr: String,
      watermark: String = "1 hour",
      streamKey: String = "user_id",
      tsCol: String = "ts",
      windowLen: String = "30 minutes"): DataFrame = {
    // project the dim to RESERVED names before the join: a dim keyed
    // or attributed with a name the stream also carries (the natural
    // case — a users dim keyed 'user_id' under streamKey 'user_id')
    // would otherwise make the bare column references AMBIGUOUS and
    // fail at plan time
    val d = dim.select(col(dimKey).as("__dim_key"),
      col(dimAttr).as("__dim_attr"))
    events
      .withWatermark(tsCol, watermark)
      .join(broadcast(d), col(streamKey) === col("__dim_key"))
      .groupBy(window(col(tsCol), windowLen), col("__dim_attr"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"),
        col("__dim_attr").as(dimAttr), col("n"))
  }

  /** Stateful exact dedupe on a key column: first occurrence passes,
    * repeats are dropped — flatMapGroupsWithState with a per-key seen
    * bit. At production scale the state is bounded with a timeout
    * (GroupStateTimeout.ProcessingTimeTimeout + setTimeoutDuration);
    * here NoTimeout keeps micro-batches purely data-driven, since
    * timeout evaluation spins empty batches on an always-available
    * local trigger. */
  def streamingDedupe(events: Dataset[Event]): Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_id)
      .flatMapGroupsWithState[Boolean, Event](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Event], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** Schema-generic form of [[streamingDedupe]]: first occurrence of
    * each `keyCol` value passes, repeats are dropped, any row schema.
    * `stateTTL = Some(d)` gives the TTL-bounded production shape
    * (idle keys expire after `d` of processing time and are admitted
    * again — state bounded by key arrival rate x TTL); `None` keeps
    * exact forever-state semantics. Keys are compared by their string
    * form and must be non-null (nulls group with the literal string
    * "null" — filter or coalesce first if that matters). Row-encoder
    * based, so the group function is NOT codegen'd — for the fixed
    * events schema prefer the typed overloads. */
  def streamingDedupeRows(
      events: DataFrame,
      keyCol: String,
      stateTTL: Option[String] = None): DataFrame = {
    val rowEnc = Encoders.row(events.schema)
    val timeout = if (stateTTL.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    events
      .groupByKey((r: Row) => String.valueOf(r.getAs[Any](keyCol)))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append(), timeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            stateTTL.foreach(state.setTimeoutDuration)
            Iterator.empty
          } else {
            state.update(true)
            stateTTL.foreach(state.setTimeoutDuration)
            rows.take(1)
          }
      }(Encoders.scalaBoolean, rowEnc)
      .toDF()
  }

  /** Event-time-bounded dedupe via the engine-native
    * `dropDuplicatesWithinWatermark` (Spark >= 3.5): duplicates whose
    * event times fall within the watermark delay of the first-seen row
    * are dropped, and the state store evicts entries the moment the
    * watermark passes them — bounded state with no custom
    * flatMapGroupsWithState code and no processing-time clock.
    * Complements the TTL overload of [[streamingDedupe]]: choose THIS
    * when duplicates cluster in event time (publisher retries,
    * replayed partitions), the TTL form when they cluster in arrival
    * time. */
  def watermarkDedupe(
      events: DataFrame,
      watermark: String = "10 minutes",
      keyCol: String = "event_id",
      tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming session windows: the engine-native
    * `session_window(ts, gap)` + watermark — the streaming
    * counterpart of [[sessionize]]. A session closes (and emits, in
    * Append mode) once the watermark passes its end; state per open
    * session is bounded by the watermark exactly like windowed
    * aggregation state. Emits one row per (closed session, key). */
  def streamingSessions(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour",
      keyCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("val_sum"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol),
        col("n_events"), col("val_sum"))

  /** Batch sessionization: split each key's event stream into
    * sessions separated by more than `gapMinutes` of inactivity, and
    * aggregate one row per session. The batch counterpart of a
    * session window (the streaming form is
    * `session_window(ts, gap)` + watermark).
    *
    * Scale shape: ONE shuffle on the key; the session id is a running
    * sum of new-session markers inside each key partition (lag +
    * sum window over the same partitioning — Catalyst plans a single
    * Exchange for both windows and the final aggregate re-uses it via
    * partial aggregation). No skew exposure beyond a genuinely
    * hyperactive key, which a gap-session by definition bounds in
    * session count. */
  def sessionize(
      events: DataFrame,
      gapMinutes: Int = 30,
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(byKey)
    val newSession = when(prev.isNull ||
      col(tsCol).cast("long") - prev.cast("long") > gapMinutes * 60L, 1L)
      .otherwise(0L)
    events
      .withColumn("session_seq",
        sum(newSession).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("t_start"), max(col(tsCol)).as("t_end"))
  }

  /** Streaming admission against a static digest index — the
    * streaming face of `graft.dedup.Dedup.incrementalExactDedup`:
    * documents arriving on a stream are dropped when their
    * whitespace-normalized content digest already exists in the
    * static index (stream-static LEFT ANTI join — STATELESS, the
    * index is broadcast and probed per micro-batch), then
    * first-within-the-stream wins via
    * `dropDuplicatesWithinWatermark` on the digest (state bounded by
    * the watermark, exactly like [[watermarkDedupe]]). Null-digest
    * rows (null text) PASS THROUGH both stages — they carry no
    * dedupe evidence, matching the batch face's deliberate
    * keep-every-null-row contract (`Dedup.incrementalExactDedup`).
    *
    * `docs` must carry `tsCol` (event time) and `textCol`;
    * `indexDigests` is `Dedup.contentDigests` output (or any frame
    * with a `digest` column). The emitted rows carry their digest —
    * append them to the index between restarts and the next run's
    * static side covers this run's admissions (within a run, the
    * watermark dedupe already suppresses re-arrivals). */
  def streamingAdmission(
      docs: DataFrame,
      indexDigests: DataFrame,
      textCol: String = "text",
      watermark: String = "10 minutes",
      tsCol: String = "ts"): DataFrame = {
    val digested = docs
      .withColumn("digest",
        graft.dedup.Dedup.contentDigestOf(col(textCol)))
      .join(broadcast(indexDigests.select(col("digest"))),
        Seq("digest"), "left_anti")
      .withWatermark(tsCol, watermark)
    // null digests (null text) carry no dedupe evidence and PASS
    // THROUGH — the batch face (Dedup.incrementalExactDedup)
    // deliberately keeps every null-digest row, and routing them
    // into the watermark dedupe would key them all to ONE (null)
    // state entry, silently dropping every null-text doc but the
    // first per watermark horizon — the exact asymmetry the two
    // faces' shared-contract scaladoc forbids
    digested.filter(col("digest").isNotNull)
      .dropDuplicatesWithinWatermark("digest")
      .unionByName(digested.filter(col("digest").isNull))
  }

  /** Streaming NEAR-dup admission against a persisted LSH band index
    * — the streaming face of `CorpusPipeline.admitBatch`'s
    * corpus-near-dup stage, completing [[streamingAdmission]] (exact
    * digests) to Jaccard similarity: documents arriving on a stream
    * are dropped when some already-indexed corpus document is within
    * `threshold` Jaccard of them.
    *
    * The whole minhash signature is computed ROW-LOCALLY
    * (`array_min(transform(...))` per hash function — no streaming
    * aggregation), producing BIT-IDENTICAL band hashes to
    * `graft.dedup.Dedup.minhashBandRows`, so the static index needs
    * no special streaming build: write it once with the batch API
    * (same shingleN/bands/rowsPerBand) and both faces share it. Load
    * a persisted index through
    * `graft.jobs.AdmissionIndexes.loadBandIndex(spark, table,
    * shingleN, bands, rowsPerBand)` — it REFUSES a parameter mismatch
    * against the stamp the build wrote, so an index/stream width
    * disagreement (disjoint band-key spaces, every near-dup silently
    * admitted) fails loudly at load time instead.
    * Candidates come from the stateless stream-static equi-join of
    * the batch's band keys against `corpusBands`; corpus text joins
    * back only for candidate ids; exact Jaccard verifies. The one
    * stateful step is the per-document verdict ("NO candidate
    * reached threshold" is universally quantified, so it must wait
    * for all of a doc's candidate rows): a watermarked tumbling
    * window aggregation, append-mode, state bounded by arrival rate
    * x watermark — a verdict emits once the watermark passes its
    * window.
    *
    * Skew: corpus-side buckets larger than `maxBucket` are excluded
    * (same policy and same reasoning as
    * `Dedup.incrementalNearDupPairs` — a stream doc landing in a
    * dropped bucket is boilerplate the exact-digest admission owns).
    * Within-stream near-dups are out of scope by construction (two
    * stream docs never compare); chain the batch pipeline over
    * admitted rows for those, and append their band rows to the
    * index between restarts exactly as with [[streamingAdmission]].
    *
    * Output: (idCol, tsCol, textCol, best_jaccard) for ADMITTED
    * documents only — best_jaccard is the highest corpus similarity
    * found (0.0 when no candidate), always < threshold. */
  def streamingNearDupAdmission(
      docs: DataFrame,
      corpus: DataFrame,
      corpusBands: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.3,
      watermark: String = "10 minutes",
      maxBucket: Option[Int] = Some(5000),
      windowLen: Option[String] = None): DataFrame = {
    // rowsPerBand DEFAULT matches Dedup.minhashBandRows (4): the two
    // faces share one index, so defaults that disagree would make a
    // default-built index and a default stream hash band keys from
    // different-width signature slices — structurally disjoint keys,
    // every near-dup silently admitted. Parity is per-parameter, and
    // the defaults must embody it.
    import graft.dedup.Dedup
    val nH = bands * rowsPerBand
    // row-local minhash signature + THE shared band-hash composition
    // (Dedup.minhashSignature / Dedup.bandKeys) — key parity with a
    // batch-built index is structural, one definition, not a
    // convention two copies must keep. The shingle set is PROJECTED
    // as a column before the explode/joins, so it is computed once
    // per doc and carried (bands x per band row), never re-derived
    // per candidate row in the verify — the batch path's
    // re-evaluation discipline (Dedup.shingled).
    // token array MATERIALIZED in its own projection before the
    // shingle lambda references it (Dedup.shingled's discipline): an
    // inlined split() re-tokenizes once per shingle inside the
    // interpreted transform lambda — O(tokens x shingles) per doc
    // null-text docs are FILTERED like every sibling face: the batch
    // index build drops them (Dedup.shingled), so
    // admitting them here would break batch/stream parity — and their
    // band keys would all be the hash of an empty signature slice
    // (one degenerate shared bucket).
    //
    // The document text rides ONE carrier row per document (a
    // synthetic band = -1 whose null bh can never match the index),
    // not the bands x candidates fan-out — carrying it on every
    // candidate row would shuffle the full text once per candidate
    // (the strip face's one-carrier-row discipline). The shingle set
    // must ride every band row (each candidate's jaccard needs it);
    // that cost is intrinsic to the verify.
    val carrier = struct(lit(-1).as("band"), lit(null).cast("long").as("bh"))
    val keyed = docs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(textCol),
        Dedup.tokensOf(col(textCol)).as("__t"))
      .select(col(idCol), col(tsCol), col(textCol),
        array_distinct(Dedup.shingles(col("__t"), shingleN)).as("__sh"))
      .select(col(idCol), col(tsCol), col(textCol), col("__sh"),
        explode(concat(
          Dedup.bandKeys(Dedup.minhashSignature(col("__sh"), nH),
            bands, rowsPerBand),
          array(carrier))).as("bk"))
      .select(col(idCol), col(tsCol),
        when(col("bk.band") === -1, col(textCol)).as("__txt"),
        when(col("bk.band") =!= -1, col("__sh")).as("__sh"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))

    // Static sides are re-planned by every micro-batch; materialize
    // them ONCE. persist (not localCheckpoint): cached blocks are
    // rebuilt from lineage if an executor dies mid-run, where a
    // lost local-checkpoint block would kill the long-running query.
    // At real scale, persist these to storage between runs (they are
    // the admission index).
    val index = Dedup.capBuckets(corpusBands, Seq("band", "bh"), maxBucket)
      .select(col("band"), col("bh"), col("id").as("__cid"))
      .persist()
    val corpusSh = corpus
      .select(col(idCol).as("__cid"),
        Dedup.tokensOf(col(textCol)).as("__t"))
      .select(col("__cid"),
        array_distinct(Dedup.shingles(col("__t"), shingleN)).as("__csh"))
      .persist()

    keyed
      .join(index, Seq("band", "bh"), "left")
      .join(corpusSh, Seq("__cid"), "left")
      .withColumn("__j",
        when(col("__csh").isNull || col("__sh").isNull, lit(0.0))
          .otherwise(Dedup.jaccard(col("__sh"), col("__csh"))))
      // the verdict fold's tumbling-window width is its own knob
      // (`windowLen`, defaulting to the watermark): emission latency
      // vs state-key count, unrelated to lateness tolerance
      .groupBy(window(col(tsCol), windowLen.getOrElse(watermark)),
        col(idCol))
      .agg(max(col("__j")).as("best_jaccard"),
        first(col(tsCol)).as(tsCol),
        first(col("__txt"), ignoreNulls = true).as(textCol))
      .filter(col("best_jaccard") < threshold)
      .select(col(idCol), col(tsCol), col(textCol), col("best_jaccard"))
  }

  /** Streaming EMBEDDING admission against a persisted sign-code
    * index — the embedding face of [[streamingNearDupAdmission]],
    * completing the batch/streaming x token/embedding square:
    * documents arriving on a stream WITH an embedding column are
    * dropped when some indexed corpus vector is within cosine >=
    * `simThreshold` of theirs.
    *
    * This IS the streaming face of SemDeDup admission: at matching
    * threshold, a doc is admitted here exactly when it would SURVIVE
    * [[graft.similarity.Similarity.semanticDedup]] over corpus+doc
    * (corpus ids smaller: any corpus-similar doc merges into a
    * corpus-led group and the min-id keeper is the corpus row) —
    * EventStreamSpec pins the verdict parity on a shared fixture.
    * The one scope cut is within-STREAM semantic dups (two in-flight
    * docs never compare); chain the batch pipeline over admitted
    * rows for those, exactly as the token faces do.
    *
    * Codes are computed ROW-LOCALLY per micro-batch
    * ([[graft.similarity.Similarity.signCodes]] over plan-literal
    * hyperplanes — deterministic in (dim, nBits, nTables, seed), so
    * a batch-built [[graft.similarity.Similarity.signCodeIndex]]
    * serves the stream with no special build). Candidates come from
    * the STATELESS stream-static equi-join on (tbl, code); corpus
    * vectors join back for candidate ids only; exact cosine
    * verifies. The one stateful step is the per-document verdict
    * ("NO candidate reached simThreshold" is universally
    * quantified): a watermarked tumbling-window aggregation,
    * append-mode, state bounded by arrival rate x watermark.
    *
    * Skew: corpus code buckets larger than `maxBucket` are excluded
    * (identical-vector mass — exact dedup's job, same policy as the
    * batch kernels). Within-stream embed near-dups are out of scope
    * by construction (two stream docs never compare) — chain the
    * batch pipeline over admitted rows, and append their
    * [[graft.similarity.Similarity.signCodeIndex]] delta between
    * restarts exactly as with [[streamingAdmission]]'s digests.
    *
    * Output: (idCol, tsCol, vecCol, best_cos) for ADMITTED documents
    * only — best_cos is the highest corpus cosine found (0.0 when no
    * candidate), always < simThreshold. */
  def streamingEmbedAdmission(
      docs: DataFrame, // idCol, tsCol, vecCol
      corpusVecs: DataFrame, // (id, vec)
      corpusCodes: DataFrame, // signCodeIndex output (tbl, code, id)
      dim: Int,
      nBits: Int,
      nTables: Int = 4,
      seed: Long = 42L,
      idCol: String = "doc_id",
      vecCol: String = "vec",
      tsCol: String = "ts",
      simThreshold: Double = 0.9,
      watermark: String = "10 minutes",
      maxBucket: Option[Int] = Some(5000),
      windowLen: Option[String] = None): DataFrame = {
    import graft.similarity.Similarity
    // null-vector docs are DROPPED up front, mirroring the batch
    // kernels: a null vec would otherwise code to bucket 0 and then
    // produce a null cosine, making its verdict depend on whether
    // bucket 0 happens to hold corpus rows — same question, two
    // different silent answers
    val keyed = docs
      .filter(col(vecCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(vecCol),
        explode(Similarity.signCodes(col(vecCol), dim, nBits, nTables,
          seed)).as("bk"))
      .select(col(idCol), col(tsCol), col(vecCol),
        col("bk.tbl").as("tbl"), col("bk.code").as("code"))

    // static sides materialized ONCE (each micro-batch re-plans them
    // otherwise); persist, not localCheckpoint — cached blocks
    // rebuild from lineage on executor loss instead of killing the
    // query. At real scale these ARE the persisted admission index,
    // loaded rather than built
    val index = graft.dedup.Dedup
      .capBuckets(corpusCodes, Seq("tbl", "code"), maxBucket)
      .select(col("tbl"), col("code"), col("id").as("__cid"))
      .persist()
    val cVecs = corpusVecs
      .select(col("id").as("__cid"), col("vec").as("__cv"))
      .persist()

    keyed
      .join(index, Seq("tbl", "code"), "left")
      .join(cVecs, Seq("__cid"), "left")
      // nanvl: a zero-norm corpus vector yields cosine 0/0 = NaN,
      // which Spark sorts ABOVE every real score — an unguarded NaN
      // would flip the verdict to "near-dup" on garbage; 0.0
      // (orthogonal) is the honest score for a vector with no
      // direction
      .withColumn("__cos",
        when(col("__cv").isNull, lit(0.0))
          .otherwise(nanvl(graft.similarity.Similarity.cosine(
            col(vecCol), col("__cv")), lit(0.0))))
      .groupBy(window(col(tsCol), windowLen.getOrElse(watermark)),
        col(idCol))
      .agg(max(col("__cos")).as("best_cos"),
        first(col(tsCol)).as(tsCol), first(col(vecCol)).as(vecCol))
      .filter(col("best_cos") < simThreshold)
      .select(col(idCol), col(tsCol), col(vecCol), col("best_cos"))
  }

  /** Streaming FINGERPRINT admission against a persisted hamming
    * index — the media face of [[streamingNearDupAdmission]],
    * completing the batch/incremental/streaming square for image
    * (and any hamming-space) fingerprints: rows arriving on a stream
    * with a fingerprint column (e.g.
    * [[graft.multimodal.Multimodal.dHash]] over
    * [[graft.multimodal.Multimodal.grayPixels]]) are dropped when
    * some already-indexed corpus code is within `maxHamming` of
    * theirs.
    *
    * Probe keys are computed ROW-LOCALLY via the SHARED
    * [[graft.dedup.Dedup.hammingSegments]] column (one definition
    * with the batch kernel, so a batch-built
    * [[graft.dedup.Dedup.hammingBandRows]] index serves the stream
    * with no special build — load a persisted one through
    * [[graft.jobs.AdmissionIndexes.loadHammingIndex]], which REFUSES
    * a (maxHamming, bits) stamp mismatch). Candidates come from the
    * STATELESS stream-static equi-join on (seg, sb); the exact
    * hamming verify is PIPELINED in the join output — index rows
    * carry their codes, so unlike the token face no second join back
    * to corpus content is ever needed. The one stateful step is the
    * per-row verdict ("NO candidate within the bound" is universally
    * quantified): a watermarked tumbling-window aggregation,
    * append-mode, state bounded by arrival rate x watermark.
    *
    * Skew: corpus buckets larger than `maxBucket` are excluded (the
    * same policy as [[graft.dedup.Dedup.incrementalHammingPairs]] —
    * collapse verbatim-repeated codes before indexing and a capped
    * bucket can only hold genuinely distinct-but-close codes).
    * Null-code rows (undecodable media) are DROPPED up front like
    * every sibling face's null inputs; within-stream fingerprint
    * dups are out of scope by construction (two stream rows never
    * compare) — chain [[graft.jobs.CorpusPipeline.admitMediaBatch]]
    * over admitted rows for those, and append their index delta
    * between restarts exactly as with [[streamingAdmission]].
    *
    * Output: (idCol, tsCol, codeCol, best_hamming) for ADMITTED rows
    * only — best_hamming is the closest corpus distance found (null
    * when no candidate shared any segment), always > maxHamming. */
  def streamingFingerprintAdmission(
      docs: DataFrame, // idCol, tsCol, codeCol
      corpusHamming: DataFrame, // (id, code, seg, sb)
      maxHamming: Int = 3,
      bits: Int = 56,
      idCol: String = "doc_id",
      codeCol: String = "code",
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      maxBucket: Option[Int] = Some(5000),
      windowLen: Option[String] = None): DataFrame = {
    // sentinel bits+1 for "this candidate row matched nothing" (the
    // probe's left-join miss, __ham null): min() then reads bits+1
    // only when NO candidate existed at all, which the final select
    // maps back to null — hamming can never exceed bits, so the
    // sentinel is unambiguous
    hammingProbe(docs, Seq(idCol), corpusHamming, maxHamming, bits,
        codeCol, tsCol, watermark, maxBucket)
      .groupBy(window(col(tsCol), windowLen.getOrElse(watermark)),
        col(idCol))
      .agg(min(coalesce(col("__ham"), lit(bits + 1))).as("__best"),
        first(col(tsCol)).as(tsCol), first(col(codeCol)).as(codeCol))
      .filter(col("__best") > maxHamming)
      .select(col(idCol), col(tsCol), col(codeCol),
        when(col("__best") > bits, lit(null).cast("int"))
          .otherwise(col("__best").cast("int")).as("best_hamming"))
  }

  /** The shared top-k fold of every streaming retrieval face: the
    * per-candidate struct carries `negs = -score` so ONE ascending
    * sort_array orders by (score DESC, id ASC) — the batch faces'
    * tie-break — for ANY id type. The previous form negated the ID
    * for the tie-break, which under this engine's non-ANSI casts
    * silently evaluates to null for a non-numeric id column and
    * flips ties to id-DESCENDING; and it was hand-copied in three
    * faces — the drift hazard [[hammingProbe]] exists to prevent for
    * the fingerprint family. One definition, not a convention.
    * `extra` fields ride the struct after the two ordering fields
    * (never reached on ties — id is unique per candidate row). */
  private def topKStruct(score: Column, id: Column,
      extra: Seq[(String, Column)] = Nil): Column =
    struct((Seq((-score).as("negs"), id.as("id")) ++
      extra.map { case (n, c) => c.as(n) }): _*)

  /** Keep the k best candidate structs (built by [[topKStruct]]);
    * `distinct` routes through collect_set (identical candidate rows
    * fold — e.g. a neighbor reached through two probed cells),
    * collect_list otherwise. */
  private def topKFold(candidate: Column, k: Int,
      distinct: Boolean): Column =
    slice(sort_array(
      if (distinct) collect_set(candidate) else collect_list(candidate),
      asc = true), 1, k)

  /** The SHARED stream-side hamming probe of both fingerprint faces
    * (one definition, not a convention two copies keep): null-code
    * drop, watermark, row-local [[graft.dedup.Dedup.hammingSegments]]
    * explode, capped corpus (seg, sb) LEFT equi-join with the exact
    * hamming verify pipelined in the join output. Emits the key
    * columns + tsCol + codeCol + `__ham` (nullable int — null on a
    * join miss; callers choose their miss encoding). */
  private def hammingProbe(docs: DataFrame, keyCols: Seq[String],
      corpusHamming: DataFrame, maxHamming: Int, bits: Int,
      codeCol: String, tsCol: String, watermark: String,
      maxBucket: Option[Int]): DataFrame = {
    import graft.dedup.Dedup
    val carried = (keyCols :+ tsCol :+ codeCol).map(col)
    val keyed = docs
      .filter(col(codeCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(carried :+
        explode(Dedup.hammingSegments(col(codeCol), maxHamming, bits))
          .as("bk"): _*)
      .select(carried :+ col("bk.seg").as("seg") :+
        col("bk.sb").as("sb"): _*)
    // static side materialized ONCE (each micro-batch re-plans it
    // otherwise); persist, not localCheckpoint — cached blocks
    // rebuild from lineage on executor loss instead of killing the
    // query. At real scale this IS the persisted admission index,
    // loaded rather than built.
    val index = Dedup.capBuckets(corpusHamming, Seq("seg", "sb"), maxBucket)
      .select(col("seg"), col("sb"), col("code").as("__ccode"))
      .persist()
    keyed
      .join(index, Seq("seg", "sb"), "left")
      .withColumn("__ham",
        when(col("__ccode").isNull, lit(null).cast("int"))
          .otherwise(Dedup.hamming(col(codeCol), col("__ccode"))))
  }

  /** Streaming VIDEO admission: frame fingerprints arriving on a
    * stream (video_id, frame_no, ts, code — e.g.
    * [[graft.multimodal.Multimodal.gifFrames]] +
    * [[graft.multimodal.Multimodal.dHash]] upstream) are rolled up
    * to per-VIDEO verdicts against a persisted hamming index of
    * corpus frame codes — the streaming face of
    * [[graft.multimodal.Multimodal.videoNearDupPairs]]' corpus-probe
    * half, sharing [[streamingFingerprintAdmission]]'s probe shape
    * (row-local [[graft.dedup.Dedup.hammingSegments]], stateless
    * stream-static (seg, sb) equi-join, hamming verify pipelined in
    * the join output).
    *
    * The rollup is ONE stateful SESSION-window aggregation (no
    * chained stateful operators): per (session, video),
    * `size(collect_set(frame))` counts DISTINCT frames seen and
    * distinct frames matched within `maxHamming` — collect_set is
    * streaming-legal where count(distinct) is not, and it skips the
    * nulls the `when` guard leaves on unmatched rows, so both counts
    * come out of one state store whose size is bounded by frames per
    * video per session. The session (gap `windowLen`, default the
    * watermark) folds ALL of a video's contiguously-arriving frames
    * into one verdict — a TUMBLING window here would split the
    * matched count across a boundary falling mid-video and admit a
    * true near-dup. A video is a corpus near-dup when
    * `matched_frames >= minMatchedFrames` — the same alignment-free
    * frame-set-overlap verdict as the batch rollup for any video
    * whose frames stream within the gap.
    *
    * Null-code frames are dropped up front (undecodable frames
    * contribute no evidence either way); a video whose frames are
    * ALL null never emits — absence means no verdict, same as a
    * video with no frames in the session. Output (append mode, one
    * row per video per session once the watermark closes it):
    * (idCol, window, frames_seen, matched_frames, min_hamming,
    * is_corpus_dup) — min_hamming null when no frame matched. */
  def streamingVideoAdmission(
      frames: DataFrame, // idCol, frameCol, tsCol, codeCol
      corpusHamming: DataFrame, // (id, code, seg, sb)
      maxHamming: Int = 6,
      bits: Int = 56,
      minMatchedFrames: Int = 1,
      idCol: String = "video_id",
      frameCol: String = "frame_no",
      codeCol: String = "code",
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      maxBucket: Option[Int] = Some(5000),
      windowLen: Option[String] = None): DataFrame = {
    require(minMatchedFrames > 0,
      s"streamingVideoAdmission needs minMatchedFrames > 0 (got " +
        s"$minMatchedFrames) — at <= 0 every probed video with any " +
        "decodable frame would read as a corpus dup")
    // SESSION window, not tumbling: a video's frames are one
    // evidence set, and a tumbling boundary falling between two
    // matching frames would split the matched count across two
    // verdict rows — minMatchedFrames=2 would then admit a true
    // near-dup whose matches straddle the boundary. A session keyed
    // on (video, frame ts) folds every frame arriving within
    // `windowLen` (default: the watermark) of the previous one into
    // ONE verdict, which is the batch rollup's whole-video count for
    // any video whose frames stream contiguously; state stays
    // bounded by the gap exactly as with the tumbling form.
    hammingProbe(frames, Seq(idCol, frameCol), corpusHamming,
        maxHamming, bits, codeCol, tsCol, watermark, maxBucket)
      .withColumn("__hit",
        when(col("__ham") <= maxHamming, col(frameCol)))
      .groupBy(session_window(col(tsCol), windowLen.getOrElse(watermark))
        .as("window"), col(idCol))
      .agg(
        size(collect_set(col(frameCol))).as("frames_seen"),
        size(collect_set(col("__hit"))).as("matched_frames"),
        min(when(col("__ham") <= maxHamming, col("__ham")))
          .as("min_hamming"))
      .withColumn("is_corpus_dup",
        col("matched_frames") >= minMatchedFrames)
  }

  /** Streaming ANN lookup against a persisted IVF index — the
    * RETRIEVAL face of the streaming embedding family (where
    * [[streamingEmbedAdmission]] answers "is this a near-dup of the
    * corpus", this answers "what are its k nearest corpus
    * neighbors"): query vectors arriving on a stream are scored
    * against a batch-built [[graft.similarity.Similarity.ivfIndex]]
    * with NO refit and no base-side work per micro-batch.
    *
    * Probe cells are computed ROW-LOCALLY
    * ([[graft.similarity.Similarity.probeCells]] over the stored
    * centroids as plan literals — the same
    * deterministic-code-space property signCodes gives the sign-LSH
    * family, so the batch-built index serves the stream with no
    * special build). Candidates come from the STATELESS
    * stream-static equi-join on cell; exact cosine scores inside the
    * join. The one stateful step is folding a query's per-candidate
    * scores into its top-k ("k best over ALL candidates" needs every
    * candidate row): a watermarked tumbling-window aggregation,
    * append-mode, whose per-query state is the candidate set of its
    * nProbe cells — bounded by nProbe x the largest cell, the same
    * bound the batch probe's shuffle carries (keep cells sized via
    * the compaction/monitor cadence). A neighbor reached through two
    * probed cells (nAssign > 1 spill) dedupes in the aggregate
    * (collect_set of (score, id) — identical score both times).
    *
    * Growing the index ON the stream is the write half:
    * `foreachBatch` admitted vectors through
    * [[graft.similarity.Similarity.ivfAssign]] (stored centroids) +
    * [[graft.jobs.AdmissionIndexes.saveIvfIndex]](append) between
    * restarts, exactly as with [[streamingAdmission]]'s digests.
    *
    * Output: one row per (query, rank): (idCol, tsCol, rank,
    * neighbor_id, score), rank 1..k by (score desc, neighbor_id) —
    * the batch faces' tie-break, for ANY orderable id type (the
    * shared fold negates the SCORE, never the id). */
  def streamingIvfTopK(
      queries: DataFrame, // idCol, tsCol, vecCol
      assignments: DataFrame, // (cell, id, vec) from ivfIndex/ivfAssign
      centroids: Seq[(Int, Array[Float])], // Similarity.loadedCentroids
      k: Int,
      nProbe: Int = 4,
      idCol: String = "query_id",
      vecCol: String = "vec",
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLen: Option[String] = None): DataFrame = {
    import graft.similarity.Similarity
    require(k > 0, "streamingIvfTopK needs k > 0")
    val probed = queries
      .filter(col(vecCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(vecCol),
        explode(Similarity.probeCells(centroids, col(vecCol), nProbe))
          .as("cell"))
    // static side materialized once (each micro-batch re-plans it
    // otherwise); persist, not localCheckpoint — cached blocks
    // rebuild from lineage on executor loss instead of killing the
    // query. At real scale this IS the persisted cell-bucketed
    // index, loaded rather than built
    val idx = assignments
      .select(col("cell"), col("id").as("__nid"), col("vec").as("__nv"))
      .persist()
    probed
      .join(idx, Seq("cell"))
      // nanvl: a zero-norm vector's cosine is NaN, which would sort
      // ABOVE every real score in the top-k fold; 0.0 ranks it last
      .withColumn("__score",
        nanvl(Similarity.cosine(col(vecCol), col("__nv")), lit(0.0)))
      .groupBy(window(col(tsCol), windowLen.getOrElse(watermark)),
        col(idCol))
      .agg(first(col(tsCol)).as(tsCol),
        topKFold(topKStruct(col("__score"), col("__nid")), k,
          distinct = true).as("__top"))
      .select(col(idCol), col(tsCol),
        posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(idCol), col(tsCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as("neighbor_id"),
        (-col("__t.negs")).as("score"))
  }

  /** Streaming ANN lookup against a persisted IVF-PQ index — the
    * codes-only sibling of [[streamingIvfTopK]], so the CHEAPEST
    * standing index (inverted lists of m one-byte PQ codes, ~d*4/m
    * smaller than raw vectors) can serve streams too, not just batch
    * probes.
    *
    * Same scale decisions as the batch probe
    * ([[graft.similarity.Pq.ivfPqTopKFromIndex]]), re-expressed for
    * micro-batches: probe cells AND the per-query ADC table are
    * computed ROW-LOCALLY against the stored quantizers as plan
    * literals (centroids via
    * [[graft.similarity.Similarity.probeCells]], codebooks via
    * [[graft.similarity.Pq.adcTableCol]] — a cold stream codes
    * queries identically to the build); candidates come from the
    * STATELESS stream-static equi-join on cell against the
    * codes-only assignments; ADC scores inside the join (m table
    * lookups per candidate, never a d-wide dot).
    *
    * The PQ-then-refine cascade becomes TWO chained watermarked
    * aggregations (the multi-stateful shape [[streamingBm25TopK]]
    * uses): fold each query's candidates to its `refine * k` best by
    * ADC (collect_set dedupes the nAssign-spill repeats — identical
    * codes give identical ADC), then re-rank ONLY those survivors by
    * exact cosine against the true vectors re-read from the CORPUS
    * table (stateless stream-static join on id — vectors live once,
    * in the corpus, never in the index) and fold to the final top-k.
    * Per-query state is bounded by nProbe x the largest cell for the
    * first fold and refine*k rows for the second.
    *
    * Output: one row per (query, rank): (idCol, tsCol, rank,
    * neighbor_id, score), rank 1..k by (score desc, neighbor_id) —
    * [[streamingIvfTopK]]'s contract, scores EXACT cosine. */
  def streamingIvfPqTopK(
      queries: DataFrame, // idCol, tsCol, vecCol
      assignments: DataFrame, // (cell, id, codes) from Pq.ivfPqIndex
      centroids: Seq[(Int, Array[Float])], // Similarity.loadedCentroids
      codebooks: graft.similarity.Pq.Codebooks, // Pq.loadedCodebooks
      baseVecs: DataFrame, // (id, vec) — the corpus vector table
      k: Int,
      nProbe: Int = 4,
      refine: Int = 4,
      idCol: String = "query_id",
      vecCol: String = "vec",
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLen: Option[String] = None): DataFrame = {
    import graft.similarity.{Pq, Similarity}
    require(k > 0, "streamingIvfPqTopK needs k > 0")
    require(refine > 0 && refine < Int.MaxValue / math.max(k, 1),
      "streamingIvfPqTopK needs a bounded refine (the exact regime " +
        "is a batch shape — use Pq.ivfPqTopKFromIndex)")
    val probed = queries
      .filter(col(vecCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(vecCol),
        Pq.adcTableCol(col(vecCol), codebooks).as("__qtab"),
        explode(Similarity.probeCells(centroids, col(vecCol), nProbe))
          .as("cell"))
      .filter(col("__qtab").isNotNull)
    // static sides materialized once (each micro-batch re-plans them
    // otherwise); persist, not localCheckpoint — cached blocks
    // rebuild from lineage on executor loss instead of killing the
    // query. At real scale these ARE the persisted cell-bucketed
    // codes table and the corpus vector table, loaded not built
    val idx = assignments
      .select(col("cell"), col("id").as("__nid"), col("codes"))
      .persist()
    val corpus = baseVecs
      .select(col("id").as("__nid"), col("vec").as("__nv"))
      .persist()
    val fold = windowLen.getOrElse(watermark)
    val adcFold = probed
      .join(idx, Seq("cell"))
      .withColumn("__adc", Pq.adc(col("codes"), col("__qtab"), codebooks))
      .groupBy(window(col(tsCol), fold), col(idCol))
      .agg(first(col(tsCol)).as(tsCol), first(col(vecCol)).as(vecCol),
        topKFold(topKStruct(col("__adc"), col("__nid")), refine * k,
          distinct = true).as("__cand"))
    adcFold
      .select(col("window"), col(idCol), col(tsCol), col(vecCol),
        explode(col("__cand")).as("__c"))
      .join(corpus, col("__c.id") === col("__nid"))
      // nanvl: NaN (zero-norm vector) must rank last, never first
      .withColumn("__score",
        nanvl(Similarity.cosine(col(vecCol), col("__nv")), lit(0.0)))
      .groupBy(window(col("window"), fold), col(idCol))
      .agg(first(col(tsCol)).as(tsCol),
        topKFold(topKStruct(col("__score"), col("__nid")), k,
          distinct = true).as("__top"))
      .select(col(idCol), col(tsCol),
        posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(idCol), col(tsCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as("neighbor_id"),
        (-col("__t.negs")).as("score"))
  }

  /** Streaming BM25 top-k against a persisted postings index — the
    * KEYWORD retrieval face beside [[streamingIvfTopK]], completing
    * the batch/streaming x keyword/embedding retrieval square:
    * free-text queries arriving on a stream get their k best corpus
    * documents, scored exactly like the batch faces (same Lucene-idf
    * expression tree, same DECIMAL(18,6) routing, same tie-break).
    *
    * The per-(term, doc) saturated score depends ONLY on the index
    * (df, tf, len, corpus constants), so the static side is
    * PRE-SCORED once ([[graft.text.Search.termScores]] over the full
    * postings — df is the true corpus df) and each micro-batch pays
    * one stream-static equi-join on term. Query text tokenizes
    * row-locally with the index's own tokenizer; duplicate terms in
    * a query dedupe row-locally (array_distinct — a query is one
    * row), matching the batch faces' (query_id, term) collapse.
    *
    * Stateful shape: TWO chained watermarked tumbling-window
    * aggregations (Spark's multiple-stateful-operator support) — the
    * per-(query, doc) score sum, then the per-query top-k fold of
    * [[streamingIvfTopK]]. Per-query state is its terms' matched
    * postings — bounded by the query terms' df sum, the same bound
    * the batch aggregate's shuffle carries (a stopword-only query is
    * as expensive here as everywhere).
    *
    * Output: one row per (query, rank): (idCol, tsCol, rank, docCol,
    * score, hits), rank 1..k by (score desc, doc id). */
  def streamingBm25TopK(
      queries: DataFrame, // idCol, tsCol, textCol
      post: DataFrame, // (term, id, len, tf) — Search.postings
      stats: DataFrame, // 1-row corpusStats
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "query_id",
      textCol: String = "text",
      tsCol: String = "ts",
      docCol: String = "doc_id",
      watermark: String = "10 minutes",
      windowLen: Option[String] = None): DataFrame = {
    import graft.text.Search
    require(k > 0, "streamingBm25TopK needs k > 0")
    require(idCol != docCol,
      s"idCol and docCol must differ (both '$idCol') — the output " +
        "carries the query id AND the matched doc id")
    // static side pre-scored ONCE: (term, doc id, tscore) — at real
    // scale this derivation is itself persisted next to the index
    val scored = Search.termScores(post, stats, k1, b)
      .select(col("term"), col("id").as("__did"), col("tscore"))
      .persist()
    val fold = windowLen.getOrElse(watermark)
    val qterms = queries
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(array_distinct(Search.terms(col(textCol)))).as("term"))
    val perDoc = qterms
      .join(scored, Seq("term"))
      .groupBy(window(col(tsCol), fold), col(idCol), col("__did"))
      .agg(sum(col("tscore")).cast("double").as("__score"),
        count(lit(1)).as("__hits"), first(col(tsCol)).as(tsCol))
    perDoc
      .groupBy(window(col("window"), fold), col(idCol))
      .agg(first(col(tsCol)).as(tsCol),
        topKFold(topKStruct(col("__score"), col("__did"),
            extra = Seq("hits" -> col("__hits"))), k,
          distinct = false).as("__top"))
      .select(col(idCol), col(tsCol),
        posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(idCol), col(tsCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as(docCol),
        (-col("__t.negs")).as("score"),
        col("__t.hits").as("hits"))
  }

  /** Streaming passage strip against a persisted window-digest index
    * — the streaming face of
    * [[graft.dedup.Dedup.incrementalStripPassages]]: documents
    * arriving on a stream are REWRITTEN (not dropped) with every
    * `winLen`-word window whose digest is already in the corpus
    * index cut from their text.
    *
    * Windows are hashed ROW-LOCALLY through the shared
    * `Dedup.windowArr` construction, so a batch-built
    * [[graft.dedup.Dedup.windowDigestSet]] serves the stream with no
    * special build — one definition, hashes can't drift. Verdicts
    * come from the STATELESS stream-static join of exploded window
    * digests against the index; the one stateful step is folding a
    * document's per-window verdicts back together ("which ordinals
    * were hit" needs all of a doc's window rows): a watermarked
    * tumbling-window aggregation, append-mode, state bounded by
    * arrival rate x watermark — identical shape to
    * [[streamingNearDupAdmission]]'s verdict.
    *
    * Within-stream and within-document repeats are out of scope by
    * construction (two stream docs never compare, and no keeper
    * election runs on the stream side) — chain the batch kernel over
    * emitted rows for those, and append its `newWindows` delta to
    * the index between restarts exactly as with
    * [[streamingAdmission]]'s digests.
    *
    * Output: (idCol, tsCol, textCol rebuilt, n_stripped) for EVERY
    * document — docs shorter than `winLen` or with no indexed window
    * pass through whole with n_stripped = 0. */
  def streamingStripPassages(
      docs: DataFrame,
      indexWindows: DataFrame, // windowDigestSet output (wh)
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      winLen: Int = 10,
      watermark: String = "10 minutes",
      windowLen: Option[String] = None): DataFrame = {
    import graft.dedup.Dedup
    // static side materialized ONCE (each micro-batch re-plans it
    // otherwise); at real scale this IS the persisted window index,
    // loaded rather than built
    val index = indexWindows
      .select(col("wh"), lit(true).as("__hit"))
      .persist()
    // explode_outer: sub-winLen docs contribute one null window row,
    // so they still reach the verdict aggregate and emit whole. The
    // document text rides ONE row per document (window 0, or the
    // null row of a window-less doc), not every window row —
    // carrying it on all of them would make per-doc verdict-shuffle
    // volume QUADRATIC in document length (windows x tokens).
    val exploded = docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(textCol),
        Dedup.tokensOf(col(textCol)).as("__t"))
      .select(col(idCol), col(tsCol), col(textCol),
        explode_outer(Dedup.windowArr(col("__t"), winLen, winLen))
          .as("w"))
      .select(col(idCol), col(tsCol), col("w"),
        when(coalesce(col("w.win_idx"), lit(0)) === 0, col(textCol))
          .as("__txt"))
    exploded
      .join(index, col("w.wh") === col("wh"), "left")
      // the verdict fold's tumbling-window width is its own knob
      // (`windowLen`): it trades emission latency (a doc emits once
      // its window closes past the watermark) against state-key
      // count, and has nothing to do with how much lateness the
      // stream tolerates — it merely DEFAULTS to the watermark
      .groupBy(window(col(tsCol), windowLen.getOrElse(watermark)),
        col(idCol))
      // collect_list skips the nulls of un-hit (and null-window) rows
      .agg(sort_array(collect_list(when(col("__hit"),
          col("w.win_idx")))).as("__drop"),
        first(col(tsCol)).as(tsCol),
        first(col("__txt"), ignoreNulls = true).as("__txt"))
      // tokens re-derived in their own projection (one split per doc,
      // referenced many times by the rebuild HOFs — the windowDigests
      // materialization discipline); an un-hit document keeps its
      // ORIGINAL text verbatim, matching the batch kernel
      .select(col(idCol), col(tsCol), col("__txt"), col("__drop"),
        Dedup.tokensOf(col("__txt")).as("__t"))
      .select(col(idCol), col(tsCol),
        when(size(col("__drop")) === 0, col("__txt"))
          .otherwise(Dedup.rebuiltText(col("__t"), col("__drop"), winLen))
          .as(textCol),
        size(col("__drop")).as("n_stripped"))
  }

  /** SCHEMA-GENERIC stream-stream interval join: match each left row
    * to the right rows with the same `keyCol` value within `within`
    * of event time (|l.ts - r.ts| <= within). Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, which is exactly what lets Spark evict buffered
    * rows: each side's state holds only rows newer than (watermark -
    * within), so state is bounded by rate x (watermark + within),
    * not by stream length.
    *
    * Output: `keyCol` (from the left side), then every other left
    * column prefixed `l_`, then every other right column prefixed
    * `r_` — including the time columns as l_`tsCol` / r_`tsCol`.
    *
    * At cluster scale both sides hash-partition on the key — one
    * co-partitioned exchange per side, the same shape as the batch
    * `Temporal.rangeJoinBucketed`, with the state store playing the
    * bucket role.
    *
    * `joinType` "inner" (default), "left_outer", "right_outer", or
    * "full_outer": the outer forms emit an unmatched row WITH NULL
    * partner columns once the watermark proves no partner can still
    * arrive (its ts + within below the global watermark) — the same
    * eviction that bounds the state also makes the no-match verdict
    * safe to declare. The output `keyCol` is side-coalesced, so an
    * unmatched RIGHT row (right/full outer) still carries its key. */
  def streamingIntervalJoinOn(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      within: String = "10 minutes",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "right_outer", "full_outer")(joinType),
      s"joinType must be inner/left_outer/right_outer/full_outer, got $joinType")
    def prefixed(df: DataFrame, p: String, keepKey: Boolean): DataFrame =
      df.select(df.columns.map { c =>
        if (c == keyCol) { if (keepKey) col(c) else col(c).as(p + c) }
        else col(c).as(p + c)
      }.toIndexedSeq: _*)
    val lTs = "l_" + tsCol
    val rTs = "r_" + tsCol
    val l = prefixed(left, "l_", keepKey = true).withWatermark(lTs, watermark)
    val r = prefixed(right, "r_", keepKey = false).withWatermark(rTs, watermark)
    // right/full outer emit rows whose LEFT side is all-null — the key
    // must then come from the surviving side
    val outKey =
      if (joinType == "right_outer" || joinType == "full_outer")
        coalesce(col(keyCol), col("r_" + keyCol)).as(keyCol)
      else col(keyCol)
    val outCols: Seq[Column] = outKey +:
      (left.columns.filter(_ != keyCol).map(c => col("l_" + c)) ++
        right.columns.filter(_ != keyCol).map(c => col("r_" + c))).toIndexedSeq
    l.join(r,
      col(keyCol) === col("r_" + keyCol) &&
        col(rTs) >= col(lTs) - expr(s"INTERVAL $within") &&
        col(rTs) <= col(lTs) + expr(s"INTERVAL $within"),
      joinType)
      .select(outCols: _*)
  }

  /** [[streamingIntervalJoinOn]] specialised to the events schema:
    * key on user_id, time on ts, and the historical compact output
    * (user_id, l_id, r_id, l_ts, r_ts, l_type, r_type) — the
    * clicks-to-impressions shape. */
  def streamingIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      within: String = "10 minutes",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    def shrink(df: DataFrame): DataFrame =
      df.select(col("event_id").as("id"), col("ts"),
        col("user_id"), col("event_type").as("type"))
    streamingIntervalJoinOn(shrink(left), shrink(right),
      keyCol = "user_id", tsCol = "ts", within, watermark, joinType)
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"),
        col("r_ts"), col("l_type"), col("r_type"))
  }

  /** BOUNDED-state streaming dedupe: same first-occurrence-wins
    * semantics, but each key's seen-bit expires after `stateTTL` of
    * processing time with no arrivals (idle TTL — the timeout is
    * re-armed on every access, since Spark clears a group's timeout
    * whenever the function is invoked for it). This is the production
    * shape: the NoTimeout variant's state grows with every distinct
    * key ever seen, which at 100 TB/day of events is unbounded; with
    * a TTL the state size is bounded by the key arrival rate x TTL,
    * trading exactness for "dedupe within the TTL horizon" — the
    * standard trade, made explicit. After expiry the key is admitted
    * (and counted) again. */
  def streamingDedupe(events: Dataset[Event], stateTTL: String): Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_id)
      .flatMapGroupsWithState[Boolean, Event](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (_: Long, rows: Iterator[Event], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            state.setTimeoutDuration(stateTTL)
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(stateTTL)
            rows.take(1)
          }
      }
  }
}
