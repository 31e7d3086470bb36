package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistence layout for the growing-corpus admission indexes —
  * the STORED side of every incremental probe:
  *
  *   - digest index: (id, digest) from
  *     [[graft.dedup.Dedup.contentDigests]], probed by digest;
  *   - band index: (id, band, bh) from
  *     [[graft.dedup.Dedup.minhashBandRows]], probed by (band, bh);
  *   - code index: (tbl, code, id) from
  *     [[graft.similarity.Similarity.signCodeIndex]], probed by
  *     (tbl, code);
  *   - window index: (wh) from
  *     [[graft.dedup.Dedup.windowDigestSet]], probed by wh.
  *
  * Each writes as a table BUCKETED (and sorted) on its probe key, so
  * the per-batch admission join reads the corpus-side index ALREADY
  * partitioned on the join key: only the (small) batch side
  * exchanges, and the table that scales with the corpus never
  * shuffles again — the same repeated-load upgrade BucketingSpec
  * pins for the canonical merge table, applied to the admission
  * family. `append = true` adds a batch's index delta
  * ([[CorpusPipeline.admitBatch]]'s newDigests/newBands/newCodes)
  * under the SAME bucket spec, which Spark enforces — the next
  * batch's probe covers this one without any rewrite.
  *
  * Bucket count is a layout constant per index (both writes and
  * appends must agree); size it so a bucket's rows fit one task
  * comfortably at the target corpus — at 32 bytes/row a 10B-doc
  * digest index is ~320 GB, so 1024 buckets keeps buckets ~300 MB. */
object AdmissionIndexes {

  val digestKeys: Seq[String] = Seq("digest")
  val bandKeys: Seq[String] = Seq("band", "bh")
  val codeKeys: Seq[String] = Seq("tbl", "code")
  val windowKeys: Seq[String] = Seq("wh")
  val postingsKeys: Seq[String] = Seq("term")
  val ivfKeys: Seq[String] = Seq("cell")
  val hammingKeys: Seq[String] = Seq("seg", "sb")

  def saveDigestIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false): Unit =
    save(df, table, digestKeys, buckets, append)

  /** Persist (or append to) the LSH band index. When the build
    * parameters are passed, they are STAMPED on the table
    * (`graft.shingleN/bands/rowsPerBand` TBLPROPERTIES + the spec
    * sidecar): a band key is a hash of a `rowsPerBand`-wide signature
    * slice, so an index and a probe that disagree on any of the three
    * hash STRUCTURALLY DISJOINT key spaces — every near-dup silently
    * admitted, nothing failing. The stamp turns that silence into a
    * loud refusal: [[loadBandIndex]] rejects a mismatched probe, and
    * an append with different params is rejected here. Parameter-less
    * saves remain legal (stamp-free tables probe with a warning). */
  def saveBandIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false, shingleN: Int = -1, bands: Int = -1,
      rowsPerBand: Int = -1): Unit =
    save(df, table, bandKeys, buckets, append,
      props = bandProps(shingleN, bands, rowsPerBand))

  private def bandProps(shingleN: Int, bands: Int,
      rowsPerBand: Int): Map[String, String] =
    Seq("shingleN" -> shingleN, "bands" -> bands,
      "rowsPerBand" -> rowsPerBand)
      .collect { case (k, v) if v >= 0 => s"graft.$k" -> v.toString }
      .toMap

  /** Load a persisted band index, REFUSING a parameter mismatch: the
    * probe's (shingleN, bands, rowsPerBand) must equal the stamp the
    * index was built with, or the probe's band keys come from
    * different-width signature slices than the stored ones —
    * disjoint key spaces, every near-dup silently admitted with
    * best_jaccard 0.0. This is the band-index twin of the MaxScore
    * bounds stamp: stale/mismatched configuration fails LOUDLY at
    * load time, never silently at admission time. A stamp-less table
    * (built by an older save, or with parameters withheld) probes
    * with a stderr warning — the caller owns parity then. */
  def loadBandIndex(spark: SparkSession, table: String, shingleN: Int,
      bands: Int, rowsPerBand: Int): DataFrame = {
    verifyStamp(spark, table, bandProps(shingleN, bands, rowsPerBand),
      family = "band index",
      consequence = "band keys would hash DISJOINT key spaces and " +
        "every near-dup would be silently admitted")
    load(spark, table)
  }

  /** The shared stamp-parity gate of every parameterized index load:
    * REFUSE when a probe parameter contradicts the table's stamp;
    * warn (stderr) on a stamp-less or PARTIAL stamp — absent keys
    * cannot be verified and must not silently read as matching. */
  private def verifyStamp(spark: SparkSession, table: String,
      want: Map[String, String], family: String,
      consequence: String): Unit = {
    val stamp = tableProps(spark, table)
    if (stamp.isEmpty)
      System.err.println(s"[admission-indexes] $family '$table' " +
        "carries no parameter stamp — cannot verify probe parity (" +
        want.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        "); migrate it with stampBandIndex/stampHammingIndex after " +
        "verifying the build parameters, or rebuild with them")
    else {
      val bad = want.filter { case (k, v) => stamp.get(k).exists(_ != v) }
      require(bad.isEmpty,
        s"$family '$table' parameter mismatch: probe wants " +
          bad.map { case (k, v) => s"$k=$v" }.mkString(", ") +
          s" but the index is stamped " +
          bad.keys.map(k => s"$k=${stamp(k)}").mkString(", ") +
          s" — $consequence; probe with the stamped parameters or " +
          "rebuild the index")
      val unverifiable = want.keys.filterNot(stamp.contains).toSeq.sorted
      if (unverifiable.nonEmpty)
        System.err.println(s"[admission-indexes] $family '$table' " +
          s"stamp is PARTIAL — cannot verify " +
          s"${unverifiable.mkString(", ")} against the probe; " +
          "re-save with all parameters to close the gap")
    }
  }

  /** Persist (or append to) the hamming fingerprint index
    * ([[graft.dedup.Dedup.hammingBandRows]]: (id, code, seg, sb),
    * probed by (seg, sb) via
    * [[graft.dedup.Dedup.incrementalHammingPairs]]) — the image/
    * fingerprint twin of [[saveBandIndex]]. (maxHamming, bits) are
    * STAMPED when passed: segment bounds are a pure function of the
    * two, so an index and a probe that disagree band DIFFERENT bit
    * ranges into the same key space — candidates go structurally
    * wrong (missed segments = silently admitted near-dups), nothing
    * fails. [[loadHammingIndex]] refuses the mismatch. */
  def saveHammingIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false, maxHamming: Int = -1,
      bits: Int = -1): Unit =
    save(df, table, hammingKeys, buckets, append,
      props = hammingProps(maxHamming, bits))

  private def hammingProps(maxHamming: Int, bits: Int): Map[String, String] =
    Seq("maxHamming" -> maxHamming, "bits" -> bits)
      .collect { case (k, v) if v >= 0 => s"graft.$k" -> v.toString }
      .toMap

  /** Load a persisted hamming index, REFUSING a (maxHamming, bits)
    * mismatch against the stamp — same loud-at-load contract as
    * [[loadBandIndex]]. */
  def loadHammingIndex(spark: SparkSession, table: String,
      maxHamming: Int, bits: Int): DataFrame = {
    verifyStamp(spark, table, hammingProps(maxHamming, bits),
      family = "hamming index",
      consequence = "segment bounds would band DIFFERENT bit ranges " +
        "into the same key space and near-dups would be silently " +
        "admitted")
    load(spark, table)
  }

  /** One-shot migration for a PRE-STAMP band index (saved before the
    * stamp existed, or with parameters withheld): write the
    * caller-asserted (shingleN, bands, rowsPerBand) as the table's
    * stamp and refresh its spec sidecar, so every later load/append
    * VERIFIES instead of warning. The parameters cannot be recovered
    * from the data (band keys are one-way hashes) — the caller owns
    * the assertion's truth; a table that already carries a DIFFERENT
    * stamp refuses (that is a rebuild, not a migration). */
  def stampBandIndex(spark: SparkSession, table: String, shingleN: Int,
      bands: Int, rowsPerBand: Int): Unit = {
    val props = bandProps(shingleN, bands, rowsPerBand)
    require(props.size == 3,
      "stampBandIndex needs all three parameters (>= 0)")
    stampTable(spark, table, props)
  }

  /** [[stampBandIndex]]'s hamming-index twin. */
  def stampHammingIndex(spark: SparkSession, table: String,
      maxHamming: Int, bits: Int): Unit = {
    val props = hammingProps(maxHamming, bits)
    require(props.size == 2,
      "stampHammingIndex needs both parameters (>= 0)")
    stampTable(spark, table, props)
  }

  private def stampTable(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    requirePlainName(table)
    require(spark.catalog.tableExists(table),
      s"cannot stamp '$table': table does not exist")
    val stamp = tableProps(spark, table)
    val bad = props.filter { case (k, v) => stamp.get(k).exists(_ != v) }
    require(bad.isEmpty,
      s"'$table' already carries a DIFFERENT stamp (" +
        bad.keys.map(k => s"$k=${stamp(k)}").mkString(", ") +
        ") — re-stamping would assert parameters the data was not " +
        "built with; rebuild the index instead")
    setTableProps(spark, table, props)
    // refresh (or create) the sidecar so crash recovery re-registers
    // the table WITH its stamp
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    writeSpec(spark, table,
      meta.bucketSpec.map(_.bucketColumnNames).getOrElse(Nil),
      meta.bucketSpec.map(_.numBuckets).getOrElse(0),
      spark.table(table).schema.toDDL, stamp ++ props)
  }

  def saveCodeIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false): Unit =
    save(df, table, codeKeys, buckets, append)

  /** Window-digest index: (wh) from
    * [[graft.dedup.Dedup.windowDigestSet]], probed by wh —
    * [[graft.dedup.Dedup.incrementalStripPassages]]' stored side. */
  def saveWindowIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false): Unit =
    save(df, table, windowKeys, buckets, append)

  /** Inverted-index postings: (term, id, len, tf) from
    * [[graft.text.Search.postings]], probed by term —
    * [[graft.text.Search.bm25FromPostings]]' stored side. A query's
    * term filter reads only the probed buckets; the corpus-sized
    * posting list never re-shuffles. */
  def savePostingsIndex(df: DataFrame, table: String, buckets: Int = 64,
      append: Boolean = false): Unit =
    save(df, table, postingsKeys, buckets, append)

  /** Per-term MaxScore upper bounds: (term, ub, n_docs, sum_len,
    * k1, b) from [[graft.text.Search.termBounds]], probed by term —
    * the pruning side of [[graft.text.Search.bm25BatchMaxScore]].
    * Overwrite-only BY DESIGN: a bound is a global max stamped with
    * the stats it was computed at; postings appends move every
    * term's bound in either direction, so the maintenance cadence is
    * recompute-and-overwrite (one aggregate pass over the postings —
    * the scorer refuses a stale stamp rather than mis-pruning). */
  def saveTermBounds(df: DataFrame, table: String,
      buckets: Int = 64): Unit =
    save(df, table, postingsKeys, buckets, append = false)

  /** IVF inverted lists: (cell, id, vec) from
    * [[graft.similarity.Similarity.ivfIndex]]/[[graft.similarity
    * .Similarity.ivfAssign]], probed by cell —
    * [[graft.similarity.Similarity.ivfTopKFromIndex]]'s stored side.
    * A probe's cells compile to an `isin` filter, so the cell-bucketed
    * scan reads only the probed buckets; `append = true` adds a
    * batch assigned with [[graft.similarity.Similarity.ivfAssign]]
    * against the SAME stored centroids. */
  def saveIvfIndex(assignments: DataFrame, table: String,
      buckets: Int = 64, append: Boolean = false): Unit =
    save(assignments, table, ivfKeys, buckets, append)

  /** The IVF quantizer itself: the nLists-row (cell, centroid) table
    * persisted alongside the assignments so a COLD session can code
    * queries and batches identically to the build. Overwrite-only by
    * design — centroids are FIXED at build time (appending rows here
    * would shift the cell space under the stored assignments; a
    * refit is a rebuild: new centroids + new assignments + swap). */
  def saveIvfCentroids(df: DataFrame, table: String): Unit = {
    requirePlainName(table)
    Seq("cell", "centroid").foreach(c =>
      require(df.columns.contains(c),
        s"centroid frame needs column '$c' " +
          s"(has ${df.columns.mkString(", ")})"))
    prepareOverwrite(df.sparkSession, table)
    df.write.mode("overwrite").saveAsTable(table)
    // buckets=0 sidecar: no bucket spec, but the schema still makes
    // the quantizer re-registrable after a catalog loss — a probe
    // needs centroids AND assignments, so recovery must cover both
    writeSpec(df.sparkSession, table, Nil, 0, df.schema.toDDL, Map.empty)
  }

  /** The PQ quantizer: the 1-row (m, k, dsub, flat) codebook table
    * persisted alongside an IVF-PQ index's assignments so a COLD
    * session encodes queries identically to the build. Overwrite-only
    * like the centroids — the code space is fixed at build time. */
  def savePqCodebooks(df: DataFrame, table: String): Unit = {
    requirePlainName(table)
    Seq("m", "k", "dsub", "flat").foreach(c =>
      require(df.columns.contains(c),
        s"codebook frame needs column '$c' " +
          s"(has ${df.columns.mkString(", ")})"))
    prepareOverwrite(df.sparkSession, table)
    df.write.mode("overwrite").saveAsTable(table)
    writeSpec(df.sparkSession, table, Nil, 0, df.schema.toDDL, Map.empty)
  }

  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Persist the 1-row BM25 corpus-stats frame
    * ([[graft.text.Search.corpusStats]]: n_docs, sum_len) alongside
    * the postings index, so a COLD session can probe the index
    * without ever re-reading corpus text. Appends are ADDITIVE: each
    * admitted batch appends its own stats row (counts and sums
    * compose), and [[loadCorpusStats]] folds the rows back to one —
    * no read-modify-write race on the stored table. */
  def saveCorpusStats(df: DataFrame, table: String,
      append: Boolean = false): Unit = {
    requirePlainName(table)
    requireStatsColumns(df)
    val spark = df.sparkSession
    val existed = append && spark.catalog.tableExists(table)
    if (!append) prepareOverwrite(spark, table)
    df.write.mode(if (append) "append" else "overwrite")
      .saveAsTable(table)
    if (!existed)
      writeSpec(spark, table, Nil, 0, df.schema.toDDL, Map.empty)
  }

  private def requireStatsColumns(df: DataFrame): Unit =
    Seq("n_docs", "sum_len").foreach(c =>
      require(df.columns.contains(c),
        s"corpus-stats frame needs column '$c' " +
          s"(has ${df.columns.mkString(", ")})"))

  /** The 1-row (n_docs, sum_len) frame from a stats table written by
    * [[saveCorpusStats]] — appended batch rows fold additively. */
  def loadCorpusStats(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{sum, col}
    spark.table(table).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("sum_len")).as("sum_len"))
  }

  /** Compact an index table. Every append writes its own file per
    * bucket, so a long-lived index accumulates one file per
    * (append x bucket) — probe scans then open hundreds of small
    * files per bucket and the sorted-within-bucket property degrades
    * to sorted-within-FILE. Compaction rewrites the table under the
    * same probe-key bucket spec with one file per non-empty bucket,
    * restoring the freshly-built layout; pass a larger `buckets` to
    * RESIZE as the corpus outgrows the original layout constant
    * (both faces of the periodic maintenance a real deployment
    * schedules, same cadence as vacuum/optimize elsewhere).
    *
    * CRASH-SAFE by write-then-swap: the rewrite lands in a side
    * table `{table}__compacting` while the live table keeps serving
    * (never dropped, never held only in executor memory — the r9
    * in-place form dropped the live table first, so a mid-compaction
    * failure lost the index). After a row-count verification the
    * swap is two catalog renames (directory moves, no data copy):
    * live -> `{table}__retired`, side -> live, drop retired. A crash
    * at ANY point leaves at least one complete on-disk copy:
    *   - during the rewrite / verify: live untouched, partial side
    *     table cleaned up (and any leftover is swept by the next
    *     compaction run);
    *   - between the renames (the only window where the live NAME
    *     dangles): both `__retired` and `__compacting` are complete
    *     copies — recover by renaming either back.
    * Probe results are identical before and after
    * (AdmissionIndexesSpec pins it, plus the file-count collapse,
    * the no-exchange probe plan, and the failure paths). */
  def compact(spark: SparkSession, table: String, keys: Seq[String],
      buckets: Int = 64): Unit = {
    requirePlainName(table)
    val side = s"${table}__compacting"
    val retired = s"${table}__retired"
    // self-heal a previously crashed run first: a dangling live name
    // (mid-swap crash) is recovered automatically from whichever
    // complete copy survived; leftovers of earlier phases are swept
    // below once the live table is authoritative again
    recover(spark, table)
    require(spark.catalog.tableExists(table),
      s"compact: table '$table' does not exist and no recoverable " +
        s"'$retired'/'$side' copy was found — nothing to compact")
    prepareOverwrite(spark, side)
    prepareOverwrite(spark, retired)
    // bucketBy writes one file per (task x bucket): repartition onto
    // the bucket keys with exactly `buckets` partitions (same Murmur3
    // pmod as the bucket id), so each task holds ONE bucket and the
    // write lands one file per non-empty bucket. The live table is
    // the scan source of the side-table write — no checkpoint, no
    // executor-memory-resident copy. When the bucket count is
    // UNCHANGED the repartition is satisfied by the table's own
    // bucketing and the planner elides the exchange — same-size
    // compaction is a fully shuffle-free per-bucket local rewrite —
    // but only if the planner keeps the bucketed scan alive: with
    // autoBucketedScan it disables the (elision-load-bearing)
    // bucketed read and the write degrades to one-file-per-input-
    // file, i.e. no compaction. Pin the scan bucketed for the
    // rewrite's duration.
    import org.apache.spark.sql.functions.col
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoScanPrev = spark.conf.getOption(autoScanKey)
    spark.conf.set(autoScanKey, "false")
    try {
      val aligned =
        spark.table(table).repartition(buckets, keys.map(col): _*)
      // the parameter stamp must SURVIVE compaction: the rewrite is a
      // fresh save, so carry the live table's graft.* properties onto
      // the side copy (the swap renames then move them into place)
      save(aligned, side, keys, buckets, append = false,
        props = tableProps(spark, table))
      val (liveN, sideN) =
        (spark.table(table).count(), spark.table(side).count())
      require(sideN == liveN,
        s"compact: rewrite of '$table' produced $sideN rows, live has " +
          s"$liveN — aborting swap, live table untouched")
    } catch { case e: Throwable =>
      spark.sql(s"DROP TABLE IF EXISTS `$side`")
      throw e
    } finally {
      autoScanPrev match {
        case Some(v) => spark.conf.set(autoScanKey, v)
        case None => spark.conf.unset(autoScanKey)
      }
    }
    // the swap: two directory-move renames, then drop the old data
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$retired`")
    spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$retired`")
  }

  /** Self-heal [[compact]]'s one dangling-name crash window: between
    * the two swap renames the live name points at NOTHING while both
    * `{table}__retired` (the pre-compaction copy) and
    * `{table}__compacting` (the row-count-verified compacted copy)
    * are complete on disk. Called automatically at [[compact]] entry
    * and callable standalone (e.g. a startup sweep over every index
    * table); no-op when the live table exists.
    *
    * Recovery prefers completing the swap FORWARD: a side table can
    * only coexist with a missing live name after the rewrite's
    * row-count verification passed (a failed rewrite drops it inside
    * compact's catch), so it is the newer complete copy — rename it
    * live and drop the retired one. With only a retired copy (crash
    * between rename 2 and the final drop cannot happen — the live
    * name exists again by then — but an operator's manual
    * half-recovery can leave this state) the swap rolls BACK.
    * Returns a description of the action taken, None if none was
    * needed.
    *
    * CATALOG-SCOPED by necessity: the swap state lives in the
    * catalog, and a bucketed table's bucket spec exists ONLY there —
    * it cannot be reconstructed from the parquet directory. On a
    * persistent metastore (the production posture) the catalog
    * survives a JVM crash and recovery is automatic; on this repo's
    * local in-memory catalog a fresh JVM sees an empty catalog, so
    * a real mid-swap crash leaves complete copies on DISK that this
    * sweep cannot re-register — it detects that state and prints a
    * directed notice instead of the misleading "nothing found". */
  def recover(spark: SparkSession, table: String): Option[String] = {
    requirePlainName(table)
    val side = s"${table}__compacting"
    val retired = s"${table}__retired"
    // catalog-independent half FIRST: when the live name is gone,
    // re-attach any on-disk copies the catalog lost (a JVM crash on
    // an in-memory catalog empties it while complete copies — with
    // their spec sidecars — survive in the warehouse), so the
    // swap-completion logic below sees the same state a persistent
    // metastore would have kept
    val reattached =
      if (spark.catalog.tableExists(table)) Nil
      else Seq(table, side, retired).filter(registerFromSpec(spark, _))
    val sidecarNote =
      if (reattached.isEmpty) ""
      else s" (re-registered from spec sidecar: ${reattached.mkString(", ")})"
    if (spark.catalog.tableExists(table)) {
      if (reattached.isEmpty) None
      else {
        val msg = s"re-registered '$table' from its spec sidecar " +
          "after catalog loss"
        System.err.println(s"[admission-indexes] $msg")
        Some(msg)
      }
    } else if (spark.catalog.tableExists(side)) {
      // completing the swap FORWARD trusts that a side table
      // coexisting with a missing live name passed compact's
      // row-count verification. On a persistent metastore a hard kill
      // between the side CTAS commit and that verification can leave
      // a registered-but-UNVERIFIED side copy, and an operator's
      // manual half-recovery can produce the same shape — so when the
      // pre-compaction copy is still here, RE-RUN the comparison
      // (two cheap count aggregates) instead of destroying the only
      // verified-good data on a heuristic.
      val verified =
        if (!spark.catalog.tableExists(retired)) true
        else spark.table(side).count() == spark.table(retired).count()
      if (verified) {
        spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `$retired`")
        val msg = s"completed interrupted compaction swap forward: " +
          s"'$side' -> '$table'$sidecarNote"
        System.err.println(s"[admission-indexes] $msg")
        Some(msg)
      } else {
        spark.sql(s"ALTER TABLE `$retired` RENAME TO `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `$side`")
        val msg = s"rolled interrupted compaction swap back: '$side' " +
          s"FAILED row-count re-verification against '$retired' " +
          s"(unverified side copy dropped; '$retired' -> '$table')" +
          sidecarNote
        System.err.println(s"[admission-indexes] $msg")
        Some(msg)
      }
    } else if (spark.catalog.tableExists(retired)) {
      spark.sql(s"ALTER TABLE `$retired` RENAME TO `$table`")
      val msg = s"rolled interrupted compaction swap back: " +
        s"'$retired' -> '$table'$sidecarNote"
      System.err.println(s"[admission-indexes] $msg")
      Some(msg)
    } else {
      // nothing recoverable — if sidecar-less copies sit in a LOCAL
      // warehouse (tables written before the sidecar existed), say so
      // precisely rather than letting compact refuse with "nothing
      // to compact" while the data is on disk
      localWarehouse(spark).foreach { wh =>
        val onDisk = Seq(table, side, retired)
          .filter(n => new java.io.File(wh, n.toLowerCase).isDirectory)
        if (onDisk.nonEmpty)
          System.err.println(s"[admission-indexes] recover('$table'): " +
            s"the catalog knows none of '$table'/'$side'/'$retired' " +
            s"but the warehouse holds ${onDisk.mkString(", ")} on " +
            "disk WITHOUT spec sidecars — these predate the sidecar; " +
            "rebuild the index once (the rebuild writes the sidecar " +
            "and future crashes self-heal)")
      }
      None
    }
  }

  /** The startup sweep: [[recover]] every index table the catalog
    * shows a dangling `__retired`/`__compacting` copy for, PLUS —
    * on a local warehouse — every on-disk directory carrying a spec
    * sidecar that the catalog does not know (the post-JVM-crash
    * state of an in-memory catalog: complete copies on disk, empty
    * catalog), PLUS every partially-applied staged batch whose
    * manifest survived a mid-sequence crash (completed from its
    * stage via [[applyStagedBatch]], after the tables it appends to
    * are re-attached). Run once at deployment start (or before a
    * maintenance window) and every interrupted compaction, lost
    * registration, OR half-applied batch in the warehouse self-heals
    * in one call. Returns one action description per recovery. */
  def recoverAll(spark: SparkSession): Seq[String] = {
    val suffixes = Seq("__compacting", "__retired", "__registering")
    val fromCatalog = spark.catalog.listTables().collect().map(_.name)
      .filter(n => suffixes.exists(n.endsWith))
      .map(n => suffixes.foldLeft(n)((b, s) => b.stripSuffix(s)))
      .toSeq
    val fromDisk = localWarehouse(spark).toSeq.flatMap { wh =>
      Option(wh.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory &&
          (new java.io.File(d, specFileName).isFile ||
            suffixes.exists(d.getName.endsWith)))
        .map(_.getName)
        .filter(_.matches("[A-Za-z0-9_]+"))
        .map(n => suffixes.foldLeft(n)((b, s) => b.stripSuffix(s)))
    }
    val tableActions = (fromCatalog ++ fromDisk).distinct.sorted
      .flatMap(base => recover(spark, base))
    // staged-batch completion AFTER table recovery, so the appends
    // land on re-attached tables; the manifest carries its prefix,
    // so the filename needs no un-lowercasing round trip
    val batchActions = localWarehouse(spark).toSeq.flatMap { wh =>
      manifestFiles(wh).flatMap { f =>
        // one corrupt manifest must not abort the whole startup
        // sweep (the other prefixes' pending batches still need
        // completing) — it is reported per manifest here, while
        // the per-prefix append paths keep the hard refusal
        try readManifestFile(f).flatMap { m =>
          applyStagedBatch(spark, m.prefix).map { id =>
            val msg = s"completed partially-applied staged batch " +
              s"'$id' under prefix '${m.prefix}'"
            System.err.println(s"[admission-indexes] $msg")
            msg
          }
        } catch {
          case e: IllegalStateException =>
            val msg = s"SKIPPED unreadable batch manifest " +
              s"${f.getName}: ${e.getMessage} — that prefix refuses " +
              "appends until the manifest is repaired or removed"
            System.err.println(s"[admission-indexes] $msg")
            Some(msg)
        }
      }
    }
    tableActions ++ batchActions
  }

  /** Build EVERY text-derived admission/retrieval index of a curated
    * corpus in ONE job — the day-0 face of the incremental family
    * (admitBatch maintains them per-batch afterwards). The corpus
    * (id, text) snapshot is checkpointed once, so the text scan runs
    * a single time and each index derivation reads the same blocks
    * instead of five separate jobs each re-reading (and re-decoding)
    * the source parquet. Tables land bucketed on their probe keys as
    * `{prefix}_digests/_bands/_windows/_postings` plus the 1-row
    * `{prefix}_stats` and the MaxScore `{prefix}_bounds` (computed
    * from the PERSISTED postings + stats so the stamp matches the
    * table a cold probe reads — bm25BatchMaxScore works day-0 with
    * no manual saveTermBounds step); probe them via
    * [[load]]/[[loadCorpusStats]] and append
    * [[CorpusPipeline.admitBatch]]'s deltas with [[appendDeltas]].
    * (The embedding code index is vector-derived, not text-derived —
    * build it from the vector table with [[saveCodeIndex]] when
    * embeddings exist.) */
  def bootstrap(corpus: DataFrame, idCol: String, textCol: String,
      prefix: String, buckets: Int = 64, shingleN: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4, winLen: Int = 10): Unit = {
    // rowsPerBand DEFAULT matches Dedup.minhashBandRows and
    // streamingNearDupAdmission (4): the whole family must agree, or
    // a default-built index probed by a default stream/batch hashes
    // band keys from different-width signature slices — disjoint key
    // spaces, every near-dup silently admitted. The stamp written
    // below turns any remaining mismatch into a loud refusal.
    requirePlainName(prefix)
    // a pending staged batch would append its (stale) deltas onto the
    // freshly-rebuilt tables the next time anything completes it —
    // refuse the rebuild until the operator resolves the batch
    require(readBatchManifest(corpus.sparkSession, prefix).isEmpty,
      s"a partially-applied staged batch is pending under '$prefix' — " +
        "complete it (applyStagedBatch/recoverAll) or remove its " +
        "manifest before rebuilding the estate")
    import org.apache.spark.sql.functions.col
    import graft.dedup.Dedup
    import graft.text.Search
    val snap = corpus.select(col(idCol), col(textCol)).localCheckpoint()
    saveDigestIndex(Dedup.contentDigests(snap, idCol, textCol),
      s"${prefix}_digests", buckets)
    saveBandIndex(
      Dedup.minhashBandRows(snap, idCol, textCol, shingleN, bands,
        rowsPerBand),
      s"${prefix}_bands", buckets, shingleN = shingleN, bands = bands,
      rowsPerBand = rowsPerBand)
    saveWindowIndex(Dedup.windowDigestSet(snap, idCol, textCol, winLen),
      s"${prefix}_windows", buckets)
    savePostingsIndex(Search.postings(snap, idCol, textCol),
      s"${prefix}_postings", buckets)
    saveCorpusStats(Search.corpusStats(snap, textCol),
      s"${prefix}_stats")
    rebuildTermBounds(corpus.sparkSession, prefix, buckets)
  }

  /** Day-0 symmetry for a MEDIA-CARRYING corpus: [[bootstrap]] plus
    * the per-modality hamming indexes, built from the corpus's OWN
    * code frames in the same pass — a pre-existing multimodal estate
    * no longer bootstraps its media half through first-batch appends
    * (or saveHammingIndex hand-glue): batch 1 probes real day-0
    * indexes on every face. Code frames use the batch conventions of
    * [[CorpusPipeline.MultimodalBatch]] — image/audio (idCol, code),
    * video (media_id, frame_no, code) — and each face's table lands
    * stamped at its (maxHamming, bits) operating point, the SAME
    * defaults [[runMultimodalBatch]] probes with, so the stamp gate
    * verifies day-0-to-batch parity instead of trusting it. Null
    * codes (undecodable media) carry no fingerprint evidence and are
    * excluded — the standing media admission policy. */
  def bootstrapMultimodal(corpus: DataFrame, idCol: String,
      textCol: String, prefix: String,
      imageCodes: Option[DataFrame] = None,
      audioCodes: Option[DataFrame] = None,
      videoFrames: Option[DataFrame] = None,
      buckets: Int = 64, shingleN: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, winLen: Int = 10,
      imageParams: (Int, Int) = (3, 56),
      audioParams: (Int, Int) = (6, 32),
      videoParams: (Int, Int) = (6, 56)): Unit = {
    import org.apache.spark.sql.functions.{col, struct}
    import graft.dedup.Dedup
    bootstrap(corpus, idCol, textCol, prefix, buckets, shingleN, bands,
      rowsPerBand, winLen)
    // an omitted modality on a REBUILD means this corpus carries no
    // such media — a leftover index from a previous build would keep
    // refusing batches as "corpus dups" against media no longer in
    // the corpus (silent wrong refusals), so it is dropped loudly.
    // To rebuild the text half while KEEPING live media indexes,
    // call [[bootstrap]] instead.
    Seq("image" -> imageCodes, "audio" -> audioCodes,
        "video" -> videoFrames).foreach { case (mod, codes) =>
      val t = s"${prefix}_$mod"
      if (codes.isEmpty && corpus.sparkSession.catalog.tableExists(t)) {
        corpus.sparkSession.sql(s"DROP TABLE `$t`")
        System.err.println("[admission-indexes] bootstrapMultimodal: " +
          s"dropped stale '$t' — the rebuild passed no $mod code " +
          "frames, so the old index described media this corpus no " +
          "longer carries")
      }
    }
    def buildFace(table: String, keyed: DataFrame,
        params: (Int, Int)): Unit = {
      val (mh, b) = params
      saveHammingIndex(
        Dedup.hammingBandRows(keyed.filter(col("code").isNotNull), mh, b),
        table, buckets, maxHamming = mh, bits = b)
    }
    imageCodes.foreach(c => buildFace(s"${prefix}_image",
      c.select(col(idCol).as("id"), col("code")), imageParams))
    audioCodes.foreach(c => buildFace(s"${prefix}_audio",
      c.select(col(idCol).as("id"), col("code")), audioParams))
    videoFrames.foreach(v => buildFace(s"${prefix}_video",
      v.select(struct(col("media_id"), col("frame_no")).as("id"),
        col("code")), videoParams))
  }

  /** Recompute `{prefix}_bounds` from the PERSISTED
    * `{prefix}_postings`/`{prefix}_stats` pair — the maintenance
    * cadence of the MaxScore bound table (one aggregate pass over the
    * postings): run after [[bootstrap]] (it calls this itself) and
    * after any postings append, because appends shift df/avg_len and
    * move every term's bound in either direction; the stamp makes
    * [[graft.text.Search.bm25BatchMaxScore]] REFUSE a stale table
    * rather than mis-prune, so a missed rebuild is loud, not wrong. */
  def rebuildTermBounds(spark: SparkSession, prefix: String,
      buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): Unit = {
    requirePlainName(prefix)
    saveTermBounds(
      graft.text.Search.termBounds(load(spark, s"${prefix}_postings"),
        loadCorpusStats(spark, s"${prefix}_stats"), k1, b),
      s"${prefix}_bounds", buckets)
  }

  /** One face of a batch append: the delta frame plus everything the
    * append needs to land it (kind "stats" lands unbucketed, as
    * [[saveCorpusStats]]' additive append writes it; everything else
    * bucketed on `keys`, as [[save]] does). */
  private final case class FacePlan(table: String, kind: String,
      df: DataFrame, keys: Seq[String], props: Map[String, String])

  /** The text-admission faces in their canonical append order —
    * shared by [[appendDeltas]] and the fused multimodal face so the
    * sequence cannot drift between them. */
  private def textFacePlans(adm: CorpusPipeline.Admission,
      prefix: String): Seq[FacePlan] =
    Seq(
      FacePlan(s"${prefix}_digests", "bucketed", adm.newDigests,
        digestKeys, Map.empty),
      FacePlan(s"${prefix}_bands", "bucketed", adm.newBands, bandKeys,
        adm.bandParams.map { case (sh, b, r) => bandProps(sh, b, r) }
          .getOrElse(Map.empty))) ++
      adm.newWindows.map(w => FacePlan(s"${prefix}_windows", "bucketed",
        w, windowKeys, Map.empty)) ++
      adm.newPostings.map(p => FacePlan(s"${prefix}_postings", "bucketed",
        p, postingsKeys, Map.empty)) ++
      adm.newStats.map(s => FacePlan(s"${prefix}_stats", "stats",
        s, Nil, Map.empty)) ++
      adm.newCodes.map(c => FacePlan(s"${prefix}_codes", "bucketed",
        c, codeKeys, Map.empty))

  /** A hamming-index face, stamped at its admission's (maxHamming,
    * bits) — image/audio deltas keyed by id, video deltas by struct
    * (media_id, frame_no), all in the same bucketed table shape. */
  private def hammingFace(table: String,
      m: CorpusPipeline.MediaAdmission): FacePlan =
    FacePlan(table, "bucketed", m.newHamming, hammingKeys,
      m.hammingParams.map((hammingProps _).tupled).getOrElse(Map.empty))

  /** The shared post-append maintenance tail: MaxScore bound rebuild
    * (or the stale-by-stamp notice) and the postings fragmentation
    * signal when `{prefix}_postings` was touched, and the opt-in
    * auto-compaction sweep over every touched table. Idempotent — a
    * recovery replay after a crash inside the tail re-runs it
    * harmlessly (rebuild overwrites; compaction re-checks its
    * threshold). */
  private def appendTail(spark: SparkSession, prefix: String,
      touched: Seq[(String, Seq[String])], buckets: Int,
      rebuildBounds: Boolean, maxFilesPerBucket: Option[Int]): Unit = {
    if (touched.exists(_._1 == s"${prefix}_postings")) {
      if (rebuildBounds)
        rebuildTermBounds(spark, prefix, buckets)
      else if (spark.catalog.tableExists(s"${prefix}_bounds"))
        System.err.println(s"[admission-indexes] '${prefix}_bounds' is " +
          "now STALE (postings appended without rebuildBounds) — " +
          "bm25BatchMaxScore will refuse it until " +
          s"rebuildTermBounds(spark, \"$prefix\") runs")
      fragmentation(spark, s"${prefix}_postings").foreach(f =>
        System.err.println(s"[admission-indexes] ${prefix}_postings " +
          s"fragmentation: $f"))
    }
    maxFilesPerBucket.foreach { cap =>
      touched.filter(_._2.nonEmpty).foreach { case (t, keys) =>
        compactIfFragmented(spark, t, keys, buckets, cap) }
    }
  }

  /** The one way a batch's deltas reach the live index tables. On a
    * local warehouse: the entry gate ([[completePendingBatches]]),
    * then [[stageBatch]] under a manifest keyed by `prefix` and
    * labelled `batchId` (auto-UUID when None); the caller commits it
    * with [[applyStagedBatch]]. A non-local warehouse has no manifest
    * home, so there — and only there — the faces append directly,
    * table by table, with a loud notice: a crash between two of those
    * appends followed by a replay can lose the batch's index coverage
    * (the replay refuses every doc against the digests that DID land,
    * so the remaining faces' deltas come back empty). */
  private def stageFaces(spark: SparkSession, prefix: String,
      batchId: Option[String], faces: Seq[FacePlan], buckets: Int,
      rebuildBounds: Boolean, maxFilesPerBucket: Option[Int]): Unit =
    if (localWarehouse(spark).isDefined) {
      completePendingBatches(spark, prefix, faces.map(_.table))
      stageBatch(spark, prefix,
        batchId.getOrElse(java.util.UUID.randomUUID().toString), faces,
        buckets, rebuildBounds, maxFilesPerBucket)
    } else {
      System.err.println(s"[admission-indexes] '$prefix': non-local " +
        "warehouse — staging unavailable, appending the " +
        s"${faces.size}-table sequence DIRECTLY (a mid-sequence crash + " +
        "replay can lose index coverage; use a transactional table " +
        "format there)")
      // each delta's params are verified against the stored stamp
      // INSIDE save — a mismatched append refuses before writing a row
      faces.foreach(f =>
        if (f.kind == "stats") saveCorpusStats(f.df, f.table, append = true)
        else save(f.df, f.table, f.keys, buckets, append = true,
          props = f.props))
      appendTail(spark, prefix, faces.map(f => f.table -> f.keys), buckets,
        rebuildBounds, maxFilesPerBucket)
    }

  /** Append one admitted batch's index deltas under a [[bootstrap]]
    * prefix — the write half of the admission loop: bootstrap once,
    * then per batch `admitBatch(...)` -> `appendDeltas(...)` and the
    * next batch's probes cover this one. Only the deltas the
    * admission actually produced are written (windows/postings/stats
    * require the strip/postings options; codes the embedding
    * option — the code index appends to `{prefix}_codes`, which a
    * vector-carrying deployment creates via [[saveCodeIndex]]).
    *
    * CRASH CONSISTENCY: the up-to-six-table sequence is STAGED —
    * every delta is written once, bucketed, into a stage directory, a
    * batch manifest records the full append sequence, and only then
    * are the staged files moved into the live tables, each face
    * marked applied in the manifest as it lands. A crash at any point
    * is healed by [[applyStagedBatch]] (called automatically at the
    * next append, and by [[recoverAll]]), which finishes exactly the
    * missing moves FROM THE STAGE, never from a re-run admission. A
    * delta that fails the append checks (stamp, bucket spec, columns)
    * is refused before the manifest is written. `batchId` only labels
    * the manifest for audit (auto-UUID when None).
    *
    * Entry-gate timing: this call completes any pending batch BEFORE
    * this batch's deltas materialize. In the normal flow (admitBatch
    * builds lazy plans; this call is the first action to force them)
    * the admission's index probes therefore execute against the
    * COMPLETED estate even though the plans were built earlier. A
    * caller who FORCED the admission before calling here (e.g.
    * counted `adm.admitted`) pinned its probes against the
    * possibly-half-applied estate — run [[recoverAll]] at startup
    * (the documented sweep) so that state never reaches an
    * admission in the first place.
    *
    * A postings append invalidates the MaxScore `{prefix}_bounds`
    * table (df/avg_len shift, moving every term's bound either way):
    * `rebuildBounds = true` recomputes it here, in the same
    * maintenance step — the right choice on a per-batch or nightly
    * cadence. With the default `false` the bounds go STALE-BY-STAMP:
    * the pruned scorer refuses them loudly until
    * [[rebuildTermBounds]] runs (batch the rebuild across several
    * appends when postings churn is high), and the staleness is
    * logged here so the operator sees it at append time, not at the
    * first refused query. Every append also logs the postings
    * table's [[fragmentation]], the compaction-cadence signal.
    *
    * `maxFilesPerBucket` (opt-in) closes the maintenance loop: after
    * the appends land, every index table this call touched is
    * auto-compacted via [[compactIfFragmented]] when its
    * files-per-bucket crossed the cap — the crash-safe
    * write-then-swap [[compact]], triggered by the [[fragmentation]]
    * signal instead of a human reading the log line. Probe results
    * are identical across the trigger (compact's own contract); the
    * cost is one bucket-local rewrite per crossed table, amortized
    * over the ~cap appends that accumulated the files. `None` keeps
    * the r11 behavior: signal logged, cadence owned by the operator. */
  def appendDeltas(adm: CorpusPipeline.Admission, prefix: String,
      buckets: Int = 64, rebuildBounds: Boolean = false,
      maxFilesPerBucket: Option[Int] = None,
      batchId: Option[String] = None): Unit = {
    requirePlainName(prefix)
    val spark = adm.newDigests.sparkSession
    stageFaces(spark, prefix, batchId, textFacePlans(adm, prefix), buckets,
      rebuildBounds, maxFilesPerBucket)
    applyStagedBatch(spark, prefix)
  }

  /** Append one media batch's hamming-index delta — the write half
    * of the media admission loop ([[CorpusPipeline.admitMediaBatch]]
    * or [[CorpusPipeline.admitVideoBatch]] -> this), the fingerprint
    * twin of [[appendDeltas]]: the delta stages and commits as a
    * one-face batch whose manifest is keyed by `table`, its
    * (maxHamming, bits) verified against the stored stamp before the
    * manifest is written (a mismatched append refuses before a row
    * lands), and `maxFilesPerBucket` closes the same auto-compaction
    * loop. */
  def appendMediaDeltas(adm: CorpusPipeline.MediaAdmission,
      table: String, buckets: Int = 64,
      maxFilesPerBucket: Option[Int] = None): Unit = {
    requirePlainName(table)
    val spark = adm.newHamming.sparkSession
    stageFaces(spark, table, None, Seq(hammingFace(table, adm)), buckets,
      rebuildBounds = false, maxFilesPerBucket)
    applyStagedBatch(spark, table)
  }

  /** ONE CALL per staged multimodal batch — the persisted-estate face
    * of [[CorpusPipeline.admitMultimodalBatch]], gluing the whole
    * lifecycle the reference runs per batch (§3.3): load every index
    * the `prefix` estate has, run the fused media-first/text-last
    * admission, append every delta, return the verdicts.
    *
    * Index convention under `prefix` (the text half is
    * [[bootstrap]]'s): `{prefix}_digests` + `{prefix}_bands`
    * (required), `{prefix}_windows` / `{prefix}_postings` +
    * `{prefix}_stats` (optional — probed and maintained when
    * present), and per-modality hamming indexes `{prefix}_image` /
    * `{prefix}_audio` / `{prefix}_video` — each optional: a modality
    * whose code frame arrives with NO existing table probes an empty
    * index (nothing to collide with) and the append CREATES the
    * table stamped at this call's operating point, so the first
    * media-carrying batch bootstraps its own index and the second
    * batch dedupes against the first.
    *
    * A postings append leaves `{prefix}_bounds` stale-by-stamp unless
    * `rebuildBounds` — [[appendDeltas]]' contract, unchanged.
    *
    * CRASH CONSISTENCY: the up-to-NINE-table append sequence is
    * STAGED — every delta is written once, bucketed, into a stage
    * directory under one batch manifest before any file moves into a
    * live table, and each face is marked in the manifest as it lands.
    * A crash anywhere mid-sequence is healed by
    * [[applyStagedBatch]]/[[recoverAll]], or simply by the documented
    * replay: this call's entry gate completes a pending
    * partial batch FROM ITS STAGE before the new admission probes the
    * estate. Without staging, the replay itself was the bug — every
    * doc refused against the digests that DID land, so the remaining
    * faces' deltas gated on a now-empty admitted set and the
    * band/window/media indexes permanently lost the batch. `batchId`
    * labels the manifest for audit (auto-UUID when None). On a
    * non-local warehouse (no manifest home) the appends fall back to
    * the direct sequence with a loud stderr notice. */
  def runMultimodalBatch(
      corpus: DataFrame,
      batch: CorpusPipeline.MultimodalBatch,
      prefix: String,
      idCol: String,
      textCol: String,
      buckets: Int = 64,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.3,
      maxBucket: Option[Int] = Some(5000),
      imageParams: (Int, Int) = (3, 56),
      audioParams: (Int, Int) = (6, 32),
      videoParams: (Int, Int) = (6, 56),
      videoMinMatchedPairs: Long = 1L,
      skewGuard: Boolean = true,
      embedding: Option[CorpusPipeline.EmbeddingAdmission] = None,
      stripWinLen: Int = 10,
      rebuildBounds: Boolean = false,
      maxFilesPerBucket: Option[Int] = None,
      batchId: Option[String] = None)
      : CorpusPipeline.MultimodalAdmission = {
    val adm = runMultimodalStaged(corpus, batch, prefix, idCol, textCol,
      buckets, shingleN, bands, rowsPerBand, threshold, maxBucket,
      imageParams, audioParams, videoParams, videoMinMatchedPairs,
      skewGuard, embedding, stripWinLen, rebuildBounds,
      maxFilesPerBucket, batchId)
    applyStagedBatch(batch.docs.sparkSession, prefix)
    adm
  }

  /** The admission + staging half of [[runMultimodalBatch]], WITHOUT
    * the final apply — the state a mid-sequence crash leaves behind
    * begins here, which is why the drill needs it separable; a real
    * deployment can also use it to stage on one job and apply on
    * another. On a non-local warehouse this degrades to the direct
    * append sequence (loud notice) and the apply half is a no-op. */
  private[graft] def runMultimodalStaged(
      corpus: DataFrame,
      batch: CorpusPipeline.MultimodalBatch,
      prefix: String,
      idCol: String,
      textCol: String,
      buckets: Int = 64,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.3,
      maxBucket: Option[Int] = Some(5000),
      imageParams: (Int, Int) = (3, 56),
      audioParams: (Int, Int) = (6, 32),
      videoParams: (Int, Int) = (6, 56),
      videoMinMatchedPairs: Long = 1L,
      skewGuard: Boolean = true,
      embedding: Option[CorpusPipeline.EmbeddingAdmission] = None,
      stripWinLen: Int = 10,
      rebuildBounds: Boolean = false,
      maxFilesPerBucket: Option[Int] = None,
      batchId: Option[String] = None)
      : CorpusPipeline.MultimodalAdmission = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import graft.dedup.Dedup
    requirePlainName(prefix)
    val spark = batch.docs.sparkSession
    // a previous batch that crashed mid-append MUST be completed from
    // its stage before this admission probes the estate — probing a
    // half-applied estate is exactly the coverage-loss narrative the
    // staging exists to close
    completePendingBatches(spark, prefix,
      Seq("digests", "bands", "windows", "postings", "stats", "codes",
        "image", "audio", "video").map(f => s"${prefix}_$f"))
    val corpusDigests = load(spark, s"${prefix}_digests")
    val corpusBands = loadBandIndex(spark, s"${prefix}_bands",
      shingleN, bands, rowsPerBand)
    // per-modality face: the stored index when it exists (stamp
    // verified), else an EMPTY index at the face's operating point —
    // schema derived from the batch's own code frame so the probe
    // join types line up (the append then creates + stamps the table)
    def face(table: String, codes: DataFrame, keyed: DataFrame => DataFrame,
        params: (Int, Int)): CorpusPipeline.HammingFace = {
      val (mh, b) = params
      val idx =
        if (spark.catalog.tableExists(table))
          loadHammingIndex(spark, table, mh, b)
        else Dedup.hammingBandRows(keyed(codes).filter(lit(false)), mh, b)
      CorpusPipeline.HammingFace(idx, mh, b)
    }
    val imageFace = batch.imageCodes.map(c => face(s"${prefix}_image", c,
      _.select(col(idCol).as("id"), col("code")), imageParams))
    val audioFace = batch.audioCodes.map(c => face(s"${prefix}_audio", c,
      _.select(col(idCol).as("id"), col("code")), audioParams))
    val videoFace = batch.videoFrames.map(v => face(s"${prefix}_video", v,
      _.select(struct(col("media_id"), col("frame_no")).as("id"),
        col("code")), videoParams))
    val stripWindows =
      if (spark.catalog.tableExists(s"${prefix}_windows"))
        Some(load(spark, s"${prefix}_windows"))
      else None
    val withPostings = spark.catalog.tableExists(s"${prefix}_postings")

    val adm = CorpusPipeline.admitMultimodalBatch(
      corpus, corpusDigests, corpusBands, batch, idCol, textCol,
      imageFace, audioFace, videoFace, videoMinMatchedPairs,
      shingleN, bands, rowsPerBand, threshold, maxBucket, skewGuard,
      embedding, stripWindows, stripWinLen, withPostings)
    stageFaces(spark, prefix, batchId, facesOf(adm, prefix), buckets,
      rebuildBounds, maxFilesPerBucket)
    adm
  }

  /** Every face of a fused multimodal admission in canonical append
    * order — [[textFacePlans]] plus the per-modality hamming deltas
    * (each already GATED on the combined verdict by
    * [[CorpusPipeline.admitMultimodalBatch]]). */
  private def facesOf(adm: CorpusPipeline.MultimodalAdmission,
      prefix: String): Seq[FacePlan] =
    textFacePlans(adm.text, prefix) ++
      Seq("image" -> adm.image, "audio" -> adm.audio, "video" -> adm.video)
        .flatMap { case (mod, m) => m.map(hammingFace(s"${prefix}_$mod", _)) }

  /** Stage every delta of a fused multimodal admission under ONE
    * batch manifest WITHOUT applying — [[runMultimodalBatch]] stages
    * the same way, then calls [[applyStagedBatch]]; separated so a
    * deployment can stage and apply in different jobs, and so the
    * crash drill can construct every mid-sequence state. */
  def stageMultimodalDeltas(adm: CorpusPipeline.MultimodalAdmission,
      prefix: String, batchId: String, buckets: Int = 64,
      rebuildBounds: Boolean = false,
      maxFilesPerBucket: Option[Int] = None): Unit = {
    requirePlainName(prefix)
    stageFaces(adm.admitted.sparkSession, prefix, Some(batchId),
      facesOf(adm, prefix), buckets, rebuildBounds, maxFilesPerBucket)
  }

  /** Trigger the crash-safe [[compact]] when (and only when) the
    * [[fragmentation]] signal crosses `maxFilesPerBucket` — the
    * threshold face of the README operations recipe ("compact when
    * maxFilesPerBucket exceeds ~16"). Returns true when a compaction
    * ran. Never a data scan on the no-op path: the check is catalog
    * metadata + a file listing. */
  def compactIfFragmented(spark: SparkSession, table: String,
      keys: Seq[String], buckets: Int = 64,
      maxFilesPerBucket: Int = 16): Boolean =
    fragmentation(spark, table) match {
      case Some(f) if f.maxFilesPerBucket > maxFilesPerBucket =>
        System.err.println(s"[admission-indexes] '$table' crossed the " +
          s"fragmentation threshold ($f, cap=$maxFilesPerBucket) — " +
          "auto-compacting")
        compact(spark, table, keys, buckets)
        true
      case _ => false
    }

  /** Fragmentation report of a bucketed index table — the signal
    * that decides WHEN to [[compact]]: every append writes one file
    * per (task x bucket), so files-per-bucket grows with appends and
    * probe scans open that many files per probed bucket while the
    * sorted-within-bucket property degrades to sorted-within-file.
    * Catalog metadata + a file listing only — never a data scan.
    * None when the table doesn't exist or isn't a managed file-based
    * table this module wrote. Recipe (README operations section):
    * compact when `maxFilesPerBucket` exceeds ~16, or earlier when
    * `totalBytes / files` is far below the target file size. */
  final case class Fragmentation(files: Long, buckets: Int,
      maxFilesPerBucket: Long, totalBytes: Long) {
    override def toString: String =
      s"files=$files buckets=$buckets maxFilesPerBucket=" +
        s"$maxFilesPerBucket totalBytes=$totalBytes"
  }

  def fragmentation(spark: SparkSession, table: String)
      : Option[Fragmentation] = {
    requirePlainName(table)
    if (!spark.catalog.tableExists(table)) return None
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    // files-per-BUCKET is only meaningful for a bucketed index table;
    // a non-bucketed table (e.g. a corpus-stats sidecar) has no
    // bucket to fragment — None, per the contract above
    val nBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0)
    if (nBuckets == 0) return None
    val dir = new java.io.File(new java.net.URI(
      meta.location.toString).getPath)
    if (!dir.isDirectory) return None
    val parts = partFiles(dir)
    // bucketed file names carry the bucket id as the `_NNNNN` suffix
    // of the split name: part-00000-<uuid>_00003.c000.snappy.parquet;
    // files without the suffix (none in a healthy bucketed table) are
    // counted in `files` but never grouped into a phantom bucket
    val bucketOf = "_(\\d{5})\\.".r
    val perBucket = parts
      .flatMap(f => bucketOf.findFirstMatchIn(f.getName)
        .map(m => m.group(1) -> f))
      .groupBy(_._1)
    Some(Fragmentation(parts.length, nBuckets,
      if (perBucket.isEmpty) 0L else perBucket.values.map(_.length).max,
      parts.map(_.length()).sum))
  }

  /** The stale-location cleanup in [[prepareOverwrite]] resolves the
    * managed location by string concatenation, so only a plain
    * unqualified name in the default database is safe — a qualified
    * (db.tbl) or path-like name would compute the WRONG path
    * (silently breaking the rerunnable-overwrite contract at best,
    * deleting outside the warehouse at worst). Refuse anything else
    * up front. */
  private def requirePlainName(table: String): Unit =
    require(table.matches("[A-Za-z0-9_]+"),
      s"index table name must be a plain unqualified identifier " +
        s"([A-Za-z0-9_]+); got '$table'")

  /** An overwrite must be RERUNNABLE across JVMs: with an in-memory
    * catalog and a fixed warehouse dir, a fresh session sees an empty
    * catalog but the previous run's managed location still on disk,
    * and saveAsTable (now a CREATE) refuses the non-empty directory.
    * Drop the table if this session knows it, then clear any stale
    * location. The cleanup applies to LOCAL file: warehouses only
    * (the test/local-mode case); on a remote warehouse (hdfs:/s3a:)
    * an external catalog owns the location and the DROP alone
    * suffices. */
  private def prepareOverwrite(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val whUri = spark.conf.get("spark.sql.warehouse.dir")
    val isLocal = !whUri.contains(":") || whUri.startsWith("file:")
    if (isLocal) {
      val loc = new java.io.File(
        whUri.stripPrefix("file:"), table.toLowerCase)
      if (loc.exists()) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    }
  }

  private def save(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, append: Boolean,
      props: Map[String, String] = Map.empty): Unit = {
    requirePlainName(table)
    keys.foreach(k => require(df.columns.contains(k),
      s"index frame is missing probe-key column '$k' " +
        s"(has ${df.columns.mkString(", ")})"))
    val spark = df.sparkSession
    if (append && spark.catalog.tableExists(table))
      checkAppendStamp(spark, table, props)
    // an append that CREATES the table (no bootstrap ran) must stamp
    // and sidecar it like a fresh save would — otherwise the table is
    // permanently unstamped (mismatched probes merely warn) and
    // unrecoverable after a catalog loss (no sidecar ever written)
    val existed = append && spark.catalog.tableExists(table)
    if (!append) prepareOverwrite(spark, table)
    df.write
      .mode(if (append) "append" else "overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    if (!existed) {
      if (props.nonEmpty) setTableProps(spark, table, props)
      writeSpec(spark, table, keys, buckets, df.schema.toDDL, props)
    }
  }

  /** The stamp gate of an append onto an EXISTING table, shared by the
    * direct [[save]] and the staged [[stageBatch]]: refuse a delta
    * built under parameters the stored stamp contradicts, warn where
    * the stamp or the delta cannot be verified. */
  private def checkAppendStamp(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    val stamp = tableProps(spark, table)
    if (props.nonEmpty) {
      // an append computed under different parameters than the
      // stored index would key a DISJOINT hash space into the same
      // table — refuse before writing a single row
      val bad = props.filter { case (k, v) => stamp.get(k).exists(_ != v) }
      require(bad.isEmpty,
        s"append to '$table' parameter mismatch: delta was built with " +
          bad.map { case (k, v) => s"$k=$v" }.mkString(", ") +
          " but the index is stamped " +
          bad.keys.map(k => s"$k=${stamp(k)}").mkString(", ") +
          " — refusing the append (it would mix disjoint key spaces)")
      // a PARTIAL (or absent) stamp cannot verify the missing
      // dimensions — warn exactly as loadBandIndex does for the same
      // state, so append is not the weaker face of the same guard
      val unverifiable = props.keys.filterNot(stamp.contains).toSeq.sorted
      if (unverifiable.nonEmpty)
        System.err.println(s"[admission-indexes] append to '$table': " +
          s"the stored stamp is ${if (stamp.isEmpty) "ABSENT" else "PARTIAL"}" +
          s" — cannot verify ${unverifiable.mkString(", ")} against " +
          "the delta; re-save with all parameters to close the gap")
    } else if (stamp.nonEmpty)
      // the mirror hole: a parameter-LESS delta appended to a
      // STAMPED table skips verification entirely — say so, the
      // same way a stamp-less table warns a parameterized probe
      System.err.println(s"[admission-indexes] append to '$table': " +
        "the delta carries no parameters but the table is stamped (" +
        stamp.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        ") — cannot verify the delta was built with them; pass the " +
        "parameters on the append to close the gap")
  }

  /** The `graft.*` parameter stamp of a table — TBLPROPERTIES set at
    * save time (empty when the table doesn't exist or carries none). */
  def tableProps(spark: SparkSession, table: String): Map[String, String] = {
    requirePlainName(table)
    if (!spark.catalog.tableExists(table)) Map.empty
    else spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.filter(_._1.startsWith("graft."))
  }

  private def setTableProps(spark: SparkSession, table: String,
      props: Map[String, String]): Unit =
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")

  // ---------------------------------------------------------------
  // Staged batch appends: crash-consistent multi-table sequences
  // ---------------------------------------------------------------

  /** One face of a staged batch manifest. The delta was written ONCE,
    * already bucketed and sorted under the live table's spec, into
    * `stage` (a directory inside the warehouse, so moving a file into
    * the live table is a same-filesystem rename); `files` names its
    * part files. A bucketed part name carries its bucket id
    * (`part-…_NNNNN.c000…parquet`), which Spark's BucketingUtils reads
    * back, so a moved file joins its bucket with no rewrite.
    * `deltaCount` is the rows those files hold, summed from their
    * parquet footers at staging (no Spark job).
    *
    * The crash guard is FILE PRESENCE: a face has landed when every
    * listed file is in the live table directory, and a face a crash
    * interrupted mid-move finishes its remaining moves — neither case
    * ever re-appends. Part names are unique per write (each carries
    * its write job's UUID), so a listed name found in the live
    * directory can only be this face's own file; a listed file in
    * neither place is refused loudly (the face cannot complete).
    *
    * `keys`/`props`/`schemaDdl`, with the manifest's `buckets` (0 for
    * the unbucketed stats kind), are the live table's spec: a
    * TABLE-CREATING face registers its table from them through the
    * spec-sidecar path before its first move, and they rebuild a
    * sidecar a crash left missing (files moved, no sidecar, catalog
    * lost). The guard assumes (a) a SINGLE writer per prefix (the
    * standing admission-estate contract) and (b) a warehouse whose
    * renames are atomic — an object store without them should use a
    * transactional table format instead. */
  private[graft] final case class StagedFace(table: String, kind: String,
      stage: String, files: Seq[String], keys: Seq[String],
      props: Map[String, String], schemaDdl: String, deltaCount: Long,
      applied: Boolean)

  /** The durable record of one in-flight batch append sequence:
    * written AFTER every delta is fully staged (its existence means
    * "staging complete, appends may run/resume"), updated atomically
    * (write-temp + ATOMIC_MOVE) as each face lands, deleted when the
    * whole sequence + maintenance tail finished. At most one per
    * prefix — the single-writer contract again. */
  private[graft] final case class BatchManifest(batchId: String,
      prefix: String, buckets: Int, rebuildBounds: Boolean,
      maxFilesPerBucket: Option[Int], faces: Seq[StagedFace])

  private def manifestFile(wh: java.io.File, prefix: String): java.io.File =
    new java.io.File(wh, s"_graft_batch_${prefix.toLowerCase}.json")

  private def stageDirFor(wh: java.io.File, table: String): java.io.File =
    new java.io.File(wh, s"_graft_stage_${table.toLowerCase}")

  /** The pending batch manifest under `prefix`, if any. */
  private[graft] def readBatchManifest(spark: SparkSession,
      prefix: String): Option[BatchManifest] =
    localWarehouse(spark).flatMap(wh =>
      readManifestFile(manifestFile(wh, prefix)))

  private[graft] def readManifestFile(f: java.io.File): Option[BatchManifest] = {
    if (!f.isFile) None
    else try {
      import scala.jdk.CollectionConverters._
      val n = jsonMapper.readTree(java.nio.file.Files.readString(f.toPath))
      def strings(a: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
        a.elements().asScala.map(_.asText()).toSeq
      Some(BatchManifest(
        n.get("batchId").asText(),
        n.get("prefix").asText(),
        n.get("buckets").asInt(),
        n.get("rebuildBounds").asBoolean(),
        Option(n.get("maxFilesPerBucket").asInt(-1)).filter(_ >= 0),
        n.get("faces").elements().asScala.map { fn =>
          require(fn.has("files"), s"face '${fn.get("table").asText()}' " +
            "lists no staged files (a manifest of the earlier row-count " +
            "protocol: complete it with the version that wrote it, or " +
            "remove it and re-run the batch)")
          StagedFace(
            fn.get("table").asText(), fn.get("kind").asText(),
            fn.get("stage").asText(), strings(fn.get("files")),
            strings(fn.get("keys")),
            fn.get("props").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap,
            fn.get("schemaDdl").asText(),
            fn.get("deltaCount").asLong(),
            fn.get("applied").asBoolean())
        }.toSeq))
    } catch { case e: Exception =>
      // an unreadable manifest is a LOUD failure, not a silent skip:
      // pretending it is absent would let the next staged batch
      // overwrite the stage dirs a partial batch still needs
      throw new IllegalStateException(
        s"unreadable batch manifest ${f.getPath}: ${e.getMessage} — " +
          "repair or remove it explicitly before appending", e)
    }
  }

  private def writeBatchManifest(wh: java.io.File,
      m: BatchManifest): Unit = {
    import scala.jdk.CollectionConverters._
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("batchId", m.batchId)
    root.put("prefix", m.prefix)
    root.put("buckets", Integer.valueOf(m.buckets))
    root.put("rebuildBounds", java.lang.Boolean.valueOf(m.rebuildBounds))
    root.put("maxFilesPerBucket",
      Integer.valueOf(m.maxFilesPerBucket.getOrElse(-1)))
    root.put("faces", m.faces.map { f =>
      val fm = new java.util.LinkedHashMap[String, Object]()
      fm.put("table", f.table)
      fm.put("kind", f.kind)
      fm.put("stage", f.stage)
      fm.put("files", f.files.asJava)
      fm.put("keys", f.keys.asJava)
      fm.put("props", f.props.asJava)
      fm.put("schemaDdl", f.schemaDdl)
      fm.put("deltaCount", java.lang.Long.valueOf(f.deltaCount))
      fm.put("applied", java.lang.Boolean.valueOf(f.applied))
      fm
    }.asJava)
    val target = manifestFile(wh, m.prefix)
    val tmp = new java.io.File(wh, target.getName + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath,
      jsonMapper.writeValueAsString(root))
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage every face of one batch, then commit the manifest. Every
    * check an append can fail — the parameter stamp, the bucket spec,
    * the columns — runs FIRST, before any stage write: a refused
    * batch leaves no manifest, and the live tables are untouched.
    * Each delta is then written exactly once, bucketed and sorted
    * under its live table's spec, through a transient EXTERNAL table
    * `_graft_stage_<table>` located at the stage directory (dropped
    * right after the write; dropping an external table keeps its
    * files). A crash anywhere in here leaves no manifest, so nothing
    * is half-applied — the stage dirs are garbage the next staging
    * overwrites. Requires a pending-manifest-free prefix (callers
    * complete or refuse first). */
  private def stageBatch(spark: SparkSession, prefix: String,
      batchId: String, faces: Seq[FacePlan], buckets: Int,
      rebuildBounds: Boolean, maxFilesPerBucket: Option[Int]): Unit = {
    val wh = localWarehouse(spark).getOrElse(sys.error(
      "stageBatch requires a local warehouse (checked by callers)"))
    require(readBatchManifest(spark, prefix).isEmpty,
      s"a staged batch is still pending under '$prefix' — " +
        "applyStagedBatch/recoverAll must complete it before a new " +
        "batch stages (single-writer contract)")
    val deltas = faces.map(f => f -> checkedDelta(spark, f, buckets))
    val staged = deltas.map { case (f, df) =>
      val dir = stageDirFor(wh, f.table)
      if (dir.exists()) deleteRecursively(dir)
      // overwrite: replaces a stage table a crash left registered
      val w = df.write.mode("overwrite").option("path", dir.getAbsolutePath)
      (if (f.kind == "stats") w
       else w.bucketBy(buckets, f.keys.head, f.keys.tail: _*)
         .sortBy(f.keys.head, f.keys.tail: _*))
        .saveAsTable(dir.getName)
      // the catalog's schema of the write — the one a saveAsTable
      // would have given a table this face creates
      val schemaDdl = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(dir.getName))
        .schema.toDDL
      spark.sql(s"DROP TABLE `${dir.getName}`")
      val files = partFiles(dir)
      StagedFace(f.table, f.kind, dir.getAbsolutePath, files.map(_.getName),
        f.keys, f.props, schemaDdl, files.map(footerRows).sum,
        applied = false)
    }
    writeBatchManifest(wh, BatchManifest(batchId, prefix, buckets,
      rebuildBounds, maxFilesPerBucket, staged))
  }

  /** One face's delta, checked against its live table before the
    * batch commits — the refusals a direct append meets inside its
    * write (stamp, bucket spec, columns), moved ahead of the manifest
    * so a mismatched batch never leaves one behind — and projected
    * onto the live table's column order and types, so the staged
    * files are exactly what the live directory holds. A face whose
    * table does not exist yet passes through (it creates the
    * table). */
  private def checkedDelta(spark: SparkSession, f: FacePlan,
      buckets: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.functions.col
    if (f.kind == "stats") requireStatsColumns(f.df)
    else f.keys.foreach(k => require(f.df.columns.contains(k),
      s"index frame is missing probe-key column '$k' " +
        s"(has ${f.df.columns.mkString(", ")})"))
    if (!spark.catalog.tableExists(f.table)) f.df
    else {
      checkAppendStamp(spark, f.table, f.props)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(f.table))
      val spec =
        if (f.kind == "stats") None else Some(BucketSpec(buckets, f.keys, f.keys))
      require(meta.bucketSpec == spec,
        s"append to '${f.table}' bucket-spec mismatch: the table is " +
          s"${meta.bucketSpec.getOrElse("unbucketed")} but the delta " +
          s"would land ${spec.getOrElse("unbucketed")} — refusing the " +
          "batch before it commits")
      val delta = f.df.schema.fields.map(c => c.name.toLowerCase -> c).toMap
      val live = meta.schema.fields
      require(live.length == delta.size && live.forall(c =>
          delta.get(c.name.toLowerCase)
            .exists(d => Cast.canUpCast(d.dataType, c.dataType))),
        s"append to '${f.table}' column mismatch: the delta " +
          s"(${f.df.schema.toDDL}) does not fit the table " +
          s"(${meta.schema.toDDL}) — refusing the batch before it commits")
      f.df.select(live.toSeq.map { c =>
        val d = delta(c.name.toLowerCase)
        (if (d.dataType == c.dataType) col(d.name)
         else col(d.name).cast(c.dataType)).as(c.name)
      }: _*)
    }
  }

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(p => p.isFile && p.getName.startsWith("part-")).toSeq

  /** Rows in one parquet file, from its footer — a local file read
    * in the calling JVM, no Spark job. The read options are built
    * ONCE: building them per file (what the one-argument `open` does)
    * costs ~11 ms a file, against well under 1 ms for the footer read
    * itself. */
  private def footerRows(f: java.io.File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f.toPath), footerOptions)
    try r.getRecordCount finally r.close()
  }

  private lazy val footerOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** Complete (or finish completing) the pending staged batch under
    * `prefix`: commit every not-yet-applied face by MOVING its staged
    * part files into the live table directory, in manifest order,
    * marking each applied as it lands; when all faces are applied,
    * run the maintenance tail and delete the stage + manifest. The
    * data was written once, bucketed, at staging, so a commit is
    * renames, a manifest rewrite and a table refresh — no Spark job
    * (the tail's bounds rebuild and compaction run jobs only when the
    * batch asked for them). `maxFaces` bounds the faces this call
    * commits (None = all). Returns the completed batch id, None when
    * no batch was pending. Crash-safe at every point:
    *
    *  - unmarked face, no file moved yet -> move them all (the crash
    *    hit before its first move);
    *  - unmarked face, SOME files moved -> move the rest (the crash
    *    hit mid-face);
    *  - unmarked face, EVERY file moved -> mark it applied (the crash
    *    hit between its last move and the manifest mark);
    *  - crash inside the maintenance tail -> every face is marked,
    *    the tail re-runs idempotently on the next call.
    *
    * No face is ever re-appended, and recovery commits come from the
    * STAGE, never from a re-run admission — the verdict-r15 failure
    * narrative (replay refuses on the digests that landed, gating the
    * remaining deltas on a now-empty admitted set) structurally
    * cannot happen. */
  def applyStagedBatch(spark: SparkSession, prefix: String,
      maxFaces: Option[Int] = None): Option[String] = {
    requirePlainName(prefix)
    localWarehouse(spark).flatMap { wh =>
      readManifestFile(manifestFile(wh, prefix)).map { m0 =>
        val pending = m0.faces.indices.filterNot(m0.faces(_).applied)
        val m = pending.take(maxFaces.getOrElse(pending.size))
          .foldLeft(m0) { (m, i) =>
            val f = m.faces(i)
            commitFace(spark, wh, m, f)
            val next = m.copy(faces = m.faces.updated(i, f.copy(applied = true)))
            writeBatchManifest(wh, next)
            next
          }
        if (m.faces.forall(_.applied)) {
          appendTail(spark, prefix, m.faces.map(f => f.table -> f.keys),
            m.buckets, m.rebuildBounds, m.maxFilesPerBucket)
          m.faces.foreach(f => {
            val d = new java.io.File(f.stage)
            if (d.exists()) deleteRecursively(d)
          })
          java.nio.file.Files.deleteIfExists(manifestFile(wh, prefix).toPath)
        }
        m.batchId
      }
    }
  }

  /** Commit one staged face: make sure its live table exists, move
    * every listed file not yet in the live directory, refresh the
    * table so the next probe lists them. */
  private def commitFace(spark: SparkSession, wh: java.io.File,
      m: BatchManifest, f: StagedFace): Unit = {
    val dir = new java.io.File(wh, f.table.toLowerCase)
    recover(spark, f.table) // re-attach after a catalog loss
    if (!spark.catalog.tableExists(f.table)) {
      // a TABLE-CREATING face, or what a crash left of one: the spec
      // sidecar is written from the manifest BEFORE the table is
      // registered through it, so every later crash state is a
      // directory recover() can re-attach. Part files here with no
      // sidecar are this face's own moves, the crash having hit
      // before its mark and the catalog lost since — the files stay
      // and the face reads as landed below. A directory with neither
      // is uncommitted leftovers (e.g. a crashed CREATE's shell),
      // parked aside so the CREATE gets a clean location.
      if (readSpec(dir).isEmpty) {
        if (partFiles(dir).nonEmpty)
          System.err.println(s"[admission-indexes] batch " +
            s"'${m.batchId}': face '${f.table}' had moved files but no " +
            "spec sidecar (crash before the manifest mark, catalog lost " +
            "since) — sidecar reconstructed from the manifest")
        else if (dir.exists()) quarantine(wh, dir)
        dir.mkdirs()
        writeSpec(spark, f.table, f.keys,
          if (f.kind == "stats") 0 else m.buckets, f.schemaDdl, f.props)
      }
      registerFromSpec(spark, f.table)
      require(spark.catalog.tableExists(f.table),
        s"batch '${m.batchId}': could not register '${f.table}' from " +
          "its spec sidecar — see the notice above")
    }
    val missing = f.files.filterNot(n => new java.io.File(dir, n).isFile)
    if (f.files.nonEmpty && missing.isEmpty)
      System.err.println(s"[admission-indexes] batch '${m.batchId}': " +
        s"face '${f.table}' already landed (crash between its last move " +
        "and the manifest mark) — marking applied without re-appending")
    missing.foreach { n =>
      val src = new java.io.File(f.stage, n)
      require(src.isFile,
        s"batch '${m.batchId}': staged file $n of face '${f.table}' is " +
          s"in neither ${f.stage} nor ${dir.getPath} — the face cannot " +
          "complete; restore the file or rebuild the estate")
      java.nio.file.Files.move(src.toPath, new java.io.File(dir, n).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    spark.catalog.refreshTable(f.table)
  }

  /** Drill hook: rewrite the pending manifest (the spec constructs
    * the crash-between-last-move-and-mark state with it). */
  private[graft] def rewriteBatchManifest(spark: SparkSession,
      m: BatchManifest): Unit =
    localWarehouse(spark).foreach(writeBatchManifest(_, m))

  /** Every batch manifest file in the warehouse, in name order. */
  private def manifestFiles(wh: java.io.File): Seq[java.io.File] =
    Option(wh.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.startsWith("_graft_batch_") &&
        f.getName.endsWith(".json"))
      .sortBy(_.getName)

  /** Entry gate of every staged append: a pending manifest under
    * `prefix` means a previous batch crashed mid-sequence — complete
    * it FROM ITS STAGE before this batch's admission probes the
    * estate, so the indexes the probe reads are exactly the uncrashed
    * state. A pending manifest under another key that lists one of
    * `tables` is completed too: a multimodal batch under `p` and a
    * media append onto `p_image` stage that table through the same
    * stage dir, and staging clears the dir first — so no stage dir is
    * ever cleared while a manifest lists it. A manifest keyed `k`
    * lists only `k` (a one-table media batch) or `k_*` tables, so
    * only those keys are read; an unreadable one among them refuses
    * the append ([[readManifestFile]]). */
  private def completePendingBatches(spark: SparkSession, prefix: String,
      tables: Seq[String]): Unit =
    localWarehouse(spark).foreach { wh =>
      val names = (prefix +: tables).map(_.toLowerCase).toSet
      manifestFiles(wh)
        .filter { f =>
          val k = f.getName.stripPrefix("_graft_batch_").stripSuffix(".json")
          names.exists(n => n == k || n.startsWith(k + "_"))
        }
        .flatMap(readManifestFile)
        .filter(m => m.prefix.equalsIgnoreCase(prefix) ||
          m.faces.exists(f => names(f.table.toLowerCase)))
        .foreach { m =>
          System.err.println(s"[admission-indexes] '${m.prefix}' carries " +
            s"a partially-applied staged batch '${m.batchId}' " +
            s"(${m.faces.count(_.applied)}/${m.faces.size} faces applied) " +
            s"— completing it from the stage before '$prefix' stages")
          applyStagedBatch(spark, m.prefix)
        }
    }

  // ---------------------------------------------------------------
  // Spec sidecar: catalog-independent recovery metadata
  // ---------------------------------------------------------------

  /** Everything needed to RE-REGISTER a table whose catalog entry is
    * gone but whose data directory survived — which is exactly what a
    * JVM crash leaves behind on an in-memory catalog: a bucketed
    * table's bucket spec exists ONLY in the catalog and cannot be
    * reconstructed from the parquet directory, so without this
    * sidecar the data is complete on disk yet unprobeable (r11's
    * recover() printed a directed notice and stopped there). `save`
    * writes it as `_graft_spec.json` INSIDE the table directory
    * (underscore-prefixed = invisible to Spark's file listing, and it
    * travels with the directory through compact's swap renames);
    * [[recoverAll]] re-registers any unregistered directory that
    * carries one. Local (file:) warehouses only — a persistent
    * metastore IS the durable spec store on remote warehouses. */
  final case class TableSpec(keys: Seq[String], buckets: Int,
      schemaDdl: String, props: Map[String, String])

  private val specFileName = "_graft_spec.json"

  // stateless and thread-safe for plain read/write — construct once
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def localWarehouse(spark: SparkSession): Option[java.io.File] = {
    val whUri = spark.conf.get("spark.sql.warehouse.dir")
    val isLocal = !whUri.contains(":") || whUri.startsWith("file:")
    if (isLocal) Some(new java.io.File(whUri.stripPrefix("file:")))
    else None
  }

  private def writeSpec(spark: SparkSession, table: String,
      keys: Seq[String], buckets: Int, schemaDdl: String,
      props: Map[String, String]): Unit =
    localWarehouse(spark).foreach { wh =>
      val dir = new java.io.File(wh, table.toLowerCase)
      if (dir.isDirectory) {
        import scala.jdk.CollectionConverters._
        val m = new java.util.LinkedHashMap[String, Object]()
        m.put("keys", keys.asJava)
        m.put("buckets", Integer.valueOf(buckets))
        m.put("schema", schemaDdl)
        m.put("props", props.asJava)
        java.nio.file.Files.writeString(
          new java.io.File(dir, specFileName).toPath,
          jsonMapper.writeValueAsString(m))
      }
    }

  /** Read a directory's spec sidecar (None when absent/unreadable). */
  def readSpec(dir: java.io.File): Option[TableSpec] = {
    val f = new java.io.File(dir, specFileName)
    if (!f.isFile) None
    else try {
      import scala.jdk.CollectionConverters._
      val node = jsonMapper.readTree(
        java.nio.file.Files.readString(f.toPath))
      Some(TableSpec(
        node.get("keys").elements().asScala.map(_.asText()).toSeq,
        node.get("buckets").asInt(),
        node.get("schema").asText(),
        node.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap))
    } catch { case e: Exception =>
      System.err.println(s"[admission-indexes] unreadable spec " +
        s"sidecar ${f.getPath}: ${e.getMessage}")
      None
    }
  }

  /** Re-register one on-disk table directory from its spec sidecar —
    * the catalog-independent half of crash recovery. The CREATE must
    * land on the directory the data already occupies, and Spark
    * refuses to create a MANAGED table over a non-empty location, so
    * the registration is a move-aside dance: rename the data dir to
    * `{table}__registering`, CREATE the (empty) managed bucketed
    * table from the sidecar's schema + bucket spec + properties, then
    * move the data back in. Both renames are same-filesystem
    * directory moves (atomic, no data copy); a crash between them is
    * itself healed here (a `__registering` dir with no data dir is
    * moved back first). Returns true when a registration happened. */
  def registerFromSpec(spark: SparkSession, table: String): Boolean = {
    requirePlainName(table)
    localWarehouse(spark) match {
      case None => false
      case Some(wh) =>
        val dir = new java.io.File(wh, table.toLowerCase)
        val aside = new java.io.File(wh, s"${table.toLowerCase}__registering")
        // heal our own crash window first: data parked aside means a
        // previous registration died between its renames — whether or
        // not its CREATE finished (an empty shell + empty dir at
        // most). Drop the shell, clear any empty dir, move the data
        // back, and fall through to a clean re-attempt. BUT never
        // over newer data: if the live dir holds data files, the
        // index was rebuilt after the crash and the parked copy is
        // STALE — restoring it would destroy every post-rebuild row
        // (the same never-destroy-good-data-on-a-heuristic rule the
        // swap recovery enforces). Leave both in place and say so.
        // "live evidence" is ANY file in the live dir (not just
        // part-*/sidecar): the one state the heal may clear is the
        // crashed-CREATE shell, which is an EMPTY directory — a table
        // written by some tool outside this module could carry
        // differently-named data files, and assuming every writer
        // produced part-* files would let the heal destroy it. And
        // even the cleared shell is PARKED under a quarantine name,
        // never deleted — the heal holds no delete path at all.
        val dirFiles = Option(dir.listFiles()).getOrElse(Array.empty)
        val staleAside = aside.isDirectory && dirFiles.nonEmpty
        if (staleAside) {
          // the stale copy also blocks a fresh registration (the park
          // rename would land on it), so this call is a refusing no-op
          System.err.println(s"[admission-indexes] '$table': a stale " +
            s"'${aside.getName}' copy from an interrupted " +
            "registration coexists with a NON-EMPTY live directory — " +
            s"not restoring it over newer content; inspect and remove " +
            s"${aside.getPath} manually (re-registration is blocked " +
            "until then)")
        } else if (aside.isDirectory) {
          spark.sql(s"DROP TABLE IF EXISTS `$table`")
          if (dir.exists()) quarantine(wh, dir)
          require(aside.renameTo(dir),
            s"could not move ${aside.getPath} back to ${dir.getPath}")
        }
        if (staleAside || spark.catalog.tableExists(table) ||
          !dir.isDirectory) false
        else readSpec(dir) match {
          case None => false
          case Some(spec) =>
            require(dir.renameTo(aside),
              s"could not park ${dir.getPath} for re-registration")
            val bucketClause =
              if (spec.buckets > 0 && spec.keys.nonEmpty)
                s" CLUSTERED BY (${spec.keys.map(k => s"`$k`").mkString(", ")})" +
                  s" SORTED BY (${spec.keys.map(k => s"`$k`").mkString(", ")})" +
                  s" INTO ${spec.buckets} BUCKETS"
              else ""
            val propClause =
              if (spec.props.nonEmpty)
                " TBLPROPERTIES (" + spec.props.map { case (k, v) =>
                  s"'$k'='$v'" }.mkString(", ") + ")"
              else ""
            spark.sql(s"CREATE TABLE `$table` (${spec.schemaDdl}) " +
              s"USING PARQUET$bucketClause$propClause")
            if (dir.exists()) deleteRecursively(dir) // CREATE's empty dir
            require(aside.renameTo(dir),
              s"could not move ${aside.getPath} back to ${dir.getPath}")
            System.err.println(s"[admission-indexes] registered " +
              s"'$table' from its spec sidecar (buckets=${spec.buckets}, " +
              s"keys=${spec.keys.mkString(",")})")
            true
        }
    }
  }

  /** Park a directory the heal path would otherwise clear under a
    * fresh `__quarantine_N` sibling name instead of deleting it — the
    * heal's only expected target is an empty crashed-CREATE shell,
    * but "expected" is a heuristic and quarantine makes a wrong guess
    * recoverable by a human instead of permanent. A rename, never a
    * copy or a delete. */
  private def quarantine(wh: java.io.File, dir: java.io.File): Unit = {
    val q = Iterator.from(0)
      .map(i => new java.io.File(wh, s"${dir.getName}__quarantine_$i"))
      .find(!_.exists()).get
    require(dir.renameTo(q),
      s"could not quarantine ${dir.getPath} to ${q.getPath}")
    System.err.println(s"[admission-indexes] parked ${dir.getPath} " +
      s"aside as ${q.getName} (heal expected an empty crashed-CREATE " +
      "shell; remove the quarantine dir once confirmed)")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(f.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
  }
}
