package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** The admission indexes' scale contract: persisted bucketed on
  * their probe keys, the per-batch probe join never shuffles the
  * corpus-side index — only the batch moves. */
class AdmissionIndexesSpec extends SparkSpec {
  import spark.implicits._

  private def docText(i: Int): String =
    (0 until 30).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")

  test("bucketed band index: the probe equi-join plans NO exchange on " +
      "the index side, results equal the unbucketed join, and an " +
      "appended delta is covered by the next probe") {
    val corpus = (0 until 300).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    val bands = Dedup.minhashBandRows(corpus, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2)
    // overwrite is rerunnable by contract: save() itself drops the
    // table and clears any stale managed location from a prior JVM
    AdmissionIndexes.saveBandIndex(bands, "band_index_bucketed",
      buckets = 8)

    val batch = (1000 until 1020).map(i => (i.toLong, docText(i % 290)))
      .toDF("doc_id", "text")
    val batchBands = Dedup.minhashBandRows(batch, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2)
      .select(col("id").as("bid"), col("band"), col("bh"))

    val index = AdmissionIndexes.load(spark, "band_index_bucketed")
    // force a shuffle-join plan (no broadcast) so the assertion tests
    // the BUCKETING claim, not the small-side broadcast that local
    // test sizes would otherwise pick: exactly ONE hash exchange may
    // appear, and it must be the batch side aligning to the index's
    // bucket partitioning — the corpus-sized index itself never
    // re-shuffles per batch
    val probe = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = index.join(batchBands, Seq("band", "bh"))
      val plan = p.queryExecution.executedPlan.toString
      // exactly ONE exchange on the probe key — the batch side
      // aligning to the index's bucket partitioning. (The batch's own
      // internal minhash aggregate exchanges on id; that one is not
      // on the probe key and not at issue.)
      val probeKeyExchanges = "Exchange hashpartitioning\\(band"
        .r.findAllIn(plan).size
      assert(probeKeyExchanges == 1,
        s"expected exactly the batch-side probe-key exchange, got " +
          s"$probeKeyExchanges:\n$plan")
      // and the index side reads bucketed, straight into the join
      assert(plan.contains("Bucketed: true"),
        s"index scan not bucketed:\n$plan")
      p
    }

    val expected = bands.join(batchBands, Seq("band", "bh"))
      .select("id", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = probe.select("id", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)

    // append a delta under the same spec: the next probe sees it
    val delta = Dedup.minhashBandRows(
      Seq((5000L, docText(3))).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
    AdmissionIndexes.saveBandIndex(delta, "band_index_bucketed",
      buckets = 8, append = true)
    val after = AdmissionIndexes.load(spark, "band_index_bucketed")
    assert(after.filter(col("id") === 5000L).count() > 0)
    assert(after.count() == bands.count() + delta.count())
    spark.sql("DROP TABLE IF EXISTS band_index_bucketed")
  }

  test("compact collapses append-accumulated files back to one per " +
      "bucket, preserves every row, keeps the bucketed probe plan, " +
      "and can resize the bucket count") {
    val base = (0 until 200).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    val digests = Dedup.contentDigests(base, "doc_id", "text")
    AdmissionIndexes.saveDigestIndex(digests, "digest_compact",
      buckets = 4)
    // three appended deltas: one new file per (append x bucket)
    (1 to 3).foreach { r =>
      val delta = Dedup.contentDigests(
        Seq((1000L + r, docText(300 + r))).toDF("doc_id", "text"),
        "doc_id", "text")
      AdmissionIndexes.saveDigestIndex(delta, "digest_compact",
        buckets = 4, append = true)
    }
    def dataFiles(): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      new java.io.File(wh, "digest_compact").listFiles()
        .count(f => f.getName.startsWith("part-"))
    }
    val before = AdmissionIndexes.load(spark, "digest_compact")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = dataFiles()
    assert(filesBefore > 4, s"appends should accumulate files, " +
      s"got $filesBefore")

    AdmissionIndexes.compact(spark, "digest_compact",
      AdmissionIndexes.digestKeys, buckets = 4)
    val filesAfter = dataFiles()
    assert(filesAfter <= 4 && filesAfter < filesBefore,
      s"expected <= 4 files after compaction, got $filesAfter")
    val after = AdmissionIndexes.load(spark, "digest_compact")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction must preserve every row")
    def bucketSpec(): String = spark.sql(
        "DESCRIBE EXTENDED digest_compact").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}")
      .filter(s => s.startsWith("Num Buckets") || s.startsWith("Bucket"))
      .mkString("; ")
    assert(bucketSpec().contains("Num Buckets=4"),
      s"compacted table lost its bucket spec: ${bucketSpec()}")

    // resize: re-bucket to 8 as the corpus outgrows the constant
    AdmissionIndexes.compact(spark, "digest_compact",
      AdmissionIndexes.digestKeys, buckets = 8)
    val resized = AdmissionIndexes.load(spark, "digest_compact")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(resized == before)
    assert(bucketSpec().contains("Num Buckets=8"),
      s"resize did not re-bucket: ${bucketSpec()}")
    spark.sql("DROP TABLE IF EXISTS digest_compact")
  }

  test("compact is crash-safe: a failed rewrite leaves the live table " +
      "fully intact (and sweeps its side table); a leftover side table " +
      "from a crashed run does not block the next compaction") {
    val base = (0 until 100).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(base, "doc_id", "text"), "digest_crash",
      buckets = 4)
    val before = AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // failure DURING the rewrite (bad probe key): the write-then-swap
    // order means the live table was never dropped — it still probes,
    // and no half-written side table lingers in the catalog
    intercept[Throwable] {
      AdmissionIndexes.compact(spark, "digest_crash", Seq("no_such_key"))
    }
    assert(AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "live table must survive a failed rewrite untouched")
    assert(!spark.catalog.tableExists("digest_crash__compacting"),
      "failed rewrite must not leave a catalog side table")

    // crash-BEFORE-swap leftover: a stale __compacting table (here a
    // stand-in with the wrong schema — exactly what a torn run leaves)
    // is swept, and the compaction completes against the live copy
    spark.sql("CREATE TABLE digest_crash__compacting (x INT) USING parquet")
    AdmissionIndexes.compact(spark, "digest_crash",
      AdmissionIndexes.digestKeys, buckets = 4)
    val after = AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction after sweep must preserve rows")
    assert(!spark.catalog.tableExists("digest_crash__compacting") &&
      !spark.catalog.tableExists("digest_crash__retired"),
      "swap must leave no side/retired tables behind")

    // the mid-swap dangling-name crash SELF-HEALS: live renamed away
    // (exactly the state after swap-rename 1 dies, with the verified
    // compacted copy still present as __compacting) — the next
    // compact recovers it forward and completes normally
    spark.sql("ALTER TABLE digest_crash RENAME TO digest_crash__compacting")
    assert(!spark.catalog.tableExists("digest_crash"))
    AdmissionIndexes.compact(spark, "digest_crash",
      AdmissionIndexes.digestKeys, buckets = 4)
    assert(AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "forward recovery + compact must preserve every row")
    assert(!spark.catalog.tableExists("digest_crash__compacting") &&
      !spark.catalog.tableExists("digest_crash__retired"))

    // ...and the rolled-BACK variant (only a __retired copy left —
    // an operator's partial manual recovery): standalone recover()
    // renames it live again
    spark.sql("ALTER TABLE digest_crash RENAME TO digest_crash__retired")
    val action = AdmissionIndexes.recover(spark, "digest_crash")
    assert(action.exists(_.contains("back")), s"got $action")
    assert(AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(AdmissionIndexes.recover(spark, "digest_crash").isEmpty,
      "recover must be a no-op when the live table exists")

    // the startup sweep finds and heals dangling copies catalog-wide
    spark.sql("ALTER TABLE digest_crash RENAME TO digest_crash__compacting")
    val healed = AdmissionIndexes.recoverAll(spark)
    assert(healed.exists(_.contains("digest_crash")), s"got $healed")
    assert(AdmissionIndexes.load(spark, "digest_crash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(AdmissionIndexes.recoverAll(spark)
        .forall(!_.contains("digest_crash")),
      "a healed table must sweep to nothing on the next pass")

    // with NO copy at all there is nothing to heal: refuse, never
    // silently recreate an empty index
    spark.sql("DROP TABLE digest_crash")
    val e = intercept[IllegalArgumentException] {
      AdmissionIndexes.compact(spark, "digest_crash",
        AdmissionIndexes.digestKeys, buckets = 4)
    }
    assert(e.getMessage.contains("no recoverable"), e.getMessage)
  }

  test("window index round-trips through the bucketed layout and an " +
      "appended batch delta feeds the next incremental strip") {
    val corpus = (0 until 50).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    val idx = Dedup.windowDigestSet(corpus, "doc_id", "text")
    AdmissionIndexes.saveWindowIndex(idx, "window_index_bucketed",
      buckets = 8)
    val loaded = AdmissionIndexes.load(spark, "window_index_bucketed")
    assert(loaded.count() == idx.count())

    // a batch repeating corpus text is fully cut when probed against
    // the RELOADED index; its fresh digests append and cover the next
    // batch's identical windows
    val freshDoc = (0 until 30).map(j => s"fresh$j").mkString(" ")
    val batch = Seq((1000L, docText(3)), (1001L, freshDoc))
      .toDF("doc_id", "text")
    val res = Dedup.incrementalStripPassages(loaded, batch,
      "doc_id", "text")
    val cleaned = res.cleaned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cleaned(1000L) == 3 && cleaned(1001L) == 0,
      s"expected doc 1000 fully cut, 1001 untouched: $cleaned")
    AdmissionIndexes.saveWindowIndex(res.newWindows,
      "window_index_bucketed", buckets = 8, append = true)
    val next = Dedup.incrementalStripPassages(
      AdmissionIndexes.load(spark, "window_index_bucketed"),
      Seq((2000L, freshDoc)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(next.cleaned.collect().head.getInt(2) == 3,
      "appended delta not visible to the next batch's probe")
    spark.sql("DROP TABLE IF EXISTS window_index_bucketed")
  }

  test("bootstrap -> admitBatch -> appendDeltas closes the admission " +
      "loop through NAMED tables: round 2 dedupes and strips against " +
      "round 1's appended deltas, stats fold additively") {
    def w10(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val a = w10("a"); val b = w10("b"); val p = w10("p")
    val f = w10("f"); val h = w10("h")
    val corpus = Seq((1L, s"$a $b"), (2L, s"${w10("c")} ${w10("d")}"))
      .toDF("doc_id", "text")
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "loop_idx",
      buckets = 4)

    def digests = AdmissionIndexes.load(spark, "loop_idx_digests")
    def bandsT = AdmissionIndexes.load(spark, "loop_idx_bands")
    def windows = AdmissionIndexes.load(spark, "loop_idx_windows")

    // round 1: an exact corpus dup and a fresh doc with passage p
    val batch1 = Seq((10L, s"$a $b"), (11L, s"$p $f"))
      .toDF("doc_id", "text")
    val adm1 = CorpusPipeline.admitBatch(corpus, digests, bandsT,
      batch1, "doc_id", "text", shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5,
      stripWindows = Some(windows), withPostings = true)
    assert(adm1.admitted.select("doc_id").as[Long].collect().toSeq
      == Seq(11L))
    AdmissionIndexes.appendDeltas(adm1, "loop_idx", buckets = 4)

    // round 2, all state from the TABLES: 20 repeats round-1-admitted
    // text (exact dup via the appended digest), 21 carries round-1's
    // p-passage (cut via the appended window digest)
    val corpus2 = corpus.union(adm1.admittedClean.get)
    val batch2 = Seq((20L, s"$p $f"), (21L, s"$p $h"))
      .toDF("doc_id", "text")
    val adm2 = CorpusPipeline.admitBatch(corpus2, digests, bandsT,
      batch2, "doc_id", "text", shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5,
      stripWindows = Some(windows), withPostings = true)
    val flags = adm2.annotated.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_corpus_exact_dup"))
      .toMap
    assert(flags(20L), "round-1 admission must be in the digest table")
    val clean2 = adm2.admittedClean.get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(clean2 == Map(21L -> h),
      s"round-1's passage must be cut via the window table, got $clean2")
    AdmissionIndexes.appendDeltas(adm2, "loop_idx", buckets = 4)

    // stats: bootstrap corpus (2 docs, 40 tokens) + round-1 delta
    // (doc 11, 20) + round-2 delta (doc 21 stripped to 10)
    val st = AdmissionIndexes.loadCorpusStats(spark, "loop_idx_stats")
      .collect()(0)
    assert(st.getLong(0) == 4L && st.getLong(1) == 70L,
      s"stats must fold additively, got (${st.getLong(0)}, ${st.getLong(1)})")
    Seq("digests", "bands", "windows", "postings", "stats", "bounds")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS loop_idx_$s"))
  }

  test("bootstrap builds the MaxScore bounds table: the pruned scorer " +
      "works COLD with no manual step; a postings append leaves the " +
      "bounds stale-by-stamp until the rebuild hook runs") {
    import graft.text.Search
    val corpus = (1 to 20).map(i =>
      (i.toLong, s"common doc$i word${i % 5} tail$i" +
        (if (i <= 3) " rare" else "")))
      .toDF("doc_id", "text")
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "ms_idx",
      buckets = 4)
    assert(spark.catalog.tableExists("ms_idx_bounds"),
      "bootstrap must write the bounds table alongside the other five")
    def post = AdmissionIndexes.load(spark, "ms_idx_postings")
    def stats = AdmissionIndexes.loadCorpusStats(spark, "ms_idx_stats")
    def bounds = AdmissionIndexes.load(spark, "ms_idx_bounds")
    val queries = Seq((1L, "rare"), (1L, "common"))
      .toDF("query_id", "term")

    // day-0: pruned scorer straight off the bootstrapped tables,
    // row-identical to the unpruned batch face
    val plain = Search.bm25Batch(post, stats, queries, "doc_id", k = 2)
      .collect().toList
    val cold = Search.bm25BatchMaxScore(post, stats, bounds, queries,
      "doc_id", k = 2).collect().toList
    assert(cold == plain && cold.nonEmpty)

    // append a batch WITHOUT the rebuild: stamp goes stale, scorer
    // refuses loudly instead of mis-pruning
    val batch = Seq((100L, "common fresh rare content here"))
      .toDF("doc_id", "text")
    val adm = CorpusPipeline.admitBatch(corpus,
      AdmissionIndexes.load(spark, "ms_idx_digests"),
      AdmissionIndexes.load(spark, "ms_idx_bands"),
      batch, "doc_id", "text", shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5, withPostings = true)
    AdmissionIndexes.appendDeltas(adm, "ms_idx", buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Search.bm25BatchMaxScore(post, stats, bounds, queries,
        "doc_id", k = 2).collect()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)

    // the rebuild hook restores the pruned scorer, row-identical to
    // the unpruned face over the grown index
    AdmissionIndexes.rebuildTermBounds(spark, "ms_idx", buckets = 4)
    val plain2 = Search.bm25Batch(post, stats, queries, "doc_id", k = 2)
      .collect().toList
    assert(Search.bm25BatchMaxScore(post, stats, bounds, queries,
      "doc_id", k = 2).collect().toList == plain2)

    // ...and appendDeltas(rebuildBounds = true) folds the rebuild
    // into the maintenance step itself
    val batch2 = Seq((200L, "wholly novel second batch text"))
      .toDF("doc_id", "text")
    val adm2 = CorpusPipeline.admitBatch(corpus,
      AdmissionIndexes.load(spark, "ms_idx_digests"),
      AdmissionIndexes.load(spark, "ms_idx_bands"),
      batch2, "doc_id", "text", shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5, withPostings = true)
    AdmissionIndexes.appendDeltas(adm2, "ms_idx", buckets = 4,
      rebuildBounds = true)
    val plain3 = Search.bm25Batch(post, stats, queries, "doc_id", k = 2)
      .collect().toList
    assert(Search.bm25BatchMaxScore(post, stats, bounds, queries,
      "doc_id", k = 2).collect().toList == plain3)
    Seq("digests", "bands", "windows", "postings", "stats", "bounds")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ms_idx_$s"))
  }

  test("fragmentation reports files-per-bucket growth from appends " +
      "and compaction resets it — the compaction-cadence signal, " +
      "no data scan") {
    val base = (0 until 50).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(base, "doc_id", "text"), "frag_idx",
      buckets = 4)
    val f0 = AdmissionIndexes.fragmentation(spark, "frag_idx").get
    assert(f0.buckets == 4 && f0.files >= 1 && f0.totalBytes > 0)
    (0 until 5).foreach { r =>
      val delta = Seq((1000L + r, s"delta text $r")).toDF("doc_id", "text")
      AdmissionIndexes.saveDigestIndex(
        Dedup.contentDigests(delta, "doc_id", "text"), "frag_idx",
        buckets = 4, append = true)
    }
    val f1 = AdmissionIndexes.fragmentation(spark, "frag_idx").get
    assert(f1.files > f0.files && f1.maxFilesPerBucket > f0.maxFilesPerBucket,
      s"appends must grow the file count: $f0 -> $f1")
    AdmissionIndexes.compact(spark, "frag_idx",
      AdmissionIndexes.digestKeys, buckets = 4)
    val f2 = AdmissionIndexes.fragmentation(spark, "frag_idx").get
    assert(f2.files <= 4 && f2.maxFilesPerBucket <= 1,
      s"compaction must restore one file per non-empty bucket: $f2")
    assert(AdmissionIndexes.fragmentation(spark, "no_such_table").isEmpty)
    spark.sql("DROP TABLE IF EXISTS frag_idx")
  }

  test("band-index parameter stamp: a mismatched probe is refused at " +
      "load, a mismatched delta is refused at append, the family " +
      "defaults agree end-to-end, and the stamp survives compaction") {
    val corpus = (0 until 100).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    // bootstrap stamps its (shingleN, bands, rowsPerBand) — defaults
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "stamp_idx",
      buckets = 4)
    assert(AdmissionIndexes.tableProps(spark, "stamp_idx_bands") ==
      Map("graft.shingleN" -> "3", "graft.bands" -> "8",
        "graft.rowsPerBand" -> "4"))
    // matching probe loads; mismatched width refused LOUDLY — the
    // silent failure mode was band keys hashed from different-width
    // signature slices: disjoint key spaces, every near-dup admitted
    assert(AdmissionIndexes.loadBandIndex(spark, "stamp_idx_bands",
      shingleN = 3, bands = 8, rowsPerBand = 4).count() > 0)
    val e = intercept[IllegalArgumentException] {
      AdmissionIndexes.loadBandIndex(spark, "stamp_idx_bands",
        shingleN = 3, bands = 8, rowsPerBand = 2)
    }
    assert(e.getMessage.contains("rowsPerBand") &&
      e.getMessage.contains("DISJOINT"), e.getMessage)
    // a delta computed under different params never reaches the table
    val rowsBefore = AdmissionIndexes.load(spark, "stamp_idx_bands").count()
    val delta = Dedup.minhashBandRows(
      Seq((500L, docText(3))).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
    val e2 = intercept[IllegalArgumentException] {
      AdmissionIndexes.saveBandIndex(delta, "stamp_idx_bands",
        buckets = 4, append = true, shingleN = 3, bands = 8,
        rowsPerBand = 2)
    }
    assert(e2.getMessage.contains("mismatch"), e2.getMessage)
    assert(AdmissionIndexes.load(spark, "stamp_idx_bands").count()
      == rowsBefore, "a refused append must write nothing")
    // the family DEFAULTS agree end-to-end: a default admitBatch's
    // delta appends onto a default bootstrap's index without touching
    // a single parameter (the r11 failure mode was defaults that
    // disagreed across faces)
    val adm = CorpusPipeline.admitBatch(corpus,
      AdmissionIndexes.load(spark, "stamp_idx_digests"),
      AdmissionIndexes.load(spark, "stamp_idx_bands"),
      Seq((900L, "wholly new text never seen before anywhere"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    AdmissionIndexes.appendDeltas(adm, "stamp_idx", buckets = 4)
    assert(AdmissionIndexes.load(spark, "stamp_idx_bands").count()
      > rowsBefore)
    // compaction rewrites the table — the stamp must ride the swap
    AdmissionIndexes.compact(spark, "stamp_idx_bands",
      AdmissionIndexes.bandKeys, buckets = 4)
    assert(AdmissionIndexes.tableProps(spark, "stamp_idx_bands")
      .get("graft.rowsPerBand").contains("4"),
      "the parameter stamp must survive compaction")
    Seq("digests", "bands", "windows", "postings", "stats", "bounds")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS stamp_idx_$s"))
  }

  test("spec sidecar: after a simulated JVM crash (data on disk, " +
      "catalog empty) recoverAll re-registers the table and the probe " +
      "plan still bucket-prunes") {
    val corpus = (0 until 200).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(corpus, "doc_id", "text"), "sidecar_idx",
      buckets = 4)
    val before = AdmissionIndexes.load(spark, "sidecar_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val probeDigest = before.head._2
    // simulate the crash: the catalog forgets the table while the
    // data directory (with its _graft_spec.json sidecar) survives.
    // Park the dir under a non-table name (the dot keeps the sweep
    // from seeing it), drop the catalog entry, put the dir back.
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, "sidecar_idx")
    val park = new java.io.File(wh, "sidecar_idx.parked")
    assert(new java.io.File(dir, "_graft_spec.json").isFile,
      "save must write the spec sidecar into the table directory")
    assert(dir.renameTo(park))
    spark.sql("DROP TABLE sidecar_idx")
    assert(park.renameTo(dir))
    assert(!spark.catalog.tableExists("sidecar_idx"))

    val healed = AdmissionIndexes.recoverAll(spark)
    assert(healed.exists(_.contains("sidecar_idx")), s"got $healed")
    assert(spark.catalog.tableExists("sidecar_idx"))
    val after = AdmissionIndexes.load(spark, "sidecar_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "re-registered table must hold every row")
    // the bucket spec was re-created from the sidecar: an equality
    // probe on the bucket key prunes to one bucket at planning time.
    // (autoBucketedScan pinned on — the planner elides bucketed scans
    // for bare filters; the claim under test is the restored SPEC.)
    val plan = withConf(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false") {
      AdmissionIndexes.load(spark, "sidecar_idx")
        .filter(col("digest") === probeDigest)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
      s"re-registered table lost bucket pruning:\n$plan")
    spark.sql("DROP TABLE IF EXISTS sidecar_idx")

    // the NON-bucketed companions (stats/centroids/codebooks) carry a
    // buckets=0 sidecar and recover the same way — a probe needs both
    // halves of an index, so recovery must too
    AdmissionIndexes.saveCorpusStats(
      Seq((10L, 200L)).toDF("n_docs", "sum_len"), "sidecar_stats")
    val sdir = new java.io.File(wh, "sidecar_stats")
    val statsPark = new java.io.File(wh, "sidecar_stats.parked")
    assert(sdir.renameTo(statsPark))
    spark.sql("DROP TABLE sidecar_stats")
    assert(statsPark.renameTo(sdir))
    AdmissionIndexes.recoverAll(spark)
    val st = AdmissionIndexes.loadCorpusStats(spark, "sidecar_stats")
      .collect()(0)
    assert(st.getLong(0) == 10L && st.getLong(1) == 200L)
    spark.sql("DROP TABLE IF EXISTS sidecar_stats")
  }

  test("recover re-verifies row counts before completing a swap " +
      "forward: an unverified side copy is dropped and the retired " +
      "copy restored; equal counts still complete forward") {
    def digestsOf(n: Int, off: Int = 0) = Dedup.contentDigests(
      (0 until n).map(i => ((i + off).toLong, docText(i + off)))
        .toDF("doc_id", "text"), "doc_id", "text")
    // the ADVICE scenario: live name gone, __retired holds the
    // verified pre-compaction copy (50 rows), __compacting an
    // UNVERIFIED side copy (3 rows — its CTAS committed but the
    // row-count verification never ran). Forward-on-sight would
    // destroy the only good data.
    AdmissionIndexes.saveDigestIndex(digestsOf(50), "rv_idx__retired",
      buckets = 4)
    AdmissionIndexes.saveDigestIndex(digestsOf(3, 1000),
      "rv_idx__compacting", buckets = 4)
    val action = AdmissionIndexes.recover(spark, "rv_idx")
    assert(action.exists(_.contains("FAILED row-count")), s"got $action")
    assert(AdmissionIndexes.load(spark, "rv_idx").count() == 50,
      "rollback must restore the verified retired copy")
    assert(!spark.catalog.tableExists("rv_idx__compacting") &&
      !spark.catalog.tableExists("rv_idx__retired"))
    spark.sql("DROP TABLE rv_idx")

    // equal counts (the real mid-swap crash state: both copies
    // verified) still complete FORWARD to the compacted copy
    AdmissionIndexes.saveDigestIndex(digestsOf(50), "rv_idx__retired",
      buckets = 4)
    AdmissionIndexes.saveDigestIndex(digestsOf(50), "rv_idx__compacting",
      buckets = 2)
    val fwd = AdmissionIndexes.recover(spark, "rv_idx")
    assert(fwd.exists(_.contains("forward")), s"got $fwd")
    assert(AdmissionIndexes.load(spark, "rv_idx").count() == 50)
    assert(!spark.catalog.tableExists("rv_idx__retired"))
    spark.sql("DROP TABLE rv_idx")
  }

  test("compactIfFragmented triggers the crash-safe compact only past " +
      "the threshold, and appendDeltas' opt-in cap auto-compacts with " +
      "identical probe results across the trigger") {
    val base = (0 until 50).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(base, "doc_id", "text"), "ac_idx",
      buckets = 2)
    (0 until 4).foreach { r =>
      AdmissionIndexes.saveDigestIndex(
        Dedup.contentDigests(
          Seq((1000L + r, s"delta text $r")).toDF("doc_id", "text"),
          "doc_id", "text"),
        "ac_idx", buckets = 2, append = true)
    }
    val frag = AdmissionIndexes.fragmentation(spark, "ac_idx").get
    assert(frag.maxFilesPerBucket > 2)
    val rows = AdmissionIndexes.load(spark, "ac_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // under the cap: no-op; over it: compacts, rows identical
    assert(!AdmissionIndexes.compactIfFragmented(spark, "ac_idx",
      AdmissionIndexes.digestKeys, buckets = 2,
      maxFilesPerBucket = 100))
    assert(AdmissionIndexes.compactIfFragmented(spark, "ac_idx",
      AdmissionIndexes.digestKeys, buckets = 2, maxFilesPerBucket = 2))
    assert(AdmissionIndexes.fragmentation(spark, "ac_idx")
      .get.maxFilesPerBucket <= 1)
    assert(AdmissionIndexes.load(spark, "ac_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == rows)
    // immediately after compaction the signal is back under the cap
    assert(!AdmissionIndexes.compactIfFragmented(spark, "ac_idx",
      AdmissionIndexes.digestKeys, buckets = 2, maxFilesPerBucket = 2))
    spark.sql("DROP TABLE ac_idx")

    // the appendDeltas face: a cap of 1 makes the second append cross
    // the threshold on the digest/band tables and auto-compact them
    val corpus = Seq((1L, docText(1)), (2L, docText(2)))
      .toDF("doc_id", "text")
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "ac2_idx",
      buckets = 2)
    (0 until 2).foreach { r =>
      val adm = CorpusPipeline.admitBatch(corpus,
        AdmissionIndexes.load(spark, "ac2_idx_digests"),
        AdmissionIndexes.load(spark, "ac2_idx_bands"),
        Seq((100L + r, s"fresh batch number $r with its own words $r"))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      AdmissionIndexes.appendDeltas(adm, "ac2_idx", buckets = 2,
        maxFilesPerBucket = Some(1))
    }
    val fragAfter =
      AdmissionIndexes.fragmentation(spark, "ac2_idx_digests").get
    assert(fragAfter.maxFilesPerBucket <= 2,
      s"auto-compact should have kept fragmentation bounded: $fragAfter")
    // every admitted doc's digest is probeable after the rewrites
    assert(AdmissionIndexes.load(spark, "ac2_idx_digests")
      .filter(col("id") >= 100L).count() == 2)
    Seq("digests", "bands", "windows", "postings", "stats", "bounds")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ac2_idx_$s"))
  }

  test("an append that CREATES the table stamps and sidecars it like " +
      "a fresh save; a stale __registering copy never overwrites live " +
      "data") {
    // append-before-bootstrap: the table must still come out stamped
    // (else every later mismatched probe merely warns) and carry the
    // recovery sidecar
    val delta = Dedup.minhashBandRows(
      Seq((1L, docText(1))).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 4)
    AdmissionIndexes.saveBandIndex(delta, "fresh_append_idx",
      buckets = 4, append = true, shingleN = 3, bands = 8,
      rowsPerBand = 4)
    assert(AdmissionIndexes.tableProps(spark, "fresh_append_idx")
      .get("graft.rowsPerBand").contains("4"),
      "append-created table must carry the stamp")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(new java.io.File(new java.io.File(wh, "fresh_append_idx"),
      "_graft_spec.json").isFile,
      "append-created table must carry the recovery sidecar")
    spark.sql("DROP TABLE fresh_append_idx")

    // a stale parked copy (interrupted registration) + a REBUILT live
    // table: the heal must refuse, not restore stale rows over new
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(
        (0 until 40).map(i => (i.toLong, docText(i))).toDF("doc_id", "text"),
        "doc_id", "text"),
      "heal_idx", buckets = 2)
    val live = AdmissionIndexes.load(spark, "heal_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val stale = new java.io.File(wh, "heal_idx__registering")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(stale, "marker").toPath, "stale")
    assert(!AdmissionIndexes.registerFromSpec(spark, "heal_idx"))
    assert(AdmissionIndexes.load(spark, "heal_idx")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == live,
      "live data must survive a stale parked copy untouched")
    assert(stale.isDirectory, "the stale copy is left for the operator")

    // the zero-row edge: a legitimately REBUILT empty table has no
    // part- files, but its fresh sidecar is live evidence — the heal
    // must still refuse (only the crashed-CREATE shell, which has
    // neither, may be replaced)
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text"),
      "heal_idx", buckets = 2)
    assert(!AdmissionIndexes.registerFromSpec(spark, "heal_idx"))
    assert(spark.catalog.tableExists("heal_idx") &&
      AdmissionIndexes.load(spark, "heal_idx").count() == 0,
      "a rebuilt zero-row table must survive the stale parked copy")
    java.nio.file.Files.delete(new java.io.File(stale, "marker").toPath)
    java.nio.file.Files.delete(stale.toPath)
    spark.sql("DROP TABLE heal_idx")
  }

  test("hamming fingerprint index: the probe plans NO exchange on the " +
      "index side, the (maxHamming, bits) stamp refuses mismatched " +
      "probes and appends, and admitMediaBatch -> appendMediaDeltas " +
      "closes the media admission loop") {
    // synthetic 56-bit codes with planted structure: batch code i
    // NEAR corpus code i (hamming 2) for i < 5, far otherwise
    def codeOf(i: Int): Long = (i.toLong * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    val corpusCodes = (0 until 200).map(i => (i.toLong, codeOf(i)))
      .toDF("id", "code")
    AdmissionIndexes.saveHammingIndex(
      Dedup.hammingBandRows(corpusCodes, maxHamming = 3, bits = 56),
      "phash_idx", buckets = 8, maxHamming = 3, bits = 56)

    // stamp: mismatched probe refuses loudly; matched probe loads
    val e = intercept[IllegalArgumentException] {
      AdmissionIndexes.loadHammingIndex(spark, "phash_idx",
        maxHamming = 5, bits = 56)
    }
    assert(e.getMessage.contains("maxHamming"))
    val index = AdmissionIndexes.loadHammingIndex(spark, "phash_idx",
      maxHamming = 3, bits = 56)

    // batch: ids 1000+i, first 5 within hamming 2 of corpus code i
    // (flip two LOW bits inside one segment), rest fresh randoms
    val batch = ((0 until 5).map(i => (1000L + i, codeOf(i) ^ 3L)) ++
      (5 until 25).map(i => (1000L + i, codeOf(i + 5000))))
      .toDF("id", "code")
    val batchSegs = Dedup.hammingBandRows(batch, maxHamming = 3, bits = 56)
      .select(col("id").as("bid"), col("code").as("bcode"),
        col("seg"), col("sb"))
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = index.join(batchSegs, Seq("seg", "sb"))
      val plan = p.queryExecution.executedPlan.toString
      val probeKeyExchanges = "Exchange hashpartitioning\\(seg"
        .r.findAllIn(plan).size
      assert(probeKeyExchanges == 1,
        s"expected exactly the batch-side probe-key exchange, got " +
          s"$probeKeyExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index scan not bucketed:\n$plan")
    }

    // the admission face: corpus-near rows drop, fresh rows admit,
    // and the probe result equals incrementalHammingPairs' verdicts
    val adm = CorpusPipeline.admitMediaBatch(index, batch,
      maxHamming = 3, maxBucket = Some(5000), bits = 56)
    val verdicts = adm.annotated
      .select(col("id"), col("is_corpus_phash_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0 until 5).foreach(i => assert(verdicts(1000L + i),
      s"batch row ${1000 + i} is hamming 2 of corpus code $i"))
    assert((5 until 25).forall(i => !verdicts(1000L + i)))
    assert(adm.admitted.count() == 20)

    // append the delta: the NEXT batch dedupes against this one
    AdmissionIndexes.appendMediaDeltas(adm, "phash_idx", buckets = 8)
    val batch2 = Seq((2000L, codeOf(5005) ^ 1L)) // hamming 1 of an
      .toDF("id", "code") // ADMITTED round-1 row (id 1005)
    val adm2 = CorpusPipeline.admitMediaBatch(
      AdmissionIndexes.loadHammingIndex(spark, "phash_idx", 3, 56),
      batch2, maxHamming = 3, bits = 56)
    assert(adm2.admitted.count() == 0,
      "round 2 must dedupe against round 1's appended delta")

    // a mismatched delta refuses at append (disjoint segment spaces)
    val badAdm = adm.copy(hammingParams = Some((5, 56)),
      newHamming = Dedup.hammingBandRows(batch, maxHamming = 5, bits = 56))
    val e2 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendMediaDeltas(badAdm, "phash_idx", buckets = 8)
    }
    assert(e2.getMessage.contains("mismatch"))
    spark.sql("DROP TABLE phash_idx")
  }

  test("audio codes ride the same media admission loop: REAL " +
      "WAV-derived 32-bit contour fingerprints index at a bits=32 " +
      "stamp, a volume-jittered re-encode of a corpus track is " +
      "rejected, and fresh tracks admit") {
    import graft.multimodal.Multimodal
    // distinct loudness shapes per track — different FREQUENCY, not
    // just phase (phase-only variants of one sinusoid can land inside
    // the hamming bound of each other); +3% gain = the near-dup
    def amps(track: Int): Array[Int] = Array.tabulate(33)(w =>
      (6000 + 5000 * math.sin(w / (2.0 + track * 0.5))).toInt)
    def wav(track: Int, gainPct: Int): Array[Byte] =
      Multimodal.wavOfSamples(Array.tabulate(33 * 40) { i =>
        val a = amps(track)(i / 40)
        val s = a + a * gainPct / 100
        if (i % 2 == 0) s else -s
      })
    def codesOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.audioFingerprint(
        rows.map { case (id, p) =>
          Multimodal.MediaRow(id, "audio", "wav", p) }.toDS())
        .select(col("media_id").as("id"), col("code"))
    val corpus = codesOf((0 until 8).map(t => (t.toLong, wav(t, 0))))
    AdmissionIndexes.saveHammingIndex(
      Dedup.hammingBandRows(corpus, maxHamming = 6, bits = 32),
      "audio_idx", buckets = 8, maxHamming = 6, bits = 32)
    val index = AdmissionIndexes.loadHammingIndex(spark, "audio_idx",
      maxHamming = 6, bits = 32)
    // batch: a re-encode of track 3 at +3% gain, plus a fresh track
    val batch = codesOf(Seq((100L, wav(3, 3)), (101L, wav(20, 0))))
    val adm = CorpusPipeline.admitMediaBatch(index, batch,
      maxHamming = 6, bits = 32)
    val verdicts = adm.annotated
      .select(col("id"), col("is_corpus_phash_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts(100L), "jittered re-encode must be rejected")
    assert(!verdicts(101L), "fresh track must admit")
    assert(adm.hammingParams.contains((6, 32)),
      "delta must carry the audio stamp, not the image default")
    spark.sql("DROP TABLE audio_idx")
  }

  test("video frame index: admitVideoBatch -> appendVideoDeltas closes " +
      "the video admission loop — a video sharing frames with an " +
      "indexed corpus video drops at VIDEO granularity, batch " +
      "near-dups keep min-id, and round 2 dedupes against round 1's " +
      "appended frame delta") {
    def codeOf(i: Int): Long = (i.toLong * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    // corpus: 50 videos x 4 frames, struct (media_id, frame_no) keys
    val corpusFrames = (0 until 50).flatMap(v => (0 until 4).map(f =>
        (v.toLong, f, codeOf(v * 4 + f))))
      .toDF("media_id", "frame_no", "code")
    AdmissionIndexes.saveHammingIndex(
      Dedup.hammingBandRows(
        corpusFrames.select(
          struct(col("media_id"), col("frame_no")).as("id"), col("code")),
        maxHamming = 3, bits = 56),
      "video_idx", buckets = 8, maxHamming = 3, bits = 56)
    val index = AdmissionIndexes.loadHammingIndex(spark, "video_idx",
      maxHamming = 3, bits = 56)
    // batch: video 1000 shares two near frames with corpus video 2
    // (frames 8, 9 of the flat corpus numbering); 1001 and 1002 share
    // one near frame pair with EACH OTHER only; 1003 is fresh
    val batch = Seq(
        (1000L, 0, codeOf(8) ^ 3L), (1000L, 1, codeOf(9) ^ 1L),
        (1001L, 0, codeOf(7001)), (1001L, 1, codeOf(7002)),
        (1002L, 0, codeOf(7001) ^ 3L), (1002L, 1, codeOf(7003)),
        (1003L, 0, codeOf(7004)))
      .toDF("media_id", "frame_no", "code")
    val adm = CorpusPipeline.admitVideoBatch(index, batch,
      maxHamming = 3, maxBucket = Some(5000), bits = 56, minMatchedPairs = 1L)
    val rows = adm.annotated.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)), r.getBoolean(4),
        Option(r.get(5)), Option(r.get(6))))).toMap
    // (frames_seen, matched_frames, min_hamming, is_corpus_dup,
    //  batch_matched_frames, is_batch_dup)
    assert(rows(1000L) == ((2L, 2L, Some(1), true, None, None)),
      s"video 1000: ${rows(1000L)}")
    assert(rows(1001L) == ((2L, 0L, None, false, Some(1L), Some(false))),
      s"video 1001 must keep (min-id): ${rows(1001L)}")
    assert(rows(1002L) == ((2L, 0L, None, false, Some(1L), Some(true))),
      s"video 1002 must flag as batch dup: ${rows(1002L)}")
    assert(rows(1003L) == ((1L, 0L, None, false, Some(0L), Some(false))),
      s"video 1003 must admit clean: ${rows(1003L)}")
    // admitted = videos 1001 + 1003's frame rows; delta = their bands
    assert(adm.admitted.select("media_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1001L, 1003L))
    assert(adm.admitted.count() == 3)
    assert(adm.newHamming.count() == 3 * 4,
      "3 admitted frames x (maxHamming+1) segments")
    assert(adm.hammingParams.contains((3, 56)))

    // append the delta: round 2 must dedupe against round 1's
    // admitted frames at video granularity
    AdmissionIndexes.appendMediaDeltas(adm, "video_idx", buckets = 8)
    val batch2 = Seq((3000L, 0, codeOf(7001) ^ 1L))
      .toDF("media_id", "frame_no", "code")
    val adm2 = CorpusPipeline.admitVideoBatch(
      AdmissionIndexes.loadHammingIndex(spark, "video_idx", 3, 56),
      batch2, maxHamming = 3, bits = 56)
    val r2 = adm2.annotated.collect()
    assert(r2.length == 1 && r2(0).getBoolean(4),
      s"round 2 must flag 3000 against round 1's appended delta: " +
        s"${r2.mkString(",")}")
    assert(adm2.admitted.count() == 0)

    // REPLAY of an already-indexed video (retry after a partial
    // failure): its own hamming-0 self-matches must REFUSE
    // re-admission — a same-video drop here would re-admit it and
    // append duplicate index rows on every replay
    val replay = Seq((1001L, 0, codeOf(7001)), (1001L, 1, codeOf(7002)))
      .toDF("media_id", "frame_no", "code")
    val admR = CorpusPipeline.admitVideoBatch(
      AdmissionIndexes.loadHammingIndex(spark, "video_idx", 3, 56),
      replay, maxHamming = 3, bits = 56)
    val rr = admR.annotated.collect()
    assert(rr.length == 1 && rr(0).getBoolean(4) &&
      rr(0).getLong(2) == 2L && rr(0).getInt(3) == 0,
      s"replayed video must read as a corpus dup via its own rows: " +
        s"${rr.mkString(",")}")
    assert(admR.admitted.count() == 0 && admR.newHamming.count() == 0,
      "a replay must append NOTHING")
    // ... and the refusal is INDEPENDENT of minMatchedPairs: with a
    // pairwise threshold larger than the video's own frame count the
    // pair verdict alone could never fire, but the hamming-0
    // self-match gate still must (otherwise a replayed short video
    // re-admits and appends duplicate index rows per retry)
    val admR2 = CorpusPipeline.admitVideoBatch(
      AdmissionIndexes.loadHammingIndex(spark, "video_idx", 3, 56),
      replay, maxHamming = 3, bits = 56, minMatchedPairs = 10L)
    val rr2 = admR2.annotated.collect()
    assert(rr2.length == 1 && rr2(0).getBoolean(4),
      s"replay must refuse even at minMatchedPairs > frame count: " +
        s"${rr2.mkString(",")}")
    assert(admR2.admitted.count() == 0 && admR2.newHamming.count() == 0,
      "a replay at a high pair threshold must still append NOTHING")

    // a mismatched delta refuses at append (disjoint segment spaces)
    val badAdm = adm.copy(hammingParams = Some((5, 56)))
    val e2 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendMediaDeltas(badAdm, "video_idx", buckets = 8)
    }
    assert(e2.getMessage.contains("mismatch"))
    spark.sql("DROP TABLE video_idx")
  }

  test("video frame index lifecycle parity: appended deltas fragment " +
      "the struct-keyed index, compactIfFragmented rewrites it with an " +
      "IDENTICAL re-probe, a mid-compact crash heals through " +
      "recoverAll, and a catalog-loss crash re-registers from the " +
      "sidecar with the stamp intact") {
    def codeOf(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def frames(v: Long) = (0 until 4).map(f => (v, f, codeOf(v * 4 + f)))
    def framesDf(v: Long) = frames(v).toDF("media_id", "frame_no", "code")
    def structed(df: org.apache.spark.sql.DataFrame) =
      df.select(struct(col("media_id"), col("frame_no")).as("id"),
        col("code"))
    AdmissionIndexes.saveHammingIndex(
      Dedup.hammingBandRows(
        structed((0L until 10L).flatMap(frames)
          .toDF("media_id", "frame_no", "code")),
        maxHamming = 3, bits = 56),
      "vlife_idx", buckets = 2, maxHamming = 3, bits = 56)

    // fragment it the way steady state does: one admission append per
    // arriving batch
    (1 to 5).foreach { k =>
      val adm = CorpusPipeline.admitVideoBatch(
        AdmissionIndexes.loadHammingIndex(spark, "vlife_idx", 3, 56),
        framesDf(100L + k), maxHamming = 3, bits = 56)
      assert(adm.admitted.count() == 4, s"batch $k is fresh")
      AdmissionIndexes.appendMediaDeltas(adm, "vlife_idx", buckets = 2)
    }
    val frag = AdmissionIndexes.fragmentation(spark, "vlife_idx").get
    assert(frag.maxFilesPerBucket > 2, s"appends must fragment: $frag")

    // the probe truth the lifecycle ops must preserve: a replay of an
    // appended video reads as a corpus dup on all 4 frames
    def probeVerdict() = CorpusPipeline.admitVideoBatch(
        AdmissionIndexes.loadHammingIndex(spark, "vlife_idx", 3, 56),
        framesDf(103L), maxHamming = 3, bits = 56)
      .annotated.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getBoolean(4))).toSeq
    val before = probeVerdict()
    assert(before == Seq((103L, 4L, 4L, true)), s"got $before")

    assert(AdmissionIndexes.compactIfFragmented(spark, "vlife_idx",
      AdmissionIndexes.hammingKeys, buckets = 2, maxFilesPerBucket = 2))
    assert(AdmissionIndexes.fragmentation(spark, "vlife_idx")
      .get.maxFilesPerBucket <= 2, "compaction must defragment")
    assert(probeVerdict() == before,
      "identical re-probe across compaction")

    // mid-compact crash (swap-rename 1 died): live renamed away, the
    // verified copy dangling as __compacting — recoverAll swaps it
    // forward
    spark.sql("ALTER TABLE vlife_idx RENAME TO vlife_idx__compacting")
    val healed = AdmissionIndexes.recoverAll(spark)
    assert(healed.exists(_.contains("vlife_idx")), s"got $healed")
    assert(probeVerdict() == before,
      "identical re-probe across the mid-compact heal")

    // catalog-loss crash: the data dir (with its sidecar) survives, the
    // catalog forgets — recoverAll re-registers, and the STAMP rides
    // the sidecar (loadHammingIndex verifies it inside probeVerdict)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, "vlife_idx")
    val park = new java.io.File(wh, "vlife_idx.parked")
    assert(dir.renameTo(park))
    spark.sql("DROP TABLE vlife_idx")
    assert(park.renameTo(dir))
    AdmissionIndexes.recoverAll(spark)
    assert(spark.catalog.tableExists("vlife_idx"))
    assert(probeVerdict() == before,
      "identical re-probe across the sidecar re-registration")
    spark.sql("DROP TABLE vlife_idx")
  }

  test("table-creating face crash window: a face whose append " +
      "committed its CREATE but died before the spec-sidecar write, " +
      "followed by a catalog loss, is re-attached from the manifest's " +
      "own keys/buckets/schema/props and NEVER re-appended") {
    def code56(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = (1L to 3L).map(i => (i, text(s"tcf$i")))
      .toDF("doc_id", "text").localCheckpoint()
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "tcf_mm",
      buckets = 2)
    val batch = CorpusPipeline.MultimodalBatch(
      docs = Seq((10L, text("tcfimg"))).toDF("doc_id", "text"),
      imageCodes = Some(Seq((10L, code56(77))).toDF("doc_id", "code")))
    AdmissionIndexes.runMultimodalStaged(corpus, batch, "tcf_mm",
      "doc_id", "text", buckets = 2, batchId = Some("tcf_b1"))
    val m0 = AdmissionIndexes.readBatchManifest(spark, "tcf_mm").get
    val imgIdx = m0.faces.indexWhere(_.table == "tcf_mm_image")
    assert(imgIdx >= 0 && m0.faces(imgIdx).deltaCount > 0)
    // complete for real — the image append commits its CREATE — then
    // reconstruct the exact crash state: committed data dir, NO
    // sidecar (the crash hit between commit and sidecar write), NO
    // catalog entry (in-memory catalog died with the JVM), manifest
    // pending with the image face unmarked
    AdmissionIndexes.applyStagedBatch(spark, "tcf_mm")
    val rows = spark.table("tcf_mm_image").count()
    assert(rows > 0)
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val dir = new java.io.File(wh, "tcf_mm_image")
    val park = new java.io.File(wh, "tcf_mm_image.parked")
    assert(dir.renameTo(park))
    spark.sql("DROP TABLE tcf_mm_image")
    assert(park.renameTo(dir))
    val spec = new java.io.File(dir, "_graft_spec.json")
    assert(spec.isFile && spec.delete(), "drill needs the sidecar gone")
    AdmissionIndexes.rewriteBatchManifest(spark, m0.copy(faces =
      m0.faces.zipWithIndex.map { case (f, i) =>
        f.copy(applied = i != imgIdx) }))
    // without the reconstruction this recovery would read the face as
    // not-landed (no catalog entry) and re-append the committed rows
    val actions = AdmissionIndexes.recoverAll(spark)
    assert(actions.exists(_.contains("tcf_b1")), s"got $actions")
    assert(spark.catalog.tableExists("tcf_mm_image"))
    assert(spark.table("tcf_mm_image").count() == rows,
      "the committed face must not be re-appended (duplicate rows)")
    assert(AdmissionIndexes.readBatchManifest(spark, "tcf_mm").isEmpty)
    assert(AdmissionIndexes.tableProps(spark, "tcf_mm_image").nonEmpty,
      "the hamming stamp must ride the reconstructed sidecar")
    (Seq("_digests", "_bands", "_windows", "_postings", "_stats",
      "_bounds", "_image")).foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS tcf_mm$s"))
  }

  test("recoverAll isolates an unreadable batch manifest: reported " +
      "as a skipped action, the sweep continues, the file survives " +
      "for repair") {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val bad = new java.io.File(wh, "_graft_batch_zzz.json")
    java.nio.file.Files.writeString(bad.toPath, "{torn json")
    try {
      val actions = AdmissionIndexes.recoverAll(spark)
      assert(actions.exists(a => a.contains("SKIPPED") &&
        a.contains("zzz")), s"got $actions")
      assert(bad.isFile, "the torn manifest must survive for repair")
    } finally { bad.delete(); () }
  }

  test("registerFromSpec heal QUARANTINES a non-part-file shell " +
      "instead of deleting it, and refuses any non-empty live dir") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // live dir with a NON-part data file (written by some other tool)
    // + a parked copy: the heal must refuse — assuming every writer
    // produces part- files would let it destroy foreign data
    val liveDir = new java.io.File(wh, "foreign_idx")
    liveDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(liveDir, "data.orc").toPath, "foreign bytes")
    val parked = new java.io.File(wh, "foreign_idx__registering")
    parked.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(parked, "marker").toPath, "stale")
    assert(!AdmissionIndexes.registerFromSpec(spark, "foreign_idx"))
    assert(new java.io.File(liveDir, "data.orc").isFile,
      "foreign data file must survive the heal untouched")
    assert(parked.isDirectory)
    // clean up both
    Seq(new java.io.File(liveDir, "data.orc"), liveDir,
      new java.io.File(parked, "marker"), parked)
      .foreach(f => java.nio.file.Files.delete(f.toPath))

    // the one state the heal may clear — an EMPTY crashed-CREATE
    // shell — is parked under a quarantine name, never deleted
    AdmissionIndexes.saveDigestIndex(
      Dedup.contentDigests(
        Seq((1L, docText(1))).toDF("doc_id", "text"), "doc_id", "text"),
      "qshell_idx", buckets = 2)
    val dataDir = new java.io.File(wh, "qshell_idx")
    val aside = new java.io.File(wh, "qshell_idx__registering")
    // simulate the crash window: data parked aside FIRST (a managed
    // DROP would delete the directory), then the catalog forgets the
    // table, and the live dir is an EMPTY shell (the crashed CREATE's
    // leftover)
    assert(dataDir.renameTo(aside))
    spark.sql("DROP TABLE qshell_idx")
    dataDir.mkdirs()
    assert(AdmissionIndexes.registerFromSpec(spark, "qshell_idx"),
      "heal must complete the interrupted registration")
    assert(AdmissionIndexes.load(spark, "qshell_idx").count() == 1)
    val quarantined = Option(new java.io.File(wh).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("qshell_idx__quarantine"))
    assert(quarantined.length == 1,
      "the cleared shell must be quarantined, not deleted")
    // the quarantined crashed-CREATE shell must be EMPTY (nothing was
    // lost by parking it) and must not disturb the healed table's read
    quarantined.foreach(q => assert(
      Option(q.listFiles()).getOrElse(Array.empty).isEmpty,
      s"quarantined shell ${q.getName} unexpectedly holds files"))
    assert(AdmissionIndexes.load(spark, "qshell_idx").count() == 1,
      "the healed table must read while the quarantine sibling exists")
    spark.sql("DROP TABLE qshell_idx")
    quarantined.foreach { q =>
      java.nio.file.Files.delete(q.toPath)
    }
  }

  test("digest and code indexes refuse a frame missing their probe key") {
    val e = intercept[IllegalArgumentException] {
      AdmissionIndexes.saveDigestIndex(
        Seq((1L, "x")).toDF("id", "not_digest"), "nope")
    }
    assert(e.getMessage.contains("digest"))
    val e2 = intercept[IllegalArgumentException] {
      AdmissionIndexes.saveCodeIndex(
        Seq((1L, 2L)).toDF("id", "code"), "nope")
    }
    assert(e2.getMessage.contains("tbl"))
  }

  test("kill-mid-sequence drill: a crash after the FIRST face of a " +
      "staged multimodal batch, followed by the documented replay, " +
      "ends with every index IDENTICAL to the uncrashed run; an " +
      "unmarked-but-landed face is detected by the count guard and " +
      "never re-appended; bootstrap refuses over a pending batch") {
    def code56(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def code32(i: Long): Long = (i * 0x9E3779B9L) & 0xFFFFFFFFL
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = (1L to 4L).map(i => (i, text(s"corp$i")))
      .toDF("doc_id", "text").localCheckpoint()
    Seq("ok_mm", "kl_mm").foreach(p =>
      AdmissionIndexes.bootstrap(corpus, "doc_id", "text", p, buckets = 2))
    def mkBatch() = CorpusPipeline.MultimodalBatch(
      docs = Seq((100L, text("corp1")), (101L, text("img")),
        (103L, text("aud")), (104L, text("vid"))).toDF("doc_id", "text"),
      imageCodes = Some(Seq((100L, code56(50)), (101L, code56(7)))
        .toDF("doc_id", "code")),
      audioCodes = Some(Seq((103L, code32(9))).toDF("doc_id", "code")),
      videoFrames = Some(Seq((104L, 0, code56(301)), (104L, 1, code56(302)))
        .toDF("media_id", "frame_no", "code")))

    // the UNCRASHED twin estate
    AdmissionIndexes.runMultimodalBatch(corpus, mkBatch(), "ok_mm",
      "doc_id", "text", buckets = 2)

    // the CRASHED estate: stage the full 8-face batch, apply exactly
    // ONE face (the digest append lands), then "die" — the r15
    // verdict's failure-narrative state: digests describe a batch the
    // band/window/postings/media indexes never saw
    AdmissionIndexes.runMultimodalStaged(corpus, mkBatch(), "kl_mm",
      "doc_id", "text", buckets = 2, batchId = Some("drill_b1"))
    AdmissionIndexes.applyStagedBatch(spark, "kl_mm", maxFaces = Some(1))
    val pending = AdmissionIndexes.readBatchManifest(spark, "kl_mm").get
    assert(pending.faces.head.table == "kl_mm_digests" &&
      pending.faces.head.applied && pending.faces.tail.forall(!_.applied),
      s"crash state must be digests-only: ${pending.faces.map(f =>
        f.table -> f.applied)}")
    assert(!spark.catalog.tableExists("kl_mm_image"),
      "no media face may have landed yet")

    // a rebuild over the pending batch is refused (its stale deltas
    // would land on the fresh tables at the next completion)
    val boot = intercept[IllegalArgumentException] {
      AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "kl_mm",
        buckets = 2)
    }
    assert(boot.getMessage.contains("staged batch"))

    // recovery move: the DOCUMENTED replay — entry completes the
    // partial batch from its stage, then the replayed admission
    // refuses wholesale (every doc now a corpus dup)
    val admR = AdmissionIndexes.runMultimodalBatch(corpus, mkBatch(),
      "kl_mm", "doc_id", "text", buckets = 2)
    assert(admR.admitted.count() == 0,
      "the replay must admit nothing once the batch is backfilled")
    assert(AdmissionIndexes.readBatchManifest(spark, "kl_mm").isEmpty,
      "the manifest must be consumed by the completion")
    // EVERY index identical to the uncrashed twin — the property the
    // pre-staging sequence could not give (its replay refused on the
    // landed digests and permanently emptied the remaining deltas)
    for (s <- Seq("_digests", "_bands", "_windows", "_postings",
        "_image", "_audio", "_video")) {
      val ok = spark.table(s"ok_mm$s").collect().map(_.toString).sorted.toSeq
      val kl = spark.table(s"kl_mm$s").collect().map(_.toString).sorted.toSeq
      assert(ok == kl, s"index $s diverged after crash + replay")
    }
    // stats fold additively (the replay appends a zero row) — compare
    // the folded value, the only thing probes read
    val okStats = AdmissionIndexes.loadCorpusStats(spark, "ok_mm_stats")
      .collect().head.toString
    val klStats = AdmissionIndexes.loadCorpusStats(spark, "kl_mm_stats")
      .collect().head.toString
    assert(okStats == klStats, s"stats diverged: $okStats vs $klStats")

    // second drill: crash BETWEEN a face's append commit and its
    // manifest mark — the count guard must mark it applied instead of
    // re-appending (duplicate index rows, doubled additive stats)
    val b2 = CorpusPipeline.MultimodalBatch(
      docs = Seq((300L, text("fresh300")), (301L, text("fresh301")))
        .toDF("doc_id", "text"))
    AdmissionIndexes.runMultimodalStaged(corpus, b2, "kl_mm",
      "doc_id", "text", buckets = 2, batchId = Some("drill_b2"))
    AdmissionIndexes.applyStagedBatch(spark, "kl_mm", maxFaces = Some(1))
    val m2 = AdmissionIndexes.readBatchManifest(spark, "kl_mm").get
    assert(m2.faces.head.deltaCount > 0, "the drill needs a real delta")
    val digestsAfter = spark.table("kl_mm_digests").count()
    AdmissionIndexes.rewriteBatchManifest(spark, m2.copy(faces =
      m2.faces.updated(0, m2.faces.head.copy(applied = false))))
    // recoverAll (the startup sweep) completes the batch
    val actions = AdmissionIndexes.recoverAll(spark)
    assert(actions.exists(_.contains("drill_b2")),
      s"recoverAll must report the completion: $actions")
    assert(spark.table("kl_mm_digests").count() == digestsAfter,
      "the landed-but-unmarked face must not be re-appended")
    assert(AdmissionIndexes.readBatchManifest(spark, "kl_mm").isEmpty)
    assert(spark.table("kl_mm_digests").filter(col("id").isin(300L, 301L))
      .count() == 2, "batch 2's digests landed exactly once")

    // third drill: crash DURING staging — stage dirs written, manifest
    // never committed. The manifest's existence IS the commit point:
    // with it absent the estate must read as if the batch never ran
    // (the orphan stage dirs are garbage the next staging overwrites),
    // and a re-run must land the batch exactly once.
    val preCounts = Seq("_digests", "_bands", "_windows", "_postings")
      .map(s => s -> spark.table(s"kl_mm$s").count()).toMap
    val b3 = CorpusPipeline.MultimodalBatch(
      docs = Seq((400L, text("fresh400"))).toDF("doc_id", "text"))
    AdmissionIndexes.runMultimodalStaged(corpus, b3, "kl_mm",
      "doc_id", "text", buckets = 2, batchId = Some("drill_b3"))
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val manifest = new java.io.File(wh, "_graft_batch_kl_mm.json")
    assert(manifest.isFile, "staging must have committed a manifest")
    assert(manifest.delete()) // = crash one instant before that commit
    assert(AdmissionIndexes.readBatchManifest(spark, "kl_mm").isEmpty)
    assert(AdmissionIndexes.applyStagedBatch(spark, "kl_mm").isEmpty,
      "no manifest -> nothing to complete, orphan stages ignored")
    preCounts.foreach { case (s, n) =>
      assert(spark.table(s"kl_mm$s").count() == n,
        s"a crash during staging must leave $s untouched") }
    // the re-run (the documented recovery for an unstarted batch)
    // overwrites the orphan stage dirs and lands the batch once
    AdmissionIndexes.runMultimodalBatch(corpus, b3, "kl_mm",
      "doc_id", "text", buckets = 2, batchId = Some("drill_b3_retry"))
    assert(spark.table("kl_mm_digests").filter(col("id") === 400L)
      .count() == 1, "the re-staged batch must land exactly once")
    assert(AdmissionIndexes.readBatchManifest(spark, "kl_mm").isEmpty)

    (Seq("_digests", "_bands", "_windows", "_postings", "_stats",
      "_bounds", "_image", "_audio", "_video"))
      .flatMap(s => Seq(s"ok_mm$s", s"kl_mm$s"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Spark jobs `body` starts under a job group of its own; the
    * listener bus is drained before the count is read. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("a staged append refuses BEFORE its commit point: a band-param, " +
      "bucket-spec or column mismatch leaves no manifest and every live " +
      "table's row count unchanged, and the next batch still lands") {
    val corpus = (0 until 60).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "rf_idx",
      buckets = 4)
    val tables = Seq("digests", "bands", "windows", "postings", "stats",
      "bounds").map(s => s"rf_idx_$s")
    val before = tables.map(t => t -> spark.table(t).count()).toMap
    def admit(rowsPerBand: Int) = CorpusPipeline.admitBatch(corpus,
      AdmissionIndexes.load(spark, "rf_idx_digests"),
      AdmissionIndexes.load(spark, "rf_idx_bands"),
      Seq((900L, "wholly new text never seen before anywhere"))
        .toDF("doc_id", "text"),
      "doc_id", "text", rowsPerBand = rowsPerBand)
    val e = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendDeltas(admit(2), "rf_idx", buckets = 4,
        batchId = Some("rf_bad_params"))
    }
    assert(e.getMessage.contains("mismatch") &&
      e.getMessage.contains("rowsPerBand"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendDeltas(admit(4), "rf_idx", buckets = 3,
        batchId = Some("rf_bad_buckets"))
    }
    assert(e2.getMessage.contains("bucket-spec"), e2.getMessage)
    val wide = admit(4)
    val e3 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendDeltas(
        wide.copy(newDigests = wide.newDigests.withColumn("extra", lit(1))),
        "rf_idx", buckets = 4, batchId = Some("rf_bad_columns"))
    }
    assert(e3.getMessage.contains("column mismatch"), e3.getMessage)
    // no batchId: the same staged refusal, not a direct append
    val e4 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendDeltas(
        wide.copy(newDigests = wide.newDigests.withColumn("extra", lit(1))),
        "rf_idx", buckets = 4)
    }
    assert(e4.getMessage.contains("column mismatch"), e4.getMessage)
    assert(AdmissionIndexes.readBatchManifest(spark, "rf_idx").isEmpty,
      "a refused batch must leave no manifest behind")
    tables.foreach(t => assert(spark.table(t).count() == before(t),
      s"a refused batch must leave $t untouched"))
    // the media append stages too: an 8-bucket table refuses a
    // 4-bucket delta before its manifest is written
    val codes = (0 until 20).map(i => (i.toLong, i * 7919L)).toDF("id", "code")
    AdmissionIndexes.saveHammingIndex(
      Dedup.hammingBandRows(codes, maxHamming = 3, bits = 56),
      "rf_media", buckets = 8, maxHamming = 3, bits = 56)
    val mediaRows = spark.table("rf_media").count()
    val media = CorpusPipeline.admitMediaBatch(
      AdmissionIndexes.loadHammingIndex(spark, "rf_media", 3, 56),
      Seq((900L, 0x5A5A5A5A5AL)).toDF("id", "code"))
    val e5 = intercept[IllegalArgumentException] {
      AdmissionIndexes.appendMediaDeltas(media, "rf_media", buckets = 4)
    }
    assert(e5.getMessage.contains("bucket-spec"), e5.getMessage)
    assert(AdmissionIndexes.readBatchManifest(spark, "rf_media").isEmpty,
      "a refused media batch must leave no manifest behind")
    assert(spark.table("rf_media").count() == mediaRows)
    spark.sql("DROP TABLE rf_media")
    // nothing blocks the estate afterwards
    AdmissionIndexes.appendDeltas(admit(4), "rf_idx", buckets = 4,
      batchId = Some("rf_ok"))
    assert(AdmissionIndexes.readBatchManifest(spark, "rf_idx").isEmpty)
    assert(spark.table("rf_idx_digests").count() ==
      before("rf_idx_digests") + 1)
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the staged commit moves files: stageBatch runs one write job " +
      "per face and no count or read job, applyStagedBatch runs no " +
      "Spark job, and each face's footer deltaCount is its delta's " +
      "row count") {
    val corpus = (0 until 60).map(i => (i.toLong, docText(i)))
      .toDF("doc_id", "text")
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "jc_idx",
      buckets = 4)
    val adm0 = CorpusPipeline.admitBatch(corpus,
      AdmissionIndexes.load(spark, "jc_idx_digests"),
      AdmissionIndexes.load(spark, "jc_idx_bands"),
      Seq((900L, "wholly new text never seen before anywhere"),
        (901L, "another fresh document with its own words"))
        .toDF("doc_id", "text"),
      "doc_id", "text",
      stripWindows = Some(AdmissionIndexes.load(spark, "jc_idx_windows")),
      withPostings = true)
    // every delta pinned first: each stage write is then exactly one
    // job over materialized blocks, whatever the admission's lineage
    val adm = adm0.copy(newDigests = adm0.newDigests.localCheckpoint(),
      newBands = adm0.newBands.localCheckpoint(),
      newWindows = adm0.newWindows.map(_.localCheckpoint()),
      newPostings = adm0.newPostings.map(_.localCheckpoint()),
      newStats = adm0.newStats.map(_.localCheckpoint()))
    val rows = (Seq(adm.newDigests, adm.newBands) ++ adm.newWindows ++
      adm.newPostings ++ adm.newStats).map(_.count())
    val mm = CorpusPipeline.MultimodalAdmission(adm, None, None, None,
      adm.admitted, Nil)
    val stageJobs = jobsOf(AdmissionIndexes.stageMultimodalDeltas(mm,
      "jc_idx", "jc_b1", buckets = 4))
    val m = AdmissionIndexes.readBatchManifest(spark, "jc_idx").get
    assert(m.faces.size == 5, m.faces.map(_.table))
    assert(stageJobs == m.faces.size,
      s"staging ran $stageJobs jobs for ${m.faces.size} faces")
    assert(m.faces.map(_.deltaCount) == rows,
      s"footer counts ${m.faces.map(_.deltaCount)} vs deltas $rows")
    val before = m.faces.map(f => spark.table(f.table).count())
    val applyJobs = jobsOf(assert(
      AdmissionIndexes.applyStagedBatch(spark, "jc_idx").contains("jc_b1")))
    assert(applyJobs == 0, s"the commit ran $applyJobs Spark jobs")
    m.faces.zip(before).foreach { case (f, n) =>
      assert(spark.table(f.table).count() == n + f.deltaCount,
        s"${f.table} must grow by exactly its staged delta") }
    assert(AdmissionIndexes.readBatchManifest(spark, "jc_idx").isEmpty)
    // a direct (unstaged) append over a twin estate, one face at a
    // time through the public save primitives, lands exactly the rows
    // the staged commit landed, table by table
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "jc_direct",
      buckets = 4)
    val (sh, b, r) = adm.bandParams.get
    AdmissionIndexes.saveDigestIndex(adm.newDigests, "jc_direct_digests",
      buckets = 4, append = true)
    AdmissionIndexes.saveBandIndex(adm.newBands, "jc_direct_bands",
      buckets = 4, append = true, shingleN = sh, bands = b, rowsPerBand = r)
    adm.newWindows.foreach(AdmissionIndexes.saveWindowIndex(_,
      "jc_direct_windows", buckets = 4, append = true))
    adm.newPostings.foreach(AdmissionIndexes.savePostingsIndex(_,
      "jc_direct_postings", buckets = 4, append = true))
    adm.newStats.foreach(AdmissionIndexes.saveCorpusStats(_,
      "jc_direct_stats", append = true))
    def rowsOf(t: String) =
      spark.table(t).collect().map(_.toString).sorted.toSeq
    m.faces.foreach { f =>
      assert(rowsOf(f.table.replace("jc_idx", "jc_direct")) ==
        rowsOf(f.table), s"${f.table}: staged and direct rows differ") }
    Seq("digests", "bands", "windows", "postings", "stats", "bounds")
      .foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS jc_idx_$s")
        spark.sql(s"DROP TABLE IF EXISTS jc_direct_$s")
      }
  }

  test("mid-face crash drill: a face whose staged files were only " +
      "PARTLY moved into the live table finishes its remaining moves " +
      "on recovery, never re-appends, and every index is row-identical " +
      "to an uncrashed twin estate") {
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = (1L to 4L).map(i => (i, text(s"pm$i")))
      .toDF("doc_id", "text").localCheckpoint()
    Seq("pm_ok", "pm_kl").foreach(p =>
      AdmissionIndexes.bootstrap(corpus, "doc_id", "text", p, buckets = 2))
    def mkBatch() = CorpusPipeline.MultimodalBatch(
      docs = (500L until 508L).map(i => (i, text(s"fresh$i")))
        .toDF("doc_id", "text"))
    AdmissionIndexes.runMultimodalBatch(corpus, mkBatch(), "pm_ok",
      "doc_id", "text", buckets = 2)

    AdmissionIndexes.runMultimodalStaged(corpus, mkBatch(), "pm_kl",
      "doc_id", "text", buckets = 2, batchId = Some("pm_b1"))
    val m = AdmissionIndexes.readBatchManifest(spark, "pm_kl").get
    val i = m.faces.indexWhere(_.files.size >= 2)
    assert(i >= 0, "the drill needs a multi-file face: " +
      m.faces.map(f => f.table -> f.files.size))
    // the crash state: every face before i committed, then ONE of face
    // i's files moved into the live table before the process died
    AdmissionIndexes.applyStagedBatch(spark, "pm_kl", maxFaces = Some(i))
    val f = m.faces(i)
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val live = new java.io.File(wh, f.table.toLowerCase)
    java.nio.file.Files.move(new java.io.File(f.stage, f.files.head).toPath,
      new java.io.File(live, f.files.head).toPath)
    val pending = AdmissionIndexes.readBatchManifest(spark, "pm_kl").get
    assert(!pending.faces(i).applied && pending.faces.take(i).forall(_.applied))

    val actions = AdmissionIndexes.recoverAll(spark)
    assert(actions.exists(_.contains("pm_b1")), s"got $actions")
    assert(AdmissionIndexes.readBatchManifest(spark, "pm_kl").isEmpty)
    assert(f.files.forall(n => new java.io.File(live, n).isFile),
      s"every staged file of ${f.table} must end in the live table")
    for (s <- Seq("_digests", "_bands", "_windows", "_postings")) {
      val ok = spark.table(s"pm_ok$s").collect().map(_.toString).sorted.toSeq
      val kl = spark.table(s"pm_kl$s").collect().map(_.toString).sorted.toSeq
      assert(ok == kl, s"index $s diverged after the mid-face crash")
    }
    val okStats = AdmissionIndexes.loadCorpusStats(spark, "pm_ok_stats")
      .collect().head.toString
    val klStats = AdmissionIndexes.loadCorpusStats(spark, "pm_kl_stats")
      .collect().head.toString
    assert(okStats == klStats, s"stats diverged: $okStats vs $klStats")
    Seq("_digests", "_bands", "_windows", "_postings", "_stats", "_bounds")
      .flatMap(s => Seq(s"pm_ok$s", s"pm_kl$s"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a media append onto a table a pending multimodal batch lists " +
      "completes that batch first: both deltas land, no row is lost and " +
      "no manifest is left") {
    def code56(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = (1L to 3L).map(i => (i, text(s"cg$i")))
      .toDF("doc_id", "text").localCheckpoint()
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "cg_mm", buckets = 2)
    // the multimodal batch stages cg_mm_image (a table-creating face)
    // under the manifest keyed cg_mm, and is left pending
    AdmissionIndexes.runMultimodalStaged(corpus,
      CorpusPipeline.MultimodalBatch(
        docs = Seq((10L, text("cgimg"))).toDF("doc_id", "text"),
        imageCodes = Some(Seq((10L, code56(77))).toDF("doc_id", "code"))),
      "cg_mm", "doc_id", "text", buckets = 2, batchId = Some("cg_b1"))
    val pending = AdmissionIndexes.readBatchManifest(spark, "cg_mm").get
    val staged = pending.faces.find(_.table == "cg_mm_image").get.deltaCount
    assert(staged > 0 && !spark.catalog.tableExists("cg_mm_image"))
    // a media batch onto the same table, keyed by the table's own name
    val codes = Seq((20L, code56(5005))).toDF("id", "code")
    val media = CorpusPipeline.admitMediaBatch(
      Dedup.hammingBandRows(codes.filter(lit(false)), 3, 56), codes,
      maxHamming = 3, bits = 56)
    val mediaRows = media.newHamming.count()
    AdmissionIndexes.appendMediaDeltas(media, "cg_mm_image", buckets = 2)
    assert(AdmissionIndexes.readBatchManifest(spark, "cg_mm").isEmpty &&
      AdmissionIndexes.readBatchManifest(spark, "cg_mm_image").isEmpty,
      "both batches must be complete")
    assert(spark.table("cg_mm_image").count() == staged + mediaRows,
      "neither delta may lose a row")
    assert(spark.table("cg_mm_image").select("id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    assert(spark.table("cg_mm_digests").filter(col("id") === 10L).count() == 1,
      "the pending batch's text faces land too")
    (Seq("_digests", "_bands", "_windows", "_postings", "_stats",
      "_bounds", "_image")).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS cg_mm$t"))
  }
}
