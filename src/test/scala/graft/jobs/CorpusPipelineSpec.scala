package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** 60 words: 54 distinct content words + 6 distinct stopwords
    * interleaved — passes every Gopher rule (length, mean token
    * length, symbol ratio, stopwords, repetition). */
  private def cleanText(prefix: String): String = {
    val content = (0 until 54).map(i => s"$prefix$i")
    val stops = Seq("the", "of", "and", "in", "is", "it")
    content.grouped(9).toSeq.zip(stops)
      .flatMap { case (g, s) => g :+ s }.mkString(" ")
  }

  private lazy val docs = {
    val d1 = cleanText("apple")
    val d3 = { // near-dup of d1: two content words swapped out
      val w = d1.split(" ")
      (w.take(50) ++ Seq("zebraA", "zebraB") ++ w.drop(52)).mkString(" ")
    }
    Seq(
      (1L, d1),                               // keeper
      (2L, d1),                               // exact duplicate of 1
      (3L, d3),                               // near-duplicate of 1
      (4L, cleanText("delta") +               // contaminated: shares
        " bench0 bench1 bench2 bench3 bench4 bench5"), // bench 5-grams
      (5L, "way too short to pass"),          // quality fail
      (6L, cleanText("fox") + " contact alice@example.com today ok"),
      (7L, cleanText("gull"))                 // clean
    ).toDF("doc_id", "text")
  }

  private lazy val benchmark =
    Seq((100L, (0 until 20).map(i => s"bench$i").mkString(" ")))
      .toDF("doc_id", "text")

  private lazy val result = CorpusPipeline.run(
    docs, "doc_id", "text", benchmark, shardBudget = 10000L)

  test("stage flags carry full provenance: verdicts for reached stages, " +
      "null after the dropping stage") {
    val m = result.annotated.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[Long]("doc_id") ->
        (f("pass_quality"), f("is_exact_dup"), f("is_near_dup"),
          f("is_contaminated"))
    }.toMap
    val T = Some(true); val F = Some(false)
    assert(m(1L) == ((T, F, F, F)))
    assert(m(2L) == ((T, Some(true), None, None)))
    assert(m(3L) == ((T, F, Some(true), None)))
    assert(m(4L) == ((T, F, F, Some(true))))
    assert(m(5L) == ((F, None, None, None)))
    assert(m(6L) == ((T, F, F, F)))
    assert(m(7L) == ((T, F, F, F)))
  }

  test("null-text docs admitted by a custom quality rule are NOT exact " +
      "dups of each other: one null policy across the digest family " +
      "(exactByContent's contract, pinned here for annotate)") {
    val withNulls = Seq(
        (1L, cleanText("alpha")),
        (2L, null.asInstanceOf[String]),
        (3L, null.asInstanceOf[String]),
        (4L, cleanText("alpha"))) // genuine verbatim dup of 1
      .toDF("doc_id", "text")
    val bench = Seq((900L, cleanText("bench"))).toDF("doc_id", "text")
    val ann = CorpusPipeline.annotate(withNulls, "doc_id", "text",
        bench, quality = _ => lit(true)) // admit everything, nulls too
      .select(col("doc_id"), col("is_exact_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!ann(2L) && !ann(3L),
      s"two empty extractions are not copies of each other: $ann")
    assert(!ann(1L) && ann(4L),
      s"the genuine verbatim pair must still keep min-id: $ann")
    // nor near-dups: null text never reaches shingling, where it would
    // read as the one-shingle set [""] and verify at Jaccard 1.0
    for (src <- Seq(CorpusPipeline.PairSource.TokenLsh,
        CorpusPipeline.PairSource.ExactTokens)) {
      val near = CorpusPipeline.annotate(withNulls, "doc_id", "text",
          bench, quality = _ => lit(true), pairSource = src)
        .select(col("doc_id"), col("is_near_dup"))
        .collect().map(r => r.getLong(0) -> r.getAs[Any](1)).toMap
      assert(near(2L) == false && near(3L) == false,
        s"$src: null-text docs flagged as near-dups of each other: $near")
    }
  }

  test("admitBatch: a null-text batch doc is not a corpus near-dup of a " +
      "null-text corpus doc (neither reaches shingling)") {
    val corpus = Seq((1L, null.asInstanceOf[String]), (2L, cleanText("alpha")))
      .toDF("doc_id", "text")
    val batch = Seq((10L, null.asInstanceOf[String]), (11L, cleanText("beta")))
      .toDF("doc_id", "text")
    val adm = CorpusPipeline.admitBatch(corpus,
      graft.dedup.Dedup.contentDigests(corpus, "doc_id", "text"),
      graft.dedup.Dedup.minhashBandRows(corpus, "doc_id", "text", 3, 8, 4),
      batch, "doc_id", "text")
    val near = adm.annotated.select(col("doc_id"), col("is_corpus_near_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(near == Map(10L -> false, 11L -> false),
      s"a null text is not a copy of another null text: $near")
  }

  test("PairSource.ExactTokens routes pair generation through the prefix " +
      "similarity join and reproduces every planted verdict") {
    val exact = CorpusPipeline.annotate(
      docs, "doc_id", "text", benchmark, pairSource = CorpusPipeline.PairSource.ExactTokens)
    val m = exact.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[Long]("doc_id") -> (f("is_exact_dup"), f("is_near_dup"))
    }.toMap
    assert(m(1L) == ((Some(false), Some(false))))
    assert(m(2L) == ((Some(true), None)))
    assert(m(3L) == ((Some(false), Some(true))))
    assert(m(7L) == ((Some(false), Some(false))))
  }

  test("admitBatch: index-backed admission flags every planted case, " +
      "and round 2 against the UPDATED index catches dups of round 1") {
    def near(t: String): String = { // near-dup: swap two content words
      val w = t.split(" ")
      (w.take(10) ++ Seq("zzA", "zzB") ++ w.drop(12)).mkString(" ")
    }
    val tA = cleanText("aa"); val tB = cleanText("bb")
    val tC = cleanText("cc"); val tD = cleanText("dd")
    val corpus = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val corpusDigests = graft.dedup.Dedup.contentDigests(
      corpus, "doc_id", "text")
    val corpusBands = graft.dedup.Dedup.minhashBandRows(
      corpus, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
    val batch = Seq(
      (10L, tA),       // exact dup of corpus 1
      (11L, tC),       // new -> admitted, keeper for 12/14
      (12L, tC),       // exact dup within the batch
      (13L, near(tB)), // near-dup of corpus 2
      (14L, near(tC)), // near-dup of 11 within the batch
      (15L, tD)        // new -> admitted
    ).toDF("doc_id", "text")
    val adm = CorpusPipeline.admitBatch(corpus, corpusDigests, corpusBands,
      batch, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3)
    val m = adm.annotated.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[Long]("doc_id") ->
        (f("is_corpus_exact_dup"), f("is_batch_exact_dup"),
          f("is_corpus_near_dup"), f("is_batch_near_dup"))
    }.toMap
    val T = Some(true); val F = Some(false)
    assert(m(10L) == ((T, None, None, None)))
    assert(m(11L) == ((F, F, F, F)))
    assert(m(12L) == ((F, T, None, None)))
    assert(m(13L) == ((F, F, T, None)))
    assert(m(14L) == ((F, F, F, T)))
    assert(m(15L) == ((F, F, F, F)))
    val admitted = adm.admitted.select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(11L, 15L))
    // index deltas cover exactly the admitted rows
    assert(adm.newDigests.select("id").as[Long].collect().sorted.toSeq
      == Seq(11L, 15L))
    assert(adm.newBands.select("id").distinct().as[Long].collect().sorted
      .toSeq == Seq(11L, 15L))

    // round 2: the growing-corpus loop — append round 1's deltas and a
    // near-dup of newly-admitted 15 must now flag as a CORPUS near-dup
    val corpus2 = corpus.union(adm.admitted)
    val adm2 = CorpusPipeline.admitBatch(corpus2,
      corpusDigests.union(adm.newDigests),
      corpusBands.union(adm.newBands),
      Seq((20L, near(tD)), (21L, tC)).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3)
    val m2 = adm2.annotated.collect().map { r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_corpus_exact_dup"),
          Option(r.getAs[Any]("is_corpus_near_dup")))
    }.toMap
    assert(m2(20L) == ((false, Some(true)))) // near-dup of round-1 doc
    assert(m2(21L)._1)                       // exact dup of round-1 doc
    assert(adm2.admitted.count() == 0)
  }

  test("admitBatch folds strip + postings deltas into the admission " +
      "pass: a round-1-admitted passage is cut from a round-2 arrival " +
      "through the persisted window index, and postings/stats deltas " +
      "compose additively") {
    def w10(pfx: String): String = (1 to 10).map(i => s"$pfx$i").mkString(" ")
    val p = w10("p"); val f = w10("f"); val g = w10("g"); val h = w10("h")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyDigests = graft.dedup.Dedup.contentDigests(
      empty, "doc_id", "text")
    val emptyBands = graft.dedup.Dedup.minhashBandRows(
      empty, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
    val emptyWindows = graft.dedup.Dedup.windowDigestSet(
      empty, "doc_id", "text", winLen = 10)

    // round 1: two novel docs; doc 2 repeats its own g-window
    val batch1 = Seq((1L, s"$p $f"), (2L, s"$g $g x"))
      .toDF("doc_id", "text")
    val adm1 = CorpusPipeline.admitBatch(empty, emptyDigests, emptyBands,
      batch1, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3, stripWindows = Some(emptyWindows),
      stripWinLen = 10, withPostings = true)
    val clean1 = adm1.admittedClean.get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean1(1L) == s"$p $f", "untouched doc must stay verbatim")
    assert(clean1(2L) == s"$g x", "within-batch repeat must be cut")
    // window delta = the three distinct fresh passages
    assert(adm1.newWindows.get.count() == 3)
    // postings/stats index the CLEANED text: doc 2 contributes len 11
    val stats1 = adm1.newStats.get.collect()(0)
    assert(stats1.getLong(0) == 2L && stats1.getLong(1) == 31L)
    val post1 = adm1.newPostings.get
    assert(post1.filter(col("id") === 2L && col("term") === "g1")
      .collect().map(r => (r.getInt(r.fieldIndex("len")),
        r.getLong(r.fieldIndex("tf")))).toList == List((11, 1L)),
      "postings must see post-strip tf/len")

    // persist the deltas the deployment way, then round 2: a doc
    // arriving with round-1's p-passage gets it cut via the index
    AdmissionIndexes.saveWindowIndex(adm1.newWindows.get,
      "admit_strip_windows", buckets = 4)
    val corpus2 = adm1.admittedClean.get
    val adm2 = CorpusPipeline.admitBatch(corpus2,
      adm1.newDigests, adm1.newBands,
      Seq((10L, s"$p $h")).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3,
      stripWindows = Some(
        AdmissionIndexes.load(spark, "admit_strip_windows")),
      stripWinLen = 10, withPostings = true)
    val clean2 = adm2.admittedClean.get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean2 == Map(10L -> h),
      s"round-1-admitted passage must be cut from the round-2 arrival")
    // only h is new; appending keeps the index additive
    assert(adm2.newWindows.get.count() == 1)
    AdmissionIndexes.saveWindowIndex(adm2.newWindows.get,
      "admit_strip_windows", buckets = 4, append = true)
    assert(AdmissionIndexes.load(spark, "admit_strip_windows").count() == 4)
    val stats2 = adm2.newStats.get.collect()(0)
    assert(stats2.getLong(0) == 1L && stats2.getLong(1) == 10L)
  }

  test("skew guard: planted boilerplate trips the bucket monitor, the " +
      "pipeline pre-collapses token-set clones before pair generation " +
      "(recorded in provenance), and flags ALL clones despite a bucket " +
      "cap that would otherwise drop them") {
    // 60 rotations of one 60-word text: pairwise-distinct strings (no
    // exact-dedupe rescue) sharing ONE unigram shingle set — the
    // boilerplate shape that concentrates an entire LSH bucket
    val words = cleanText("boil").split(" ").toSeq
    val boiler = (0 until 60).map(i =>
      (100L + i, (words.drop(i) ++ words.take(i)).mkString(" ")))
    val d1 = cleanText("apple")
    val d2 = { // ordinary near-dup pair, must still flag through LSH
      val w = d1.split(" ")
      (w.take(50) ++ Seq("zebraA", "zebraB") ++ w.drop(52)).mkString(" ")
    }
    val sdocs = (Seq((1L, d1), (2L, d2)) ++ boiler).toDF("doc_id", "text")

    def verdicts(skewGuard: Boolean) = {
      val (ann, dec) = CorpusPipeline.annotateWithDecisions(
        sdocs, "doc_id", "text", benchmark, shingleN = 1,
        maxBucket = Some(10), skewGuard = skewGuard)
      val near = ann.filter(col("is_near_dup")).select("doc_id")
        .as[Long].collect().toSet
      (near, dec)
    }

    val (near, dec) = verdicts(skewGuard = true)
    assert(dec.map(d => (d.stage, d.decision)) ==
      Seq(("near_dup", "tokenset_precollapse")), s"decisions: $dec")
    assert(dec.head.detail.startsWith("skew_monitor_rows="))
    // all 59 non-keeper clones flagged (min-id keeper 100), plus the
    // ordinary near-dup — the cap never saw the clone bucket
    assert(near == ((101L to 159L).toSet + 2L), s"flagged: $near")

    // without the guard the same run is structurally broken: the
    // bucket cap (the only other defense) silently DROPS clone pairs
    val (nearOff, decOff) = verdicts(skewGuard = false)
    assert(decOff == Nil ||
      decOff.forall(_.decision == "direct"), s"unexpected: $decOff")
    assert((101L to 159L).exists(i => !nearOff.contains(i)),
      "cap should have lost clone pairs without the guard")

    // exact-pairs mode: hotPrefixTokens fires, same collapse, and the
    // provably-complete join over representatives flags everything
    val (annEx, decEx) = CorpusPipeline.annotateWithDecisions(
      sdocs, "doc_id", "text", benchmark, shingleN = 1,
      maxBucket = Some(10), pairSource = CorpusPipeline.PairSource.ExactTokens)
    assert(decEx.map(_.decision) == Seq("tokenset_precollapse"))
    val nearEx = annEx.filter(col("is_near_dup")).select("doc_id")
      .as[Long].collect().toSet
    assert(nearEx == ((101L to 159L).toSet + 2L))

    // string ids: hash-surrogate sids reach the fold, and keepers are
    // re-derived as the min ORIGINAL id — the same clone set flags
    val strDocs = sdocs.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    for (src <- Seq(CorpusPipeline.PairSource.TokenLsh,
        CorpusPipeline.PairSource.ExactTokens)) {
      val (annStr, decStr) = CorpusPipeline.annotateWithDecisions(
        strDocs, "doc_id", "text", benchmark, shingleN = 1,
        maxBucket = Some(10), pairSource = src)
      assert(decStr.map(_.decision) == Seq("tokenset_precollapse"),
        s"$src: $decStr")
      val nearStr = annStr.filter(col("is_near_dup")).select("doc_id")
        .as[String].collect().toSet
      assert(nearStr == ((101L to 159L).toSet + 2L).map(i => s"doc-$i"),
        s"$src flagged: $nearStr")
    }

    // a benign corpus records the no-action decision
    assert(result.decisions.map(_.decision) == Seq("direct"))
  }

  test("CorpusPipeline.run over a RELIABLE checkpoint dir gives the " +
      "default run's annotated output on a corpus that fires the " +
      "token-set collapse, and the near_dup arm's shared frames land " +
      "in the dir") {
    // the skew-guard corpus above: 60 token-set clones trip the
    // monitor at maxBucket 10, so sh, bandRows, withRep and edges are
    // all built (and each is consumed by several actions)
    val words = cleanText("boil").split(" ").toSeq
    val boiler = (0 until 60).map(i =>
      (100L + i, (words.drop(i) ++ words.take(i)).mkString(" ")))
    val d1 = cleanText("apple")
    val d2 = {
      val w = d1.split(" ")
      (w.take(50) ++ Seq("zebraA", "zebraB") ++ w.drop(52)).mkString(" ")
    }
    val sdocs = (Seq((1L, d1), (2L, d2)) ++ boiler).toDF("doc_id", "text")
    def run(onStage: (String, Double) => Unit = (_, _) => ())
        : (Seq[org.apache.spark.sql.Row], Seq[String]) = {
      val res = CorpusPipeline.run(sdocs, "doc_id", "text", benchmark,
        shingleN = 1, maxBucket = Some(10), onStage = onStage)
      (res.annotated.orderBy("doc_id").collect().toSeq,
        res.decisions.map(_.decision))
    }
    val local = run()
    assert(local._2 == Seq("tokenset_precollapse"))

    val sc = spark.sparkContext
    val f = sc.getClass.getDeclaredField("checkpointDir")
    f.setAccessible(true)
    val prev = f.get(sc)
    val dir = java.nio.file.Files.createTempDirectory("pipeline_reliable")
    // each job's call stack (StageInfo.details is the long call site):
    // a checkpoint job of the arm's frames runs in Checkpoints.iter
    // called straight from nearDupFlag (sh, bandRows) or from the
    // Dedup.collapseIdentical fold it calls (withRep, edges), one call
    // site per frame
    val details = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.foreach(si => details.add(si.details))
    }
    // checkpoint files land at <dir>/<app uuid>/rdd-N; listed when the
    // near_dup stage ends (listFiles, not Files.walk — the
    // ContextCleaner may delete a dir mid-walk once its frame is
    // collected)
    def children(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
    var landed = 0
    try {
      sc.setCheckpointDir(dir.toString)
      sc.addSparkListener(listener)
      val reliable = run((stage, _) => if (stage == "near_dup")
        landed = children(dir.toFile).flatMap(children)
          .count(_.getName.startsWith("rdd-")))
      assert(reliable == local)
      org.apache.spark.ListenerBusDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      val armSites = details.asScala.toSeq.flatMap { d =>
        val frames = d.split("\n")
        val at = frames.indexWhere(_.contains("graft.Checkpoints$.iter"))
        frames.lift(at + 1).filter(f => at >= 0 &&
          Seq("nearDupFlag", "Dedup$.collapseIdentical").exists(f.contains))
      }.distinct
      assert(armSites.size >= 4, "sh, bandRows, withRep and edges must " +
        s"each checkpoint through Checkpoints.iter, got $armSites")
      assert(landed >= 1, "expected reliable rdd checkpoints on disk " +
        "by the end of the near_dup stage")
    } finally {
      sc.removeSparkListener(listener)
      f.set(sc, prev) // suites share one context — restore
    }
  }

  test("skew guard records precollapse_noop when boilerplate is EDITED " +
      "(distinct token sets): the monitor fired, nothing collapsed, and " +
      "the exact join still flags every clone (no cap to lose them)") {
    // 30 docs sharing 50 words plus ONE unique word each: pairwise
    // Jaccard 50/52 ~ 0.96, token sets all DISTINCT, and the shared
    // words land in every rare-first prefix (df 30 > maxBucket 10)
    val shared = cleanText("boil").split(" ").take(50)
    val edited = (0 until 30).map(i =>
      (200L + i, (shared :+ s"uniq$i").mkString(" ")))
      .toDF("doc_id", "text")
    val (ann, dec) = CorpusPipeline.annotateWithDecisions(
      edited, "doc_id", "text", benchmark, shingleN = 1,
      maxBucket = Some(10), pairSource = CorpusPipeline.PairSource.ExactTokens)
    assert(dec.map(_.decision) == Seq("precollapse_noop"), s"got: $dec")
    assert(dec.head.detail.endsWith("collapsed=0"), s"got: ${dec.head}")
    // exactness is the safety net the noop verdict leans on: min-id
    // keeper 200, all 29 others flagged
    val near = ann.filter(col("is_near_dup")).select("doc_id")
      .as[Long].collect().toSet
    assert(near == (201L to 229L).toSet, s"flagged: $near")
  }

  test("embedding admission in admitBatch: a vector near-dup of the " +
      "corpus is rejected even with novel text, verdicts stage " +
      "correctly, vector-less rows pass, and the newCodes delta makes " +
      "round 2 catch dups of round-1 admissions") {
    def near(t: String): String = {
      val w = t.split(" ")
      (w.take(10) ++ Seq("zzA", "zzB") ++ w.drop(12)).mkString(" ")
    }
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val vA = v(1, 0, 0, 0, 0, 0, 0, 0)
    val vB = v(0, 1, 0, 0, 0, 0, 0, 0)
    val tA = cleanText("aa"); val tB = cleanText("bb")
    val corpus = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val corpusVecs = Seq((1L, vA), (2L, vB)).toDF("id", "vec")
    val corpusDigests = graft.dedup.Dedup.contentDigests(
      corpus, "doc_id", "text")
    val corpusBands = graft.dedup.Dedup.minhashBandRows(
      corpus, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
    val nBits = 2
    val corpusCodes = graft.similarity.Similarity.signCodeIndex(
      corpusVecs, dim = 8, nBits = nBits)

    val batch = Seq(
      (30L, cleanText("cc")), // novel text, vector ~ vA -> EMBED dup
      (31L, cleanText("dd")), // novel text + distinct vector -> admitted
      (32L, near(tB)),        // token near-dup of corpus (has a vector)
      (33L, cleanText("ee")), // novel, NO vector -> admitted
      (34L, tA)               // exact dup of corpus
    ).toDF("doc_id", "text")
    val batchVecs = Seq(
      (30L, v(0.99, 0.05, 0, 0, 0, 0, 0, 0)),
      (31L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (32L, v(0, 0.98, 0.1, 0, 0, 0, 0, 0)),
      (34L, vA)
    ).toDF("id", "vec")
    val emb = CorpusPipeline.EmbeddingAdmission(
      corpusVecs, corpusCodes, batchVecs, simThreshold = 0.9,
      dim = 8, nBits = nBits)

    val adm = CorpusPipeline.admitBatch(corpus, corpusDigests, corpusBands,
      batch, "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3, embedding = Some(emb))
    val m = adm.annotated.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[Long]("doc_id") ->
        (f("is_corpus_exact_dup"), f("is_corpus_near_dup"),
          f("is_corpus_embed_dup"), f("is_batch_near_dup"))
    }.toMap
    val T = Some(true); val F = Some(false)
    assert(m(30L) == ((F, F, T, None)), s"embed dup lost: ${m(30L)}")
    assert(m(31L) == ((F, F, F, F)))
    assert(m(32L) == ((F, T, None, None)), // token verdict wins; embed staged null
      s"staging broken: ${m(32L)}")
    assert(m(33L) == ((F, F, F, F)), s"vector-less row broken: ${m(33L)}")
    assert(m(34L) == ((T, None, None, None)))
    assert(adm.admitted.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(31L, 33L))
    // the code delta covers exactly the admitted rows that HAVE vectors
    val codeIds = adm.newCodes.get.select("id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(codeIds == Seq(31L))

    // round 2: with the delta appended, a vector near-dup of
    // newly-admitted 31 must now flag as a corpus EMBED dup
    val corpus2 = corpus.union(adm.admitted)
    val emb2 = CorpusPipeline.EmbeddingAdmission(
      corpusVecs.union(batchVecs.join(adm.admitted.select(col("doc_id")
        .as("id")), Seq("id"), "left_semi")),
      corpusCodes.union(adm.newCodes.get), batchVecs = Seq(
        (40L, v(0.05, 0, 0.99, 0, 0, 0, 0, 0))).toDF("id", "vec"),
      simThreshold = 0.9, dim = 8, nBits = nBits)
    val adm2 = CorpusPipeline.admitBatch(corpus2,
      corpusDigests.union(adm.newDigests),
      corpusBands.union(adm.newBands),
      Seq((40L, cleanText("ff"))).toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3, embedding = Some(emb2))
    val r40 = adm2.annotated.collect().head
    assert(r40.getAs[Boolean]("is_corpus_embed_dup"),
      "round-2 embed dup of a round-1 admission not caught")
    assert(adm2.admitted.count() == 0)
  }

  test("embedding pair source: cosine near-dups flag through the same " +
      "clustering machinery, provenance records the source's decision, " +
      "and stats reconcile") {
    // doc 3's EMBEDDING is near-parallel to doc 1's (the paraphrase
    // shape token overlap may or may not see — here the verdict must
    // come from the vectors); 4/6/7 are well-separated; 2 is an exact
    // text dup (never reaches near-dup); 5 fails quality (no vector
    // on purpose — absence must not break the join)
    def v(xs: Double*): Option[Array[Float]] = Some(xs.map(_.toFloat).toArray)
    val emb = Seq(
      (1L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (3L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (4L, v(0, 1, 0, 0, 0, 0, 0, 0)),
      (6L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (7L, v(0, 0, 0, 1, 0, 0, 0, 0)),
      // a NULL vector row (failed encoder run): must neither crash
      // the dim inference nor generate pairs
      (2L, Option.empty[Array[Float]])
    ).toDF("doc_id", "emb")
    val src = CorpusPipeline.PairSource.Embeddings(
      emb, simThreshold = 0.9, embIdCol = "doc_id", vecCol = "emb")
    val (ann, dec) = CorpusPipeline.annotateWithDecisions(
      docs, "doc_id", "text", benchmark, pairSource = src)
    val m = ann.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[Long]("doc_id") ->
        (f("pass_quality"), f("is_exact_dup"), f("is_near_dup"),
          f("is_contaminated"))
    }.toMap
    val T = Some(true); val F = Some(false)
    assert(m(1L) == ((T, F, F, F)))
    assert(m(2L) == ((T, Some(true), None, None)))
    assert(m(3L) == ((T, F, Some(true), None)), s"cosine near-dup lost: $m")
    assert(m(4L) == ((T, F, F, Some(true))))
    assert(m(5L) == ((F, None, None, None)))
    assert(m(7L) == ((T, F, F, F)))
    assert(dec.map(d => (d.stage, d.decision)) == Seq(("near_dup", "direct")))
    // provenance partitions the corpus — nothing vanishes untracked
    val s = CorpusPipeline.stats(ann).collect().head
    val drops = Seq("quality_fail", "exact_dup", "near_dup", "contaminated")
      .map(s.getAs[Long]).sum
    assert(drops + s.getAs[Long]("kept") == s.getAs[Long]("input"))

    // string ids: the embedding join must go through the ORIGINAL id
    // (the hash surrogate is a clustering key only)
    val sdocs = docs.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val semb = emb.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("emb"))
    val sAnn = CorpusPipeline.annotate(sdocs, "doc_id", "text", benchmark,
      pairSource = CorpusPipeline.PairSource.Embeddings(
        semb, simThreshold = 0.9, embIdCol = "doc_id", vecCol = "emb"))
    val s3 = sAnn.filter(col("doc_id") === "doc-3").collect().head
    assert(s3.getAs[Boolean]("is_near_dup"),
      "string-id embedding near-dup lost through the surrogate")
  }

  test("embedding pair source skew guard: identical-vector boilerplate " +
      "trips oversizedCodeBuckets, pre-collapses to linear edges " +
      "(vector_precollapse in provenance), and flags every clone the " +
      "bucket cap would have dropped") {
    // 40 pairwise-distinct TEXTS (rotations — no exact-dedupe rescue)
    // sharing ONE embedding: the all-identical-vector mass every real
    // embedding table carries (failed encoder runs, empty docs)
    val words = cleanText("boil").split(" ").toSeq
    val clones = (0 until 40).map(i =>
      (100L + i, (words.drop(i % words.size) ++ words.take(i % words.size))
        .mkString(" ") + s" tail$i"))
    // two docs whose embeddings are NULL: they must not be caught in
    // the collapse window (null == null under groupBy would falsely
    // pair them) nor flagged by anything else
    val nullVecDocs = Seq((150L, cleanText("aa2")), (151L, cleanText("bb2")))
    val sdocs = (clones ++ nullVecDocs).toDF("doc_id", "text")
    val vc = Array.tabulate(8)(j => if (j % 2 == 0) 1.0f else 0.5f)
    val emb = (clones.map { case (id, _) => (id, Some(vc)) } ++
      nullVecDocs.map { case (id, _) => (id, Option.empty[Array[Float]]) })
      .toDF("doc_id", "emb")
    def run(guard: Boolean) = CorpusPipeline.annotateWithDecisions(
      sdocs, "doc_id", "text", benchmark, maxBucket = Some(10),
      pairSource = CorpusPipeline.PairSource.Embeddings(
        emb, simThreshold = 0.9, embIdCol = "doc_id", vecCol = "emb"),
      skewGuard = guard)

    val (ann, dec) = run(guard = true)
    assert(dec.map(_.decision) == Seq("vector_precollapse"), s"got: $dec")
    assert(dec.head.detail.contains("collapsed=39"), s"got: ${dec.head}")
    val near = ann.filter(col("is_near_dup")).select("doc_id")
      .as[Long].collect().toSet
    assert(near == (101L to 139L).toSet, s"flagged: $near")

    // without the guard the oversized code bucket is silently dropped
    // and every clone sails through — the contrast the guard exists for
    val (annOff, decOff) = run(guard = false)
    assert(decOff.forall(_.decision == "direct"))
    assert(annOff.filter(col("is_near_dup")).count() == 0)
  }

  test("PairSource.Fingerprint: planted image dups (verbatim-code " +
      "clone AND a hamming-3 near code) are flagged off their dHash " +
      "codes with min-id keeper, docs without codes pass, and " +
      "provenance records the fingerprint decision") {
    // texts pairwise token-distinct (no token-path rescue) — the
    // verdicts below can ONLY come from the fingerprint source
    val idocs = (1L to 6L).map(i => (i, cleanText(s"img$i"))).toDF("doc_id", "text")
    val base = 0x00a5a5a5a5a5a5L
    val codes = Seq(
      (1L, Some(base)),            // keeper
      (2L, Some(base ^ 1L)),       // near: hamming 1 (re-encoded image)
      (3L, Some(base)),            // clone: verbatim code
      (4L, Some(0x003c3c3c3c3cL)), // far
      // doc 5 has NO code row; doc 6 an undecodable image (null code)
      (6L, Option.empty[Long])).toDF("doc_id", "code")
    val (ann, dec) = CorpusPipeline.annotateWithDecisions(
      idocs, "doc_id", "text", benchmark,
      pairSource = CorpusPipeline.PairSource.Fingerprint(
        codes, maxHamming = 3, bits = 56, codeIdCol = "doc_id"))
    val near = ann.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup")).toMap
    assert(near(1L) == false && near(2L) == true && near(3L) == true,
      s"planted image dups lost: $near")
    assert(near(4L) == false && near(5L) == false && near(6L) == false)
    assert(dec.map(d => (d.stage, d.decision)) ==
      Seq(("near_dup", "direct")))

    // string ids: the code join must go through the ORIGINAL id
    val sdocs = idocs.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val scodes = codes.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("code"))
    val sAnn = CorpusPipeline.annotate(sdocs, "doc_id", "text", benchmark,
      pairSource = CorpusPipeline.PairSource.Fingerprint(
        scodes, maxHamming = 3, bits = 56, codeIdCol = "doc_id"))
    val s3 = sAnn.filter(col("doc_id") === "doc-3").collect().head
    assert(s3.getAs[Boolean]("is_near_dup"),
      "string-id fingerprint near-dup lost through the surrogate")
  }

  test("fingerprint pair source skew guard: a hot verbatim code trips " +
      "oversizedHammingBuckets, pre-collapses to linear edges " +
      "(code_precollapse in provenance), and flags every clone the " +
      "bucket cap would have dropped") {
    // 40 token-distinct docs sharing ONE dHash code (re-posted image
    // boilerplate: same pixels, different captions)
    val clones = (0 until 40).map(i => (100L + i, cleanText(s"cap$i")))
    val sdocs = clones.toDF("doc_id", "text")
    val hot = 0x00a5a5a5a5a5a5L
    val codes = clones.map { case (id, _) => (id, hot) }.toDF("doc_id", "code")
    def run(guard: Boolean) = CorpusPipeline.annotateWithDecisions(
      sdocs, "doc_id", "text", benchmark, maxBucket = Some(10),
      pairSource = CorpusPipeline.PairSource.Fingerprint(
        codes, maxHamming = 3, bits = 56, codeIdCol = "doc_id"),
      skewGuard = guard)
    val (ann, dec) = run(guard = true)
    assert(dec.map(_.decision) == Seq("code_precollapse"), s"got: $dec")
    assert(dec.head.detail.contains("collapsed=39"), s"got: ${dec.head}")
    val near = ann.filter(col("is_near_dup")).select("doc_id")
      .as[Long].collect().toSet
    assert(near == (101L to 139L).toSet, s"flagged: $near")
    // without the guard the hot bucket is capped away and every clone
    // sails through — the contrast the routing exists for
    val (annOff, decOff) = run(guard = false)
    assert(decOff.forall(_.decision == "direct"))
    assert(annOff.filter(col("is_near_dup")).count() == 0)
  }

  test("media admission decodes the batch EXACTLY ONCE: the pinned " +
      "input snapshot feeds every consumer (probe, anti-join, " +
      "annotate, admitted, delta) instead of re-running the decode " +
      "lineage per plan") {
    import graft.dedup.Dedup
    def codeOf(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    // stand-in decode seam: mapPartitions with a per-row counter —
    // the same lineage shape as the real ImageIO/GIF/PCM decoders,
    // whose cost is exactly what the snapshot exists to pay once
    val imgDecodes = spark.sparkContext.longAccumulator("img_decodes")
    val imgBatch = spark.range(40).as[Long].mapPartitions(_.map { i =>
      imgDecodes.add(1L); (i, codeOf(i)) }).toDF("id", "code")
    val imgIndex = Dedup.hammingBandRows(
      Seq((500L, codeOf(3))).toDF("id", "code"), maxHamming = 3, bits = 56)
    val adm = CorpusPipeline.admitMediaBatch(imgIndex, imgBatch,
      maxHamming = 3, bits = 56)
    assert(adm.annotated.count() == 40)
    assert(adm.admitted.count() == 39) // row 3 is corpus-near
    assert(adm.newHamming.count() == 39 * 4)
    assert(imgDecodes.value == 40,
      s"image batch decoded ${imgDecodes.value} row-passes for 40 " +
        "rows — the admission must decode exactly once")

    val vidDecodes = spark.sparkContext.longAccumulator("vid_decodes")
    val vidBatch = spark.range(20).as[Long].mapPartitions(_.map { i =>
      vidDecodes.add(1L); (i / 2, (i % 2).toInt, codeOf(100 + i)) })
      .toDF("media_id", "frame_no", "code")
    val vidIndex = Dedup.hammingBandRows(
      Seq((900L, 0, codeOf(101))).toDF("media_id", "frame_no", "code")
        .select(struct(col("media_id"), col("frame_no")).as("id"),
          col("code")),
      maxHamming = 3, bits = 56)
    val vadm = CorpusPipeline.admitVideoBatch(vidIndex, vidBatch,
      maxHamming = 3, bits = 56)
    assert(vadm.annotated.count() == 10)
    assert(vadm.admitted.count() == 18) // video 0 (frames 100,101) drops
    assert(vadm.newHamming.count() > 0)
    assert(vidDecodes.value == 20,
      s"video batch decoded ${vidDecodes.value} row-passes for 20 " +
        "frame rows — the admission must decode exactly once")
  }

  test("stats aggregates every stage's drop count in one row") {
    val s = CorpusPipeline.stats(result.annotated).collect().head
    assert(s.getAs[Long]("input") == 7)
    assert(s.getAs[Long]("quality_fail") == 1)
    assert(s.getAs[Long]("exact_dup") == 1)
    assert(s.getAs[Long]("near_dup") == 1)
    assert(s.getAs[Long]("contaminated") == 1)
    assert(s.getAs[Long]("kept") == 3)
  }

  test("string doc ids: near-dup clustering works through the hash " +
      "surrogate — a string idCol must produce the same stage verdicts " +
      "as the Long-id run, not silently skip every near-dup drop") {
    // the regression this pins: connectedComponents propagates LONG
    // labels, so a string id used to cast to null and disable the
    // near-dup stage corpus-wide with no error
    val sdocs = docs.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val res = CorpusPipeline.run(
      sdocs, "doc_id", "text", benchmark, shardBudget = 10000L)
    val m = res.annotated.collect().map { r =>
      def f(c: String): Option[Boolean] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Boolean](c))
      r.getAs[String]("doc_id") -> (f("is_exact_dup"), f("is_near_dup"))
    }.toMap
    val F = Some(false)
    // doc-2 is the exact dup; doc-3 is the NEAR dup — the verdict the
    // null-cast bug silently flipped to false
    assert(m("doc-2") == ((Some(true), None)))
    assert(m("doc-3") == ((F, Some(true))), s"near-dup lost: $m")
    assert(m("doc-1") == ((F, F)))
    assert(res.cleaned.collect().map(_.getAs[String]("doc_id")).sorted
      .toSeq == Seq("doc-1", "doc-6", "doc-7"))
  }

  test("stripPassages cuts a shared boilerplate window from every kept " +
      "doc but the globally-first occurrence; doc-level survivors stay") {
    val boiler = (0 until 10).map(i => s"boiler$i").mkString(" ")
    val df = Seq(
      (1L, s"$boiler ${cleanText("fox")}"),
      (2L, s"$boiler ${cleanText("gull")}")).toDF("doc_id", "text")
    val res = CorpusPipeline.run(df, "doc_id", "text", benchmark,
      shardBudget = 10000L, stripPassages = Some(10))
    val m = res.cleaned.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // the shared 10-word prefix is below the doc-level near-dup
    // threshold, so BOTH docs survive — the cut is passage-level
    assert(m.keySet == Set(1L, 2L), s"doc-level gates dropped: $m")
    assert(m(1L).startsWith("boiler0 "), m(1L))
    assert(!m(2L).contains("boiler0"), m(2L))
    assert(m(2L).startsWith("gull0 "), m(2L))
  }

  test("runs end-to-end on the real sf0.001 documents table: stats " +
      "reconcile, every kept doc has a split, shard iff train") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val docs = graft.Tables.documents(spark, dir)
    // the synthetic corpus draws from a ~31-word vocabulary with no
    // English stopwords, so the default Gopher gate drops ALL of it
    // and every downstream stage would run on an empty frame — use
    // the pluggable gate with a fixture-appropriate length rule so
    // the real data actually flows through dedupe/decontaminate/
    // split/pack (the default-gate path is covered by the planted
    // fixtures above)
    val res = CorpusPipeline.run(
      docs.filter(col("doc_id") >= 10), "doc_id", "text",
      benchmark = docs.filter(col("doc_id") < 10),
      shardBudget = 4096L,
      quality = t => graft.text.TextStats.tokenCount(t) >= 10)
    val s = CorpusPipeline.stats(res.annotated).collect().head
    val input = s.getAs[Long]("input")
    val kept = s.getAs[Long]("kept")
    assert(input == docs.filter(col("doc_id") >= 10).count())
    // the fixture must EXERCISE the pipeline, not vacuously drop
    // everything at the quality gate (writeCleaned's layout test
    // learned this the hard way — an empty cleaned frame passes
    // every downstream assertion)
    assert(kept > 0, s"sf0.001 corpus kept nothing: $s")
    // stage drops + kept must cover the input exactly (provenance
    // flags partition the corpus; nothing vanishes untracked)
    val drops = Seq("quality_fail", "exact_dup", "near_dup", "contaminated")
      .map(s.getAs[Long]).sum
    assert(drops + kept == input, s"drops $drops + kept $kept != $input")
    val cleaned = res.cleaned.collect()
    assert(cleaned.length == kept)
    cleaned.foreach { r =>
      assert(Set("train", "valid")(r.getAs[String]("split")))
      val isTrain = r.getAs[String]("split") == "train"
      assert(r.isNullAt(r.fieldIndex("shard")) != isTrain)
    }
  }

  test("splitShards packs train docs into budget-EXACT slices: one row " +
      "per (doc, shard) with contiguous tok ranges, every shard but the " +
      "last filled to the budget, whole-doc mode unchanged") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val docs = graft.Tables.documents(spark, dir)
    val budget = 64L
    val res = CorpusPipeline.run(
      docs.filter(col("doc_id") >= 10), "doc_id", "text",
      benchmark = docs.filter(col("doc_id") < 10),
      shardBudget = budget,
      quality = t => graft.text.TextStats.tokenCount(t) >= 10,
      splitShards = true)
    val train = res.cleaned.filter(col("split") === "train")
      .select(col("doc_id"), col("shard"),
        col("tok_start"), col("tok_end"),
        graft.text.TextStats.tokenCount(col("text")).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4).toLong))
    assert(train.nonEmpty)
    // per doc: slices contiguous from 0 to its token count
    train.groupBy(_._1).foreach { case (id, slices) =>
      val s = slices.sortBy(_._2)
      assert(s.head._3 == 0L && s.last._4 == s.head._5, s"doc $id: $s")
      s.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"doc $id gap")
        case _ => ()
      }
    }
    // per shard: exactly the budget except the last
    val perShard = train.groupBy(_._2).view
      .mapValues(_.map(x => x._4 - x._3).sum).toMap
    val last = perShard.keys.max
    perShard.foreach { case (sh, tot) =>
      if (sh != last) assert(tot == budget, s"shard $sh: $tot")
    }
    // non-train rows stay single with null shard/slice
    res.cleaned.filter(col("split") =!= "train").collect().foreach { r =>
      assert(r.isNullAt(r.fieldIndex("shard")) &&
        r.isNullAt(r.fieldIndex("tok_start")))
    }
    // and whole-doc mode emits exactly one row per kept doc (the
    // pre-r10 contract, unchanged)
    val whole = CorpusPipeline.run(
      docs.filter(col("doc_id") >= 10), "doc_id", "text",
      benchmark = docs.filter(col("doc_id") < 10),
      shardBudget = budget,
      quality = t => graft.text.TextStats.tokenCount(t) >= 10)
    assert(whole.cleaned.count() ==
      whole.cleaned.select("doc_id").distinct().count())
  }

  test("writeCleaned lays the corpus out in training-read order: split " +
      "partitions prune at the scan and a shard slice skips row groups") {
    // 300 distinct quality-passing docs; tiny shard budget -> many
    // shards, so a one-shard slice is a genuinely narrow read
    val many = (0 until 300).map(i => (i.toLong, cleanText(s"w$i")))
      .toDF("doc_id", "text")
    val res = CorpusPipeline.run(
      many, "doc_id", "text", benchmark, shardBudget = 256L)
    assert(res.cleaned.count() >= 250, "fixture must mostly survive")
    val out = java.nio.file.Files.createTempDirectory("cleaned").toString
    CorpusPipeline.writeCleaned(res.cleaned, out, numFiles = 8)

    val back = spark.read.parquet(out)
    assert(back.count() == res.cleaned.count())

    // split is a PARTITION column: the filter prunes directories
    val train = back.filter(col("split") === "train")
    val planStr = train.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*split".r.findFirstIn(planStr).isDefined,
      s"split must prune at the scan:\n$planStr")

    val nTrain = train.count()
    val shards = train.select("shard").distinct().count()
    assert(shards >= 4, s"want several shards to slice, got $shards")
    // one shard's read surfaces a small fraction of the train split —
    // the clustered layout concentrating each shard in few row groups
    val one = train.select(min(col("shard"))).collect().head.getInt(0)
    val read = rowsRead(back.filter(col("split") === "train" &&
      col("shard") === one))
    assert(read <= nTrain / 2,
      s"shard slice read $read of $nTrain train rows; layout not clustering")
  }

  test("cleaned output: keepers only, PII redacted, deterministic " +
      "splits, shards packed for the train split only") {
    val rows = result.cleaned.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 6L, 7L))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // PII scrubbed in the output text, never the raw email
    assert(byId(6L).getAs[String]("text").contains("<EMAIL>"))
    assert(!byId(6L).getAs[String]("text").contains("alice@example.com"))
    // split is the deterministic content-hash assignment
    rows.foreach { r =>
      assert(Set("train", "valid")(r.getAs[String]("split")))
      val isTrain = r.getAs[String]("split") == "train"
      assert(r.isNullAt(r.fieldIndex("shard")) != isTrain,
        s"doc ${r.getAs[Long]("doc_id")}: shard must be set iff train")
    }
    // re-run -> identical splits (no RNG anywhere)
    val again = CorpusPipeline.run(
      docs, "doc_id", "text", benchmark, shardBudget = 10000L)
      .cleaned.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach(r =>
      assert(again(r.getAs[Long]("doc_id")) == r.getAs[String]("split")))
  }

  test("tokenizerMerges closes train -> encode -> pack: cleaned rows " +
      "carry the production-encoded tokens of the REDACTED text, and " +
      "shard packing budgets on real token counts") {
    // train a small BPE on the corpus itself, then hand its merges to
    // the pipeline — the end-to-end loop a tokenizer user runs
    val trained = graft.text.Bpe.train(docs, "text", numMerges = 12,
      minPairCount = 2)
    val res = CorpusPipeline.run(
      docs, "doc_id", "text", benchmark, shardBudget = 10000L,
      tokenizerMerges = Some(trained.merges))
    val rows = res.cleaned.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 6L, 7L))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // tokens == encodeFast(redacted text) — encoded AFTER redaction,
    // so no PII fragment can survive into the token stream
    rows.foreach { r =>
      val expect = Seq(r.getAs[String]("text")).toDF("t")
        .select(graft.text.Bpe.encodeFast(col("t"), trained.merges))
        .collect().head.getSeq[String](0).toList
      assert(r.getSeq[String](r.fieldIndex("tokens")).toList == expect,
        s"doc ${r.getAs[Long]("doc_id")}: tokens differ from encodeFast")
    }
    assert(!byId(6L).getSeq[String](byId(6L).fieldIndex("tokens"))
      .mkString.contains("alice"))
    // the packer budgets on size(tokens): a budget sized to the real
    // token counts splits shards where the whitespace estimate would
    // not — pin with a tight budget equal to one doc's token count
    val oneDoc = byId(1L).getSeq[String](byId(1L).fieldIndex("tokens")).size
    val tight = CorpusPipeline.run(
      docs, "doc_id", "text", benchmark, shardBudget = oneDoc.toLong,
      tokenizerMerges = Some(trained.merges))
    val trainShards = tight.cleaned.filter(col("split") === "train")
      .select(col("doc_id"), col("shard"), size(col("tokens")).as("n"))
      .collect()
    val perShard = trainShards.groupBy(_.getAs[Number]("shard").longValue)
      .view.mapValues(_.map(_.getAs[Int]("n").toLong).sum).toMap
    perShard.foreach { case (shard, tot) =>
      assert(tot <= oneDoc.toLong || trainShards
        .count(_.getAs[Number]("shard").longValue == shard) == 1,
        s"shard $shard holds $tot tokens over the $oneDoc budget")
    }
    // without the option the column is absent (schema unchanged)
    assert(!result.cleaned.columns.contains("tokens"))
  }
}
