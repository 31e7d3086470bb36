package graft.dedup

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("exactByContent keeps one row per content, min id, whitespace-insensitive") {
    val df = Seq(
      (1L, "hello  world"), (2L, "hello world"), (3L, "other doc"),
      (4L, " hello world ")).toDF("id", "text")
    val out = Dedup.exactByContent(df, "id", "text").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the hot-digest shape (one boilerplate page copied into every 4th
    // row, the rest unique, over several partitions): exactly one
    // keeper for the hot page, at its min id, and every unique row
    val n = 2000L
    val hot = spark.range(n).repartition(4).select(col("id"),
      when(col("id") % 4 === 0, lit("this page could not be found"))
        .otherwise(concat(lit("unique document "),
          md5(col("id").cast("string")))).as("text"))
    val kept = Dedup.exactByContent(hot, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until n).filter(i => i == 0L || i % 4 != 0).toSet)
  }

  test("null-text rows pass through BOTH exact-dedup faces untouched: " +
      "null digests must never collapse into one keeper (that would " +
      "silently delete non-duplicate rows)") {
    val df = Seq((1L, "same doc"), (2L, "same doc"),
      (3L, null), (4L, null), (5L, null)).toDF("id", "text")
    val out = Dedup.exactByContent(df, "id", "text")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 3L, 4L, 5L),
      s"every null-text row must survive, got $out")

    val idx = Dedup.contentDigests(Seq((0L, "same doc")).toDF("id", "text"),
      "id", "text")
    val inc = Dedup.incrementalExactDedup(idx,
        df, "id", "text")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(inc == Seq(3L, 4L, 5L),
      s"index hit dropped, null-text rows all kept, got $inc")
  }

  test("exact-dedup faces refuse null ids loudly: a null id would " +
      "never match the keeper semi-join and its row would silently " +
      "vanish") {
    val df = Seq((Some(1L), "a doc"), (None, "b doc"))
      .toDF("id", "text")
    val e = intercept[Exception] {
      Dedup.exactByContent(df, "id", "text").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("null id"),
      s"expected the null-id refusal, got: ${e.getMessage}")
    val idx = Dedup.contentDigests(
      Seq((0L, "corpus doc")).toDF("id", "text"), "id", "text")
    val e2 = intercept[Exception] {
      Dedup.incrementalExactDedup(idx, df, "id", "text").collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("null id"),
      s"expected the null-id refusal, got: ${e2.getMessage}")
  }

  test("connectedComponents refuses null id VALUES loudly instead of " +
      "silently splitting clusters") {
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("null id"),
      s"expected the null-id refusal, got: ${e.getMessage}")
  }

  test("shingles builds word n-grams; short docs collapse to one shingle") {
    val toks = split(lit("a b c d"), " ")
    val sh = Seq(1).toDF("x").select(Dedup.shingles(toks, 2).as("sh"))
      .collect().head.getSeq[String](0)
    assert(sh.toList == List("a b", "b c", "c d"))
    val short = Seq(1).toDF("x")
      .select(Dedup.shingles(split(lit("a"), " "), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(short.toList == List("a"))
  }

  test("minhash LSH finds planted near-duplicates and never misses exact dups") {
    val base = (0 until 50).map(i =>
      (i.toLong, s"unique doc number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e"))
    val planted = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "the quick brown fox jumps over the lazy dog again and again today"),
      (102L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
    val df = (base ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L))) // identical: every band collides
    assert(pairs.contains((100L, 102L)) || pairs.contains((101L, 102L)))
    // no false positives among the unique docs
    assert(pairs.forall { case (a, b) => a >= 100L && b >= 100L })
  }

  test("null text never shingles: two null-text docs are not a minhash " +
      "pair, and the band index carries no row for them") {
    val df = Seq((1L, null.asInstanceOf[String]),
        (2L, null.asInstanceOf[String]),
        (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.5).collect()
    assert(pairs.isEmpty, s"null-text docs paired: ${pairs.mkString(",")}")
    assert(Dedup.minhashBandRows(df, "doc_id", "text", 2, 8, 2)
      .select("id").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("LSH candidates verified: every reported pair meets the Jaccard threshold") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.3).collect()
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.3))
  }

  test("incrementalExactDedup drops index hits, keeps one per digest " +
      "within the batch, and is whitespace-insensitive") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, " alpha  beta gamma "), // dup of corpus 1 modulo whitespace
      (11L, "zeta eta"), (12L, "zeta  eta"), // batch-internal dups
      (13L, "theta iota")).toDF("id", "text")
    val idx = Dedup.contentDigests(corpus, "id", "text")
    val kept = Dedup.incrementalExactDedup(idx, batch, "id", "text")
      .select(col("id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 13L))
  }

  test("incrementalNearDupPairs against a prebuilt index equals the " +
      "full-table LSH run restricted to cross (corpus, batch) pairs") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300)
    val index = Dedup.minhashBandRows(corpus, "doc_id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2)
    val inc = Dedup.incrementalNearDupPairs(corpus, index, batch,
        "doc_id", "text", shingleN = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.3)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (old,new)
    // same signature family, so the full-table run's cross-boundary
    // pairs must be exactly the incremental result
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.3)
      .filter(col("id_a") < 300 && col("id_b") >= 300)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full && inc.nonEmpty)
  }

  test("simhash16 is stable and order-insensitive") {
    val a = Seq("one two three").toDF("text")
      .select(Dedup.simhash16(col("text"))).collect().head.getInt(0)
    val b = Seq("three one two two").toDF("text")
      .select(Dedup.simhash16(col("text"))).collect().head.getInt(0)
    assert(a == b) // distinct-word set is identical
    assert(a >= 0 && a < 65536)
  }

  test("simhashCodes (single-pass) equals the scalar simhash16 on real docs") {
    val docs = Tables.documents(spark, sf).limit(100)
    val scalar = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("code"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bulk = Dedup.simhashCodes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bulk == scalar)
  }

  test("simhash hamming: identical texts distance 0; pairs respects bound") {
    val df = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"),
      (3L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhashPairs pigeonhole banding has EXACT parity with brute-force " +
      "hamming pairs (sf0.001)") {
    // the pigeonhole guarantee: hamming <= maxHamming means at most
    // maxHamming differing bits across maxHamming+1 segments, so one
    // segment is identical and the pair shares a bucket. With no
    // bucket over the cap at this sf, recall must be 100% — the old
    // high-byte bucketing FAILS this test (cross-boundary misses).
    val docs = Tables.documents(spark, sf)
    for ((maxH, bits) <- Seq((1, 16), (3, 16), (3, 32), (3, 64))) {
      val banded = Dedup.simhashPairs(docs, "doc_id", "text",
          maxHamming = maxH, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = Dedup.simhashPairsBruteForce(docs, "doc_id", "text", maxH,
          bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute,
        s"maxHamming=$maxH bits=$bits: banded ${banded.size} pairs " +
          s"vs brute ${brute.size}")
    }
  }

  test("hammingBandedPairs is hash-AGNOSTIC: exact parity with a " +
      "brute-force hamming join over arbitrary 56-bit codes (the " +
      "dHash/pHash width), and the cap still prices hot codes") {
    // adversarial codes: a tight cluster around a base value (every
    // pair within hamming 3), a far singleton, and a hot identical
    // pair — none derived from text, proving the kernel needs only
    // (id, code)
    val base = 0x00a5a5a5a5a5a5L
    val codes = Seq(
      (1L, base), (2L, base ^ 1L), (3L, base ^ (1L << 20)),
      (4L, base ^ (1L << 20) ^ (1L << 41)),
      (5L, 0x003c3c3c3c3c3cL), // far from the cluster
      (6L, base), (7L, base)).toDF("id", "code")
    val banded = Dedup.hammingBandedPairs(codes, maxHamming = 3,
        maxBucket = None, bits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = codes.alias("l").join(codes.alias("r"),
        col("l.id") < col("r.id"))
      .withColumn("hamming", Dedup.hamming(col("l.code"), col("r.code")))
      .filter(col("hamming") <= 3)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute && banded.nonEmpty,
      s"banded $banded vs brute $brute")
    // every within-bound pair found, the far code pairs with nothing
    assert(!banded.exists(p => p._1 == 5L || p._2 == 5L))
    // maxBucket=1 drops every bucket (all hold >= the identical
    // trio), so the capped output is empty — the hot-code guard is
    // live on this kernel too, and its monitoring companion reports
    // EXACTLY the buckets the cap dropped (no silent caps)
    assert(Dedup.hammingBandedPairs(codes, maxHamming = 3,
      maxBucket = Some(1), bits = 56).count() == 0)
    val over = Dedup.oversizedHammingBuckets(codes, maxHamming = 3,
      maxBucket = Some(1), bits = 56).collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("bsz") > 1),
      s"monitor must surface the dropped hot buckets, got ${over.toSeq}")
    // at a generous cap nothing is dropped and the monitor is empty
    assert(Dedup.oversizedHammingBuckets(codes, maxHamming = 3,
      maxBucket = Some(100), bits = 56).count() == 0)
  }

  test("incrementalHammingPairs against a hammingBandRows index has " +
      "full-recompute parity: exactly the cross (batch x corpus) " +
      "pairs the all-at-once kernel finds, corpus never re-coded") {
    def codeOf(i: Int): Long = (i.toLong * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    val corpus = ((0 until 60).map(i => (i.toLong, codeOf(i))) ++
      Seq((60L, 0x00a5a5a5a5a5a5L))).toDF("id", "code")
    // batch: two rows near corpus codes (hamming 1 and 3), one
    // identical (hamming 0), rest far
    val batch = (Seq(
      (100L, codeOf(7) ^ 1L),
      (101L, codeOf(13) ^ 1L ^ (1L << 20) ^ (1L << 41)),
      (102L, 0x00a5a5a5a5a5a5L)) ++
      (103 until 120).map(i => (i.toLong, codeOf(i + 700))))
      .toDF("id", "code")
    val index = Dedup.hammingBandRows(corpus, maxHamming = 3, bits = 56)
    val inc = Dedup.incrementalHammingPairs(index, batch, maxHamming = 3,
        maxBucket = None, bits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // full recompute over the union, restricted to cross pairs
    val full = Dedup.hammingBandedPairs(corpus.unionByName(batch),
        maxHamming = 3, maxBucket = None, bits = 56)
      .filter(col("id_b") >= 100L && col("id_a") < 100L)
      .select(col("id_b").as("id_new"), col("id_a").as("id_old"),
        col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == full && inc.size == 3, s"incremental $inc vs full $full")
    // a second probe with the SAME batch against an index that now
    // includes the first batch finds the batch rows too (the append
    // loop's covering claim, at the kernel level)
    val grown = index.unionByName(
      Dedup.hammingBandRows(batch, maxHamming = 3, bits = 56))
    val reprobe = Dedup.incrementalHammingPairs(grown,
      Seq((200L, codeOf(7) ^ 1L)).toDF("id", "code"),
      maxHamming = 3, maxBucket = None, bits = 56)
    assert(reprobe.filter(col("id_old") === 100L).count() == 1,
      "the grown index must cover the previous batch's rows")
  }

  test("collapseIdentical routes verbatim-repeated codes to " +
      "linear rep edges: clusters equal the uncapped direct run's " +
      "while a planted hot code survives a cap that silences the " +
      "direct path; null codes never collapse together") {
    val base = 0x00a5a5a5a5a5a5L
    // 40 rows sharing ONE code (the hot mass), plus a near pair
    val hot = (0 until 40).map(i => (i.toLong, base))
    val near = Seq((100L, base ^ 1L), (101L, (1L << 50) | 12345L))
    val codes = (hot ++ near).toDF("id", "code")
    val (reps, edges) = Dedup.collapseIdentical(codes, "code")
    assert(reps.count() == 3 && edges.count() == 39)
    // routed path under a cap the hot bucket would blow (maxBucket=5):
    // band REPS only, union the fold edges, cluster
    val routedPairs = Dedup.hammingBandedPairs(reps, maxHamming = 3,
        maxBucket = Some(5), bits = 56)
      .select(col("id_a"), col("id_b"))
      .unionByName(edges)
    val routed = Dedup.connectedComponents(routedPairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the UNCAPPED direct run's clusters
    val direct = Dedup.connectedComponents(
      Dedup.hammingBandedPairs(codes, maxHamming = 3,
          maxBucket = None, bits = 56)
        .select(col("id_a"), col("id_b")),
      "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == direct && routed.nonEmpty,
      s"routed clusters $routed != direct $direct")
    // the direct path UNDER THE SAME CAP loses the hot mass — the
    // routing is what the cap's "exact dedup owns this" sentence
    // needed to become executable
    assert(Dedup.hammingBandedPairs(codes, maxHamming = 3,
      maxBucket = Some(5), bits = 56).count() <
      routedPairs.count())
    // monitor goes quiet after the fold: reps hold one row per code
    assert(Dedup.oversizedHammingBuckets(reps, maxHamming = 3,
      maxBucket = Some(5), bits = 56).count() == 0)
    // null codes (undecodable media) are dropped, never grouped
    val withNulls = codes.unionByName(
      Seq((200L, null.asInstanceOf[java.lang.Long]),
        (201L, null.asInstanceOf[java.lang.Long]))
        .toDF("id", "code"))
    val (reps2, edges2) = Dedup.collapseIdentical(withNulls, "code")
    assert(reps2.filter(col("id") >= 200L).count() == 0)
    assert(edges2.filter(col("id_b") >= 200L).count() == 0,
      "two undecodable rows must not collapse into one cluster")
  }

  test("simhashCodes(bits=32) widens the 16-bit code: low 16 bits match " +
      "only when votes agree, and the type widens to long") {
    val docs = Tables.documents(spark, sf).limit(50)
    val c32 = Dedup.simhashCodes(docs, "doc_id", "text", bits = 32)
    val row = c32.schema("code")
    assert(row.dataType == org.apache.spark.sql.types.LongType)
    val vals = c32.collect().map(_.getLong(1))
    assert(vals.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("simhashCodes(bits=64) uses the full width: bit 63 is exercised " +
      "(wrap-around assembly keeps the top nibble) and segments stay " +
      "16-bit in the pair generator") {
    val docs = Tables.documents(spark, sf).limit(100)
    val vals = Dedup.simhashCodes(docs, "doc_id", "text", bits = 64)
      .collect().map(_.getLong(1))
    // bit 63 set <=> negative long; with ~100 docs of independent
    // md5 votes P(no doc sets it) ~ 0.5^100 — a miss means the top
    // nibble's overflow-wrapping construction dropped bits
    assert(vals.exists(_ < 0L), "no code ever set bit 63")
    assert(vals.distinct.length > 1)
  }

  test("connectedComponents converges to min-id clusters, including " +
      "a chain longer than one propagation hop") {
    // components: {1,2,3,4} as a chain, {10,11}, and 20-21-22 as a
    // triangle; chain 4->3->2->1 needs multiple rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents over a RELIABLE checkpoint dir (the cluster " +
      "fault-tolerance mode) runs end-to-end and yields labels identical " +
      "to the local-checkpoint path") {
    // a path forces several star rounds, so the reliable path is
    // exercised per-round, not just on the initial edge snapshot
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sc = spark.sparkContext
    val f = sc.getClass.getDeclaredField("checkpointDir")
    f.setAccessible(true)
    val prev = f.get(sc)
    val dir = java.nio.file.Files.createTempDirectory("cc_reliable")
    try {
      sc.setCheckpointDir(dir.toString)
      // hold the labels FRAME itself across the directory walk: its
      // plan references the final round's checkpointed RDD, so the
      // ContextCleaner cannot reclaim that round's rdd-* dir while
      // this local is reachable — the walk below is race-free
      val reliableDf = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val reliable = reliableDf
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // prove the reliable path actually engaged: round state landed
      // in the configured directory. >= 1, not a per-round count —
      // Sessions sets cleanCheckpoints=true, so the ContextCleaner
      // deletes a round's rdd-* dir as soon as GC collects that
      // round's RDD reference; how many survive to this walk is a
      // GC race (observed both 1 and several on identical code).
      // One rdd-* dir is already proof the reliable mode ran: the
      // local-checkpoint path never writes here at all.
      // The same cleaner may delete a round's dir DURING the walk:
      // Files.walk throws on an entry that vanished under it, while
      // listFiles reads a vanished dir as empty. Checkpoints land at
      // <dir>/<app uuid>/rdd-N.
      def children(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      val landed = children(dir.toFile).flatMap(children)
        .count(_.getName.startsWith("rdd-"))
      assert(landed >= 1, "expected reliable rdd checkpoints on disk")
    } finally f.set(sc, prev) // suites share one context — restore
  }

  test("connectedComponents star contraction: a 400-node path (diameter " +
      "399, deeper than any per-hop budget) converges in O(log d) rounds " +
      "with one min-labeled cluster, and an under-budgeted run refuses " +
      "instead of returning split clusters") {
    // path 100-101-...-499: one-hop propagation would need 399 rounds
    val chain = (100L until 499L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) =
      Dedup.connectedComponentsStats(chain, "id_a", "id_b")
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 400)
    assert(cc.values.toSet == Set(100L), s"chain split: ${cc.values.toSet}")
    // 2*log2(399) ~ 17.3; allow slack but pin the asymptotic claim
    assert(rounds <= 22, s"star contraction took $rounds rounds on a " +
      "diameter-399 path — expected ~2*log2(d)")
    // an under-budgeted run must FAIL, never silently split the chain
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents parity on planted graphs: same clusters as " +
      "driver-side union-find on a random multi-component edge soup, " +
      "self-pairs and singleton components included") {
    val rnd = new scala.util.Random(42)
    // 12 planted components of mixed shapes over ids 0..119, plus
    // self-pairs (node present, no proper edge)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until 12).foreach { c =>
      val ids = (c * 10 until c * 10 + 10).map(_.toLong)
      // a random spanning chain + a few extra random intra edges
      val order = rnd.shuffle(ids)
      order.sliding(2).foreach { p => edges += ((p(0), p(1))) }
      (0 until 3).foreach { _ =>
        edges += ((ids(rnd.nextInt(10)), ids(rnd.nextInt(10))))
      }
    }
    edges += ((500L, 500L)) // self-pair only: its own singleton cluster
    val pairs = edges.toSeq.toDF("id_a", "id_b")
    val expected = graft.TestOracles.unionFind(edges)
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got(500L) == 500L)
  }

  test("starRound plans no join, and at runtime AQE reuses the " +
      "duplicated window exchange — 3 exchange executions per round " +
      "(the r17 window-reshape shape pin; the old groupBy+join-back " +
      "round ran 5 non-reusable exchanges + 2 joins)") {
    val e = Seq((5L, 1L), (7L, 2L), (7L, 5L)).toDF("src", "dst")
      .localCheckpoint()
    val round = Dedup.starRound(e)
    val initial = round.queryExecution.executedPlan.toString
    assert(!initial.contains("Join"),
      s"starRound should plan no join:\n$initial")
    assert("Window".r.findAllIn(initial).length >= 2,
      s"starRound should plan window mins:\n$initial")
    // the two-reference small-star union duplicates the upstream
    // round in the INITIAL plan; the runtime claim is that AQE
    // executes the identical window exchanges once
    round.collect()
    val executed = round.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"expected AQE exchange reuse in the executed round:\n$executed")
  }

  test("connectedComponents window-min star rounds: one hot center with " +
      "thousands of spokes (the single-hot-group straggler regime) " +
      "converges fast with exact labels") {
    // r17 reshaped largeStar/smallStar's per-round min from
    // groupBy+join-back to a window over the round frame's own
    // (src) partitioning; this is the shape's worst partition-group
    // case — one node whose group holds nearly every edge — pinned
    // here so the reshape's skew behavior stays covered, not just
    // the uniform planted graphs. Ids descend toward the center so
    // large-star (which rewires LARGER neighbors) carries the load.
    val n = 5000L
    val star = (1L to n).map(i => (0L, i)) ++
      Seq((n + 1L, n + 2L)) // plus an unrelated pair
    val (labels, rounds) = Dedup.connectedComponentsStats(
      star.toDF("id_a", "id_b"), "id_a", "id_b")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n.toInt + 3)
    assert((0L to n).forall(got(_) == 0L))
    assert(got(n + 1L) == n + 1L && got(n + 2L) == n + 1L)
    // a star IS the fixed point: detection needs ~1 confirming round
    assert(rounds <= 3, s"hot star took $rounds rounds")
  }

  test("incrementalConnectedComponents: folding a batch into previous " +
      "labels equals full recompute — clusters bridge and re-minimize, " +
      "new nodes join, untouched clusters survive") {
    // standing corpus: {1,2,3}, {10,11}, {20,21} (min-labeled)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // batch: bridges {10,11} and {20,21} via new doc 30; new doc 40
    // pairs into {1,2,3}; 50-51 form a brand-new cluster
    val batch = Seq((11L, 30L), (30L, 20L), (40L, 1L), (50L, 51L))
    val prev = Dedup.connectedComponents(
      oldPairs.toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Dedup.incrementalConnectedComponents(
        prev, batch.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
        (oldPairs ++ batch).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
    assert(inc == graft.TestOracles.unionFind(oldPairs ++ batch))
    // the bridge really merged: 10/11/20/21/30 share one min label
    assert(Seq(10L, 11L, 20L, 21L, 30L).map(inc).toSet == Set(10L))
    assert(inc(40L) == 1L && inc(51L) == 50L)
  }

  test("connectedComponents rejects non-integral ids loudly (a string " +
      "id used to cast to null and silently discard every edge)") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    assert(e.getMessage.contains("integral ids"))
    assert(e.getMessage.contains("xxhash64"))
  }

  test("simhashPairs rejects more segments than bits (zero-width " +
      "segments would silently void the pigeonhole guarantee)") {
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 16, bits = 16)
    }
    assert(e.getMessage.contains("maxHamming + 1 <= bits"))
  }

  test("decontaminate flags exactly the corpus docs sharing an n-gram " +
      "with the benchmark, counting distinct shared grams") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares 'quick brown fox jumps over' (and one more 5-gram)
      (10L, "a quick brown fox jumps over the fence today"),
      // no 5-gram overlap
      (11L, "completely different text with no shared phrases at all"),
      // contains the benchmark VERBATIM -> many hits
      (12L, "prefix the quick brown fox jumps over the lazy dog suffix"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, "doc_id", "text", bench, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!out.contains(11L))
    assert(out(10L) == 2L) // 'quick brown fox jumps over', 'brown fox jumps over the'
    assert(out(12L) == 5L) // all five 5-grams of the 9-word benchmark
  }

  test("simhashPairs bucket cap drops degenerate buckets instead of going n²") {
    // 500 identical docs: every (seg, bits) bucket holds all 500 rows.
    // With maxBucket below that, the capped plan must return NO pairs
    // (exact dedupe owns identical text) — and quickly.
    val df = (0 until 500).map(i => (i.toLong, "same boilerplate text here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text",
      maxHamming = 3, maxBucket = Some(100))
    assert(pairs.count() == 0L)
  }

  test("oversizedMinhashBuckets reports exactly the buckets the " +
      "capped pair join drops") {
    val df = (0 until 300).map(i => (i.toLong, "same boilerplate text here"))
      .toDF("doc_id", "text")
    // 300 identical docs: every band bucket holds all 300 rows
    val over = Dedup.oversizedMinhashBuckets(df, "doc_id", "text",
      maxBucket = Some(100)).collect()
    assert(over.nonEmpty)
    assert(over.forall(_.getAs[Long]("bsz") == 300L))
    // and with the cap above the corpus size, nothing is oversized
    assert(Dedup.oversizedMinhashBuckets(df, "doc_id", "text",
      maxBucket = Some(1000)).count() == 0)

    // The same contract over EVERY face of the pair family's bucket
    // policy (self-join and probe faces, batch and streaming), on the
    // one planted-hot-bucket fixture. Per face and cap, the expected
    // output is computed on the driver from the face's own key rows:
    // the reference pairs that share at least one bucket the face's
    // monitor does NOT report. So, per face:
    //   - None == Some(largest bucket) == the brute-force reference;
    //   - Some(small) drops exactly the monitor's buckets (and the
    //     monitor reports exactly the buckets over the cap);
    //   - the hot bucket is really dropped (output shrinks).
    val fx = familyFixture
    val small = Some(6)
    def buckets(rows: Seq[(Long, Seq[Any])]): Map[Seq[Any], Seq[Long]] =
      rows.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    for (f <- fx.faces) {
      val sizes = buckets(f.keyRows).map { case (k, ids) => k -> ids.size }
      val largest = Some(sizes.values.max)
      assert(largest.get >= 10, s"${f.name}: fixture lost its hot bucket")
      def expected(cap: Option[Int]): Set[(Long, Long)] = {
        val dropped = f.monitor(cap)
        assert(dropped == sizes.filter { case (_, n) =>
            cap.exists(n > _) }.keySet,
          s"${f.name} cap=$cap: the monitor must report exactly the " +
            "buckets over the cap")
        val kept = (b: Seq[Any]) => !dropped(b)
        val cand: Set[(Long, Long)] = f.probeRows match {
          case None => buckets(f.keyRows).filter(e => kept(e._1)).values
            .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b))
            .toSet
          case Some(probe) =>
            val index = buckets(f.keyRows)
            buckets(probe).filter(e => kept(e._1)).toSeq.flatMap {
              case (k, news) => for (n <- news; o <- index.getOrElse(k, Nil))
                yield (n, o)
            }.toSet
        }
        f.reference.intersect(cand)
      }
      val uncapped = f.run(None)
      assert(uncapped == f.reference && f.reference.nonEmpty,
        s"${f.name}: uncapped ${uncapped.size} pairs vs reference " +
          s"${f.reference.size}")
      assert(f.run(largest) == uncapped, s"${f.name}: Some(largest) != None")
      assert(f.monitor(largest).isEmpty && f.monitor(None).isEmpty)
      val (capped, want) = (f.run(small), expected(small))
      assert(capped == want && capped.size < uncapped.size,
        s"${f.name}: capped ${capped.size} pairs, expected ${want.size} " +
          s"(uncapped ${uncapped.size})")
      // the streaming faces of a probe family answer the same question
      // per batch row: admitted = batch rows with no pair at that cap
      for ((stream, batchIds) <- f.stream; cap <- Seq(None, largest, small)) {
        val matched = f.run(cap).map(_._1)
        assert(stream(cap) == batchIds -- matched,
          s"${f.name} streaming face cap=$cap disagrees with its batch face")
      }
    }

    // null keys never reach the banding exchange: with the join forced
    // to shuffle, every exchange on the key columns writes exactly the
    // non-null rows, capped (window exchange) and uncapped. Constraint
    // propagation is off so the optimizer's own inferred isnotnull
    // filters on the join keys cannot stand in for the kernel's drop.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      withConf("spark.sql.constraintPropagation.enabled", "false") {
        for ((keys, rows) <- fx.nullKeyed; cap <- Seq(None, small)) {
          val out = Dedup.bandCandidates(rows, keys, cap)
          out.collect()
          val nonNull = rows
            .filter(keys.map(col(_).isNotNull).reduce(_ && _)).count()
          val writes = keyExchanges(out, keys)
          assert(writes.nonEmpty && writes.forall(_ == nonNull),
            s"keys=$keys cap=$cap: exchange rows $writes, non-null " +
              s"rows $nonNull")
        }
      }
    }
  }

  test("bucket-cap faces are config-invariant: the window cap counts " +
      "over the band exchange's partitioning, yet capped and uncapped " +
      "pair sets match the default config at shuffle.partitions 1 and " +
      "7 and with AQE off") {
    val fx = familyFixture
    val caps = Seq(None, Some(6))
    val base = (for (f <- fx.faces; cap <- caps)
      yield (f.name, cap) -> f.run(cap)).toMap
    for ((key, value) <- Seq("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false")) {
      withConf(key, value) {
        for (f <- fx.faces; cap <- caps)
          assert(f.run(cap) == base((f.name, cap)),
            s"${f.name} cap=$cap diverges under $key=$value")
      }
    }
  }

  /** One face of the pair family's bucket policy: `run(cap)` its pair
    * ids, `keyRows` the (id, bucket key) rows it pairs over (for a
    * probe face: the INDEX side, with `probeRows` the batch side),
    * `monitor(cap)` the bucket keys its monitor reports, `reference`
    * the brute-force pairs, and for probe faces the streaming twins
    * (admitted batch ids per cap, with the batch ids they start from). */
  private case class PolicyFace(
      name: String,
      run: Option[Int] => Set[(Long, Long)],
      keyRows: Seq[(Long, Seq[Any])],
      probeRows: Option[Seq[(Long, Seq[Any])]],
      monitor: Option[Int] => Set[Seq[Any]],
      reference: Set[(Long, Long)],
      stream: Seq[(Option[Int] => Set[Long], Set[Long])] = Nil)

  private case class PolicyFixture(faces: Seq[PolicyFace],
      nullKeyed: Seq[(Seq[String], org.apache.spark.sql.DataFrame)])

  /** The planted-hot-bucket fixture: 12 identical docs / vectors (each
    * of their bands, segments and codes is one 12-row bucket), six
    * near-dup pairs, a word-permuted simhash twin pair, and distinct
    * singletons; the probe faces index ids < 10 plus the even ids >=
    * 100 and probe with the rest. */
  private lazy val familyFixture: PolicyFixture = {
    import graft.similarity.Similarity
    import graft.streaming.EventStream
    import org.apache.spark.sql.DataFrame
    val hot = (0 until 12).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta"))
    val near = (0 until 6).flatMap { k =>
      val w = (0 until 8).map(j => s"k${k}w$j")
      Seq((100L + 2 * k, w.mkString(" ")),
        (101L + 2 * k, (w.init :+ s"k${k}x").mkString(" ")))
    }
    val twins = Seq((300L, "pa pb pc pd pe pf"), (301L, "pf pe pd pc pb pa"))
    val singles = (0 until 10).map(i =>
      (200L + i, (0 until 8).map(j => s"s${i}w$j").mkString(" ")))
    val docs = (hot ++ near ++ twins ++ singles).toDF("doc_id", "text")
      .localCheckpoint()
    val inCorpus = col("doc_id") < 10 || (col("doc_id") >= 100 &&
      col("doc_id") % 2 === 0)
    val ts = to_timestamp(lit("2024-01-01 00:00:00"))
    def ids(df: DataFrame, c: String = "id"): Set[Long] =
      df.select(c).collect().map(_.getLong(0)).toSet
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def keyRows(df: DataFrame, keys: Seq[String]): Seq[(Long, Seq[Any])] =
      df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .select(col("id") +: keys.map(col): _*).collect()
        .map(r => (r.getLong(0), r.toSeq.tail)).toSeq
    def keysOf(df: DataFrame): Set[Seq[Any]] =
      df.drop("bsz").collect().map(_.toSeq).toSet
    def cross(self: Set[(Long, Long)], batch: Set[Long], corpus: Set[Long]) =
      self.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (n, o) => batch(n) && corpus(o) }

    // MinHash: 32 one-row bands (the oracle regime), threshold 0.3
    val shingled = Dedup.shingled(docs, "doc_id", "text", 3)
    val lshRef = pairs(shingled.alias("l").join(shingled.alias("r"),
        col("l.id") < col("r.id"))
      .filter(Dedup.jaccard(col("l.sh"), col("r.sh")) >= 0.3)
      .select(col("l.id"), col("r.id")))
    val bandsOf = (df: DataFrame) =>
      Dedup.minhashBandRows(df, "doc_id", "text", 3, 32, 1)
    val cDocs = docs.filter(inCorpus)
    val bDocs = docs.filter(!inCorpus)
    val lshIndex = bandsOf(cDocs).localCheckpoint()
    val (cIds, bIds) = (ids(cDocs, "doc_id"), ids(bDocs, "doc_id"))
    val lshKeys = Seq("band", "bh")

    // hamming: 64-bit simhash codes (16-bit segments) plus null codes
    val codes = Dedup.simhashCodes(docs, "doc_id", "text", 64)
      .unionByName(Seq(500L, 501L).toDF("id")
        .select(col("id"), lit(null).cast("long").as("code")))
      .localCheckpoint()
    val hamRef = pairs(Dedup.simhashPairsBruteForce(docs, "doc_id", "text",
      3, bits = 64).select("id_a", "id_b"))
    val hamKeys = Seq("seg", "sb")
    val isCorpusCode = col("id") < 10 || (col("id") >= 100 && col("id") % 2 === 0)
    val cCodes = codes.filter(isCorpusCode)
    val bCodes = codes.filter(!isCorpusCode)
    val hamIndex = Dedup.hammingBandRows(cCodes, 3, 64).localCheckpoint()

    // sign-LSH cosine: dim 8, 4 bits x 2 tables, threshold 0.99
    val rnd = new scala.util.Random(7)
    def randVec = Array.fill(8)(rnd.nextGaussian().toFloat)
    val hotVec = randVec
    val vecs = (hot.map(h => (h._1, hotVec)) ++
      near.grouped(2).flatMap { p =>
        val v = randVec
        Seq((p(0)._1, v), (p(1)._1, v.map(_ + 1e-3f)))
      } ++ (twins ++ singles).map(d => (d._1, randVec)))
      .toDF("id", "vec").localCheckpoint()
    val cosRef = pairs(vecs.alias("l").join(vecs.alias("r"),
        col("l.id") < col("r.id"))
      .filter(Similarity.cosine(col("l.vec"), col("r.vec")) >= 0.99)
      .select(col("l.id"), col("r.id")))
    val cosKeys = Seq("tbl", "code")
    val codeIndex = (df: DataFrame) => Similarity.signCodeIndex(df, 8, 4, 2)
    val cVecs = vecs.filter(isCorpusCode)
    val bVecs = vecs.filter(!isCorpusCode)
    val cosIndex = codeIndex(cVecs).localCheckpoint()
    val (cvIds, bvIds) = (ids(cVecs), ids(bVecs))

    val faces = Seq(
      PolicyFace("minhashLshPairs",
        cap => pairs(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 1,
          0.3, cap)),
        keyRows(bandsOf(docs), lshKeys), None,
        cap => keysOf(Dedup.oversizedMinhashBuckets(docs, "doc_id", "text",
          3, 32, 1, cap)),
        lshRef),
      PolicyFace("hammingBandedPairs",
        cap => pairs(Dedup.hammingBandedPairs(codes, 3, cap, 64)),
        keyRows(Dedup.hammingBandRows(codes, 3, 64), hamKeys), None,
        cap => keysOf(Dedup.oversizedHammingBuckets(codes, 3, cap, 64)),
        hamRef),
      PolicyFace("cosineNearDupPairs",
        cap => pairs(Similarity.cosineNearDupPairs(vecs, 0.99, 8, nBits = 4,
          nTables = 2, maxBucket = cap)),
        keyRows(codeIndex(vecs), cosKeys), None,
        cap => keysOf(Similarity.oversizedCodeBuckets(vecs, 8, nBits = 4,
          nTables = 2, maxBucket = cap)),
        cosRef),
      PolicyFace("incrementalNearDupPairs",
        cap => pairs(Dedup.incrementalNearDupPairs(cDocs, lshIndex, bDocs,
          "doc_id", "text", 3, 32, 1, 0.3, cap)),
        keyRows(lshIndex, lshKeys), Some(keyRows(bandsOf(bDocs), lshKeys)),
        cap => keysOf(Dedup.oversizedBuckets(lshIndex, lshKeys, cap)),
        cross(lshRef, bIds, cIds),
        Seq((cap => ids(EventStream.streamingNearDupAdmission(
            bDocs.withColumn("ts", ts), cDocs, lshIndex, shingleN = 3,
            bands = 32, rowsPerBand = 1, threshold = 0.3, maxBucket = cap),
          "doc_id"), bIds))),
      PolicyFace("incrementalHammingPairs",
        cap => pairs(Dedup.incrementalHammingPairs(hamIndex, bCodes, 3, cap,
          64)),
        keyRows(hamIndex, hamKeys),
        Some(keyRows(Dedup.hammingBandRows(bCodes, 3, 64), hamKeys)),
        cap => keysOf(Dedup.oversizedBuckets(hamIndex, hamKeys, cap)),
        cross(hamRef, ids(bCodes), ids(cCodes)),
        Seq((cap => ids(EventStream.streamingFingerprintAdmission(
            bCodes.select(col("id").as("doc_id"), col("code"),
              ts.as("ts")), hamIndex, maxHamming = 3, bits = 64,
            maxBucket = cap), "doc_id"),
          ids(bCodes.filter(col("code").isNotNull))))),
      PolicyFace("incrementalCosineNearDupPairs",
        cap => pairs(Similarity.incrementalCosineNearDupPairs(cVecs,
          cosIndex, bVecs, 0.99, 8, 4, 2, maxBucket = cap)),
        keyRows(cosIndex, cosKeys), Some(keyRows(codeIndex(bVecs), cosKeys)),
        cap => keysOf(Dedup.oversizedBuckets(cosIndex, cosKeys, cap)),
        cross(cosRef, bvIds, cvIds),
        Seq((cap => ids(EventStream.streamingEmbedAdmission(
            bVecs.select(col("id").as("doc_id"), col("vec"), ts.as("ts")),
            cVecs, cosIndex, dim = 8, nBits = 4, nTables = 2,
            simThreshold = 0.99, maxBucket = cap), "doc_id"), bvIds))))

    // nullable keys with real nulls in every family's key shape, from a
    // computed (non-local) source so the optimizer cannot pre-filter
    val r = spark.range(60)
    val keyOrNull = (m: Int) => when(col("id") % 4 === 0, lit(null))
      .otherwise(col("id") % m)
    val nullKeyed = Seq(
      lshKeys -> r.select(col("id"), (col("id") % 3).cast("int").as("band"),
        keyOrNull(5).as("bh")),
      hamKeys -> r.select(col("id"), col("id").as("code"),
        (col("id") % 4).cast("int").as("seg"), keyOrNull(7).as("sb")),
      cosKeys -> r.select(col("id"), (col("id") % 2).cast("int").as("tbl"),
        keyOrNull(3).as("code")))
    PolicyFixture(faces, nullKeyed)
  }

  /** Rows written by each (non-reused) shuffle exchange of `df`'s
    * executed plan that hash-partitions on exactly `keys`. */
  private def keyExchanges(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeExec => e +: walk(e.child)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).filter(_.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } == keys
      case _ => false
    }).map(_.metrics("shuffleRecordsWritten").value)
  }

  test("duplicatedPassages flags exactly the planted shared window, " +
      "skips short tails, and counts sharing documents") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ") // one window
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val other = (1 to 10).map(i => s"g$i").mkString(" ")
    val df = Seq(
      (1L, s"$passage $filler"), // window 0 = passage, window 1 unique
      (2L, s"$other $passage"), // window 1 = passage
      (3L, s"$passage short tail"), // window 0 = passage; 2-word tail skipped
      (4L, "nothing shared here at all by anyone ever once more"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedPassages(df, "doc_id", "text", 10, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 0) -> 3L, (2L, 1) -> 3L, (3L, 0) -> 3L))
  }

  test("stripDuplicatedPassages keeps the globally-first occurrence, " +
      "cuts every other (within-doc repeats included), keeps tails " +
      "and short docs whole") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val repeat = (1 to 10).map(i => s"r$i").mkString(" ")
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val other = (1 to 10).map(i => s"g$i").mkString(" ")
    val df = Seq(
      (1L, s"$passage $filler"), // keeper of passage: stays whole
      (2L, s"$other $passage"), // passage cut, other kept
      (3L, s"$passage short tail"), // passage cut, sub-window tail kept
      (4L, s"$repeat $repeat x"), // within-doc repeat: second copy cut
      (5L, "tiny doc")) // shorter than winLen: passes through whole
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedPassages(df, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(out == Map(
      1L -> ((s"$passage $filler", 0)),
      2L -> ((other, 1)),
      3L -> (("short tail", 1)),
      4L -> ((s"$repeat x", 1)),
      5L -> (("tiny doc", 0))))
  }

  test("strip preserves untouched documents byte-for-byte: whitespace " +
      "normalization applies only where windows were actually cut") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    // doc 2 shares the passage (gets cut -> normalized rebuild); docs
    // 3/4 carry newlines/tabs/run-spaces but share nothing, so their
    // text must come back VERBATIM — code and markdown structure
    // survives the pass untouched
    val code = "def f(x):\n\treturn  x + 1\n\n# comment"
    val md = s"# title\n\nline one   spaced\nline\ttwo"
    val df = Seq(
      (1L, s"$passage tail"),
      (2L, s"pre1 pre2 pre3 pre4 pre5 pre6 pre7 pre8 pre9 pre10 $passage"),
      (3L, code),
      (4L, md))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedPassages(df, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(out(2L)._2 == 1, "doc 2 must lose the shared passage")
    assert(out(3L) == ((code, 0)), "untouched code must be verbatim")
    assert(out(4L) == ((md, 0)), "untouched markdown must be verbatim")
    assert(out(1L) == ((s"$passage tail", 0)))
  }

  test("incrementalStripPassages matches the full recompute on the " +
      "batch slice and returns exactly the fresh window digests") {
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val f = (1 to 10).map(i => s"f$i").mkString(" ")
    val g = (1 to 10).map(i => s"g$i").mkString(" ")
    val h = (1 to 10).map(i => s"h$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$p $f"),
      (2L, s"$g $p")) // corpus-internal repeat of p: index is a SET,
      .toDF("doc_id", "text") // so batch verdicts are unaffected
    val batch = Seq(
      (10L, s"$p $h"), // p known -> cut; h fresh -> kept (keeper)
      (11L, s"$h $h x"), // both h windows repeat (10,1) -> cut, tail
      (12L, "tiny doc")) // sub-window: passes through whole
      .toDF("doc_id", "text")
    val idx = Dedup.windowDigestSet(corpus, "doc_id", "text", 10)
    val inc = Dedup.incrementalStripPassages(idx, batch, "doc_id",
      "text", 10)
    val got = inc.cleaned.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got == Map(
      10L -> ((h, 1)), 11L -> (("x", 2)), 12L -> (("tiny doc", 0))))
    // parity: the full kernel over corpus ∪ batch gives the same
    // batch-slice verdicts (corpus ids precede batch ids)
    val full = Dedup.stripDuplicatedPassages(
        corpus.union(batch), "doc_id", "text", 10)
      .filter(col("id") >= 10L).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got == full)
    // the digest delta is exactly the fresh windows (h), not p
    val newWh = inc.newWindows.collect().map(_.getString(0)).toSet
    val hDigest = Dedup.windowDigestSet(
        Seq((1L, h)).toDF("doc_id", "text"), "doc_id", "text", 10)
      .collect().map(_.getString(0)).toSet
    assert(newWh == hDigest)
  }
}
