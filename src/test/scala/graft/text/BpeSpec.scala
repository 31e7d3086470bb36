package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity-checks the distributed BPE trainer against a plain-Scala
  * reference implementation of the textbook algorithm (pair counts
  * weighted by word frequency, argmax with the same (count desc,
  * lexicographic-by-UTF-8-bytes) tie-break, greedy-left merge
  * application). The tie-break comparator deliberately compares
  * UTF-8 BYTES, not Java chars: Spark orders strings by UTF8String
  * binary comparison (= code-point order), which diverges from
  * UTF-16 code-unit order for supplementary characters — the
  * reference must pin the same total order the trainer uses. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's string order: unsigned UTF-8 byte comparison. */
  private def utf8Cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Split into code points (a surrogate pair is ONE symbol — the
    * trainer's `split(word, "")` does the same). */
  private def codePointSplit(w: String): Vector[String] =
    w.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  /** Reference BPE over a (word -> count) table. */
  private def refTrain(
      wordCounts: Map[String, Long],
      numMerges: Int,
      minPairCount: Long): (Seq[(String, String)], Map[String, Long]) = {
    var words: Map[Vector[String], Long] =
      wordCounts.map { case (w, c) => codePointSplit(w) -> c }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.size < numMerges) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sym, c) <- words; i <- 0 until sym.length - 1)
        pairs((sym(i), sym(i + 1))) =
          pairs.getOrElse((sym(i), sym(i + 1)), 0L) + c
      val best = pairs.toSeq
        .sortWith { case (((a1, b1), n1), ((a2, b2), n2)) =>
          if (n1 != n2) n1 > n2
          else {
            val ca = utf8Cmp(a1, a2)
            if (ca != 0) ca < 0 else utf8Cmp(b1, b2) < 0
          }
        }.headOption
      best match {
        case Some(((a, b), n)) if n >= minPairCount =>
          merges += ((a, b))
          words = words.map { case (sym, c) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.length - 1) = a + b
              else out += x
            }
            out.toVector -> c
          }.groupMapReduce(_._1)(_._2)(_ + _)
        case _ => done = true
      }
    }
    val vocab = words.toSeq
      .flatMap { case (sym, c) => sym.map(_ -> c) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    (merges.toSeq, vocab)
  }

  // the classic BPE illustration corpus, with word multiplicities
  private val corpusWords = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
    Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("new")
  private lazy val docs = corpusWords.grouped(4)
    .map(_.mkString(" ")).toSeq.toDF("text")

  test("distributed trainer reproduces the reference merge sequence " +
      "and final vocabulary exactly") {
    val wc = corpusWords.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val (refMerges, refVocab) = refTrain(wc, numMerges = 12, minPairCount = 2)
    assert(refMerges.nonEmpty && refMerges.size >= 6,
      s"fixture should produce several merges, got $refMerges")

    val trained = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2)
    assert(trained.merges == refMerges,
      s"merge sequences diverge:\n spark=${trained.merges}\n ref  =$refMerges")
    val gotVocab = trained.vocab.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotVocab == refVocab)
  }

  test("training over a RELIABLE checkpoint dir (cluster fault-" +
      "tolerance mode) reproduces the local-checkpoint merges exactly") {
    val local = Bpe.train(docs, "text", numMerges = 10,
      minPairCount = 2, checkpointEvery = 1).merges
    val sc = spark.sparkContext
    val f = sc.getClass.getDeclaredField("checkpointDir")
    f.setAccessible(true)
    val prev = f.get(sc)
    val dir = java.nio.file.Files.createTempDirectory("bpe_reliable")
    try {
      sc.setCheckpointDir(dir.toString)
      // checkpointEvery = 1 forces the reliable path on every round
      val reliable = Bpe.train(docs, "text", numMerges = 10,
        minPairCount = 2, checkpointEvery = 1).merges
      assert(reliable == local)
      // the ContextCleaner may delete a round's dir DURING the listing:
      // Files.walk throws on an entry that vanished under it, while
      // listFiles reads a vanished dir as empty (DedupSpec's reliable
      // CC test lists the same way). Checkpoints land at
      // <dir>/<app uuid>/rdd-N.
      def children(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      val landed = children(dir.toFile).flatMap(children)
        .count(_.getName.startsWith("rdd-"))
      assert(landed > 1, "expected per-round rdd checkpoints on disk")
    } finally f.set(sc, prev) // suites share one context — restore
  }

  test("merge sequence is partitioning-invariant (deterministic " +
      "tie-break, not an artifact of task order)") {
    val base = Bpe.train(docs, "text", numMerges = 8).merges
    val perturbed = Bpe.train(docs.repartition(7), "text", numMerges = 8).merges
    assert(base == perturbed)
  }

  test("encode replays the trained merges greedy-left per word and " +
      "matches reference tokenization, including the overlap case") {
    val trained = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2)
    def refEncode(text: String): Seq[String] =
      text.trim.split("\\s+").toSeq.flatMap { w =>
        var sym = w.map(_.toString).toVector
        trained.merges.foreach { case (a, b) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          sym.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          sym = out.toVector
        }
        sym
      }
    val samples = Seq("lowest newest", "low low low", "newlow widest")
    val got = samples.toDF("t")
      .select(Bpe.encode(col("t"), trained.merges).as("e"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(got.toSeq == samples.map(refEncode))

    // greedy-left on overlapping pairs: "aaa" under merge (a,a) is
    // [aa, a], never [a, aa]
    val gl = Seq("aaa").toDF("t")
      .select(Bpe.encode(col("t"), Seq(("a", "a"))).as("e"))
      .collect().head.getSeq[String](0).toSeq
    assert(gl == Seq("aa", "a"))
  }

  test("batched selection: exact parity with sequential on symbol-" +
      "disjoint top pairs, and on the classic corpus the batched " +
      "application is faithful to its own declared merge order") {
    // strict-parity fixture: the frequent pairs share no symbols, so
    // batching cannot change WHAT gets merged or in what rank order -
    // batch=4 must equal sequential merge-for-merge
    val disjointWords = Seq.fill(9)("ab") ++ Seq.fill(7)("cd") ++
      Seq.fill(5)("ef") ++ Seq.fill(3)("gh")
    val dd = disjointWords.grouped(3).map(_.mkString(" ")).toSeq.toDF("text")
    val seqD = Bpe.train(dd, "text", numMerges = 4, minPairCount = 2)
    val b4D = Bpe.train(dd, "text", numMerges = 4, minPairCount = 2,
      batch = 4)
    assert(seqD.merges == Seq(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")))
    assert(b4D.merges == seqD.merges,
      s"batched diverged on disjoint pairs:\n b4=${b4D.merges}\n seq=${seqD.merges}")

    // classic corpus: batching legitimately DEFERS merges that build
    // on symbols created this round, so the sequence differs from
    // sequential - but the trained artifact must be self-consistent:
    // replaying b4's own merges in declared order through the
    // reference machinery reproduces b4's vocabulary exactly
    val b4 = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2,
      batch = 4)
    assert(b4.merges.size == 12)
    val wc = corpusWords.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val replayed: Map[String, Long] = {
      var words: Map[Vector[String], Long] =
        wc.map { case (w, c) => codePointSplit(w) -> c }
      b4.merges.foreach { case (a, b) =>
        words = words.map { case (sym, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          sym.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          out.toVector -> c
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
      words.toSeq.flatMap { case (sym, c) => sym.map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
    }
    val v4 = b4.vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v4 == replayed,
      "batched vocab does not match a sequential replay of its own merges")
    // invariance under partitioning, batched regime
    val b4p = Bpe.train(docs.repartition(5), "text", numMerges = 12,
      minPairCount = 2, batch = 4)
    assert(b4p.merges == b4.merges)
  }

  test("batch=1 is EXACTLY the sequential algorithm (same merges, " +
      "in order, as the reference)") {
    val wc = corpusWords.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val (refMerges, _) = refTrain(wc, numMerges = 10, minPairCount = 2)
    val got = Bpe.train(docs, "text", numMerges = 10, minPairCount = 2,
      batch = 1)
    assert(got.merges == refMerges)
  }

  test("tie-break follows UTF-8 byte order (Spark's string order), " +
      "pinned on a supplementary-plane tie where UTF-16 order differs") {
    // U+FB00 (ﬀ, 3 UTF-8 bytes, BMP) vs U+1D51E (𝔞, 4 UTF-8 bytes,
    // supplementary): UTF-16 code units order 𝔞 (surrogate 0xD835)
    // BELOW ﬀ (0xFB00); UTF-8 bytes order ﬀ (0xEF..) below 𝔞
    // (0xF0..). Two pairs tied at count 2 starting with each symbol:
    // the winner must be the UTF-8-smaller one, in both trainer and
    // reference.
    val ff = "ﬀ"
    val fraktur = new String(Character.toChars(0x1D51E))
    val tieWords = Seq.fill(2)(s"${fraktur}x") ++ Seq.fill(2)(s"${ff}y")
    val tieDocs = tieWords.grouped(2).map(_.mkString(" ")).toSeq.toDF("text")
    val trained = Bpe.train(tieDocs, "text", numMerges = 1, minPairCount = 2)
    assert(trained.merges == Seq((ff, "y")),
      s"expected the UTF-8-smaller pair ($ff, y) to win the tie, " +
        s"got ${trained.merges}")
    val wc = tieWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (refMerges, _) = refTrain(wc, numMerges = 1, minPairCount = 2)
    assert(refMerges == trained.merges,
      "reference comparator diverged from the trainer on the tie")
  }

  test("encodeFast (codegen'd min-rank loop) matches the training-order " +
      "fold encode token-for-token, including overlap and unseen text, " +
      "and is SQL-callable") {
    val trained = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2)
    val samples = Seq("lowest newest", "low low low", "newlow widest",
      "unseen glyphs", "  padded   spacing  ", "lowlowestwid")
    val df = samples.toDF("t")
    val slow = df.select(Bpe.encode(col("t"), trained.merges).as("e"))
      .collect().map(_.getSeq[String](0).toList).toList
    val fast = df.select(Bpe.encodeFast(col("t"), trained.merges).as("e"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(fast == slow, s"fast/slow diverge:\n fast=$fast\n slow=$slow")

    // greedy-left overlap pinned on the fast path too
    val gl = Seq("aaa").toDF("t")
      .select(Bpe.encodeFast(col("t"), Seq(("a", "a"))).as("e"))
      .collect().head.getSeq[String](0).toList
    assert(gl == List("aa", "a"))

    // batched-trained merges (rank property holds there too)
    val b4 = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2,
      batch = 4)
    val slowB = df.select(Bpe.encode(col("t"), b4.merges).as("e"))
      .collect().map(_.getSeq[String](0).toList).toList
    val fastB = df.select(Bpe.encodeFast(col("t"), b4.merges).as("e"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(fastB == slowB)

    // SQL surface
    val sql = spark.sql(
      """SELECT bpe_encode('low lower', array('l o', 'lo w'))"""
    ).collect().head.getSeq[String](0).toList
    assert(sql == List("low", "low", "e", "r"))

    // null text null-propagates
    val nullRow = Seq[Option[String]](None).toDF("t")
      .select(Bpe.encodeFast(col("t"), trained.merges).as("e"))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("save/loadMerges round trip: exported merges.txt + vocab.tsv " +
      "re-read into an encode that matches the original trainer") {
    val trained = Bpe.train(docs, "text", numMerges = 12, minPairCount = 2)
    val dir = java.nio.file.Files.createTempDirectory("bpe_artifacts").toString
    try {
      Bpe.save(trained, dir)
      // file format: header + one ranked pair per line
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dir, "merges.txt"))
      assert(lines.get(0) == "#version: 0.2")
      assert(lines.size == trained.merges.size + 1)
      assert(lines.get(1) == s"${trained.merges.head._1} ${trained.merges.head._2}")

      val reloaded = Bpe.loadMerges(dir)
      assert(reloaded == trained.merges)
      val samples = Seq("lowest newest", "newlow widest").toDF("t")
      val a = samples.select(Bpe.encode(col("t"), trained.merges).as("e"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      val b = samples.select(Bpe.encode(col("t"), reloaded).as("e"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      assert(a == b)

      // vocab round-trips through the declared-schema TSV reader
      val vocabBack = graft.io.Tsv.read(spark,
          java.nio.file.Paths.get(dir, "vocab.tsv").toString, Bpe.vocabSchema)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val vocabOrig = trained.vocab.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(vocabBack == vocabOrig)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  test("encodeFast tokenizes on ASCII \\s exactly like the trainer: " +
      "Unicode whitespace (U+3000) stays INSIDE a word, never splits it") {
    // the trainer's split(trim(text), "\\s+") uses Java regex \s =
    // [ \t\n\x0B\f\r]; a wider class in the production encoder would
    // split words the trainer never split — train/encode divergence
    val text = "a　b c"
    val toks = Seq(text).toDF("t")
      .select(Bpe.encodeFast(col("t"), Nil).as("e"))
      .collect().head.getSeq[String](0).toList
    assert(toks == List("a", "　", "b", "c"),
      s"got $toks — U+3000 must be a symbol, not a word boundary")
  }

  test("save/loadMerges keeps '#'-leading symbols: only a leading " +
      "#version header is skipped, so merges trained on corpus words " +
      "like '#include' round-trip losslessly") {
    // '#i' first symbol starts with '#'; '#versionx' even shares the
    // header's prefix — both are DATA lines and must survive reload
    val trained = Bpe.Trained(
      Seq(("#", "i"), ("#i", "nclude"), ("#versionx", "y")),
      Seq(("#include", 3L)).toDF("symbol", "weight"))
    val dir = java.nio.file.Files.createTempDirectory("bpe_hash").toString
    try {
      Bpe.save(trained, dir)
      assert(Bpe.loadMerges(dir) == trained.merges)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  test("early stop: merges halt when the best pair drops below " +
      "minPairCount, not at the requested count") {
    // every word unique -> all pair counts are 1 -> no merges at min 2
    val uniq = Seq("abc def", "ghi jkl").toDF("text")
    val t = Bpe.train(uniq, "text", numMerges = 5, minPairCount = 2)
    assert(t.merges.isEmpty)
    // with min 1 it merges up to the requested budget
    assert(Bpe.train(uniq, "text", numMerges = 3, minPairCount = 1)
      .merges.size == 3)
  }
}
