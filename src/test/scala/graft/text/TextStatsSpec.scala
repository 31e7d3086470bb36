package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).collect().head.getAs[T]("r")

  /** `check` once on generated code only and once on the interpreted
    * path, so both the expression's `doGenCode` and its `nullSafeEval`
    * answer every assertion (`check` gets the path's name). */
  private def onBothPaths(check: String => Unit): Unit = {
    codegenOnly(check("codegen"))
    withoutCodegen(check("interpreted"))
  }

  test("token counts") {
    assert(one[Int](TextStats.tokenCount(col("t")), "a b  c") == 3)
    // [hello][,][world][4][2] — letter runs, punctuation, single digits
    assert(one[Int](TextStats.bpeishTokenCount(col("t")), "hello, world 42") == 5)
  }

  test("stopword ratio and mean token length") {
    assert(one[Double](TextStats.stopwordRatio(col("t")), "the cat and dog") == 0.5)
    assert(one[Double](TextStats.meanTokenLen(col("t")), "ab cdef") == 3.0)
  }

  test("langId picks the language with most stopword hits") {
    assert(one[String](TextStats.langId(col("t")),
      "the cat and the dog of the house") == "en")
    assert(one[String](TextStats.langId(col("t")),
      "el perro y la casa de los gatos") == "es")
    assert(one[String](TextStats.langId(col("t")),
      "der hund und die katze ist nicht da") == "de")
    assert(one[String](TextStats.langId(col("t")),
      "xyzzy plugh qwerty") == "und")
  }

  test("fingerprint is order- and duplicate-insensitive") {
    val a = one[String](TextStats.fingerprint(col("t")), "b a c a")
    val b = one[String](TextStats.fingerprint(col("t")), "c b a")
    assert(a == b)
  }

  test("repetition signals: dup-word ratio and top-bigram mass") {
    // all-distinct text: no repetition
    assert(one[Double](TextStats.dupWordRatio(col("t")), "a b c d") == 0.0)
    // 'a' appears 3x in 6 words -> 1 - 4/6
    assert(math.abs(one[Double](TextStats.dupWordRatio(col("t")),
      "a a a b c d") - (1.0 - 4.0 / 6.0)) < 1e-12)
    // 'x y' repeated: grams of 'x y x y x y' = [x y, y x, x y, y x, x y]
    // -> top gram 'x y' has 3 of 5
    assert(math.abs(one[Double](TextStats.topBigramFraction(col("t")),
      "x y x y x y") - 0.6) < 1e-12)
    // single-word text collapses to one gram -> 1.0
    assert(one[Double](TextStats.topBigramFraction(col("t")), "solo") == 1.0)
  }

  test("native top_bigram_frac expression has exact parity with the " +
      "composable HOF form (sf0.001 documents + edge strings)") {
    // real corpus: every document must agree bit-for-bit
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatch = docs.select(col("doc_id"),
        TextStats.topBigramFraction(col("text")).as("native"),
        TextStats.topBigramFractionHof(col("text")).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    // edge strings: empties, single token, tabs, trailing whitespace,
    // repeated grams
    val edges = Seq("", "solo", "x y x y x y", "a  b\tc", " padded out ",
      "tab\tend\t", "a a a a")
    val edgeMismatch = edges.toDF("t")
      .select(TextStats.topBigramFraction(col("t")).as("native"),
        TextStats.topBigramFractionHof(col("t")).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    // null in -> null out for the native form. (The HOF form under
    // non-ANSI sessions folds null to 1.0 — an accident of legacy
    // size(null) = -1 — which the native expression deliberately does
    // NOT reproduce.)
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .select(TextStats.topBigramFraction(col("t")).as("native"))
    onBothPaths { path =>
      assert(mismatch.count() == 0, s"$path: corpus mismatch")
      assert(edgeMismatch.count() == 0, s"$path: edge mismatch")
      assert(nullRow.collect().head.isNullAt(0), s"$path: null in")
    }
  }

  test("native word_stats fields agree with an independent driver-side " +
      "computation on the corpus and edge strings") {
    // independent re-implementation of the tokenization contract:
    // ASCII-space trim, java \s+ split with limit -1
    def toks(s: String): Array[String] = {
      var a = 0; var b = s.length
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      s.substring(a, b).split("\\s+", -1)
    }
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val edges = Seq("", "solo", "a  b\tc", " padded out ", "tab\tend\t",
      "the of la de und el y a in")
    val stats = (docs ++ edges).toDF("t")
      .select(col("t"),
        TextStats.tokenCount(col("t")).as("n"),
        TextStats.meanTokenLen(col("t")).as("ml"),
        TextStats.stopwordRatio(col("t")).as("sr"),
        TextStats.dupWordRatio(col("t")).as("dr"),
        TextStats.langHits(col("t"), "es").as("es"))
    onBothPaths { path => stats.collect().foreach { r =>
      val s = r.getString(0)
      val t = toks(s)
      assert(r.getInt(1) == t.length, s"$path: n_tokens of '$s'")
      assert(r.getDouble(2) ==
        t.map(w => w.codePointCount(0, w.length).toLong).sum.toDouble / t.length,
        s"$path: meanTokenLen of '$s'")
      assert(r.getDouble(3) ==
        t.count(TextStats.defaultStopwords.contains).toDouble / t.length,
        s"$path: stopwordRatio of '$s'")
      assert(r.getDouble(4) == 1.0 - t.distinct.length.toDouble / t.length,
        s"$path: dupWordRatio of '$s'")
      assert(r.getInt(5) == t.count(TextStats.langStopwords("es").contains),
        s"$path: es hits of '$s'")
    } }
  }

  test("gopherFilter passes long varied prose, rejects short docs " +
      "and repetition soup") {
    // 60 words, mostly distinct, seeded with two stopword types (a
    // paragraph repeated verbatim would rightly FAIL the dup-word rule)
    val prose = (1 to 60).map { i =>
      if (i % 10 == 0) "the" else if (i % 10 == 5) "and" else s"word$i"
    }.mkString(" ")
    assert(one[Boolean](TextStats.gopherFilter(col("t")), prose))
    // too short
    assert(!one[Boolean](TextStats.gopherFilter(col("t")), "the cat sat"))
    // 60 words but one bigram repeated throughout -> repetition rules
    assert(!one[Boolean](TextStats.gopherFilter(col("t")), "buy now " * 30))
  }

  test("quality score stays in [0,1] and prefers real prose over symbol soup") {
    val prose = one[Double](TextStats.qualityScore(col("t")),
      "the quick brown fox jumps over the lazy dog and runs into the field " * 5)
    val soup = one[Double](TextStats.qualityScore(col("t")), "@#$ %^& *() !!")
    assert(prose > soup)
    assert(prose >= 0 && prose <= 1 && soup >= 0 && soup <= 1)
  }

  test("compression ratio orders repetitive < natural < random, is " +
      "deterministic, bounded, and SQL-callable as deflate_ratio") {
    val rep = "buy now " * 200
    // genuinely varied prose-like words (seeded): repeating a sentence
    // x10 would itself compress to ~0.08 and sit below the template
    val nat = {
      val r = new scala.util.Random(3)
      Seq.fill(300)(Seq.fill(3 + r.nextInt(6))(
        ('a' + r.nextInt(26)).toChar).mkString).mkString(" ")
    }
    val rnd = {
      val r = new scala.util.Random(7)
      Seq.fill(1600)(r.nextPrintableChar()).mkString
    }
    def ratio(s: String) = one[Double](TextStats.compressionRatio(col("t")), s)
    // generated and interpreted code agree bit for bit
    Seq(rep, nat, rnd, "").foreach(s => assert(
      java.lang.Double.doubleToRawLongBits(codegenOnly(ratio(s))) ==
        java.lang.Double.doubleToRawLongBits(withoutCodegen(ratio(s)))))
    onBothPaths { path =>
      val (a, b, c) = (ratio(rep), ratio(nat), ratio(rnd))
      assert(a < b && b < c,
        s"$path: expected repetitive $a < natural $b < random $c")
      assert(a > 0 && c <= 1.2) // deflate overhead can tip just past 1 on noise
      assert(ratio(rep) == a)   // deterministic
      assert(ratio("") == 1.0, path)
      // the repetitive doc trips the flag threshold used by q_compression
      assert(a < 0.30 && b > 0.30, path)
      // registered SQL surface
      val viaSql = Seq(Tuple1(rep)).toDF("t")
        .selectExpr("deflate_ratio(t) AS r").collect().head.getDouble(0)
      assert(viaSql == a, path)
    }
  }
}
