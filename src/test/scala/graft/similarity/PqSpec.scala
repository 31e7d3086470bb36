package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PqSpec extends SparkSpec {
  import spark.implicits._

  private def testVectors(n: Int, d: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      // deterministic pseudo-random but clustered: 4 base directions
      // plus per-vector jitter, so PQ has real structure to exploit
      val base = i % 4
      (i.toLong, Array.tabulate(d) { t =>
        val centre = if (t % 4 == base) 1.0f else 0.1f
        centre + 0.05f * (((i * 31 + t * 17) % 13) - 6)
      })
    }

  private lazy val smallDf = testVectors(200, 16).toDF("id", "vec")

  test("pq_encode matches a driver-side re-derivation of argmin codes " +
      "and pq_adc matches the summed table lookups bit-for-bit") {
    val cb = Pq.fit(smallDf, m = 4, k = 8)
    assert(cb.dsub == 4 && cb.flat.length == 4 * 8 * 4)

    val got = smallDf.select(col("id"), col("vec"),
        Pq.encode(col("vec"), cb).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getSeq[Int](2).toArray))

    def refEncode(v: Array[Float]): Array[Int] = {
      val d = cb.m * cb.dsub
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val inv = if (nrm > 0) 1.0 / nrm else 0.0
      Array.tabulate(cb.m) { j =>
        (0 until cb.k).minBy { c =>
          (0 until cb.dsub).map { t =>
            val diff = v(j * cb.dsub + t) * inv -
              cb.flat((j * cb.k + c) * cb.dsub + t)
            diff * diff
          }.sum
        }
      }
    }
    got.foreach { case (id, v, codes) =>
      assert(codes.toSeq == refEncode(v).toSeq, s"codes diverge for id $id")
    }

    // ADC: score every row against one query's table, compare to the
    // driver-side sum of lookups
    val q = testVectors(1, 16).head._2
    val table = Pq.adcTable(q, cb)
    def adcScores() = smallDf.select(col("id"),
        Pq.adc(Pq.encode(col("vec"), cb), lit(table), cb).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adcGot = codegenOnly(adcScores())
    got.foreach { case (id, v, _) =>
      val codes = refEncode(v)
      val want = codes.zipWithIndex
        .map { case (c, j) => table(j * cb.k + c).toDouble }.sum
      assert(adcGot(id) == want, s"adc diverges for id $id")
    }
    // the interpreted path (nullSafeEval of pq_encode and pq_adc)
    // gives the generated path's bits for every row
    def bits(m: Map[Long, Double]) =
      m.map { case (id, d) => id -> java.lang.Double.doubleToRawLongBits(d) }
    assert(bits(withoutCodegen(adcScores())) == bits(adcGot))
  }

  test("codebook fit is deterministic under repartitioning") {
    val a = Pq.fit(smallDf, m = 4, k = 8)
    val b = Pq.fit(smallDf.repartition(7), m = 4, k = 8)
    assert(a.flat.toSeq == b.flat.toSeq)
  }

  test("exactness regime: refine covering the whole base reproduces " +
      "brute-force top-k exactly on the real embeddings table") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val base = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.bruteForceTopK(queries, base, 3)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture must produce neighbors to compare")
    val pq = Pq.pqTopK(queries, base, k = 3, m = 8, kCodes = 16,
        refine = Int.MaxValue)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == exact)
  }

  test("scale path: a bounded ADC refine (48 of ~2000 candidates) still " +
      "recovers the exact top-1 for every query") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val base = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val top1 = Similarity.bruteForceTopK(queries, base, 1)
      .select("qid", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1.nonEmpty, "fixture must produce a top-1 to recover")
    val pq = Pq.pqTopK(queries, base, k = 3, m = 16, kCodes = 32, refine = 16)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    top1.foreach { case (qid, id) =>
      assert(pq(qid).contains(id),
        s"query $qid: exact top-1 $id missing from PQ top-3 ${pq(qid)}")
    }
  }

  test("IVF-PQ: probing every cell with full refine reproduces brute " +
      "force; the pruned scale path still recovers the exact top-1") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val emb = graft.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val base = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.bruteForceTopK(queries, base, 3)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture must produce neighbors to compare")
    val full = Pq.ivfPqTopK(queries, base, k = 3, nLists = 8, nProbe = 8,
        m = 16, kCodes = 32, refine = Int.MaxValue)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == exact)

    val top1 = Similarity.bruteForceTopK(queries, base, 1)
      .select("qid", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = Pq.ivfPqTopK(queries, base, k = 3, nLists = 8, nProbe = 4,
        m = 16, kCodes = 32, refine = 16)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    top1.foreach { case (qid, id) =>
      assert(pruned(qid).contains(id),
        s"query $qid: exact top-1 $id missing from IVF-PQ top-3")
    }
  }

  test("pq_adc is SQL-callable with literal arguments") {
    val got = spark.sql(
      """SELECT pq_adc(array(1, 0), cast(array(0.5, 1.5, 10.0, 20.0) as array<float>), 2)"""
    ).collect().head.getDouble(0)
    // codes (1,0): table[0*2+1] + table[1*2+0] = 1.5 + 10.0
    assert(got == 11.5)
  }

  test("pq_adc treats a null code element as contributing 0, not as centroid 0") {
    val got = spark.sql(
      """SELECT pq_adc(array(1, cast(null as int)),
        |              cast(array(0.5, 1.5, 10.0, 20.0) as array<float>), 2)""".stripMargin
    ).collect().head.getDouble(0)
    // codes (1, null): table[0*2+1] + nothing = 1.5 (a raw getInt on
    // the null slot would have read 0 and added table[2] = 10.0)
    assert(got == 1.5)
  }

  test("pq_adc_table (distributed) matches the driver-side kernel bit-for-bit " +
      "and nulls out wrong-width, null, or null-element vectors") {
    val cb = Pq.fit(smallDf, m = 4, k = 8)
    val rows: Seq[(Long, Option[Seq[Option[Float]]])] =
      testVectors(50, 16).map { case (id, v) =>
        (id, Some(v.toSeq.map(Option(_)))) } ++
        Seq((100L, None),
          (101L, Some(Seq.fill(7)(Option(1.0f)))),
          // correct width, one NULL element: a raw getFloat would
          // silently read the missing coordinate as 0.0
          (102L, Some(Seq.tabulate(16)(i =>
            if (i == 5) None else Option(1.0f)))))
    val df = rows.toDF("qid", "qvec")
    val got = df.select(col("qid"), Pq.adcTableCol(col("qvec"), cb).as("qtab"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
      .toMap
    assert(got(100L) == null, "null vector must yield null table")
    assert(got(101L) == null, "wrong-width vector must yield null table")
    assert(got(102L) == null, "null-element vector must yield null table")
    testVectors(50, 16).foreach { case (id, v) =>
      assert(got(id).toSeq == Pq.adcTable(v, cb).toSeq,
        s"table diverges from the driver kernel for qid $id")
    }
    // pq_encode applies the same policy
    val codes = df.select(col("qid"), Pq.encode(col("qvec"), cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(codes(102L), "null-element vector must yield null codes")
    assert(!codes(0L))
  }

  test("a deliberately large query side flows through without driver " +
      "materialization and stays exact in the no-cut regime") {
    // Q (2000) >> base (120): the former driver-side table build is
    // gone, so the only driver-bound artifact is the broadcast of the
    // query frame itself — and in the exact regime the |Q|x|base| pair
    // frame must NOT be broadcast (it ships through a shuffle join)
    val qs = testVectors(2000, 16).map { case (i, v) => (i + 10000L, v) }
      .toDF("qid", "qvec")
    val base = testVectors(120, 16).toDF("id", "vec")
    val exact = Similarity.bruteForceTopK(qs, base, 1)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.pqTopK(qs, base, k = 1, m = 4, kCodes = 8,
        refine = Int.MaxValue)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == exact)
    assert(pq.size == 2000)
  }
}
