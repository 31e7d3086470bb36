package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Measured recall of every APPROXIMATE (no-oracle) query against its
  * exact twin recomputed on the SAME data and domain — the per-round
  * number that turns "the ScalaTest spec says the scale path is
  * sound" into an artifact the driver emits every round
  * (`recall.json` next to the Verify dumps, `RECALL.json` in cwd).
  *
  * recall = |approx ∩ exact| / |exact| over the twin's key columns;
  * the exact side is brute force (cosine/Jaccard/hamming with no
  * banding, no bucket caps, no cell pruning), so the number prices
  * exactly what the approximation sacrifices — LSH table count, IVF
  * cell pruning, PQ quantization, simhash banding's bucket cap.
  *
  * q_compression is the one no-oracle query with NO twin: the zlib
  * ratio is deterministic, not approximate (TextStatsSpec pins its
  * bounds and ordering), so there is nothing to measure recall
  * against — recorded as skipped, not silently omitted. */
object Recall {

  /** |approx ∩ exact| / |exact| over `keys` (1.0 when exact is
    * empty), plus both sides' distinct row counts. */
  private def pairRecall(approx: DataFrame, exact: DataFrame,
      keys: Seq[String]): (Double, Long, Long) = {
    val a = approx.select(keys.map(col): _*).distinct().localCheckpoint()
    val e = exact.select(keys.map(col): _*).distinct().localCheckpoint()
    val hit = e.join(a, keys, "left_semi").count()
    val total = e.count()
    (if (total == 0) 1.0 else hit.toDouble / total, a.count(), total)
  }

  /** The exact ANN answer every q_ann_* approximation is measured
    * against: brute-force cosine top-3, same queries/base split. */
  private def annExact(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val base = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bruteForceTopK(queries, base, 3)
  }

  private def ann(name: String)(s: SparkSession, d: String)
      : (Double, Long, Long) =
    pairRecall(SparkEntry.queries(name)(s, d), annExact(s, d),
      Seq("qid", "id"))

  /** One entry per approximate no-oracle query; each recomputes its
    * exact twin from scratch (never from a dump — the twin must be
    * beyond doubt). Ordered cheapest-first. */
  val measures: Seq[(String, (SparkSession, String) => (Double, Long, Long))] = Seq(
    "q_ann_lsh" -> ann("q_ann_lsh") _,
    "q_ann_ivf" -> ann("q_ann_ivf") _,
    "q_ann_pq" -> ann("q_ann_pq") _,
    "q_ann_ivfpq" -> ann("q_ann_ivfpq") _,

    // LSH-bucketed cosine pairs vs ALL pairs >= 0.35 (the bucket cap
    // and table count are what recall prices here)
    "q_embed_neardup" -> ((s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val l = e.select(col("id").as("id_a"), col("vec").as("va"))
      val r = e.select(col("id").as("id_b"), col("vec").as("vb"))
      val exact = l.join(r, col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("va"), col("vb")) >= 0.35)
      pairRecall(SparkEntry.queries("q_embed_neardup")(s, d), exact,
        Seq("id_a", "id_b"))
    }),

    // incremental batch-vs-index pairs vs the exact batch x corpus
    // cosine join on the same split
    "q_incremental_embed" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val b = emb.filter(col("vec_id") < 200)
        .select(col("vec_id").as("id_new"), col("embedding").as("vb"))
      val c = emb.filter(col("vec_id") >= 200)
        .select(col("vec_id").as("id_corpus"), col("embedding").as("vc"))
      val exact = b.crossJoin(c)
        .filter(Similarity.cosine(col("vb"), col("vc")) >= 0.35)
      pairRecall(SparkEntry.queries("q_incremental_embed")(s, d), exact,
        Seq("id_new", "id_corpus"))
    }),

    // SemDeDup survivors vs brute-force closure dedup (nLists=1 over
    // the FULL table). The recall here is an INVARIANT, not a tuning
    // number: within-cell merges are a subset of all-pairs merges and
    // both keep min-id, so every exact survivor must survive the
    // approx path too — any miss is a plumbing bug. What cell pruning
    // actually costs is OVER-keeping, visible as approx_rows >
    // exact_rows in the artifact.
    "q_semantic_dedup" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = Similarity.semanticDedup(emb, threshold = 0.35,
        nLists = 1, maxCell = None)
      pairRecall(SparkEntry.queries("q_semantic_dedup")(s, d), exact,
        Seq("id"))
    }),

    // banded minhash pairs vs the exact full-table Jaccard >= 0.3
    // self-join (8x2 banding + bucket caps are what recall prices)
    "q_minhash_pairs" -> ((s: SparkSession, d: String) => {
      val sh = Dedup.shingled(Tables.documents(s, d), "doc_id", "text", 3)
        .localCheckpoint()
      val l = sh.select(col("id").as("id_a"), col("sh").as("sa"))
      val r = sh.select(col("id").as("id_b"), col("sh").as("sb"))
      val exact = l.join(r, col("id_a") < col("id_b"))
        .filter(Dedup.jaccard(col("sa"), col("sb")) >= 0.3)
      pairRecall(SparkEntry.queries("q_minhash_pairs")(s, d), exact,
        Seq("id_a", "id_b"))
    }),

    // pigeonhole-banded simhash pairs vs the exact full-table
    // hamming <= 3 self-join over the same 32-bit codes (banding is
    // recall-lossless; the maxBucket=500 hot-bucket cut is priced)
    "q_simhash_pairs" -> ((s: SparkSession, d: String) => {
      val codes = Dedup.simhashCodes(Tables.documents(s, d),
        "doc_id", "text", bits = 32).localCheckpoint()
      val l = codes.select(col("id").as("id_a"), col("code").as("ca"))
      val r = codes.select(col("id").as("id_b"), col("code").as("cb"))
      val exact = l.join(r, col("id_a") < col("id_b"))
        .filter(Dedup.hamming(col("ca"), col("cb")) <= 3)
      pairRecall(SparkEntry.queries("q_simhash_pairs")(s, d), exact,
        Seq("id_a", "id_b"))
    }),

    // pigeonhole-banded dHash (perceptual image hash) pairs vs the
    // exact full-table hamming <= 14 self-join over the SAME 56-bit
    // codes (banding is recall-lossless below the bound; the
    // maxBucket=2000 hot-bucket cut is what recall prices)
    "q_phash_pairs" -> ((s: SparkSession, d: String) => {
      import graft.multimodal.Multimodal
      // the exact side is an UNBANDED theta self-join (O(n²) in
      // documents) — bounded to doc_id < 2000 so the measure stays
      // exact recall on that subset at any sfDir (at the sf0.01
      // calibration fixture the bound covers every doc, so the
      // enforced number is the full-corpus recall; the intersection
      // with the banded output only ever counts exact-side pairs, so
      // the bound never inflates recall)
      val codes = Multimodal.grayPixelsStub(
          Multimodal.fromDocuments(
            Tables.documents(s, d).filter(col("doc_id") < 2000)))
        .select(col("media_id").as("id"),
          Multimodal.dHash(col("px")).as("code"))
        .localCheckpoint()
      val l = codes.select(col("id").as("id_a"), col("code").as("ca"))
      val r = codes.select(col("id").as("id_b"), col("code").as("cb"))
      val exact = l.join(r, col("id_a") < col("id_b"))
        .filter(Dedup.hamming(col("ca"), col("cb")) <= 14)
      pairRecall(SparkEntry.queries("q_phash_pairs")(s, d), exact,
        Seq("id_a", "id_b"))
    }),

    // capped video-pair rollup vs the exact rollup over the SAME
    // per-frame 56-bit codes (banding is recall-lossless below the
    // bound; the maxBucket=2000 hot-bucket cut is what recall
    // prices). Video-PAIR recall: a video pair counts as recalled if
    // the capped path surfaces it at all — matched_pairs may be
    // lower under the cap, which is the verdict-preserving direction
    // (the pair is still flagged for review). Same doc_id < 2000
    // bound discipline as q_phash_pairs: exact on the subset at any
    // sfDir, full-corpus at the sf0.01 calibration fixture.
    "q_video_pairs" -> ((s: SparkSession, d: String) => {
      import graft.multimodal.Multimodal
      val codes = Multimodal.frameGridsStub(
          Multimodal.fromDocuments(
            Tables.documents(s, d).filter(col("doc_id") < 2000)),
          frames = 4)
        .select(col("media_id"), col("frame_no"),
          Multimodal.dHash(col("px")).as("code"))
        .localCheckpoint()
      val exact = Multimodal.videoNearDupPairs(codes, maxHamming = 14,
        maxBucket = None, bits = 56)
      pairRecall(SparkEntry.queries("q_video_pairs")(s, d), exact,
        Seq("video_a", "video_b"))
    }))

  val skipped: Map[String, String] = Map(
    "q_compression" -> ("deterministic zlib ratio - no approximate/" +
      "exact twin; bounds and ordering pinned by TextStatsSpec"))

  /** Per-query MINIMUM recall — the quality CONTRACT of each
    * approximate path, set just under its measured steady state at
    * sf0.01 so normal run-to-run wobble passes but a parameter or
    * plumbing regression fails VISIBLY: the artifact gains a
    * `below_floor` list and the Recall main exits nonzero. The exact
    * twins (q_*_exact, oracle-green) prove the plumbing; the floor
    * makes the quality operating point itself a per-round gate —
    * without it, r10 shipped IVF-PQ at 0.70 with nothing failing. */
  val floors: Map[String, Double] = Map(
    "q_ann_lsh" -> 0.95,          // measured 1.00
    "q_ann_ivf" -> 0.85,          // measured 0.93
    "q_ann_pq" -> 0.95,           // measured 1.00
    "q_ann_ivfpq" -> 0.90,        // measured 0.93 at nProbe=8/refine=32
    "q_embed_neardup" -> 0.90,    // measured 0.98 at nTables=8 (r10: 0.86 at 4)
    "q_incremental_embed" -> 0.90, // measured 0.97 at nTables=8 (r10: 0.83 at 4)
    "q_minhash_pairs" -> 0.95,    // measured 1.00
    "q_simhash_pairs" -> 0.95,    // measured 1.00 (banding lossless)
    "q_phash_pairs" -> 0.95,      // measured 1.00 (banding lossless)
    "q_video_pairs" -> 0.95,      // measured 1.00 (banding lossless)
    // survivor-subset INVARIANT (see the measure's comment), not a
    // tuning number — below 0.99 means a plumbing bug, not a knob
    "q_semantic_dedup" -> 0.99)

  /** The floors above are CALIBRATED at this fixture — operating
    * points are scale-dependent, so enforcing sf0.01 numbers against
    * some other corpus would fail healthy runs (and quietly under-gate
    * others). Off-calibration runs still MEASURE and report
    * `below_floor` in the artifact; only the calibrated fixture makes
    * it a nonzero exit. */
  val floorCalibration = "sf0.01"
  def floorsEnforced(sfDir: String): Boolean =
    new java.io.File(sfDir).getName == floorCalibration

  /** Run every measure and render the artifact JSON; the second
    * element lists the queries whose recall landed below their
    * floor, the third the queries whose measurement THREW (recorded
    * as recall -1 and also below-floor — a recall artifact that
    * can't measure is not a pass, at any scale). */
  def measureAll(spark: SparkSession, sfDir: String)
      : (String, Seq[String], Seq[String]) = {
    val measured = measures.map { case (name, fn) =>
      val (rec, a, e) =
        try fn(spark, sfDir)
        catch { case ex: Throwable =>
          System.err.println(s"[recall] $name failed: ${ex.getMessage}")
          (-1.0, -1L, -1L)
        }
      System.err.println(
        f"[recall] $name recall=$rec%.4f approx=$a exact=$e " +
          f"floor=${floors.getOrElse(name, 0.0)}%.2f")
      (name, rec, a, e)
    }
    val belowFloor = measured.collect {
      case (name, rec, _, _) if rec < floors.getOrElse(name, 0.0) => name }
    val crashed = measured.collect {
      case (name, rec, _, _) if rec < 0 => name }
    val rows = measured.map { case (name, rec, a, e) =>
      s""""$name":{"recall":${f"$rec%.4f"},"approx_rows":$a,"exact_rows":$e,""" +
        s""""floor":${f"${floors.getOrElse(name, 0.0)}%.2f"}}"""
    }
    val skippedS = skipped.map { case (k, v) =>
      s""""$k":{"recall":null,"note":"$v"}""" }
    val belowS = belowFloor.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = (rows ++ skippedS ++ Seq(s""""below_floor":$belowS"""))
      .mkString(s"""{"sf":"$sfDir",""", ",", "}")
    (json, belowFloor, crashed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length >= 2) args(1) else "RECALL.json"
    val spark = Sessions.local("graft-recall")
    val (json, belowFloor, crashed) = measureAll(spark, sfDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
    // a measure that THREW (recorded recall -1) is a bug at any
    // scale — always a nonzero exit; a sub-floor recall is only
    // enforceable at the floors' calibration fixture
    if (crashed.nonEmpty) {
      System.err.println(
        s"[recall] MEASUREMENT FAILED: ${crashed.mkString(", ")}")
      sys.exit(1)
    }
    if (belowFloor.nonEmpty) {
      System.err.println(
        s"[recall] BELOW FLOOR: ${belowFloor.mkString(", ")}")
      if (floorsEnforced(sfDir)) sys.exit(1)
      else System.err.println(s"[recall] floors are calibrated at " +
        s"$floorCalibration — reported, not enforced, for $sfDir")
    }
  }
}
