package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.dedup.Dedup
import graft.jobs.CorpusPipeline

/** Prices ONE admitMediaBatch call at a synthetic scale point — the
  * measurement face of the admission persist-policy decision
  * (persist-with-lineage vs localCheckpoint for the verdict frames:
  * the policy is about fault tolerance, so its WALL cost must be
  * measured, not assumed — the r12 checkpoint anti-win showed this
  * family surprises).
  *
  * Corpus: `n` pseudo-random 56-bit codes, indexed with
  * hammingBandRows the way a persisted index stores them. Batch:
  * n/5 codes — 10% within hamming 2 of a corpus code (corpus dups),
  * 5% in verbatim-identical batch-internal groups of 4 (exercising
  * the Fingerprint pair source's collapse + CC keeper), the rest
  * fresh. Times the FULL admission: probe verdict, batch-internal
  * CC, annotate joins, admitted count, delta band rows — then
  * release()s (or lets checkpoint blocks GC in the old policy).
  *
  * `video` mode prices admitVideoBatch the same way at FRAME
  * granularity: an nV-video x 8-frame corpus frame index, a
  * batch of nV/5 videos where 10% are near-copies of corpus videos
  * (every frame hamming 2 of the original — the rollup sees 8
  * matched pairs), 2.5% near-dup PAIRS within the batch (keeper =
  * min id), rest fresh; minMatchedPairs = 2 so the pairwise gate is
  * exercised, cap 2000 so the monitor prices hot frames.
  *
  * Usage: runMain graft.tools.MediaAdmitBenchJob [media|video] [n]
  * [maxHamming] — `n` is codes (media) or VIDEOS (video). Prints one
  * JSON line.
  */
object MediaAdmitBenchJob {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filterNot(a => a.forall(_.isDigit))
      .getOrElse("media")
    require(mode == "media" || mode == "video",
      s"mode must be media|video, got '$mode'")
    val numArgs = args.dropWhile(a => !a.forall(_.isDigit))
    val spark = Sessions.local("graft-media-admit-bench")
    if (mode == "video") runVideo(spark, numArgs)
    else runMedia(spark, numArgs)
    spark.stop()
  }

  private def codeOf(c: org.apache.spark.sql.Column) =
    abs(xxhash64(c)).bitwiseAND(lit((1L << 56) - 1))

  private def lapper(): Long => (Long, Double) = { prev =>
    val now = System.nanoTime(); (now, (now - prev) / 1e9)
  }

  private def runVideo(spark: org.apache.spark.sql.SparkSession,
      args: Array[String]): Unit = {
    val nV = args.headOption.map(_.toInt).getOrElse(200000)
    val maxHamming = args.lift(1).map(_.toInt).getOrElse(3)
    val frames = 8

    val corpusFrames = spark.range(nV.toLong * frames).select(
        (col("id") / frames).cast("long").as("media_id"),
        (col("id") % frames).cast("int").as("frame_no"),
        codeOf(col("id")).as("code"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val index = Dedup.hammingBandRows(
        corpusFrames.select(
          struct(col("media_id"), col("frame_no")).as("id"), col("code")),
        maxHamming, bits = 56)
      .localCheckpoint()
    val indexRows = index.count()
    val indexWall = (System.nanoTime() - t0) / 1e9

    // batch videos (ids offset by nV): v%10==0 a near-copy of corpus
    // video v%nV (each frame hamming 2); (v%40==1, v%40==21) internal
    // near pairs (21's frames hamming 1 of 1's); rest fresh
    val bV = nV / 5
    val big = 1000L * 1000 * 1000
    val batch = spark.range(bV.toLong * frames).select(
        ((col("id") / frames).cast("long") + nV).as("media_id"),
        (col("id") % frames).cast("int").as("frame_no"),
        (col("id") / frames).cast("long").as("__v"),
        col("id").as("__g"))
      .select(col("media_id"), col("frame_no"),
        when(col("__v") % 10 === 0,
            codeOf((col("__v") % nV) * frames + col("frame_no"))
              .bitwiseXOR(lit(3L)))
          .when(col("__v") % 40 === 1,
            codeOf(lit(9L) * big + col("__g")))
          .when(col("__v") % 40 === 21,
            codeOf(lit(9L) * big + (col("__v") - 20) * frames +
              col("frame_no")).bitwiseXOR(lit(1L)))
          .otherwise(codeOf(lit(7L) * big + col("__g"))).as("code"))
      .localCheckpoint()
    batch.count()

    val t1 = System.nanoTime()
    val lap = lapper()
    val adm = CorpusPipeline.admitVideoBatch(index, batch,
      maxHamming = maxHamming, maxBucket = Some(2000), bits = 56,
      minMatchedPairs = 2L)
    val (t2, constructS) = lap(t1)
    val corpusDups = adm.annotated.filter(col("is_corpus_dup")).count()
    val (t3, cdupS) = lap(t2)
    val batchDups = adm.annotated.filter(col("is_batch_dup")).count()
    val (t4, bdupS) = lap(t3)
    val admitted = adm.admitted.select(col("media_id")).distinct().count()
    val (t5, admS) = lap(t4)
    val deltaRows = adm.newHamming.count()
    val (_, deltaS) = lap(t5)
    System.err.println(f"[video-admit] construct=$constructS%.1f " +
      f"cdup=$cdupS%.1f bdup=$bdupS%.1f admitted=$admS%.1f " +
      f"delta=$deltaS%.1f")
    val admitWall = (System.nanoTime() - t1) / 1e9

    println(s"""{"metric":"video_admit_bench","corpus_videos":$nV,""" +
      s""""frames_per_video":$frames,"batch_videos":$bV,""" +
      s""""maxHamming":$maxHamming,"index_rows":$indexRows,""" +
      s""""index_wall_s":${f"$indexWall%.2f"},""" +
      s""""corpus_dups":$corpusDups,"batch_dups":$batchDups,""" +
      s""""admitted":$admitted,"delta_rows":$deltaRows,""" +
      s""""admit_wall_s":${f"$admitWall%.2f"}}""")
  }

  private def runMedia(spark: org.apache.spark.sql.SparkSession,
      args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val maxHamming = args.lift(1).map(_.toInt).getOrElse(3)
    import spark.implicits._
    val corpus = spark.range(n)
      .select(col("id"), codeOf(col("id")).as("code"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val index = Dedup.hammingBandRows(corpus, maxHamming, bits = 56)
      .localCheckpoint()
    val indexRows = index.count()
    val indexWall = (System.nanoTime() - t0) / 1e9

    // batch: 10% corpus-near (hamming 2), two VERBATIM hot codes of
    // b/40 members each (over the 2000 cap, so the skew monitor
    // fires and the identical-code pre-collapse + CC keeper path is
    // exercised — the path the persist policy changed), rest fresh
    val b = n / 5
    val batch = spark.range(b).select(
        (col("id") + n).as("id"),
        when(col("id") % 10 === 0, codeOf(col("id") % n).bitwiseXOR(lit(3L)))
          .when(col("id") % 40 === 1, lit(0x00123456789abcL))
          .when(col("id") % 40 === 21, lit(0x00fedcba987654L))
          .otherwise(codeOf(col("id") + 7 * n)).as("code"))
      .localCheckpoint()
    batch.count()

    val t1 = System.nanoTime()
    val lap = lapper()
    val adm = CorpusPipeline.admitMediaBatch(index, batch,
      maxHamming = maxHamming, maxBucket = Some(2000), bits = 56)
    val (t2, constructS) = lap(t1)
    val corpusDups = adm.annotated
      .filter(col("is_corpus_phash_dup")).count()
    val (t3, cdupS) = lap(t2)
    val batchDups = adm.annotated
      .filter(col("is_batch_phash_dup")).count()
    val (t4, bdupS) = lap(t3)
    val admitted = adm.admitted.count()
    val (t5, admS) = lap(t4)
    val deltaRows = adm.newHamming.count()
    val (_, deltaS) = lap(t5)
    System.err.println(f"[media-admit] construct=$constructS%.1f " +
      f"cdup=$cdupS%.1f bdup=$bdupS%.1f admitted=$admS%.1f " +
      f"delta=$deltaS%.1f")
    val admitWall = (System.nanoTime() - t1) / 1e9

    println(s"""{"metric":"media_admit_bench","corpus":$n,"batch":$b,""" +
      s""""maxHamming":$maxHamming,"index_rows":$indexRows,""" +
      s""""index_wall_s":${f"$indexWall%.2f"},""" +
      s""""corpus_dups":$corpusDups,"batch_dups":$batchDups,""" +
      s""""admitted":$admitted,"delta_rows":$deltaRows,""" +
      s""""admit_wall_s":${f"$admitWall%.2f"}}""")
  }
}
