package graft.tools

import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}
import graft.multimodal.Multimodal

/** Timed video / audio fingerprint near-dup run over a testdata
  * documents table — the scale measurement for the two REAL media
  * decode seams added in r13, the media twins of
  * [[PhashBenchJob]]'s `real` mode:
  *
  *  - `video`: one REAL animated GIF per doc (`frames` frames of
  *    deterministic pseudo-pixels rendered at 4x the hash grid —
  *    36x28 — and encoded through the JDK GIF writer), decoded via
  *    [[Multimodal.gifFrames]] (full GIF89a compositing), per-frame
  *    [[Multimodal.dHash]], then [[Multimodal.videoNearDupPairs]] —
  *    frame-level banding through the shared pigeonhole kernel plus
  *    the video-pair rollup.
  *  - `audio`: one REAL mono 16-bit WAV per doc (`audioWindows`
  *    windows x 40 samples whose per-window amplitude follows the
  *    doc's stub contour), parsed via
  *    [[Multimodal.pcmEnergyContour]]'s RIFF walk, hashed by the
  *    (audioWindows-1)-bit contour dHash and paired at that width —
  *    33 (32-bit) is the default operating point, 64 (63-bit) the
  *    corpus-scale one.
  *
  * `codes_wall_s` prices the synth+encode+decode+hash leg (every
  * byte crosses the real container format); `pairs_wall_s` the
  * banding (+ rollup for video). The oversized-bucket monitor rides
  * along so a run that lost recall to the cap is visible in the
  * line that prices it. Args: <sfDir> <video|audio> [frames=4]
  * [maxHamming] [maxBucket=5000|none] [audioWindows=33 — 64 is the documented
  * corpus-scale point: 63-bit codes, wider segments, see PERF.md's
  * segment-density rule]. Prints ONE JSON line. */
object MediaBenchJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MediaBenchJob <sfDir> <video|audio> [frames] [maxHamming] [maxBucket|none] [audioWindows]")
    val sfDir = args(0)
    val mode = args(1)
    val frames = if (args.length >= 3) args(2).toInt else 4
    val maxHamming = if (args.length >= 4) args(3).toInt else 6
    val maxBucket = if (args.length >= 5) capArg(args(4)) else Some(5000)
    val audioWindows = if (args.length >= 6) args(5).toInt else 33
    val spark = Sessions.local("graft-media-bench")
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val media = Multimodal.fromDocuments(docs)
    val t0 = System.nanoTime()

    val (codes, bits, nUnits) = mode match {
      case "video" =>
        // real payloads: render each frame's pseudo-pixels at 4x the
        // grid into an actual animated GIF, then decode through the
        // REAL compositing face — lossless, so near-dup structure
        // matches the stub run while every byte crosses the codec
        val encoded = Multimodal.frameGridsStub(media, frames,
            w = 36, h = 28)
          .as[(Long, Int, Seq[Int])]
          .groupByKey(_._1)
          .mapGroups { (id, it) =>
            val fs = it.toSeq.sortBy(_._2).map(_._3.toArray)
            Multimodal.MediaRow(id, "video", "gif",
              Multimodal.gifOfGrayFrames(fs, 36, 28))
          }
        val frameCodes = Multimodal.gifFrames(encoded)
          .select(col("media_id"), col("frame_no"),
            Multimodal.dHash(col("px")).as("code"))
          .localCheckpoint()
        (frameCodes, 56, frameCodes.count())
      case "audio" =>
        // real payloads: a WAV whose window amplitudes follow the
        // doc's stub contour. amplitude = round(value*32768/255)
        // clamped to 16-bit, so the RMS read-back round(a*255/32768)
        // is EXACTLY the stub value for every v in 0..255 (error
        // <= 0.004 before rounding; v=255 clamps to 32767 which still
        // reads back 255) — near-dup structure matches the stub run
        // bit-for-bit, not just approximately. 40 samples/window.
        val w = audioWindows
        val encoded = Multimodal.grayPixelsStub(media, w = w, h = 1)
          .as[(Long, Seq[Int])]
          .map { case (id, contour) =>
            val samples = Array.tabulate(w * 40) { i =>
              val a = math.min(32767,
                math.round(contour(i / 40) * 32768.0 / 255.0).toInt)
              if (i % 2 == 0) a else -a
            }
            Multimodal.MediaRow(id, "audio", "wav",
              Multimodal.wavOfSamples(samples))
          }
        val audioCodes = Multimodal.audioFingerprint(encoded, windows = w)
          .localCheckpoint()
        (audioCodes, w - 1, audioCodes.count())
      case other => sys.error(s"unknown mode $other")
    }
    val codesWall = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val pairs = mode match {
      case "video" =>
        Multimodal.videoNearDupPairs(codes, maxHamming, maxBucket,
          bits).count()
      case _ =>
        graft.dedup.Dedup.hammingBandedPairs(
          codes.select(col("media_id").as("id"), col("code")),
          maxHamming, maxBucket, bits).count()
    }
    val pairsWall = (System.nanoTime() - t1) / 1e9

    val idCodes =
      if (mode == "video")
        codes.select(struct(col("media_id"), col("frame_no")).as("id"),
          col("code"))
      else codes.select(col("media_id").as("id"), col("code"))
    val oversized = graft.dedup.Dedup.oversizedHammingBuckets(
      idCodes, maxHamming, maxBucket, bits).count()

    println(s"""{"metric":"media_bench","mode":"$mode","docs":$n,""" +
      s""""units":$nUnits,"frames":$frames,""" +
      (if (mode == "audio") s""""audio_windows":$audioWindows,""" else "") +
      s""""maxHamming":$maxHamming,""" +
      s""""maxBucket":${capJson(maxBucket)},"bits":$bits,"pairs":$pairs,""" +
      s""""oversized_buckets":$oversized,""" +
      s""""codes_wall_s":${f"$codesWall%.2f"},""" +
      s""""pairs_wall_s":${f"$pairsWall%.2f"},"sf":"$sfDir"}""")
    spark.stop()
  }
}
