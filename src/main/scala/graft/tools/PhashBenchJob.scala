package graft.tools

import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}
import graft.dedup.Dedup
import graft.multimodal.Multimodal

/** Timed perceptual-hash near-dup run over a testdata documents table
  * — the scale measurement for the dHash -> hammingBandedPairs
  * pipeline at its PRODUCTION operating point (small maxHamming: a
  * real decoder's near-dup codes sit at hamming 2-6, where
  * maxHamming+1 segments are few and WIDE, so bucket values are
  * plentiful and expected bucket width stays small). The
  * q_phash_pairs oracle path runs maxHamming=14 only because the
  * deterministic stub's codes are random-like; this job prices the
  * point a real deployment runs.
  *
  * Reports the oversized-bucket monitor alongside the timing, so a
  * run that silently lost recall to the cap is visible in the same
  * line that prices it. Args: <sfDir> [maxHamming=3] [maxBucket=5000|none]
  * [mode=stub]. `mode=real` synthesizes REAL PNG payloads (one 36x28
  * image per doc, pixels derived deterministically from the doc text
  * via the stub formula, encoded through ImageIO) and decodes them
  * through [[Multimodal.grayPixels]] — the ImageIO decode + box-
  * resample seam priced on actual codec work; `codes_wall_s` then
  * includes the encode+decode round trip, so compare it against the
  * stub row to see what the codec itself costs.
  *
  * A trailing `route` arg pre-collapses VERBATIM-repeated codes to
  * min-id rep + linear fold edges BEFORE banding
  * ([[Dedup.collapseIdenticalCodes]] — the executable form of "exact
  * dedup owns capped hot-code mass"): `pairs` then counts banded
  * rep pairs + fold edges, and the oversized monitor runs on the
  * REPS — after the fold a capped bucket can only hold genuinely
  * distinct-but-close codes, so `oversized_buckets` ~ 0 is the
  * expected reading where the direct 1000x run ceded 51,875 rows.
  * Cluster-level results are provably identical to the uncapped
  * direct run (DedupSpec pins it); this job prices the fold at
  * scale. Prints ONE JSON line. */
object PhashBenchJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: PhashBenchJob <sfDir> [maxHamming] [maxBucket|none] [stub|real] [route]")
    val sfDir = args(0)
    val maxHamming = if (args.length >= 2) args(1).toInt else 3
    val maxBucket = if (args.length >= 3) capArg(args(2)) else Some(5000)
    val mode = if (args.length >= 4) args(3) else "stub"
    val route = args.length >= 5 && args(4) == "route"
    val spark = Sessions.local("graft-phash-bench")
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val t0 = System.nanoTime()
    // codes once, shared by the pair run and the monitor (the
    // consumed-twice rule)
    val media = Multimodal.fromDocuments(docs)
    val pixelSource = mode match {
      case "real" =>
        // real payloads: render the stub's deterministic pseudo-pixels
        // at 4x the grid (36x28) into an actual PNG per row, then
        // decode through the REAL ImageIO face — same near-dup
        // structure as the stub run (PNG is lossless and box-resample
        // of a 4x grid is exact), but every byte crosses a real codec
        import spark.implicits._
        val encoded = Multimodal.grayPixelsStub(media, w = 36, h = 28)
          .as[(Long, Seq[Int])]
          .map { case (id, px) => Multimodal.MediaRow(id, "image", "png",
            Multimodal.pngOfGray(px.toArray, 36, 28)) }
        Multimodal.grayPixels(encoded)
      case _ => Multimodal.grayPixelsStub(media)
    }
    val codes = pixelSource
      .select(col("media_id").as("id"),
        Multimodal.dHash(col("px")).as("code"))
      .localCheckpoint()
    val codesWall = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    // routed: fold verbatim-repeated codes out before banding; the
    // fold edges ARE that mass's near-dup pairs (hamming 0), linear
    val (bandSource, foldEdges) =
      if (!route) (codes, 0L)
      else {
        val (reps, edges) = Dedup.collapseIdenticalCodes(codes)
        // reps is already eager-checkpointed inside the fold — a
        // second copy here would land INSIDE the timed window
        (reps, edges.count())
      }
    val nPairs = Dedup.hammingBandedPairs(bandSource, maxHamming,
      maxBucket, bits = 56).count() + foldEdges
    val pairsWall = (System.nanoTime() - t1) / 1e9
    val over = Dedup.oversizedHammingBuckets(bandSource, maxHamming,
        maxBucket, bits = 56)
      .agg(count(lit(1)), coalesce(sum(col("bsz")), lit(0L)))
      .collect()(0)
    println(s"""{"docs":$n,"max_hamming":$maxHamming,""" +
      s""""max_bucket":${capJson(maxBucket)},"mode":"$mode","routed":$route,""" +
      s""""pairs":$nPairs,"fold_edges":$foldEdges,""" +
      f""""codes_wall_s":$codesWall%.2f,"pairs_wall_s":$pairsWall%.2f,""" +
      s""""oversized_buckets":${over.getLong(0)},""" +
      s""""oversized_mass":${over.getLong(1)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
