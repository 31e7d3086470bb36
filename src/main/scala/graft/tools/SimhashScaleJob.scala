package graft.tools

import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}
import graft.dedup.Dedup

/** Timed simhash near-dup run at corpus scale — the measurement that
  * gives the documented "64-bit is the real scale path" claim a
  * number: at bits=32 and 500k docs the maxHamming=3 segments are 8
  * bits wide (256 values), so segment buckets average ~2k rows and
  * the cap trades recall by the operator's own documentation; at
  * bits=64 the segments are 16-bit (65k values), buckets average ~8
  * rows, and the SAME cap touches (almost) nothing.
  *
  * Recall here is EXACT, not estimated: the capped pair set is a
  * subset of the uncapped one (dropping buckets only removes
  * candidates; the hamming verify is identical), and uncapped
  * pigeonhole banding is provably lossless below the bound — so
  * recall = capped_pairs / uncapped_pairs. The uncapped reference
  * run is opt-in (`uncapped` arg): feasible at 64 bits where buckets
  * are narrow; at 32 bits and 500k docs it is the n²-ish blow-up the
  * cap exists to prevent, so the 32-bit row reports the
  * oversized-bucket monitor (count + mass) as its loss signal
  * instead.
  *
  * `routed` (implies the uncapped reference) additionally measures
  * the identical-code pre-collapse path
  * ([[Dedup.collapseIdenticalCodes]] -> band REPS at the cap -> fold
  * edges unioned in): since a fold group's pairs surface as cluster
  * co-membership rather than explicit rows, its recall is measured at
  * the CLUSTER level — the fraction of uncapped true pairs whose two
  * ids land in the same routed connected component, which is the
  * verdict every downstream consumer (keeper selection) actually
  * reads.
  *
  * Args: <sfDir> [bits=64] [maxHamming=3] [maxBucket=500|none]
  * [uncapped|routed]. Prints ONE JSON line. */
object SimhashScaleJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: SimhashScaleJob <sfDir> [bits] [maxHamming] [maxBucket|none] [uncapped|routed]")
    val sfDir = args(0)
    val bits = if (args.length >= 2) args(1).toInt else 64
    val maxHamming = if (args.length >= 3) args(2).toInt else 3
    val maxBucket = if (args.length >= 4) capArg(args(3)) else Some(500)
    val mode = if (args.length >= 5) args(4) else ""
    val runRouted = mode == "routed"
    val runUncapped = mode == "uncapped" || runRouted
    val spark = Sessions.local("graft-simhash-scale")
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val t0 = System.nanoTime()
    val codes = Dedup.simhashCodes(docs, "doc_id", "text", bits)
      .localCheckpoint()
    val codesWall = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val capped = Dedup.hammingBandedPairs(codes, maxHamming, maxBucket,
      bits).count()
    val cappedWall = (System.nanoTime() - t1) / 1e9
    val over = Dedup.oversizedHammingBuckets(codes, maxHamming,
        maxBucket, bits)
      .agg(count(lit(1)), coalesce(sum(col("bsz")), lit(0L)))
      .collect()(0)
    val (uncappedPairs, uncapped, uncappedWall, recall) =
      if (!runUncapped) (None, -1L, -1.0, -1.0)
      else {
        val t2 = System.nanoTime()
        val up = Dedup.hammingBandedPairs(codes, maxHamming,
          None, bits).localCheckpoint(eager = false)
        val u = up.count()
        val w = (System.nanoTime() - t2) / 1e9
        (Some(up), u, w, if (u == 0) 1.0 else capped.toDouble / u)
      }
    val (routedRecall, routedWall, reps, foldEdges) =
      if (!runRouted) (-1.0, -1.0, -1L, -1L)
      else {
        // routed_wall_s times ONLY what a production consumer pays
        // (fold + banding + CC, forced by the label materialization);
        // the recall-scoring double join over the uncapped pair set
        // is measurement overhead and runs OUTSIDE the window
        val t3 = System.nanoTime()
        val (r, e0) = Dedup.collapseIdenticalCodes(codes)
        // r is already eager-checkpointed inside the fold — a second
        // copy would land inside routed_wall_s
        val rCk = r
        val e = e0.localCheckpoint()
        val routedPairs = Dedup.hammingBandedPairs(rCk, maxHamming,
            maxBucket, bits)
          .select(col("id_a"), col("id_b"))
          .unionByName(e)
        val labels = Dedup.connectedComponents(routedPairs, "id_a", "id_b")
          .localCheckpoint()
        val w = (System.nanoTime() - t3) / 1e9
        val up = uncappedPairs.get
        val covered = up
          .join(labels.select(col("id").as("id_a"),
            col("cluster").as("__ca")), Seq("id_a"))
          .join(labels.select(col("id").as("id_b"),
            col("cluster").as("__cb")), Seq("id_b"))
          .filter(col("__ca") === col("__cb")).count()
        (if (uncapped == 0) 1.0 else covered.toDouble / uncapped, w,
          rCk.count(), e.count())
      }
    println(s"""{"docs":$n,"bits":$bits,"max_hamming":$maxHamming,""" +
      s""""max_bucket":${capJson(maxBucket)},"pairs_capped":$capped,""" +
      f""""codes_wall_s":$codesWall%.2f,"pairs_wall_s":$cappedWall%.2f,""" +
      s""""oversized_buckets":${over.getLong(0)},""" +
      s""""oversized_mass":${over.getLong(1)},""" +
      s""""pairs_uncapped":$uncapped,""" +
      f""""uncapped_wall_s":$uncappedWall%.2f,"recall":$recall%.4f,""" +
      s""""distinct_codes":$reps,"fold_edges":$foldEdges,""" +
      f""""routed_cluster_recall":$routedRecall%.4f,""" +
      f""""routed_wall_s":$routedWall%.2f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
