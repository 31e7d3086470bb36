package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.dedup.Dedup

/** Prices the window-cap pairs kernel's SINGLE-HOT-BUCKET regime —
  * the r16 ADVICE straggler concern: one degenerate code cluster
  * (boilerplate frames/pages sharing one fingerprint VERBATIM) in an
  * otherwise healthy corpus. Under the window-cap shape the hot
  * bucket's rows ride the banding exchange into one window task per
  * segment before the cap drops them; the old agg+join-back dropped
  * them map-side before any exchange. This job makes that price a
  * number instead of a comment.
  *
  * Corpus: `n` 56-bit codes; every id % hotMod == 0 carries THE one
  * hot code (hotMod = 0 disables the hot mass — the healthy
  * control), the rest are md5-derived pseudo-random. Arms:
  *
  *   - `direct`: [[Dedup.hammingBandedPairs]] straight over the
  *     codes (the hot bucket saturates every segment; the cap drops
  *     it after the exchange).
  *   - `routed`: [[Dedup.collapseIdenticalCodes]] first — the
  *     production answer the kernel comment prescribes: verbatim
  *     mass folds to one representative before banding, fold edges
  *     carry the cluster — then the same kernel over the reps.
  *
  * The arms' pair COUNTS are not comparable: `direct` emits every
  * within-bound pair of a cluster (~k²/2 for a k-row hot code),
  * `routed` emits k-1 fold edges for the same cluster. What both
  * arms must agree on is the clustering their pairs induce, so each
  * arm noop-sinks its pair frame (the timed part), then labels it
  * with [[Dedup.connectedComponents]] outside the timer. With both
  * arms run, the last line compares the two label sets
  * (`labels_match`) — a capped `direct` arm that dropped the hot
  * bucket reads `false`, so a wrong answer cannot masquerade as a
  * fast one. Usage:
  * runMain graft.tools.HotBucketBenchJob [n] [hotMod] [maxBucket|none]
  * [direct|routed|both]. Prints one JSON line per arm (plus the
  * comparison line). */
object HotBucketBenchJob {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val hotMod = args.lift(1).map(_.toInt).getOrElse(4)
    val maxBucket = args.lift(2).map(capArg).getOrElse(Some(5000))
    val arm = args.lift(3).getOrElse("both")
    require(Set("direct", "routed", "both")(arm),
      s"arm must be direct|routed|both, got '$arm'")
    val spark = Sessions.local("graft-hotbucket-bench")

    val hotCode = lit(0x0123456789ABCL)
    val randCode = expr("abs(xxhash64(cast(id as string))) % " +
      (1L << 56).toString)
    val codes = spark.range(n).select(col("id"),
        (if (hotMod > 0) when(col("id") % hotMod === 0, hotCode)
          .otherwise(randCode)
        else randCode).as("code"))
      .localCheckpoint()
    codes.count()

    // (id, cluster) labels of one arm's pairs, checkpointed so the
    // comparison below does not re-run the arm
    def run(name: String, pairs: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      pairs.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val labels = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
        .localCheckpoint()
      println(s"""{"job":"hot_bucket","arm":"$name","n":$n,""" +
        s""""hot_mod":$hotMod,"max_bucket":${capJson(maxBucket)},""" +
        s""""pairs":${pairs.count()},"clustered_ids":${labels.count()},""" +
        s""""clusters":${labels.select("cluster").distinct().count()},""" +
        s""""wall_s":${f"$wall%.1f"}}""")
      labels
    }

    val direct = Option.when(arm != "routed")(
      run("direct", Dedup.hammingBandedPairs(codes, maxHamming = 3,
        maxBucket = maxBucket, bits = 56)))
    val routed = Option.when(arm != "direct") {
      val (reps, edges) = Dedup.collapseIdenticalCodes(codes)
      run("routed", Dedup.hammingBandedPairs(reps, maxHamming = 3,
          maxBucket = maxBucket, bits = 56)
        .select(col("id_a"), col("id_b"))
        .unionByName(edges))
    }
    for (d <- direct; r <- routed) {
      val same = d.exceptAll(r).isEmpty && r.exceptAll(d).isEmpty
      println(s"""{"job":"hot_bucket","compare":"labels","n":$n,""" +
        s""""hot_mod":$hotMod,"max_bucket":${capJson(maxBucket)},""" +
        s""""labels_match":$same}""")
    }
    spark.stop()
  }
}
