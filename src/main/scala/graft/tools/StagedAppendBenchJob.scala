package graft.tools

import org.apache.spark.sql.functions.col

import graft.{Sessions, Tables}
import graft.jobs.{AdmissionIndexes, CorpusPipeline}

/** Prices the crash-consistent STAGED append path
  * ([[AdmissionIndexes.appendDeltas]] with a batchId: every delta
  * written once, bucketed, to a stage dir, a manifest committed, then
  * the staged part files moved into the live tables) against the
  * direct sequence it hardens. Per face both arms run the same one
  * bucketed write job over the delta; the staged arm adds only
  * local work in the calling JVM — a transient external-table
  * create/drop, a parquet-footer read per staged file, one atomic
  * manifest rewrite and a rename per file — so it reads within noise
  * of the direct arm (PERF.md item 12 has the stage/apply split).
  * This job is the end-to-end check of that claim.
  *
  * Both arms bootstrap identical estates from the same corpus, admit
  * the SAME batch (timed separately as `adm_s`, forced via
  * admitted.count() — the production cadence — so the append half
  * rides the admission's checkpoint pins in both arms), then time
  * the append half alone; `staged_over_cycle` prices the staging
  * against the full admit+append cycle.
  * Arms alternate (direct, staged, direct, staged) over fresh
  * estates, min-of-2 each; after the timed region every index table
  * must be row-identical across the arms' estates — a wrong append
  * can't masquerade as a fast one.
  *
  * Usage: runMain graft.tools.StagedAppendBenchJob <sfDir> [batchMod]
  * — docs with doc_id % batchMod == 0 form the batch. Prints one
  * JSON line.
  */
object StagedAppendBenchJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StagedAppendBenchJob <sfDir> [batchMod]")
    val sfDir = args(0)
    val batchMod = args.lift(1).map(_.toInt).getOrElse(11)
    val spark = Sessions.local("graft-stagedappend-bench")
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % batchMod =!= 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val batch = docs.filter(col("doc_id") % batchMod === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val (nCorpus, nBatch) = (corpus.count(), batch.count())

    // (admission wall, append wall): the admission's verdict legs are
    // forced FIRST (adm.admitted.count() — the production cadence;
    // callers read the verdict before appending), so the timed append
    // half rides the admission's lazyCheckpoint pins in BOTH arms and
    // the direct/staged delta is the append machinery alone. The
    // admission wall is reported so the append half's share of a full
    // batch cycle is a number, not an assertion.
    def appendOnce(prefix: String, staged: Boolean): (Double, Double) = {
      AdmissionIndexes.bootstrap(corpus, "doc_id", "text", prefix)
      val tA = System.nanoTime()
      val adm = CorpusPipeline.admitBatch(corpus,
        AdmissionIndexes.load(spark, s"${prefix}_digests"),
        AdmissionIndexes.load(spark, s"${prefix}_bands"),
        batch, "doc_id", "text",
        stripWindows = Some(AdmissionIndexes.load(spark, s"${prefix}_windows")),
        withPostings = true)
      adm.admitted.count()
      val t0 = System.nanoTime()
      AdmissionIndexes.appendDeltas(adm, prefix,
        batchId = if (staged) Some(s"bench_$prefix") else None)
      val t1 = System.nanoTime()
      ((t0 - tA) / 1e9, (t1 - t0) / 1e9)
    }

    val (a1, d1) = appendOnce("sab_direct_1", staged = false)
    val (a2, s1) = appendOnce("sab_staged_1", staged = true)
    val (a3, d2) = appendOnce("sab_direct_2", staged = false)
    val (a4, s2) = appendOnce("sab_staged_2", staged = true)
    val admS = Seq(a1, a2, a3, a4).min
    val directS = math.min(d1, d2)
    val stagedS = math.min(s1, s2)

    // row parity across arms: the staged path must land EXACTLY the
    // rows the direct path lands, table by table
    val tables = Seq("_digests", "_bands", "_windows", "_postings", "_stats")
    val counts = tables.map { s =>
      val d = spark.table(s"sab_direct_1$s").count()
      val st = spark.table(s"sab_staged_1$s").count()
      require(d == st,
        s"arm divergence on $s: direct=$d staged=$st — the staged " +
          "append landed different rows than the direct sequence")
      s.stripPrefix("_") -> d
    }

    println(s"""{"sf":"$sfDir","corpus":$nCorpus,"batch":$nBatch,""" +
      s""""adm_s":${f"$admS%.2f"},""" +
      s""""direct_s":${f"$directS%.2f"},"staged_s":${f"$stagedS%.2f"},""" +
      s""""staged_over_direct":${f"${stagedS / directS}%.3f"},""" +
      s""""staged_over_cycle":${f"${(admS + stagedS) / (admS + directS)}%.3f"},""" +
      s""""passes":[${f"$d1%.2f"},${f"$s1%.2f"},${f"$d2%.2f"},${f"$s2%.2f"}],""" +
      counts.map { case (k, v) => s""""rows_$k":$v""" }.mkString(",") + "}")
    spark.stop()
  }
}
