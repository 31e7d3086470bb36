package lifebench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{AdmissionIndexes, CorpusPipeline}
import graft.text.TextStats
import graft.tools.ScaleUp

/** LLM-corpus lifecycle: a ScaleUp'd 10x document table through the
  * dedup pipeline, the admission-index estate bootstrapped over the
  * kept corpus (text + 56-bit image codes), then arriving batches
  * through the staged multimodal admission. The recurring unit is one
  * admission batch. */
object CorpusAdmission extends Workload {
  final case class Input(gen: Gen.CorpusInput, docs: String)
  type In = Input
  final case class Result(stats: Map[String, Long], admitted: Seq[Set[Long]]) {
    def hash: Long = Gen.fnv64(stats.toSeq.sorted.mkString(",") +
      admitted.map(_.toSeq.sorted.mkString(" ")).mkString("|"))
  }
  type Out = Result

  val name = "corpus_admission"
  val Base = 200
  val Batches = 1
  val Prefix = "lb"
  val Buckets = 8

  def gen(spark: SparkSession, dir: Path, seed: Long): In = {
    val g = Gen.corpus(dir, seed, Base, Batches)
    // ScaleUp reads a parquet documents table of the standard schema
    val base = dir.resolve("base-parquet")
    read(spark, g.baseDir, "text STRING")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(base.resolve("documents.parquet").toString)
    val scaled = dir.resolve("scaled")
    ScaleUp.run(spark, base.toString, scaled.toString, Gen.ScaleFactor, Set("documents"))
    Input(g, scaled.resolve("documents.parquet").toString)
  }

  /** A generated (doc_id, value) file. */
  private def read(spark: SparkSession, dir: String, value: String): DataFrame =
    spark.read.schema(s"doc_id BIGINT, $value").option("sep", "\t").csv(dir)

  def sizes(in: In): Map[String, Any] = Map(
    "docs" -> in.gen.inputDocs, "kept" -> in.gen.kept,
    "batches" -> in.gen.batchDirs.size,
    "batch_docs" -> (in.gen.admitted.head.size + in.gen.refused.head.size))

  override def reset(spark: SparkSession, in: In, work: Path): Unit = {
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    Frames.rmTree(warehouse(spark))
    Frames.rmTree(work)
    super.reset(spark, in, work)
  }

  private val Stages = Map("quality" -> "text.quality", "exact_dedupe" -> "dedup.exact",
    "near_dup" -> "dedup.neardup", "decontaminate" -> "dedup.decontam")

  def body(ctx: Ctx, in: In, work: Path): Out = {
    val spark = ctx.spark
    val docs = spark.read.parquet(in.docs).select("doc_id", "text")
    val bench = read(spark, in.gen.benchDir, "text STRING")
    val keptCond = col("pass_quality") && !col("is_exact_dup") &&
      !col("is_near_dup") && !col("is_contaminated")
    val (stats, kept) = ctx.span("jobs.pipeline.run") {
      // pipeline stages report through onStage; in a traced run each
      // report closes the span its Spark jobs ran under
      ctx.tracer.foreach(_.open("jobs.pipeline.stage"))
      val res = CorpusPipeline.run(docs, "doc_id", "text", bench,
        shardBudget = 4096L,
        quality = t => TextStats.tokenCount(t) >= 10,
        onStage = (stage, _) => ctx.tracer.foreach { t =>
          t.close(Stages.get(stage)); t.open("jobs.pipeline.stage") })
      val ann = res.annotated.localCheckpoint()
      val s = CorpusPipeline.stats(ann).head()
      val stats = Seq("input", "quality_fail", "exact_dup", "near_dup",
        "contaminated", "kept").map(c => c -> s.getAs[Long](c)).toMap
      res.cleaned.count()
      ctx.tracer.foreach(_.close(Some("jobs.pipeline.finalize")))
      ctx.count("text.quality_dropped", stats("quality_fail").toDouble)
      ctx.count("dedup.exact_dropped", stats("exact_dup").toDouble)
      ctx.count("dedup.neardup_dropped", stats("near_dup").toDouble)
      (stats, docs.join(ann.filter(keptCond).select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    }
    ctx.span("jobs.admission.bootstrap") {
      val codes = read(spark, in.gen.codesDir, "code BIGINT")
        .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      AdmissionIndexes.bootstrapMultimodal(kept, "doc_id", "text", Prefix,
        imageCodes = Some(codes), buckets = Buckets)
    }
    var corpus: DataFrame = kept
    val admitted = in.gen.batchDirs.map { dir =>
      val bdocs = read(spark, s"$dir/docs", "text STRING")
      val ids = ctx.unit(ctx.span("jobs.admission.batch") {
        val adm = AdmissionIndexes.runMultimodalBatch(corpus,
          CorpusPipeline.MultimodalBatch(bdocs,
            imageCodes = Some(read(spark, s"$dir/codes", "code BIGINT"))),
          Prefix, "doc_id", "text", buckets = Buckets)
        val ids = adm.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
        ctx.measure("jobs.admission.batch_docs")(bdocs.count().toDouble)
        ctx.count("jobs.admission.admitted", ids.size.toDouble)
        ids
      })
      corpus = corpus.unionByName(bdocs.where(col("doc_id").isin(ids.toSeq: _*)))
      ids
    }
    Result(stats, admitted)
  }

  def hash(out: Out): Long = out.hash

  private def warehouse(spark: SparkSession): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  /** Staged batches whose manifest is still on disk (the admission
    * module keeps one `_graft_batch_<prefix>.json` per pending batch in
    * the warehouse); must read 0 after every batch call returned. */
  def pendingStaged(spark: SparkSession): Long = {
    val files = Option(warehouse(spark).toFile.listFiles()).getOrElse(Array.empty)
    files.count(_.getName.startsWith("_graft_batch_")).toLong
  }

  /** The index estate after a traced body: digest rows, files across
    * the bucketed index tables, pending staged batches. */
  override def estate(spark: SparkSession): Map[String, Double] = {
    val tables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(Prefix + "_"))
    Map("jobs.admission.index_rows" -> spark.table(s"${Prefix}_digests").count().toDouble,
      "jobs.admission.index_files" ->
        tables.flatMap(AdmissionIndexes.fragmentation(spark, _)).map(_.files).sum.toDouble,
      "jobs.admission.pending_staged" -> pendingStaged(spark).toDouble)
  }

  def check(spark: SparkSession, in: In, work: Path, out: Out): Seq[Check] = {
    val g = in.gen
    val s = out.stats
    val drops = s("quality_fail") + s("exact_dup") + s("near_dup") + s("contaminated")
    Seq(Check.eq("stats.reconcile", s("kept") + drops, s("input")),
      Check.eq("stats.input", s("input"), g.inputDocs),
      Check.eq("stats.quality_fail", s("quality_fail"), g.qualityFail),
      Check.eq("stats.exact_dup", s("exact_dup"), g.exactDup),
      Check.eq("stats.near_dup", s("near_dup"), g.nearDup),
      Check.eq("stats.contaminated", s("contaminated"), g.contaminated),
      Check.eq("stats.kept", s("kept"), g.kept)) ++
      out.admitted.zipWithIndex.flatMap { case (ids, b) =>
        Seq(Check(s"batch$b.fresh_admitted", g.admitted(b).subsetOf(ids),
            s"${(g.admitted(b) -- ids).size} fresh docs refused"),
          Check(s"batch$b.planted_refused", (ids intersect g.refused(b)).isEmpty,
            s"${(ids intersect g.refused(b)).size} planted copies admitted"))
      } ++ Seq(Check.eq("pending_staged", pendingStaged(spark), 0L))
  }
}
