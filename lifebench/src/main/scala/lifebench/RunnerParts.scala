package lifebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.crawl.{Extractors, WarcStore, WatExtract}
import graft.io.{Layout, Tsv}
import graft.jobs.Runner
import graft.license.Licenses
import graft.loadmerge.Merge
import graft.storage.ImageStore

/** `Runner.phaseB` and `Runner.phaseC` driven through their public
  * parts, for the traced run: each layer's frame is forced in its own
  * span so the layer's time and Spark jobs are its own. The untraced
  * run calls the composites; the two must give the same result hash,
  * which every traced run checks. The projections below repeat the
  * composites' own (they are not exposed separately). */
object RunnerParts {

  def phaseB(ctx: Ctx, links: DataFrame, domain: String, provider: String,
      warcRoot: String, outDir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val refs = WatExtract.providerSlice(links, domain).select(
        col("url"), col("warc_path").as("warcPath"),
        col("content_offset").as("offset"),
        col("deflate_length").as("deflateLength"))
      .as[WarcStore.WarcRef]
    ctx.measure("crawl.warc_mb_read")(
      refs.agg(sum("deflateLength")).head().getLong(0) / 1048576.0)
    val pages = ctx.span("crawl.fetch")(
      WarcStore.fetchPages(refs, warcRoot).localCheckpoint())
    val rows = ctx.span("crawl.extract")(
      Extractors.extractAll(pages, new Extractors.GalleryExtractor(provider))
        .localCheckpoint())
    ctx.measure("crawl.rows_extracted")(rows.count().toDouble)
    val (lic, ver) = Licenses.licenseFromPath(col("license_path"))
    val prepared = ctx.span("storage.prepare") {
      val raw = rows.toDF().select(
        col("foreign_identifier"), col("foreign_landing_url"),
        col("image_url"),
        lit(null).cast("string").as("thumbnail_url"),
        lit(null).cast("string").as("width"),
        lit(null).cast("string").as("height"),
        lit(null).cast("string").as("filesize"),
        lic.as("license_"), ver.as("license_version"),
        lit(null).cast("string").as("creator"),
        lit(null).cast("string").as("creator_url"),
        col("title"),
        lit(null).cast("map<string,string>").as("meta_data"),
        col("tags"),
        lit("f").as("watermarked"),
        lit(null).cast("string").as("source"),
        concat(lit("https://creativecommons.org"), col("license_path"))
          .as("license_url"),
        concat(lit("https://creativecommons.org"), col("license_path"))
          .as("raw_license_url"))
      ImageStore.toTsv(
        ImageStore.prepare(raw, provider)
          .dropDuplicates("provider", "image_url")
          .dropDuplicates("provider", "foreign_identifier")).localCheckpoint()
    }
    ctx.measure("storage.rows_dropped")((rows.count() - prepared.count()).toDouble)
    ctx.span("io.tsv_write") {
      val out = s"$outDir/tsv/$provider"
      Tsv.write(prepared, out, singleFile = true)
      val (files, mb) = Frames.dirStats(Paths.get(out))
      ctx.count("io.files_written", files.toDouble)
      ctx.count("io.mb_written", mb)
    }
  }

  /** The loader's TSV schema (Runner's load boundary). */
  val LoadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    Gen.TsvCols.map(c => s"$c STRING").mkString(", "))

  val Spec = Merge.MergeSpec(
    provider = "provider", foreignId = "foreign_identifier",
    scalarCols = Gen.Scalars, mapCols = Seq("meta_data"), arrayCols = Seq("tags"),
    createdOn = Some("created_on"), updatedOn = Some("updated_on"))

  def phaseC(ctx: Ctx, tsvDir: String, canonicalDir: String, now: Column): DataFrame = {
    val spark = ctx.spark
    val raw = ctx.span("io.tsv_read") {
      Tsv.readBounded(spark, tsvDir, LoadSchema, maxBad = 10)
        .withColumn("__ord", struct(col("_metadata.file_path"),
          col("_metadata.file_block_start"), monotonically_increasing_id()))
        .localCheckpoint()
    }
    val rawRows = ctx.quiet(raw.count())
    ctx.measure("io.bad_rows")((spark.read.text(tsvDir).count() - rawRows).toDouble)
    val cleaned = ctx.span("loadmerge.load") {
      val loaded = raw
        .withColumn("meta_data",
          from_json(col("meta_data_json"), lit("map<string,string>")))
        .withColumn("tags", from_json(col("tags_json"),
          lit("array<struct<name:string,provider:string>>")))
        .drop("meta_data_json", "tags_json")
      Merge.dedupeLastWins(
        Merge.dropRequiredNull(loaded,
          Seq("image_url", "license_", "foreign_landing_url", "foreign_identifier")),
        "provider", "foreign_identifier", "__ord").drop("__ord").localCheckpoint()
    }
    val cleanedRows = ctx.quiet(cleaned.count())
    ctx.count("loadmerge.rows_in", rawRows.toDouble)
    ctx.count("loadmerge.rows_dropped", (rawRows - cleanedRows).toDouble)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      cleaned.schema.add("created_on", "timestamp").add("updated_on", "timestamp"))
    val target =
      if (Files.exists(Paths.get(canonicalDir))) spark.read.parquet(canonicalDir) else empty
    val merged = ctx.span("loadmerge.merge")(Merge.upsertMerge(target,
      cleaned.withColumn("created_on", now).withColumn("updated_on", now),
      Spec, now).localCheckpoint())
    ctx.measure("loadmerge.matched") {
      val t = target.count(); val m = merged.count()
      (t + cleanedRows - m).toDouble
    }
    ctx.count("loadmerge.increment_rows", cleanedRows.toDouble)
    ctx.span("io.parquet_write") {
      Layout.clusteredWrite(merged, Seq(col("provider"), col("updated_on")),
        spark.sessionState.conf.numShufflePartitions, s"$canonicalDir.next")
      val (files, mb) = Frames.dirStats(Paths.get(s"$canonicalDir.next"))
      ctx.count("io.files_written", files.toDouble)
      ctx.count("io.mb_written", mb)
      val cur = Paths.get(canonicalDir)
      val old = Paths.get(s"$canonicalDir.old")
      Frames.rmTree(old)
      if (Files.exists(cur)) Files.move(cur, old)
      Files.move(Paths.get(s"$canonicalDir.next"), cur)
      Frames.rmTree(old)
    }
    spark.read.parquet(canonicalDir)
  }

  /** The composite (or, traced, its parts) plus the forcing read of
    * the table it returns: (table, content hash, rows). */
  def runPhaseC(ctx: Ctx, tsvDir: String, canonicalDir: String,
      now: Column): (DataFrame, Long, Long) =
    ctx.span("jobs.runner.phaseC") {
      val c =
        if (ctx.traced) phaseC(ctx, tsvDir, canonicalDir, now)
        else Runner.phaseC(ctx.spark, tsvDir, canonicalDir, now)
      val (h, n) = Frames.hash(c)
      (c, h, n)
    }
}
