package graft.jobs

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.crawl.WatExtract

/** The full lifecycle (SURVEY §3.1 -> §3.2 -> §3.3 -> popularity) on
  * local fixtures: WAT lines reference a real local WARC file whose
  * gzip members hold gallery HTML; the pipeline must extract, fetch,
  * parse, clean, TSV-roundtrip, merge, and score without manual
  * stitching. */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(s.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  private def galleryHtml(n: Int): String =
    s"""<html><a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC</a>
       |<a class="image" href="https://gallery.example.org/pages/$n"><img src="https://img.example.org/$n.jpg" alt="Work $n"></a>
       |<a class="image" href="https://gallery.example.org/pages/${n + 100}"><img src="https://img.example.org/${n + 100}.jpg"></a>
       |</html>""".stripMargin

  test("full pipeline: WAT -> WARC fetch -> extract -> clean -> merge -> popularity") {
    val work = Files.createTempDirectory("runner").toString
    val warcDir = Files.createTempDirectory("warcroot").toString

    // two gzip members in one WARC file
    val m1 = gzip(galleryHtml(1))
    val m2 = gzip(galleryHtml(2))
    new java.io.File(s"$warcDir/seg-1/warc").mkdirs()
    val f = new FileOutputStream(s"$warcDir/seg-1/warc/f1.warc.gz")
    f.write(m1); f.write(m2); f.close()

    def watLine(path: String, off: Long, len: Long): String =
      s"""{"Container": {"Filename": "seg-1/wat/f1.warc.gz", "Offset": "$off",
         | "Gzip-Metadata": {"Deflate-Length": "$len"}},
         | "Envelope": {"WARC-Header-Metadata":
         |  {"WARC-Type": "response", "WARC-Target-URI": "https://gallery.example.org$path"},
         | "Payload-Metadata": {"Actual-Content-Type": "application/json",
         |  "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
         |   {"url": "https://creativecommons.org/licenses/by/4.0/", "path": "A@/href"}]}}}}}"""
        .stripMargin.replace("\n", "")

    val wat = spark.createDataset(Seq(
      watLine("/g/1", 0, m1.length),
      watLine("/g/2", m1.length, m2.length)))

    val result = Runner.run(spark, wat, "gallery.example.org", "gallery",
      warcDir, work)

    // phase A: two pages, one CC link each
    assert(result.links.count() == 2)
    assert(result.topDomains.collect().head
      .getAs[String]("provider_domain") == "gallery.example.org")

    // phase B: 2 pages x 2 gallery blocks = 4 extracted, cleaned rows
    assert(result.extracted.count() == 4)

    // phase C: canonical table has 3 distinct works (pages 1,2 plus
    // 101,102 -> 4 fids; page-1 html also yields 101, page-2 yields
    // 102... all distinct) with license resolved
    val canon = result.canonical.collect()
    assert(canon.length == 4)
    assert(canon.forall(_.getAs[String]("license_") == "by"))
    assert(canon.forall(_.getAs[String]("license_version") == "4.0"))
    assert(canon.forall(_.getAs[java.sql.Timestamp]("created_on") != null))

    // popularity view scores every row (checked before the
    // idempotence re-run, whose snapshot swap replaces the files the
    // first run's DataFrames are bound to)
    assert(result.imageView.count() == 4)
    assert(result.imageView.filter("standardized_popularity is not null").count() == 4)

    // idempotence: re-running phase C with the same TSV changes nothing
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("foreign_identifier"), r.getAs[String]("image_url"),
        r.getAs[String]("license_"), r.getAs[String]("title"))
    val before = canon.map(key).sortBy(_._1).toSeq
    val again = Runner.phaseC(spark, s"$work/tsv/gallery", s"$work/image",
      org.apache.spark.sql.functions.lit("2024-06-01 00:00:00").cast("timestamp"))
    assert(again.collect().map(key).sortBy(_._1).toSeq == before)
  }

  test("phaseCBucketed: repeated loads merge with NO shuffle on the " +
      "canonical side, and results match plain phaseC semantics") {
    val work = Files.createTempDirectory("runner-bkt").toString
    val now = org.apache.spark.sql.functions
      .lit("2024-06-01 00:00:00").cast("timestamp")
    // a small TSV load via the same boundary phaseB uses
    val rows = (1 to 50).map(i => (s"f$i", s"https://ok.example.com/$i",
      s"https://img.example.com/$i.jpg", "by", "4.0", "gallery", "gallery"))
      .toDF("foreign_identifier", "foreign_landing_url", "image_url",
        "license_", "license_version", "provider", "source")
      .withColumn("thumbnail_url", lit(null).cast("string"))
      .withColumn("width", lit(null).cast("string"))
      .withColumn("height", lit(null).cast("string"))
      .withColumn("filesize", lit(null).cast("string"))
      .withColumn("creator", lit(null).cast("string"))
      .withColumn("creator_url", lit(null).cast("string"))
      .withColumn("title", lit(null).cast("string"))
      .withColumn("watermarked", lit(null).cast("string"))
      .withColumn("meta_data_json", lit(null).cast("string"))
      .withColumn("tags_json", lit(null).cast("string"))
      .select("foreign_identifier", "foreign_landing_url", "image_url",
        "thumbnail_url", "width", "height", "filesize", "license_",
        "license_version", "creator", "creator_url", "title",
        "meta_data_json", "tags_json", "watermarked", "provider", "source")
    graft.io.Tsv.write(rows, s"$work/tsv", singleFile = true)

    spark.sql("DROP TABLE IF EXISTS canon_bkt")
    spark.sql("DROP TABLE IF EXISTS canon_bkt__next")
    // stale managed-table dirs from a previous JVM survive the in-memory
    // catalog; clear them so saveAsTable can claim the location
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("canon_bkt", "canon_bkt__next").foreach { t =>
      val p = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val first = Runner.phaseCBucketed(spark, s"$work/tsv", "canon_bkt", now)
    assert(first.count() == 50)

    // the repeated-load merge: canonical side is the bucketed table —
    // its scan must feed the join with NO Exchange above it
    val target = spark.table("canon_bkt")
    val load = Runner.loadCleaned(spark, s"$work/tsv")
      .withColumn("created_on", now).withColumn("updated_on", now)
    val merged = graft.loadmerge.Merge.upsertMerge(target, load,
      Runner.canonicalSpecForTest, now)
    val plan = merged.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(plan.contains("Bucketed: true"),
      s"canonical scan should be bucketed:\n$plan")
    assert(exchanges <= 1,
      s"only the load side may shuffle (found $exchanges):\n$plan")

    // re-running the full bucketed phase is idempotent
    val second = Runner.phaseCBucketed(spark, s"$work/tsv", "canon_bkt", now)
    assert(second.count() == 50)
    // swap hygiene: no __next/__old linger after a clean run
    assert(!spark.catalog.tableExists("canon_bkt__next"))
    assert(!spark.catalog.tableExists("canon_bkt__old"))

    // crash repair: simulate a death between the swap's rename-out and
    // rename-in (canonical name unbound, previous snapshot under
    // __old) — the next run must restore the history, not merge
    // against an empty first-run target
    spark.sql("ALTER TABLE canon_bkt RENAME TO canon_bkt__old")
    val repaired = Runner.phaseCBucketed(spark, s"$work/tsv", "canon_bkt", now)
    assert(repaired.count() == 50)
    assert(repaired.filter(col("created_on").isNotNull).count() == 50)
    assert(!spark.catalog.tableExists("canon_bkt__old"))
    spark.sql("DROP TABLE IF EXISTS canon_bkt")
  }

  test("phaseA output is partitioned by crawl index: two crawls " +
      "coexist and an index filter prunes partitions at the scan") {
    val work = Files.createTempDirectory("runner-pa").toString
    def watLine(path: String): String =
      s"""{"Container": {"Filename": "seg-1/wat/f1.warc.gz", "Offset": "0",
         | "Gzip-Metadata": {"Deflate-Length": "10"}},
         | "Envelope": {"WARC-Header-Metadata":
         |  {"WARC-Type": "response", "WARC-Target-URI": "https://gallery.example.org$path"},
         | "Payload-Metadata": {"Actual-Content-Type": "application/json",
         |  "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
         |   {"url": "https://creativecommons.org/licenses/by/4.0/", "path": "A@/href"}]}}}}}"""
        .stripMargin.replace("\n", "")
    Runner.phaseA(spark, spark.createDataset(Seq(watLine("/a"))), work,
      crawlIndex = "CC-MAIN-2018-13")
    Runner.phaseA(spark, spark.createDataset(Seq(watLine("/b"))), work,
      crawlIndex = "CC-MAIN-2018-17")

    // dynamic partition overwrite: the second crawl did not clobber
    // the first index's partition
    val links = spark.read.parquet(s"$work/cc_links")
    assert(links.select("crawl_index").distinct().count() == 2)

    // an index filter reaches the scan as a PARTITION filter (pruned
    // directories), not a post-scan data filter
    val sliced = links.where(col("crawl_index") === "CC-MAIN-2018-13")
    assert(sliced.count() == 1)
    val scanStr = sliced.queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*crawl_index".r.findFirstIn(scanStr).isDefined,
      s"crawl_index must prune at the scan:\n$scanStr")
  }

  test("phaseA returns ONLY the crawl just written, not the " +
      "accumulated history, so downstream phaseB/topDomains never mix " +
      "stale crawls on a reused work dir") {
    val work = Files.createTempDirectory("runner-pa-ret").toString
    def watLine(path: String): String =
      s"""{"Container": {"Filename": "seg-1/wat/f1.warc.gz", "Offset": "0",
         | "Gzip-Metadata": {"Deflate-Length": "10"}},
         | "Envelope": {"WARC-Header-Metadata":
         |  {"WARC-Type": "response", "WARC-Target-URI": "https://gallery.example.org$path"},
         | "Payload-Metadata": {"Actual-Content-Type": "application/json",
         |  "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
         |   {"url": "https://creativecommons.org/licenses/by/4.0/", "path": "A@/href"}]}}}}}"""
        .stripMargin.replace("\n", "")
    Runner.phaseA(spark, spark.createDataset(Seq(watLine("/a"))), work,
      crawlIndex = "CC-MAIN-2018-13")
    val second = Runner.phaseA(spark,
      spark.createDataset(Seq(watLine("/b"), watLine("/c"))), work,
      crawlIndex = "CC-MAIN-2018-17")
    assert(second.count() == 2)
    assert(second.select("crawl_index").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("CC-MAIN-2018-17"))
    // the history is still intact on disk
    assert(spark.read.parquet(s"$work/cc_links").count() == 3)
  }

  test("phaseA upgrades a legacy flat (unpartitioned) cc_links dir in " +
      "place: the pre-upgrade snapshot is removed, not left to break " +
      "partition discovery") {
    val work = Files.createTempDirectory("runner-pa-flat").toString
    def watLine(path: String): String =
      s"""{"Container": {"Filename": "seg-1/wat/f1.warc.gz", "Offset": "0",
         | "Gzip-Metadata": {"Deflate-Length": "10"}},
         | "Envelope": {"WARC-Header-Metadata":
         |  {"WARC-Type": "response", "WARC-Target-URI": "https://gallery.example.org$path"},
         | "Payload-Metadata": {"Actual-Content-Type": "application/json",
         |  "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
         |   {"url": "https://creativecommons.org/licenses/by/4.0/", "path": "A@/href"}]}}}}}"""
        .stripMargin.replace("\n", "")
    // simulate the old layout: plain parquet files at the root
    WatExtract.extract(spark, spark.createDataset(Seq(watLine("/old"))))
      .write.mode("overwrite").parquet(s"$work/cc_links")
    val links = Runner.phaseA(spark, spark.createDataset(Seq(watLine("/new"))),
      work, crawlIndex = "CC-MAIN-2018-17")
    assert(links.count() == 1)
    // the whole dir reads cleanly as a partitioned table: only the new
    // crawl remains (the flat snapshot predates partition provenance)
    val all = spark.read.parquet(s"$work/cc_links")
    assert(all.select("crawl_index").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("CC-MAIN-2018-17"))
  }

  test("phaseB dual dedupe: re-crawled pages never emit duplicate " +
      "(provider, url) or (provider, fid) rows (D2, Provider.py:310-314)") {
    val work = Files.createTempDirectory("runner-d2").toString
    val warcDir = Files.createTempDirectory("warcroot-d2").toString
    val m1 = gzip(galleryHtml(1))
    new java.io.File(s"$warcDir/seg-1/warc").mkdirs()
    val f = new FileOutputStream(s"$warcDir/seg-1/warc/f1.warc.gz")
    f.write(m1); f.close()

    def watLine(path: String): String =
      s"""{"Container": {"Filename": "seg-1/wat/f1.warc.gz", "Offset": "0",
         | "Gzip-Metadata": {"Deflate-Length": "${m1.length}"}},
         | "Envelope": {"WARC-Header-Metadata":
         |  {"WARC-Type": "response", "WARC-Target-URI": "https://gallery.example.org$path"},
         | "Payload-Metadata": {"Actual-Content-Type": "application/json",
         |  "HTTP-Response-Metadata": {"HTML-Metadata": {"Links": [
         |   {"url": "https://creativecommons.org/licenses/by/4.0/", "path": "A@/href"}]}}}}}"""
        .stripMargin.replace("\n", "")

    // the same member crawled under two URIs: without D2 phaseB would
    // write each gallery row twice
    val wat = spark.createDataset(Seq(watLine("/g/1"), watLine("/g/1-alias")))
    val links = Runner.phaseA(spark, wat, work)
    assert(links.count() == 2)
    val extracted = Runner.phaseB(spark, links, "gallery.example.org",
      "gallery", warcDir, work)
    assert(extracted.count() == 2) // 2 blocks, not 4
    val fids = extracted.collect().map(_.getAs[String]("foreign_identifier"))
    assert(fids.distinct.length == fids.length)
  }

  test("phaseC canonical snapshot is range-clustered on (provider, " +
      "updated_on): a provider+date slice skips most row groups at the scan") {
    val work = Files.createTempDirectory("runner-layout").toString
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    val nProv = 8
    val perProv = 2500
    val rows = spark.range(nProv.toLong * perProv)
      .select(
        concat(lit("f"), col("id")).as("foreign_identifier"),
        concat(lit("https://x/"), col("id")).as("foreign_landing_url"),
        concat(lit("https://i/"), col("id"), lit(".jpg")).as("image_url"),
        lit(null).cast("string").as("thumbnail_url"),
        lit(null).cast("string").as("width"),
        lit(null).cast("string").as("height"),
        lit(null).cast("string").as("filesize"),
        lit("by").as("license_"), lit("4.0").as("license_version"),
        lit(null).cast("string").as("creator"),
        lit(null).cast("string").as("creator_url"),
        lit(null).cast("string").as("title"),
        lit(null).cast("string").as("meta_data_json"),
        lit(null).cast("string").as("tags_json"),
        lit(null).cast("string").as("watermarked"),
        concat(lit("p"), col("id") % nProv).as("provider"),
        lit(null).cast("string").as("source"))
    graft.io.Tsv.write(rows, s"$work/tsv", singleFile = true)

    Runner.phaseC(spark, s"$work/tsv", s"$work/image", now,
      clusterFiles = nProv * 2)

    val canon = spark.read.parquet(s"$work/image")
    val total = nProv.toLong * perProv
    assert(canon.count() == total)
    val sliced = canon.filter(col("provider") === "p3" &&
      col("updated_on") >= lit("2024-01-01").cast("timestamp"))
    assert(sliced.count() == perProv)
    val read = rowsRead(sliced)
    // clustered: only the file(s) covering p3's range surface rows —
    // well under a quarter of the table, vs ~all of it arrival-ordered
    assert(read <= total / 4,
      s"provider+date slice read $read of $total rows; layout not clustering")

    // end-to-end contrast on the SAME data: a plain hash-partitioned
    // write (what phaseC would produce WITHOUT Layout.clusteredWrite)
    // interleaves providers into every file, so the identical
    // provider+date predicate can skip nothing — the clustered
    // snapshot must beat it on BOTH rows surfaced at the scan and
    // files touched
    import org.apache.spark.sql.functions.input_file_name
    canon.repartition(nProv * 2, col("foreign_identifier"))
      .write.mode("overwrite").parquet(s"$work/image_flat")
    val flatSliced = spark.read.parquet(s"$work/image_flat")
      .filter(col("provider") === "p3" &&
        col("updated_on") >= lit("2024-01-01").cast("timestamp"))
    assert(flatSliced.count() == perProv) // same answer, different cost
    val readFlat = rowsRead(flatSliced)
    assert(read * 2 <= readFlat,
      s"clustered scan surfaced $read rows vs unclustered $readFlat — " +
        "clustering is not paying at the row-group level")
    val filesClustered = sliced.select(input_file_name()).distinct().count()
    val filesFlat = flatSliced.select(input_file_name()).distinct().count()
    assert(filesClustered < filesFlat,
      s"clustered slice touched $filesClustered files vs $filesFlat " +
        "unclustered — the range layout should confine the slice")
  }

  test("loadCleaned last-wins order is retry/layout-stable: winners " +
      "are file-position-determined, identical under perturbed scans") {
    val dir = Files.createTempDirectory("loadord").toString
    // 17-col TSV rows in _IMAGE_TSV_COLUMNS order; only key fields
    // and title vary
    def row(fid: String, title: String): String =
      (Seq(fid, "https://x/f", s"https://i/$fid.jpg", "\\N", "\\N", "\\N",
        "\\N", "by", "4.0", "\\N", "\\N", title, "\\N", "\\N", "\\N",
        "prov", "\\N")).mkString("\t")
    // K1 duplicated across files (later FILE must win), K2 duplicated
    // within one file (later ROW in file order must win)
    Files.write(java.nio.file.Paths.get(s"$dir/part-a.tsv"),
      Seq(row("K1", "a1"), row("K2", "first"), row("K1", "a2"),
        row("K2", "last")).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/part-b.tsv"),
      (row("K1", "winner") + "\n").getBytes("UTF-8"))

    def winners(): Map[String, String] =
      Runner.loadCleaned(spark, dir)
        .select("foreign_identifier", "title").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap

    val plain = winners()
    // perturb the scan layout: force many tiny file splits so block
    // boundaries and partition count change completely
    val perturbed =
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        winners()
      } finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    assert(plain == Map("K1" -> "winner", "K2" -> "last"))
    assert(perturbed == plain)
  }

  test("one-call multimodal admission: runMultimodalBatch runs every " +
      "face off ONE staged batch, media indexes bootstrap on first " +
      "append, deltas are gated on the COMBINED verdict, the next " +
      "batch dedupes against every modality, and a full replay is " +
      "refused wholesale with zero index growth") {
    def code56(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def code32(i: Long): Long = (i * 0x9E3779B9L) & 0xFFFFFFFFL
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = (1L to 4L).map(i => (i, text(s"corp$i")))
      .toDF("doc_id", "text").localCheckpoint()
    AdmissionIndexes.bootstrap(corpus, "doc_id", "text", "mm_idx",
      buckets = 2)

    // batch 1 — every modality carries a planted story:
    //   100: text EXACT dup of corpus doc 1 (and carries an image —
    //        its code must be GATED out of the image index);
    //   101: clean text + image code A (keeper);
    //   102: clean text + image near A (batch-internal image dup);
    //   103: clean text + audio code B;
    //   104: clean text + a 2-frame video;
    //   105: clean text, no media.
    val codeA = code56(7)
    val b1 = CorpusPipeline.MultimodalBatch(
      docs = Seq((100L, text("corp1")), (101L, text("img")),
        (102L, text("imgtwin")), (103L, text("aud")),
        (104L, text("vid")), (105L, text("plain")))
        .toDF("doc_id", "text"),
      imageCodes = Some(Seq((100L, code56(50)), (101L, codeA),
        (102L, codeA ^ 1L)).toDF("doc_id", "code")),
      audioCodes = Some(Seq((103L, code32(9))).toDF("doc_id", "code")),
      videoFrames = Some(Seq((104L, 0, code56(301)), (104L, 1, code56(302)))
        .toDF("media_id", "frame_no", "code")))
    val adm1 = AdmissionIndexes.runMultimodalBatch(corpus, b1, "mm_idx",
      "doc_id", "text", buckets = 2)
    assert(adm1.admitted.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(101L, 103L, 104L, 105L),
      "100 must lose on text, 102 on its image; the rest admit")
    val img1 = adm1.image.get.annotated.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Boolean]("is_corpus_phash_dup"),
        Option(r.getAs[Any]("is_batch_phash_dup")))).toMap
    assert(img1(102L)._2.contains(true), s"102 must flag batch dup: $img1")
    assert(adm1.decisions.map(_.stage).toSet ==
      Set("image_near_dup", "audio_near_dup", "video_near_dup", "near_dup"),
      s"one decisions list across all faces: ${adm1.decisions}")
    // media indexes bootstrapped by the append, GATED on the combined
    // verdict: 100's image admitted on pixels but lost on text — its
    // code must NOT be in the index (index drift)
    val imgIds = AdmissionIndexes.load(spark, "mm_idx_image")
      .select("id").distinct().as[Long].collect().toSet
    assert(imgIds == Set(101L),
      s"image index must hold exactly the COMBINED-admitted code: $imgIds")
    assert(AdmissionIndexes.load(spark, "mm_idx_audio")
      .select("id").distinct().as[Long].collect().toSet == Set(103L))
    assert(AdmissionIndexes.load(spark, "mm_idx_video")
      .select(col("id.media_id")).distinct().as[Long].collect().toSet ==
      Set(104L))

    // batch 2 — dedupes against batch 1's appends in every modality:
    //   200: image re-post of 101's indexed code;
    //   201: text exact dup of 105 (landed via batch 1's digest delta);
    //   202: video re-upload sharing 104's indexed frames;
    //   203: clean text + fresh audio -> the only admit.
    val b2 = CorpusPipeline.MultimodalBatch(
      docs = Seq((200L, text("repost")), (201L, text("plain")),
        (202L, text("vidtwin")), (203L, text("fresh")))
        .toDF("doc_id", "text"),
      imageCodes = Some(Seq((200L, codeA)).toDF("doc_id", "code")),
      audioCodes = Some(Seq((203L, code32(77))).toDF("doc_id", "code")),
      videoFrames = Some(Seq((202L, 0, code56(301)), (202L, 1, code56(302)))
        .toDF("media_id", "frame_no", "code")))
    // the four standalone faces, probed against the same estate
    // before the fused call appends to it: the fused keep SET must
    // equal the batch minus the UNION of their refusals (a
    // verdict-swapping bug keeps the counts and breaks the set)
    def refused(adm: org.apache.spark.sql.DataFrame, id: String,
        flags: String*): Set[Long] =
      adm.filter(flags.map(f => coalesce(col(f), lit(false))).reduce(_ || _))
        .select(col(id)).as[Long].collect().toSet
    val partsRefused = refused(CorpusPipeline.admitMediaBatch(
        AdmissionIndexes.load(spark, "mm_idx_image"), b2.imageCodes.get,
        "doc_id", "code", maxHamming = 3, bits = 56).annotated,
        "doc_id", "is_corpus_phash_dup", "is_batch_phash_dup") ++
      refused(CorpusPipeline.admitMediaBatch(
        AdmissionIndexes.load(spark, "mm_idx_audio"), b2.audioCodes.get,
        "doc_id", "code", maxHamming = 6, bits = 32).annotated,
        "doc_id", "is_corpus_phash_dup", "is_batch_phash_dup") ++
      refused(CorpusPipeline.admitVideoBatch(
        AdmissionIndexes.load(spark, "mm_idx_video"), b2.videoFrames.get,
        maxHamming = 6, bits = 56).annotated,
        "media_id", "is_corpus_dup", "is_batch_dup") ++
      refused(CorpusPipeline.admitBatch(corpus,
        AdmissionIndexes.load(spark, "mm_idx_digests"),
        AdmissionIndexes.load(spark, "mm_idx_bands"),
        b2.docs, "doc_id", "text").annotated,
        "doc_id", "is_corpus_exact_dup", "is_batch_exact_dup",
        "is_corpus_near_dup", "is_batch_near_dup")
    val adm2 = AdmissionIndexes.runMultimodalBatch(corpus, b2, "mm_idx",
      "doc_id", "text", buckets = 2)
    assert(adm2.admitted.select("doc_id").as[Long].collect().toSeq ==
      Seq(203L), "only 203 is fresh across every modality")
    assert(adm2.admitted.select("doc_id").as[Long].collect().toSet ==
      Set(200L, 201L, 202L, 203L) -- partsRefused,
      s"fused keep set vs the standalone faces' refusals $partsRefused")
    assert(adm2.image.get.annotated.filter(col("doc_id") === 200L)
      .select("is_corpus_phash_dup").as[Boolean].head(),
      "200 must read as an image corpus dup against batch 1's delta")
    assert(adm2.video.get.annotated.filter(col("media_id") === 202L)
      .select("is_corpus_dup").as[Boolean].head(),
      "202 must read as a video corpus dup against batch 1's frames")
    assert(adm2.text.annotated.filter(col("doc_id") === 201L)
      .select("is_corpus_exact_dup").as[Boolean].head(),
      "201 must read as a text corpus dup against batch 1's digest delta")

    // full REPLAY of batch 1: every doc must refuse (each now lost or
    // landed), and no index may grow a single row
    def indexRows(): Map[String, Long] =
      Seq("mm_idx_digests", "mm_idx_bands", "mm_idx_image",
        "mm_idx_audio", "mm_idx_video")
        .map(t => t -> AdmissionIndexes.load(spark, t).count()).toMap
    val before = indexRows()
    val admR = AdmissionIndexes.runMultimodalBatch(corpus, b1, "mm_idx",
      "doc_id", "text", buckets = 2)
    assert(admR.admitted.count() == 0,
      "a wholesale replay must admit NOTHING")
    assert(indexRows() == before,
      "a wholesale replay must append NOTHING to any index")

    Seq("mm_idx_digests", "mm_idx_bands", "mm_idx_windows",
      "mm_idx_postings", "mm_idx_stats", "mm_idx_bounds",
      "mm_idx_image", "mm_idx_audio", "mm_idx_video")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("day-0 media bootstrap symmetry: bootstrapMultimodal builds " +
      "every modality's index from the corpus's OWN code frames in " +
      "one call, batch 1 dedupes against them on every face, and its " +
      "deltas extend the day-0 indexes") {
    def code56(i: Long): Long = (i * 0x9E3779B97F4A7CL) & ((1L << 56) - 1)
    def code32(i: Long): Long = (i * 0x9E3779B9L) & 0xFFFFFFFFL
    def text(stem: String): String =
      (0 until 12).map(w => s"$stem$w").mkString(" ")
    val corpus = Seq((1L, text("corp1")), (2L, text("corp2")),
      (3L, text("corp3"))).toDF("doc_id", "text").localCheckpoint()
    AdmissionIndexes.bootstrapMultimodal(corpus, "doc_id", "text",
      "d0_mm",
      imageCodes = Some(Seq((1L, code56(7))).toDF("doc_id", "code")),
      audioCodes = Some(Seq((2L, code32(9))).toDF("doc_id", "code")),
      videoFrames = Some(
        Seq((3L, 0, code56(301)), (3L, 1, code56(302)))
          .toDF("media_id", "frame_no", "code")),
      buckets = 2)
    Seq("d0_mm_image", "d0_mm_audio", "d0_mm_video").foreach(t =>
      assert(spark.catalog.tableExists(t), s"day-0 must build $t"))
    // the stamp gate verifies day-0/batch parity: the defaults the
    // bootstrap stamped are the defaults the batch probes with
    assert(AdmissionIndexes.tableProps(spark, "d0_mm_image") ==
      Map("graft.maxHamming" -> "3", "graft.bits" -> "56"))

    // batch 1 against the DAY-0 indexes (no prior batch appended):
    //   100: image near-dup (hamming 1) of corpus doc 1's code;
    //   101: video re-post sharing corpus doc 3's frames;
    //   102: clean text + fresh audio -> the only admit.
    val b1 = CorpusPipeline.MultimodalBatch(
      docs = Seq((100L, text("imgpost")), (101L, text("vidpost")),
        (102L, text("freshaud"))).toDF("doc_id", "text"),
      imageCodes = Some(Seq((100L, code56(7) ^ 1L)).toDF("doc_id", "code")),
      audioCodes = Some(Seq((102L, code32(77))).toDF("doc_id", "code")),
      videoFrames = Some(
        Seq((101L, 0, code56(301)), (101L, 1, code56(302)))
          .toDF("media_id", "frame_no", "code")))
    val adm = AdmissionIndexes.runMultimodalBatch(corpus, b1, "d0_mm",
      "doc_id", "text", buckets = 2)
    assert(adm.admitted.select("doc_id").as[Long].collect().toSeq ==
      Seq(102L),
      "100 must lose on the day-0 image index, 101 on the day-0 " +
        "video frames; only 102 is fresh")
    assert(adm.image.get.annotated.filter(col("doc_id") === 100L)
      .select("is_corpus_phash_dup").as[Boolean].head(),
      "100 must read as an image corpus dup against the DAY-0 index")
    assert(adm.video.get.annotated.filter(col("media_id") === 101L)
      .select("is_corpus_dup").as[Boolean].head(),
      "101 must read as a video corpus dup against the DAY-0 frames")
    // deltas extend the day-0 indexes under the combined verdict:
    // only 102's audio code lands; refused media never does
    assert(AdmissionIndexes.load(spark, "d0_mm_audio")
      .select("id").distinct().as[Long].collect().toSet == Set(2L, 102L))
    assert(AdmissionIndexes.load(spark, "d0_mm_image")
      .select("id").distinct().as[Long].collect().toSet == Set(1L))
    assert(AdmissionIndexes.load(spark, "d0_mm_video")
      .select(col("id.media_id")).distinct().as[Long].collect().toSet ==
      Set(3L))

    // a REBUILD that omits a modality drops its stale index: the
    // re-curated corpus carries no video, and a leftover video index
    // would keep refusing batch re-posts of REMOVED corpus videos as
    // "corpus dups" (silent wrong refusals); the kept modality is
    // rebuilt from the passed codes as usual
    AdmissionIndexes.bootstrapMultimodal(corpus, "doc_id", "text",
      "d0_mm", imageCodes =
        Some(Seq((1L, code56(11))).toDF("doc_id", "code")),
      buckets = 2)
    assert(!spark.catalog.tableExists("d0_mm_video") &&
      !spark.catalog.tableExists("d0_mm_audio"),
      "omitted modalities' stale indexes must not survive a rebuild")
    assert(AdmissionIndexes.load(spark, "d0_mm_image")
      .select("id").distinct().as[Long].collect().toSet == Set(1L))

    Seq("d0_mm_digests", "d0_mm_bands", "d0_mm_windows",
      "d0_mm_postings", "d0_mm_stats", "d0_mm_bounds",
      "d0_mm_image", "d0_mm_audio", "d0_mm_video")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
