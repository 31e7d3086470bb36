package lifebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.crawl.WatExtract
import graft.jobs.Runner
import graft.maintain.Maintenance

/** Crawl to catalog: WAT lines -> phase A -> top domains -> phase B per
  * provider -> phase C into an empty canonical table -> popularity view
  * -> expiry scan. The recurring unit is one provider's phase-B slice. */
object CrawlLifecycle extends Workload {
  type In = Gen.CrawlInput
  final case class Result(hash: Long, canonicalRows: Long, expired: Long)
  type Out = Result

  val name = "crawl_lifecycle"
  val Pages = 2000
  val Now = "2024-06-01 00:00:00"

  def gen(spark: SparkSession, dir: Path, seed: Long): In =
    Gen.crawl(dir, seed, Pages)

  def sizes(in: In): Map[String, Any] = Map(
    "wat_records" -> in.watRecords, "providers" -> in.providers.size,
    "cc_pages" -> in.providers.map(_.pages).sum, "warc_files" -> 16,
    "images" -> in.extracted.values.sum)

  override def reset(spark: SparkSession, in: In, work: Path): Unit = {
    Frames.rmTree(work)
    super.reset(spark, in, work)
  }

  def body(ctx: Ctx, in: In, work: Path): Out = {
    val spark = ctx.spark
    val out = work.toString
    val links = ctx.span("jobs.runner.phaseA") {
      val wat = spark.read.textFile(in.watDir)
      ctx.measure("crawl.wat_records")(wat.count().toDouble)
      val l = ctx.span("crawl.wat") {
        val l = Runner.phaseA(spark, wat, out)
        ctx.count("crawl.cc_links", l.count().toDouble)
        l
      }
      ctx.span("crawl.top_domains")(WatExtract.topDomains(l).collect())
      l
    }
    in.providers.foreach { p =>
      ctx.unit(ctx.span("jobs.runner.phaseB") {
        if (ctx.traced) RunnerParts.phaseB(ctx, links, p.domain, p.name, in.warcRoot, out)
        else Runner.phaseB(spark, links, p.domain, p.name, in.warcRoot, out)
      })
    }
    val now = lit(Now).cast("timestamp")
    val (canonical, canonHash, rows) =
      RunnerParts.runPhaseC(ctx, s"$out/tsv/*", s"$out/image", now)
    val viewHash = ctx.span("popularity.view")(Frames.hash(Runner.popularityView(
      canonical, length(col("image_url")).cast("double"), 0.5)))
    val (expiredHash, expired) = ctx.span("maintain.expired") {
      val r = Frames.hash(Maintenance.expired(canonical, "provider", "updated_on",
        Intervals(in), lit(ExpiryNow).cast("timestamp"))(spark))
      ctx.count("maintain.rows_expired", r._2.toDouble)
      r
    }
    Result((canonHash * 31 + viewHash._1) * 31 + expiredHash, rows, expired)
  }

  /** The expiry scan runs as of 45 days after the crawl; providers
    * alternate between 30- and 60-day staleness intervals, so every
    * row of the 30-day providers has expired. */
  val ExpiryNow = "2024-07-16 00:00:00"
  def Intervals(in: In): Map[String, Int] =
    in.providers.zipWithIndex.map { case (p, i) => p.name -> Seq(30, 60)(i % 2) }.toMap

  def hash(out: Out): Long = out.hash

  def check(spark: SparkSession, in: In, work: Path, out: Out): Seq[Check] = {
    val links = spark.read.parquet(s"$work/cc_links")
      .groupBy("provider_domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val canon = spark.read.parquet(s"$work/image")
    val perProv = canon.groupBy("provider").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keyHash = Gen.rowsHash(canon.select("provider", "foreign_identifier",
      "image_url", "title", "license_").collect().iterator.map(_.toSeq))
    in.providers.flatMap { p =>
      val tsv = spark.read.text(s"$work/tsv/${p.name}").count()
      Seq(Check.eq(s"links.${p.name}", links.getOrElse(p.domain, 0L), in.linkRows(p.name)),
        Check.eq(s"tsv_rows.${p.name}", tsv, in.extracted(p.name)),
        Check.eq(s"canonical_rows.${p.name}", perProv.getOrElse(p.name, 0L), in.extracted(p.name)))
    } ++ Seq(Check.eq("canonical_key_hash", keyHash, in.keyHash),
      Check.eq("canonical_rows", out.canonicalRows, in.extracted.values.sum),
      Check.eq("expired_rows", out.expired,
        in.providers.filter(p => Intervals(in)(p.name) == 30).map(p => in.extracted(p.name)).sum))
  }
}
