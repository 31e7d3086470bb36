package lifebench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.Runner
import graft.maintain.Maintenance

/** The recurring daily upsert: a standing canonical table (built
  * before timing) takes one increment TSV per day through phase C,
  * then the popularity view and the expiry scan are refreshed. The
  * recurring unit is one day. */
object DailyReingest extends Workload {
  final case class Input(gen: Gen.DailyInput, standing: Path)
  type In = Input
  final case class Day(rows: Long, expired: Long, hash: Long)
  final case class Result(days: Seq[Day]) {
    def hash: Long = days.foldLeft(17L)((h, d) => h * 31 + d.hash)
  }
  type Out = Result

  val name = "daily_reingest"
  val Standing = 40000
  val Days = 4

  def gen(spark: SparkSession, dir: Path, seed: Long): In = {
    val g = Gen.daily(dir.resolve("tsv"), seed, Standing, Days)
    val standing = dir.resolve("standing")
    Runner.phaseC(spark, g.baseTsv, standing.toString, lit(Gen.Day0).cast("timestamp"))
    Input(g, standing)
  }

  def sizes(in: In): Map[String, Any] = Map(
    "standing_rows" -> in.gen.standingRows,
    "days" -> in.gen.dayTsv.size, "increment_rows" -> in.gen.incrementRows,
    "providers" -> in.gen.providers.size)

  override def reset(spark: SparkSession, in: In, work: Path): Unit = {
    Frames.rmTree(work)
    super.reset(spark, in, work)
    Frames.copyTree(in.standing, work.resolve("image"))
  }

  def body(ctx: Ctx, in: In, work: Path): Out = {
    val spark = ctx.spark
    val table = work.resolve("image").toString
    val days = in.gen.dayTsv.zipWithIndex.map { case (tsv, i) =>
      ctx.unit {
        val now = lit(Gen.dayTs(i + 1)).cast("timestamp")
        val (canonical, h, rows) = RunnerParts.runPhaseC(ctx, tsv, table, now)
        val (vh, _) = ctx.span("popularity.view")(Frames.hash(Runner.popularityView(
          canonical, length(col("image_url")).cast("double"), 0.5)))
        val (eh, expired) = ctx.span("maintain.expired") {
          val r = Frames.hash(Maintenance.expired(canonical, "provider", "updated_on",
            in.gen.intervals, now)(spark))
          ctx.count("maintain.rows_expired", r._2.toDouble)
          r
        }
        Day(rows, expired, (h * 31 + vh) * 31 + eh)
      }
    }
    Result(days)
  }

  def hash(out: Out): Long = out.hash

  private def modelRow(r: Gen.Rec): Seq[Any] =
    Seq(r.provider, r.fid, r.scalars, r.meta, r.tags,
      Gen.epochDay(r.created), Gen.epochDay(r.updated))

  private def tableRow(r: Row): Seq[Any] = {
    val meta = r.getAs[collection.Map[String, String]]("meta_data")
    val tags = r.getAs[collection.Seq[Row]]("tags")
    def day(c: String) = r.getAs[java.sql.Timestamp](c).toLocalDateTime.toLocalDate.toEpochDay
    Seq(r.getAs[String]("provider"), r.getAs[String]("foreign_identifier"),
      Gen.Scalars.map(r.getAs[String](_)).toVector,
      if (meta == null) null else meta.toMap,
      if (tags == null) null else tags.map(t => (t.getString(0), t.getString(1))).toVector,
      day("created_on"), day("updated_on"))
  }

  def check(spark: SparkSession, in: In, work: Path, out: Out): Seq[Check] = {
    import spark.implicits._
    val g = in.gen
    val perDay = out.days.zipWithIndex.flatMap { case (d, i) =>
      Seq(Check.eq(s"rows.day${i + 1}", d.rows, g.rowsAfter(i)),
        Check.eq(s"expired.day${i + 1}", d.expired, g.expiredAfter(i)))
    }
    val keys = g.sample.toDF("provider", "foreign_identifier")
    val got = spark.read.parquet(work.resolve("image").toString)
      .join(keys, Seq("provider", "foreign_identifier")).collect()
      .map(tableRow).map(r => (r(0), r(1)) -> r).toMap
    val wrong = g.sample.filter(k => !got.get(k).contains(modelRow(g.finalModel(k))))
    perDay ++ Seq(Check("sample_rows", wrong.isEmpty,
      s"${wrong.size} of ${g.sample.size} sampled rows differ from the model" +
        wrong.headOption.map(k => s"; first ${got.get(k)} vs ${modelRow(g.finalModel(k))}")
          .getOrElse("")))
  }
}
