package lifebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.LifebenchBus

import graft.Sessions

/** The benchmark's own tests: generator determinism, the quartile
  * summary, span self time with nested spans, and listener attribution
  * by job group. Run with `python3 lifebench/run.py --selftest`; exits
  * non-zero on the first failure. Argument: a scratch directory. */
object SelfTest {
  private var failures = 0

  private def check(name: String, cond: Boolean, detail: => String = ""): Unit =
    if (cond) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name $detail") }

  private def files(root: Path): Map[String, Seq[Byte]] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  def generators(tmp: Path): Unit = {
    Gen.crawl(tmp.resolve("c1"), 7L, 200)
    Gen.crawl(tmp.resolve("c2"), 7L, 200)
    Gen.crawl(tmp.resolve("c3"), 8L, 200)
    val c1 = files(tmp.resolve("c1"))
    check("crawl generator: same seed, byte-identical files", c1 == files(tmp.resolve("c2")))
    check("crawl generator: another seed, other bytes", c1 != files(tmp.resolve("c3")))
    val d1 = Gen.daily(tmp.resolve("d1"), 7L, 4000, 2)
    val d2 = Gen.daily(tmp.resolve("d2"), 7L, 4000, 2)
    val d3 = Gen.daily(tmp.resolve("d3"), 8L, 4000, 2)
    check("daily generator: same seed, byte-identical files",
      files(tmp.resolve("d1")) == files(tmp.resolve("d2")))
    check("daily generator: another seed, other bytes",
      files(tmp.resolve("d1")) != files(tmp.resolve("d3")))
    check("daily generator: sizes do not depend on the seed",
      d1.incrementRows == d3.incrementRows && d1.rowsAfter == d3.rowsAfter,
      s"${d1.incrementRows} ${d3.incrementRows}")
    check("daily ground truth: same seed, same model", d1.finalModel == d2.finalModel)
    val k1 = Gen.corpus(tmp.resolve("k1"), 7L, 400, 4)
    Gen.corpus(tmp.resolve("k2"), 7L, 400, 4)
    val k3 = Gen.corpus(tmp.resolve("k3"), 8L, 400, 4)
    check("corpus generator: same seed, byte-identical files",
      files(tmp.resolve("k1")) == files(tmp.resolve("k2")))
    check("corpus generator: another seed, other bytes",
      files(tmp.resolve("k1")) != files(tmp.resolve("k3")))
    def counts(c: Gen.CorpusInput) = Seq(c.inputDocs, c.qualityFail, c.exactDup,
      c.nearDup, c.contaminated, c.kept) ++ c.admitted.map(_.size) ++ c.refused.map(_.size)
    check("corpus generator: expected counts do not depend on the seed", counts(k1) == counts(k3))
  }

  def summary(): Unit = {
    // reference values from Python's statistics.quantiles(xs, n=4)
    check("quartiles 1..10", Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    check("quartiles of two", Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
    check("quartiles unsorted", Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("skew", Stats.skew(Seq(1.0, 1.0, 4.0)) == 4.0 && Stats.skew(Seq(3.0)) == 1.0)
  }

  def selfTime(): Unit = {
    def s(id: Int, parent: Int, a: Long, b: Long) =
      SpanRec(id, parent, s"l.s$id", a, b, Map.empty, 0L, 0L)
    // parent [0,100); children [10,30) and [20,50) overlap, [60,70);
    // the grandchild [62,68) is covered by its own parent
    val spans = Seq(s(1, 0, 0, 100), s(2, 1, 10, 30), s(3, 1, 20, 50),
      s(4, 1, 60, 70), s(5, 4, 62, 68))
    check("self time: nested and overlapping children", Tracer.selfNs(spans.head, spans) == 50L,
      Tracer.selfNs(spans.head, spans).toString)
    check("self time: leaf is its whole span", Tracer.selfNs(spans(4), spans) == 6L)
    check("self time: child minus grandchild", Tracer.selfNs(spans(3), spans) == 4L)
    check("covered: clipped to the window", Tracer.covered(10, 20, Seq((0L, 15L), (18L, 40L))) == 7L)
  }

  def listener(): Unit = {
    val spark = Sessions.local("lifebench-selftest")
    try {
      spark.range(1000).count() // outside any span: not attributed
      val tr = new Tracer(spark)
      tr.span("l.a")(spark.range(0, 10000, 1, 3).repartition(4).selectExpr("sum(id)").collect())
      tr.span("l.b") {
        spark.range(0, 100, 1, 2).foreach(_ => ())
        tr.span("l.c")(spark.range(0, 100, 1, 5).foreach(_ => ()))
      }
      spark.range(0, 10, 1, 7).foreach(_ => ())
      LifebenchBus.drain(spark.sparkContext)
      val byName = tr.spans.map(s => s.name -> tr.listener.group(tr.groupOf(s.id))).toMap
      val a = byName("l.a"); val b = byName("l.b"); val c = byName("l.c")
      check("listener: shuffle attributed to its span", a.shuffleWriteB > 0 && a.jobs >= 1,
        s"jobs=${a.jobs} shuffle=${a.shuffleWriteB}")
      check("listener: nested span keeps its own job", c.jobs == 1 && c.tasks == 5,
        s"c.jobs=${c.jobs} c.tasks=${c.tasks}")
      check("listener: parent excludes the child's tasks", b.jobs == 1 && b.tasks == 2,
        s"b.jobs=${b.jobs} b.tasks=${b.tasks}")
      check("listener: no shuffle outside the shuffling span", b.shuffleWriteB == 0 && c.shuffleWriteB == 0)
      check("listener: jobs outside spans are not counted",
        tr.listener.groups == tr.spans.map(s => tr.groupOf(s.id)).toSet, tr.listener.groups.toString)
      val m = Layers.metrics(tr, 2, 1.0, 1.0, 0L, 0L, Map.empty)
      check("layers: every named metric present", m.keys.toSeq == Layers.Names)
      check("layers: spark totals add the spans", m("spark.tasks") == (a.tasks + b.tasks + c.tasks).toDouble)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val tmp = Paths.get(args.headOption.getOrElse("selftest"))
    Frames.rmTree(tmp)
    Files.createDirectories(tmp)
    summary()
    selfTime()
    generators(tmp)
    listener()
    Frames.rmTree(tmp)
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
