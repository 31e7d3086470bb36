package lifebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.LifebenchBus

import graft.Sessions

/** Runs one workload in one JVM and prints its result as the last
  * line of standard output.
  *
  * Usage: lifebench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <dir> [--t0-ms <epoch ms>]
  *   [--commit <id>]
  *
  * A run is one lifecycle in a fresh JVM, as the batch runs in
  * production: SparkSession start, input generation (untimed, reported
  * as gen_s), the reset that stages the inputs, then the timed body and
  * its output checks. JIT and codegen warm-up fall inside the body,
  * because every daily run pays them. `--seconds` is the run length the
  * lifecycle sizes are chosen for; the body runs once whatever it is.
  *
  * With `--trace 1` the body runs with spans and the task listener; the
  * per-layer metrics replace the end-to-end ones in the result line.
  * When the output directory holds the untraced result of the same
  * seed, the traced result hash must equal it; the tracing overhead is
  * the traced wall minus the median wall of the untraced results there.
  *
  * setup_s is process start to session ready plus the reset. */
object Main {
  val Workloads: Seq[Workload] = Seq(CrawlLifecycle, DailyReingest, CorpusAdmission)

  private final case class Body(wallS: Double, cpuS: Double, gcMs: Long, jitMs: Long,
      heapMb: Double, units: Seq[Double], hash: Long, checks: Seq[Check])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, fail(s"missing --$k"))
    val wl = Workloads.find(_.name == need("workload"))
      .getOrElse(fail(s"unknown workload '${need("workload")}'; known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work"))
    val outDir = Paths.get(need("out"))
    val t0Ms = opts.get("t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toInt).getOrElse(fail("SPARK_GRAFT_CPUS must be set to the core count to run on"))

    Frames.rmTree(work)
    Files.createDirectories(work)
    val spark = Sessions.local(s"lifebench-${wl.name}")
    try {
      val sc = spark.sparkContext
      if (sc.defaultParallelism != cpus)
        fail(s"effective parallelism ${sc.defaultParallelism} != SPARK_GRAFT_CPUS=$cpus")
      val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

      val g0 = System.nanoTime()
      val in = wl.gen(spark, work.resolve("gen"), seed)
      val genS = (System.nanoTime() - g0) / 1e9

      val run = work.resolve("run")
      var error: Option[String] = None
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val r0 = System.nanoTime()
      wl.reset(spark, in, run)
      val resetS = (System.nanoTime() - r0) / 1e9
      val ctx = new Ctx(spark, tracer)
      val (c0, gc0, jit0) = (Ctx.cpuNs(), Tracer.gcMs(), Tracer.jitMs())
      val b0 = System.nanoTime()
      val timed = try {
        val out = wl.body(ctx, in, run)
        val wall = (System.nanoTime() - b0) / 1e9
        val cpu = (Ctx.cpuNs() - c0) / 1e9
        val (gcMs, jitMs) = (Tracer.gcMs() - gc0, Tracer.jitMs() - jit0)
        Some(Body(wall, cpu, gcMs, jitMs, Ctx.liveHeapMb(), ctx.units.toSeq,
          wl.hash(out), wl.check(spark, in, run, out)))
      } catch {
        case e: Exception =>
          error = Some(e.toString)
          System.err.println(s"[lifebench] ${wl.name} body failed: $e")
          e.printStackTrace()
          None
      }
      // the untraced result of the same seed, when this output directory
      // holds one: the traced body must reproduce its hash
      val untracedHash = readResult(outDir, s"${wl.name}-seed$seed-trace0.json")
        .map(_.path("header").path("result_hash").asText()).filter(_.nonEmpty)

      var layers = ListMap.empty[String, Double]
      for (t <- tracer; b <- timed) {
        LifebenchBus.drain(sc)
        sc.removeSparkListener(t.listener)
        val extra = wl.estate(spark)
        val untraced = untracedWalls(outDir, wl.name)
        layers = Layers.metrics(t, cpus, b.wallS,
          if (untraced.isEmpty) b.wallS else Stats.median(untraced), b.gcMs, b.jitMs, extra)
        Files.createDirectories(outDir)
        Files.writeString(outDir.resolve(s"${wl.name}-seed$seed.spans.json"),
          json(Layers.spanTable(t, cpus)) + "\n")
      }

      // operations: every recurring unit and every output check; a body
      // that threw, or a traced result hash the untraced body does not
      // reproduce, counts as one failed operation
      val hashMismatch =
        if (trace && untracedHash.exists(h => !timed.map(_.hash.toHexString).contains(h))) 1 else 0
      val failedChecks = timed.toSeq.flatMap(_.checks.filterNot(_.ok))
      val attempted = timed.map(b => b.units.size + b.checks.size).getOrElse(0) +
        error.size + hashMismatch
      val failed = failedChecks.size + error.size + hashMismatch
      failedChecks.distinct.take(20).foreach(c =>
        System.err.println(s"[lifebench] check ${c.name} failed: ${c.detail}"))
      if (hashMismatch > 0)
        System.err.println(s"[lifebench] traced result hash differs from the untraced one (${untracedHash.get})")

      val units = timed.toSeq.flatMap(_.units)
      val setupS = sessionS + resetS
      val okRatio = if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted
      val endToEnd = ListMap(
        "setup_s" -> (setupS, "s"), "wall_s" -> (timed.map(_.wallS).getOrElse(0.0), "s"),
        "batch_p50_s" -> ((if (units.isEmpty) 0.0 else Stats.median(units)), "s"),
        "cpu_s" -> (timed.map(_.cpuS).getOrElse(0.0), "s"),
        "live_heap_mb" -> (timed.map(_.heapMb).getOrElse(0.0), "MB"),
        "ok_ratio" -> (okRatio, "ratio"))
      val metrics: ListMap[String, (Double, String)] =
        if (trace) layers.map { case (k, v) => k -> (v, Layers.Units(k)) } else endToEnd

      val rt = Runtime.getRuntime
      val header = ListMap(
        "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "master" -> sc.master, "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc" -> rt.availableProcessors(), "spark_graft_cpus" -> cpus,
        "heap_max_mb" -> rt.maxMemory() / 1048576, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "commit" -> opts.getOrElse("commit", "unknown"),
        "sizes" -> wl.sizes(in),
        "loop" -> "closed, one client, one step at a time",
        "session_s" -> sessionS, "gen_s" -> genS, "reset_s" -> resetS,
        "unit_samples" -> units.size, "unit_s" -> units,
        "failed_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
        "failed_checks" -> failedChecks.map(c => s"${c.name}: ${c.detail}").distinct,
        "error" -> error,
        "result_hash" -> timed.map(_.hash.toHexString),
        "untraced_hash" -> (if (trace) untracedHash else None),
        "end_to_end" -> endToEnd.map { case (k, (v, _)) => k -> v })
      val result = ListMap(
        "correct" -> (failed == 0 && timed.isDefined), "attempted" -> attempted.max(1),
        "failed" -> (if (timed.isEmpty) attempted.max(1) else failed),
        "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
      Files.createDirectories(outDir)
      Files.writeString(outDir.resolve(s"${wl.name}-seed$seed-trace${if (trace) 1 else 0}.json"),
        json(ListMap("header" -> header, "result" -> result)) + "\n")
      println(json(ListMap("header" -> header)))
      println(json(result))
    } finally {
      spark.stop()
      Frames.rmTree(work)
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  private def readResult(outDir: Path, file: String) =
    Some(outDir.resolve(file)).filter(Files.isRegularFile(_)).map(p => mapper.readTree(p.toFile))

  /** wall_s of the untraced results of a workload already written to
    * the output directory (any seed), for the tracing overhead. */
  private def untracedWalls(outDir: Path, workload: String): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(outDir)) return Nil
    Files.list(outDir).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(f => f.startsWith(s"$workload-seed") && f.endsWith("-trace0.json"))
      .flatMap(readResult(outDir, _))
      .map(_.path("result").path("metrics").path("wall_s").path("value"))
      .filter(v => v.isNumber && v.asDouble() > 0).map(_.asDouble())
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[lifebench] $msg")
    sys.exit(2)
  }
}
