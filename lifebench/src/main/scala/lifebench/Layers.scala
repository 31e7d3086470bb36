package lifebench

import scala.collection.immutable.ListMap

/** Per-layer metrics of one traced body, named `<layer>.<metric>`
  * after the program's modules. A layer the workload does not reach
  * reads 0. Times are span walls summed over the body; counts are
  * the figures recorded at span boundaries; Spark figures come from the
  * listener, attributed by each span's job group. */
object Layers {
  val Names: Seq[String] = Seq(
    "crawl.wat_s", "crawl.wat_records", "crawl.cc_hit_ratio", "crawl.fetch_s",
    "crawl.warc_mb_read", "crawl.fetch_task_skew", "crawl.extract_s",
    "crawl.rows_extracted",
    "storage.prepare_s", "storage.rows_dropped",
    "io.tsv_write_s", "io.tsv_write_tasks", "io.tsv_read_s", "io.bad_rows",
    "io.parquet_write_s", "io.mb_written", "io.files_written",
    "loadmerge.load_s", "loadmerge.merge_s", "loadmerge.rows_in",
    "loadmerge.update_ratio", "loadmerge.rows_dropped", "loadmerge.shuffle_mb",
    "loadmerge.spill_mb",
    "popularity.view_s", "popularity.task_skew",
    "maintain.expired_s", "maintain.rows_expired",
    "jobs.runner.phaseA_s", "jobs.runner.phaseB_s", "jobs.runner.phaseC_s",
    "jobs.runner.self_s",
    "text.quality_s", "text.quality_dropped",
    "dedup.exact_s", "dedup.neardup_s", "dedup.decontam_s", "dedup.exact_dropped",
    "dedup.neardup_dropped", "dedup.neardup_jobs", "dedup.neardup_shuffle_mb",
    "jobs.pipeline.finalize_s",
    "jobs.admission.bootstrap_s", "jobs.admission.batch_s",
    "jobs.admission.admitted_ratio", "jobs.admission.index_rows",
    "jobs.admission.index_files", "jobs.admission.shuffle_mb",
    "jobs.admission.pending_staged",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.gc_s", "spark.jit_s",
    "spark.executor_cpu_s", "spark.core_idle_s", "spark.task_skew",
    "trace.wall_s", "trace.overhead_s")

  val Units: Map[String, String] = Names.map { n =>
    n -> (if (n.endsWith("_s")) "s"
      else if (n.endsWith("_mb") || n.endsWith("_mb_read") || n == "io.mb_written") "MB"
      else if (n.endsWith("_ratio") || n.endsWith("_skew")) "ratio"
      else "count")
  }.toMap

  private val MB = 1048576.0

  /** `extra`: figures read after the body (index estate state);
    * `gcMs`/`jitMs`: JVM-wide deltas over the traced body. */
  def metrics(tr: Tracer, cores: Int, wallS: Double, untracedWallS: Double,
      gcMs: Long, jitMs: Long, extra: Map[String, Double]): ListMap[String, Double] = {
    val spans = tr.spans
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(_.wallS).sum
    def cnt(k: String) = spans.flatMap(_.counts.get(k)).sum
    def agg(ss: Seq[SpanRec]): GroupAgg = {
      val a = new GroupAgg
      ss.foreach(s => a.add(tr.listener.group(tr.groupOf(s.id))))
      a
    }
    def layer(l: String) = agg(spans.filter(_.layer == l))
    def ratio(a: Double, b: Double) = if (b == 0.0) 0.0 else a / b
    val work = spans.filter(_.name != "trace.count")
    val all = agg(work)
    val batches = named("jobs.admission.batch").map(_.wallS)
    val lm = layer("loadmerge")
    val values: Map[String, Double] = Map(
      "crawl.wat_s" -> wall("crawl.wat"),
      "crawl.wat_records" -> cnt("crawl.wat_records"),
      "crawl.cc_hit_ratio" -> ratio(cnt("crawl.cc_links"), cnt("crawl.wat_records")),
      "crawl.fetch_s" -> wall("crawl.fetch"),
      "crawl.warc_mb_read" -> cnt("crawl.warc_mb_read"),
      "crawl.fetch_task_skew" -> (if (named("crawl.fetch").isEmpty) 0.0 else agg(named("crawl.fetch")).skew),
      "crawl.extract_s" -> wall("crawl.extract"),
      "crawl.rows_extracted" -> cnt("crawl.rows_extracted"),
      "storage.prepare_s" -> wall("storage.prepare"),
      "storage.rows_dropped" -> cnt("storage.rows_dropped"),
      "io.tsv_write_s" -> wall("io.tsv_write"),
      "io.tsv_write_tasks" -> agg(named("io.tsv_write")).tasks.toDouble,
      "io.tsv_read_s" -> wall("io.tsv_read"),
      "io.bad_rows" -> cnt("io.bad_rows"),
      "io.parquet_write_s" -> wall("io.parquet_write"),
      "io.mb_written" -> cnt("io.mb_written"),
      "io.files_written" -> cnt("io.files_written"),
      "loadmerge.load_s" -> wall("loadmerge.load"),
      "loadmerge.merge_s" -> wall("loadmerge.merge"),
      "loadmerge.rows_in" -> cnt("loadmerge.rows_in"),
      "loadmerge.update_ratio" -> ratio(cnt("loadmerge.matched"), cnt("loadmerge.increment_rows")),
      "loadmerge.rows_dropped" -> cnt("loadmerge.rows_dropped"),
      "loadmerge.shuffle_mb" -> lm.shuffleWriteB / MB,
      "loadmerge.spill_mb" -> lm.spillB / MB,
      "popularity.view_s" -> wall("popularity.view"),
      "popularity.task_skew" -> (if (named("popularity.view").isEmpty) 0.0 else agg(named("popularity.view")).skew),
      "maintain.expired_s" -> wall("maintain.expired"),
      "maintain.rows_expired" -> cnt("maintain.rows_expired"),
      "jobs.runner.phaseA_s" -> wall("jobs.runner.phaseA"),
      "jobs.runner.phaseB_s" -> wall("jobs.runner.phaseB"),
      "jobs.runner.phaseC_s" -> wall("jobs.runner.phaseC"),
      "jobs.runner.self_s" -> spans.filter(_.layer == "jobs.runner")
        .map(s => Tracer.selfNs(s, spans) / 1e9).sum,
      "text.quality_s" -> wall("text.quality"),
      "text.quality_dropped" -> cnt("text.quality_dropped"),
      "dedup.exact_s" -> wall("dedup.exact"),
      "dedup.neardup_s" -> wall("dedup.neardup"),
      "dedup.decontam_s" -> wall("dedup.decontam"),
      "dedup.exact_dropped" -> cnt("dedup.exact_dropped"),
      "dedup.neardup_dropped" -> cnt("dedup.neardup_dropped"),
      "dedup.neardup_jobs" -> agg(named("dedup.neardup")).jobs.toDouble,
      "dedup.neardup_shuffle_mb" -> agg(named("dedup.neardup")).shuffleWriteB / MB,
      "jobs.pipeline.finalize_s" -> wall("jobs.pipeline.finalize"),
      "jobs.admission.bootstrap_s" -> wall("jobs.admission.bootstrap"),
      "jobs.admission.batch_s" -> (if (batches.isEmpty) 0.0 else Stats.median(batches)),
      "jobs.admission.admitted_ratio" ->
        ratio(cnt("jobs.admission.admitted"), cnt("jobs.admission.batch_docs")),
      "jobs.admission.shuffle_mb" -> layer("jobs.admission").shuffleWriteB / MB,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.shuffle_read_mb" -> all.shuffleReadB / MB,
      "spark.shuffle_write_mb" -> all.shuffleWriteB / MB,
      "spark.spill_mb" -> all.spillB / MB,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.jit_s" -> jitMs / 1e3,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.core_idle_s" -> (wallS * cores - all.runMs / 1e3),
      "spark.task_skew" -> all.skew,
      "trace.wall_s" -> wallS,
      "trace.overhead_s" -> (wallS - untracedWallS)) ++ extra
    ListMap(Names.map(n => n -> values.getOrElse(n, 0.0)): _*)
  }

  /** Every span with its own Spark figures, for the span file. Idle
    * core time is the span's self wall times the cores, minus the run
    * time of the tasks its own jobs ran. */
  def spanTable(tr: Tracer, cores: Int): Seq[ListMap[String, Any]] = {
    val spans = tr.spans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      val a = tr.listener.group(tr.groupOf(s.id))
      val self = Tracer.selfNs(s, spans) / 1e9
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "wall_s" -> s.wallS, "self_s" -> self,
        "counts" -> s.counts, "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "shuffle_read_mb" -> a.shuffleReadB / MB, "shuffle_write_mb" -> a.shuffleWriteB / MB,
        "spill_mb" -> a.spillB / MB, "gc_s" -> s.gcMs / 1e3, "jit_s" -> s.jitMs / 1e3,
        "executor_cpu_s" -> a.cpuNs / 1e9, "core_idle_s" -> (self * cores - a.runMs / 1e3),
        "task_skew" -> a.skew)
    }
  }
}
