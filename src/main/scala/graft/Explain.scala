package graft

/** Plan-audit main: prints the formatted physical plan of each query
  * (or a named subset) so shuffle counts, PushedFilters, broadcast
  * choices, and WholeStageCodegen spans can be reviewed.
  *
  * Usage: `graft.Explain [--exec] [sfDir] [query ...]` — sfDir is taken
  * only when it is an absolute path (default: the sf0.01 test data);
  * no query names means every query.
  *
  * The `--exec` flag (anywhere in the arguments) switches to
  * POST-EXECUTION plans:
  * each query is executed (collect — the audit runs at sf0.01, where
  * every result is small; a noop write would finalize its OWN
  * QueryExecution, not the one being printed) and the EXECUTED plan
  * prints — AQE's final plan (`isFinalPlan=true`), including
  * ReusedExchange / AQEShuffleRead nodes that the pre-execution
  * `explain("formatted")` dump cannot show. This is the artifact that
  * evidences "one exchange feeds both self-join sides" claims:
  * exchange reuse materializes at AQE stage scheduling, so only an
  * executed plan carries it (r16 ADVICE item — the committed pre-AQE
  * dumps could not show the reuse the window-cap comments claim). */
object Explain {
  def main(args: Array[String]): Unit = {
    // a flag, not a positional word: a query may be named `exec`
    val exec = args.contains("--exec")
    val rest = args.filterNot(_ == "--exec")
    // rest(0) is the sfDir ONLY when it looks like one (absolute
    // path); everything else is query names. The old rule dropped
    // args(0) whenever MORE than one name was passed — silently
    // explaining all but the first query asked for.
    val hasDir = rest.nonEmpty && rest(0).startsWith("/")
    val sfDir = if (hasDir) rest(0) else "/root/testdata/sf0.01"
    val named = (if (hasDir) rest.drop(1) else rest).toSeq
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
