package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared aggregate shapes with a measured scale rationale. */
object Aggregates {

  /** count(*) + one null-faithful distinct count per (key -> alias)
    * entry, per `groupCol` group — WITHOUT the Expand plan Catalyst
    * produces for multiple countDistincts in one aggregate.
    *
    * Why not `agg(count, countDistinct, countDistinct)`: Catalyst
    * plans that as an Expand x(1 + keys) whose partial aggregate's
    * working set scales with the expanded row count — measured DEAD
    * (OOM in the spill reader's read-ahead) at 600M input rows on an
    * 8 GB heap, and 1.3x slower even with 4x the heap
    * (PERF.md item 10's r15 matrix). This shape computes each
    * distinct count as its own (group, key) pre-aggregate: one extra
    * exchange per key, but every partial aggregate sees 1x rows and
    * spills like any hash aggregate. A join-free tagged-union shape
    * (raw rows + per-key distinct pairs through one final aggregate)
    * was measured in the same matrix: a tie at 600M rows / 8 GB
    * (152.7 vs 158.2 s min-of-2) but 1.9x slower at sf0.1 (3.9 vs
    * 2.1 s), so it was not kept.
    *
    * Semantics match the single-agg form exactly, including nulls:
    * null KEY values don't count (countDistinct ignores them; an
    * all-null group keeps its total with a 0), and a null GROUP key
    * is a real group (the join back is null-safe `<=>` — a plain
    * equi-join would zero the null group's distinct counts because
    * null never equals null). AggregatesSpec pins both against the
    * countDistinct reference.
    *
    * `groupNullable = false` is the caller's ASSERTION that the group
    * key carries no nulls (a NOT NULL schema column, a key filtered
    * upstream — q_a2's l_suppkey; NOT topDomains' nullable domain):
    * the join-backs then use plain `===`, whose join keys are exactly
    * the aggregates' hash-partitioning keys, so EnsureRequirements
    * satisfies the joins from the aggregates' own exchanges — the
    * `<=>` form re-exchanges every join side on (coalesce, isnull)
    * keys, 3 extra per-group-row exchanges at 1000x that a non-null
    * key never needs (5 exchanges instead of 8 in the 600M-row plan;
    * measured matrix in PERF.md). The assertion is NOT checked (a
    * check would be a full scan): a null group key under `false`
    * keeps its total but silently reads 0 distinct counts — exactly
    * the defect the null-safe default exists to prevent — so keep the
    * default unless the non-null property is structural. */
  def withDistinctCounts(
      df: DataFrame,
      groupCol: String,
      totalAs: String,
      distinctKeys: Seq[(String, String)],
      groupNullable: Boolean = true): DataFrame = {
    requireSafeNames(df, groupCol, totalAs, distinctKeys)
    val totals = df.groupBy(col(groupCol)).agg(count(lit(1)).as(totalAs))
    val joined = distinctKeys.foldLeft(totals) { case (acc, (key, as)) =>
      val dc = df.filter(col(key).isNotNull)
        .select(col(groupCol).as("__g"), col(key)).distinct()
        .groupBy(col("__g")).agg(count(lit(1)).as(as))
      val cond =
        if (groupNullable) acc(groupCol) <=> dc("__g")
        else acc(groupCol) === dc("__g")
      acc.join(dc, cond, "left").drop("__g")
    }
    joined.select(col(groupCol) +: col(totalAs) +:
      distinctKeys.map { case (_, as) =>
        coalesce(col(as), lit(0L)).as(as) }: _*)
  }

  /** Refuse-loudly guard: the helper stages through a reserved temp
    * name and re-selects by caller-chosen aliases, so an input column
    * named like the temp, or a duplicate across
    * groupCol/totalAs/aliases, or a distinct key equal to the group
    * column would resolve ambiguously or silently drop a caller
    * column via drop("__g") — refused here instead. */
  private def requireSafeNames(
      df: DataFrame,
      groupCol: String,
      totalAs: String,
      distinctKeys: Seq[(String, String)]): Unit = {
    val reserved = Seq("__g")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"input must not carry reserved column(s) ${clash.mkString(", ")} " +
        "(withDistinctCounts stages through them); rename before calling")
    val outs = groupCol +: totalAs +: distinctKeys.map(_._2)
    require(outs.distinct.size == outs.size,
      "output names must be unique across groupCol/totalAs/aliases; got " +
        outs.mkString(", "))
    require(!distinctKeys.map(_._1).contains(groupCol),
      s"distinct keys must not include the group column '$groupCol' " +
        "(its per-group distinct count is 1 by construction — drop it)")
    require(!reserved.exists(outs.contains),
      s"groupCol/totalAs/aliases must not use reserved names " +
        s"${reserved.mkString(", ")}; got ${outs.mkString(", ")}")
  }
}
