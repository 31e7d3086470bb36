package graft

import org.apache.spark.sql.functions._

/** Pins [[Aggregates.withDistinctCounts]] — the shared two-level
  * distinct-count shape behind q_a2 and WatExtract.topDomains —
  * against the single-agg countDistinct semantics it replaced, on
  * exactly the null cases the driver testdata cannot exercise:
  * null KEY values (not distinct values; an all-null group keeps its
  * total with 0) and a null GROUP key (a real group whose distinct
  * counts a plain equi-join-back would silently zero — the review
  * finding the helper's null-safe join closes). */
class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq[(Option[Long], Option[Long], Option[Long])](
    (Some(1L), Some(10L), Some(100L)),
    (Some(1L), Some(10L), Some(101L)),
    (Some(1L), None, Some(101L)),   // null key: not a distinct part
    (Some(2L), None, None),         // all-null group: total 2, counts 0
    (Some(2L), None, None),
    (None, Some(30L), Some(300L)),  // NULL GROUP: a real group
    (None, Some(31L), Some(300L))
  ).toDF("g", "p", "o")

  test("matches agg(count, countDistinct, countDistinct) on null keys " +
      "AND a null group key") {
    val got = Aggregates.withDistinctCounts(df, "g", "total",
        Seq("p" -> "parts", "o" -> "orders"))
      .orderBy(asc_nulls_first("g")).collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = df.groupBy(col("g"))
      .agg(count(lit(1)).as("total"),
        countDistinct(col("p")).as("parts"),
        countDistinct(col("o")).as("orders"))
      .orderBy(asc_nulls_first("g")).collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got == Seq(
      (None, 2L, 2L, 1L),        // null group keeps its true counts
      (Some(1L), 3L, 1L, 2L),    // null key not counted
      (Some(2L), 2L, 0L, 0L)),   // all-null group: total with zeros
      s"got $got")
  }

  test("plans NO Expand (the 600M-row heap-death shape) at any key " +
      "count, where the single-agg form always does") {
    val two = Aggregates.withDistinctCounts(df, "g", "t",
      Seq("p" -> "pc", "o" -> "oc"))
    assert(!two.queryExecution.executedPlan.toString.contains("Expand"),
      "the two-level shape must never plan an Expand")
    val one = df.groupBy(col("g")).agg(countDistinct(col("p")),
      countDistinct(col("o")))
    assert(one.queryExecution.executedPlan.toString.contains("Expand"),
      "the contrast the shape exists for")
  }

  test("groupNullable=false matches the reference on a null-free " +
      "group key and drops the null-safe join re-exchanges") {
    val nn = df.filter(col("g").isNotNull)
    val got = Aggregates.withDistinctCounts(nn, "g", "total",
        Seq("p" -> "parts", "o" -> "orders"), groupNullable = false)
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = nn.groupBy(col("g"))
      .agg(count(lit(1)).as("total"),
        countDistinct(col("p")).as("parts"),
        countDistinct(col("o")).as("orders"))
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got $got want $want")

    // Plan shape is asserted with broadcast OFF: at spec scale both
    // forms broadcast the per-group sides and look identical — the
    // difference this path exists for appears when the join sides are
    // too big to broadcast (the 600M-row regime), where the <=> form
    // re-exchanges every join side on (coalesce, isnull) keys while
    // the fast path's plain === join keys ARE the aggregates' hash
    // partitioning keys and EnsureRequirements satisfies the joins
    // from the aggregates' own exchanges.
    def exchanges(p: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(p.queryExecution.executedPlan.toString).length
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val safe = Aggregates.withDistinctCounts(nn, "g", "total",
        Seq("p" -> "parts", "o" -> "orders"))
      val fast = Aggregates.withDistinctCounts(nn, "g", "total",
        Seq("p" -> "parts", "o" -> "orders"), groupNullable = false)
      assert(exchanges(fast) < exchanges(safe),
        s"fast ${exchanges(fast)} !< safe ${exchanges(safe)}:\n" +
          fast.queryExecution.executedPlan.toString)
      assert(!fast.queryExecution.executedPlan.toString.contains("isnull("),
        "the fast path must not plan null-safe (coalesce, isnull) keys")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("refuses reserved/colliding names loudly instead of resolving " +
      "ambiguously or dropping a caller column") {
    import spark.implicits._
    val bad = Seq((1L, 2L)).toDF("__g", "p")
    intercept[IllegalArgumentException] {
      Aggregates.withDistinctCounts(bad, "__g", "t", Seq("p" -> "pc"))
    }
    intercept[IllegalArgumentException] { // alias collides with totalAs
      Aggregates.withDistinctCounts(df, "g", "t", Seq("p" -> "t"))
    }
    intercept[IllegalArgumentException] { // distinct key == group col
      Aggregates.withDistinctCounts(df, "g", "t", Seq("g" -> "gc"))
    }
  }
}
