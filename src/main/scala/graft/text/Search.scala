package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 full-text retrieval over a document corpus — the keyword
  * face of the engine's search surface (the ANN family in
  * [[graft.similarity.Similarity]] is the embedding face).
  *
  * Two-layer design, mirroring the admission-index pattern the
  * dedup/ANN kernels use:
  *
  *   - [[postings]] builds the INVERTED INDEX: one `(term, id, tf,
  *     len)` row per distinct term per document, from a single
  *     explode + map-side-combinable groupBy. At corpus scale this
  *     is persisted once via
  *     [[graft.jobs.AdmissionIndexes.savePostingsIndex]] (bucketed
  *     by term), and every query probes it without re-reading text.
  *   - [[bm25]] / [[bm25FromPostings]] score ONE query: the term
  *     list is a handful of literals compiled into an `isin` filter,
  *     so only the queried terms' postings ever leave the scan (and
  *     a term-bucketed index scan bucket-prunes); the per-term
  *     document frequencies and the corpus constants (N, total
  *     length — persisted additively via
  *     [[graft.jobs.AdmissionIndexes.saveCorpusStats]]) are tiny
  *     aggregates joined back broadcast. No shuffle touches anything
  *     proportional to corpus size except the initial postings
  *     build.
  *   - [[bm25Batch]] scores a whole query TABLE in one pass — the
  *     eval-set / hard-negative-mining shape where per-query jobs
  *     would hit the driver-cadence wall.
  *
  * Scoring is standard BM25 with the Lucene/ATIRE idf
  * `ln(1 + (N - df + 0.5) / (df + 0.5))` — the `+1` keeps idf
  * strictly positive where the classical form goes negative for
  * terms in more than half the corpus, and the `ln` is essential
  * for MULTI-term queries: summed per-term scores only weight terms
  * like BM25 if each term carries the log (a log-free rational idf
  * ranks identically per term but lets a df=1 term swamp the sum
  * with weight ~N instead of ~ln N). `ln` is implementation-defined
  * in the last ulp, so per-term scores route through DECIMAL(18,6)
  * before summing — the RelationalPack.dsum discipline — which both
  * makes the cross-term sum order-independent and absorbs the
  * ≤1-ulp Spark-vs-DuckDB `ln` divergence (a ~1e-16 relative wobble
  * against a 1e-6 rounding grid).
  *
  * Reference scope: the reference engine has no text-retrieval
  * operator; this extends the training-data surface (corpus
  * triage: "which documents mention these terms, ranked") the same
  * way the dedup/ANN kernels do.
  */
object Search {

  /** Whitespace tokens with edge-empties dropped — unlike
    * [[graft.dedup.Dedup]]'s oracle-pinned tokenization, retrieval
    * wants no phantom empty term. Package-visible so the streaming
    * face tokenizes queries identically. */
  private[graft] def terms(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Inverted-index postings: one row per (term, id) with the term
    * frequency and the document's token length. Columns
    * `(term, id, len, tf)` in that order; `len` rides the groupBy
    * key (it is functionally dependent on `id`) so no second pass
    * re-derives it at scoring time. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsOf(docs, idCol, textCol, None)

  /** The one postings builder behind [[postings]] and [[bm25]] —
    * the optional term filter runs BEFORE the tf aggregate (so
    * non-matching terms never shuffle) without duplicating the
    * tokenize/len/aggregate contract in two places. */
  private def postingsOf(docs: DataFrame, idCol: String,
      textCol: String, termFilter: Option[Seq[String]]): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("id"), terms(col(textCol)).as("__t"))
      .select(col("id"), size(col("__t")).as("len"),
        explode(col("__t")).as("term"))
    termFilter.fold(exploded)(ts => exploded.filter(col("term").isin(ts: _*)))
      .groupBy(col("term"), col("id"), col("len"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Corpus constants the scorer needs besides postings: document
    * count and summed token length (avg length derives as one exact
    * integer division at scoring time). One row. */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      // greatest(len, 0): under legacy sizeOfNull (this session's
      // config) size(NULL) is -1, so every NULL-text doc would
      // SUBTRACT one token from sum_len while still counting in
      // n_docs — silently skewing avg_len and every BM25 score. A
      // null doc contributes length 0, consistent with an
      // empty-string doc (both index no postings, both count in
      // n_docs).
      .select(greatest(size(terms(col(textCol))), lit(0)).as("len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))

  /** Top-k BM25 over raw documents: builds postings for the queried
    * terms only (the `isin` filter runs BEFORE the tf aggregate, so
    * non-matching terms never shuffle), then scores. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val post = postingsOf(docs, idCol, textCol, Some(queryTerms))
    score(post, corpusStats(docs, textCol), idCol, k, k1, b)
  }

  /** Top-k BM25 probing a PREBUILT postings index (the persisted
    * path — bucketed by term under AdmissionIndexes, the index side
    * never re-shuffles and corpus text is never read). `stats` is
    * one [[corpusStats]] row persisted alongside the index. */
  def bm25FromPostings(post: DataFrame, stats: DataFrame,
      idCol: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    score(post.filter(col("term").isin(queryTerms: _*)),
      stats, idCol, k, k1, b)
  }

  /** [[bm25FromPostings]] with MaxScore top-k pruning — the
    * single-query face of [[bm25BatchMaxScore]], sharing
    * [[maxScorePlan]]'s machinery (θ from the rarest term,
    * essential-suffix split, stamped-bounds refusal) so the pruning
    * exists on BOTH query shapes: documents matching only
    * non-essential terms are bound-filtered before the score
    * aggregate. Row-identical to [[bm25FromPostings]] by
    * construction — same expression tree, same DECIMAL routing, same
    * (score desc, id) tie-break; the candidate semi-join lands AFTER
    * [[termScores]] (df must come from the full term postings, never
    * the candidate-cut subset) on the aggregate's own key. */
  def bm25FromPostingsMaxScore(post: DataFrame, stats: DataFrame,
      bounds: DataFrame, idCol: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val spark = post.sparkSession
    import spark.implicits._
    val queries = queryTerms.distinct.map(t => (0, t))
      .toDF("query_id", "term")
    val (_, cand) = maxScorePlan(post, stats, bounds, queries, k, k1, b)
    score(post.filter(col("term").isin(queryTerms.distinct: _*)),
      stats, idCol, k, k1, b, candidates = Some(cand))
  }

  /** Batch-query BM25: score a whole TABLE of queries against a
    * postings index in ONE pass — the eval-set / hard-negative-mining
    * / corpus-triage shape where issuing one Spark job per query
    * (the `Seq[String]` faces above) would hit the driver-cadence
    * wall. `queries` carries (query_id, term) rows, one per query
    * term (duplicate (query_id, term) rows are collapsed — a term
    * listed twice scores once, matching the single-query faces).
    *
    * Plan shape: the distinct query vocabulary broadcast-SEMI-joins
    * the postings (the table-form analogue of the `isin` filter —
    * non-queried terms never leave the scan and the corpus-sized
    * index side never shuffles); per-term df and the 1-row corpus
    * stats join back broadcast; the query table itself joins
    * broadcast (an eval set is thousands of rows — tiny next to
    * postings); the only corpus-proportional shuffle is the final
    * per-(query_id, id) sum over MATCHED postings. Per-query top-k
    * runs through [[graft.mix.Quota.topNPerGroup]]'s two-phase
    * salted rank, so one viral query cannot serialize the limit into
    * a single task.
    *
    * Output: (query_id, idCol, score, hits, rank), rank 1..k per
    * query in (score desc, id) order — per-(query, doc) scores are
    * bit-identical to the single-query faces (same expression tree,
    * same DECIMAL(18,6) routing; SearchSpec pins the parity).
    *
    * `vocabulary`: when the query set is DRIVER-resident (an eval
    * set usually is), pass its distinct terms as literals and the
    * term filter compiles to `isin` instead of the semi join —
    * against a term-BUCKETED postings table
    * ([[graft.jobs.AdmissionIndexes.savePostingsIndex]]) Spark then
    * prunes buckets at planning time, so the scan reads only the
    * buckets that can contain a queried term rather than the whole
    * index (the semi join, whose keys are unknown at planning time,
    * cannot prune). Results are identical either way (SearchSpec
    * pins it) — GUARDED: the vocabulary must cover every query term.
    * A stale vocabulary (computed from last week's eval set) would
    * otherwise silently drop the uncovered terms' postings and
    * mis-score without any signal; instead the scorer row-checks each
    * query term against the vocabulary literals and raises a named
    * error at execution time (lazy — no extra driver-side job; the
    * check rides the tiny query table, never the postings). */
  def bm25Batch(post: DataFrame, stats: DataFrame, queries: DataFrame,
      idCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    require(k > 0, "bm25Batch needs k > 0")
    Seq("query_id", "term").foreach(c =>
      require(queries.columns.contains(c),
        s"queries frame needs a '$c' column " +
          s"(has ${queries.columns.mkString(", ")})"))
    val qterms0 = queries.select(col("query_id"), col("term")).distinct()
    val (qterms, filtered) = vocabulary match {
      case Some(v) =>
        require(v.nonEmpty, "vocabulary must be non-empty when given")
        // coverage guard: a query term outside the vocabulary would be
        // silently unscored (its postings are pruned away) — raise a
        // named error from the row that violates the contract instead
        val guarded = qterms0.withColumn("term",
          when(col("term").isin(v: _*), col("term"))
            .otherwise(raise_error(concat(
              lit("bm25Batch: query term '"), col("term"),
              lit("' is not covered by the supplied vocabulary — a " +
                "stale vocabulary would silently drop its postings; " +
                "rebuild the vocabulary from the current query set")))))
        (guarded, post.filter(col("term").isin(v: _*)))
      case None =>
        val wanted = qterms0.select(col("term")).distinct()
        // same double-evaluation economics as score(): the filtered
        // slice is read twice by termScores, so materialize it once.
        // Only on THIS branch: the vocabulary-literal branch exists
        // precisely so the probe plan keeps its bucket-pruned index
        // scans (SearchSpec pins the SelectedBucketsCount evidence),
        // and a checkpoint would bury the scan in a LogicalRDD — a
        // pruned re-scan of a persisted index is the cheap case by
        // design, where this semi-join branch's inline composition
        // (q_bm25_multi) re-runs a full tokenize+postings aggregate
        // per evaluation.
        (qterms0, graft.Checkpoints.lazyCheckpoint(
          post.join(broadcast(wanted), Seq("term"), "left_semi")))
    }
    val scored = termScores(filtered, stats, k1, b)
    val perQuery = scored
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("tscore")).cast("double").as("score"),
        count(lit(1)).as("hits"))
    graft.mix.Quota.topNPerGroup(perQuery, "query_id",
        struct((-col("score")).as("s"), col("id").as("i")), k)
      .select(col("query_id"), col("id").as(idCol), col("score"),
        col("hits"), col("rnk").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-term score UPPER BOUNDS for MaxScore/WAND-style top-k
    * pruning: one row per index term with `ub` = the maximum
    * per-document `tscore` that term can contribute (the exact
    * DECIMAL(18,6) the scorer sums), plus the (n_docs, sum_len,
    * k1, b) stamp the bounds were computed at. One aggregate pass
    * over the postings at BUILD time — persist alongside the index
    * via [[graft.jobs.AdmissionIndexes.saveTermBounds]] and rebuild
    * whenever the postings change (appends shift df/avg_len, which
    * moves every term's bound in either direction — the stamp lets
    * [[bm25BatchMaxScore]] refuse a stale table instead of silently
    * mis-pruning). */
  def termBounds(post: DataFrame, stats: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    termScores(post, stats, k1, b)
      .groupBy(col("term"))
      .agg(max(col("tscore")).as("ub"),
        first(col("n_docs")).as("n_docs"),
        first(col("sum_len")).as("sum_len"))
      .withColumn("k1", lit(k1))
      .withColumn("b", lit(b))

  /** Batch-query BM25 with MaxScore top-k pruning (Turtle & Flood
    * 1995's document-at-a-time bound, re-expressed as a bound-filter
    * before the score aggregate): results are IDENTICAL to
    * [[bm25Batch]] — same expression tree, same DECIMAL routing,
    * same tie-break — but documents that provably cannot enter a
    * query's top-k never reach the corpus-proportional aggregate.
    *
    * Three passes over the term-bucketed postings, each with a
    * LITERAL term filter (so each scan bucket-prunes):
    *
    *   1. θ pass — tiny: each query's single rarest term (highest
    *      `ub`) is scored alone; since per-term scores are
    *      non-negative, the kth-best single-term score is a valid
    *      LOWER bound θ on the query's true kth-best full score
    *      (fewer than k matches -> θ = 0 -> that query prunes
    *      nothing and degrades to exactly [[bm25Batch]]).
    *   2. candidate pass — per query, terms sort by `ub` descending
    *      and the maximal suffix whose `ub` sum is < θ is
    *      NON-essential (the classic MaxScore split): a document
    *      matching only non-essential terms has full score ≤ that
    *      suffix sum < θ ≤ the kth-best score, so it can never
    *      enter the top-k, strictly (no tie-break hazard).
    *      Candidates = documents with ≥ 1 essential-term posting —
    *      and essential terms are the RARE ones, so this pass reads
    *      the short posting lists.
    *   3. scoring pass — [[bm25Batch]]'s plan with one insertion:
    *      the per-(query, doc) rows semi-join the candidate pairs
    *      BEFORE the score aggregate, on the aggregate's own keys
    *      (one co-partitioned shuffle, no extra exchange). Common
    *      terms' postings for non-candidate documents — the bulk of
    *      a real workload's posting volume — are dropped before any
    *      corpus-proportional work.
    *
    * The query set is collected driver-side (the eval-set contract
    * the vocabulary-literal path already has); per-query θ /
    * essential-set logic runs on those few rows. `bounds` must come
    * from [[termBounds]] over the SAME index snapshot and (k1, b) —
    * the stamp is checked and a mismatch refuses loudly. */
  def bm25BatchMaxScore(post: DataFrame, stats: DataFrame,
      bounds: DataFrame, queries: DataFrame, idCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (qtermsDf, cand) =
      maxScorePlan(post, stats, bounds, queries, k, k1, b)
    // qtermsDf is a driver-built LocalRelation: this collect is a
    // local scan, not a cluster job
    val allTerms = qtermsDf.collect().map(_.getString(1)).distinct.toSeq
    // query-vocabulary slice read twice by termScores — same
    // materialization call as score()/bm25Batch
    val scored = termScores(graft.Checkpoints.lazyCheckpoint(
        post.filter(col("term").isin(allTerms: _*))),
      stats, k1, b)
    val perQuery = scored
      .join(broadcast(qtermsDf), Seq("term"))
      .join(cand, Seq("query_id", "id"), "left_semi")
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("tscore")).cast("double").as("score"),
        count(lit(1)).as("hits"))
    graft.mix.Quota.topNPerGroup(perQuery, "query_id",
        struct((-col("score")).as("s"), col("id").as("i")), k)
      .select(col("query_id"), col("id").as(idCol), col("score"),
        col("hits"), col("rnk").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The MaxScore machinery shared by the scorer and its
    * measurement/spec hooks: validates the bound stamp, resolves θ
    * and the essential split per query, and returns (the distinct
    * (query_id, term) frame as a broadcastable literal table, the
    * (query_id, id) candidate pairs that survive the bound filter).
    * Package-private so SearchSpec can count the candidate reduction
    * without duplicating the derivation (PERF.md's "MaxScore/WAND
    * top-k pruning" entry has the 100x row counts). */
  private[graft] def maxScorePlan(post: DataFrame, stats: DataFrame,
      bounds: DataFrame, queries: DataFrame, k: Int,
      k1: Double, b: Double): (DataFrame, DataFrame) = {
    // NOTE: the MaxScore faces REFUSE k = 0 where the un-pruned
    // faces return an empty frame via limit(0) — θ from "the k-th
    // best score" is undefined at k = 0, and an empty result from a
    // pruning scorer is indistinguishable from over-pruning
    require(k > 0, "the MaxScore faces need k > 0 " +
      "(bm25BatchMaxScore / bm25FromPostingsMaxScore)")
    Seq("query_id", "term").foreach(c =>
      require(queries.columns.contains(c),
        s"queries frame needs a '$c' column " +
          s"(has ${queries.columns.mkString(", ")})"))
    Seq("term", "ub", "n_docs", "sum_len", "k1", "b").foreach(c =>
      require(bounds.columns.contains(c),
        s"bounds frame needs column '$c' from Search.termBounds " +
          s"(has ${bounds.columns.mkString(", ")})"))
    val spark = post.sparkSession

    // driver-resident query set: (query_id, term) distinct
    val qrows = queries.select(col("query_id"), col("term")).distinct()
      .collect()
    val byQuery: Map[Any, Seq[String]] = qrows.groupBy(_.get(0)).view
      .mapValues(_.map(_.getString(1)).toSeq).toMap
    val allTerms = qrows.map(_.getString(1)).distinct.toSeq

    // snapshot stamp check against the bounds table ITSELF (one
    // head row), NEVER the query-filtered subset: a query whose
    // terms all entered the index AFTER the bounds build matches
    // zero bounds rows, and a subset-gated check would silently
    // skip — the essential-set would then prune on absent bounds
    // and return EMPTY where the un-pruned faces return real
    // matches, the exact silent mis-result this stamp exists to
    // refuse loudly
    val srow = stats.select(col("n_docs").cast("long"),
      col("sum_len").cast("long")).collect()(0)
    bounds.select(col("n_docs").cast("long"),
        col("sum_len").cast("long"), col("k1").cast("double"),
        col("b").cast("double")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getLong(0) == srow.getLong(0) &&
            r.getLong(1) == srow.getLong(1),
          s"termBounds are STALE: computed at (n_docs=${r.getLong(0)}, " +
            s"sum_len=${r.getLong(1)}) but the index stats are " +
            s"(${srow.getLong(0)}, ${srow.getLong(1)}) — rebuild with " +
            s"termBounds() after postings appends")
        require(r.getDouble(2) == k1 && r.getDouble(3) == b,
          s"termBounds were computed at (k1=${r.getDouble(2)}, " +
            s"b=${r.getDouble(3)}), scoring requested (k1=$k1, b=$b)")
      }
    val brows = bounds.filter(col("term").isin(allTerms: _*))
      .select(col("term"), col("ub"))
      .collect()
    val ubMap: Map[String, BigDecimal] =
      brows.map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap

    // literal (query_id, term) tables preserve the caller's query_id
    // type exactly
    val qidField = queries.schema("query_id").copy(name = "query_id")
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(qidField,
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    def pairDf(pairs: Seq[(Any, String)]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        pairs.map { case (q, t) =>
          org.apache.spark.sql.Row(q, t) }.asJava, pairSchema)
    }

    // θ pass: each query's rarest known term, scored alone
    val p1Pairs: Seq[(Any, String)] = byQuery.toSeq.flatMap {
      case (qid, ts) =>
        val known = ts.filter(ubMap.contains)
        if (known.isEmpty) None
        else Some((qid, known.maxBy(t => (ubMap(t), t))))
    }
    val theta: Map[Any, BigDecimal] =
      if (p1Pairs.isEmpty) Map.empty
      else {
        val p1Scored = termScores(
          post.filter(col("term").isin(p1Pairs.map(_._2).distinct: _*)),
          stats, k1, b)
          .join(broadcast(pairDf(p1Pairs)), Seq("term"))
        graft.mix.Quota.topNPerGroup(p1Scored, "query_id",
            struct((-col("tscore")).as("s"), col("id").as("i")), k)
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n"), min(col("tscore")).as("kth"))
          .collect()
          .map(r => r.get(0) -> (if (r.getLong(1) >= k)
            BigDecimal(r.getDecimal(2)) else BigDecimal(0))).toMap
      }

    // essential split: ub-descending walk, the maximal suffix whose
    // ub sum stays under θ is non-essential
    val essPairs: Seq[(Any, String)] = byQuery.toSeq.flatMap {
      case (qid, ts) =>
        val known = ts.filter(ubMap.contains)
        val th = theta.getOrElse(qid, BigDecimal(0))
        if (known.isEmpty) Nil
        else if (th <= 0) known.map((qid, _))
        else {
          val sorted = known.sortBy(t => (ubMap(t), t)).reverse
          val suffix = sorted.map(ubMap)
            .scanRight(BigDecimal(0))(_ + _).init
          val mIdx = suffix.indexWhere(_ < th)
          val m = if (mIdx < 0) sorted.length else math.max(mIdx, 1)
          sorted.take(m).map((qid, _))
        }
    }
    val cand = post
      .filter(col("term").isin(essPairs.map(_._2).distinct: _*))
      .join(broadcast(pairDf(essPairs)), Seq("term"))
      .select(col("query_id"), col("id")).distinct()
    (pairDf(qrows.map(r => (r.get(0), r.getString(1))).toSeq), cand)
  }

  /** Shared scorer: postings of the queried terms -> broadcast df
    * per term + 1-row corpus constants -> per-term saturated score
    * through DECIMAL(18,6) -> order-independent sum -> top-k with a
    * deterministic id tie-break. */
  /** The ONE aggregate/order/limit tail every single-query face
    * shares; `candidates` (the MaxScore faces) semi-joins the
    * bound-filtered id set AFTER [[termScores]] (df must come from
    * the full term postings, never the candidate-cut subset) — as a
    * parameter so the documented row-parity between the pruned and
    * un-pruned faces is structural, not a convention two copies
    * keep. */
  private def score(post: DataFrame, stats: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    // `post` here is always the QUERY-FILTERED postings slice (every
    // caller filters to the queried vocabulary first) — a few rows
    // per matching document, never the corpus index. termScores
    // evaluates it twice (the df aggregate and the scoring join), so
    // without a materialization the raw-docs face re-tokenizes the
    // whole corpus per evaluation (guide §2.4: compute once). The
    // checkpoint is safe against the r12 statistics-loss trap: every
    // join downstream is explicitly broadcast-hinted. Measured at
    // sf0.1 (solo A/B/A, min-of-3 per arm): q_bm25_topk 0.94 ->
    // 0.73 s with cpu 4.5 -> 2.2-2.9 (the second tokenize gone),
    // q_bm25_multi 1.82 -> 1.47 s (cpu 7.8 -> 4.1-5.1),
    // q_bm25_from_postings 0.61 -> 0.42 s (cpu 2.2 -> 1.2) — cpu
    // moves with the removed evaluation, not the host band.
    val ts = termScores(graft.Checkpoints.lazyCheckpoint(post), stats, k1, b)
    candidates.fold(ts)(c =>
        ts.join(c.select(col("id")), Seq("id"), "left_semi"))
      .groupBy(col("id"))
      .agg(sum(col("tscore")).cast("double").as("score"),
        count(lit(1)).as("hits"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("score"), col("hits"))
  }

  /** Per-(term, doc) saturated BM25 contribution `tscore` — ONE
    * expression tree shared by the single-query and batch-query
    * faces, so their per-doc scores can never drift. Input postings
    * must already be filtered to the queried vocabulary (df is
    * computed per term over what arrives, which equals the corpus df
    * for every term that survives a term-level filter) — or cover
    * the WHOLE index (df is then the true corpus df for every term),
    * which is how the streaming face pre-scores the static side. */
  private[graft] def termScores(post: DataFrame, stats: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avg_len",
        col("sum_len").cast("double") / col("n_docs"))
      // Lucene-form BM25 idf: ln(1 + (N-df+0.5)/(df+0.5)). The
      // rational inside is exact double math (integer subtracts, one
      // divide); the ln's last-ulp wobble is absorbed by the
      // DECIMAL(18,6) routing below.
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      // term saturation: tf*(k1+1) / (tf + k1*(1-b + b*len/avgLen)),
      // parenthesized identically to the oracle SQL
      .withColumn("tnorm",
        (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + (lit(b) * col("len")) / col("avg_len"))))
      .withColumn("tscore",
        (col("idf") * col("tnorm")).cast("decimal(18,6)"))
  }
}
