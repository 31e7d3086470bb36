package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines.
  *
  * Scale design (the whole point of these operators):
  *   - exact dedupe is one hash-aggregate on a digest — never on the
  *     raw text, so shuffle rows carry 32 bytes, not documents;
  *   - MinHash-LSH shuffles on (band, band-hash) buckets and compares
  *     ONLY within buckets — an all-pairs cross join never appears in
  *     any plan, at any scale;
  *   - SimHash groups by a short code and compares within code
  *     buckets (optionally multi-probe by flipping bits).
  */
object Dedup {

  /** Exact dedupe by content digest: keeps the row with the smallest
    * `idCol` per normalized-text hash (deterministic, unlike
    * dropDuplicates). D1/D2-style but content-addressed.
    *
    * Null-text rows PASS THROUGH untouched: md5(null) is null, and a
    * window partition groups all null digests together — without the
    * guard, every null-text row but one would be silently deleted as
    * a "duplicate" of rows whose content is not equal to anything.
    * Null text is an upstream-extraction question for the quality
    * gate, never this operator's to answer by data loss.
    *
    * PRECONDITION — `idCol` non-null and unique. The keeper is a
    * keep-list joined back BY ID, so a null id would never match the
    * semi join (the row silently vanishes) and a repeated id keeps
    * EVERY row sharing the keeper's id, where the pre-r14 window kept
    * exactly one row per partition regardless. Null ids are refused
    * loudly at execution time (the guard rides the digest pass, no
    * extra job — connectedComponents' pattern); uniqueness is not
    * cheaply checkable and stays the caller's contract — the
    * pipeline's hash-surrogate ids and the testdata's generated keys
    * both satisfy it by construction.
    *
    * PRECONDITION — `df` re-reads DETERMINISTICALLY. The keep-list is
    * frozen from a NARROW (id, digest) snapshot, but the output side
    * re-reads the raw frame through the id semi-join (so surviving
    * TEXT never lands in executor storage); a source whose second
    * scan can return different rows/ids than the first — a sampled
    * read, a LIMIT without ORDER, a live-mutating table — can hand
    * the semi-join rows the snapshot never froze (dropped survivors)
    * or miss ids it did (silent deletes), the dc2196f divergence
    * class. Parquet/table scans are deterministic; anything else
    * should be pinned by the caller (localCheckpoint, or land it to
    * parquet first) before calling. The narrow-snapshot trade-off is
    * deliberate — pinning the FULL rows here would store every
    * surviving document's text per call (the r14 finding). */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // keep-list + id-semi-join, NOT a keeper window and NOT a min_by
    // row fold — all three were MEASURED (PERF.md item 7's r14
    // matrix, 20M docs with a 5M-copy verbatim boilerplate page):
    //  - the window funnels every hot copy into ONE task's sort —
    //    fastest locally while the hot partition fits a task (8.2 s),
    //    a guaranteed straggler/spill-bomb when it doesn't (billions
    //    of copies of one template at corpus scale);
    //  - min_by(struct(row), id) has the perfect shuffle shape (<=
    //    one candidate row per digest per map partition) but its
    //    struct-typed aggregation buffer CANNOT SPILL —
    //    AGGREGATE_OUT_OF_MEMORY at 40M rows where both other forms
    //    survive, which disqualifies it outright;
    //  - this form is the one where EVERY operator spills and NO
    //    shuffle is keyed by a skewable value: the keep-list side
    //    moves (id, 16-byte digest) rows that map-side partial
    //    aggregation collapses per digest per partition, and the only
    //    full-row shuffle is the semi join on ID — uniformly
    //    distributed, duplication cannot skew it. ~2x the window's
    //    local constant on a sub-second query; immune to the corpus
    //    that kills the window. (ids unique by contract: id ==
    //    min(id) is exactly rank 1.)
    // lazyCheckpoint pins ONE digest snapshot for the keep-list's
    // three references (two filter branches + indirectly the semi
    // join): without it the digest pass runs thrice and a
    // non-deterministic input could hand the branches different row
    // sets — keepIds missing ids the outer scan has, silently
    // deleting unique rows (connectedComponents' snapshot rule).
    val digested = graft.Checkpoints.lazyCheckpoint(
      df.select(nonNullId(col(idCol), idCol).as(idCol),
        contentDigestOf(col(textCol)).as("__h")))
    df.join(keeperIds(digested, idCol), Seq(idCol), "left_semi")
  }

  /** The exact-dedup keep-list over an (idCol, __h) digest snapshot:
    * the min id of every non-null digest, plus every null-digest id —
    * null text is never a copy of anything, so those rows must not
    * collapse into one. */
  private def keeperIds(digested: DataFrame, idCol: String): DataFrame =
    digested.filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
      .unionByName(digested.filter(col("__h").isNull).select(col(idCol)))

  /** Execution-time null-id refusal for the exact-dedup keeper faces:
    * the keep-list joins back BY ID, so a null id would silently
    * vanish in the semi join — the same lossy failure class
    * connectedComponents refuses. Rides the digest projection, no
    * extra job. */
  private def nonNullId(c: Column, name: String): Column =
    when(c.isNull, raise_error(lit(
      s"exact dedup: null id in '$name' — a null id never matches " +
        "the keeper semi-join and its row would silently vanish; " +
        "repair or surrogate the id column upstream")))
      .otherwise(c)

  /** THE content digest — one definition for every exact-dedup face
    * (keeper window, persisted index, incremental batch probe): the
    * incremental path only works if the batch digest stays
    * bit-identical to the stored index, so the normalization must
    * never be able to drift between copies. */
  def contentDigestOf(text: Column): Column =
    md5(trim(regexp_replace(text, "\\s+", " ")))

  /** Per-document content digests: (id, digest) of the
    * whitespace-normalized text — the persisted side of incremental
    * EXACT dedup (write once, append each admitted batch's rows). */
  def contentDigests(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      contentDigestOf(col(textCol)).as("digest"))

  /** Incremental exact dedup: drop batch rows whose content digest
    * already exists in `indexDigests` ([[contentDigests]] of the
    * corpus), then keep one row per digest WITHIN the batch (smallest
    * id). Only digests shuffle — 32 bytes/row, never text; the index
    * side is already digest-only, so a 100 TB corpus's exact-dedup
    * state is a few GB of digests, not the corpus.
    *
    * Same id precondition as [[exactByContent]] (non-null refused
    * loudly; unique by caller contract), and the same DETERMINISTIC
    * re-read precondition on `batch`: the keep-list freezes from the
    * narrow (id, digest) snapshot but the output side re-reads the
    * raw batch through the id semi-join — a batch source whose
    * second scan returns different rows than the first can silently
    * drop or duplicate survivors; pin non-deterministic sources
    * (localCheckpoint / land to parquet) before calling. */
  def incrementalExactDedup(
      indexDigests: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // NARROW snapshot — (id, 16-byte digest) only, exactByContent's
    // discipline: the snapshot is shared by both keep-list branches,
    // so checkpointing the full batch rows would land every
    // surviving document's TEXT in executor storage per call (the
    // r14 advice finding). The output side instead re-reads the raw
    // batch once through the id semi join — the same second scan
    // exactByContent pays, and the only full-row work in the plan.
    // One corpus-index probe total: the anti-join runs inside the
    // snapshot, never on the output side.
    val fresh = graft.Checkpoints.lazyCheckpoint(
      batch.select(nonNullId(col(idCol), idCol).as(idCol),
          contentDigestOf(col(textCol)).as("__h"))
        .join(indexDigests.select(col("digest").as("__h")),
          Seq("__h"), "left_anti"))
    // null digests (null text) survive the anti-join (null never
    // equals) and pass through the keep-list like exactByContent's.
    // Keep-list + id-semi-join keeper, not a window and not min_by:
    // see exactByContent's measured trichotomy.
    batch.join(keeperIds(fresh, idCol), Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles of a token array. `toks` is referenced from
    * the transform() lambda, which re-evaluates an INLINED expression
    * per element (interpreted lambdas have no subexpression
    * elimination) — so pass a materialized attribute, never a raw
    * split(); [[shingled]] is the safe entry point from text. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  // NOTE pinned semantics: `trim` strips ASCII space only and
  // Spark's split keeps edge empties, so text edged by tabs/newlines
  // contributes one "" token to shingles/simhash. The DuckDB oracle
  // SQL implements the SAME tokenization (the gate checks parity, not
  // an ideal), so this stays as-is — normalizing here without
  // migrating every oracle would break the hash compare.
  private[graft] def tokensOf(text: Column): Column =
    split(trim(text), "\\s+")

  /** (id, sh): distinct word n-gram shingles per document, with the
    * token array materialized in its own projection BEFORE the
    * shingle lambda references it. CollapseProject keeps the split
    * materialized (non-cheap producer, referenced more than once), so
    * tokenization runs once per row instead of once per shingle.
    * Public so callers that need BOTH the skew monitor and the pair
    * join (jobs/CorpusPipeline.nearDupFlag) can build this state
    * once, checkpoint it, and feed [[bandRowsFromShingles]] /
    * [[lshPairsFromShingles]] — instead of re-hashing the corpus per
    * consumer.
    *
    * Null text yields NO row: with ANSI off `size(null)` is -1, so
    * shingling would turn it into the one-shingle set [""] and every
    * null-text doc would verify at Jaccard 1.0 against every other —
    * two empty extractions are not copies (the exact stage's policy),
    * and every shingle consumer (band index, LSH pairs, the prefix
    * join, decontamination) inherits the drop from here. */
  def shingled(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokensOf(col(textCol)).as("__t"))
      .select(col("id"), array_distinct(shingles(col("__t"), n)).as("sh"))

  /** Connected components over near-dup pairs — the clustering step
    * that turns pair lists (minhash/simhash/embedding) into one
    * keeper per duplicate group: every node's cluster label converges
    * to the smallest id reachable from it.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    * each round rewires the edge list toward stars centered at
    * component minima — large-star hangs every node's
    * larger-than-parent neighbors off the local minimum, small-star
    * collapses the smaller ones — and the fixed point is exactly one
    * star per component, centered at its smallest id. Convergence is
    * O(log d) rounds in the component diameter d, NOT d rounds: a
    * million-node near-dup chain costs ~2·log2(d) distributed rounds,
    * where one-hop min-label propagation would burn a round per hop.
    * Each round is a constant number of hash-aggregates and
    * equi-joins on 16-byte (long, long) edge rows — no adjacency
    * lists are ever materialized per node, so a hot node with 10M
    * neighbors is 10M rows in an aggregate, not one giant array.
    *
    * Each round's result is `localCheckpoint`ed, not merely cached:
    * a cache cuts re-EXECUTION but leaves the logical plan growing —
    * the analyzed plan would double per round (exponential Catalyst
    * analysis time, the classic iterative-algorithm trap).
    * Checkpointing truncates lineage to the materialized blocks.
    * Rounds go through [[graft.Checkpoints.iter]]: set a RELIABLE
    * checkpoint dir on the SparkContext (`sc.setCheckpointDir`) and
    * every round lands in fault-tolerant storage instead of
    * executor-local blocks — executor loss mid-run re-reads rather
    * than kills; with no dir configured, localCheckpoint as before.
    * The algorithm is unchanged either way (DedupSpec pins identical
    * labels on both paths). */
  def connectedComponents(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int = 50): DataFrame =
    connectedComponentsStats(pairs, idA, idB, maxIter)._1

  /** [[connectedComponents]] plus the number of star rounds it took —
    * the measurement face (PERF.md's convergence table); the labels
    * frame is identical. */
  def connectedComponentsStats(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int = 50): (DataFrame, Int) = {
    // the edge state is LONG — a non-integral id column would cast
    // to null and silently discard every edge (the bug the pipeline's
    // hash-surrogate exists to prevent); refuse loudly instead
    requireIntegralIds(pairs, idA, idB)
    // ONE lazy checkpoint of the caller's pair lineage: both `edges`
    // and `nodes` derive from it, so an expensive pair generator
    // upstream (the LSH/cosine self-joins feeding nearDupFlag)
    // executes exactly once — materialized by the eager edge
    // checkpoint below, then the singleton anti-join reads the same
    // blocks. It also pins ONE snapshot: a nondeterministic input
    // can't hand `nodes` a different edge set than `edges` froze.
    // null id VALUES are refused at execution time (rides the first
    // pass, no extra job): the type guard above cannot see them, and
    // a null id would silently vanish in the self-loop filter — the
    // partner becomes a singleton and clusters split, exactly the
    // lossy-reload failure the guard exists to prevent
    def nonNullId(c: Column, name: String) =
      when(c.isNull, raise_error(lit(
        s"connectedComponents: null id in '$name' — null ids would " +
          "silently split clusters; filter or repair the pair input")))
        .otherwise(c)
    val raw = graft.Checkpoints.lazyCheckpoint(
      pairs.select(
        nonNullId(col(idA).cast("long"), idA).as("src"),
        nonNullId(col(idB).cast("long"), idB).as("dst")))
    // every input id must appear in the output, including nodes whose
    // only pair is a self-pair (no proper edge survives orientation)
    val nodes = raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id")))
      .distinct()

    // invariant: edges oriented src > dst, no self-loops, distinct
    var edges = graft.Checkpoints.iter(
      raw.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct())

    // per-round convergence probe: ONE aggregate job over the (post-
    // distinct, so set-valued) edge frame — count + order-free
    // xor/sum fingerprints of xxhash64(src, dst). A stable
    // fingerprint is only PROBABLE equality, so the loop confirms the
    // fixed point with one exact anti-join before accepting it (and
    // keeps iterating on the astronomically-unlikely miss) — the
    // exact set-compare runs ONCE at the end instead of every round.
    def fingerprint(e: DataFrame): (Long, Long, java.math.BigDecimal) = {
      val h = xxhash64(col("src"), col("dst"))
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))"),
        sum(h.cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
    }

    var fp = fingerprint(edges)
    var iter = 0
    var done = fp._1 == 0L
    while (!done && iter < maxIter) {
      val next = graft.Checkpoints.iter(starRound(edges))
      val nfp = fingerprint(next)
      if (nfp == fp) {
        // counts match (from fp) and next \ edges = ∅  ⇒  next == edges
        done = next.join(edges, Seq("src", "dst"), "left_anti")
          .limit(1).count() == 0
      }
      edges = next
      fp = nfp
      iter += 1
    }
    // an unconverged exit would report one real component as SEVERAL
    // clusters, which downstream keeper logic would trust and keep
    // duplicates. Wrong-but-plausible output is the one thing this
    // must never return: refuse instead. (At the O(log d) star rate
    // the default budget covers any component a physical corpus can
    // produce; hitting this means maxIter was set pathologically low.)
    require(done, s"connectedComponents did not converge in $maxIter " +
      "star rounds — raise maxIter (convergence needs ~2*log2(diameter) " +
      "rounds, so even planet-scale graphs fit in the default 50)")
    // fixed point = one star per component, centered at the component
    // min: every non-center node appears as src exactly once, with
    // dst = its center; centers appear only as dst.
    val labels = edges.select(col("src").as("id"), col("dst").as("cluster"))
      .union(edges.select(col("dst").as("id"), col("dst").as("cluster")))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    val singletons = nodes.join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    // lazy checkpoint on the RESULT, matching the old kernel's
    // checkpoint-backed labels frame: callers reference the cluster
    // frame more than once (members + keepers), and without this each
    // reference would re-run the label aggregation and singleton
    // anti-join
    (graft.Checkpoints.lazyCheckpoint(labels.union(singletons)), iter)
  }

  /** ONE star-contraction round: smallStar ∘ largeStar over an edge
    * frame oriented src > dst. Package-visible (not an API) so the
    * round's PLAN SHAPE is pinnable by spec and dumpable as a plan
    * artifact — the loop above is opaque in every declared query's
    * plan (rounds execute eagerly behind checkpoints), which is why
    * the r16 plan deliverables could not show it.
    *
    * Both halves compute their per-node min as a WINDOW over the
    * round frame's own hashpartitioning(src) — the r16 window-cap
    * shape (guide §2.4). The old groupBy(src)+join-back shuffled each
    * star frame TWICE per round (once partially aggregated for the
    * mins, once raw for the join probe; the two exchange subtrees
    * differ, so AQE reuse cannot fire): 5 exchanges + 2 joins per
    * round, now 3 exchanges and no joins. Measured (PERF.md item 20):
    * diameter-100k path 39.2 -> 26.0 s over the same 18 rounds, the
    * 1%-batch incremental fold 8.3 -> 6.6 s, labels identical. The
    * window's whole-group task is not a NEW skew exposure — the old
    * join's probe side already colocated every row of a hot src group
    * in one task (DedupSpec pins the 5000-spoke hot-star case).
    *
    * large-star: for each node u over its full neighborhood Γ(u),
    * m = min(Γ(u) ∪ {u}); rewire every LARGER neighbor v > u to m —
    * output keeps the src > dst orientation (v > u >= m), and no
    * distinct here: small-star's min is duplicate-tolerant and ITS
    * final distinct canonicalizes the round. small-star: for each
    * node u over its SMALLER neighbors N(u) = {v < u}, m = min(N(u));
    * rewire every v ∈ N(u) \ {m} and u itself to m. Its center rows
    * (src, m) are emitted once per EDGE rather than once per src —
    * duplicates collapse in the final distinct's map-side partial
    * aggregate (all rows of one src share a task after the window
    * exchange), so the distinct's shuffle carries the same set the
    * old mins-frame union did.
    *
    * The small-star union references the windowed frame twice, so
    * the INITIAL plan duplicates the upstream round into both
    * branches (5 Exchange nodes printed); at runtime AQE exchange
    * reuse executes the two identical window exchanges once each —
    * 3 exchange executions per round, ReusedExchange visible in the
    * executed plan (DedupSpec pins it; plans/r17/cc_star_round_*
    * carry the dumps). A single-pass explode form that avoids the
    * duplication structurally (3 exchanges in the initial plan too)
    * was built and measured SLOWER — PERF.md item 20, diameter-100k
    * path: 33.7-35.1 s vs 24.5-26.0 s for this shape — the union's
    * two branches run as independent AQE stages over the reused
    * exchange where the explode serializes them behind one Generate;
    * measured, rejected (guide §1). */
  private[graft] def starRound(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val large = sym
      .withColumn("m",
        min(least(col("dst"), col("src")))
          .over(Window.partitionBy(col("src"))))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val withM = large.withColumn("m",
      min(col("dst")).over(Window.partitionBy(col("src"))))
    val rewired = withM.filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    rewired.union(withM.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** Incremental connected components — the clustering face of the
    * growing-corpus family (exact digests / minhash bands / sign
    * codes all have incremental probes; this folds their PAIR OUTPUT
    * into standing cluster state): merge a NEW batch of pairs into
    * PREVIOUS labels without ever re-reading the historical pair set.
    *
    * Correct because [[connectedComponents]] labels ARE star edges
    * (id -> component min): connectivity-equivalent to the old graph,
    * but |V_old| edges of diameter <= 2 instead of |E_old| arbitrary
    * pairs. Re-running the star kernel on (star edges ∪ new pairs)
    * therefore yields exactly the labels a full recompute over
    * (old pairs ∪ new pairs) would — clusters bridge, merge, and
    * re-minimize correctly — while the input is the LABEL table plus
    * the increment. At corpus scale that is the difference between
    * re-clustering a history of billions of pairs per arriving batch
    * and one O(V + ΔE) pass; convergence is O(log d) in the NEW
    * graph's diameter, which is <= 2 + the batch's own chain depth.
    *
    * `prevLabels` is [[connectedComponents]] output ((id, cluster),
    * both long); `newPairs` carries `idA`/`idB` like the batch entry
    * point. Labels cover ids(prevLabels) ∪ ids(newPairs). */
  def incrementalConnectedComponents(
      prevLabels: DataFrame,
      newPairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int = 50): DataFrame = {
    requireIntegralIds(newPairs, idA, idB)
    // the label side gets the SAME loud guard: standing labels
    // reloaded through a lossy round-trip (CSV/JSON strings, doubles)
    // would cast to null and silently drop every historical star edge
    requireIntegralIds(prevLabels, "id", "cluster")
    val starEdges = prevLabels.select(col("id").cast("long").as(idA),
      col("cluster").cast("long").as(idB))
    val fresh = newPairs.select(col(idA).cast("long").as(idA),
      col(idB).cast("long").as(idB))
    connectedComponents(starEdges.unionByName(fresh), idA, idB, maxIter)
  }

  private def requireIntegralIds(
      pairs: DataFrame, idA: String, idB: String): Unit =
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(dt match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }, s"connectedComponents needs integral ids; '$c' is $dt — " +
        "hash non-integral ids to a 64-bit surrogate first " +
        "(xxhash64), as CorpusPipeline.nearDupFlag does")
    }

  /** Decontamination — the test-set-overlap pass of a training-data
    * pipeline: count, per corpus document, the DISTINCT word n-grams
    * it shares with any benchmark document. Corpus docs with zero
    * overlap don't appear (filter the result against the corpus for
    * the keep-set).
    *
    * Scale shape: both sides reduce to (id, md5(gram)) rows — 16-byte
    * digests, never raw text, distinct-ed per document before the
    * join. The benchmark side (a test set: thousands of docs, not
    * billions) aggregates to a distinct digest set and is broadcast,
    * so the corpus pass is one scan + one map-side join + one
    * hash-aggregate, with no corpus-sized shuffle of gram rows. */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      n: Int = 5): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      shingled(df, idCol, textCol, n)
        .select(col("id"), explode(col("sh")).as("g"))
        .select(col("id"), md5(col("g")).as("gh"))
    val bench = grams(benchmark).select(col("gh")).distinct()
    grams(corpus)
      .join(broadcast(bench), "gh")
      .groupBy(col("id"))
      .agg(count(col("gh")).as("n_hits")) // per-doc grams already distinct
  }

  /** Duplicated-passage detection (the passage-level exact dedupe of
    * Lee et al.'s "Deduplicating Training Data Makes Language Models
    * Better", applied at fixed word-window granularity): slide a
    * `winLen`-word window with `stride` over every document, hash
    * each window, and report the windows whose text occurs in MORE
    * THAN ONE document — the spans a passage-level dedupe would cut.
    *
    * Returns (id, win_idx, n_docs): document, window ordinal (0-based
    * by stride), and how many distinct documents share that window's
    * text. Scale shape: one explode + one hash-aggregate on the
    * 16-byte md5 digest (never raw text), then an equi join back —
    * the same digest-not-text posture as [[decontaminate]]. Windows
    * shorter than `winLen` (document tails) are skipped: a short tail
    * is not a passage. */
  def duplicatedPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 10,
      stride: Int = 10): DataFrame = {
    val wins = windowDigests(df, idCol, textCol, winLen, stride)
    val shared = wins.groupBy(col("wh"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") > 1)
    wins.join(shared, "wh")
      .select(col("id"), col("win_idx"), col("n_docs"))
  }

  /** (id, win_idx, wh) fixed-window digest rows — the shared
    * detection frame of [[duplicatedPassages]] and
    * [[stripDuplicatedPassages]]; the two must hash IDENTICALLY or a
    * strip would cut different spans than the detector reported. */
  private def windowDigests(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int,
      stride: Int): DataFrame =
    // Tokens are materialized in their own projection BEFORE the
    // window lambda references them: HOF lambdas evaluate interpreted
    // with no subexpression elimination, so an inlined split() would
    // re-tokenize the document once per window. CollapseProject leaves
    // the materialization alone (non-cheap producer, multiple refs).
    df.select(col(idCol).as("id"), tokensOf(col(textCol)).as("__t"))
      .select(col("id"), explode(windowArr(col("__t"), winLen, stride))
        .as("w"))
      .select(col("id"), col("w.win_idx"), col("w.wh"))

  /** (win_idx, wh) struct array of a token column — THE window
    * construction shared by every passage face (detect / strip /
    * incremental / streaming); one definition so window hashes can
    * never drift between a stored index and a probe. Window ordinal
    * i covers tokens [i*stride+1, i*stride+winLen] (1-based slice);
    * only complete windows are emitted. */
  /** Complete-window count of a token array — THE one definition
    * both the detector ([[windowArr]], which numbers the ordinals)
    * and the rebuilder ([[rebuiltText]], which slices kept ordinals
    * and the tail) compute from. Sharing it is what keeps verdict
    * ordinals and rebuild spans structurally aligned: if the
    * emission rule changes, both faces move together or neither
    * compiles. */
  private def nWinsOf(toks: Column, winLen: Int, stride: Int): Column =
    greatest(
      floor((size(toks) - winLen).cast("double") / stride).cast("int") + 1,
      lit(0))

  private[graft] def windowArr(
      toks: Column, winLen: Int, stride: Int): Column = {
    require(winLen > 0 && stride > 0, "winLen and stride must be > 0")
    val nWins = nWinsOf(toks, winLen, stride)
    // sequence(0, n-1) DESCENDS when n = 0 — guard with an empty array
    // so too-short documents contribute no windows
    when(nWins > 0,
      transform(sequence(lit(0), nWins - 1),
        i => struct(i.as("win_idx"),
          md5(concat_ws(" ", slice(toks, i * stride + 1, lit(winLen))))
            .as("wh"))))
      .otherwise(array().cast("array<struct<win_idx:int,wh:string>>"))
  }

  /** Duplicated-passage REMOVAL — the acting half of
    * [[duplicatedPassages]] (Lee et al.'s ExactSubstr policy at fixed
    * window granularity): every occurrence of a repeated `winLen`-word
    * window is cut from its document EXCEPT the globally first one
    * (smallest (id, win_idx)), within-document repeats included.
    * Returns (id, clean_text, n_dropped): the rebuilt text (kept
    * windows + the sub-window tail, single-space joined — i.e.
    * whitespace-normalized, like [[contentDigestOf]]'s canonical
    * form) and how many windows were cut. Documents with NOTHING cut
    * — including docs shorter than `winLen` — keep their original
    * text verbatim; normalization is a side effect of surgery, not a
    * blanket rewrite.
    *
    * Windows are non-overlapping BY CONSTRUCTION (stride = winLen):
    * every token belongs to exactly one window, so "remove the
    * window" is well-defined — an overlapping-stride variant would
    * have to arbitrate tokens claimed by two verdicts.
    *
    * Scale shape: the keeper per window digest is `min(struct(id,
    * win_idx))` — a partial-aggregatable hash aggregate, NOT a
    * row_number window, so a passage repeated across millions of
    * documents combines map-side instead of sorting one giant digest
    * partition. Drop verdicts shuffle as (id, int) rows and fold to
    * one small integer array per affected document; the rebuild is a
    * row-local projection over a second corpus scan (detect-then-
    * rewrite is inherently two passes over the text — but text never
    * shuffles in either). */
  def stripDuplicatedPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 10): DataFrame = {
    // the digest frame feeds BOTH the keeper aggregate and the
    // verdict join — lazily checkpoint it so window hashing runs one
    // pass over the corpus, not two
    val wins = windowDigests(df, idCol, textCol, winLen, stride = winLen)
      .localCheckpoint(eager = false)
    val keeper = wins.groupBy(col("wh"))
      .agg(min(struct(col("id"), col("win_idx"))).as("k"))
    val dropRows = wins.join(keeper, "wh")
      .filter(!(col("id") === col("k.id") &&
        col("win_idx") === col("k.win_idx")))
      .select(col("id"), col("win_idx"))
    rebuildWithoutWindows(df, idCol, textCol, winLen, dropRows)
  }

  /** Rebuild documents minus a set of (id, win_idx) window verdicts —
    * the acting tail shared by [[stripDuplicatedPassages]] and
    * [[incrementalStripPassages]]. Verdicts fold to one small int
    * array per affected doc; the rebuild is a row-local HOF
    * projection (kept windows + the sub-window tail, single-space
    * joined), so text never shuffles. A document with NO dropped
    * windows keeps its ORIGINAL text verbatim — whitespace
    * normalization (newlines/tabs/run-spaces collapsed) applies only
    * to documents that actually had passages cut, so untouched code
    * or markdown survives byte-for-byte. */
  private def rebuildWithoutWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int,
      dropRows: DataFrame): DataFrame = {
    val drops = dropRows.groupBy(col("id"))
      .agg(sort_array(collect_list(col("win_idx"))).as("__drop"))
    val dropArr = coalesce(col("__drop"), array().cast("array<int>"))
    df.select(col(idCol).as("id"), col(textCol).as("__orig"),
        tokensOf(col(textCol)).as("__t"))
      .join(drops, Seq("id"), "left")
      .select(col("id"),
        when(size(dropArr) === 0, col("__orig"))
          .otherwise(rebuiltText(col("__t"), dropArr, winLen))
          .as("clean_text"),
        size(dropArr).as("n_dropped"))
  }

  /** Rebuilt document minus the dropped window ordinals — the
    * row-local column form of the acting tail, shared by the batch
    * rebuild and the streaming face: kept windows + the sub-window
    * tail, single-space joined. `dropArr` must be non-null (coalesce
    * an absent verdict to an empty array). */
  private[graft] def rebuiltText(
      toks: Column, dropArr: Column, winLen: Int): Column = {
    // stride = winLen: the strip faces cut NON-OVERLAPPING windows
    val nWins = nWinsOf(toks, winLen, stride = winLen)
    val keptIdx = when(nWins > 0,
      filter(sequence(lit(0), nWins - 1),
        i => !array_contains(dropArr, i)))
      .otherwise(array().cast("array<int>"))
    val keptToks = flatten(
      transform(keptIdx, i => slice(toks, i * winLen + 1, lit(winLen))))
    val tail = when(size(toks) > nWins * winLen,
      slice(toks, nWins * winLen + 1, size(toks) - nWins * winLen))
      .otherwise(array().cast("array<string>"))
    array_join(concat(keptToks, tail), " ")
  }

  /** The persisted side of incremental passage stripping: the
    * DISTINCT window digests of an already-stripped corpus — one
    * 32-char row per unique passage, never text. Append
    * [[incrementalStripPassages]]' `newWindows` after each admitted
    * batch. */
  def windowDigestSet(
      df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 10): DataFrame =
    windowDigests(df, idCol, textCol, winLen, stride = winLen)
      .select(col("wh")).distinct()

  /** `cleaned`: the batch with already-known and batch-repeated
    * windows cut. `newWindows`: the digest delta to append to the
    * index. */
  final case class StrippedBatch(cleaned: DataFrame, newWindows: DataFrame)

  /** Incremental passage stripping — the growing-corpus face of
    * [[stripDuplicatedPassages]]: cut batch windows whose digest is
    * already in the corpus index (their keeper lives in the corpus)
    * or repeats an earlier (id, win_idx) occurrence WITHIN the batch,
    * and return the fresh digests to append. Matches a full
    * recompute over (stripped corpus ∪ batch) exactly when corpus
    * ids precede batch ids (the same ordering contract as the other
    * incremental kernels; DedupSpec pins the parity).
    *
    * Scale shape: ONLY the batch is window-hashed — the corpus
    * contributes ONE probe join against its digest index (32-char
    * rows; bucketed by wh under [[graft.jobs.AdmissionIndexes]]-style
    * persistence the index side never re-shuffles). Corpus text is
    * never read at all. */
  def incrementalStripPassages(
      indexWindows: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 10): StrippedBatch = {
    // ONE probe of the corpus-sized index (a left join with a hit
    // marker, split afterwards) — the index is the side that grows
    // with the corpus, so probing it twice (semi + anti) would double
    // the recurring cost this kernel exists to minimize. The probed
    // frame is lazily checkpointed: both the known/fresh splits and
    // the keeper/dup joins read its blocks, so batch window hashing
    // AND the index probe each run exactly once.
    val wins = windowDigests(batch, idCol, textCol, winLen,
      stride = winLen)
    val probed = wins.join(
        indexWindows.select(col("wh"), lit(true).as("__hit")),
        Seq("wh"), "left")
      .localCheckpoint(eager = false)
    val known = probed.filter(col("__hit"))
      .select(col("id"), col("win_idx"))
    val fresh = probed.filter(col("__hit").isNull)
    val keeper = fresh.groupBy(col("wh"))
      .agg(min(struct(col("id"), col("win_idx"))).as("k"))
    val batchDups = fresh.join(keeper, "wh")
      .filter(!(col("id") === col("k.id") &&
        col("win_idx") === col("k.win_idx")))
      .select(col("id"), col("win_idx"))
    val cleaned = rebuildWithoutWindows(batch, idCol, textCol, winLen,
      known.union(batchDups))
    StrippedBatch(cleaned, keeper.select(col("wh")))
  }

  /** Jaccard similarity of two string arrays (as distinct sets). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    size(array_intersect(da, db)).cast("double") /
      size(array_union(da, db)).cast("double")
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the minimum xxhash64 over the document's distinct shingles.
    * xxhash64(seed-literal, shingle) is Spark-native, codegen'd, and
    * deterministic across the cluster.
    *
    * NOTE: as a scalar Column this inlines `numHashes` passes over the
    * shingle array per row; minhashSignatures (explode + one
    * hash-aggregate) is the form the LSH pipeline uses — same values,
    * one pass. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(array_distinct(shingleArr), s => xxhash64(lit(i), s)))
    }: _*)

  /** Single-pass MinHash signatures for a whole table: explode
    * shingles to (id, shingle) rows, hash each shingle once per seed,
    * take `numHashes` min-aggregates in ONE hash-aggregate. Returns
    * (id, sig array). No per-row distinct on the shingle array:
    * min() is duplicate-insensitive, so repeated shingles cannot
    * change a signature — dropping the array_distinct removes a
    * per-row hash set the aggregate never needed. */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      shingleArr: Column,
      numHashes: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(shingleArr).as("sh"))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** (band, bh) struct array from a signature array column — THE
    * band-hash composition (1-based signature slice, comma
    * concat_ws, xxhash64). This is the single definition both the
    * batch index build ([[bandRowsFromShingles]]) and the row-local
    * streaming face (streaming/EventStream.streamingNearDupAdmission)
    * compose from: index-key parity across the two is structural,
    * not a convention two copies must keep. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("bh"))
    }: _*)

  /** One row per (doc, band): (id, band, bh) — each document's LSH
    * bucket keys, from `docs` already in (id, sh) shingle form. The
    * banded shuffle carries (id, band, 8-byte band hash) — never the
    * shingle arrays. */
  def bandRowsFromShingles(
      docs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignatures(docs, "id", col("sh"), bands * rowsPerBand)
    sigs.select(
      col("id"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
  }

  // ---- The bucket policy of the near-dup pair family ----------------
  //
  // Every banded near-dup operator (MinHash-LSH bands, SimHash / pHash
  // / video hamming segments, sign-LSH cosine codes, and the SemDeDup
  // cell guard) follows one rule: drop null keys, drop buckets larger
  // than the cap before pairing, and report what was dropped. The rule
  // lives here once — [[bandCandidates]] (self-join), [[capBuckets]]
  // (probe side), [[oversizedBuckets]] (monitor), [[keptBucket]]
  // (membership) — and each operator adds only its own verify/select.

  /** Bucket membership under a cap: a bucket of `size` rows is kept
    * iff size <= cap — a bucket that big is duplicated boilerplate the
    * exact-digest path owns, and pairing inside it would be the n²
    * stage the cap exists to prevent. A SELF-join (`pairing`) also
    * needs size >= 2: a size-1 bucket cannot form a pair, so dropping
    * it is pure pruning. [[oversizedBuckets]] reports exactly the
    * complement of the size <= cap half. */
  private[graft] def keptBucket(size: Column, cap: Int,
      pairing: Boolean): Column =
    if (pairing) size >= 2 && size <= cap else size <= cap

  /** Candidate self-join of banded rows — the shared kernel of
    * [[lshPairsFromShingles]] (keys band, bh), [[hammingBandedPairs]]
    * (seg, sb) and [[graft.similarity.Similarity.cosineNearDupPairs]]
    * (tbl, code). `rows` carries an `id` column plus `keys`; the
    * result is the `l`/`r`-aliased join of every kept row pair in a
    * shared bucket with `l.id < r.id`, for the caller's verify and
    * select (`col("l.id")`, `col("r.code")`, ...).
    *
    * Null keys are dropped BEFORE the exchange. Null keys match
    * nothing in the equi-join, so results are identical either way,
    * but a null-heavy input (undecodable media, an external index
    * carrying null band hashes) would otherwise shuffle its garbage
    * mass into one null partition per band before dying.
    *
    * `cap = Some(c)` keeps buckets of 2 <= size <= c ([[keptBucket]])
    * through a WINDOW count over the band exchange's own partitioning
    * (r16). The earlier agg+join-back cap re-evaluated `rows` — a full
    * shingle + minhash pass, or the caller's code derivation — once
    * per plan leg: 4 evaluations per pairs query across both self-join
    * sides. Here ONE Exchange hashpartitioning(keys) feeds the count,
    * the cap filter and both self-join sides (identical subtrees, so
    * AQE reuses the exchange), and the join's equi keys are satisfied
    * by the same partitioning. Measured at sf0.1, solo min-of-3,
    * back-to-back on one host: q_video_pairs 8.13 -> 3.69 s (2.2x),
    * q_simhash_pairs 3.53 -> 2.08 s, q_audio_pairs_exact 2.27 ->
    * 0.92 s, q_video_admission 6.78 -> 5.52 s, with the 4 parquet
    * scans of the old plan collapsed to 1
    * (plans/r16/q_video_pairs_{before,after}.txt). The one flutter-band
    * exception: q_phash_pairs 1.75 -> 1.90 s wall with cpu DOWN 3.04
    * -> 2.72 — at its small capped point the old broadcast plan was
    * already cheap; kept for the shared one-evaluation shape.
    *
    * The trade: above-cap rows ride the one exchange before dying. In
    * a BOUNDED key space (hamming segments are bits/(maxHamming+1)
    * wide — ~180 distinct buckets at the 56-bit/maxHamming=14 point)
    * a corpus where EVERY bucket exceeds the cap (n > cap x keyspace —
    * 100x documents at the video point) shuffles the whole band-row
    * volume just to drop it: q_video_pairs 22.5 -> 26.5 s at 100x,
    * cpu flat. A HYBRID that pre-drops oversized keys via a
    * map-side-aggregated broadcast anti-join BEFORE the exchange was
    * built and measured on the same ladder: it repairs that point
    * (23.6 s) but its second evaluation of `rows` taxes every HEALTHY
    * operating point 15-40% (sf0.1: q_video_pairs 3.69 -> 5.20,
    * q_phash_pairs 1.90 -> 2.65, q_simhash_pairs 2.08 -> 2.38; 100x:
    * q_phash_pairs 5.95 -> 7.70, q_simhash_pairs 4.57 -> 5.70).
    * REJECTED: in the saturated regime the cap has already destroyed
    * recall (every bucket dead, output ~empty), and the fix is sizing
    * the code width to the corpus, not a faster way to compute
    * nothing.
    *
    * `cap = None` runs no size job at all (r17): nothing can exceed
    * the cap and a singleton bucket self-excludes under l.id < r.id,
    * so the output is identical while the whole-partition sort+count
    * the window pays disappears; the self-join still shares ONE
    * exchange via AQE reuse. Measured solo at sf0.1:
    * q_video_pairs_exact cpu 2.6 -> 1.4, q_phash_pairs_exact cpu 1.7
    * -> 1.1 — the window's small-point cost, clawed back without
    * touching the capped scale path.
    *
    * Materialization is CALLER policy: the kernel never checkpoints.
    * Measured at sf0.1 (r12), a forced localCheckpoint strips the
    * derived frame's statistics, the planner loses the small-side
    * broadcast, and q_phash_pairs goes 0.88 s -> 4.29 s (4.9x). */
  def bandCandidates(rows: DataFrame, keys: Seq[String],
      cap: Option[Int]): DataFrame = {
    val nonNull = rows.filter(nonNullKeys(keys))
    val kept = cap.fold(nonNull)(c => nonNull
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(keptBucket(col("__bsz"), c, pairing = true))
      .drop("__bsz"))
    kept.alias("l").join(kept.alias("r"),
      keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
        col("l.id") < col("r.id"))
  }

  /** The probe-side face of the bucket policy: `index` restricted to
    * its `keyCols` buckets of size <= cap, for a batch-vs-index or
    * stream-vs-index equi-join. A probe joins the big persisted side
    * against a small batch, so the cap is an aggregate + join back
    * over the index (no self-join exchange to ride); `None` returns
    * the index untouched — no size job. Shared by the three batch
    * incremental faces and the three streaming admission faces. */
  def capBuckets(index: DataFrame, keyCols: Seq[String],
      cap: Option[Int]): DataFrame =
    cap.fold(index) { c =>
      val ok = index.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("bsz"))
        .filter(keptBucket(col("bsz"), c, pairing = false))
        .select(keyCols.map(col): _*)
      index.join(ok, keyCols)
    }

  /** (keys..., bsz) of the buckets the cap DROPS — the one
    * oversized-bucket monitor of the pair family, reporting on exactly
    * the non-null buckets [[bandCandidates]] / [[capBuckets]] use
    * (`cap = None`: nothing is dropped, an empty frame). Run it when
    * pair counts look low: each row is hot mass that exact dedup, or
    * a wider code, should own. */
  def oversizedBuckets(rows: DataFrame, keys: Seq[String],
      cap: Option[Int]): DataFrame =
    rows.filter(nonNullKeys(keys))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(cap.fold(lit(false))(c =>
        !keptBucket(col("bsz"), c, pairing = false)))

  private def nonNullKeys(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)

  /** (id, band, bh) LSH bucket keys for a corpus — the PERSISTED side
    * of incremental near-dup: write this once (at scale, bucketed by
    * (band, bh)), then each new batch joins its own band rows against
    * it via [[incrementalNearDupPairs]] instead of re-hashing the
    * corpus. Same signature family as [[minhashLshPairs]], so an
    * index built with the same (shingleN, bands, rowsPerBand) finds
    * exactly the pairs the full-table run would. */
  def minhashBandRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    bandRowsFromShingles(shingled(df, idCol, textCol, shingleN), bands, rowsPerBand)

  /** MinHash-LSH near-duplicate candidate pairs.
    *
    * bands × rowsPerBand hashes; a pair is a candidate iff some band
    * of the signatures matches exactly. The plan is: per-doc signature
    * (narrow) → explode to one row per band (×bands) → shuffle on
    * (band, hash-of-band-slice) → self-join inside buckets only →
    * distinct pairs → exact-Jaccard verify ≥ threshold.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Option[Int] = Some(5000)): DataFrame = {
    val docs = shingled(df, idCol, textCol, shingleN)
    lshPairsFromShingles(docs, bandRowsFromShingles(docs, bands, rowsPerBand),
      threshold, maxBucket)
  }

  /** The candidate-join half of [[minhashLshPairs]], over PRECOMPUTED
    * state: `docs` in (id, sh) form ([[shingled]]) and `bandRows` in
    * (id, band, bh) form ([[bandRowsFromShingles]]). Callers that
    * also need the bucket-size monitor build both once (checkpointed)
    * and share them between the monitor aggregate and this join —
    * the corpus is hashed exactly once. */
  def lshPairsFromShingles(
      docs: DataFrame,
      bandRows: DataFrame,
      threshold: Double,
      maxBucket: Option[Int]): DataFrame = {
    // skew guard: a bucket of n docs contributes n^2/2 candidate
    // pairs, and at 100 TB an uncapped hot bucket is THE failure mode
    // of LSH joins; degenerate buckets (near-identical clusters,
    // all-same boilerplate) are capped by the shared kernel —
    // exact-dup and smaller bands cover those
    val cand = bandCandidates(bandRows.select(col("id"), col("band"), col("bh")),
        Seq("band", "bh"), maxBucket)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // shingle arrays re-join only for the (small) candidate set
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (band, bh, size) of the LSH buckets [[minhashLshPairs]] would
    * DROP at the given cap — the monitoring companion to its skew
    * guard (run when candidate counts look low; each row is a
    * near-identical cluster that exact-dedupe should own). Mirrors
    * graft.similarity.Similarity.oversizedCodeBuckets. */
  def oversizedMinhashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucket: Option[Int] = Some(5000)): DataFrame =
    oversizedBuckets(minhashBandRows(df, idCol, textCol, shingleN, bands,
      rowsPerBand), Seq("band", "bh"), maxBucket)

  /** Incremental near-dup: a NEW batch against an already-indexed
    * corpus — the steady-state shape of a growing training corpus,
    * where re-hashing 100 TB per arriving batch is the cost to avoid.
    *
    * Only the batch is shingled and minhashed; candidates come from
    * the (band, bh) equi-join of the batch's band rows against
    * `corpusIndex` ([[minhashBandRows]] output, built ONCE with the
    * same (shingleN, bands, rowsPerBand)); corpus text is re-read
    * only for candidate ids (semi-join pushdown) to verify exact
    * Jaccard. Batch-internal pairs are out of scope by construction —
    * run [[minhashLshPairs]] on the batch for those.
    *
    * Skew cap: `maxBucket` bounds the CORPUS-side bucket size (the
    * index is the big side); a batch row landing in a dropped bucket
    * is near-identical boilerplate that exact-dedupe owns.
    *
    * Returns (id_new, id_old, jaccard): batch id, corpus id, exact
    * shingle Jaccard >= threshold.
    */
  def incrementalNearDupPairs(
      corpus: DataFrame,
      corpusIndex: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Option[Int] = Some(5000)): DataFrame = {
    val batchDocs = shingled(batch, idCol, textCol, shingleN)
    val batchBands = bandRowsFromShingles(batchDocs, bands, rowsPerBand)
    val keptIndex = capBuckets(corpusIndex, Seq("band", "bh"), maxBucket)
    val cand = batchBands.alias("b")
      .join(keptIndex.alias("i"),
        col("b.band") === col("i.band") && col("b.bh") === col("i.bh"))
      .select(col("b.id").as("id_new"), col("i.id").as("id_old"))
      .dropDuplicates("id_new", "id_old")
    // corpus text only for candidate ids: semi-join, then shingle
    val oldDocs = shingled(
      corpus.join(cand.select(col("id_old").as(idCol)).distinct(),
        Seq(idCol), "left_semi"),
      idCol, textCol, shingleN)
    cand
      .join(batchDocs.select(col("id").as("id_new"), col("sh").as("sh_new")),
        Seq("id_new"))
      .join(oldDocs.select(col("id").as("id_old"), col("sh").as("sh_old")),
        Seq("id_old"))
      .withColumn("jaccard", jaccard(col("sh_new"), col("sh_old")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** 16-bit SimHash over the distinct-token set, built from md5
    * nibbles so it is reproducible in ANY engine (the oracle recomputes
    * it in SQL): word hash = first 4 hex digits of md5(word); bit k of
    * the simhash is 1 iff the sum over words of ±1 (per word-bit k) is
    * positive. */
  def simhash16(text: Column): Column = {
    val words = array_distinct(tokensOf(text))
    val hexmap = "0123456789abcdef"
    def nib(h: Column, i: Int): Column =
      (instr(lit(hexmap), substring(h, i + 1, 1)) - 1).cast("int")
    val wordHash = transform(words, w => {
      val h = md5(w)
      (nib(h, 0) * 4096 + nib(h, 1) * 256 + nib(h, 2) * 16 + nib(h, 3)).cast("int")
    })
    val bitCols = (0 until 16).map { k =>
      val votes = aggregate(wordHash, lit(0),
        (acc, h) => acc + when(shiftright(h, k).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, lit(1 << k)).otherwise(lit(0))
    }
    bitCols.reduce(_ + _)
  }

  /** Single-pass SimHash for a whole table: explode distinct tokens,
    * hash each word ONCE, take the per-bit vote sums in one
    * hash-aggregate, assemble the code in the final projection. At
    * the default `bits = 16` this is value-identical to the scalar
    * simhash16 (integer math, order-free), but per-word work is
    * O(words) instead of O(bits x words) and the plan is one
    * codegen'd aggregate.
    *
    * `bits` widens the fingerprint (more md5 nibbles per word, up to
    * 64): a wider code is what makes banded pair-generation scale —
    * 16 bits split into 4 pigeonhole segments leaves only 16 bucket
    * values per segment, degenerating to ~n²/16 comparisons, while 32
    * bits gives 256 values per segment and 64 bits 65k. SIZE bits TO
    * THE CORPUS: pigeonhole bucket width is ~N / 2^(bits/(maxHamming
    * +1)), and candidate pairs grow as its SQUARE — the same fixed-
    * code-space N^2 this repo measured on the sign-LSH side at a 100x
    * corpus. At 500k docs, 32-bit codes put ~2000 docs in every
    * 8-bit segment bucket (under any sane cap pairs explode; above
    * it recall silently collapses to the cap) — 64-bit codes with
    * 16-bit segments keep buckets ~8 wide at the same corpus.
    * Widening bits also tightens what "hamming <= h" MEANS (h bit
    * flips out of 64 is stricter similarity than out of 16) — it is
    * a similarity-contract knob the caller owns, which is why it is
    * explicit and not auto-sized.
    *
    * Long overflow in the 64-bit construction is benign by design:
    * every nibble contribution and every `1L << k` term occupies
    * disjoint bits, so wrap-around arithmetic still assembles the
    * exact bit pattern.
    *
    * NULL text: the explode emits no row, so null-text documents are
    * ABSENT from the output (and from simhashPairs) — unlike the
    * scalar simhash16, which maps null to code 0. Filter or coalesce
    * upstream if null-text docs must participate; the value-parity
    * claim below is for non-null text. */
  def simhashCodes(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 64,
      s"bits must be a multiple of 4 in [4,64], got $bits")
    val nNib = bits / 4
    val hexmap = "0123456789abcdef"
    val words = df.select(col(idCol).as("id"),
      explode(array_distinct(tokensOf(col(textCol)))).as("w"))
    val h = md5(col("w"))
    def nib(i: Int): Column =
      (instr(lit(hexmap), substring(h, i + 1, 1)) - 1).cast("long")
    val wh = (0 until nNib)
      .map(i => nib(i) * lit(1L << (4 * (nNib - 1 - i))))
      .reduce(_ + _)
    val votes = (0 until bits).map(k =>
      sum(when(shiftright(col("wh"), k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$k"))
    val code = (0 until bits)
      .map(k => when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    val typed = if (bits <= 16) code.cast("int") else code
    words.select(col("id"), wh.as("wh"))
      .groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), typed.as("code"))
  }

  /** Hamming distance between two simhash codes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via pigeonhole banding: the 16-bit code is
    * split into `maxHamming + 1` segments; two codes within hamming
    * distance `maxHamming` differ in at most `maxHamming` bits, so at
    * least one segment is bit-identical (pigeonhole) — bucketing on
    * every (segment-id, segment-bits) therefore has GUARANTEED recall
    * for pairs within the bound. Pairs form only inside buckets (equi
    * shuffle on (seg, bits), never all-pairs), then an exact hamming
    * re-check filters band-collision false positives.
    *
    * Skew guard: like minhashLshPairs, buckets larger than `maxBucket`
    * (`None`: no cap) are dropped — a boilerplate-heavy corpus collapsing to few codes
    * would otherwise turn a bucket into an n² stage. Exact dedupe
    * covers the identical-text mass those buckets hold.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(5000),
      bits: Int = 16): DataFrame =
    hammingBandedPairs(simhashCodes(df, idCol, textCol, bits),
      maxHamming, maxBucket, bits)

  /** (seg, sb, bsz) of the segment buckets [[hammingBandedPairs]]
    * would DROP at the given cap — the monitoring companion to its
    * skew guard, completing the family contract
    * ([[oversizedMinhashBuckets]] /
    * [[graft.similarity.Similarity.oversizedCodeBuckets]]): a capped
    * bucket's pairs silently SURVIVE as non-pairs, and at a fixed
    * maxHamming the expected bucket width grows with the corpus
    * (segment count is pinned by the pigeonhole bound, so width
    * cannot auto-size) — run this when pair counts look low; each
    * row is hot-code mass that exact dedup, or a tighter maxHamming
    * from a better fingerprint, should own. */
  def oversizedHammingBuckets(
      coded: DataFrame, // (id, code)
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(5000),
      bits: Int = 16): DataFrame = {
    require(maxHamming + 1 <= bits,
      s"oversizedHammingBuckets needs maxHamming + 1 <= bits " +
        s"(got maxHamming=$maxHamming, bits=$bits)")
    oversizedBuckets(bandedSegments(coded, maxHamming, bits),
      Seq("seg", "sb"), maxBucket)
  }

  /** The pigeonhole-banding kernel itself, HASH-AGNOSTIC: near-dup
    * pairs of any (id, code) fingerprint frame — text simhash
    * ([[simhashPairs]]), perceptual image hash
    * ([[graft.multimodal.Multimodal.dHash]] codes), any fingerprint
    * whose similarity is hamming distance. The guarantee and the plan
    * shape are exactly [[simhashPairs]]' scaladoc: `maxHamming + 1`
    * segments, at least one bit-identical for any pair within the
    * bound (pigeonhole — recall is EXACT below the bound when no
    * bucket is capped), equi-join on (segment, bits) only, exact
    * hamming re-check kills band collisions, `maxBucket` prices
    * hot-code mass through the shared bucket policy
    * ([[bandCandidates]]; `None` = uncapped, the exact-recall
    * setting). */
  def hammingBandedPairs(
      coded: DataFrame, // (id, code)
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(5000),
      bits: Int = 16): DataFrame = {
    // the pigeonhole guarantee needs maxHamming+1 NON-EMPTY segments;
    // more segments than bits produces zero-width ones whose
    // universal bucket the cap then drops — silently voiding the
    // guarantee the scaladoc states, so refuse the degenerate shape
    require(maxHamming + 1 <= bits,
      s"hammingBandedPairs needs maxHamming + 1 <= bits for the " +
        s"pigeonhole guarantee (got maxHamming=$maxHamming, bits=$bits)")
    // the exact-hamming verify runs PIPELINED inside the bucket
    // join's probe output (codegen'd xor+bit_count, no exchange in
    // between), so only pairs that actually pass the bound reach the
    // cross-segment dedupe shuffle — the same pipelined-verify shape
    // cosineNearDupPairs measured 9.3x on. The old order
    // (dropDuplicates first) shuffled the FULL candidate list: at a
    // wide operating point (many narrow segments, e.g. the pHash
    // maxHamming=14 path) that is millions of rows of which a handful
    // survive — measured 14.6 s -> 0.9 s at sf0.1 (16.5x) from this
    // reorder alone. Results are identical: hamming is a pure
    // function of the pair, whichever segment matched it.
    // (null codes — undecodable media — band to null sb in every
    // segment; the kernel drops them before the exchange)
    bandCandidates(bandedSegments(coded, maxHamming, bits),
        Seq("seg", "sb"), maxBucket)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hamming(col("l.code"), col("r.code")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, code, seg, sb) segment rows of a fingerprint frame — the
    * PERSISTED side of incremental hamming near-dup, the fingerprint
    * family's twin of [[minhashBandRows]]: write this once for the
    * corpus (at scale, bucketed on (seg, sb) —
    * [[graft.jobs.AdmissionIndexes.saveHammingIndex]], which stamps
    * (maxHamming, bits) so a mismatched probe refuses), then each new
    * batch probes it via [[incrementalHammingPairs]] instead of
    * re-coding the corpus. Rows CARRY the full code, so the verify
    * needs no corpus re-read — unlike the minhash index, the hamming
    * index is self-contained (8 bytes of code vs re-shingling text).
    * Null codes (e.g. undecodable images from
    * [[graft.multimodal.Multimodal.grayPixels]]) produce segment rows
    * with null sb, which no equi-join ever matches — they index as
    * inert rows; filter them out before saving to keep the index
    * minimal. */
  def hammingBandRows(
      coded: DataFrame, // (id, code)
      maxHamming: Int = 3,
      bits: Int = 16): DataFrame = {
    require(maxHamming + 1 <= bits,
      s"hammingBandRows needs maxHamming + 1 <= bits for the " +
        s"pigeonhole guarantee (got maxHamming=$maxHamming, bits=$bits)")
    bandedSegments(coded, maxHamming, bits)
  }

  /** Incremental hamming near-dup: (id_new, id_old, hamming) pairs of
    * batch fingerprints within `maxHamming` of an INDEXED corpus
    * fingerprint — [[hammingBandedPairs]]' steady-state face, the
    * fingerprint twin of [[incrementalNearDupPairs]]: only the batch
    * is banded; the corpus side is the persisted [[hammingBandRows]]
    * index, read already bucketed on the (seg, sb) join key (only the
    * small batch side exchanges). Recall is the kernel's pigeonhole
    * guarantee — any pair within the bound shares at least one
    * bit-identical segment with the SAME segment bounds on both sides
    * (index and probe must agree on (maxHamming, bits); the
    * AdmissionIndexes stamp enforces it). The exact-hamming verify is
    * PIPELINED in the probe join's output (codes ride the index rows)
    * — only true pairs reach the dedupe exchange, the same
    * survivors-not-candidates order the kernel measured 16.5x on.
    * Corpus-side buckets larger than `maxBucket` are excluded: a
    * batch code landing in a dropped bucket is hot-code mass whose
    * VERBATIM repeats the exact-digest path owns (fold them with
    * [[collapseIdentical]] on the code before indexing and a capped
    * bucket can only hold genuinely distinct-but-close codes). */
  def incrementalHammingPairs(
      corpusIndex: DataFrame, // (id, code, seg, sb)
      batchCodes: DataFrame, // (id, code)
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(5000),
      bits: Int = 16): DataFrame = {
    require(maxHamming + 1 <= bits,
      s"incrementalHammingPairs needs maxHamming + 1 <= bits for the " +
        s"pigeonhole guarantee (got maxHamming=$maxHamming, bits=$bits)")
    val batchSegs = bandedSegments(batchCodes, maxHamming, bits)
    val keptIndex = capBuckets(corpusIndex, Seq("seg", "sb"), maxBucket)
    batchSegs.alias("b").join(keptIndex.alias("i"),
        col("b.seg") === col("i.seg") && col("b.sb") === col("i.sb"))
      .select(col("b.id").as("id_new"), col("i.id").as("id_old"),
        hamming(col("b.code"), col("i.code")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_new", "id_old")
  }

  /** Fold rows whose `key` column repeats VERBATIM to one
    * representative: `(reps, edges)`, where `reps` keeps the columns of
    * `rows` for the minimum-`idCol` row of every distinct key and
    * `edges` is the checkpointed `(id_a = rep, id_b = member)` frame
    * linking each folded member to its rep. Identical keys (a
    * token-set digest, a bit-identical vector, a verbatim fingerprint
    * code) are similarity 1.0 / hamming 0 — a near-dup at ANY
    * threshold — so pairing the reps only plus these linear edges
    * yields the same clusters as pairing everything, while a k-row
    * group contributes k-1 edges instead of ~k^2/2 candidate pairs (or
    * worse: a CAPPED bucket silently dropping them — the 1000x
    * PhashBench run ceded 51,875 rows of hot-code mass to the cap
    * before this existed). This is also the routing that makes "exact
    * dedup owns capped hot mass" executable: after the fold a capped
    * bucket can only hold genuinely distinct-but-close rows. Rows with
    * a NULL key are dropped: a null vector or an undecodable image can
    * never verify a bound, and grouping nulls (null == null under
    * groupBy) would collapse every one of them into one false cluster.
    *
    * groupBy-min + a join back, NOT a window: this runs precisely when
    * a skew monitor saw HOT groups (boilerplate clones, billions of
    * black frames sharing one code at corpus scale), and
    * min(id).over(partitionBy(key)) would shuffle every row of a hot
    * group into ONE task's window partition — the straggler in the
    * exact case the fold exists for. groupBy gets map-side partial
    * aggregation (one row per key per map partition reaches the
    * shuffle) and the join back is a plain equi-join AQE's skew-join
    * split can break up — neither of which a window partition offers
    * (the fold shape and its measured failure matrix: PERF.md item 7).
    *
    * `key` names a column `rows` already carries, so a vector or a code
    * is grouped in place, never copied. `rows` is read on both join
    * sides: pass a checkpointed frame, and when the key is a computed
    * digest, pin the digested rows (a lazy checkpoint) if the digest
    * is costly, so it computes once. The rep-joined rows are
    * checkpointed EAGERLY here because they feed both `reps` and
    * `edges` — the fold shuffle runs once (PERF.md item 6: checkpointed
    * reps 14.7 s vs 16.2 s when the collapse re-shuffled them) — and so
    * are the edges, which the caller both counts and unions into the
    * pair frame. */
  def collapseIdentical(rows: DataFrame, key: String,
      idCol: String = "id"): (DataFrame, DataFrame) = {
    val id = col(idCol)
    val keyed = rows.filter(col(key).isNotNull)
    val withRep = graft.Checkpoints.iter(keyed
      .join(keyed.groupBy(col(key)).agg(min(id).as("__rep")), Seq(key)))
    val edges = graft.Checkpoints.iter(withRep.filter(id =!= col("__rep"))
      .select(col("__rep").as("id_a"), id.as("id_b")))
    (withRep.filter(id === col("__rep")).select(rows.columns.map(col): _*),
      edges)
  }

  /** (id, code, seg, sb) segment rows of a fingerprint frame — the
    * shared explode [[hammingBandedPairs]] pairs on and
    * [[oversizedHammingBuckets]] monitors, one definition so the
    * monitor reports on exactly the buckets the pair generator uses:
    * maxHamming+1 segments spreading `bits` as evenly as possible. */
  private def bandedSegments(coded: DataFrame, maxHamming: Int,
      bits: Int): DataFrame =
    coded.select(col("id"), col("code"),
      explode(hammingSegments(col("code"), maxHamming, bits)).as("bk"))
      .select(col("id"), col("code"), col("bk.seg"), col("bk.sb"))

  /** Array of (seg, sb) segment structs of a fingerprint code — the
    * ROW-LOCAL column form of the banding explode, shared by the
    * batch kernel ([[bandedSegments]]) and the streaming admission
    * face ([[graft.streaming.EventStream
    * .streamingFingerprintAdmission]]), so a stream's probe keys are
    * BIT-IDENTICAL to a batch-built [[hammingBandRows]] index by
    * construction — one definition, not a convention two copies must
    * keep (the minhash faces' bandKeys discipline). */
  def hammingSegments(code: Column, maxHamming: Int, bits: Int): Column = {
    // the guard EVERY consumer needs, enforced in the shared kernel:
    // more segments than bits produces zero-width ones whose universal
    // sb=0 bucket any cap then drops — silently voiding the pigeonhole
    // guarantee (the streaming face has no other require on its path)
    require(maxHamming + 1 <= bits,
      s"hammingSegments needs maxHamming + 1 <= bits for the " +
        s"pigeonhole guarantee (got maxHamming=$maxHamming, bits=$bits)")
    val nSeg = maxHamming + 1
    val bounds = (0 to nSeg).map(i => i * bits / nSeg)
    array((0 until nSeg).map { s =>
      val lo = bounds(s)
      // Long mask (an Int mask breaks at width >= 32); width == 64
      // means one segment covering the whole code — mask everything
      val w = bounds(s + 1) - lo
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      struct(lit(s).as("seg"),
        shiftright(code, lo).bitwiseAND(lit(mask)).as("sb"))
    }: _*)
  }

  /** Brute-force hamming pairs — O(n²), test oracle ONLY. Used by
    * DedupSpec to prove simhashPairs' pigeonhole recall guarantee. */
  def simhashPairsBruteForce(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bits: Int = 16): DataFrame = {
    val coded = simhashCodes(df, idCol, textCol, bits)
    coded.alias("l").join(coded.alias("r"), col("l.id") < col("r.id"))
      .withColumn("hamming", hamming(col("l.code"), col("r.code")))
      .filter(col("hamming") <= maxHamming)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
  }
}
