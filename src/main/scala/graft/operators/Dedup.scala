package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Deduplication suite for the training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * The reference's only dedup is an in-batch first-wins dict
  * (scripts/lambda1.py:119-150 — covered by
  * [[RawEventStore.dedupFirstWins]]); everything here is the extension
  * surface a 100 TB pretraining pipeline needs.
  *
  * Scale design:
  *  - exact: one hash aggregate on md5(text) — shuffle |docs| rows of
  *    (hash,id), no text movement.
  *  - n-gram Jaccard: inverted-index join (explode shingles, equi-join on
  *    shingle, count per pair) — the standard all-pairs similarity plan;
  *    output bounded by pairs sharing >=1 shingle. Hot shingles are the
  *    skew risk at scale -> drop-stopword-shingle / df-cap filters belong
  *    in front (approximated here by distinct-shingle sets per doc).
  *  - MinHash+LSH: signature (k seeded min-hashes) -> band keys ->
  *    equi-join on (band, key) — candidate generation is O(|docs|·bands)
  *    shuffle rows, never O(n^2); banding math: P(candidate) =
  *    1-(1-j^r)^b with r=4, b=4.
  *  - SimHash: per-doc 16-bit signature, near-dup = small Hamming
  *    distance; self-join is blocked on the signature's two bytes
  *    (pigeonhole: hamming<=2 pairs share at least one untouched byte).
  *  - embedding cosine: brute-force all-pairs (correctness baseline);
  *    the LSH-bucketed scale path lives in [[SimilaritySearch]].
  *
  * Every hash is [[TextHash.hash60]] (md5-derived) so DuckDB oracles can
  * recompute results bit-identically.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest id.
    * Returns (text_hash, kept_id, n_copies).
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct word shingles as ROWS (id, s) — the shared front of
    * the Jaccard/MinHash/SimHash paths.
    *
    * Relational formulation: posexplode tokens, window `lead` to stitch n
    * consecutive tokens, filter to full shingles, distinct. Semantically
    * identical to `array_distinct(TextHash.wordShingles(...))` exploded
    * (concat_ws skips the trailing nulls for docs shorter than n tokens,
    * yielding the same single whole-doc shingle), but every operator here
    * is codegen'd — the HOF transform/slice chain was the dominant cost
    * of all three text-dedup queries at sf0.1 — and the window's
    * hash-partitioning by id is reused by downstream per-doc aggregates.
    */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // one codegen'd kernel pass per doc (GramFunctions.wordShingleArray):
    // the set arrives already distinct, so the explode is map-only and
    // the whole relation needs NO exchange at all. The r19 relational
    // formulation (posexplode + count/lead windows + distinct) shuffled
    // the full token stream once and the shingle rows a second time —
    // byte-identical output (TextHash.hash60 twins prove the kernel),
    // measured at sf0.1 as 2 Exchanges removed from every consumer.
    fanOutSmall(docs, col(idCol)).select(col(idCol).as("id"),
      explode(graft.functions.GramFunctions
        .wordShingleArray(col(textCol), n)).as("s"))

  /** The shared inverted-index relation of the set-similarity family:
    * (id, shingle, sz) rows — per-doc distinct word n-gram shingles with
    * the doc's POST-CAP distinct-shingle count attached.
    *
    * Callers mining several metrics over one corpus (jaccard +
    * containment + clustering) should build this ONCE and feed it to the
    * `*FromShingles` variants; the doc-level wrappers do exactly that,
    * materializing the relation so the self-join's two sides and any
    * downstream fixpoint scan it instead of re-running the
    * explode/window/distinct pipeline per use (it appeared 4x in the
    * un-shared physical plan).
    *
    * `maxDocFreq`: skew guard for the 100 TB path. A shingle appearing in
    * d documents contributes d^2 join rows; boilerplate shingles make the
    * inverted-index join quadratic on one key. Capping document frequency
    * drops those shingles BEFORE the join: the hot set is tiny by
    * construction (only shingles with df > cap), so it broadcasts, and
    * the anti-join costs no extra shuffle of the shingle relation. `sz`
    * counts the CAPPED universe, so capped similarities stay
    * self-consistent (an exact-dup pair keeps jaccard/containment 1.0
    * after the cap removes its boilerplate). None preserves exact
    * semantics; production near-dup mining at scale wants a cap.
    *
    * The `sz` window and the cap's anti-join both ride the id hash
    * partitioning established by the shingle construction (broadcast
    * joins preserve the streamed side's partitioning), so attaching sizes
    * costs a per-partition sort, not a shuffle — the separate sizes
    * aggregate + two pair-list joins of the unshared formulation
    * disappear entirely.
    */
  /** The shared document-frequency cap: drop rows whose `keyCol` value
    * appears in more than `cap` rows. The hot set is tiny by
    * construction (only keys with df > cap), so it broadcasts and the
    * anti-join costs no extra shuffle of `rows`.
    */
  private def dfCap(rows: DataFrame, keyCol: String,
      cap: Option[Long]): DataFrame = cap match {
    case None => rows
    case Some(c) =>
      val hot = rows.groupBy(keyCol).agg(count(lit(1)).as("df"))
        .filter(col("df") > c).select(keyCol)
      rows.join(broadcast(hot), Seq(keyCol), "left_anti")
  }

  /** SIZE-ADAPTIVE fan-out for map-heavy kernel stages: a small corpus
    * parquet arrives as one file split (`maxPartitionBytes`/
    * `openCostInBytes` floors), which would run every per-row kernel
    * (shingle set, minhash, simhash, HTML extraction) serially on one
    * core for the whole downstream chain. When the OPTIMIZER'S size
    * estimate says the relation is small (< 4 MB x defaultParallelism),
    * hash-repartition it across the session's parallelism — bounded
    * cost by construction, since only provably-small inputs are ever
    * shuffled. At production scale the estimate exceeds the threshold
    * and this is a NO-OP: no extra exchange on a 100 TB corpus, which a
    * constant repartition would impose. (Guide §2: derive partitioning
    * from input size, never from a constant tuned for one deployment.)
    */
  private[graft] def fanOutSmall(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val threshold = BigInt(par.toLong) * (4L << 20)
    val small =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes < threshold
      catch { case _: Throwable => false }
    if (small && par > 1) df.repartition(par, key) else df
  }

  /** The [[shingles]] relation WITHOUT the per-doc `sz` window — for
    * consumers that aggregate their own per-doc totals
    * ([[Relevance.noveltyScores]]): the window's shuffle+sort by id is
    * pure waste when `sz` goes unread. Always shared (checkpointed)
    * because such consumers read it more than once.
    */
  private[graft] def noveltyRows(docs: DataFrame, n: Int, idCol: String,
      textCol: String, maxDocFreq: Option[Long]): DataFrame =
    dfCap(Materialize.shared(shingleRows(docs, idCol, textCol, n)), "s",
      maxDocFreq).withColumnRenamed("s", "shingle")

  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None,
      materialize: Boolean = false): DataFrame = maxDocFreq match {
    case None =>
      // uncapped: sz is the kernel array's size, attached BEFORE the
      // explode — the whole relation is one map stage, no exchange
      // (the capped branch still needs the per-id window because sz
      // counts the POST-cap universe there)
      val rows = fanOutSmall(docs, col(idCol))
        .select(col(idCol).as("id"), graft.functions.GramFunctions
          .wordShingleArray(col(textCol), n).as("_arr"))
        .select(col("id"), explode(col("_arr")).as("shingle"),
          size(col("_arr")).cast("long").as("sz"))
        .select(col("id"), col("shingle"), col("sz"))
      if (materialize) Materialize.shared(rows) else rows
    case cap @ Some(_) =>
      // materialize AFTER the cap + sz window (r20): a self-joining
      // consumer then scans the final relation twice instead of
      // replaying the hot-set aggregate + window once per join side
      // (the kernel made the pre-cap rows cheap; the cap machinery is
      // now the expensive part worth sharing)
      val capped = dfCap(shingleRows(docs, idCol, textCol, n), "s", cap)
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
        .withColumnRenamed("s", "shingle")
      if (materialize) Materialize.shared(capped) else capped
  }

  /** Pair intersection counts with both sides' set sizes carried through
    * the aggregate (sz is constant per id, so min() just forwards it):
    * (id_a, id_b, inter, size_a, size_b), id_a < id_b.
    */
  private def pairStats(sh: DataFrame): DataFrame =
    sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.sz")).as("size_a"), min(col("b.sz")).as("size_b"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join.
    * Returns (id_a, id_b, inter, size_a, size_b, jaccard) for pairs with
    * jaccard >= threshold, id_a < id_b. See [[shingles]] for the shared
    * relation and the `maxDocFreq` skew guard.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Option[Long] = None): DataFrame =
    jaccardFromShingles(
      shingles(docs, n, idCol, textCol, maxDocFreq, materialize = true),
      threshold)

  /** [[jaccardPairs]] over a pre-built [[shingles]] relation. */
  def jaccardFromShingles(sh: DataFrame, threshold: Double = 0.5): DataFrame =
    pairStats(sh)
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")

  /** Prefix-filtered exact Jaccard pairs (the AllPairs/PPJoin candidate
    * scheme) — same output as [[jaccardPairs]], far fewer candidates.
    *
    * [[jaccardPairs]] joins the FULL inverted index: every shingle two
    * docs share produces a join row, Σ df² total. Prefix filtering
    * exploits a lossless pruning lemma: order each doc's shingles by a
    * global total order (here ascending document frequency, rarest
    * first, then the shingle string) and keep only the first
    * `sz − ceil(t·sz) + 1` as its PREFIX. For any pair with
    * J(x,y) ≥ t the overlap o satisfies o ≥ ceil(t·|x|) and
    * o ≥ ceil(t·|y|) (from o ≥ t(|x|+|y|)/(1+t) and |y| ≥ o), so if the
    * pair's smallest common shingle sat outside x's prefix, all o ≥
    * ceil(t·|x|) common shingles would have to fit in x's
    * ceil(t·|x|)−1 suffix slots — impossible. Hence the smallest common
    * shingle lies in BOTH prefixes and the prefix-only self-join loses
    * no qualifying pair. Candidate rows shrink from Σ df² over all
    * shingles to Σ (prefix-df)² over the RAREST ~(1−t) fraction of each
    * doc — the classic orders-of-magnitude cut for high thresholds.
    *
    * Verification then runs per CANDIDATE pair, not per shared shingle:
    * candidates (deduped, size-ratio-filtered: t·max ≤ min) join the
    * per-doc sorted shingle-set arrays on each id and one codegen'd
    * `array_intersect` computes the exact intersection. Shuffle cost is
    * |candidates| id-pairs plus the doc-set arrays for docs that appear
    * in at least one candidate — bounded by the prefix join's output,
    * never by the corpus.
    *
    * The df ordering needs one extra shuffle of the shingle relation
    * (window by shingle) — at 100 TB that buys back its cost many times
    * over in pruned candidates; `maxDocFreq` remains the hard skew cap
    * underneath (a prefix shingle's df is still bounded by it).
    *
    * THRESHOLD-GATED (r16 verdict item 2): prefix pruning only pays when
    * the prefix is SHORT. At t = 0.5 each doc keeps sz/2 + 1 shingles —
    * the pruning is weak while the df-order window, the candidate
    * distinct, and the per-pair verification join all still run on top
    * of it, and the measured scale-up is superlinear (8.2x wall at 10x
    * data, 19.5x at the second decade) where the plain inverted join
    * ([[jaccardPairs]]) holds 1.16x/6.2x. The measured crossover on the
    * bench corpus sits near t = 0.8 (prefix length sz/5 + 1), so this
    * entry point DISPATCHES: below [[PrefixJaccardCrossover]] it runs
    * the plain inverted-index plan (identical output — the lemma is
    * lossless, so both plans compute the same relation), at or above it
    * the prefix plan. A caller who wants the prefix plan outside its
    * regime (spec losslessness proofs, plan measurement) uses
    * [[jaccardPairsPrefixForced]] explicitly — the default API can no
    * longer pick the scale-killing plan by accident.
    */
  def jaccardPairsPrefix(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None): DataFrame =
    if (prefixPlanSelected(threshold))
      jaccardPairsPrefixForced(docs, n, threshold, idCol, textCol, maxDocFreq)
    else jaccardPairs(docs, n, threshold, idCol, textCol, maxDocFreq)

  /** Measured plan crossover for [[jaccardPairsPrefix]]: at thresholds
    * below this the plain inverted join wins (prefixes are too long to
    * prune); at or above it the prefix plan's candidate cut dominates.
    */
  val PrefixJaccardCrossover = 0.8

  /** True iff [[jaccardPairsPrefix]] will run the prefix-filtered plan
    * for this threshold (else it dispatches to [[jaccardPairs]]).
    */
  def prefixPlanSelected(threshold: Double): Boolean =
    threshold >= PrefixJaccardCrossover

  /** The prefix-filtered plan UNCONDITIONALLY — see
    * [[jaccardPairsPrefix]] for semantics and the dispatch rationale.
    * Below the crossover this plan is measurably superlinear in corpus
    * size; call it directly only to prove losslessness or to measure.
    */
  def jaccardPairsPrefixForced(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val sh = Materialize.shared(
      shingles(docs, n, idCol, textCol, maxDocFreq))
    val prefix = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select("id", "shingle", "sz")
    // materialized: read twice below (candidate-id semi-join + the
    // verification join) — unmaterialized, the prefix windows + join
    // would run twice
    val cand = Materialize.shared(prefix.as("a")
      .join(prefix.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id") &&
        col("a.sz") * threshold <= col("b.sz") &&
        col("b.sz") * threshold <= col("a.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("size_a"), col("b.sz").as("size_b"))
      .distinct())
    // only docs that appear in at least one candidate need their set
    // materialized — without this semi-join the collect_set shuffles
    // the WHOLE corpus's shingles and the candidate join prunes too
    // late (the scaladoc's cost claim is this line). Measured trade at
    // sf0.1/local[32]: ~5.0s -> ~6.3s, because the full-corpus
    // collect_set used to run CONCURRENTLY with the prefix windows on
    // idle cores and the semi-join serializes it behind them — the
    // critical path lengthens while TOTAL work shrinks. At cluster
    // scale (no idle cores, corpus >> candidates) total work is the
    // quantity that matters, so the semi-join stays.
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sets = sh.join(candIds, Seq("id"), "left_semi")
      .groupBy(col("id"))
      .agg(collect_set(col("shingle")).as("sset"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sset").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sset").as("set_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Longest ALIGNED exact span per document pair — the substring-dedup
    * depth the set-similarity family cannot see: Jaccard/MinHash score
    * shared VOCABULARY; this finds shared CONSECUTIVE RUNS (quoted
    * passages, boilerplate blocks, copy-pasted sections), the signal
    * substring-level training-data dedup (suffix-array dedup à la
    * "Deduplicating Training Data Makes Language Models Better") keys
    * on — here at n-gram alignment resolution, as pure relational
    * algebra instead of a suffix array:
    *
    *  1. POSITIONED shingles (id, pos, s) — every occurrence, not the
    *     distinct set;
    *  2. inverted-index self-join on the shingle (the same equi-join
    *     plan as [[jaccardPairs]], same `maxDocFreq` broadcast anti-join
    *     guard — here capping total OCCURRENCES, the actual join fanout);
    *  3. aligned matches share a constant offset `diff = pos_a − pos_b`,
    *     and a consecutive run is a gaps-and-islands group: within
    *     (pair, diff), `pos_a − row_number()` is constant exactly along
    *     a run. One partitioned window + one hash aggregate.
    *
    * A run of r shingles covers r + n − 1 tokens. Returns
    * (id_a, id_b, span_tokens, n_aligned) for pairs whose longest
    * aligned span reaches `minTokens`; n_aligned counts all aligned
    * shingle occurrences (a pair with many short shared runs scores
    * high n_aligned, low span_tokens — both signals are useful cuts).
    */
  def alignedSpanPairs(docs: DataFrame, n: Int = 3, minTokens: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Option[Long] = None): DataFrame = {
    require(minTokens >= n,
      s"minTokens ($minTokens) must be >= shingle width ($n)")
    alignedIslandRuns(docs, n, idCol, textCol, maxDocFreq)
      .groupBy("id_a", "id_b")
      .agg((max(col("run_len")) + lit(n - 1)).as("span_tokens"),
        sum(col("run_len")).as("n_aligned"))
      .filter(col("span_tokens") >= minTokens)
  }

  /** Per-run island rows (id_a, id_b, diff, run_len, start_a) — the
    * shared core of [[alignedSpanPairs]] (which keeps only per-pair
    * maxima) and [[alignedSpanRuns]] (which keeps positions).
    */
  private def alignedIslandRuns(docs: DataFrame, n: Int, idCol: String,
      textCol: String, maxDocFreq: Option[Long]): DataFrame = {
    // positioned shingles from the per-row kernel (every occurrence,
    // 0-based start): map-only explode instead of the token posexplode
    // + count/lead windows — one Exchange removed ahead of the
    // self-join, byte-identical (id, pos, s) rows
    val psh = Materialize.shared(dfCap(
      fanOutSmall(docs, col(idCol)).select(col(idCol).as("id"),
          explode(graft.functions.GramFunctions
            .wordShinglePositions(col(textCol), n)).as("ps"))
        .select(col("id"), col("ps.pos").as("pos"), col("ps.s").as("s")),
      "s", maxDocFreq))
    val aligned = psh.as("a")
      .join(psh.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diff"))
    val runW = Window.partitionBy("id_a", "id_b", "diff").orderBy("pa")
    aligned
      .withColumn("island", col("pa") - row_number().over(runW))
      .groupBy("id_a", "id_b", "diff", "island")
      .agg(count(lit(1)).as("run_len"), min(col("pa")).as("start_a"))
  }

  /** [[alignedSpanPairs]] with POSITIONS: one row per aligned run of at
    * least `minTokens` tokens — (id_a, id_b, start_a, start_b,
    * span_tokens), starts 0-based in each doc's whitespace-token stream.
    * The input [[pruneSharedSpans]] consumes: pair-level maxima say WHO
    * shares a passage; this says WHERE, which is what excision needs.
    */
  def alignedSpanRuns(docs: DataFrame, n: Int = 3, minTokens: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Option[Long] = None): DataFrame = {
    require(minTokens >= n,
      s"minTokens ($minTokens) must be >= shingle width ($n)")
    alignedIslandRuns(docs, n, idCol, textCol, maxDocFreq)
      .select(col("id_a"), col("id_b"), col("start_a"),
        (col("start_a") - col("diff")).as("start_b"),
        (col("run_len") + lit(n - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
  }

  /** SPAN EXCISION — the consumable end of substring dedup (the
    * "remove the duplicated substring, keep the rest" step of
    * suffix-array training-data dedup): from each doc that appears as
    * the HIGHER id of a span-sharing pair (keep-first convention — the
    * min-id doc keeps its text intact), cut the tokens of its single
    * LONGEST shared span (ties: earliest start, then smallest partner
    * id — deterministic), rejoin with single spaces. Docs with no
    * shared span pass through byte-identical.
    *
    * One longest span per doc per pass, not all spans: overlapping
    * spans from different partners make multi-span excision
    * order-dependent; iterate the operator to a fixpoint when corpora
    * are pathologically templated. Cost: a |runs|-sized argmax plus one
    * equi-join onto the corpus — the heavy lifting already happened in
    * [[alignedSpanRuns]].
    */
  /** [[pruneSharedSpans]] iterated to the fixpoint: rounds of mine →
    * excise until no shared span of `minTokens` remains (or `maxRounds`
    * — a backstop far above real corpora: every round removes at least
    * `minTokens` tokens from some doc, so rounds are bounded by
    * corpus-tokens / minTokens and in practice by the deepest per-doc
    * overlap chain). Returns (pruned corpus `(id, text)`, rounds run,
    * converged). Each round's result is materialized so round k+1's
    * shingle pass reads a flat relation, not k stacked excisions.
    * Spec-proven terminal state: `alignedSpanPairs(result)` is empty.
    */
  def pruneSharedSpansToFixpoint(docs: DataFrame, n: Int = 3,
      minTokens: Int = 10, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None,
      maxRounds: Int = 20): (DataFrame, Int, Boolean) = {
    var cur = Materialize.round(docs.select(col(idCol), col(textCol)))
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val runs = Materialize.round(
        alignedSpanRuns(cur, n, minTokens, idCol, textCol, maxDocFreq))
      if (runs.isEmpty) converged = true
      else {
        cur = Materialize.round(pruneSharedSpans(cur, runs, idCol, textCol)
          .select(col(idCol), col("text_pruned").as(textCol)))
        rounds += 1
      }
    }
    (cur, rounds, converged)
  }

  def pruneSharedSpans(docs: DataFrame, runs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pick = runs.groupBy(col("id_b").as(idCol))
      .agg(max_by(struct(col("span_tokens"), col("start_b")),
        struct(col("span_tokens"), (-col("start_b")).as("ns"),
          (-col("id_a")).as("na"))).as("m"))
      .select(col(idCol), col("m.span_tokens").as("_span"),
        col("m.start_b").as("_start"))
    docs.join(pick, Seq(idCol), "left")
      .withColumn("_toks", split(trim(col(textCol)), "\\s+"))
      .withColumn("removed_tokens", coalesce(col("_span"), lit(0L)))
      .withColumn("text_pruned", when(col("_span").isNull, col(textCol))
        .otherwise(array_join(concat(
          slice(col("_toks"), lit(1), col("_start").cast("int")),
          slice(col("_toks"),
            (col("_start") + col("_span") + lit(1)).cast("int"),
            greatest(size(col("_toks")) - (col("_start") + col("_span"))
              .cast("int"), lit(0)))), " ")))
      .drop("_toks", "_span", "_start")
  }

  /** Containment pairs: asymmetric near-dup metric |A∩B| / |A| — catches
    * quote-inclusion and subsumption that symmetric Jaccard misses (a
    * short doc fully contained in a long one has low Jaccard but
    * containment 1.0). Same inverted-index join as [[jaccardPairs]], same
    * `maxDocFreq` skew guard (see [[shingles]]).
    * Returns pairs where EITHER side's containment >= threshold.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Option[Long] = None): DataFrame =
    containmentFromShingles(
      shingles(docs, n, idCol, textCol, maxDocFreq, materialize = true),
      threshold)

  /** [[containmentPairs]] over a pre-built [[shingles]] relation. */
  def containmentFromShingles(sh: DataFrame,
      threshold: Double = 0.9): DataFrame =
    pairStats(sh)
      .withColumn("containment_a", col("inter") / col("size_a").cast("double"))
      .withColumn("containment_b", col("inter") / col("size_b").cast("double"))
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
      .select("id_a", "id_b", "containment_a", "containment_b")

  /** Winnow-fingerprint near-dup pairs: docs sharing at least `minShared`
    * winnowing fingerprints ([[graft.functions.GramExpressions]] — one
    * codegen'd map pass per doc, no shingle explode). Winnowing
    * guarantees any shared substring of length >= k+w-1 chars yields a
    * shared fingerprint, so this catches COPIED PASSAGES (plagiarism-
    * style reuse) that token-level Jaccard dilutes away in long docs.
    * The pair join is the same inverted-index equi-join as
    * [[jaccardPairs]], over the (much smaller, ~1/w) fingerprint set —
    * `maxDocFreq` is the same hot-key guard. Returns
    * (id_a, id_b, n_shared), id_a < id_b.
    */
  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Long = 2, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None): DataFrame = {
    val all = graft.functions.TextAnalysis
      .winnowFingerprints(docs, idCol, textCol, k, w)
      .transform(Materialize.shared)
    val fps = dfCap(all, "fingerprint", maxDocFreq)
    fps.as("a")
      .join(fps.as("b"), col("a.fingerprint") === col("b.fingerprint") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MinHash signatures: (id, sig array<long> of length numHashes).
    *
    * Relational formulation — one md5-derived 60-bit hash per shingle,
    * then k affine mixes ([[TextHash.mixSeeded]], md5-free) and k mins in
    * one partial+final hash aggregate, all codegen'd. The earlier
    * k-md5s-per-shingle family cost 16x the hashing work for the same
    * minhash quality.
    */
  def minHashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // one codegen'd kernel per doc (hash60 + k affine mixes + k running
    // mins over the distinct shingle set — GramFunctions.minHashSig):
    // map-only, where the relational formulation paid the shingle
    // window exchanges plus a per-id aggregate exchange. Values are
    // bit-identical (same hash60, same mix constants, min over the
    // same set).
    fanOutSmall(docs, col(idCol))
      .select(col(idCol).as("id"), graft.functions.GramFunctions
        .minHashSig(col(textCol), n, numHashes).as("sig"))

  /** MinHash+LSH candidate pairs: band the signature (bands x rowsPerBand
    * = numHashes), equi-join on (band, band-key), score candidates by
    * signature agreement. Returns (id_a, id_b, sig_agreement) with
    * agreement >= minAgreement, id_a < id_b.
    */
  def minHashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, minAgreement: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // lazy-materialized: both self-join sides scan the banded rows
    // instead of re-running the whole signature pipeline
    val banded = bandedSignatures(
        minHashSignatures(docs, n, numHashes, idCol, textCol), numHashes, bands)
      .transform(Materialize.shared)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cand.withColumn("sig_agreement", sigAgreement(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("sig_agreement") >= minAgreement)
      .select("id_a", "id_b", "sig_agreement")
  }

  /** Band a (id, sig) relation into (id, sig, band, key) rows — the LSH
    * bucket relation [[minHashLshPairs]] self-joins and
    * [[IncrementalDedup]] cross-joins against the persisted corpus side.
    */
  private[graft] def bandedSignatures(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          concat_ws(":", slice(col("sig"), b * rows + 1, lit(rows))).as("key")))).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
  }

  /** Fraction of agreeing signature positions — the LSH candidate score. */
  private[graft] def sigAgreement(sigA: Column, sigB: Column,
      numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB,
      (x, y) => when(x === y, 1).otherwise(0)), lit(0),
      (acc, v) => acc + v) / lit(numHashes.toDouble)

  /** Training-set DECONTAMINATION: flag (train doc, eval doc) pairs
    * whose shared distinct word n-grams cover at least `minOverlapFrac`
    * of the eval doc's shingle set — the n-gram-collision contamination
    * check LLM pipelines run against benchmark/eval sets before
    * training. Returns (train_id, eval_id, overlap, eval_size,
    * overlap_frac).
    *
    * Scale shape: a CROSS-CORPUS inverted-index equi-join on the
    * shingle — identical cost structure to [[jaccardPairs]] but with the
    * (small) eval side as one join input, so the work is
    * |train shingles ∩ eval shingle keys|, not train². `maxDocFreq`
    * df-caps the TRAIN side (boilerplate guard; the eval side is
    * benchmark-sized and needs none). The fraction denominator is the
    * eval doc's shingle count: a fully-quoted prompt scores 1.0 no
    * matter how much other text surrounds it in the training doc.
    */
  def contaminationPairs(train: DataFrame, eval: DataFrame, n: Int = 5,
      minOverlapFrac: Double = 0.8, maxDocFreq: Option[Long] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tsh = shingles(train, n, idCol, textCol, maxDocFreq)
      .select(col("id").as("train_id"), col("shingle"))
    val esh = shingles(eval, n, idCol, textCol, None)
      .select(col("id").as("eval_id"), col("shingle"), col("sz").as("eval_sz"))
    tsh.join(esh, "shingle")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("overlap"), min(col("eval_sz")).as("eval_size"))
      .withColumn("overlap_frac", col("overlap") / col("eval_size"))
      .filter(col("overlap_frac") >= minOverlapFrac)
  }

  /** SimHash per doc: (id, simhash) with `bits`-bit signatures over word
    * 2-shingles.
    *
    * Relational formulation: one hash60 per shingle (the HOF version
    * recomputed the md5 per BIT), then `bits` conditional sums in a
    * single hash aggregate, then bit packing — all codegen'd.
    */
  def simHashes(docs: DataFrame, bits: Int = 16, shingleN: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // per-row kernel (GramFunctions.simHashPacked): the +1/-1 bit sums
    // over the distinct-shingle hash60s and the sign packing in one
    // map pass — no shingle explode, no per-id aggregate exchange.
    fanOutSmall(docs, col(idCol))
      .select(col(idCol).as("id"), graft.functions.GramFunctions
        .simHashPacked(col(textCol), shingleN, bits).as("simhash"))

  /** SimHash near-dup pairs: Hamming distance <= maxHamming. The self-join
    * is blocked on signature bytes (a pair within hamming<=maxHamming for
    * maxHamming < blocks must agree on at least one block — pigeonhole),
    * so the join is equi on (block, byte), never a cross product.
    */
  def simHashPairs(docs: DataFrame, bits: Int = 16, maxHamming: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = simHashes(docs, bits, 2, idCol, textCol)
    val blocks = 2 // 2 bytes for 16 bits; maxHamming < blocks required
    require(maxHamming < blocks, "pigeonhole blocking needs maxHamming < blocks")
    val blocked = sh.select(col("id"), col("simhash"),
      explode(array((0 until blocks).map(b =>
        struct(lit(b).as("block"),
          shiftright(col("simhash"), b * 8).bitwiseAND(0xFF).as("byte"))): _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.block"), col("bb.byte"))
      .transform(Materialize.shared) // both self-join sides scan this, not the pipeline
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") && col("a.byte") === col("b.byte") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Hamming-distance pairs over ANY precomputed 64-bit signature relation
    * `(id, h)` — the [[simHashPairs]] pigeonhole generalized to full
    * 64-bit fingerprints (perceptual image hashes, feature SimHashes,
    * …): split each signature into `64/blockBits` blocks; a pair within
    * `maxHamming < blocks` differing BITS can corrupt at most
    * `maxHamming` blocks, so the survivors agree on at least one and
    * the self-join is equi on `(block, byte)` — never a cross product.
    * Signatures are 8 bytes, so letting `h` ride the candidate shuffle
    * costs the same as re-joining it back — unlike MinHash/embedding
    * candidates, ids-only banding would BUY nothing here.
    *
    * Block width is the scale dial: the default 16-bit blocks give 4
    * blocks x 65536 buckets per position, so a uniform corpus of n
    * signatures costs Σdf² ≈ n²/16384 candidate rows — 256x fewer than
    * byte blocks — while still admitting maxHamming <= 3. Byte blocks
    * (blockBits = 8) buy maxHamming up to 7 at 256 buckets per
    * position; use them only when the radius matters more than the
    * join size. The skew guard is `maxBlockFreq`: a degenerate mass
    * (all-black thumbnails → dhash 0) piles onto one bucket; the cap
    * drops blocks hotter than it before the join (the [[dfCap]]
    * stance), trading recall on degenerate masses for a bounded join.
    */
  def hammingPairs64(hashes: DataFrame, maxHamming: Int = 3,
      idCol: String = "id", hashCol: String = "h",
      maxBlockFreq: Option[Long] = None, blockBits: Int = 16): DataFrame = {
    require(blockBits == 8 || blockBits == 16,
      s"blockBits must be 8 or 16, got $blockBits")
    val blocks = 64 / blockBits
    val mask = (1L << blockBits) - 1L
    require(maxHamming >= 0 && maxHamming < blocks,
      s"pigeonhole blocking needs 0 <= maxHamming < $blocks, got $maxHamming")
    val blocked0 = hashes
      .select(col(idCol).as("id"), col(hashCol).as("h"))
      .filter(col("h").isNotNull)
      .select(col("id"), col("h"),
        explode(array((0 until blocks).map(b =>
          struct(lit(b).as("block"),
            shiftright(col("h"), b * blockBits).bitwiseAND(mask).as("byte"))): _*)).as("bb"))
      .select(col("id"), col("h"), col("bb.block"), col("bb.byte"))
    val blocked = Materialize.shared(maxBlockFreq match {
      case Some(cap) =>
        val hot = blocked0.groupBy("block", "byte")
          .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
        blocked0.join(hot, Seq("block", "byte"), "left_anti")
      case None => blocked0
    })
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") && col("a.byte") === col("b.byte") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** C4-style corpus-wide BOILERPLATE-UNIT removal — the famous "dedup
    * repeated lines across the corpus" curation step (C4 dropped any
    * three-sentence span occurring more than once; this is the
    * unit-granular relational form): split every document into
    * sentence/line units, count each distinct unit's DOCUMENT
    * frequency, drop units appearing in >= `minDocFreq` docs (cookie
    * banners, nav text, legal footers — text that is common because it
    * is TEMPLATE, not content), and rebuild each document from its
    * surviving units in order. Complements the doc-level families:
    * whole-doc dedup keeps one copy of a duplicated page; this removes
    * the duplicated FURNITURE from every page.
    *
    * Units are `sep`-regex splits, trimmed, empties dropped; the
    * rebuild joins with a canonical `". "` — a normalization, not a
    * byte round-trip (the same stance as [[Dedup.pruneSharedSpans]]'
    * token stream). Shape: one explode + a |distinct units|-row df
    * aggregate + one anti-join back — Σdf bounded by corpus tokens,
    * nothing pairwise anywhere; the df relation is the only shuffle
    * beyond the rebuild's per-doc sort.
    */
  def dropBoilerplateUnits(docs: DataFrame, minDocFreq: Long,
      sepRegex: String = "\\.\\s+", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    dropUnitsByDf(docs, unitDocFrequencies(docs, sepRegex, idCol, textCol),
      minDocFreq, sepRegex, idCol, textCol)

  /** Per-document sentence/line units — the shared split the
    * boilerplate/intra-doc families operate on: `sep`-regex splits,
    * trimmed, empties dropped, positions preserved for the rebuild.
    */
  private[graft] def docUnits(docs: DataFrame, sepRegex: String,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "unit")))
      .withColumn("unit", trim(col("unit")))
      .filter(col("unit") =!= "")

  /** `(unit, df)` — each distinct unit's DOCUMENT frequency, the
    * boilerplate signal as its own relation. Exposed because per-batch
    * contributions over DISJOINT doc sets are ADDITIVE (a doc counts a
    * unit at most once, so df(A ∪ B) = df(A) + df(B) exactly) — the
    * mergeable-summary seam [[IncrementalBoilerplate]] folds under
    * continuous ingestion, the same way [[IncrementalProfile]] folds
    * column stats.
    */
  def unitDocFrequencies(docs: DataFrame, sepRegex: String = "\\.\\s+",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docUnits(docs, sepRegex, idCol, textCol)
      .select("id", "unit").distinct()
      .groupBy("unit").agg(count(lit(1)).as("df"))

  /** [[dropBoilerplateUnits]] against a CALLER-SUPPLIED `(unit, df)`
    * relation (from [[unitDocFrequencies]] or the
    * [[IncrementalBoilerplate]] store): drop units whose df >=
    * `minDocFreq`, rebuild each doc from its surviving units in order.
    * `dropBoilerplateUnits(docs, k) ==
    * dropUnitsByDf(docs, unitDocFrequencies(docs), k)` by construction.
    */
  def dropUnitsByDf(docs: DataFrame, unitDf: DataFrame, minDocFreq: Long,
      sepRegex: String = "\\.\\s+", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val units = docUnits(docs, sepRegex, idCol, textCol)
    val boiler = unitDf.filter(col("df") >= minDocFreq).select("unit")
    val kept = units.join(boiler, Seq("unit"), "left_anti")
    val total = units.groupBy("id").agg(count(lit(1)).as("n_units"))
    kept.groupBy("id")
      .agg(concat_ws(". ", transform(
          sort_array(collect_list(struct(col("pos"), col("unit")))),
          e => e.getField("unit"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
      // anchor on the DOCS relation, not the derived unit counts: a doc
      // whose every unit was boilerplate survives with empty text, and
      // so does a doc whose text yields ZERO units (empty or
      // whitespace/separator-only — absent from `total` entirely).
      // "A doc is never dropped, only cleaned" has to mean every doc.
      .join(total, Seq("id"), "right")
      .join(docs.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_units") - coalesce(col("n_kept"), lit(0L)),
          lit(0L)).as("n_dropped"))
  }

  /** INTRA-document unit dedup — [[dropBoilerplateUnits]]' sibling at
    * document scope: within each doc, repeated sentence/line units keep
    * only their FIRST occurrence (scraped pages repeat nav blocks and
    * truncated-loop text; token budgets should not pay for the
    * repeats). Purely per-document — a window keyed by (doc, unit)
    * marks first occurrences, the rebuild is the same ordered join —
    * so it composes with the corpus-wide pass in either order.
    */
  def dedupUnitsWithinDocs(docs: DataFrame,
      sepRegex: String = "\\.\\s+", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val units = docUnits(docs, sepRegex, idCol, textCol)
    val kept = units
      .withColumn("_occ", row_number().over(
        Window.partitionBy("id", "unit").orderBy("pos")))
      .filter(col("_occ") === 1)
    val total = units.groupBy("id").agg(count(lit(1)).as("n_units"))
    kept.groupBy("id")
      .agg(concat_ws(". ", transform(
          sort_array(collect_list(struct(col("pos"), col("unit")))),
          e => e.getField("unit"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
      .join(total, Seq("id"))
      // same docs-relation anchor as dropBoilerplateUnits: a zero-unit
      // doc (empty/whitespace-only text) survives as an empty row
      .join(docs.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_units") - col("n_kept"), lit(0L)).as("n_dropped"))
  }

  /** [[dropBoilerplateUnits]] ∘ [[dedupUnitsWithinDocs]] FUSED into one
    * unit pass — the composition [[CurationPipeline]] runs between its
    * gate and near-dup stages, without materializing the intermediate
    * deboilered corpus: one explode, the corpus-df aggregate, the
    * boiler anti-join, and then BOTH the intra-doc keep-first dedup and
    * the rebuild inside a single per-doc aggregate (`array_distinct`
    * over the pos-sorted unit array keeps exactly the first occurrence
    * of each unit — the same row `row_number() = 1` keeps).
    *
    * Value-identical to the two-pass chain (spec-pinned in
    * CurationPipelineSpec and the c4 oracles): re-splitting the
    * boilerplate-cleaned rebuild on `sepRegex` yields the surviving
    * units in their original order (units contain no separator match,
    * and the canonical `". "` join is exactly one separator), so
    * running the intra-doc keep-first on the surviving units directly
    * is the same computation with the rebuild+re-split cancelled out.
    * Returns only `(idCol, text_clean)` — the c4 chain reads nothing
    * else; the standalone operators keep their audit columns.
    *
    * Cost (r21): the two-pass chain paid 2 explodes, 4 per-doc
    * aggregates, a window, 4 anchor joins and a checkpoint; this pass
    * pays 1 explode, 2 aggregates, 1 broadcast anti-join, 1 anchor
    * join. Same 100 TB shape as the parents: nothing pairwise, Σdf
    * bounded by corpus tokens.
    */
  private[graft] def dropBoilerThenDedupUnits(docs: DataFrame,
      minDocFreq: Long, sepRegex: String = "\\.\\s+",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val units = docUnits(docs, sepRegex, idCol, textCol)
    val boiler = units.select("id", "unit").distinct()
      .groupBy("unit").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq).select("unit")
    // the boiler set is tiny by construction (units common to >=
    // minDocFreq docs) — broadcast, same stance as [[dfCap]]
    val kept = units.join(broadcast(boiler), Seq("unit"), "left_anti")
    kept.groupBy("id")
      .agg(concat_ws(". ", array_distinct(transform(
          sort_array(collect_list(struct(col("pos"), col("unit")))),
          e => e.getField("unit")))).as("text_clean"))
      // docs-relation anchor, as in both parents: a doc whose every unit
      // was boilerplate (or that had no units) survives with empty text
      .join(docs.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components,
    * cluster_id = min id reachable. Pair lists alone can't drive dedup —
    * transitive chains (a~b, b~c) must collapse to one cluster so
    * exactly one representative (the min id) is kept per group.
    *
    * HYBRID execution, the shape production near-dup pipelines use:
    * after thresholding, the edge list is orders of magnitude smaller
    * than the corpus, so when it fits comfortably on the driver
    * (`driverMaxEdges` rows) the components come from a single
    * union-find pass — exact, deterministic, and free of per-round job
    * latency. Past the threshold (web-scale graphs) the DISTRIBUTED
    * min-label fixpoint below takes over: each iteration costs exactly
    * two jobs — one equi-join + min-aggregate that folds the convergence
    * test into the same pass (`_changed` is computed next to the new
    * label, then checkpointed) and a near-free scan of the materialized
    * result — bounded by component diameter (near-dup components are
    * shallow; large/small-star would halve rounds for deep graphs). Set
    * `sparkContext.setCheckpointDir` to make the per-round
    * materialization fault-tolerant (see [[Materialize]]).
    */
  /** The consumable end of the dedup pipeline: drop every document that
    * belongs to a near-dup cluster but is not its representative (the
    * min-id member, matching [[nearDupClusters]]' labeling). One
    * broadcast-able anti-join: the non-representative id list is
    * |dup members| rows — tiny relative to the corpus even at 100 TB
    * (dup rates are percents, and ids travel without payloads).
    * Documents in no cluster are untouched.
    */
  def dropNearDups(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  def nearDupClusters(pairs: DataFrame,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    // materialize the edge list ONCE: it is tiny (the near-dup pair list)
    // but its lineage is the whole shingle/join pipeline, which every
    // fixpoint iteration would otherwise recompute (measured 15s -> 3s
    // at sf0.1)
    // ids normalized to LongType up front so BOTH paths (driver
    // union-find and distributed fixpoint) return the identical schema
    // LAZY checkpoint + count: the sizing count is the materializing
    // job, so the edge list truncates its lineage without paying the
    // eager checkpoint's separate job barrier first (r21 — one driver
    // round-trip saved per caller; the collect/fixpoint below reads
    // cached blocks either way)
    val edges = org.apache.spark.sql.graftbridge.Bridge.severOrigin(
      Materialize.shared(
        pairs.select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))
          .unionByName(pairs.select(col("id_b").cast("long").as("src"),
            col("id_a").cast("long").as("dst")))))
    if (edges.count() <= driverMaxEdges) return unionFindClusters(edges)
    minLabelClusters(edges)._1
  }

  /** The distributed min-label fixpoint over a BOTH-DIRECTIONS edge
    * list: label(u) := min(label(u), min of neighbor labels) until no
    * label changes, `maxRounds` capping the iteration for callers that
    * measure convergence. Returns (labels, rounds run, converged).
    * Rounds scale with component DIAMETER — right for shallow near-dup
    * graphs; see [[nearDupClustersStar]] for deep (path-shaped) ones.
    */
  private[graft] def minLabelClusters(edges: DataFrame,
      maxRounds: Int = Int.MaxValue): (DataFrame, Int, Boolean) = {
    var labels = Materialize.round(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster_id", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("cluster_id").as("nbr"))
        .groupBy("id").agg(min(col("nbr")).as("nbr"))
      // new label AND the convergence flag in one checkpointed pass
      val next = Materialize.round(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster_id"),
              coalesce(col("nbr"), col("cluster_id"))).as("cluster_id"),
            (col("nbr") < col("cluster_id")).as("_changed")))
      // full count, not limit(1): a limit's incremental scan can launch a
      // variable number of jobs when the result is empty (the converged
      // case), and the input here is already-materialized blocks
      changed = next.filter(col("_changed")).count()
      labels = next.drop("_changed")
      rounds += 1
    }
    (labels, rounds, changed == 0)
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14) — the deep-graph variant: rounds scale with log of the
    * component size, not its diameter, so a path-shaped component (a
    * containment CHAIN from passage dedup) converges in a handful of
    * rounds where [[nearDupClusters]]' min-label fixpoint needs
    * diameter-many. Same contract: (id, cluster_id = min id of the
    * component) for every id in the pair list.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(N(u) ∪ u) — long tails fold toward minima.
    *  - small-star(u): every neighbor v < u, and u itself, attaches to m
    *    — stars flatten so every node points at its current minimum.
    *
    * Both are one groupBy + equi-join per pass over an edge list that
    * only shrinks (dedup after each op); convergence = the small-star
    * output reaching a fixpoint (set equality with the previous round,
    * two counts + one exceptAll over checkpointed blocks).
    */
  def nearDupClustersStar(pairs: DataFrame): DataFrame = {
    val edges = Materialize.round(
      pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))).distinct()
    starClusters(edges)._1
  }

  /** [[nearDupClustersStar]] over a normalized directed edge list, with
    * the round counter exposed. Returns (labels, rounds, converged).
    *
    * Measured (r11, sf0.1 per-customer order chains, 135k edges, quiet
    * load): 5 composed rounds to the fixpoint (4 contracting + 1
    * confirming — the protocol cost of exact convergence detection),
    * 5.7 s end-to-end. The Kiveris TWO-PHASE variant (large-star to
    * local fixpoint, then small-star, repeat) was prototyped and
    * measured SLOWER here (17 star ops, 8.8 s, identical labels): its
    * per-phase convergence confirms cost more rounds than the cheaper
    * large-star rounds save on this overhead-bound graph. At cluster
    * scale the trade can flip (large-star rounds shuffle ~40% fewer
    * bytes); revisit with real executor counts before changing.
    */
  private[graft] def starClusters(edges: DataFrame,
      maxRounds: Int = Int.MaxValue): (DataFrame, Int, Boolean) = {
    // INVARIANT: the working edge list is kept NORMALIZED, src > dst.
    // Both star ops preserve it for free (every emitted edge points a
    // node at a strictly smaller one), which halves every join input vs
    // the naive formulation: the textbook version symmetrizes to 2|e|
    // rows, joins, then throws half away with a direction filter AFTER
    // the shuffle. Only the neighborhood-min aggregate still reads both
    // directions (a union feeding one partial-aggregated groupBy — rows
    // collapse map-side, so the exchange is |nodes|-sized either way).
    // m(u) = min(N(u) ∪ {u}) over the normalized edge list
    def mins(e: DataFrame): DataFrame =
      e.select(col("src").as("node"), col("dst").as("nbr"))
        .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
        .groupBy("node").agg(min(col("nbr")).as("_mn"))
        .select(col("node"), least(col("node"), col("_mn")).as("m"))
    // large-star: for each edge (hi=src, lo=dst), hi re-attaches to
    // m(lo). m(lo) ≤ lo < hi, so the output is normalized and can never
    // be a self-loop — no filters at all. No dedup either: the only
    // consumer is smallStar, whose groupBy-min ignores multiplicity and
    // whose own output dedups (saves one full shuffle per round at the
    // price of ≤2x row inflation into the next round's join).
    def largeStar(e: DataFrame): DataFrame =
      e.join(mins(e).withColumnRenamed("node", "dst"), "dst")
        .select(col("src"), col("m").as("dst"))
    // small-star: for each edge (hi=src, lo=dst), lo re-attaches to
    // m(hi) (≤ lo, since lo ∈ N(hi)), plus every node attaches to its
    // own m — stars flatten so every node points at its current minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val m = mins(e)
      e.join(m.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("node").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // one round = small-star ∘ large-star, BOTH materialized: smallStar
    // reads its input twice (the min aggregate and the re-attach join),
    // so an unmaterialized large-star output would be computed twice.
    // The inner checkpoint is LAZY — it materializes as part of the
    // outer round's first job instead of paying its own job barrier.
    def round(e: DataFrame): DataFrame =
      Materialize.round(smallStar(Materialize.shared(largeStar(e))))
    // (row count, XOR of row hashes) in ONE agg job over the checkpointed
    // set. The signature is an exact NEGATIVE convergence filter:
    // different signatures ⇒ different edge sets, so the expensive
    // set-diff only runs in rounds whose signature matches — in practice
    // exactly once, at the true fixpoint. (Chain graphs keep the edge
    // COUNT constant from round one — each non-min node always carries
    // exactly one out-edge — so a count-only short-circuit never fires
    // and the diff would otherwise run every round, ~25% of round cost.)
    // bit_xor, not sum: associative, order-free, and can't overflow
    // under ANSI arithmetic at any scale.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("src"), col("dst")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = round(
      edges.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst")))
    var curSig = sig(cur)
    var rounds = 1
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = round(cur)
      val nextSig = sig(next)
      converged = nextSig == curSig && next.exceptAll(cur).count() == 0
      cur = next
      curSig = nextSig
      if (!converged) rounds += 1
    }
    // the fixpoint is a star set (v, component-min): labels are the
    // sources plus each center mapped to itself
    val labels = cur.select(col("src").as("id"), col("dst").as("cluster_id"))
      .unionByName(cur.select(col("dst").as("id"), col("dst").as("cluster_id"))
        .distinct())
    (labels, rounds, converged)
  }

  /** Driver-side union-find over a collected (already materialized,
    * bounded) edge list; result matches the distributed fixpoint
    * row-for-row (id, cluster_id = min id of the component).
    */
  private def unionFindClusters(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-by-min keeps every root the minimum of its component
    val rows = parent.keysIterator.map(id => (id, find(id))).toSeq.sorted
    spark.createDataFrame(rows).toDF("id", "cluster_id")
  }

  /** Embedding-cosine near-dup pairs, brute force (the correctness
    * baseline; LSH-bucketed scale path in [[SimilaritySearch]]). Cosine is
    * computed in double, sequential element order, so oracle engines agree
    * bitwise.
    */
  def embeddingNearDups(embs: DataFrame, threshold: Double = 0.9,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    // norms once per ROW before the pair join — not once per pair
    val e = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine", SimilaritySearch.cosineFromNorms(
        dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Embedding near-dup, single-table LSH — candidates are pairs sharing
    * one random-hyperplane sign bucket; exact cosine + threshold then
    * filters. The pair join is equi on the bucket id, so expected cost is
    * O(n^2 / 2^bits) — a divided quadratic, NOT linear: the 8-bit
    * default (256 buckets) is sized for corpora around 10^4-10^5
    * vectors, where buckets stay small and recall at the threshold
    * boundary matters more than constant factor. At larger n either
    * raise `bits` toward log2(n / targetBucketSize) (recall at the
    * boundary drops as p^bits, p = 1 - theta/pi) or — the 100 TB
    * configuration — use [[embeddingNearDupsLshBanded]], which keeps
    * long per-table codes for cost AND multiple tables for recall.
    */
  def embeddingNearDupsLsh(embs: DataFrame, threshold: Double = 0.9,
      bits: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val e = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      SimilaritySearch.lshBucket(col(vecCol), bits).as("bucket"))
      .transform(Materialize.shared) // bucket projections compute once, not per side
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine", SimilaritySearch.cosineFromNorms(
        dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Embedding near-dup, banded multi-table LSH — the 100 TB scale path.
    * Each vector gets `tables` independent sign buckets of `bitsPerTable`
    * hyperplanes ([[SimilaritySearch.lshBandBucket]]); a pair is a
    * candidate if it collides in ANY table (AND-within-band /
    * OR-across-bands, same banding as [[minHashLshPairs]]). Exact cosine
    * then filters, so precision is unaffected — the knobs trade only
    * candidate cost against recall: expected join cost is
    * tables * n^2 / 2^bitsPerTable (defaults: n^2/16384, 64x below one
    * 8-bit table) while collision probability for a pair at angle theta
    * is 1 - (1 - p^bitsPerTable)^tables, p = 1 - theta/pi — 1.0 for
    * exact duplicates, ~0.93 at cosine 0.99 with the defaults.
    *
    * Plan shape: candidate ids travel the bucket join ALONE (no
    * vectors), are de-duplicated across tables, then two hash joins
    * re-attach vectors+norms for the exact-cosine pass — the candidate
    * shuffle stays bytes-narrow no matter the embedding width.
    */
  def embeddingNearDupsLshBanded(embs: DataFrame, threshold: Double = 0.9,
      tables: Int = 4, bitsPerTable: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val e = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      // one constant-code-size kernel call for all tables' buckets
      // (bit-identical to the per-plane form — see BandBucketsFloat)
      graft.functions.VectorFunctions.bandBucketsF(col(vecCol),
        tables, bitsPerTable).as("tbl"))
      .transform(Materialize.shared) // hyperplane projections compute once, not per side
    val x = e.select(col("id"), posexplode(col("tbl")).as(Seq("t", "bucket")))
    val pairs = x.as("a").join(x.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct() // a pair colliding in several tables scores once
    pairs
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")),
        Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("id_b"))
      .withColumn("cosine", SimilaritySearch.cosineFromNorms(
        dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
