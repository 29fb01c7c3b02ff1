package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.operators.Materialize

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID,
  * rolling-hash fingerprinting.
  *
  * Everything is built-in-function Column expressions (whole-stage
  * codegen'd, no UDFs) and has a DuckDB-expressible twin in
  * SparkEntry.oracleSql. Cross-engine determinism hinges on two choices:
  *  - counts via regexp (identical RE2/Java semantics for the chosen
  *    patterns);
  *  - hashes via md5 hex -> first 15 hex chars -> bigint (60 bits), which
  *    both engines compute identically ([[TextHash.hash60]]).
  *
  * Scale notes: all per-row, shuffle-free, pushdown-friendly (only `text`
  * is read when only these outputs are selected). Per-row cost is O(len)
  * — at 100 TB these run as a map-only stage.
  */
object TextAnalysis {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
    * symbols — the shape of GPT-2's split regex without the lookaheads
    * RE2 can't run.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Small English stopword set for quality scoring / lang-ID. */
  val StopwordPattern = "\\b(the|a|an|and|of|to|in|is|it|that)\\b"

  /** HTML → text extraction, the C4/WET-lineage curation front door:
    * web-crawl corpora arrive as markup, and every downstream signal
    * (quality, lang-ID, dedup shingles) wants the rendered text. One
    * fused map-only expression chain, deterministic and engine-portable
    * (every regex is RE2-safe — no backreferences, no lookarounds — so
    * a DuckDB oracle replays it):
    *
    *  1. drop `<script>`/`<style>` blocks wholesale (their CONTENT is
    *     code, not text — tag-stripping alone would leak it);
    *  2. drop `<!-- comments -->`;
    *  3. strip remaining tags (`<[^>]+>` — the standard heuristic; an
    *     attribute value containing a literal `>` truncates that tag
    *     early, the documented trade every regex-based extractor makes);
    *  4. decode the common entities, `&amp;` LAST so `&amp;lt;`
    *     correctly yields the literal text `&lt;` rather than `<`;
    *  5. collapse whitespace runs (explicit `[ \t\n\r\f]` class — Java
    *     and RE2 disagree on `\s`'s vertical-tab membership) and trim.
    */
  def htmlToText(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, "[ \t\n\r\f]+", " "))
  }

  /** The fused per-doc counters (ONE native pass — see
    * [[TextStatsKernel]]); the regexp formulation below is the spec twin.
    */
  private def stats(text: Column): Column = TextStatsFunctions.textStats(text)

  /** Adjacent-token pair frequencies across the corpus — the BPE
    * training inner loop (count every adjacent symbol pair; the merge
    * rule picks the most frequent) and the bigram side of collocation
    * mining. posexplode + a per-doc `lead` window stitch each token to
    * its successor; the count aggregate partial-combines map-side, so
    * the exchange carries |distinct pairs|, not |tokens| — at 100 TB
    * the shuffle is vocabulary-sized (Zipf-bounded), and `minCount`
    * (BPE's frequency floor) cuts the hapax tail before the result
    * materializes. Pairs never cross document boundaries.
    */
  /** The hashing-trick vectorizer: each document as a SPARSE
    * `dim`-dimensional bag-of-words — tokens hashed into a fixed bucket
    * space (Vowpal-Wabbit lineage), long format (id, bucket, n). No
    * vocabulary table, no fit step, no OOV problem: the feature space
    * is constant-size however large the corpus, which is exactly what
    * lets a 100 TB vectorization run as one explode + one hash
    * aggregate with nothing corpus-global anywhere. Collisions are the
    * accepted trade (rate ~ vocab/dim per bucket); the cross-engine
    * `hash60` keeps bucket assignment reproducible everywhere.
    */
  def hashedFeatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dim: Int = 256): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("id"), (TextHash.hash60(col("tok")) % dim).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  def adjacentPairCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minCount: Long = 1L): DataFrame =
    // zip each doc's token array against its own 1-shifted slice: the
    // same pair multiset as the old per-doc lead window, with no
    // token-stream shuffle at all (map-only explode into the partial
    // aggregation; the exchange carries |distinct pairs|)
    adjacentPairRows(docs, idCol, textCol)
      .groupBy(col("tok").as("left_tok"), col("next").as("right_tok"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Adjacent-pair rows (tok, next) of each doc's whitespace-token
    * stream — shared by [[adjacentPairCounts]], [[pmiPairs]] and the
    * BPE trainers.
    */
  private def adjacentPairRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    docs.select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("tok"),
        slice(toks, lit(2), size(toks) - 1).as("next"))).as("p"))
      .select(col("p.tok").as("tok"), col("p.next").as("next"))
  }

  /** Pointwise-mutual-information collocations: adjacent token pairs
    * that co-occur far more than their unigram frequencies predict —
    * the multi-word-expression signal behind tokenizer vocab seeding
    * and phrase mining ("new york" is a unit; "of the" is not, despite
    * a far higher raw count).
    *
    * `pmi = ln( (c(l,r)/B) / ((c(l)/U)·(c(r)/U)) )` with B = total
    * adjacent-pair count and U = total token count; `minCount` cuts the
    * hapax tail BEFORE the marginal joins (PMI of a count-1 pair is
    * noise, and the tail is most of the vocabulary — Zipf).
    *
    * Shape: one tokenize pass feeds the unigram aggregate, the bigram
    * aggregate ([[adjacentPairCounts]]' lead-window stitch), and the
    * two scalar totals (collected to the driver as 2 longs and inlined
    * as literals — no 1-row broadcast in the plan, the DSIR recipe);
    * then two vocabulary-sized equi-joins attach the marginals. All
    * counts are exact integers; the score is a fixed ln/arithmetic
    * chain mirrored operation-for-operation in the oracle and
    * floor-truncated at 1e-4.
    */
  def pmiPairs(docs: DataFrame, minCount: Long = 5L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val clean = docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val uni = clean.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val pairs = adjacentPairRows(docs, idCol, textCol)
      .select(col("tok").as("l"), col("next").as("r"))
    // totals: 2 longs to the driver, inlined as literals
    val t = clean.agg(count(lit(1)).as("u"))
      .crossJoin(pairs.agg(count(lit(1)).as("b"))).head()
    val (u, bTot) = (t.getLong(0), t.getLong(1))
    require(bTot > 0, "corpus has no adjacent token pairs")
    pairs.groupBy(col("l"), col("r")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .join(uni.select(col("tok").as("l"), col("c1").as("c1l")), Seq("l"))
      .join(uni.select(col("tok").as("r"), col("c1").as("c1r")), Seq("r"))
      .withColumn("pmi",
        (((log(col("n").cast("double")) - log(lit(bTot).cast("double"))) -
          log(col("c1l").cast("double"))) - log(col("c1r").cast("double"))) +
          lit(2.0) * log(lit(u).cast("double")))
      .select(col("l").as("left_tok"), col("r").as("right_tok"), col("n"),
        col("c1l"), col("c1r"),
        (floor(col("pmi") * 1e4) / 1e4).as("pmi_t"))
  }

  /** The BPE TRAINER loop that [[adjacentPairCounts]] is the inner loop
    * of: `steps` rounds of (count adjacent pairs across the corpus →
    * take THE most frequent pair under the total order (n DESC,
    * left, right) → merge every non-overlapping adjacent occurrence,
    * greedy left-to-right → recount). Returns the learned merge table
    * `(step, left_tok, right_tok, n)` — `steps` rows, the artifact a
    * BPE tokenizer trainer actually emits (reference scope is token
    * statistics only; the trainer is the extension that completes it).
    *
    * Units are whitespace tokens (word-level BPE): a merge of (l, r)
    * rewrites the token pair as the single token `l + " " + r`.
    * Space-joined merged tokens stay unambiguous because the token
    * table is never re-split — a token is atomic whatever characters
    * it contains.
    *
    * Determinism (the oracle contract): counts are exact LONGs, the
    * argmax order is total (count, then bytewise string order), and
    * overlap resolution is exact — a candidate position is a merge
    * START iff it is at an ODD 1-based rank within its island of
    * CONSECUTIVE candidate positions (gaps-and-islands; overlap only
    * occurs for self-pairs l == r, where islands are runs of the
    * repeated token — for l != r every island is a singleton and the
    * rule keeps everything). An unrolled DuckDB CTE chain replays the
    * identical table (same playbook as the k-means / PageRank oracles).
    *
    * Scale: each round is (a) one pair count over zipped array slices
    * (map-only explode + partial aggregation; the exchange carries
    * |distinct pairs|, Zipf-bounded — the [[adjacentPairCounts]]
    * argument — never the token stream), (b) a top-1 via
    * TakeOrderedAndProject (never a global sort) collected to the
    * driver — ONE ROW per round, the bounded-driver pattern of
    * Cluster/SequencePack, (c) a SHUFFLE-FREE rewrite: a row-local
    * `aggregate` fold over each doc's token array ([[bpeFoldMerge]] —
    * the r19 formulation window-shuffled the whole exploded token
    * stream once per round). The token-array table is
    * `localCheckpoint`ed every round so lineage stays O(1) across
    * rounds (the PageRank lesson). Total driver state: `steps` rows.
    */
  /** Tokenize docs to one ARRAY row per doc — (id, toks array<string>).
    * The whole trainer/encoder family works on per-doc token arrays:
    * a merge rewrite is then a row-local fold (no shuffle at all —
    * the r19 formulation window-shuffled the ENTIRE exploded token
    * stream once per pass), and pair counting explodes zipped slices
    * (map-side partial aggregation, the exchange carries |distinct
    * pairs|, never |tokens|). Measured at sf0.1 (r20): the 6-pass
    * trainer 7.2 s → ~1 s; the plan per pass drops from
    * Exchange+Sort+6×WindowExec to a single map stage.
    */
  private def bpeTokArrays(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // fan a small corpus out by id first: a one-split parquet would run
    // the fold (an interpreted HOF) serially for the whole training
    // loop, and the rewrite passes inherit the partitioning through
    // every round (map-only). Size-adaptive: no-op at scale.
    Bridge.severOrigin(Materialize.shared(graft.operators.Dedup.fanOutSmall(
        docs.select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), split(trim(col(textCol)), "\\s+").as("toks"))))

  /** Adjacent-pair rows (tok, next) from the token arrays — zip each
    * array against its own 1-shifted slice and explode. Same pair
    * multiset as the old lead-window stitch (overlaps included:
    * "x x x" yields (x,x) twice), with no token-stream shuffle.
    */
  private def bpeAdjacentPairs(toks: DataFrame): DataFrame =
    toks.select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("tok"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("next"))).as("p"))
      .select(col("p.tok").as("tok"), col("p.next").as("next"))

  /** One greedy left-to-right merge rewrite of a token array for a
    * TOKEN-DISJOINT pair set (a single pair is the 1-entry case): a
    * per-row `aggregate` fold whose accumulator carries the rewritten
    * prefix and the one pending (not-yet-emitted) token. When the
    * pending token and the current one form a selected pair, both are
    * consumed into the merged token `l + " " + r`; greedy LTR is
    * exactly the gaps-and-islands odd-rank rule of the r19 relational
    * formulation (overlap only arises for self-pairs l == r, where the
    * fold keeps odd-rank starts by construction). Disjointness makes
    * the pair lookup a unique left-token map probe: `pairs[pend] == t`.
    */
  private def bpeFoldMerge(toksCol: Column,
      pairs: Seq[(String, String)]): Column = {
    val m = map(pairs.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*)
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(toksCol, init,
      (acc, t) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), t.as("pend")))
          .when(try_element_at(m, pend) <=> t,
            struct(concat(out, array(concat_ws(" ", pend, t))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), t.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(acc.getField("pend")))))
  }

  /** [[bpeFoldMerge]] applied to the (id, toks) relation, checkpointed:
    * each pass's result is read at least twice (next round's pair count
    * + its rewrite, or the next encode group), and the materialized
    * relation is corpus-doc-sized (one array row per doc). LAZY
    * materialization + origin sever: each pass's materialization rides
    * the NEXT consumer's job (pair count / encode output) instead of
    * paying its own job barrier per pass; a trainer's final rewrite is
    * never materialized at all.
    */
  private def bpeApplyMergeArrays(toks: DataFrame,
      pairs: Seq[(String, String)]): DataFrame =
    Bridge.severOrigin(Materialize.shared(
      toks.select(col("id"), bpeFoldMerge(col("toks"), pairs).as("toks"))))

  def bpeMergeSequence(docs: DataFrame, steps: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    val spark = docs.sparkSession
    var toks = bpeTokArrays(docs, idCol, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = bpeAdjacentPairs(toks)
        .groupBy(col("tok"), col("next")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("next"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // corpus of ≤1-token docs
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step.toLong, l, r, n))
        toks = bpeApplyMergeArrays(toks, Seq((l, r)))
        step += 1
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("step", "left_tok", "right_tok", "n")
  }

  /** The ENCODE side of the tokenizer: replay a learned merge table
    * ([[bpeMergeSequence]]'s (step, left_tok, right_tok, ...) layout,
    * applied in step order, each merge greedy left-to-right) against a
    * document set, returning the tokenized stream (id, pos, token).
    * Train once, encode everywhere — the merges collect to the driver
    * (vocabulary-sized, the trainer's own bounded artifact) and each
    * merge is one distributed rewrite pass over the stream.
    *
    * Contract: on the training corpus itself this reproduces EXACTLY
    * the token stream the trainer held after its last round (the
    * `bpe_encode_tokens` oracle replays the unrolled trainer CTEs and
    * hash-compares). On new documents it is the standard single-pass-
    * per-merge greedy encode.
    */
  def bpeEncode(docs: DataFrame, merges: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ms = merges.orderBy("step")
      .select("left_tok", "right_tok").collect()
    var toks = bpeTokArrays(docs, idCol, textCol)
    ms.foreach { m =>
      toks = bpeApplyMergeArrays(toks, Seq((m.getString(0), m.getString(1))))
    }
    bpeStream(toks, idCol)
  }

  /** Final (id, pos, token) materialization of an (id, toks) relation —
    * positions are dense per doc, exactly the renumbered stream the
    * relational formulation maintained.
    */
  private def bpeStream(toks: DataFrame, idCol: String): DataFrame =
    toks.select(col("id").as(idCol),
      posexplode(col("toks")).as(Seq("pos", "token")))

  /** The PRODUCTION-SCALE variant of [[bpeMergeSequence]]: up to
    * `batchSize` merges learned per distributed pass instead of one.
    * A 50k-merge vocabulary at one merge per pass means 50k driver
    * round-trips and 50k corpus rewrites; batching learns the top-m
    * NON-CONFLICTING pairs per pass — m-fold fewer passes at identical
    * per-pass cost, the standard trainer optimization (Rust/HF tokenizer
    * trainers batch the same way).
    *
    * Conflict rule: a pass's selected pairs must have pairwise-DISJOINT
    * token sets (no token is the left or right of two selected pairs).
    * Disjointness makes the one-pass rewrite unambiguous: a position
    * matches at most one pair, and consecutive candidate positions
    * always belong to the SAME pair (pos p matching (a,b) and p+1
    * matching (c,d) would force b = c — excluded), so the
    * gaps-and-islands odd-rank overlap rule of the sequential trainer
    * applies island-by-island unchanged. Selection is greedy in the
    * same total order (n DESC, left, right): scan candidates, keep a
    * pair iff its tokens are unseen in this pass.
    *
    * Equivalence contract (BpeSpec): when the top pairs are mutually
    * conflict-free AND merging one does not change another's count
    * (no shared tokens, no adjacency between their instances), one
    * m-batched pass selects exactly the pairs m sequential rounds
    * select, with the same counts and the same rewritten corpus —
    * 2-pass batched ≡ 2×1-pass sequential on such corpora. On corpora
    * where counts DO interact the batched trainer diverges from
    * sequential (it freezes rank order within a pass: the documented
    * trade every batched BPE trainer makes).
    *
    * Each pass: one pair count; ONE bounded driver collect
    * (`batchSize * 4` candidate rows, the greedy filter's headroom);
    * one rewrite pass — same window + equi-join machinery as the
    * sequential trainer, with the matched pair id resolved per
    * position by a static when-chain over the pass's <= batchSize
    * pairs. Lineage localCheckpoint-bounded per pass as before.
    */
  // (the batched rewrite is [[bpeApplyMergeArrays]] with a multi-entry
  // pair map — disjointness makes the left-token probe unique, and the
  // fold's greedy LTR is the sequential odd-rank rule island by island)

  /** The batched ENCODE side: replay a learned merge table with
    * consecutive merges FUSED into one rewrite pass wherever the
    * sequential semantics provably cannot tell the difference. A group
    * extends through merge i+1 iff its pattern tokens are (a) disjoint
    * from every pattern token already in the group — the trainer's
    * conflict rule, which makes the one-pass rewrite unambiguous — and
    * (b) not the OUTPUT of an earlier group member (a later merge that
    * consumes "a b" must see the instances the earlier merge just
    * created, which only a new pass can show it). Within such a group,
    * applying the merges simultaneously equals applying them one at a
    * time (BpeSpec asserts stream equality against [[bpeEncode]] on
    * real corpora and on adversarial chained-merge cases).
    *
    * Real merge tables are dominated by unrelated adjacent merges, so
    * groups run long: measured on the sf0.1 corpus's 256-merge table,
    * 256 sequential passes fuse into 19 and the full-corpus encode
    * drops 109.8 s → 13.8 s (identical 199,215-token stream). The pass
    * count scales with the CHAIN DEPTH of the vocabulary, not its
    * size — what makes a 50k-merge encode deployable as a distributed
    * job.
    */
  def bpeEncodeBatched(docs: DataFrame, merges: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ms = merges.orderBy("step").select("left_tok", "right_tok")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // split the table into maximal fusable groups (the trainer's
    // conflict rule + no-consuming-an-earlier-output rule)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    var i = 0
    while (i < ms.length) {
      val seen = scala.collection.mutable.Set.empty[String]
      val outputs = scala.collection.mutable.Set.empty[String]
      val group = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var extending = true
      while (i < ms.length && extending) {
        val (l, r) = ms(i)
        if (!seen(l) && !seen(r) && !outputs(l) && !outputs(r)) {
          group += ((l, r)); seen += l; seen += r; outputs += s"$l $r"; i += 1
        } else extending = false
      }
      groups += group.toSeq
    }
    // nested folds apply strictly inner-first per row, so chaining
    // group folds inside one projection preserves the sequential
    // semantics exactly; checkpoint every few groups only to bound
    // codegen size, not for correctness
    var toks = bpeTokArrays(docs, idCol, textCol)
    groups.grouped(4).foreach { chunk =>
      val folded = chunk.foldLeft(col("toks")) { (c, g) => bpeFoldMerge(c, g) }
      toks = Bridge.severOrigin(Materialize.shared(
        toks.select(col("id"), folded.as("toks"))))
    }
    bpeStream(toks, idCol)
  }

  def bpeMergeSequenceBatched(docs: DataFrame, steps: Int,
      batchSize: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = docs.sparkSession
    var toks = bpeTokArrays(docs, idCol, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (merges.length < steps && !exhausted) {
      val m = math.min(batchSize, steps - merges.length)
      // bounded collect: 4x headroom over the batch for conflict skips;
      // rank order is the sequential trainer's total order
      val cand = bpeAdjacentPairs(toks)
        .groupBy(col("tok"), col("next")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("next"))
        .limit(batchSize * 4).collect()
      // greedy disjoint selection in rank order
      val seen = scala.collection.mutable.Set.empty[String]
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      cand.iterator.takeWhile(_ => picked.length < m).foreach { r =>
        val (l, rr, n) = (r.getString(0), r.getString(1), r.getLong(2))
        if (!seen(l) && !seen(rr)) { picked += ((l, rr, n)); seen += l; seen += rr }
      }
      if (picked.isEmpty) exhausted = true
      else {
        picked.foreach { case (l, r, n) =>
          merges += ((merges.length + 1L, l, r, n))
        }
        toks = bpeApplyMergeArrays(toks, picked.map(p => (p._1, p._2)).toSeq)
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("step", "left_tok", "right_tok", "n")
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def withTokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("_ts", stats(col(textCol)))
      .withColumn("ws_tokens", col("_ts.ws_tokens"))
      .withColumn("bpe_tokens", col("_ts.bpe_tokens"))
      .drop("_ts")

  /** Quality scoring: length score, punctuation ratio, stopword ratio and
    * a fixed-weight composite in [0,1]. Heuristics follow the usual
    * pretraining-filter shape (length + stopword presence + low symbol
    * noise); weights are arbitrary but deterministic.
    */
  def withQualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punctRatio = col("_ts.punct") /
      greatest(length(text), lit(1)).cast("double")
    val stopRatio = col("_ts.stop_hits") /
      greatest(col("_ts.ws_tokens"), lit(1)).cast("double")
    df.withColumn("_ts", stats(text))
      .withColumn("len_score", lenScore)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        lit(0.4) * lenScore +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0))))
      .drop("_ts")
  }

  /** Language-ID by function-word / script n-gram hits. Priority on ties:
    * zh (any Han char) > en > de > fr > es. On the synthetic testdata all
    * rows score 'en' — the discriminator is real, the corpus isn't.
    */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val en = col("_ts.en_hits")
    val de = col("_ts.de_hits")
    val fr = col("_ts.fr_hits")
    val es = col("_ts.es_hits")
    val zh = col("_ts.zh_hits")
    df.withColumn("_ts", stats(col(textCol)))
      .withColumn("lang_pred",
        when(zh > 0, "zh")
          .when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr")
          .otherwise("es"))
      .drop("_ts")
  }

  /** Rolling-hash document fingerprint: min over the 60-bit hashes of all
    * k-char shingles (winnowing-lite, k=8), plus the whole-text md5. Equal
    * fingerprints => near-certain containment of a common k-gram window.
    * The min-gram kernel is the native codegen'd [[MinGramHash]] (the HOF
    * transform/array_min chain is interpreted and allocates per row).
    */
  def withFingerprint(df: DataFrame, textCol: String = "text", k: Int = 8): DataFrame =
    df.withColumn("fingerprint", GramFunctions.minGramHash(col(textCol), k))
      .withColumn("md5_fingerprint", md5(col(textCol)))

  /** Full winnowing (Schleimer/Wilkerson/Aiken): hash every k-gram, then
    * keep the minimum of each sliding window of `w` consecutive hashes —
    * the standard local-fingerprint scheme whose selected set is
    * position-robust (any substring match of length >= w+k-1 shares a
    * fingerprint). Returns one row per distinct selected hash:
    * (id, fingerprint).
    *
    * The whole per-document computation runs inside the native codegen'd
    * [[WinnowFingerprints]] expression — a pure map stage (no char
    * explode, no window shuffle, no global distinct: the expression
    * already dedups within the doc and id is in every row).
    *
    * Coverage floor (by design, matching the oracle): a document with
    * fewer than w full k-grams — shorter than k+w-1 (= 11 default) chars
    * — yields NO winnow fingerprints; such docs sit below winnowing's
    * match-guarantee length and are covered by [[withFingerprint]] /
    * exact dedup instead. Pass `coverShort = true` to emit the single
    * partial-window minimum for those docs instead (for pipelines that
    * skip the exact-dedup pass); the oracled contract query keeps the
    * default.
    */
  def winnowFingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 4,
      coverShort: Boolean = false): DataFrame =
    df.select(col(idCol).as("id"),
      explode(GramFunctions.winnowFingerprints(col(textCol), k, w, coverShort))
        .as("fingerprint"))

  /** Every TextStats-derived feature from ONE kernel call: token counts,
    * the quality columns, and `lang_pred` in a single `_ts` projection.
    * The individual helpers each instantiate their own `text_stats`
    * (CollapseProject won't merge projects that would duplicate a
    * non-cheap expression, so chaining them runs the kernel once PER
    * HELPER); composition pipelines — curation — should use this.
    * Column formulas are identical to [[withTokenCounts]] /
    * [[withQualityScore]] / [[withLangId]].
    */
  def withTextFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punctRatio = col("_ts.punct") /
      greatest(length(text), lit(1)).cast("double")
    val stopRatio = col("_ts.stop_hits") /
      greatest(col("_ts.ws_tokens"), lit(1)).cast("double")
    val (en, de, fr, es, zh) = (col("_ts.en_hits"), col("_ts.de_hits"),
      col("_ts.fr_hits"), col("_ts.es_hits"), col("_ts.zh_hits"))
    df.withColumn("_ts", stats(text))
      .withColumn("ws_tokens", col("_ts.ws_tokens"))
      .withColumn("bpe_tokens", col("_ts.bpe_tokens"))
      .withColumn("len_score", lenScore)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        lit(0.4) * lenScore +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0))))
      .withColumn("lang_pred",
        when(zh > 0, "zh")
          .when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr")
          .otherwise("es"))
      .drop("_ts")
  }

  /** Gopher-style repetition signals: `dup_token_frac` (1 − distinct/total
    * tokens) and `top_bigram_frac` (most frequent word bigram / total
    * bigrams) — machine-generated and template text repeats itself long
    * before it duplicates whole documents, so these are the standard
    * quality complement to exact/near dedup. One native map-only pass
    * ([[RepetitionKernel]]); tokens are maximal `\S+` runs.
    */
  def withRepetitionStats(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("_rs", TextStatsFunctions.repetitionStats(col(textCol)))
      .withColumn("n_tokens", col("_rs.total_tokens"))
      .withColumn("dup_token_frac",
        when(col("_rs.total_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("_rs.distinct_tokens") /
            col("_rs.total_tokens").cast("double")))
      .withColumn("top_bigram_frac",
        when(col("_rs.total_bigrams") === 0, lit(0.0))
          .otherwise(col("_rs.top_bigram") /
            col("_rs.total_bigrams").cast("double")))
      .drop("_rs")

  /** Text normalization, the standard front of a dedup/curation chain:
    * lowercase, trim, collapse whitespace runs to single spaces. Applied
    * BEFORE hashing/shingling so case/spacing variants of the same text
    * dedup together. Map-only at any scale.
    */
  def withNormalized(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("norm_text",
        regexp_replace(trim(lower(col(textCol))), "\\s+", " "))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
}
