package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 relevance scoring of a corpus against a fixed term set — the
  * retrieval primitive behind relevance-based corpus curation (keep
  * documents on-topic for a target domain, rank crawl output against a
  * seed query). The reference has no text scoring at all; this extends
  * the text-analysis family ([[graft.functions.TextAnalysis]]).
  *
  * Shape: inverted-index style, all relational —
  * tokenize once → explode → filter to the |terms| query terms (the
  * explode output shrinks to matched tokens immediately) → tf per
  * (doc, term) and df per term as hash aggregates → one broadcast of
  * the |terms|-row df table and of the 1-row corpus stats → per-doc
  * score sum. Cost: one pass over tokens plus hash aggregates keyed by
  * doc — no pairwise anything; 100 TB-safe by construction.
  *
  * Determinism: idf = ln((N - df + 0.5)/(df + 0.5) + 1) (the
  * Robertson-Sparck-Jones formulation with the +1 floor keeping it
  * positive); ln agrees bit-for-bit across engines on these inputs and
  * the per-doc sum spans at most |terms| addends, so a 1e-4 floor
  * truncation is comparison-stable (unlike large-group float sums,
  * SURVEY §7.3).
  */
object Relevance {

  /** CCNet-style unigram language-model scoring — every document's
    * average per-token log-probability under the CORPUS's own unigram
    * distribution: the perplexity-filter quality signal (documents full
    * of corpus-atypical tokens — boilerplate, code soup, mojibake —
    * score low and are the cut candidates; exp(−avg) is the unigram
    * perplexity). Self-scoring needs no smoothing: every scored token
    * has corpus count ≥ 1.
    *
    * Shape: tokenize once → unigram counts (hash aggregate, vocabulary
    * sized) → token⋈frequency equi-join (inverted-index, same plan
    * class as tf·idf next door) + a 1-row total broadcast → per-doc
    * aggregate. Per-token log-probs are deterministic doubles; the
    * per-doc SUM runs as DECIMAL(38,12) so partial-aggregation order
    * cannot drift the float (the [[tfidfCosinePairs]] trick), and the
    * final average is floor-truncated at 1e-4.
    */
  def unigramLogScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("lp",
        log(col("cnt").cast("double") / col("n_total").cast("double")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lp").cast("decimal(38,12)")).as("_slp"))
      .select(col("id"), col("n_toks"),
        (floor(col("_slp").cast("double") / col("n_toks") * 1e4) / 1e4)
          .as("avg_logprob_t"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * n-grams occurring in no other document — the diversity/boilerplate
    * signal orthogonal to quality and perplexity (a grammatical,
    * in-distribution doc can still be 95% template; its novelty is what
    * exposes that). High novelty = fresh content worth its tokens; low
    * novelty = templated/syndicated text a diversity-weighted curation
    * pass down-samples.
    *
    * Shape: the distinct-per-doc shingle relation → ONE shingle-keyed
    * hash aggregate carrying `(df, min(id))` → per-doc re-aggregate.
    * A df==1 shingle occurs in exactly one document, so `min(id)` IS
    * its owning doc — the full-relation join back to the df table
    * (which re-shuffled every (id, shingle) row a second time) carries
    * no information the aggregate didn't already have. Per-doc totals
    * are a separate tiny partial-aggregated pass over the shared
    * relation; everything after the shingle aggregate is
    * vocabulary-sized or doc-count-sized.
    */
  def noveltyScores(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Option[Long] = None): DataFrame = {
    val sh = Dedup.noveltyRows(docs, n, idCol, textCol, maxDocFreq)
    val novel = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("id")).as("id"))
      .filter(col("df") === 1L)
      .groupBy(col("id")).agg(count(lit(1)).as("novel_shingles"))
    sh.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("id"), "left")
      .withColumn("novel_shingles", coalesce(col("novel_shingles"), lit(0L)))
      .withColumn("novelty",
        col("novel_shingles") / col("n_shingles").cast("double"))
  }

  /** PER-LABEL unigram models in one relation `(label, tok, logp,
    * oov_logp)` — the multi-class face of [[unigramModel]] and the
    * training half of [[classifyWithModels]]: a naive-Bayes-unigram
    * text classifier (the fastText-baseline shape — language ID, domain
    * tagging, quality-tier routing) trained with one pass over the
    * labeled corpus. Per-label Laplace smoothing,
    * `logp = ln((c+1)/(N_l+V_l))`; the per-label totals ride a
    * |labels|-row broadcast join instead of driver literals (the
    * single-model version inlines two scalars; with many labels the
    * tiny stats relation IS the natural form). Persist as parquet,
    * classify any batch forever.
    */
  def unigramModels(train: DataFrame, labelCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val toks = train.select(col(labelCol).as("label"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("label", "tok").agg(count(lit(1)).as("cnt"))
      .transform(Materialize.shared) // read twice: per-label stats + projection
    val stats = counts.groupBy("label")
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    counts.join(broadcast(stats), "label")
      .select(col("label"), col("tok"),
        log((col("cnt") + 1L).cast("double") /
          (col("n") + col("v")).cast("double")).as("logp"),
        log(lit(1.0) / (col("n") + col("v")).cast("double")).as("oov_logp"))
  }

  /** Classify documents under [[unigramModels]]: score every doc under
    * EVERY label's model (OOV tokens at that label's smoothed floor),
    * argmax by average token log-probability, ties to the first label.
    * The label fan-out is a |labels|-row broadcast (whitelisted — it is
    * the classifier's k, not data); scoring joins the vocabulary-sized
    * model relation on (label, tok); per-doc sums are DECIMAL
    * (parallelism-reproducible). Docs with no tokens are unclassifiable
    * and excluded. Returns (id, predicted, avg_logprob_m).
    */
  def classifyWithModels(docs: DataFrame, models: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val labels = models.select("label", "oov_logp").distinct()
      .transform(Materialize.shared)
    require(!labels.isEmpty,
      "classifyWithModels: model relation has no labels " +
        "(was unigramModels trained on an empty corpus?)")
    val toks = docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val scored = toks.crossJoin(broadcast(labels))
      .join(models.select(col("label"), col("tok"), col("logp")),
        Seq("label", "tok"), "left")
      .withColumn("lp", coalesce(col("logp"), col("oov_logp")))
      .groupBy("id", "label")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lp").cast("decimal(38,12)")).as("_s"))
      .withColumn("avg", col("_s").cast("double") / col("n_toks"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy(col("avg").desc, col("label"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("id"), col("label").as("predicted"),
        (floor(col("avg") * 1e4) / 1e4).as("avg_logprob_m"))
  }

  /** The TRAINED unigram model as DATA — the train-once/score-everywhere
    * split [[unigramLogScores]] (self-scoring) doesn't have: CCNet's
    * actual setup scores CANDIDATE text under a model trained on a
    * REFERENCE corpus (Wikipedia there), so high-perplexity-under-
    * reference junk filters out even when it is self-consistent.
    * Returns the `(tok, logp)` vocabulary table with add-one (Laplace)
    * smoothing, `logp = ln((c+1)/(N+V))` — persist it as parquet, score
    * any batch forever (the [[Cluster.kmeansCentroids]]/`assignTo`
    * pattern for language models). N and V ride as driver literals:
    * two scalar aggregates at train time, zero 1-row crossJoins at
    * score time.
    */
  def unigramModel(train: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = train.select(
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    // N and V both derive from the VOCABULARY-sized counts relation
    // (N = Σcnt, V = |rows|), so only counts is materialized — never
    // the corpus-sized token stream (materializing `toks` would
    // cache every token of a 100 TB training corpus for two scalars)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .transform(Materialize.shared) // read twice: stats + the model projection
    val r = counts.agg(sum(col("cnt")), count(lit(1))).head()
    require(!r.isNullAt(0),
      "unigramModel: training corpus has no tokens (empty or all-blank text)")
    val n = r.getLong(0)
    val v = r.getLong(1)
    counts.select(col("tok"),
      log((col("cnt") + lit(1L)).cast("double") /
        lit((n + v).toDouble)).as("logp"),
      lit(math.log(1.0 / (n + v))).as("oov_logp"))
  }

  /** Score documents under a TRAINED [[unigramModel]]: per-doc average
    * token log-probability with out-of-vocabulary tokens at the
    * smoothed floor `ln(1/(N+V))` (carried inside the model table, so
    * scoring needs no train-time scalars). The join is token-equi
    * against the vocabulary-sized model — never a broadcast of
    * something that grows with the training corpus's vocabulary, same
    * stance as the tf·idf df join. DECIMAL per-doc sum, 1e-4 floor —
    * the family recipe.
    */
  def scoreWithUnigramModel(docs: DataFrame, model: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val oovRow = model.select(max(col("oov_logp")).as("_oov")).head()
    require(!oovRow.isNullAt(0),
      "scoreWithUnigramModel: model has no rows (was it trained on an empty corpus?)")
    val oov = oovRow.getDouble(0)
    toks.join(model.select(col("tok"), col("logp")), Seq("tok"), "left")
      .withColumn("lp", coalesce(col("logp"), lit(oov)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lp").cast("decimal(38,12)")).as("_slp"),
        sum(when(col("logp").isNull, 1L).otherwise(0L)).as("oov_toks"))
      .select(col("id"), col("n_toks"), col("oov_toks"),
        (floor(col("_slp").cast("double") / col("n_toks") * 1e4) / 1e4)
          .as("avg_logprob_m"))
  }

  /** Bigram language-model scoring with Jelinek-Mercer interpolation —
    * the standard step up from [[unigramLogScores]]'s CCNet signal:
    * every document's average log-probability over its token
    * TRANSITIONS, `avg over positions i≥1 of
    * ln(λ·c(tᵢ₋₁,tᵢ)/c(tᵢ₋₁) + (1−λ)·c(tᵢ)/N)`. Word salad with
    * corpus-common TOKENS but corpus-atypical TRANSITIONS — shuffled
    * text, keyword stuffing, template glitches — scores low here while
    * passing the unigram filter; that's the perplexity-filter signal
    * the bigram model adds. INTERPOLATION (not pure backoff): in
    * self-scoring every bigram has corpus count ≥ 1, so a
    * seen-bigram-else-backoff rule would never back off; the unigram
    * term must be mixed in unconditionally to matter.
    *
    * Determinism: λ defaults to 0.75 — an exact binary fraction, as is
    * 1−λ — so both product terms, their sum, each division, and ln are
    * single IEEE-correctly-rounded steps with an explicitly
    * parenthesized order mirrored in the oracle SQL; the per-doc sum
    * runs as DECIMAL(38,12) (associative) and the average is
    * floor-truncated at 1e-4, the [[unigramLogScores]] recipe exactly.
    * Denominator convention: c(tᵢ₋₁) is the token's corpus unigram
    * count (not the context-sum variant that differs at doc tails).
    *
    * Shape: tokenize once → per-doc `lead` stitches transitions →
    * bigram and unigram counts as hash aggregates (vocabulary-sized,
    * Zipf-bounded exchanges) → three equi-joins back to positions + a
    * 1-row total broadcast → per-doc aggregate. Same inverted-index
    * plan class as the rest of the family; nothing pairwise, nothing
    * corpus-global beyond the 1-row total. Docs with <2 tokens have no
    * transitions and are omitted (the callers' quality-filter join is
    * a left join anyway).
    */
  def bigramLogScores(docs: DataFrame, lambda: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val ta = split(trim(col(textCol)), "\\s+")
    // '' only appears as the sole token of an all-whitespace doc (split
    // of a trimmed string), so excluding it from the unigram model
    // cannot create position gaps in any doc that has transitions
    val clean = docs.select(col(idCol).as("id"), explode(ta).as("tok"))
      .filter(col("tok") =!= "")
    val uni = clean.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val total = clean.agg(count(lit(1)).as("n_total"))
    // adjacent pairs by zipping each doc's token array against its own
    // 1-shifted slice — the same (id, l, r) multiset the per-doc lead
    // window produced, with no token-stream exchange (r20)
    val bg = docs.select(col(idCol).as("id"), explode(arrays_zip(
        slice(ta, lit(1), size(ta) - 1).as("l"),
        slice(ta, lit(2), size(ta) - 1).as("r"))).as("p"))
      .select(col("id"), col("p.l").as("l"), col("p.r").as("r"))
    val bi = bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c2"))
    bg.join(bi, Seq("l", "r"))
      .join(uni.select(col("tok").as("l"), col("c1").as("c1l")), Seq("l"))
      .join(uni.select(col("tok").as("r"), col("c1").as("c1r")), Seq("r"))
      .crossJoin(broadcast(total))
      .withColumn("lp", log(
        lit(lambda) * (col("c2").cast("double") / col("c1l").cast("double")) +
          lit(1.0 - lambda) *
            (col("c1r").cast("double") / col("n_total").cast("double"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast("decimal(38,12)")).as("_slp"))
      .select(col("id"), col("n_bigrams"),
        (floor(col("_slp").cast("double") / col("n_bigrams") * 1e4) / 1e4)
          .as("avg_logprob_b"))
  }

  /** Scores = sum over matched terms of
    * `idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`.
    * Documents matching NO query term are omitted (their score is 0);
    * null texts are dropped. Tokenization: lowercase, whitespace split
    * (mirrors the token-counting convention).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = toks.select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // tf rows are unique per (id, term), so df = row count per term
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") /
              (col("sum_dl") / col("n_docs")))))
      .groupBy(col("id").as(idCol))
      .agg(sum(col("contrib")).as("score"),
        count(lit(1)).cast("long").as("matched_terms"))
      .select(col(idCol), col("score"), col("matched_terms"))
  }

  /** Multi-query BM25 retrieval: top-`k` documents per query — the
    * batch search primitive (seed-query corpus ranking, eval-set
    * retrieval, RAG index smoke tests) that [[bm25]]'s single fixed
    * term set cannot express. Term-at-a-time over an inverted index:
    * NO query×doc cross join anywhere; a query only ever meets the
    * documents that share a term with it.
    *
    * Shape: tokenize queries → (query_id, term) rows, distinct per
    * query; restrict the corpus token stream to the queries' term
    * vocabulary with an equi-join (the vocabulary relation is
    * |queries|·|terms| rows — AQE broadcasts it when small, shuffles
    * when a million queries arrive; both are right); tf/df/idf exactly
    * as [[bm25]]; one equi-join on `term` fans contributions out to
    * (query_id, doc) and a hash aggregate sums them. Top-k is a
    * per-query `row_number` — Spark's WindowGroupLimit pushes the k
    * cut below the sort, so only ~k rows per query survive the
    * exchange.
    *
    * Determinism: every per-(doc,term) contribution is the same
    * correctly-rounded IEEE expression chain as [[bm25]] (tf/df/N/dl
    * all integer-valued doubles; integer-valued double sums are exact
    * and order-free); the per-(query,doc) SUM runs as DECIMAL(38,12)
    * so partial-aggregation order cannot drift the value the rank
    * sorts on, and ties break by doc_id. The reported score is
    * floor-truncated at 1e-4.
    */
  def bm25SearchTopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text", queryIdCol: String = "query_id",
      queryTextCol: String = "qtext"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val qterms = queries.select(col(queryIdCol).as("qid"),
        explode(split(trim(lower(col(queryTextCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "").distinct()
    val vocab = qterms.select("term").distinct()
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = toks.select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .join(vocab, "term")
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val contrib = tf.join(df, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") /
              (col("sum_dl") / col("n_docs")))))
    qterms.join(contrib, "term")
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("contrib").cast("decimal(38,12)")).as("_s"),
        count(lit(1)).as("matched_terms"))
      .withColumn("rank", row_number().over(Window.partitionBy("qid")
        .orderBy(col("_s").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("rank").cast("long").as("rank"),
        col("id").as(idCol), col("matched_terms"),
        (floor(col("_s").cast("double") * 1e4) / 1e4).as("score_t"))
  }

  /** Sparse TF-IDF document vectors in long format `(id, term, w)` with
    * `w = tf * (ln(N/df) + 1)` (smooth idf, always positive). The long
    * format IS the sparse representation — a term row exists only where
    * tf > 0 — and feeds both ranking ([[topTfidfTerms]]) and the sparse
    * similarity join ([[tfidfCosinePairs]]).
    *
    * Unlike [[bm25]]'s query-bounded df table, the full-vocabulary df
    * relation here grows with the corpus, so the tf–df join is a plain
    * equi-join on `term` (shuffle both sides; AQE may still broadcast a
    * small vocabulary) — broadcasting the vocabulary would be the 100 TB
    * mistake. `maxDocFreq` drops terms appearing in more than `cap`
    * documents BEFORE any downstream join — the same hot-key skew guard
    * as `Dedup.shingles`: ubiquitous terms carry ~zero idf signal but
    * quadratic join cost.
    */
  def tfidfTerms(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDocFreq: Option[Long] = None): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
    val n = toks.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = toks.select(col("id"), explode(col("toks")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val kept = maxDocFreq.map(c => df.filter(col("df") <= c)).getOrElse(df)
    tf.join(kept, "term")
      .crossJoin(broadcast(n)) // 1-row corpus size
      .select(col("id"), col("term"),
        (col("tf") * (log(col("n_docs") / col("df")) + lit(1.0))).as("w"))
  }

  /** Top-`m` TF-IDF terms per document — the per-doc keyword summary
    * (rank by weight desc, term asc; WindowGroupLimit keeps only ~m rows
    * per doc through the sort).
    */
  def topTfidfTerms(docs: DataFrame, m: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tfidfTerms(docs, idCol, textCol)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("w").desc, col("term"))))
      .filter(col("rank") <= m)
      .select(col("id"), col("term"), col("rank"), col("w"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every RAW-pool
    * document by how target-like its hashed bag-of-words is, as the
    * log-ratio of two bucket unigram models —
    * `log w(x) = Σ_tokens [ ln p_target(bucket(tok)) − ln p_raw(bucket(tok)) ]`
    * with Laplace-smoothed bucket probabilities
    * `p(b) = (c(b)+1)/(N+B)` over a fixed `B`-bucket hashed feature
    * space ([[graft.functions.TextAnalysis.hashedFeatures]]'s hashing
    * trick — no vocabulary table, constant-size models at any corpus
    * size). High scores = documents whose token distribution resembles
    * the target slice; selection takes the top-n ([[dsirSelect]]),
    * which is the deterministic limit of the paper's Gumbel-top-k
    * resampling as temperature → 0.
    *
    * `isTarget` is a boolean Column over `docs`' columns splitting the
    * corpus into the TARGET sample (defines the desired distribution)
    * and the RAW pool (gets scored); only raw docs are returned.
    *
    * Shape: one tokenize pass feeds both models (a conditional-sum
    * groupBy on the bucket — B rows out, partial-agged map-side); the
    * two corpus totals collect to the driver (2 longs, the bounded
    * k-means-style collect) and inline as literals, so the plan has NO
    * 1-row broadcast; scoring is one broadcast equi-join of the B-row
    * model table onto the token relation + a per-doc aggregate. Per-doc
    * sums run as DECIMAL(38,12) (associative — float sums over
    * unbounded groups are not truncation-stable), final weight
    * floor-truncated at 1e-4. Everything per-token is two
    * correctly-rounded IEEE ops (divide, ln) mirrored in the oracle.
    */
  def dsirLogWeights(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, idCol: String = "doc_id",
      textCol: String = "text", bigrams: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = dsirToks(docs, isTarget, buckets, idCol, textCol, bigrams)
    // the B-row model is read twice (totals head + the broadcast scoring
    // join); lazily materialized so the tokenize+hash pass under it runs
    // once, not once per read (r20 — the pass ran 3x: totals, broadcast
    // build, scoring side)
    val model = toks.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))
      .transform(Materialize.shared)
    // totals to the driver: 2 longs, bounded — inlined as literals so
    // no 1-row broadcast join appears in the plan
    val t = model.agg(sum(col("ct")), sum(col("cr"))).head()
    require(!t.isNullAt(0) && t.getLong(0) > 0, "empty target sample")
    require(!t.isNullAt(1) && t.getLong(1) > 0, "empty raw pool")
    val dt = (t.getLong(0) + buckets).toDouble
    val dr = (t.getLong(1) + buckets).toDouble
    toks.filter(!col("tgt"))
      .join(broadcast(model), Seq("bucket"))
      .withColumn("lp",
        log((col("ct") + lit(1L)).cast("double") / lit(dt)) -
          log((col("cr") + lit(1L)).cast("double") / lit(dr)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lp").cast("decimal(38,12)")).as("_s"))
      .select(col("id"), col("n_toks"),
        (floor(col("_s").cast("double") * 1e4) / 1e4).as("log_weight"))
  }

  /** The hashed (id, tgt, bucket) gram relation both DSIR models and
    * the scoring join consume. With `bigrams = true`, the feature set
    * is the paper's full hashed n-gram space: unigrams plus
    * adjacent-token pairs, the pairs built by zipping the token array
    * with its own tail (map-only — no per-doc window shuffle; the
    * trailing null pair is filtered).
    */
  private def dsirToks(docs: DataFrame,
      isTarget: org.apache.spark.sql.Column, buckets: Int,
      idCol: String, textCol: String, bigrams: Boolean): DataFrame = {
    val gramRows =
      if (!bigrams)
        docs.select(col(idCol).as("id"), isTarget.as("tgt"),
          explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      else {
        val t = split(trim(col(textCol)), "\\s+")
        val bi = filter(
          zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b)),
          x => x.isNotNull)
        docs.select(col(idCol).as("id"), isTarget.as("tgt"),
          explode(concat(t, bi)).as("tok"))
      }
    gramRows.filter(col("tok") =!= "")
      .select(col("id"), col("tgt"),
        (graft.functions.TextHash.hash60(col("tok")) % buckets).as("bucket"))
  }

  /** The DSIR model relation itself — `(bucket, ct, cr)`, the
    * target/raw token counts per hashed bucket [[dsirLogWeights]]
    * broadcasts into its scoring join. At most `buckets` rows at ANY
    * corpus size (the hashing trick's whole point): persist it once,
    * score every later ingest batch against it without re-reading the
    * corpus — and ScaleBench records its row count at 10x/100x as the
    * measured form of the fixed-size-model broadcast claim.
    */
  def dsirModel(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, idCol: String = "doc_id",
      textCol: String = "text", bigrams: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    dsirToks(docs, isTarget, buckets, idCol, textCol, bigrams)
      .groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))
  }

  /** The selection end of DSIR: the `n` most target-like raw docs by
    * `(log_weight DESC, id)` — a total order on the FLOORED weight, so
    * the cut is reproducible cross-engine even with ties at the
    * boundary. Plans as TakeOrderedAndProject (per-partition top-n,
    * then an n-row driver merge — no global sort, no partitionless
    * window).
    */
  def dsirSelect(weights: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    weights.orderBy(col("log_weight").desc, col("id")).limit(n)
      .select(col("id"), col("log_weight"))
  }

  /** The paper's actual selection rule — GUMBEL-TOP-K IMPORTANCE
    * RESAMPLING: add independent Gumbel(0,1) noise to each document's
    * log-weight and take the top k, which draws k docs WITHOUT
    * replacement with probability ∝ exp(log_weight) — the
    * distribution-matching estimator DSIR's guarantee is proved for.
    * [[dsirSelect]]'s plain top-k is its temperature→0 limit and
    * concentrates on the single highest-ratio template; resampling
    * covers the target distribution's breadth.
    *
    * The noise is DETERMINISTIC — `g = −ln(−ln(u))` with `u` drawn from
    * the id's content hash (the library's no-rand() sampling
    * discipline, same construction as
    * [[Mixture.weightedSampleK]]) — so the draw is reproducible across
    * runs, engines, and cluster sizes, and oracle-replayable. Selection
    * orders on the raw key; the returned `key` column is
    * floor-truncated at 1e-4 for cross-engine output equality. Plans as
    * TakeOrderedAndProject, like [[dsirSelect]].
    */
  def dsirResample(weights: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (graft.functions.TextHash.hash60(col("id").cast("string")) + 1L)
      .cast("double") / lit(1152921504606846976.0) // 2^60, in (0, 1]
    weights.withColumn("_g_key", col("log_weight") + -log(-log(u)))
      .orderBy(col("_g_key").desc, col("id"))
      .limit(k)
      .select(col("id"), col("log_weight"),
        (floor(col("_g_key") * 1e4) / 1e4).as("key"))
  }

  /** Sparse cosine-similar pairs via the inverted index: documents
    * sharing at least one (df-capped) term are joined ON THE TERM — the
    * only join key — so candidate cost is sum over terms of df², capped
    * by `maxDocFreq`, never corpus². Per-pair dot products and per-doc
    * norms are summed as DECIMAL so partial-aggregation order cannot
    * drift the low bits (float sums over unbounded groups are not
    * truncation-stable, SURVEY §7.3).
    *
    * This is the lexical third of the near-dup family: exact-hash
    * (dedup_exact) < tfidf cosine < n-gram Jaccard in strictness —
    * TF-IDF weighting finds topical/templated duplication that shingle
    * Jaccard under-scores when the shared text is re-ordered.
    */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double,
      maxDocFreq: Option[Long] = Some(100), idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Materialize.shared(
      tfidfTerms(docs, idCol, textCol, maxDocFreq))
    val nrm = w.groupBy(col("id"))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(38,12)"))
        .cast("double")).as("nrm"))
    val dots = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(38,12)"))
        .cast("double").as("dot"))
    dots.join(nrm.as("na"), col("id_a") === col("na.id"))
      .join(nrm.as("nb"), col("id_b") === col("nb.id"))
      .select(col("id_a"), col("id_b"),
        (col("dot") / (col("na.nrm") * col("nb.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
