package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>), extension surface for the training-data pipeline.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k per query — one broadcast of
  *    the (small) query set against the full corpus, ranked per query.
  *    Correctness baseline and the right plan whenever |queries| is small:
  *    a single map-side pass over the corpus, no shuffle of the corpus
  *    itself, topK via per-query window (rank <= k).
  *  - [[lshTopK]]: random-hyperplane LSH — each vector gets a b-bit sign
  *    bucket; candidates are bucket-mates only, so the join is equi on the
  *    bucket id and the per-bucket work is |bucket|^2 << n^2. The
  *    hyperplanes are a fixed Rademacher (+-1) matrix generated from a
  *    seeded LCG — deterministic constants, so a DuckDB oracle recomputes
  *    the same buckets bit-for-bit.
  *
  * Cosine is computed in double with strictly sequential element order
  * (fold), making Spark and DuckDB results bit-identical.
  */
object SimilaritySearch {

  /** Embedding dimensionality of the testdata corpus. */
  val Dim = 64

  /** Cosine similarity of two array<float> columns, double precision,
    * sequential fold order (oracle-stable). Backed by the codegen'd
    * [[graft.functions.DotProductFloat]] — the HOF
    * `aggregate(zip_with(...))` formulation is interpreted and was ~90%
    * of all-pairs query time at sf0.1.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.functions.VectorFunctions.dotF _
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Pair cosine from a precomputed dot and per-side norms — use on join
    * paths so each row's norm is computed once, not once per pair.
    * sqrt(dot(a,a))*sqrt(dot(b,b)) is kept as-is (not fused to
    * sqrt(na*nb)) so the bits match [[cosine]] and the oracle.
    */
  def cosineFromNorms(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  /** The fixed Rademacher hyperplane matrix: `bits` rows of `Dim` values
    * in {-1,+1}, from a seeded 64-bit LCG (MMIX constants). Deterministic
    * across engines/runs; embedded as literals in oracle SQL.
    */
  def hyperplanes(bits: Int): Array[Array[Int]] = {
    var state = 0x5DEECE66DL
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state
    }
    Array.fill(bits)(Array.fill(Dim)(if ((next() >>> 32 & 1) == 1L) 1 else -1))
  }

  /** Sign-bucket id: bit j set iff dot(v, hyperplane_j) > 0. Uses the
    * codegen'd dot product with the plane as a float-array literal.
    *
    * Bucket math: `bits` hyperplanes split the corpus into at most
    * 2^bits buckets, so a bucket-equi self/probe join costs
    * O(n^2 / 2^bits) expected pair evaluations on uniform data — at 8
    * bits that is n^2/256, which is NOT linear in n; it merely divides
    * the quadratic constant. Size `bits` to the corpus: for target
    * bucket occupancy c, bits ~ log2(n/c) (e.g. 10^9 vectors, c=64 →
    * 24 bits). One long code then misses near-boundary pairs — recover
    * recall with [[lshTopK]]'s multiprobe (flips one plane per probe)
    * or the banded multi-table shape ([[lshBandBucket]]).
    */
  def lshBucket(v: Column, bits: Int): Column = {
    val planes = hyperplanes(bits)
    (0 until bits).map { j =>
      val proj = graft.functions.VectorFunctions.dotF(v, lit(planes(j).map(_.toFloat)))
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Table `table`'s sign bucket over hyperplanes
    * [table*bitsPerTable, (table+1)*bitsPerTable) of the same fixed
    * matrix — the banded multi-table LSH shape (AND within a band, OR
    * across bands, exactly like the MinHash banding in
    * [[graft.operators.Dedup.minHashLshPairs]]). A pair at angle theta
    * collides in one table with p^b (p = 1 - theta/pi) and in any of T
    * tables with 1-(1-p^b)^T: at b=16, T=4 that is 1.0 for exact
    * duplicates, ~0.93 at cosine 0.99, while the candidate join runs at
    * T * n^2 / 2^b expected pairs (n^2/16384 — 64x fewer than one 8-bit
    * table). Long codes for precision, many tables for recall.
    */
  def lshBandBucket(v: Column, table: Int, bitsPerTable: Int): Column = {
    val planes = hyperplanes((table + 1) * bitsPerTable)
    (0 until bitsPerTable).map { j =>
      val proj = graft.functions.VectorFunctions.dotF(v,
        lit(planes(table * bitsPerTable + j).map(_.toFloat)))
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Band width SIZED TO THE CORPUS — the scale rule the fixed default
    * cannot honor (SCALEUP r15: `ann_lsh_banded_topk` and
    * `ann_incremental_topk` ran 4.65×/4.96× at 10× data because expected
    * candidates per query per table, n/2^b, grows with n when b is
    * pinned). Holding the expected band-bucket OCCUPANCY constant
    * requires b = log2(n / occupancy): candidate volume per query then
    * stays ~T·occupancy whatever the corpus, and total banded-join work
    * grows linearly with n instead of quadratically.
    *
    * The default occupancy 0.5 meets the long-standing b=16 default at
    * n = 32k (log2(32000/0.5) = 16.0) — the bench corpus itself is only
    * 2k vectors, where b=16 sits at occupancy 0.03: over-provisioned
    * precision the rule trades back for recall at small n, and the
    * same rule that keeps candidates bounded at large n. Recall
    * at a GIVEN cosine falls as p^b with growing b — compensate with
    * multiProbe (hamming-1 probes recover near-boundary pairs at
    * (b+1)× probe rows, nothing against the corpus side) and/or more
    * tables; ScaleBench measures planted recall alongside cost at each
    * scale so the trade stays visible. Clamped to [minBits, maxBits]
    * (bucket ids are summed bit flags in one long; 48 bits ≈ 2.8e14
    * buckets covers any practical corpus).
    */
  def autoBandBits(corpusSize: Long, targetOccupancy: Double = 0.5,
      minBits: Int = 8, maxBits: Int = 48): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0, got $corpusSize")
    require(targetOccupancy > 0.0 && minBits >= 1 && maxBits >= minBits)
    val ratio = math.max(1.0, corpusSize.toDouble / targetOccupancy)
    val bits = math.ceil(math.log(ratio) / math.log(2.0) - 1e-9).toInt
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Table count holding ANY-TABLE collision (recall at the operating
    * point) constant as [[autoBandBits]] lengthens codes: per-table
    * collision for a pair with per-plane agreement p is p^b (exact) or
    * p^b + b(1−p)p^(b−1) (with hamming-1 multiprobe); T tables give
    * 1−(1−per)^T ≥ target. Longer codes for occupancy, more tables for
    * recall — the OR-side of the banding trade, grown with log(n) so
    * per-query candidate work stays ~T·occupancy while recall holds.
    * Default p = 0.894 is the planted-neighbor operating point (cosine
    * 0.945, p = 1 − θ/π); the default target 0.9 reproduces the
    * long-standing T=4 at b=16.
    */
  def autoBandTables(bitsPerTable: Int, targetRecall: Double = 0.9,
      planeAgreement: Double = 0.894, multiProbe: Boolean = true): Int = {
    require(bitsPerTable >= 1 && targetRecall > 0.0 && targetRecall < 1.0)
    require(planeAgreement > 0.0 && planeAgreement < 1.0)
    val b = bitsPerTable
    val pb = math.pow(planeAgreement, b)
    val per0 = if (multiProbe)
      pb + b * (1 - planeAgreement) * math.pow(planeAgreement, b - 1)
    else pb
    val per = math.min(0.999999, math.max(1e-9, per0))
    math.max(1, math.ceil(
      math.log(1 - targetRecall) / math.log(1 - per) - 1e-9).toInt)
  }

  /** Deterministic planted-neighbor query set — the recall instrument
    * for an ISOTROPIC corpus. Measured on the testdata embeddings
    * (sf0.1, 2000 x 64): pairwise cosine mean 0.000, std 0.125 = 1/sqrt(64)
    * (the i.i.d.-Gaussian signature), same-label vs diff-label cosine
    * identical, true top-10 neighbors share the query's label at exactly
    * chance (0.108 vs 1/10), flat PCA spectrum. On such a corpus the
    * "true nearest neighbors" are 3-4 sigma noise fluctuations (cosine
    * ~0.35-0.45) that no sublinear index can bucket reliably — organic
    * recall@10 is bounded near the candidate fraction, and a recall
    * target like 0.5 at 10% candidates is information-theoretically out
    * of reach. (`ann_corpus_isotropy` is the oracle-checked demonstration.)
    *
    * The planted metric instead measures what a production index is FOR:
    * every `every`-th corpus vector is re-emitted as a query, perturbed
    * with seeded per-(id, dim) uniform noise —
    * {{{ q_d = v_d + noise * |v| / sqrt(Dim) * u(id, d),  u in [-1, 1) }}}
    * — so cos(q, v) ~ 1/sqrt(1 + noise^2/3) (~0.945 at noise = 0.6),
    * far above the ~0.45 isotropic-neighbor ceiling: the source is the
    * unambiguous true top-1 (`ann_planted_check` oracle-verifies it), and
    * recall@k = "did the index retrieve the source" isolates INDEX quality
    * from corpus geometry. u comes from [[graft.functions.TextHash.hash60]]
    * (md5-based), so an oracle regenerates the same queries bit-for-bit;
    * the float cast makes double-arithmetic drift sub-ulp.
    *
    * Returns (idCol = source_id + idOffset, vecCol); recall joins on
    * `neighbor_id === query_id - idOffset`.
    */
  def plantedQueries(corpus: DataFrame, every: Int = 20, noise: Double = 0.6,
      idOffset: Long = 900000L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val nrm = sqrt(dot(col(vecCol), col(vecCol)))
    val planted = array((0 until Dim).map { d =>
      val u = graft.functions.TextHash.hash60(
        concat_ws(":", col(idCol).cast("string"), lit(d.toString))) /
        lit(576460752303423488.0) - lit(1.0) // hash60 / 2^59 - 1 in [-1, 1)
      (element_at(col(vecCol), d + 1).cast("double") +
        lit(noise) * nrm / lit(8.0) * u).cast("float")
    }: _*)
    corpus.filter(col(idCol) % every === 0)
      .select((col(idCol) + idOffset).as(idCol), planted.as(vecCol))
  }

  /** Exact top-k: for each query vector, the k corpus ids with the highest
    * cosine (ties broken by id). `queries` should be small — it is
    * broadcast against the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Hard-negative mining for contrastive embedding training: per
    * query, the k most-similar corpus vectors carrying a DIFFERENT
    * label — the high-similarity wrong-class examples that make
    * contrastive losses learn anything (easy random negatives are
    * already separated). `labels` is any per-id labeling `(idCol,
    * labelCol)` — IVF cell, k-means cluster, source/domain tag,
    * dedup component — joined to both sides by plain equi-joins.
    *
    * This is the EXACT baseline: queries (with their labels) broadcast
    * against the labeled corpus, one pass, like [[bruteForceTopK]] —
    * the label filter rides the broadcast join condition so wrong-label
    * rows never reach the ranking window. At 100 TB swap the corpus
    * side for any candidate generator (banded LSH, IVF probes) and
    * anti-filter the label the same way.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      labels: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    // labels is typically DERIVED from corpus (cluster assignment), so
    // both joins below are lineage self-joins: rename each side's id and
    // label up front to keep every reference unambiguous
    val c = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
      .join(labels.select(col(idCol).as("_nid"),
        col(labelCol).as("neighbor_label")), col("id") === col("_nid"))
      .drop("_nid")
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
      .join(labels.select(col(idCol).as("_qid"),
        col(labelCol).as("_qlabel")), col("query_id") === col("_qid"))
      .drop("_qid")
    val scored = c.join(broadcast(q),
        col("id") =!= col("query_id") &&
          col("neighbor_label") =!= col("_qlabel"))
      .withColumn("cosine",
        cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("neighbor_label"), col("rank"), col("cosine"))
  }

  /** The fixed-size deterministic centroid set of the IVF index: the
    * `numCentroids` corpus vectors with the smallest
    * (hash60(id), id) — a seeded uniform sample whose SIZE IS CONSTANT IN
    * THE CORPUS SIZE. The earlier every-37th-id variant made |centroids|
    * proportional to n, so the centroid broadcast grew without bound and
    * cell assignment was O(n^2/37); hash-order-limit keeps the broadcast
    * O(numCentroids) forever and plans as a per-partition top-k
    * (TakeOrderedAndProject), never a full sort. Real IVF runs k-means
    * here; a deterministic sample keeps the structure identical (cells,
    * probes, residual top-k) while staying bit-reproducible in a SQL
    * oracle, which an iterative k-means is not.
    */
  def ivfCentroids(corpus: DataFrame, numCentroids: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    corpus.select(col(idCol).as("centroid_id"), col(vecCol).as("cv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("cnrm"),
        graft.functions.TextHash.hash60(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col("centroid_id"))
      .limit(numCentroids)
      .drop("_h")
  }

  /** Cell assignment of each corpus vector to its max-cosine centroid
    * (ties by centroid id), over the [[ivfCentroids]] fixed-k set.
    */
  def ivfAssignments(corpus: DataFrame, numCentroids: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfAssignmentsFromCentroids(corpus,
      ivfCentroids(corpus, numCentroids, idCol, vecCol), idCol, vecCol)

  /** [[ivfAssignments]] over a pre-built centroid frame — callers that
    * also probe the centroids (ivfTopK) build them ONCE instead of
    * paying the corpus-wide top-k selection per use.
    */
  def ivfAssignmentsFromCentroids(corpus: DataFrame, cents: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val scored = vecs.join(broadcast(cents), lit(true))
      .withColumn("csim",
        cosineFromNorms(dot(col("v"), col("cv")), col("nrm"), col("cnrm")))
    // argmax by (csim desc, centroid_id asc) as a HASH AGGREGATE, not a
    // row_number window: the |corpus| x |centroids| rows partial-reduce
    // map-side to one row per id before the shuffle, where the window
    // formulation sort-shuffled them all. The (csim, -centroid_id) key
    // is unique per group, so max_by is deterministic and picks exactly
    // the window's (csim desc, centroid_id) winner.
    scored.groupBy(col("id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("centroid_id")),
        struct(col("csim"), (-col("centroid_id")).as("nc"))).as("m"))
      .select(col("id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
        col("m.centroid_id").as("centroid_id"))
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query, rank only
    * their members. The 100 TB shape: centroid scoring is a broadcast
    * map-only pass against a CONSTANT-size centroid set; candidate search
    * is an equi-join on centroid_id touching ~nprobe/numCentroids of the
    * corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 64, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // one corpus-wide centroid selection, lazily materialized (64 rows)
    // — both the assignment pass and the probe pass read it
    ivfTopKFromCents(corpus, queries, k,
      Materialize.shared(ivfCentroids(corpus, numCentroids, idCol, vecCol)),
      nprobe, idCol, vecCol)

  /** K-MEANS-TRAINED IVF centroids in [[ivfCentroids]]' layout
    * (centroid_id, cv float array, cnrm): [[Cluster.kmeansCentroids]]'
    * integer-exact Lloyd matrix de-quantized back to floats
    * (val / scale — scale is a power of two, so the double division is
    * exact and the float cast is the only rounding, reproducible in SQL
    * as `(val / scale)::FLOAT`). On clustered data trained cells follow
    * the cluster structure, so a planted/perturbed query's source lands
    * in one of the query's top cells far more reliably than under the
    * sampled-seed selection; on the isotropic testdata both are noise
    * partitions and the win is the measured planted recall, not organic
    * recall (see [[plantedQueries]]).
    */
  def ivfTrainedCentroids(corpus: DataFrame, numCentroids: Int = 32,
      iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    Cluster.kmeansCentroids(corpus, idCol, vecCol, numCentroids, iters)
      .select(col("cluster").cast("long").as("centroid_id"),
        transform(col("centroid"), x =>
          (x.cast("double") / Cluster.DefaultScale.toDouble).cast("float"))
          .as("cv"))
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
  }

  /** [[ivfTopK]] over a k-means-trained centroid table instead of the
    * hash-order sample — train once ([[ivfTrainedCentroids]] collects
    * k·d longs per Lloyd round, bounded), then probe/assign/rank through
    * the identical equi-join machinery.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 32, iters: Int = 3, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKFromCents(corpus, queries, k,
      ivfTrainedCentroids(corpus, numCentroids, iters, idCol, vecCol)
        .transform(Materialize.shared),
      nprobe, idCol, vecCol)

  /** Probe + assign + rank against a prebuilt (centroid_id, cv, cnrm)
    * table — the shared spine of [[ivfTopK]] and [[ivfTopKTrained]].
    */
  private def ivfTopKFromCents(corpus: DataFrame, queries: DataFrame, k: Int,
      cents: DataFrame, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val assigned = ivfAssignmentsFromCentroids(corpus, cents, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("csim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qnrm"), col("cnrm")))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val probed = probes.withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nprobe)
      .select("query_id", "qv", "qnrm", "centroid_id")
    val scored = assigned.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Product-quantization top-k (asymmetric distance computation): the
    * standard memory-at-scale ANN scoring. The corpus is ENCODED once —
    * each vector becomes `subspaces` small codes (its nearest codebook
    * entry per 8-dim slice, L2, ties by code) — and a query is answered
    * from the codes alone: per query, one dot product against each of
    * the `subspaces * codebookSize` codebook slices builds a lookup
    * table, and every corpus vector's approximate score is a sequential
    * 8-term table fold (no full-dimension dot per candidate). At 100 TB
    * the encoded corpus is ~64x smaller than the float vectors and the
    * per-candidate cost drops from d mults to `subspaces` adds.
    *
    * Determinism for the oracle: the codebook is the same seeded
    * hash-order sample as [[ivfCentroids]] (collected to the driver —
    * codebookSize rows — and re-emitted with explicit code ids, the
    * bounded-driver-table pattern of SequencePack; EAGER at plan
    * construction), L2 uses the dot-product identity with a fixed
    * expression shape, and both engines fold the score table strictly
    * left-to-right. Returns (query_id, neighbor_id, rank, approx_score);
    * scores are approximations — rank quality, not exactness, is the
    * contract (spec asserts recall vs brute force).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      subspaces: Int = 8, codebookSize: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqCodebook(corpus, subspaces, codebookSize, idCol, vecCol)
    pqAnswer(corpus, queries, cb, k, subspaces, codebookSize, idCol, vecCol)
  }

  /** [[pqTopK]] with a K-MEANS-TRAINED codebook ([[pqTrainedCodebook]])
    * instead of the hash-order sample — the production PQ shape:
    * codewords are per-subspace cell means, so quantization error (and
    * with it ADC ranking noise) drops vs sampled codewords. Planted
    * recall@10 is 1.0 for EVERY PQ shape on this corpus (PQ prunes
    * nothing — the full corpus is scored — and at cosine 0.945 the ADC
    * error never knocks the source out of the top 10); the codebooks
    * separate on the harsher organic metric, top-10 agreement with
    * exact brute force at sf0.1: seeded 16 codes 0.14 → trained 16
    * codes 0.18 → trained 64 codes 0.27 → trained 16 subspaces x 64
    * codes 0.50, all at the identical full-scan candidate budget.
    */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      subspaces: Int = 8, codebookSize: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqTrainedCodebook(corpus, subspaces, codebookSize, iters,
      idCol = idCol, vecCol = vecCol)
    pqAnswer(corpus, queries, cb, k, subspaces, codebookSize, idCol, vecCol)
  }

  /** Shared PQ answer path: encode the corpus against `cb`, build the
    * per-query lookup tables, score by the strict left-to-right ADC
    * fold (bit-stable across engines), rank per query.
    */
  private def pqAnswer(corpus: DataFrame, queries: DataFrame, cb: DataFrame,
      k: Int, subspaces: Int, codebookSize: Int,
      idCol: String, vecCol: String): DataFrame = {
    val encoded = pqEncode(corpus.select(col(idCol).as("id"),
      col(vecCol).as("v")), cb, subspaces)
    val lut = pqLut(queries, cb, subspaces, idCol, vecCol)
    val scored = encoded.join(broadcast(lut),
        col("id") =!= col("query_id"))
      .withColumn("approx_score", pqFold(subspaces, codebookSize))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("approx_score"))
  }

  /** Per-subspace k-means PQ codebook in [[pqCodebook]]'s layout
    * `(s, code, cvec float)` — ONE grouped Lloyd loop trains all
    * `subspaces` codebooks together: the subspace id rides every key
    * (assignment groups by (id, s), updates by (s, code, dim)), so each
    * iteration is a single pass over the sliced corpus instead of
    * `subspaces` separate jobs. Integer-exact in
    * [[Cluster]]'s quantized space (floor(x*scale) longs, floor-mean
    * updates, ties to the lowest code) with seeds = the codebookSize
    * smallest-id vectors' slices — every step replayable by a DuckDB
    * oracle bit-for-bit. Driver state per iteration is
    * subspaces*codebookSize*(Dim/subspaces) longs (= Dim*codebookSize,
    * constant in corpus size — the bounded-collect pattern of
    * [[Cluster.kmeansCentroids]]).
    */
  def pqTrainedCodebook(corpus: DataFrame, subspaces: Int = 8,
      codebookSize: Int = 16, iters: Int = 3,
      scale: Long = Cluster.DefaultScale,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(Dim % subspaces == 0, "subspaces must divide Dim")
    require(iters > 0, s"iters must be positive, got $iters")
    val sub = Dim / subspaces
    val spark = corpus.sparkSession
    import spark.implicits._
    val dist = graft.functions.VectorFunctions.sqDistL _
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    // (id, s, qv): one row per vector per subspace; recomputed from the
    // scan each iteration (a map-side projection — caching corpus-sized
    // slices would cost more than re-reading the columnar scan)
    val sliced = corpus
      .select(col(idCol).cast("long").as("id"), pqSlices(qv, subspaces).as("sl"))
      .select(col("id"), col("sl.s").as("s"), col("sl.sv").as("qv"))
    // seeds: slices of the codebookSize smallest-id vectors (bounded
    // collect, ORDER BY id LIMIT k — same discipline as Cluster.lloyd)
    val seedRows = corpus
      .select(col(idCol).cast("long").as("id"), qv.as("q"))
      .orderBy(col("id")).limit(codebookSize).collect()
    var cents: Seq[(Int, Int, Array[Long])] = for {
      (r, code) <- seedRows.sortBy(_.getLong(0)).zipWithIndex.toSeq
      s <- 0 until subspaces
    } yield (s, code, r.getSeq[Long](1).slice(s * sub, (s + 1) * sub).toArray)
    for (t <- 1 to iters - 1) {
      val cbL = cents.map { case (s, c, v) => (s, c, v.toSeq) }
        .toDF("s", "code", "cvl")
      val upd = sliced.join(broadcast(cbL), Seq("s"))
        .withColumn("d", dist(col("qv"), col("cvl")))
        .groupBy("id", "s")
        .agg(min_by(struct(col("code"), col("qv")),
          struct(col("d"), col("code"))).as("m"))
        .select(col("s"), col("m.code").as("code"),
          posexplode(col("m.qv")).as(Seq("dim", "v")))
        .groupBy("s", "code", "dim")
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("val"))
        .collect()
      val byCell = upd.groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = cents.map { case (s, c, prev) =>
        byCell.get((s, c)) match {
          case Some(rows) =>
            val arr = new Array[Long](sub)
            rows.foreach(r => arr(r.getInt(2)) = r.getLong(3))
            (s, c, arr)
          case None => (s, c, prev) // empty cell keeps its codeword
        }
      }
    }
    cents.map { case (s, c, v) =>
      (s, c, v.map(x => (x.toDouble / scale).toFloat).toSeq)
    }.toDF("s", "code", "cvec")
  }

  /** Per-subspace slice explosion: one (s, 8-dim slice) row per vector
    * per subspace.
    */
  private def pqSlices(v: Column, subspaces: Int): Column = {
    val sub = Dim / subspaces
    explode(array((0 until subspaces).map(s =>
      struct(lit(s).as("s"), slice(v, s * sub + 1, sub).as("sv"))): _*))
  }

  /** PQ codebook: the codebookSize hash-order sample vectors, sliced
    * into per-subspace codewords with explicit code ids (driver table of
    * subspaces*codebookSize rows, constant in corpus size; EAGER at plan
    * construction — the bounded-driver-table pattern of SequencePack).
    */
  private def pqCodebook(corpus: DataFrame, subspaces: Int, codebookSize: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(Dim % subspaces == 0, "subspaces must divide Dim")
    val sub = Dim / subspaces
    val sample = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        graft.functions.TextHash.hash60(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col("cid"))
      .limit(codebookSize)
      .select("cid", "cv").collect()
    val cbRows = for {
      (row, code) <- sample.zipWithIndex
      s <- 0 until subspaces
    } yield (s, code,
      row.getSeq[Float](1).slice(s * sub, (s + 1) * sub).toArray)
    corpus.sparkSession.createDataFrame(cbRows.toSeq).toDF("s", "code", "cvec")
  }

  /** Encode: nearest codeword per (vector, subspace) — L2 via the dot
    * identity, ties by code id — collected to one `codes` array per id.
    * `vecs` must have columns (id, v); any `carry` columns pass through
    * (single-valued per id).
    */
  private def pqEncode(vecs: DataFrame, cb: DataFrame, subspaces: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val enc0 = vecs
      .select(col("id") +: pqSlices(col("v"), subspaces).as("sl") +:
        carry.map(col): _*)
      .select(col("id") +: col("sl.s").as("s") +: col("sl.sv").as("sv") +:
        carry.map(col): _*)
      .join(broadcast(cb), Seq("s"))
      .withColumn("l2",
        dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cvec")) +
          dot(col("cvec"), col("cvec")))
    // argmin by (l2 asc, code asc) as a hash aggregate (see
    // ivfAssignmentsFromCentroids): the |corpus| x codebookSize rows
    // partial-reduce map-side; the (l2, code) key is unique per
    // (id, s) group, so min_by reproduces the window's winner exactly
    enc0.groupBy(col("id"), col("s"))
      .agg(min_by(col("code"), struct(col("l2"), col("code"))).as("code"),
        carry.map(c => first(col(c)).as(c)): _*)
      .groupBy("id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("code")))),
        e => e.getField("code")).as("codes"),
        carry.map(c => first(col(c)).as(c)): _*)
  }

  /** Per-query lookup table: dot(query slice s, codeword (s, j)),
    * ordered by (s, code) so lut[s*codebookSize + code] addresses it.
    */
  private def pqLut(queries: DataFrame, cb: DataFrame, subspaces: Int,
      idCol: String, vecCol: String): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    queries
      .select(col(idCol).as("query_id"), pqSlices(col(vecCol), subspaces).as("sl"))
      .select(col("query_id"), col("sl.s").as("s"), col("sl.sv").as("qv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        dot(col("qv"), col("cvec")).as("d"))
      .groupBy("query_id")
      .agg(transform(
        sort_array(collect_list(struct(col("s"), col("code"), col("d")))),
        e => e.getField("d")).as("lut"))
  }

  /** The ADC score: a strict left-to-right fold of lut entries addressed
    * by the row's codes (bit-stable across engines). Expects columns
    * `lut` and `codes`.
    */
  private def pqFold(subspaces: Int, codebookSize: Int): Column =
    aggregate(sequence(lit(0), lit(subspaces - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("lut"),
        s * codebookSize + element_at(col("codes"), s + 1) + 1))

  /** IVF-PQ top-k — the standard 100 TB ANN index shape: IVF cells prune
    * WHICH codes are scored (only the query's `nprobe` nearest cells),
    * PQ codes make each scored candidate cheap (`subspaces` adds off a
    * per-query lookup table instead of a d-dim dot product). Composes
    * [[ivfCentroids]]/[[ivfAssignmentsFromCentroids]] with the
    * [[pqTopK]] machinery; candidate generation is an equi-join on
    * centroid_id (bounded fanout), scoring touches ~nprobe/numCentroids
    * of the corpus codes per query instead of all of them ([[pqTopK]]'s
    * flat scan).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 64, nprobe: Int = 8,
      subspaces: Int = 8, codebookSize: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val cents = ivfCentroids(corpus, numCentroids, idCol, vecCol)
      .transform(Materialize.shared)
    val assigned = ivfAssignmentsFromCentroids(corpus, cents, idCol, vecCol)
    val cb = pqCodebook(corpus, subspaces, codebookSize, idCol, vecCol)
    val encoded = pqEncode(assigned.select(col("id"), col("v"), col("centroid_id")),
      cb, subspaces, carry = Seq("centroid_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("csim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qnrm"), col("cnrm")))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val probed = probes.withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nprobe)
      .select("query_id", "centroid_id")
    val lut = pqLut(queries, cb, subspaces, idCol, vecCol)
    val scored = encoded.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id"))
      .withColumn("approx_score", pqFold(subspaces, codebookSize))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("approx_score"))
  }

  /** LSH-bucketed top-k: same contract as [[bruteForceTopK]] but only
    * bucket-mates are candidates. Trades recall for a corpus-sized equi
    * join instead of |q| x |corpus| work; recall grows with fewer bits or
    * multi-probe.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), bits).as("bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    // multi-probe: each query also probes the `bits` neighboring buckets
    // at Hamming distance 1 (one hyperplane sign flipped) — recall rises
    // steeply for near-boundary vectors at the cost of (bits+1)x probe
    // rows, still tiny vs the corpus
    val probeBuckets =
      if (!multiProbe) array(lshBucket(col(vecCol), bits))
      else array(lshBucket(col(vecCol), bits) +:
        (0 until bits).map(j =>
          lshBucket(col(vecCol), bits).bitwiseXOR(1L << j)): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeBuckets).as("bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    // no dedup needed: a corpus vector lives in exactly one bucket and
    // the probed buckets are distinct, so each (query, id) pair scores once
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Banded multi-table LSH top-k — [[lshTopK]]'s recall mechanism at
    * long code lengths (see [[lshBandBucket]] for the collision math and
    * [[graft.operators.Dedup.embeddingNearDupsLshBanded]] for the same
    * shape on the dedup side): a candidate is any corpus vector sharing
    * ANY of the `tables` band buckets with the query. Candidate
    * (query, id) pairs travel ids-only, deduplicate across tables, then
    * join back for exact-cosine ranking — the shuffle never carries
    * vectors. High-precision/low-fanout retrieval: with long codes only
    * near-duplicates collide, so candidate lists are short and exact.
    */
  def lshBandedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 4, bitsPerTable: Int = 16, multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    val cand = lshBandedCandidates(corpus, queries, tables, bitsPerTable,
      multiProbe, idCol, vecCol)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnrm"))
    val scored = cand.join(c, Seq("id")).join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** The distinct `(query_id, id)` pairs [[lshBandedTopK]] scores — the
    * banded index's candidate set, exposed so recall measurements can
    * report HOW MUCH of the corpus the approximate path actually
    * touched (`candidates / (|queries| · |corpus|)` is the work ratio
    * vs brute force). Ids-only: the shuffle never carries vectors.
    */
  def lshBandedCandidates(corpus: DataFrame, queries: DataFrame,
      tables: Int = 4, bitsPerTable: Int = 16, multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one constant-code-size kernel call for ALL tables' buckets
    // (bit-identical to the per-plane lshBandBucket form, spec-pinned):
    // at auto-sized code lengths the per-plane expression tree bloats
    // the generated projection with tables*bits dot-product bodies
    def sides(df: DataFrame, id: String) = df.select(col(idCol).as(id),
      posexplode(graft.functions.VectorFunctions.bandBucketsF(col(vecCol),
        tables, bitsPerTable)).as(Seq("t", "bucket")))
    // multiProbe: the QUERY side also probes each band bucket's
    // bitsPerTable hamming-1 neighbors (one sign bit flipped). At planted
    // cosine ~0.945 (per-plane p ~0.894) a 16-bit band collides exactly
    // with p^16 ~ 0.17 but within hamming-1 with p^16 + 16(1-p)p^15 ~ 0.48
    // — across 4 tables recall jumps ~0.52 -> ~0.93 while the probe fanout
    // stays (bits+1) x |queries| rows, still nothing against the corpus
    // side, and the candidate shuffle stays ids-only.
    val qSide =
      if (!multiProbe) sides(queries, "query_id")
      else sides(queries, "query_id").select(col("query_id"), col("t"),
        explode(array(col("bucket") +: (0 until bitsPerTable).map(j =>
          col("bucket").bitwiseXOR(1L << j)): _*)).as("bucket"))
    sides(corpus, "id")
      .join(broadcast(qSide), Seq("t", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select("query_id", "id").distinct() // a pair may collide in several tables
  }
}
