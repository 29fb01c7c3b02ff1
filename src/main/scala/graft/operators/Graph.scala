package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Graph propagation over an edge table — PageRank as iterated
  * relational algebra, made integer-exact so it is reproducible at any
  * parallelism and oracle-checkable cross-engine (same playbook as the
  * k-means in [[Cluster]]: quantize once, then keep every step in
  * associative LONG arithmetic).
  *
  * Why it belongs in a curation engine: authority scores over a
  * citation/link/co-occurrence graph are a standard quality prior for
  * training-data selection (rank documents by the link graph, weight
  * the sample by rank), and the same propagation skeleton runs label
  * propagation and connected components ([[Dedup.clusterPairs]] is the
  * min-label special case).
  *
  * Integer formulation (scale `S`, damping 85/100, `N` nodes):
  *  - r₀(v)   = S // N                      (integer division)
  *  - contribution of edge (u→v) = r(u) // outdeg(u)
  *  - r(v)    = (S·15) // (100·N)  +  (85 · Σ contribs) // 100
  * All divisions are floor divisions of non-negative LONGs, every sum
  * is a LONG sum — associative, so partial aggregation order cannot
  * change a single bit, and an unrolled SQL CTE chain computes the
  * identical table. Dropped remainders mean total mass decays by at
  * most one unit per node per iteration — at S = 2⁵⁵ that is parts
  * per trillion of the total for any realistic N, irrelevant for
  * ranking and the price of exact replay.
  *
  * Per-iteration shape (the 100 TB posture): ONE equi-join of the rank
  * table (N rows) to the edge table on `src` + one hash aggregate by
  * `dst` — the classic Pregel superstep as vanilla shuffle joins, so
  * AQE/skew handling applies unchanged. The edge table is the big
  * side and is iterated over k times, so [[propagate]] materializes it
  * ONCE with the out-weights already folded in — supersteps pay no
  * e⋈deg join. In production, store the edge table bucketed by `src`
  * so the superstep join is exchange-free on the edge side and only
  * the N-row rank table moves. Hub skew (a node with 10⁸ in-edges) is absorbed
  * by partial aggregation — contributions combine map-side before the
  * exchange, the same shape that makes the daily-KPI aggregate safe.
  * Below the broadcast gate each superstep's N-row rank table is
  * materialized ([[Materialize]], reliable when a checkpoint dir is set)
  * and severed from its origin plan, so the plan stays bounded; on the
  * large-graph path lineage grows linearly in iterations.
  *
  * No dangling-node term: callers feed SYMMETRIZED edges (see
  * [[undirect]]) or accept that sink mass leaks, the common
  * simplification. With symmetric edges every node has outdeg ≥ 1 and
  * indeg ≥ 1, so no outer join is needed anywhere.
  */
object PageRank {

  /** S = 2⁵⁵ — headroom: the biggest intermediate is 85 · Σ contribs,
    * and Σ contribs ≤ S because each node's outgoing mass splits its
    * own rank, so the worst case is 85 · 2⁵⁵ < 2⁷ · 2⁵⁵ = 2⁶² < 2⁶³
    * even if every unit of mass lands on one node. (Overflow would
    * need S > 2⁶³/85 ≈ 2⁵⁶·⁶ — a full 1.6 binary orders of margin.)
    */
  val DefaultScale = 1L << 55

  /** Both directions of each edge, deduplicated. */
  def undirect(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .union(edges.select(col(dst).as("src"), col(src).as("dst")))
      .distinct()

  /** Both directions of each WEIGHTED edge (same weight both ways). */
  def undirectWeighted(edges: DataFrame, src: String, dst: String,
      w: String): DataFrame =
    edges.select(col(src).as("src"), col(dst).as("dst"), col(w).as("w"))
      .union(edges.select(col(dst).as("src"), col(src).as("dst"),
        col(w).as("w")))

  /** `(node, rank)` after `iters` supersteps over `(src, dst)` edges.
    * Requires every node to occur as a source (symmetrize with
    * [[undirect]] first); `nodes` = distinct sources.
    */
  def ranks(edges: DataFrame, src: String, dst: String, iters: Int,
      scale: Long = DefaultScale): DataFrame =
    propagate(edges, src, dst, iters, scale, None, None)

  /** WEIGHTED PageRank — each node's outgoing mass splits proportional
    * to integer edge weights (co-purchase counts, link multiplicities,
    * interaction strengths), the common real-graph case. Contribution
    * of edge (u→v) = `(rank(u) // Σw(u)) · w(u,v)`: per-unit-weight
    * mass times the edge weight, still pure LONG arithmetic — and with
    * all weights 1 the formula IS the uniform one (× 1), so the
    * unweighted operator is literally the w=1 special case
    * (PageRankSpec pins that equality). Bounds: a node's outgoing
    * contributions sum to ≤ its rank, so totals never exceed the
    * uniform case's.
    */
  def weightedRanks(edges: DataFrame, src: String, dst: String,
      wCol: String, iters: Int, scale: Long = DefaultScale): DataFrame =
    propagate(edges, src, dst, iters, scale, None, Some(wCol))

  /** PERSONALIZED PageRank: the teleport mass restarts only at nodes
    * matching `isSeed`, so ranks measure proximity to the seed set —
    * seeded relevance propagation ("expand this trusted/topical seed
    * set through the graph"), the propagation half of
    * graph-based corpus selection. Identical recurrence and shapes as
    * [[ranks]]; with an all-true predicate it IS [[ranks]]
    * (PageRankSpec pins that equality).
    */
  def personalizedRanks(edges: DataFrame, src: String, dst: String,
      iters: Int, isSeed: Column => Column,
      scale: Long = DefaultScale): DataFrame =
    propagate(edges, src, dst, iters, scale, Some(isSeed), None)

  /** The materialized per-superstep relation `(src, dst, w, outw)` every
    * rank variant iterates over — build it ONCE per graph and share it
    * across uniform / weighted / personalized runs: the three
    * recurrences differ only in their restart terms, while this relation
    * (the edge construction, the out-weight fold, the materialization)
    * is the expensive common part. [[ranksPrepared]] /
    * [[personalizedRanksPrepared]] consume it.
    *
    * Out-weights are FOLDED INTO the edge table once before
    * materializing, so each superstep is ONE join, not two: the
    * pre-r11 shape re-joined the N-row deg table every round, which at
    * test scale hides behind a broadcast (measured wall-clock neutral
    * in an interleaved same-JVM A/B at sf0.1 — medians 4.4 s both) but
    * at cluster scale re-ships an N-row relation per round for no
    * reason. A repartition(src)+persist() variant that also skips the
    * per-round e-side exchange was measured SLOWER here — the
    * InMemoryRelation does keep its HashPartitioning visible to
    * EnsureRequirements (a checkpoint's LogicalRDD reports
    * UnknownPartitioning under AQE), but the columnar cache fill costs
    * more than the avoided exchanges return at this scale. On a real
    * cluster store the edge table BUCKETED by src instead: the scan
    * carries the partitioning natively and the superstep join is
    * exchange-free on the edge side.
    */
  def prepare(edges: DataFrame, src: String, dst: String,
      wCol: Option[String] = None): DataFrame = {
    // materialize the edge list and out-weights ONCE: every superstep
    // (plus the node count) re-reads them, and their lineage is whatever
    // produced the edges (joins/unions/distinct) — without this each
    // iteration re-pays the full edge construction (see [[Materialize]]).
    // uniform = the all-weights-1 special case of the same arithmetic
    val w = wCol.map(col).getOrElse(lit(1L)).cast("long")
    val e0 = edges.select(col(src).as("src"), col(dst).as("dst"), w.as("w"))
    // out-weights via a whole-partition window, NOT groupBy+join: a
    // stats-free edge input plans the join as a sort-merge that
    // shuffles the edge list TWICE (once for the aggregate, once for
    // the probe side) and merges. The window needs exactly one hash
    // exchange on src plus the partition-local sort both plans pay
    // anyway — measured 1.9x faster on the 12M-edge 10x co-purchase
    // graph (16.5 s -> 8.9 s; equal at 1x), identical integer sums.
    // Skew shape is unchanged: either plan gathers a hub node's edges
    // into one partition.
    //
    // Only the FINAL (src, dst, w, outw) relation is checkpointed: it
    // is the one the supersteps re-read. An intermediate checkpoint of
    // e0 (the pre-r17 shape) paid a full extra write+read of the edge
    // list for a single-pass consumer — at the 100x scale probe the
    // doubled block footprint overflowed the block manager's storage
    // fraction and eviction/recompute made prep 2x-above-linear.
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    Materialize.shared(e0.withColumn("outw", sum(col("w")).over(bySrc)))
  }

  /** [[ranks]] over a [[prepare]]d relation (weights were folded at
    * prepare time, so this is also the weighted entry point). */
  def ranksPrepared(prepared: DataFrame, iters: Int,
      scale: Long = DefaultScale): DataFrame =
    propagatePrepared(prepared, iters, scale, None)

  /** [[personalizedRanks]] over a [[prepare]]d relation. */
  def personalizedRanksPrepared(prepared: DataFrame, iters: Int,
      isSeed: Column => Column, scale: Long = DefaultScale): DataFrame =
    propagatePrepared(prepared, iters, scale, Some(isSeed))

  /** Run supersteps until the INTEGER rank vector reaches an exact
    * fixpoint (or `maxIters`) — the production entry point when the
    * iteration budget is "until it stops moving" rather than a fixed
    * k. Detection is the connected-components discipline: a count+xor
    * signature per round (one cheap aggregate over the N-row rank
    * table), with an exact set-diff confirmation only on signature
    * match — so a stop is NEVER a hash accident. Because the
    * arithmetic is integer-exact, `superstep(r) == r` implies every
    * further superstep returns `r` bit-for-bit: stopping at the
    * fixpoint equals running all `maxIters` rounds, which keeps any
    * unrolled-CTE replay of the full budget valid for the converged
    * result. Returns (ranks, rounds run, converged).
    */
  def ranksToConvergence(prepared: DataFrame, maxIters: Int,
      scale: Long = DefaultScale,
      isSeed: Option[Column => Column] = None): (DataFrame, Int, Boolean) =
    ranksToConvergenceGated(prepared, maxIters, scale, isSeed,
      BroadcastRanksMaxNodes)

  /** Test seam: run the convergence loop with an explicit broadcast
    * gate (0 forces the large-graph shuffle path, where each round's
    * probe actions rely on [[PropagateLoop.materialized]] — without it
    * the probes would recompute the whole superstep chain per round).
    */
  private[graft] def ranksToConvergenceGated(prepared: DataFrame,
      maxIters: Int, scale: Long, isSeed: Option[Column => Column],
      broadcastGate: Long): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val loop = new PropagateLoop(prepared, scale, isSeed, broadcastGate)
    def signature(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)),
        expr("cast(coalesce(bit_xor(hash(node, rank)), 0) as bigint)")).head()
      (row.getLong(0), row.getLong(1))
    }
    var r = loop.materialized(loop.init)
    var sig = signature(r)
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      val next = loop.materialized(loop.step(r))
      val nsig = signature(next)
      if (nsig == sig && next.exceptAll(r).isEmpty) converged = true
      sig = nsig
      r = next
      rounds += 1
    }
    (r, rounds, converged)
  }

  /** Node counts up to this gate broadcast the rank table into the
    * superstep join, making each round exchange-free on the EDGE side
    * (the big relation): contributions partial-aggregate map-side and
    * only ~N rows of partials shuffle. Above it, ranks flow through
    * the plain shuffle join (a web-scale rank table cannot broadcast),
    * same arithmetic, same results.
    *
    * 2M (raised from 1M, r18): ~1.6M long node ids ≈ 13 MB of rank
    * table — comfortably inside broadcast budget — and the r18
    * SCALEUP path probe measured the broadcast path 1.3x FASTER than
    * the shuffle path at exactly that size (100x co-purchase graph,
    * 10.25 s vs 13.45 s for 3 supersteps), so the old 1M gate was
    * switching to the slower plan a decade early. The gate remains a
    * driver-memory bound, not a performance crossover: broadcast keeps
    * winning until the rank table itself is too big to ship.
    */
  val BroadcastRanksMaxNodes = 2000000L

  private def propagate(edges: DataFrame, src: String, dst: String,
      iters: Int, scale: Long, seed: Option[Column => Column],
      wCol: Option[String]): DataFrame =
    propagatePrepared(prepare(edges, src, dst, wCol), iters, scale, seed)

  private def propagatePrepared(e: DataFrame, iters: Int, scale: Long,
      seed: Option[Column => Column]): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val loop = new PropagateLoop(e, scale, seed)
    var r = loop.init
    for (_ <- 1 to iters) r = loop.step(r)
    r
  }

  /** Test seam: run the fixed-k recurrence with an explicit broadcast
    * gate (0 forces the shuffle-join path) so the spec can pin
    * broadcast == shuffle bit-equality.
    */
  private[graft] def ranksPreparedGated(prepared: DataFrame, iters: Int,
      scale: Long, broadcastGate: Long): DataFrame = {
    val loop = new PropagateLoop(prepared, scale, None, broadcastGate)
    var r = loop.init
    for (_ <- 1 to iters) r = loop.step(r)
    r
  }

  /** One superstep as a reusable closure over the prepared relation:
    * shared by the fixed-k and run-to-convergence entry points so both
    * iterate the IDENTICAL arithmetic. When the node count sits under
    * [[BroadcastRanksMaxNodes]], each step materializes its (tiny)
    * output and broadcasts it into the next join — the edge relation
    * never shuffles and the per-round exchange carries only map-side
    * partial sums; above the gate the original shuffle join runs
    * unchanged. Either way the LONG arithmetic is associative, so the
    * two paths return bit-identical tables (partitioning invariance is
    * spec-pinned).
    */
  private final class PropagateLoop(e: DataFrame, scale: Long,
      seed: Option[Column => Column],
      broadcastGate: Long = BroadcastRanksMaxNodes) {
    private val nodes = e.select(col("src")).distinct()
    private val nNodes = nodes.count()
    // the restart-set size is a driver-side scalar — reuse the node
    // count in the unseeded case rather than running the same
    // distinct+count job twice per loop construction
    private val n = seed.map(f => nodes.filter(f(col("src"))).count())
      .getOrElse(nNodes)
    require(n > 0, "empty node/seed set")
    private val small = nNodes <= broadcastGate
    private val base = (scale * 15L) / (100L * n)
    private def restart(node: Column, amount: Long) = seed match {
      case None => lit(amount)
      case Some(f) => when(f(node), lit(amount)).otherwise(lit(0L))
    }
    // severOrigin after each checkpoint: the superstep references the
    // rank table in a join, and checkpointed Datasets carry origin-plan
    // baggage that NESTS per round — analysis time doubles per
    // superstep without it (see Bridge.severOrigin)
    def init: DataFrame = {
      val r0 = nodes.select(col("src").as("node"))
        .withColumn("rank", restart(col("node"), scale / n))
      if (small) Bridge.severOrigin(Materialize.shared(r0)) else r0
    }
    /** For per-round-ACTION loops (convergence probes): the round
      * result eagerly materialized on BOTH gate paths. step() already
      * checkpoints below the broadcast gate, but on the large-graph
      * path it returns a lazy plan — a probe that runs an action on it
      * every round would recompute the whole superstep chain from
      * round 0 (O(R²) supersteps, unbounded plan), the exact blowup
      * severOrigin exists to prevent. Identity on the small path.
      */
    def materialized(r: DataFrame): DataFrame =
      if (small) r else Bridge.severOrigin(Materialize.shared(r))
    def step(r: DataFrame): DataFrame = {
      // broadcasting a lazy multi-superstep plan would re-execute the
      // whole chain per round — the small path checkpoints each round's
      // N-row output first, so a broadcast only ever ships materialized
      // rows
      val rr = if (small) broadcast(r) else r
      val next = e.join(rr, e("src") === rr("node"))
        .select(col("dst").as("node"),
          expr("(rank div outw) * w").as("contrib"))
        .groupBy(col("node"))
        .agg((restart(col("node"), base) +
          expr("(85 * sum(contrib)) div 100")).as("rank"))
      if (small) Bridge.severOrigin(Materialize.shared(next)) else next
    }
  }
}

/** Generic connected components over ANY edge table — the first-class
  * face of the fixpoints [[Dedup.nearDupClusters]] runs internally on
  * near-dup pairs, exposed next to the PageRank family so any graph
  * (membership, interaction, citation) can be clustered without going
  * through the dedup API. Labels are exact: every node maps to the
  * MINIMUM node id of its component under the id column's natural
  * ordering (longs or strings alike — nothing here casts), so results
  * are deterministic at any parallelism and oracle-checkable.
  *
  * Two variants, one contract:
  *  - [[components]] — min-label propagation; rounds scale with
  *    component DIAMETER. Right for shallow graphs (stars, cliques,
  *    near-dup clusters).
  *  - [[componentsStar]] — alternating large-star/small-star
  *    contraction (Kiveris et al., SOCC'14); rounds scale with LOG of
  *    component size. Right for deep graphs (paths/chains), where
  *    min-label would pay diameter-many rounds.
  * Both cost one equi-join + one hash aggregate per round over a
  * checkpointed edge list — vanilla shuffles, AQE-friendly, nothing
  * driver-side (the 100 TB posture is identical to [[PageRank]]'s
  * supersteps).
  */
object ConnectedComponents {

  /** HYBRID gate, the [[Dedup.nearDupClusters]] shape generalized to
    * any id type: below this many DISTINCT edges the components come
    * from a single driver union-find pass — exact, deterministic, free
    * of per-round job latency (a fixpoint that costs 5 driver-
    * synchronized rounds of shuffles to label a 150k-edge graph is
    * protocol overhead, not distribution). Above it (web-scale graphs,
    * where the edge list cannot sit on one driver) the distributed
    * fixpoints below take over unchanged. 1M edges ≈ tens of MB
    * collected — the same bound the near-dup clustering gate uses.
    */
  val DefaultDriverMaxEdges = 1000000L

  /** `(node, component)` for every endpoint in `edges`, by the
    * distributed min-label fixpoint (driver union-find below the
    * hybrid gate). Self-loops are dropped; direction is ignored (the
    * edge list is symmetrized).
    */
  def components(edges: DataFrame, src: String, dst: String,
      driverMaxEdges: Long = DefaultDriverMaxEdges): DataFrame = {
    val clean = edges.filter(col(src) =!= col(dst))
    driverComponents(clean, src, dst, driverMaxEdges).getOrElse(
      Dedup.minLabelClusters(PageRank.undirect(clean, src, dst))._1
        .select(col("id").as("node"), col("cluster_id").as("component")))
  }

  /** Same contract as [[components]] via large-star/small-star
    * contraction — identical output, log-of-size rounds (same hybrid
    * gate below `driverMaxEdges`).
    */
  def componentsStar(edges: DataFrame, src: String, dst: String,
      driverMaxEdges: Long = DefaultDriverMaxEdges): DataFrame = {
    val clean = edges.filter(col(src) =!= col(dst))
    driverComponents(clean, src, dst, driverMaxEdges).getOrElse(
      Dedup.starClusters(
        clean.select(col(src).as("src"), col(dst).as("dst")).distinct())._1
        .select(col("id").as("node"), col("cluster_id").as("component")))
  }

  /** The gate's driver path: None when the id type is unsupported or
    * the distinct edge list exceeds the gate (callers fall through to
    * the distributed fixpoint). Labels match the fixpoints exactly:
    * component = min id under the column's natural ordering — for
    * strings that is Spark's BINARY (UTF-8 byte) ordering, not UTF-16
    * `compareTo` (they disagree on supplementary characters).
    */
  private def driverComponents(clean: DataFrame, src: String, dst: String,
      driverMaxEdges: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val dt = clean.schema(src).dataType
    require(clean.schema(dst).dataType == dt,
      s"src/dst id types differ: $dt vs ${clean.schema(dst).dataType}")
    val ord: Ordering[Any] = dt match {
      case LongType    => Ordering.by(_.asInstanceOf[Long])
      case IntegerType => Ordering.by(_.asInstanceOf[Int])
      case StringType  => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      case _ => return None
    }
    val e = Materialize.round(
      clean.select(col(src).as("src"), col(dst).as("dst")).distinct())
    if (e.count() > driverMaxEdges) return None
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    e.collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min keeps every root its component's min
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keysIterator
      .map(id => org.apache.spark.sql.Row(id, find(id))).toSeq
    val spark = clean.sparkSession
    Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("node", dt), StructField("component", dt)))))
  }
}
