package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass per-column data-quality profile — the first thing a
  * pipeline runs against an unfamiliar 100 TB table: row/null/distinct
  * counts and min/max per column, as ROWS (one per column) so the
  * profile of a wide table is itself queryable and diffable across
  * snapshots.
  *
  * Shape: ONE aggregate computes every column's stats in a single scan
  * (min/max/counts are plain partial aggregates; each exact
  * `count(DISTINCT)` adds an Expand branch — the standard multi-distinct
  * plan, input×|cols| rows through the partial agg but still one scan),
  * then the 1-row result explodes to |cols| rows map-side. No union of
  * per-column subqueries — that would re-scan the table once per column.
  *
  * `exactDistinct = false` swaps exact distinct counts for HLL++
  * (`approx_count_distinct`), removing the Expand entirely — the right
  * trade at warehouse scale where a ±2% cardinality estimate steers the
  * same decisions. Min/max are emitted as strings so heterogeneous
  * column types fit one schema; profile numeric-heavy tables with
  * dedicated queries when exact numeric bounds matter.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        (if (exactDistinct) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"),
          col(s"${c}__nn").as("n_non_null"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_value"),
          col(s"${c}__max").as("max_value"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Snapshot drift report — the reason profiles are ROWS: full-outer
    * join two snapshots' profiles on the column name and report, per
    * column, the before/after counts and whether the value bounds
    * moved. `status` marks schema drift ('added'/'dropped'); everything
    * is |columns|-sized — the scans already happened in [[profile]].
    * This is the nightly data-quality diff that catches a silently
    * nulled column or a collapsed cardinality before training does.
    */
  def drift(before: DataFrame, after: DataFrame): DataFrame =
    before.as("a").join(after.as("b"), Seq("col_name"), "full_outer")
      .select(col("col_name"),
        when(col("a.n_non_null").isNull, "added")
          .when(col("b.n_non_null").isNull, "dropped")
          .otherwise("common").as("status"),
        col("a.n_non_null").as("n_non_null_before"),
        col("b.n_non_null").as("n_non_null_after"),
        col("a.n_nulls").as("n_nulls_before"),
        col("b.n_nulls").as("n_nulls_after"),
        col("a.n_distinct").as("n_distinct_before"),
        col("b.n_distinct").as("n_distinct_after"),
        (col("a.min_value") <=> col("b.min_value") &&
          col("a.max_value") <=> col("b.max_value")).as("bounds_unchanged"))

  /** Population Stability Index between two snapshots of one column —
    * THE standard drift score (credit-scoring lineage, now the default
    * feature/label drift alarm in ML monitoring): bin both snapshots
    * identically, then
    *   PSI = Σ_bins (p_after − p_before) · ln(p_after / p_before),
    * with proportions floored at `eps` so bins that vanish or appear
    * contribute a large-but-finite term (the standard clip; rule of
    * thumb: < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).
    *
    * `bin` is any deterministic binning expression — a categorical
    * column as-is, `floor(value/width)` for numerics (the
    * value_histogram convention), a [[equiDepthBins]] bucket. Cost: one
    * hash aggregate per snapshot (|bins| rows out), a |bins|-sized
    * full-outer join, one tiny sum — nothing corpus-sized after the
    * scans, so snapshots can be 100 TB. Totals land as driver literals
    * (two 1-row aggregates over the checkpointed |bins| counts), which
    * keeps the plan free of 1-row crossJoins AND partitionless windows.
    * The per-bin terms sum as DECIMAL so the result is reproducible at
    * any parallelism (float order drift would break the oracle).
    *
    * Returns one row: (col_name, n_bins, psi).
    */
  def psi(before: DataFrame, after: DataFrame, bin: Column,
      colName: String, eps: Double = 1e-6): DataFrame =
    psiFromCounts(binCounts(before, bin), binCounts(after, bin),
      colName, eps)

  /** The binned-count relation [[psi]] compares: `(bin, n)`. Persist
    * one of these (it is |bins| rows) as the REFERENCE distribution a
    * live monitor scores every batch against — recomputing the
    * reference scan per batch is the anti-pattern this exists to avoid.
    */
  def binCounts(df: DataFrame, bin: Column): DataFrame =
    df.select(bin.as("bin")).filter(col("bin").isNotNull)
      .groupBy("bin").agg(count(lit(1)).as("n"))

  /** [[psi]] over pre-binned `(bin, n)` counts — the monitor's entry
    * point: the before side can be a persisted reference read back from
    * parquet, the after side a fresh micro-batch's [[binCounts]].
    */
  def psiFromCounts(before: DataFrame, after: DataFrame,
      colName: String, eps: Double = 1e-6): DataFrame = {
    // read twice each (total + join): materialize the |bins|-row counts
    val cb = Materialize.shared(before.select(col("bin"), col("n").as("nb")))
    val ca = Materialize.shared(after.select(col("bin"), col("n").as("na")))
    val (rb, ra) = (cb.agg(sum("nb")).head(), ca.agg(sum("na")).head())
    require(!rb.isNullAt(0) && !ra.isNullAt(0),
      s"psi($colName): empty snapshot (no bins on one side)")
    val tb = rb.getLong(0).toDouble
    val ta = ra.getLong(0).toDouble
    require(tb > 0 && ta > 0, s"psi($colName): empty snapshot")
    cb.join(ca, Seq("bin"), "full_outer")
      .select(
        (greatest(coalesce(col("na"), lit(0L)) / ta, lit(eps)) -
          greatest(coalesce(col("nb"), lit(0L)) / tb, lit(eps))).as("d"),
        (greatest(coalesce(col("na"), lit(0L)) / ta, lit(eps)) /
          greatest(coalesce(col("nb"), lit(0L)) / tb, lit(eps))).as("r"))
      .agg(count(lit(1)).as("n_bins"),
        sum((col("d") * log(col("r"))).cast("decimal(38,12)")).as("_s"))
      .select(lit(colName).as("col_name"), col("n_bins"),
        col("_s").cast("double").as("psi"))
  }

  /** The `k` most frequent values per column — the profile's companion
    * (counts and bounds say a column is skewed; this says TOWARD WHAT).
    * One scan: rows explode map-side to `(col_name, value)` pairs,
    * partial-combined hash counts, then a per-column WindowGroupLimit
    * rank. Nulls are excluded (the profile already counts them); ties
    * break by value for determinism.
    *
    * Scale note: the rank partitions by COLUMN, so one column's distinct
    * values rank in one task — fine for the categorical columns this is
    * meant for; a free-text column belongs in `profile`'s distinct
    * count, not here.
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "topValues needs at least one column")
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    df.select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))
      }: _*)).as("s"))
      .select("s.*")
      .filter(col("value").isNotNull)
      .groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("col_name"))
          .orderBy(col("n").desc, col("value"))))
      .filter(col("rank") <= k)
  }

  /** Robust per-group outlier detection — flag rows whose value sits
    * more than `k` median-absolute-deviations from the group median.
    * Median/MAD (not mean/stddev) because the statistic itself must not
    * be dragged by the outliers it hunts — the standard robust scheme
    * for fare anomalies, sensor glitches, length-outlier documents.
    *
    * Made cross-engine exact the same way [[Cluster]] is: no
    * interpolation anywhere. The median is the DISCRETE lower median —
    * the row ranked (n+1)/2 under `ORDER BY value, tie` — so it is an
    * actual data value, and every derived quantity (deviation = one
    * IEEE subtraction, MAD = a deviation that exists in the data,
    * threshold = one IEEE multiply) is bit-identical in any engine.
    *
    * Shape: two ranked windows per group (sort shuffles partitioned by
    * the group key) + two joins of a |groups|-row statistic table back
    * to the fact side — the bounds side broadcasts, the fact side never
    * re-shuffles after the windows. Same posture as winsorization next
    * door ([[Normalize]]), which clips where this flags.
    */
  def outliersMad(df: DataFrame, group: String, value: String, tie: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(col(group).as("grp"), col(tie).as("id"),
      col(value).cast("double").as("v"))
    val byGrp = Window.partitionBy(col("grp"))
    def lowerMedian(in: DataFrame, ord: String, out: String): DataFrame =
      in.withColumn("rn",
          row_number().over(byGrp.orderBy(col(ord), col("id"))))
        .withColumn("n", count(lit(1)).over(byGrp))
        .filter(expr("rn = (n + 1) div 2"))
        .select(col("grp"), col(ord).as(out))
    val med = lowerMedian(base, "v", "med")
    val withDev = base.join(med, "grp")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = lowerMedian(withDev, "dev", "mad")
    withDev.join(mad, "grp")
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col("grp"), col("id"), col("v"), col("med"), col("mad"),
        col("dev"))
  }

  /** Equi-DEPTH histogram per group — `nBins` buckets with (near-)equal
    * row counts, vs the equal-WIDTH `value_histogram` formulation: the
    * right binning for skewed features (quantile feature bucketing,
    * calibration-curve bins). `ntile` over (value, tie) is the same
    * deterministic rule in any SQL engine: first `count % nBins`
    * buckets take one extra row. One partitioned sort-window + one hash
    * aggregate; bin bounds are actual data values, so output is exact.
    */
  def equiDepthBins(df: DataFrame, group: String, value: String,
      tie: String, nBins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val w = Window.partitionBy(col(group)).orderBy(col(value), col(tie))
    df.withColumn("bin", ntile(nBins).over(w))
      .groupBy(col(group).as("grp"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col(value)).as("bin_min"),
        max(col(value)).as("bin_max"))
  }

  /** Pairwise Pearson correlations per group, ONE scan: every `corr`
    * is a partial aggregate in a single hash aggregate (no per-pair
    * subqueries), and the 1-row-per-group result explodes to
    * (group, col_x, col_y) rows map-side. Correlations are the
    * profiler's second-order companion — redundant features, leaking
    * labels, and drifted relationships all show up here first.
    * Values are floor-truncated at 1e-4: the co-moment accumulation
    * order is engine- and partitioning-dependent in the last ulps,
    * the truncation is not.
    */
  def correlations(df: DataFrame, group: String,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "correlations needs at least one column pair")
    val aggs = pairs.zipWithIndex.map { case ((x, y), i) =>
      corr(col(x), col(y)).as(s"_c$i")
    }
    df.groupBy(col(group).as("grp")).agg(aggs.head, aggs.tail: _*)
      .select(col("grp"),
        explode(array(pairs.zipWithIndex.map { case ((x, y), i) =>
          struct(lit(x).as("col_x"), lit(y).as("col_y"),
            (floor(col(s"_c$i") * 1e4) / 1e4).as("corr_t"))
        }: _*)).as("p"))
      .select(col("grp"), col("p.col_x").as("col_x"),
        col("p.col_y").as("col_y"), col("p.corr_t").as("corr_t"))
  }

  /** MERGEABLE quantile summary in the HdrHistogram/DDSketch layout,
    * kept in PURE INTEGER arithmetic so two engines (and two batches)
    * can never disagree by a ulp: non-negative values bucket by
    * (octave e = floor(log2(v+1)) — computed as the binary-string
    * length, an integer op, never a float log — and 16 linear
    * sub-buckets within the octave), giving `(g, bin_id, n)` rows with
    * a guaranteed <= 1/16 relative error per bucket. Counts merge by
    * SUM — fold(batch summaries) EQUALS the one-shot summary exactly
    * (not approximately: the bucketing is per-value-local), which is
    * what exact quantiles can never do and why warehouses ship sketches
    * for this. The summary is |octaves|*16 rows per group (~1000 for
    * the full long range) — store it per day/batch, merge on read,
    * answer any quantile later.
    *
    * Doubles are floored into the integer domain first (explicitly —
    * DuckDB's `::BIGINT` rounds while Spark's cast truncates, so the
    * floor is pinned in both engines); negative, NaN, and null values
    * are excluded by contract (shift by the known minimum for signed
    * data), as are values at or above 2^62 (where double→long floors
    * stop being exact and engines diverge on overflow — no real metric
    * lives there).
    */
  def hdrBins(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(valueCol) >= 0 &&
        !isnan(col(valueCol).cast("double")) &&
        col(valueCol) < lit(4611686018427387904.0)) // 2^62
      .select(col(groupCol).as("g"),
        (floor(col(valueCol)).cast("long") + 1L).as("w")) // w >= 1
      .withColumn("e", (length(bin(col("w"))) - 1).cast("int"))
      .withColumn("p", expr("shiftleft(CAST(1 AS BIGINT), e)"))
      // sub-bucket = ((w - p) * 16) div p, but the multiply overflows
      // Long for octaves e >= 60; for e >= 4, p is divisible by 16 so
      // (w - p) div (p div 16) is the identical value without the
      // overflow — keep the *16 form only for the tiny octaves
      .withColumn("bin_id",
        (col("e") * 16 + when(col("e") < 4,
          expr("((w - p) * 16) div p"))
          .otherwise(expr("(w - p) div (p div 16)"))).cast("int"))
      .groupBy("g", "bin_id").agg(count(lit(1)).as("n"))

  /** Fold two summaries — the whole point: counts sum, nothing else. */
  def hdrMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g", "bin_id").agg(sum("n").as("n"))

  /** Quantile estimates from a summary: for each (label, num/den)
    * quantile the LOWER BOUND of the first bucket whose cumulative
    * count reaches rank `ceil(q*N)` — the bucket holding the true
    * rank-r value, so `est <= v_r <= est + (est+1)/16 + 2` (the bucket
    * width). Rank arithmetic is exact integer (q as a fraction, ceil
    * via `(N*num + den - 1) div den`); the running sum is a window over
    * the BINS relation (|octaves|*16 rows per group), partitioned by
    * group — never over the data.
    */
  def hdrQuantiles(bins: DataFrame,
      qs: Seq[(String, Long, Long)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, n, d) => n > 0 && n <= d },
      "quantiles must be fractions in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy("bin_id")
    val cum = bins
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("ntot",
        sum(col("n")).over(Window.partitionBy("g")))
      .withColumn("lb", expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(bin_id div 16 AS INT))" +
          " + (((bin_id % 16) * shiftleft(CAST(1 AS BIGINT)," +
          " CAST(bin_id div 16 AS INT))) div 16) - 1"))
      .transform(Materialize.shared) // |bins| rows, read once per quantile
    qs.map { case (label, num, den) =>
      cum.filter(col("cum") >= expr(s"(ntot * $num + ${den - 1}) div $den"))
        .groupBy("g").agg(min(col("lb")).as("est"))
        .select(col("g"), lit(label).as("q"), col("est"))
    }.reduce(_ unionByName _)
  }
}
