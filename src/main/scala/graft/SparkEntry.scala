package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GramFunctions, TextAnalysis, TextHash}
import graft.operators.{AsOfJoin, Cluster, Dedup, KpiAggregator, Materialize, RawEventStore, SequencePack, Sessionize, SimilaritySearch, TripMatcher}
import graft.sources.{MediaColumns, TripSources}

/** Driver contract — one named query per implemented operator of
  * SURVEY.md par.2, each with a DuckDB-equivalent oracle SQL over the same
  * parquet tables (TESTDATA.md). Mapping of the reference's trip domain
  * onto the testdata: `events` plays the trip-event stream, `orders` plays
  * trip_start, `lineitem` plays trip_end (FIXTURES.md par.2).
  *
  * Determinism rules (SURVEY.md par.7.3): no uuid()/current_timestamp()
  * columns in verified outputs; floating-point aggregates rounded the same
  * way on both sides so Spark's partial-agg accumulation order can't flip
  * low bits vs DuckDB's sequential scan.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (SURVEY.md par.7.2 analog): start-end match
    * join + daily five-KPI aggregate. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    completedTripKpis(spark, "/root/testdata/sf0.001")

  // ---- shared builders ----------------------------------------------------

  /** Floating-point aggregate stabilizer for oracle comparison: truncate at
    * 10^-n via floor(x*10^n)/10^n. Unlike round(), which Spark evaluates on
    * the DECIMAL STRING (HALF_UP) and DuckDB on the BINARY double, this is
    * pure IEEE-754 arithmetic and therefore bit-identical across engines.
    */
  private def trunc(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val p = math.pow(10, n)
    floor(c * lit(p)) / lit(p)
  }
  private def trunc4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = trunc(c, 4)

  private def joinedTrips(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).join(Tables.lineitem(s, dir),
      col("o_orderkey") === col("l_orderkey"), "inner")

  private def completedTripKpis(s: SparkSession, dir: String): DataFrame =
    KpiAggregator.dailyKpis(joinedTrips(s, dir),
        to_date(col("o_orderdate")), col("l_extendedprice"), col("l_orderkey"))
      .select(col("pickup_date"),
        trunc(col("total_fare"), 2).as("total_fare"),
        col("trip_count"),
        trunc(col("average_fare"), 4).as("average_fare"),
        col("maximum_fare"), col("minimum_fare"))

  private def eventKeys(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"),
      RawEventStore.rawSortKey(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("sk"))

  /** The salted-skew-join contract query: a fifth of all events remapped
    * onto one hot user, joined to a derived user dim through
    * [[SkewJoin.saltedInner]]. The shuffle_hash hint keeps the join a
    * real shuffle (the dim would otherwise broadcast at test scale and
    * no salting would be observable in the plan).
    */
  private[graft] def skewedUserJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"),
      when(col("event_id") % 5 === 0, lit(1L)).otherwise(col("user_id"))
        .as("user_id"),
      col("value"))
    val users = ev.select(col("user_id")).distinct()
      .select(col("user_id"), (col("user_id") % 10).as("segment"))
    graft.operators.SkewJoin
      .saltedInner(ev, users.hint("shuffle_hash"), "user_id", salt = 8)
      .select("event_id", "user_id", "segment", "value")
  }

  /** Batch twin of [[graft.streaming.TripStore]]: the LWW final state of
    * the reference's table after RAW ingest, COMPLETED puts, and the
    * matcher's processed_by_matcher flips, on orders=starts /
    * lineitem=ends (deduped to first lineitem per (order, shipdate) so
    * end SKs are unique, as the streaming dedup guarantees on trips).
    */
  private def tripStoreFinal(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.TripStore
    val (raw, matcher) = tripStoreItems(s, dir)
    TripStore.finalState(raw.unionByName(matcher))
  }

  /** The trip table's item families (RAW ingest puts, matcher puts),
    * shared by [[tripStoreFinal]]'s relational twin and
    * [[tripStoreLookup]]'s on-disk store.
    */
  private def tripStoreItems(s: SparkSession, dir: String,
      shareEnds: Boolean = false): (DataFrame, DataFrame) = {
    import graft.streaming.TripStore
    val starts = Tables.orders(s, dir).select(
      col("o_orderkey").cast("string").as("trip_id"),
      lit("trip_start").as("data_type"),
      col("o_orderdate").cast("string").as("pickup_datetime"),
      col("o_totalprice").as("estimated_fare_amount"),
      lit(null).cast("string").as("dropoff_datetime"),
      lit(null).cast("double").as("fare_amount"))
    // l_linenumber alone is NOT unique in the synthetic table; extend to
    // a total order so both engines pick the same "first" lineitem.
    // min(struct(...)) — lexicographic, the same 4-column ascending
    // order as the former row_number window — aggregates with partial
    // map-side reduction and NO sort (r20: the window ran Sort+Exchange+
    // Sort twice, once per consumer branch of `ends`); any residual tie
    // is a full duplicate of the 4 ordering columns and the output reads
    // only l_extendedprice, the last of them, so the winner row is
    // identical either way.
    val ends = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"), col("l_shipdate"))
      .agg(min(struct(col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))).as("_m"))
      .select(
        col("l_orderkey").cast("string").as("trip_id"),
        lit("trip_end").as("data_type"),
        lit(null).cast("string").as("pickup_datetime"),
        lit(null).cast("double").as("estimated_fare_amount"),
        col("l_shipdate").cast("string").as("dropoff_datetime"),
        col("_m.l_extendedprice").as("fare_amount"))
      // LAZY-shared ONLY for the store build (r21): there `ends` is
      // evaluated in two SEPARATE sequential jobs (the RAW and the
      // matcher delta writes), so one materialization pays for both.
      // trip_store_final's two references live in ONE plan whose
      // branches execute concurrently on otherwise-idle cores — a
      // checkpoint there just serializes the union behind a cache-write
      // barrier (measured flat-to-worse), so the final-state path keeps
      // the duplicate subtree.
      .transform(d => if (shareEnds) Materialize.shared(d) else d)
    val sAttrs = Seq("pickup_datetime", "estimated_fare_amount")
    val eAttrs = Seq("dropoff_datetime", "fare_amount")
    val completed = starts
      .select(col("trip_id"), col("pickup_datetime"), col("estimated_fare_amount"))
      .join(ends.select(col("trip_id"), col("dropoff_datetime"), col("fare_amount")),
        Seq("trip_id"))
    (TripStore.rawItems(starts.unionByName(ends), sAttrs, eAttrs),
      TripStore.matcherItems(completed, sAttrs, eAttrs))
  }

  /** The r18 point-lookup path made oracle-visible (r18 verdict item 4):
    * the trip items are upserted into a REAL on-disk
    * [[KeyedUpsertSink]] store bucketed by `trip_id` (two deltas — RAW
    * ingest, then the matcher's puts — compacted into one snapshot), and
    * a fixed probe set (every
    * 100th order) is answered via [[KeyedUpsertSink.readStoreForKeys]],
    * which reads ONLY the probe's hash buckets. Co-resident foreign
    * trips ride along in the touched buckets by design, so the lookup
    * joins back to the probe — exactly how a production point-read uses
    * the pruned scan. The DuckDB oracle is the full LWW state filtered
    * to the same probe, so a green row proves pruned == full.
    *
    * The store's `orderCol` is the composite `struct(status_rank,
    * processed_at)` — [[graft.streaming.TripStore.finalState]]'s exact
    * ordering — so the merge's winner under the 1:N matcher (one
    * processed-start re-put per match, latest dropoff wins) is the
    * oracle's winner; a bare `status_rank` would leave rank ties to the
    * merge's replay-stable row-hash, which is deterministic but not the
    * reference's latest-processed_at semantics.
    */
  /** The on-disk trip store [[tripStoreLookup]] reads from, built ONCE
    * per JVM per source dir (r19 verdict item 2: the lookup query's
    * bench row conflated ~10 s of fixture construction with the ~1 s
    * pruned read it certifies). The store is immutable after its
    * compaction, so reuse is safe; [[Bench]] times this
    * build explicitly (`trip_store.build_sec`) before the query loop so
    * the `trip_store_lookup` row prices the LOOKUP alone.
    */
  private val tripStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def tripStoreBuild(s: SparkSession, dir: String): String =
    tripStoreDirs.computeIfAbsent(dir, _ => {
      import graft.operators.KeyedUpsertSink
      import graft.streaming.TripStore
      val (raw, matcher) = tripStoreItems(s, dir, shareEnds = true)
      val ord = struct(col("status_rank"),
        coalesce(col("processed_at"), lit(""))).as("_ord")
      val storeDir = org.apache.spark.sql.graftbridge.Bridge
        .createTempDir("trip_store_lookup")
      Seq(raw, matcher).zipWithIndex.foreach { case (items, i) =>
        KeyedUpsertSink.upsertBatch(items.withColumn("_ord", ord), storeDir,
          TripStore.Keys, "_ord", batchId = i.toLong, versionWins = true,
          bucketCols = Seq("trip_id"))
      }
      // fold both deltas into a trip_id-bucketed snapshot, so the lookup
      // certifies the bucket-pruned read and not a delta-only fold
      KeyedUpsertSink.compact(s, storeDir, TripStore.Keys)
      // both deltas are written: release the shared `ends` checkpoint
      // (it is the only checkpoint in `raw`'s plan), so the lineitem
      // aggregate does not stay resident for the session
      org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(raw)
      storeDir
    })

  private[graft] def tripStoreLookup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.KeyedUpsertSink
    val storeDir = tripStoreBuild(s, dir)
    val probe = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").cast("string").as("trip_id")).distinct()
    KeyedUpsertSink.readStoreForKeys(s, storeDir, probe, Seq("trip_id")).get
      .join(probe, Seq("trip_id"))
      .select(col("trip_id"), col("sk"), col("data_type"), col("status"),
        col("status_rank"), col("processed_at"), col("pickup_datetime"),
        col("estimated_fare_amount"), col("dropoff_datetime"),
        col("fare_amount"))
  }

  /** Point-in-time lookup: every click event annotated with the latest
    * purchase at-or-before it by the same user ([[AsOfJoin.asofBackward]]).
    * Right side is deduped to one row per (user_id, ts) — the operator's
    * uniqueness precondition — and null keys/timestamps are filtered on
    * BOTH sides so the window's null-keys-group-together semantics can't
    * diverge from the oracle's SQL-join semantics. DuckDB oracle is a
    * native `ASOF LEFT JOIN` (backward-inclusive, same semantics).
    */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    val left = ev.filter(col("event_type") === "click" &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select("event_id", "user_id", "ts", "value")
    val rRank = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("purchase_id"))
    val right = ev.filter(col("event_type") === "purchase" &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
      .withColumn("_rn", row_number().over(rRank)).filter(col("_rn") === 1)
      .drop("_rn")
    (left, right)
  }

  private def asofClickPurchase(s: SparkSession, dir: String,
      tolerance: Option[org.apache.spark.sql.Column]): DataFrame = {
    val (left, right) = asofSides(s, dir)
    AsOfJoin.asofBackward(left, right, Seq("user_id"), "ts", "ts",
      Seq("purchase_id", "purchase_value"), tolerance = tolerance)
  }

  // ---- dedup / similarity corpora (deterministically injected dups; the
  // testdata has no natural duplicates) and their oracle-SQL twins --------

  /** Exact-dup corpus: identical copies of every 10th doc under new ids. */
  private def docDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** Near-dup corpus: every 20th doc copied with two extra tokens. */
  private def docNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" extradup token")).as("text")))
  }

  /** Deterministic "crawled page" markup for the end-to-end curation
    * flagship: the `doc_html_extract` wrapper (script/style/comment/
    * entity noise) extended with the planted curation signals — a
    * period-terminated tail so units split cleanly, an intra-doc
    * REPEATED sentence on every 4th doc (unique per doc via its id, so
    * only the intra-doc pass may remove it), and a corpus-wide
    * boilerplate sentence on EVERY page (df = |corpus|, so the
    * boilerplate pass must strip it everywhere).
    */
  private def c4Html(id: Column, text: Column): Column = {
    val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(text) { case (c, (f, t)) => replace(c, lit(f), lit(t)) }
    concat(
      lit("<html><head><style>p { color: #c00; }</style>" +
        "<script type=\"text/javascript\">if (x < 2 && y > 1) { alert(\"hi\"); }" +
        "</script></head><body><h1>Doc "),
      id,
      lit("</h1><!-- crawl artifact --><p>"),
      esc,
      lit(" &amp; more &lt;raw&gt;&nbsp;tail.</p>"),
      when(id % 4 === 0,
        concat(lit("<p>Limited time offer number "), id,
          lit(". Limited time offer number "), id, lit(".</p>")))
        .otherwise(lit("")),
      lit("<p>Subscribe to our newsletter for free offers.</p>" +
        "</body></html>"))
  }

  /** Embedding corpus with identical copies of every 25th vector.
    * `private[graft]`: [[Bench]] reuses it to compute ANN ground truth
    * on the same corpus the banded contract query retrieves from.
    */
  private[graft] def embDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  }

  private[graft] def annQueries(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0)

  // SQL fragment generators for the DuckDB oracles. Constants (seeds,
  // hyperplanes, shingle sizes) must track the Scala operators exactly.
  private val corpusExactSql =
    """corpus AS (SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id+100000 AS doc_id, text FROM documents WHERE doc_id%10=0)""".stripMargin
  private val corpusNearSql =
    """corpus AS (SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id+100000 AS doc_id, text || ' extradup token' AS text
      |FROM documents WHERE doc_id%20=0)""".stripMargin
  private val embCorpusSql =
    """corpus AS (SELECT vec_id, embedding FROM embeddings UNION ALL
      |SELECT vec_id+100000 AS vec_id, embedding FROM embeddings WHERE vec_id%25=0)""".stripMargin

  /** The trip table's LWW final state — shared by the trip_store_final
    * oracle and trip_store_lookup's probe-filtered variant.
    */
  private val tripStoreFinalSql: String =
    """WITH starts AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS trip_id,
      |         CAST(o_orderdate AS VARCHAR) AS pickup_datetime,
      |         o_totalprice AS estimated_fare_amount FROM orders),
      |ends AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS trip_id,
      |         CAST(l_shipdate AS VARCHAR) AS dropoff_datetime,
      |         l_extendedprice AS fare_amount
      |  FROM (SELECT l_orderkey, l_shipdate, l_extendedprice,
      |        row_number() OVER (PARTITION BY l_orderkey, l_shipdate
      |          ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice)
      |          AS rn FROM lineitem) t WHERE rn = 1),
      |items AS (
      |  SELECT trip_id, concat_ws('#', 'RAW', 'trip_start', pickup_datetime) AS sk,
      |    'trip_start' AS data_type, 'raw' AS status, CAST(0 AS BIGINT) AS status_rank,
      |    CAST(NULL AS VARCHAR) AS processed_at, pickup_datetime,
      |    estimated_fare_amount, CAST(NULL AS VARCHAR) AS dropoff_datetime,
      |    CAST(NULL AS DOUBLE) AS fare_amount FROM starts
      |  UNION ALL
      |  SELECT trip_id, concat_ws('#', 'RAW', 'trip_end', dropoff_datetime),
      |    'trip_end', 'raw', 0, NULL, NULL, NULL, dropoff_datetime, fare_amount
      |  FROM ends
      |  UNION ALL
      |  SELECT s.trip_id, concat_ws('#', 'COMPLETED', e.dropoff_datetime),
      |    'completed_trip', 'completed', 1, NULL, s.pickup_datetime,
      |    s.estimated_fare_amount, e.dropoff_datetime, e.fare_amount
      |  FROM starts s JOIN ends e USING (trip_id)
      |  UNION ALL
      |  SELECT s.trip_id, concat_ws('#', 'RAW', 'trip_start', s.pickup_datetime),
      |    'trip_start', 'processed_by_matcher', 1, e.dropoff_datetime,
      |    s.pickup_datetime, s.estimated_fare_amount, NULL, NULL
      |  FROM starts s JOIN ends e USING (trip_id)
      |  UNION ALL
      |  SELECT s.trip_id, concat_ws('#', 'RAW', 'trip_end', e.dropoff_datetime),
      |    'trip_end', 'processed_by_matcher', 1, e.dropoff_datetime,
      |    NULL, NULL, e.dropoff_datetime, e.fare_amount
      |  FROM starts s JOIN ends e USING (trip_id))
      |SELECT trip_id, sk, data_type, status, status_rank, processed_at,
      |  pickup_datetime, estimated_fare_amount, dropoff_datetime, fare_amount
      |FROM (SELECT *, row_number() OVER (PARTITION BY trip_id, sk
      |      ORDER BY status_rank DESC, processed_at DESC NULLS LAST) AS rn
      |      FROM items) f WHERE rn = 1""".stripMargin

  /** The full c4_end_to_end CTE chain through the packed relation
    * `pk` — shared by the c4_end_to_end oracle and the c4_shards
    * oracle (which deals `pk` into per-split fixed-count training
    * shards). Callers prepend `WITH RECURSIVE ` (the reach CTE).
    */
  private def c4ChainSql: String =
    s"""$corpusNearSql,
         |hsrc AS (SELECT doc_id,
         |  '<html><head><style>p { color: #c00; }</style>' ||
         |  '<script type="text/javascript">if (x < 2 && y > 1) { alert("hi"); }' ||
         |  '</script></head><body><h1>Doc ' || doc_id ||
         |  '</h1><!-- crawl artifact --><p>' ||
         |  replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
         |  ' &amp; more &lt;raw&gt;&nbsp;tail.</p>' ||
         |  CASE WHEN doc_id % 4 = 0 THEN '<p>Limited time offer number ' ||
         |    doc_id || '. Limited time offer number ' || doc_id || '.</p>'
         |    ELSE '' END ||
         |  '<p>Subscribe to our newsletter for free offers.</p></body></html>' AS html
         |  FROM corpus),
         |ex1 AS (SELECT doc_id,
         |  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
         |  FROM hsrc),
         |ex2 AS (SELECT doc_id,
         |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM ex1),
         |ex3 AS (SELECT doc_id,
         |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM ex2),
         |ex4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM ex3),
         |exd AS (SELECT doc_id,
         |  replace(replace(replace(replace(replace(replace(replace(t,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM ex4),
         |ex AS MATERIALIZED (SELECT doc_id,
         |  trim(regexp_replace(t, '[ \\t\\n\\r\\f]+', ' ', 'g')) AS text FROM exd),
         |q AS (SELECT doc_id, text,
         |  least(length(text)/500.0, 1.0) AS len_score,
         |  len(regexp_extract_all(text, '[[:punct:]]'))
         |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
         |  len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it|that)\\b'))
         |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
         |        ELSE len(string_split_regex(trim(text), '\\s+')) END, 1) AS DOUBLE) AS stopword_ratio,
         |  CASE WHEN length(trim(text))=0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens
         |  FROM ex),
         |sc AS (SELECT doc_id, ws_tokens, text,
         |  0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
         |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)) AS quality_score FROM q),
         |h AS (SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b')) AS en,
         |  len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS de,
         |  len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une)\\b')) AS fr,
         |  len(regexp_extract_all(lower(text), '\\b(el|los|las|es|una|que)\\b')) AS es,
         |  len(regexp_extract_all(text, '\\p{Han}')) AS zh FROM ex),
         |lang AS (SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM h),
         |keptx AS (SELECT min(doc_id) AS doc_id FROM ex GROUP BY md5(text)),
         |rep0 AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM ex),
         |repm AS (SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS dt,
         |  greatest(len(toks)-1, 0) AS nb FROM rep0),
         |repbg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
         |  FROM rep0, unnest(range(1, len(toks))) u(i)),
         |reptop AS (SELECT doc_id, max(c) AS topc FROM (
         |  SELECT doc_id, g, count(*) AS c FROM repbg GROUP BY 1, 2) GROUP BY doc_id),
         |rep AS (SELECT m.doc_id,
         |  CASE WHEN nt = 0 THEN 0 ELSE 1 - dt/nt::DOUBLE END AS dup_frac,
         |  CASE WHEN nb = 0 THEN 0 ELSE coalesce(topc, 0)/nb::DOUBLE END AS top_frac
         |  FROM repm m LEFT JOIN reptop USING (doc_id)),
         |cur AS MATERIALIZED (SELECT s.doc_id, s.text
         |  FROM sc s JOIN lang l USING (doc_id) JOIN keptx k ON s.doc_id = k.doc_id
         |  JOIN rep r ON s.doc_id = r.doc_id
         |  WHERE s.quality_score >= 0.5 AND l.lang_pred = 'en'
         |  AND s.ws_tokens BETWEEN 20 AND 1000
         |  AND r.dup_frac <= 0.6 AND r.top_frac <= 0.2),
         |ba AS (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS arr FROM cur),
         |bu0 AS (SELECT doc_id, i - 1 AS pos, trim(arr[i::INT]) AS unit
         |  FROM ba, unnest(range(1, len(arr) + 1)) AS r(i)),
         |bu AS (SELECT * FROM bu0 WHERE unit <> ''),
         |bhot AS (SELECT unit FROM (SELECT unit, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, unit FROM bu) GROUP BY unit)
         |  WHERE df >= 3),
         |bk AS (SELECT * FROM bu WHERE unit NOT IN (SELECT unit FROM bhot)),
         |brb AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS t
         |  FROM bk GROUP BY 1),
         |deb AS MATERIALIZED (SELECT c.doc_id, COALESCE(brb.t, '') AS text
         |  FROM cur c LEFT JOIN brb ON c.doc_id = brb.doc_id),
         |ia AS (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS arr FROM deb),
         |iu0 AS (SELECT doc_id, i - 1 AS pos, trim(arr[i::INT]) AS unit
         |  FROM ia, unnest(range(1, len(arr) + 1)) AS r(i)),
         |iu AS (SELECT * FROM iu0 WHERE unit <> ''),
         |ik AS (SELECT doc_id, pos, unit FROM (SELECT doc_id, pos, unit,
         |  row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos) AS occ
         |  FROM iu) WHERE occ = 1),
         |irb AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS t
         |  FROM ik GROUP BY 1),
         |intra AS MATERIALIZED (SELECT d.doc_id, COALESCE(irb.t, '') AS text
         |  FROM deb d LEFT JOIN irb ON d.doc_id = irb.doc_id),
         |ntok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM intra),
         |nshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-3,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS shingles FROM ntok),
         |nsh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM nshs),
         |nhot AS (SELECT shingle FROM nsh0 GROUP BY shingle HAVING count(*) > $ShingleDfCap),
         |nsh AS MATERIALIZED (SELECT id, shingle FROM nsh0
         |  WHERE shingle NOT IN (SELECT shingle FROM nhot)),
         |sizes AS (SELECT id, count(*) AS sz FROM nsh GROUP BY id),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM nsh a JOIN nsh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |jp AS (SELECT p.id_a, p.id_b FROM prs p
         |  JOIN sizes sa ON p.id_a = sa.id JOIN sizes sb ON p.id_b = sb.id
         |  WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |repx AS (SELECT i.doc_id, COALESCE(cl.cluster_id, i.doc_id) AS rep_id
         |  FROM intra i LEFT JOIN clusters cl ON i.doc_id = cl.id),
         |bkx AS (SELECT repx.doc_id, ${hash60Sql("rt.text")} % 100 AS bucket
         |  FROM repx JOIN intra rt ON repx.rep_id = rt.doc_id),
         |spl AS (SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
         |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM bkx),
         |keptn AS (SELECT doc_id FROM intra
         |  WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)),
         |tokc AS (SELECT i.doc_id, s.split,
         |  CAST(CASE WHEN length(trim(i.text))=0 THEN 0
         |    ELSE len(string_split_regex(trim(i.text), '\\s+')) END AS BIGINT) AS ws_tokens
         |  FROM intra i JOIN spl s ON i.doc_id = s.doc_id
         |  JOIN keptn k ON i.doc_id = k.doc_id),
         |pk AS (SELECT doc_id, split, ws_tokens,
         |CAST(coalesce(sum(ws_tokens) OVER (PARTITION BY split ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
         |CAST(floor(coalesce(sum(ws_tokens) OVER (PARTITION BY split ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
         |  AS BIGINT) AS bin
         |FROM tokc)""".stripMargin


  /** Shingle CTEs over `corpus` for word n-grams (mirrors TextHash.wordShingles
    * + array_distinct).
    */
  private def shingleSql(n: Int): String =
    s"""tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
       |shs AS (SELECT doc_id, list_distinct(list_transform(
       |  range(0, greatest(len(toks)-$n,0)+1),
       |  i -> array_to_string(toks[(i+1):(i+$n)], ' '))) AS shingles FROM tok)""".stripMargin

  /** Capped shingle-row CTE `sh` (mirrors Dedup.shingles' maxDocFreq
    * skew guard: shingles in more than `cap` docs are dropped before the
    * pair join, and set sizes count the capped universe).
    */
  private def cappedShSql(cap: Long): String =
    s"""sh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM shs),
       |hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $cap),
       |sh AS (SELECT id, shingle FROM sh0
       |  WHERE shingle NOT IN (SELECT shingle FROM hot))""".stripMargin

  /** The df-cap used by the oracled jaccard/containment/clusters queries.
    * At the test SFs no shingle exceeds it (max df 28 at sf0.1), so the
    * capped results equal the exact ones; at 100 TB it is the guard that
    * keeps a boilerplate shingle from making the join quadratic.
    */
  private val ShingleDfCap = 100L

  private def hash60Sql(e: String): String =
    s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** DuckDB cell column for CMS seed `i` over pre-hashed `h`
    * ([[graft.functions.TextHash.mixSeeded]] twin — the same affine
    * constants the minhash oracle inlines, reduced mod `width`; every
    * intermediate stays inside signed-64 exactly as the Spark side).
    */
  private def cmsColSql(h: String, i: Int, width: Int): String = {
    val (a, b, c) = graft.functions.TextHash
      .mixConstants(graft.operators.FreqSketch.DefaultDepth)(i)
    s"(($a*($h & 1073741823) + $b*($h >> 30) + $c) % " +
      s"${graft.functions.TextHash.Mersenne61}) % $width"
  }

  /** The shared CMS oracle prefix: corpus tokens -> hashed relation `t`
    * -> per-seed cell rows `x` -> register relation `regs`.
    */
  private def cmsRegsSql: String = {
    val seeds = (0 until graft.operators.FreqSketch.DefaultDepth)
      .map(i => s"SELECT $i AS r, ${cmsColSql("h", i, 256)} AS c FROM t")
      .mkString("\n|  UNION ALL ")
    s"""tk AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |t AS (SELECT doc_id, tok, ${hash60Sql("tok")} AS h FROM tk
       |  WHERE tok <> ''),
       |x AS ($seeds),
       |regs AS (SELECT r, c, count(*)::BIGINT AS cnt FROM x GROUP BY r, c)""".stripMargin
  }

  /** The bloom eval-filter CTE chain: injected 25-token eval prefixes
    * -> per-doc-distinct 5-gram shingles `esh` -> distinct bit relation
    * `ebit` (k=4, m=65536 — the same affine constants as the CMS cells,
    * reduced mod numBits).
    */
  private def bloomEvalBitsSql: String = {
    val seeds = (0 until graft.operators.BloomSet.DefaultHashes)
      .map(i => s"SELECT ${cmsColSql("h", i, graft.operators.BloomSet.DefaultBits)} AS bit FROM ehh")
      .mkString("\n|  UNION ALL ")
    s"""ev AS (SELECT doc_id+500000 AS doc_id,
       |  array_to_string((string_split_regex(trim(text), '\\s+'))[1:25], ' ') AS text
       |  FROM documents WHERE doc_id%50=0),
       |etok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM ev),
       |eshs AS (SELECT doc_id, list_distinct(list_transform(
       |  range(0, greatest(len(toks)-5,0)+1),
       |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM etok),
       |esh AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM eshs),
       |ehh AS (SELECT ${hash60Sql("shingle")} AS h
       |  FROM (SELECT DISTINCT shingle FROM esh)),
       |ebit AS (SELECT DISTINCT bit FROM ($seeds))""".stripMargin
  }

  /** The CMS estimate CTEs over `regs` for the distinct tokens of every
    * 100th doc: per-seed query cells `qx` -> min-cell estimate `est`.
    */
  private def cmsEstSql: String = {
    val seeds = (0 until graft.operators.FreqSketch.DefaultDepth)
      .map(i => s"SELECT tok, $i AS r, ${cmsColSql("h", i, 256)} AS c FROM q")
      .mkString("\n|  UNION ALL ")
    s"""q AS (SELECT DISTINCT tok, h FROM t WHERE doc_id % 100 = 0),
       |qx AS ($seeds),
       |est AS (SELECT qx.tok,
       |  CAST(min(coalesce(regs.cnt, 0)) AS BIGINT) AS cms_count
       |  FROM qx LEFT JOIN regs ON qx.r = regs.r AND qx.c = regs.c
       |  GROUP BY qx.tok)""".stripMargin
  }

  /** DSIR weight CTE chain `w` (mirrors [[Relevance.dsirLogWeights]]
    * with target = lang 'en', 256 buckets): hashed-bucket conditional
    * counts → Laplace-smoothed log-ratio per token → per-doc DECIMAL
    * sum floored at 1e-4. The Spark side inlines the two totals as
    * driver literals; here they ride a 1-row `tot` CTE — same values,
    * same per-step IEEE ops (divide, ln).
    */
  private val dsirModelChainSql: String =
    s"""model AS (SELECT bucket,
       |  sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
       |  sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS cr
       |  FROM tk GROUP BY bucket),
       |tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM model),
       |lp AS (SELECT t.doc_id,
       |  ln((m.ct + 1)::DOUBLE / ((tot.nt + 256)::DOUBLE)) -
       |  ln((m.cr + 1)::DOUBLE / ((tot.nr + 256)::DOUBLE)) AS lp
       |  FROM tk t JOIN model m USING (bucket), tot WHERE NOT t.tgt),
       |w AS (SELECT doc_id, count(*)::BIGINT AS n_toks,
       |  floor(sum(lp::DECIMAL(38,12))::DOUBLE * 10000)/10000 AS log_weight
       |  FROM lp GROUP BY doc_id)""".stripMargin

  private val dsirWeightsSql: String =
    s"""tk AS (SELECT doc_id, tgt, ${hash60Sql("tok")} % 256 AS bucket
       |  FROM (SELECT doc_id, lang = 'en' AS tgt,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |    FROM documents) u WHERE tok <> ''),
       |$dsirModelChainSql""".stripMargin

  /** The bigram-extended gram relation ([[Relevance.dsirLogWeights]]
    * with bigrams = true): unigrams UNION ALL adjacent-token pairs from
    * the token array — then the identical model chain.
    */
  private val dsirBigramWeightsSql: String =
    s"""tokl AS (SELECT doc_id, lang = 'en' AS tgt,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |gr AS (SELECT doc_id, tgt, unnest(toks) AS tok FROM tokl
       |  UNION ALL
       |  SELECT doc_id, tgt, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS tok FROM tokl),
       |tk AS (SELECT doc_id, tgt, ${hash60Sql("tok")} % 256 AS bucket
       |  FROM gr WHERE tok <> ''),
       |$dsirModelChainSql""".stripMargin

  /** 16-term minhash signature list over the pre-hashed shingle list `hs`
    * (TextHash.mixSeeded affine family, same constants).
    */
  private def minhashSigSql: String = {
    val m = graft.functions.TextHash.Mersenne61
    "[" + graft.functions.TextHash.mixConstants(16).map { case (a, b, c) =>
      s"list_min(list_transform(hs, h -> ($a*(h & 1073741823) + $b*(h >> 30) + $c) % $m))"
    }.mkString(", ") + "]"
  }

  /** 16-bit simhash over the shingle set (TextHash.simHash). */
  private def simhashSql: String = {
    val terms = (0 until 16).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1
         | THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END""".stripMargin
    }
    terms.mkString("(", " + ", ")")
  }

  /** Sequential-order double cosine (SimilaritySearch.cosine). */
  private def dotSql(a: String, b: String): String =
    (1 to SimilaritySearch.Dim).map(i => s"$a[$i]::DOUBLE*$b[$i]::DOUBLE").mkString(" + ")
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Subspace dot product for the PQ oracle: 8 terms of a[aOff+i]*b[bOff+i],
    * strictly left-to-right like the Spark-side sliced dot.
    */
  private def subDotSql(a: String, aOff: String, b: String, bOff: String): String =
    (1 to 8).map(i => s"$a[$aOff + $i]::DOUBLE * $b[$bOff + $i]::DOUBLE")
      .mkString(" + ")

  /** 8-bit Rademacher LSH bucket (SimilaritySearch.lshBucket). */
  private def bucketSql(v: String): String = {
    val planes = SimilaritySearch.hyperplanes(8)
    (0 until 8).map { j =>
      val proj = (1 to SimilaritySearch.Dim)
        .map(i => s"$v[$i]::DOUBLE*${planes(j)(i - 1)}.0").mkString(" + ")
      s"CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }

  /** Banded LSH bucket for table `t` (SimilaritySearch.lshBandBucket):
    * sign bits over hyperplanes [t*b, (t+1)*b) of the same fixed matrix.
    */
  private def bandBucketSql(v: String, t: Int, b: Int): String = {
    val planes = SimilaritySearch.hyperplanes((t + 1) * b)
    (0 until b).map { j =>
      val proj = (1 to SimilaritySearch.Dim)
        .map(i => s"$v[$i]::DOUBLE*${planes(t * b + j)(i - 1)}.0").mkString(" + ")
      s"CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }

  /** Unrolled PageRank CTE chain (mirrors [[graft.operators.PageRank.ranks]]):
    * symmetrized supplier—customer edges, then per superstep one
    * join+group-by CTE computing r_i from r_{i-1} with the identical
    * integer recurrence (floor divisions of non-negative longs,
    * associative BIGINT sums — DuckDB sums into HUGEINT, hence the
    * ::BIGINT casts).
    */
  /** The BPE trainer unrolled for DuckDB: `steps` CTE rounds, each
    * (pair count → top-1 by (n DESC, l, r) → greedy non-overlapping
    * merge via gaps-and-islands odd-rank starts → renumber). Mirrors
    * [[graft.functions.TextAnalysis.bpeMergeSequence]] exactly: same
    * tokenization, same total order, same alternation rule (overlap
    * only exists for self-pairs, where starts are odd ranks within
    * runs of consecutive candidate positions).
    */
  private def bpeMergeSql(steps: Int, src: String = "documents"): String = {
    // every t/st/top CTE is referenced 2-4 times per round — DuckDB
    // inlines CTEs by default, so without MATERIALIZED the reference
    // tree expands ~4^steps scans of documents.parquet (observed as an
    // fd-exhaustion error at 6 rounds); materializing makes each round
    // O(tokens) like the Spark loop
    val tok =
      s"""tk AS (SELECT doc_id AS id,
        |  string_split_regex(trim(text), '\\s+') AS toks FROM $src),
        |t0 AS MATERIALIZED (SELECT id, u.pos, u.tok FROM (SELECT id,
        |  unnest(list_transform(range(1, len(toks) + 1),
        |    p -> struct_pack(pos := p - 1, tok := toks[p]))) AS u FROM tk))""".stripMargin
    val rounds = (0 until steps).map { s =>
      s"""pc$s AS (SELECT a.tok AS l, b.tok AS r, count(*)::BIGINT AS n
         |  FROM t$s a JOIN t$s b ON a.id = b.id AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |top$s AS MATERIALIZED (SELECT l, r, n FROM pc$s
         |  ORDER BY n DESC, l, r LIMIT 1),
         |cnd$s AS (SELECT a.id, a.pos FROM t$s a
         |  JOIN t$s b ON a.id = b.id AND b.pos = a.pos + 1, top$s
         |  WHERE a.tok = top$s.l AND b.tok = top$s.r),
         |st$s AS MATERIALIZED (SELECT id, pos FROM (
         |  SELECT id, pos, row_number() OVER (
         |    PARTITION BY id, g ORDER BY pos) AS rn FROM (
         |    SELECT id, pos, pos - row_number() OVER (
         |      PARTITION BY id ORDER BY pos) AS g FROM cnd$s) i) j
         |  WHERE rn % 2 = 1),
         |t${s + 1} AS MATERIALIZED (SELECT id, row_number() OVER (
         |    PARTITION BY id ORDER BY pos) - 1 AS pos, tok FROM (
         |  SELECT t.id, t.pos, CASE WHEN st.pos IS NOT NULL
         |    THEN t.tok || ' ' || nx.tok ELSE t.tok END AS tok
         |  FROM t$s t
         |  LEFT JOIN t$s nx ON t.id = nx.id AND nx.pos = t.pos + 1
         |  LEFT JOIN st$s st ON t.id = st.id AND t.pos = st.pos
         |  LEFT JOIN st$s sp ON t.id = sp.id AND t.pos = sp.pos + 1
         |  WHERE sp.pos IS NULL) m)""".stripMargin
    }
    (tok +: rounds).mkString(",\n")
  }

  /** The ENCODE side unrolled over a FRESH corpus: apply each trained
    * merge `top$s` (from a preceding [[bpeMergeSql]] chain) to `src`'s
    * token stream in sequence — the same greedy odd-rank-island rewrite
    * the trainer uses, but driven by the learned table instead of pair
    * counts. Yields `e0 … e$steps`.
    */
  private def bpeEncodeSql(steps: Int, src: String): String = {
    val tok =
      s"""ek AS (SELECT doc_id AS id,
        |  string_split_regex(trim(text), '\\s+') AS toks FROM $src),
        |e0 AS MATERIALIZED (SELECT id, u.pos, u.tok FROM (SELECT id,
        |  unnest(list_transform(range(1, len(toks) + 1),
        |    p -> struct_pack(pos := p - 1, tok := toks[p]))) AS u FROM ek))""".stripMargin
    val rounds = (0 until steps).map { s =>
      s"""ecnd$s AS (SELECT a.id, a.pos FROM e$s a
         |  JOIN e$s b ON a.id = b.id AND b.pos = a.pos + 1, top$s
         |  WHERE a.tok = top$s.l AND b.tok = top$s.r),
         |est$s AS MATERIALIZED (SELECT id, pos FROM (
         |  SELECT id, pos, row_number() OVER (
         |    PARTITION BY id, g ORDER BY pos) AS rn FROM (
         |    SELECT id, pos, pos - row_number() OVER (
         |      PARTITION BY id ORDER BY pos) AS g FROM ecnd$s) i) j
         |  WHERE rn % 2 = 1),
         |e${s + 1} AS MATERIALIZED (SELECT id, row_number() OVER (
         |    PARTITION BY id ORDER BY pos) - 1 AS pos, tok FROM (
         |  SELECT t.id, t.pos, CASE WHEN st.pos IS NOT NULL
         |    THEN t.tok || ' ' || nx.tok ELSE t.tok END AS tok
         |  FROM e$s t
         |  LEFT JOIN e$s nx ON t.id = nx.id AND nx.pos = t.pos + 1
         |  LEFT JOIN est$s st ON t.id = st.id AND t.pos = st.pos
         |  LEFT JOIN est$s sp ON t.id = sp.id AND t.pos = sp.pos + 1
         |  WHERE sp.pos IS NULL) m)""".stripMargin
    }
    (tok +: rounds).mkString(",\n")
  }

  /** Unrolled perceptron training replay (mirrors
    * [[graft.operators.Perceptron.trainHistory]]): epoch e scores every
    * doc with w_{e−1} (w_0 = 0 → every doc misclassified), then
    * w_e = w_{e−1} + Σ_{misclassified} y·n per bucket. All-integer, so
    * one mis-scored doc in any epoch shifts every later w. Yields CTEs
    * f/lab/bu, d1/w1/m1 … d{E}/w{E}/m{E}.
    */
  private def perceptronSql(epochs: Int, dim: Int): String = {
    val base =
      s"""f AS MATERIALIZED (SELECT doc_id AS id,
         |  ${hash60Sql("tok")} % $dim AS bucket, count(*)::BIGINT AS n
         |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |    FROM documents) u
         |  WHERE tok <> '' GROUP BY 1, 2),
         |lab AS MATERIALIZED (SELECT doc_id AS id,
         |  CASE WHEN lang = 'en' THEN 1::BIGINT ELSE -1::BIGINT END AS y
         |  FROM documents),
         |bu AS (SELECT range::BIGINT AS bucket FROM range(0, $dim)),
         |d1 AS (SELECT f.bucket, sum(l.y * f.n)::BIGINT AS d
         |  FROM f JOIN lab l USING (id) GROUP BY f.bucket),
         |w1 AS MATERIALIZED (SELECT b.bucket, coalesce(d1.d, 0)::BIGINT AS w
         |  FROM bu b LEFT JOIN d1 USING (bucket)),
         |m1 AS (SELECT count(*)::BIGINT AS m FROM lab)""".stripMargin
    val rounds = (2 to epochs).map { e =>
      s"""s$e AS (SELECT l.id, l.y, coalesce(sum(f.n * w.w), 0)::BIGINT AS s
         |  FROM lab l LEFT JOIN f ON l.id = f.id
         |  LEFT JOIN w${e - 1} w ON f.bucket = w.bucket
         |  GROUP BY l.id, l.y),
         |mis$e AS MATERIALIZED (SELECT id, y FROM s$e WHERE y * s <= 0),
         |m$e AS (SELECT count(*)::BIGINT AS m FROM mis$e),
         |d$e AS (SELECT f.bucket, sum(mm.y * f.n)::BIGINT AS d
         |  FROM f JOIN mis$e mm USING (id) GROUP BY f.bucket),
         |w$e AS MATERIALIZED (SELECT w.bucket, (w.w + coalesce(d$e.d, 0))::BIGINT AS w
         |  FROM w${e - 1} w LEFT JOIN d$e USING (bucket))""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private def pagerankSql(iters: Int, scale: Long,
      seedPred: Option[String => String] = None,
      weighted: Boolean = false,
      ebaseOverride: Option[String] = None): String = {
    // restart mass: uniform over all nodes, or (personalized) only over
    // nodes matching the seed predicate — same integer recurrence.
    // weighted: mass splits by integer edge weight, contribution
    // (rank // Σw) * w; the unweighted text keeps its w=1 formulation.
    val nFilter = seedPred.map(f => s" WHERE ${f("src")}").getOrElse("")
    def restart(c: String, amount: String) = seedPred match {
      case None => amount
      case Some(f) => s"CASE WHEN ${f(c)} THEN $amount ELSE 0 END"
    }
    val (ebaseSel, edgeW, degExpr, contrib) =
      if (weighted)
        ("'s' || l_suppkey AS a, 'c' || o_custkey AS b, count(*)::BIGINT AS w" +
           " FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2",
          ", w",
          "sum(w)::BIGINT AS outw",
          "(r.rank // d.outw) * e.w")
      else
        (ebaseOverride.getOrElse(
          "DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b" +
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
          "",
          "count(*)::BIGINT AS outdeg",
          "r.rank // d.outdeg")
    val base =
      s"""ebase AS (SELECT $ebaseSel),
         |edges AS (SELECT a AS src, b AS dst$edgeW FROM ebase
         |  UNION SELECT b AS src, a AS dst$edgeW FROM ebase),
         |deg AS (SELECT src, $degExpr FROM edges GROUP BY src),
         |nn AS (SELECT count(*)::BIGINT AS n FROM deg$nFilter),
         |r0 AS (SELECT src AS node,
         |  ${restart("src", s"($scale // (SELECT n FROM nn))")}::BIGINT AS rank
         |  FROM deg)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  ${restart("e.dst", s"(($scale * 15) // (100 * (SELECT n FROM nn)))")}::BIGINT
         |    + ((85 * sum($contrib)) // 100)::BIGINT AS rank
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** The symmetrized supplier—customer co-purchase edge table shared by
    * the PageRank queries.
    */
  // The three PageRank variants run the same graph; the expensive parts
  // — the lineitem⋈orders co-purchase base and the prepared
  // (src, dst, w, outw) superstep relation — are shared per
  // (session, sf dir) instead of rebuilt per query (the r11 verdict's
  // "cross-query sharing of the edge/degree materialization" item).
  // DataFrames are session-bound, so the session identity rides the key.
  // identityHashCode is not unique across GC generations and stopped
  // sessions would otherwise pin their checkpointed RDDs forever, so:
  // (a) stopped-session entries are evicted on every access, and (b) a
  // hit is only served if the cached DataFrame's session IS the caller's
  // (else rebuilt in place).
  private val graphShared =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def sharedKey(s: SparkSession, dir: String, kind: String) =
    s"$kind|${System.identityHashCode(s)}|$dir"
  private def sharedGet(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    graphShared.filterInPlace((_, df) =>
      !df.sparkSession.sparkContext.isStopped)
    val key = sharedKey(s, dir, kind)
    graphShared.get(key) match {
      case Some(df) if df.sparkSession eq s => df
      case _ => val df = build; graphShared.put(key, df); df
    }
  }

  /** The image near-dup test corpus: documents plus a planted
    * "re-encode" of every 20th (one sampled byte changed — flips at
    * most two dHash gradient bits, so each planted copy pairs with its
    * source at hamming <= 2). Shared by media_neardup_pairs/_kept.
    */
  private def mediaNearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val len = length(col("text"))
    val idx0 = floor(len * 40 / 72).cast("int") // 0-based, == sample k=40
    val planted = docs
      .filter(col("doc_id") % 20 === 0 && len >= 72)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text").substr(lit(1), idx0),
          chr(lit(65) + pmod(col("doc_id"), lit(26))),
          col("text").substr(idx0 + lit(2), len)).as("text"))
    docs.unionByName(planted)
  }

  /** Audio near-dup corpus: the audio-typed documents (doc_id % 3 == 1
    * under [[graft.sources.MediaColumns.mediaFromDocuments]]'s
    * round-robin) plus a planted "re-encode" of every 20th audio doc —
    * one mid-payload byte changed, which moves ONE energy frame and
    * flips at most the two adjacent gradient bits of the fingerprint.
    * Copy ids ride +30000000 (≡ 0 mod 3, so copies keep the audio
    * media_type).
    */
  private def audioNearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir).select("doc_id", "text")
      .filter(col("doc_id") % 3 === 1)
    val len = length(col("text"))
    val idx0 = floor(len / 2).cast("int") // 0-based perturbed offset
    val planted = a.filter(col("doc_id") % 60 === 1 && len >= 65)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        concat(col("text").substr(lit(1), idx0),
          chr(lit(65) + pmod(col("doc_id"), lit(26))),
          col("text").substr(idx0 + lit(2), len)).as("text"))
    a.unionByName(planted)
  }

  /** Video near-dup corpus: the video-typed documents (doc_id % 3 == 2)
    * plus a planted "re-encode" of every 10th long-enough video doc —
    * one byte changed INSIDE EACH of the four sampled frame windows
    * (offset j*64+30, clear of the 8-byte window overlaps), so every
    * frame's dHash flips at most 2 bits and the aligned frame sets
    * match at hamming <= 2. len >= 264 guarantees all four frames
    * exist on both sides.
    */
  private def videoNearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(s, dir).select("doc_id", "text")
      .filter(col("doc_id") % 3 === 2)
    val len = length(col("text"))
    def seg(j: Int) =
      chr(lit(65) + pmod(col("doc_id") + j, lit(26)))
    val planted = v.filter(col("doc_id") % 30 === 2 && len >= 264)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        concat(
          col("text").substr(lit(1), lit(30)), seg(0),
          col("text").substr(lit(32), lit(63)), seg(1),
          col("text").substr(lit(96), lit(63)), seg(2),
          col("text").substr(lit(160), lit(63)), seg(3),
          col("text").substr(lit(224), len)).as("text"))
    v.unionByName(planted)
  }

  /** Cross-modal (image, caption) paired corpus: every doc's "image"
    * is its text bytes, its caption the first 12 words. Two plant
    * families, each invisible to ONE modality: +400000 = the SAME
    * image re-captioned to unrelated text (every 20th doc — only the
    * image edge can catch it), +500000 = the SAME caption under an
    * unrelated image (bytes reversed; every 20th doc offset 10 — only
    * the caption edge can catch it). Shared by
    * multimodal_neardup_pairs/_kept.
    */
  private def multimodalCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val base = d.select(col("doc_id"), col("text").as("img"),
      array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " ")
        .as("caption"))
    val reCaptioned = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 400000L).as("doc_id"), col("img"),
        concat(lit("stock photo "), col("doc_id").cast("string"),
          lit(" catalog asset")).as("caption"))
    val reEncoded = base.filter(col("doc_id") % 20 === 10)
      .select((col("doc_id") + 500000L).as("doc_id"),
        reverse(col("img")).as("img"), col("caption"))
    // genuinely NEW pairs (unrelated image bytes, unrelated caption):
    // the survivors the incremental kept-set must NOT drop
    val genuinelyNew = base.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + 600000L).as("doc_id"),
        reverse(col("img")).as("img"),
        concat(lit("exclusive artwork "), col("doc_id").cast("string"),
          lit(" limited edition")).as("caption"))
    base.unionByName(reCaptioned).unionByName(reEncoded)
      .unionByName(genuinelyNew)
      .select(col("doc_id"), encode(col("img"), "UTF-8").as("payload"),
        col("caption"))
  }

  /** One (a = supplier node, b = customer node) row per lineitem.
    *
    * Node ids are LONGS (supplier k -> 2k, customer k -> 2k+1), not the
    * "s<k>"/"c<k>" strings the contract outputs: the edge relation is
    * what every superstep shuffles and what [[graft.operators.PageRank
    * .prepare]] materializes — string keys tripled its memory footprint
    * and, at the 100x scale probe, pushed the checkpointed edge blocks
    * past the block manager's storage fraction (eviction + recompute
    * showed up as 2x-above-linear prep cost and high variance). The
    * contract queries decode ids back to the exact same strings at
    * their FINAL projection ([[copurchaseNodeName]]), so the oracles
    * are untouched and only N output rows pay the decode.
    */
  private def copurchaseBase(s: SparkSession, dir: String): DataFrame =
    sharedGet(s, dir, "base")(
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey").cast("long") * 2).as("a"),
          (col("o_custkey").cast("long") * 2 + 1).as("b"))
        .transform(Materialize.shared))

  /** Decode a long co-purchase node id back to the contract's string
    * form: even 2k -> "s<k>" (supplier), odd 2k+1 -> "c<k>" (customer).
    */
  private def copurchaseNodeName(c: Column): Column =
    when(pmod(c, lit(2)) === 0, concat(lit("s"), shiftright(c, 1)))
      .otherwise(concat(lit("c"), shiftright(c, 1)))

  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank.undirect(copurchaseBase(s, dir), "a", "b")

  /** The prepared uniform-weight superstep relation, shared by
    * graph_pagerank and graph_ppr_suppliers. */
  private[graft] def copurchasePrepared(s: SparkSession, dir: String): DataFrame =
    sharedGet(s, dir, "prep")(
      graft.operators.PageRank.prepare(copurchaseEdges(s, dir), "src", "dst"))

  /** Evict the shared co-purchase relations for (session, dir) so a
    * measurement main can RETIME the prep cache fill honestly — without
    * eviction a rerun of [[copurchasePrepared]] measures the cache, not
    * the build (the r16 verdict's contaminated graph_prep row had no
    * retime path for exactly this reason).
    */
  private[graft] def copurchaseEvict(s: SparkSession, dir: String): Unit =
    Seq("base", "prep").foreach { k =>
      // unpersist the checkpoint blocks NOW: dropping the reference
      // alone keeps them resident until a nondeterministic GC, so the
      // retime's rebuild would hold two copies of the edge relation
      graphShared.remove(sharedKey(s, dir, k)).foreach(df =>
        org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(df))
    }

  /** Positioned-shingle aligned-span CTE chain (mirrors
    * [[graft.operators.Dedup.alignedSpanPairs]] at n=3, minTokens=10):
    * ends in `spans(id_a, id_b, span_tokens, n_aligned)`. Shared by the
    * pair query and its connected-components kept-set composition.
    */
  /** The positioned-shingle → aligned-island prefix (through `rr`)
    * shared by the pair-level spans CTE and the positioned-runs CTE.
    */
  private def alignedRRSql: String =
    s"""tokp AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |pshl AS (SELECT doc_id,
       |  list_transform(range(0, greatest(len(toks)-3, 0)+1),
       |    i -> struct_pack(pos := i,
       |      s := array_to_string(toks[(i+1):(i+3)], ' '))) AS lst
       |  FROM tokp),
       |psh0 AS (SELECT doc_id AS id, u.pos AS pos, u.s AS s
       |  FROM (SELECT doc_id, unnest(lst) AS u FROM pshl)),
       |hot AS (SELECT s FROM psh0 GROUP BY s HAVING count(*) > $ShingleDfCap),
       |psh AS (SELECT * FROM psh0 WHERE s NOT IN (SELECT s FROM hot)),
       |j AS (SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa,
       |  a.pos - b.pos AS diff
       |  FROM psh a JOIN psh b ON a.s = b.s AND a.id < b.id),
       |rr AS (SELECT id_a, id_b, diff, pa, pa - row_number() OVER (
       |  PARTITION BY id_a, id_b, diff ORDER BY pa) AS island FROM j)""".stripMargin

  private def alignedSpansSql: String =
    s"""$alignedRRSql,
       |runs AS (SELECT id_a, id_b, count(*)::BIGINT AS run_len
       |  FROM rr GROUP BY id_a, id_b, diff, island),
       |spans AS (SELECT id_a, id_b, (max(run_len) + 2)::BIGINT AS span_tokens,
       |  sum(run_len)::BIGINT AS n_aligned
       |  FROM runs GROUP BY id_a, id_b
       |  HAVING max(run_len) + 2 >= 10)""".stripMargin

  /** Unrolled k-means CTE chain (mirrors [[Cluster.kmeansAssignments]]):
    * quantize → long format → seeds = k smallest ids → per round an
    * assignment CTE `b<i>` (argmin by ORDER BY dist, cluster) and, between
    * rounds, a floor-mean centroid CTE `c<i>` with COALESCE carrying empty
    * clusters. Every step is integer or bit-pinned IEEE arithmetic, which
    * is what makes an ITERATIVE algorithm hash-comparable across engines.
    * DuckDB sums BIGINT into HUGEINT — the ::BIGINT casts keep the output
    * schema aligned with Spark's longs.
    */
  private def kmeansSql(k: Int, iters: Int, scale: Long,
      src: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb ++= s"""q AS (SELECT vec_id,
       |  list_transform(embedding, x -> floor(x::DOUBLE * $scale)::BIGINT) AS qv
       |  FROM $src),
       |lng AS (SELECT vec_id, d.d AS dim, qv[d.d+1] AS v
       |  FROM q, range(0, ${SimilaritySearch.Dim}) d(d)),
       |seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT $k)),
       |c0 AS (SELECT s.cluster, l.dim, l.v AS val
       |  FROM seeds s JOIN lng l ON s.vec_id = l.vec_id)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
         |a$i AS (SELECT l.vec_id, c.cluster,
         |  sum((l.v - c.val)*(l.v - c.val))::BIGINT AS dist
         |  FROM lng l JOIN c${i - 1} c ON l.dim = c.dim
         |  GROUP BY l.vec_id, c.cluster),
         |b$i AS (SELECT vec_id, cluster, dist FROM (SELECT vec_id, cluster, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
         |  FROM a$i) WHERE rn = 1)""".stripMargin
      if (i < iters) sb ++= s""",
         |n$i AS (SELECT b.cluster, l.dim,
         |  floor(sum(l.v)::DOUBLE / count(*))::BIGINT AS val
         |  FROM b$i b JOIN lng l ON b.vec_id = l.vec_id
         |  GROUP BY b.cluster, l.dim),
         |c$i AS (SELECT p.cluster, p.dim, COALESCE(n.val, p.val) AS val
         |  FROM c${i - 1} p LEFT JOIN n$i n
         |  ON p.cluster = n.cluster AND p.dim = n.dim)""".stripMargin
    }
    sb.toString
  }

  /** Planted-union media corpus → per-doc dHash CTE chain (mirrors
    * [[mediaNearDupDocs]] + the PerceptualHash construction), ending in
    * `h(doc_id, hd)`. Shared by the media near-dup pair and kept-set
    * oracles.
    */
  /** The dHash-64 construction over a PRECEDING `corpus(doc_id, text)`
    * CTE, ending in `h(doc_id, hd)` — shared by the image near-dup and
    * cross-modal oracles (plain concatenation, never re-stripMargin'd).
    */
  private val dhashChainSql: String =
    """m AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM corpus
      |  WHERE length(text) >= 72),
      |px AS (SELECT doc_id, u.k AS k,
      |  ord(substr(text, (((u.k * len) // 72) + 1)::INT, 1))::BIGINT AS v
      |  FROM m, unnest(range(0, 72)) AS u(k)),
      |db AS (SELECT a.doc_id AS doc_id,
      |  sum(CASE WHEN b.v > a.v
      |    THEN (1::HUGEINT << ((a.k // 9) * 8 + (a.k % 9))::INT)
      |    ELSE 0::HUGEINT END) AS s
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.k = a.k + 1
      |  WHERE a.k % 9 < 8 GROUP BY a.doc_id),
      |h AS (SELECT doc_id, CASE WHEN s > 9223372036854775807
      |  THEN (s - 18446744073709551616::HUGEINT)::BIGINT
      |  ELSE s::BIGINT END AS hd FROM db)""".stripMargin

  private val phashCorpusSql: String =
    """planted AS (SELECT doc_id + 10000000 AS doc_id,
      |  substr(text, 1, ((40 * length(text)::BIGINT) // 72)::INT) ||
      |  chr((65 + doc_id % 26)::INT) ||
      |  substr(text, (((40 * length(text)::BIGINT) // 72) + 2)::INT,
      |         length(text)::INT) AS text
      |  FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 72),
      |corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM planted),
      |""".stripMargin + dhashChainSql

  /** Cross-modal (image, caption) paired corpus + BOTH modality edge
    * lists (mirrors [[multimodalCorpus]] + `pairedNearDupEdges`):
    * `mm(doc_id, img, caption)`, image edges `ie` (dHash hamming <= 3
    * over the img bytes), caption edges `ce` (exact 3-gram Jaccard >=
    * 0.5 with the shared df cap).
    */
  /** The cross-modal paired corpus CTEs alone (mirrors
    * [[multimodalCorpus]]), ending in `mm(doc_id, img, caption)` —
    * shared by the batch edge oracle and the incremental one.
    */
  private val mmCorpusSql: String =
    s"""base AS (SELECT doc_id, text AS img,
      |  array_to_string((string_split_regex(trim(text), '\\s+'))[1:12], ' ') AS caption
      |  FROM documents),
      |pa AS (SELECT doc_id + 400000 AS doc_id, img,
      |  'stock photo ' || doc_id || ' catalog asset' AS caption
      |  FROM base WHERE doc_id % 20 = 0),
      |pb AS (SELECT doc_id + 500000 AS doc_id, reverse(img) AS img, caption
      |  FROM base WHERE doc_id % 20 = 10),
      |pc AS (SELECT doc_id + 600000 AS doc_id, reverse(img) AS img,
      |  'exclusive artwork ' || doc_id || ' limited edition' AS caption
      |  FROM base WHERE doc_id % 20 = 5),
      |mm AS (SELECT doc_id, img, caption FROM base
      |  UNION ALL SELECT doc_id, img, caption FROM pa
      |  UNION ALL SELECT doc_id, img, caption FROM pb
      |  UNION ALL SELECT doc_id, img, caption FROM pc)""".stripMargin

  private val mmEdgesSql: String =
    mmCorpusSql + ",\n" +
    """corpus AS (SELECT doc_id, img AS text FROM mm),
      |""".stripMargin + dhashChainSql + s""",
      |ie AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hd, b.hd)) <= 3),
      |ctok AS (SELECT doc_id, string_split_regex(trim(caption), '\\s+') AS toks FROM mm),
      |cshs AS (SELECT doc_id, list_distinct(list_transform(
      |  range(0, greatest(len(toks)-3,0)+1),
      |  i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS shingles FROM ctok),
      |csh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM cshs),
      |chot AS (SELECT shingle FROM csh0 GROUP BY shingle HAVING count(*) > $ShingleDfCap),
      |csh AS (SELECT id, shingle FROM csh0
      |  WHERE shingle NOT IN (SELECT shingle FROM chot)),
      |csizes AS (SELECT id, count(*) AS sz FROM csh GROUP BY id),
      |ce AS (SELECT p.id_a, p.id_b FROM
      |  (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |   FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.id < b.id
      |   GROUP BY 1, 2) p
      |  JOIN csizes sa ON p.id_a = sa.id JOIN csizes sb ON p.id_b = sb.id
      |  WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5)""".stripMargin

  /** One-shot replay of [[graft.operators.Dedup.dropBoilerplateUnits]]
    * over the planted-template documents fixture — shared by the
    * one-shot query and the 3-batch unit-df-fold query (document
    * frequencies over disjoint batches are additive, so both must
    * match this one-shot replay).
    */
  private val boilerplateRemovedSql: String =
    """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
      |  THEN text || '. Subscribe to our newsletter for free offers'
      |  ELSE text END AS text FROM documents),
      |a AS (SELECT doc_id, string_split_regex(text, '\.\s+') AS arr FROM d),
      |u0 AS (SELECT doc_id, i - 1 AS pos, trim(arr[i::INT]) AS unit
      |  FROM a, unnest(range(1, len(arr) + 1)) AS r(i)),
      |u AS (SELECT * FROM u0 WHERE unit <> ''),
      |b AS (SELECT unit FROM (SELECT unit, count(*) AS df FROM
      |  (SELECT DISTINCT doc_id, unit FROM u) GROUP BY unit)
      |  WHERE df >= 3),
      |k AS (SELECT * FROM u WHERE unit NOT IN (SELECT unit FROM b)),
      |tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY 1),
      |rb AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS text_clean,
      |  count(*) AS n_kept FROM k GROUP BY 1)
      |SELECT d.doc_id, COALESCE(rb.text_clean, '') AS text_clean,
      |COALESCE(tot.n_units, 0) AS n_units,
      |COALESCE(tot.n_units - COALESCE(rb.n_kept, 0), 0) AS n_dropped
      |FROM d LEFT JOIN tot ON d.doc_id = tot.doc_id
      |LEFT JOIN rb ON d.doc_id = rb.doc_id""".stripMargin

  /** Integer-exact replay of [[graft.operators.Profile.hdrBins]] +
    * [[graft.operators.Profile.hdrQuantiles]] over the events table —
    * shared by the one-shot query and the 3-batch-fold query (the fold
    * is exact, so both must match this one-shot replay).
    */
  private val hdrQuantilesSql: String =
    """WITH clean AS (SELECT event_type,
      |  floor(value)::BIGINT + 1 AS w FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0
      |  AND value < 4611686018427387904),
      |binned AS (SELECT event_type,
      |  (length(bin(w)) - 1) * 16 +
      |  CASE WHEN length(bin(w)) - 1 < 4
      |    THEN ((w - (1::BIGINT << (length(bin(w)) - 1))) * 16)
      |      // (1::BIGINT << (length(bin(w)) - 1))
      |    ELSE (w - (1::BIGINT << (length(bin(w)) - 1)))
      |      // ((1::BIGINT << (length(bin(w)) - 1)) // 16)
      |  END AS bin_id
      |  FROM clean),
      |bins AS (SELECT event_type, bin_id, count(*) AS n
      |  FROM binned GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin_id, n,
      |  sum(n) OVER (PARTITION BY event_type ORDER BY bin_id) AS cum,
      |  sum(n) OVER (PARTITION BY event_type) AS ntot,
      |  (1::BIGINT << (bin_id // 16)) +
      |    ((bin_id % 16) * (1::BIGINT << (bin_id // 16))) // 16 - 1 AS lb
      |  FROM bins),
      |qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |  ('p99', 99, 100)) t(q, num, den))
      |SELECT cum.event_type, qs.q, min(cum.lb)::BIGINT AS est
      |FROM cum, qs
      |WHERE cum.cum >= (cum.ntot * qs.num + qs.den - 1) // qs.den
      |GROUP BY 1, 2""".stripMargin

  /** Grouped per-subspace k-means replay for the TRAINED PQ codebook
    * (mirrors [[graft.operators.SimilaritySearch.pqTrainedCodebook]]):
    * the subspace id `s` rides every key, so all 8 codebooks train in
    * one CTE chain. Ends with `cbt(s, code, cv8)` — the float codewords
    * the encode/lut stages dot against.
    */
  private def pqKmeansSql(k: Int, iters: Int, scale: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""pq0 AS (SELECT vec_id,
       |  list_transform(embedding, x -> floor(x::DOUBLE * $scale)::BIGINT) AS qv
       |  FROM embeddings),
       |slng AS (SELECT vec_id, t.s AS s, d.d AS dim, qv[t.s*8 + d.d + 1] AS v
       |  FROM pq0, range(0, 8) t(s), range(0, 8) d(d)),
       |pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id FROM pq0 ORDER BY vec_id LIMIT $k)),
       |pc0 AS (SELECT l.s, se.code, l.dim, l.v AS val
       |  FROM pseeds se JOIN slng l ON se.vec_id = l.vec_id)""".stripMargin
    for (i <- 1 to iters - 1) {
      sb ++= s""",
         |pa$i AS (SELECT l.vec_id, l.s, c.code,
         |  sum((l.v - c.val)*(l.v - c.val))::BIGINT AS dist
         |  FROM slng l JOIN pc${i - 1} c ON l.s = c.s AND l.dim = c.dim
         |  GROUP BY l.vec_id, l.s, c.code),
         |pb$i AS (SELECT vec_id, s, code FROM (SELECT vec_id, s, code,
         |  row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
         |  FROM pa$i) WHERE rn = 1),
         |pn$i AS (SELECT b.s, b.code, l.dim,
         |  floor(sum(l.v)::DOUBLE / count(*))::BIGINT AS val
         |  FROM pb$i b JOIN slng l ON b.vec_id = l.vec_id AND b.s = l.s
         |  GROUP BY b.s, b.code, l.dim),
         |pc$i AS (SELECT p.s, p.code, p.dim, COALESCE(n.val, p.val) AS val
         |  FROM pc${i - 1} p LEFT JOIN pn$i n
         |  ON p.s = n.s AND p.code = n.code AND p.dim = n.dim)""".stripMargin
    }
    sb ++= s""",
       |cbt AS (SELECT s, code,
       |  list((val / $scale.0)::FLOAT ORDER BY dim) AS cv8
       |  FROM pc${iters - 1} GROUP BY s, code)""".stripMargin
    sb.toString
  }

  /** Per-column profile as UNION ALL branches (mirrors
    * [[graft.operators.Profile.profile]]; the oracle may re-scan per
    * column — the engine side must not).
    */
  private def profileSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, count($c)::BIGINT AS n_non_null,
         |sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         |count(DISTINCT $c)::BIGINT AS n_distinct,
         |min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The view→click→purchase funnel chain (mirrors [[Funnel.funnel]]
    * with a 7-day horizon anchored at t1), shared by the funnel oracles.
    */
  private val funnelChainSql =
    """s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |    AND e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
      |  GROUP BY s1.user_id, s1.t1),
      |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |    AND e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
      |  GROUP BY s2.user_id, s2.t1, s2.t2)""".stripMargin

  // ---- the contract -------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P9+A1+P10: the five daily KPIs as ONE fused hash aggregate
    // (glue_scripts.py:139-161 rewritten per SURVEY.md par.4 rewrite 1)
    // over the coerced measure, truncated afterwards.
    "trip_kpis_daily" -> ((s, dir) => {
      KpiAggregator.dailyKpis(
          KpiAggregator.withParsedFare(Tables.events(s, dir), "value"),
          to_date(col("ts")), col("value"), col("event_id"))
        .select(col("pickup_date"),
          trunc(col("total_fare"), 4).as("total_fare"),
          col("trip_count"),
          trunc(col("average_fare"), 4).as("average_fare"),
          col("maximum_fare"), col("minimum_fare"))
    }),

    // J4: the reference's literal 5-aggregate + 4-left-join KPI assembly
    // (glue_scripts.py:171-175); must equal trip_kpis_daily.
    "trip_kpis_literal_join" -> ((s, dir) => {
      KpiAggregator.dailyKpisLiteral(Tables.events(s, dir),
          to_date(col("ts")), col("value"), col("event_id"))
        .select(col("pickup_date"),
          trunc(col("total_fare"), 4).as("total_fare"),
          col("trip_count"),
          trunc(col("average_fare"), 4).as("average_fare"),
          col("maximum_fare"), col("minimum_fare"))
    }),

    // J1/J2/J3: start-end equi-join + merge projection with collision
    // policy (lambda2.py:66-109). orders=starts, lineitem=ends.
    "completed_trips" -> ((s, dir) => {
      val starts = Tables.orders(s, dir).withColumnRenamed("o_orderkey", "trip_id")
      val ends = Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "trip_id")
      TripMatcher.mergeProjection(starts, ends)
    }),

    // The flagship (SURVEY.md par.7.2): join + daily KPI aggregate.
    "completed_trip_kpis" -> ((s, dir) => completedTripKpis(s, dir)),

    // S4 + status lifecycle: the final state of the reference's single
    // DynamoDB table — RAW items (lambda1.py:50-60), COMPLETED items
    // (lambda2.py:79-87), matched RAW pairs flipped to
    // processed_by_matcher (lambda2.py:249-251) — as the LWW merge the
    // bucketed upsert store converges to. orders=starts, lineitem=ends
    // (first lineitem per (order, shipdate), so SKs are unique).
    "trip_store_final" -> ((s, dir) => tripStoreFinal(s, dir)),
    "trip_store_lookup" -> ((s, dir) => tripStoreLookup(s, dir)),

    // Anti-join: still-unmatched starts, the derived `status='raw'` set
    // (README.md:57 semantics made declarative).
    "unmatched_trips" -> ((s, dir) => {
      val starts = Tables.orders(s, dir).withColumnRenamed("o_orderkey", "trip_id")
      val ends = Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "trip_id")
      TripMatcher.unmatchedStarts(starts, ends)
    }),

    // Salted skew join on a deliberately hot key: event_id % 5 == 0 remaps
    // ~20% of events onto one user. Salting is result-invariant (spec
    // SkewSpec proves equality with the plain join; PlanAudit proves the
    // physical join shuffles on (user_id, _salt)).
    "skewed_user_join" -> ((s, dir) => skewedUserJoin(s, dir)),

    // J5: backward as-of join — unbounded lookback (union+window, one
    // shuffle on the key; AsOfJoin.scala rationale).
    "asof_latest_event" -> ((s, dir) => asofClickPurchase(s, dir, None)),

    // J5b: the production point-in-time config — bounded staleness; a
    // match older than 1 day nulls out but the left row is kept.
    "asof_bounded_staleness" -> ((s, dir) =>
      asofClickPurchase(s, dir, Some(expr("INTERVAL 1 DAY")))),

    // J5d: forward as-of — the NEXT purchase at-or-after each click
    // (first fill after the order, mirror of J5).
    "asof_next_event" -> ((s, dir) => {
      val (left, right) = asofSides(s, dir)
      AsOfJoin.asofForward(left, right, Seq("user_id"), "ts", "ts",
        Seq("purchase_id", "purchase_value"))
    }),

    // J5c: the same bounded-staleness semantics via the range-bucketed
    // HOT-KEY formulation (probe join on (key, time-bucket) + max_by
    // hash aggregate — no per-key-serial window). Shares J5b's oracle:
    // two physical strategies, one answer.
    "asof_range_bucketed" -> ((s, dir) => {
      val (left, right) = asofSides(s, dir)
      AsOfJoin.asofBackwardRangeBucketed(left, right, Seq("user_id"),
        "ts", "ts", Seq("purchase_id", "purchase_value"),
        leftId = "event_id", toleranceSec = 86400L)
    }),

    // J5e: forward mirror of J5c — next purchase WITHIN 1 day via the
    // range-bucketed hot-key strategy (probe join + min_by hash agg).
    "asof_next_bucketed" -> ((s, dir) => {
      val (left, right) = asofSides(s, dir)
      AsOfJoin.asofForwardRangeBucketed(left, right, Seq("user_id"),
        "ts", "ts", Seq("purchase_id", "purchase_value"),
        leftId = "event_id", toleranceSec = 86400L)
    }),

    // T1: SCD2 history — purchase change stream -> validity intervals
    // per user (Temporal.scd2; is_current marks the open interval).
    "scd2_purchase_history" -> ((s, dir) => {
      val (_, right) = asofSides(s, dir)
      graft.operators.Temporal.scd2(right, Seq("user_id"), "ts")
        .select("user_id", "purchase_id", "purchase_value",
          "valid_from", "valid_to", "is_current")
    }),

    // J6: bucketed point-in-interval range join — shipments falling in
    // any urgent order's 3-day dispatch window, NO equi key (the case
    // Spark would otherwise plan as a nested-loop join). Positions are
    // epoch days; bucketWidth = the window width.
    "lineitems_in_order_window" -> ((s, dir) => {
      val pts = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_shipdate"),
        datediff(col("l_shipdate"), lit("1970-01-01")).as("ship_day"))
      val ivals = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-03-01"))
        .select(col("o_orderkey"), col("o_orderdate"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("window_start"),
          (datediff(col("o_orderdate"), lit("1970-01-01")) + 2).as("window_end"))
      graft.operators.RangeJoin.pointInInterval(pts, ivals,
          "ship_day", "window_start", "window_end", bucketWidth = 3L)
        .select("o_orderkey", "o_orderdate", "l_orderkey", "l_linenumber",
          "l_shipdate")
    }),

    // J7: interval-overlap join — each shipment's 1-day delivery window
    // against urgent orders' 3-day dispatch windows, keyless
    // (RangeJoin.intervalOverlap; first-shared-bucket emission, no
    // distinct).
    "delivery_overlap_windows" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_shipdate"),
        datediff(col("l_shipdate"), lit("1970-01-01")).as("ship_start"),
        (datediff(col("l_shipdate"), lit("1970-01-01")) + 1).as("ship_end"))
      val ivals = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-03-01"))
        .select(col("o_orderkey"), col("o_orderdate"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("window_start"),
          (datediff(col("o_orderdate"), lit("1970-01-01")) + 2).as("window_end"))
      graft.operators.RangeJoin.intervalOverlap(li, ivals,
          "ship_start", "ship_end", "window_start", "window_end",
          bucketWidth = 3L)
        .select("o_orderkey", "o_orderdate", "l_orderkey", "l_linenumber",
          "l_shipdate")
    }),

    // J6b: WIDTH-SKEW tiered range join — urgent orders get a 3-day
    // dispatch window, everything else 31 days (a 10x width tail, the
    // heavy-tailed shape pointInIntervalTiered exists for: the narrow
    // tier buckets at 3 days, the tail at 31, and the disjoint union
    // keeps exactly-once). Aggregated to per-order ship counts so the
    // result stays order-sized at any SF.
    "lineitems_in_window_tiered" -> ((s, dir) => {
      val pts = Tables.lineitem(s, dir).select(col("l_orderkey"),
        datediff(col("l_shipdate"), lit("1970-01-01")).as("ship_day"))
      val ivals = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-01-11"))
        .select(col("o_orderkey").as("w_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("window_start"),
          (datediff(col("o_orderdate"), lit("1970-01-01")) +
            when(col("o_orderpriority") === "1-URGENT", 2).otherwise(30))
            .as("window_end"))
      graft.operators.RangeJoin.pointInIntervalTiered(pts, ivals,
          "ship_day", "window_start", "window_end",
          bucketWidth = 3L, tailWidth = 10L, tailBucketWidth = 31L)
        .groupBy(col("w_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_ships"))
    }),

    // D1: first-occurrence dedup on the natural key (lambda1.py:119-150).
    "dedup_first_wins" -> ((s, dir) =>
      RawEventStore.dedupFirstWins(Tables.events(s, dir),
        Seq("user_id", "event_type"), Seq("ts", "event_id"))),

    // P2: required-field validation with type-appropriate rule
    // (lambda1.py:38-47).
    "validated_events" -> ((s, dir) => {
      Tables.events(s, dir).filter(
        col("event_id").isNotNull && col("event_type").isNotNull &&
          when(col("event_type") === "purchase", col("value").isNotNull)
            .otherwise(col("ts").isNotNull))
    }),

    // P3: NaN/Infinity nulls the attribute, keeps the row
    // (lambda1.py:72-82). Non-finite values injected deterministically
    // since the testdata has none.
    "sanitized_values" -> ((s, dir) => {
      val seeded = Tables.events(s, dir).select(col("event_id"),
        when(col("event_id") % 7 === 0, lit(Double.NaN))
          .when(col("event_id") % 11 === 0, lit(Double.PositiveInfinity))
          .otherwise(col("value")).as("value_clean"))
      TripSources.sanitizeNumerics(seeded, Seq("value_clean"))
    }),

    // P5: sort-key synthesis SK = RAW#{type}#{ts} (lambda1.py:56).
    "event_keys" -> ((s, dir) => eventKeys(s, dir)),

    // P6: prefix predicate on the synthesized key (lambda2.py:42-52).
    "raw_prefix_filter" -> ((s, dir) =>
      eventKeys(s, dir).filter(col("sk").startsWith("RAW#click"))),

    // P7: event-family domain filter (lambda2.py:209-212).
    "trip_type_filter" -> ((s, dir) =>
      Tables.events(s, dir).filter(col("event_type").isin("click", "view"))),

    // P8: timestamp parse with coercion; invalid -> null -> dropped
    // (glue_scripts.py:113-119). Malformed strings injected.
    "ts_parse_coerce" -> ((s, dir) => {
      KpiAggregator.withParsedPickupTs(
          Tables.events(s, dir).select(col("event_id"),
            when(col("event_id") % 10 === 0, lit("not-a-date"))
              .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("ts_str")),
          "ts_str", "parsed_ts")
        .select("event_id", "parsed_ts")
    }),

    // P9: numeric parse with coercion + null-drop (glue_scripts.py:121-126).
    "numeric_parse_coerce" -> ((s, dir) => {
      KpiAggregator.withParsedFare(
          Tables.events(s, dir).select(col("event_id"),
            when(col("event_id") % 13 === 0, lit("abc"))
              .otherwise(col("value").cast("string")).as("fare")),
          "fare")
    }),

    // P10: timestamp -> date projection (glue_scripts.py:136).
    "date_projection" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        to_date(col("ts")).as("event_date"))),

    // O1/O2: union of both families + global event-time interleave
    // (to_kinesis.py:117-123). Replay-only operator: full-shuffle sort.
    "union_interleave" -> ((s, dir) => {
      val starts = Tables.orders(s, dir).select(col("o_orderkey").as("id"),
        col("o_orderdate").as("event_time"), lit("trip_start").as("data_type"))
      val ends = Tables.lineitem(s, dir).select(col("l_orderkey").as("id"),
        col("l_shipdate").as("event_time"), lit("trip_end").as("data_type"))
      starts.unionByName(ends).orderBy("event_time", "data_type", "id")
    }),

    // O4: first-match-per-key (lambda2.py:54-56) as row_number()==1.
    "first_per_key" -> ((s, dir) =>
      RawEventStore.dedupFirstWins(Tables.events(s, dir),
        Seq("user_id"), Seq("ts", "event_id"))),

    // A3: frequency count / value_counts (notebook cell 15).
    "freq_count" -> ((s, dir) =>
      KpiAggregator.freqCount(Tables.events(s, dir), to_date(col("ts")))),

    // A4: per-column null profile (notebook cells 3,7).
    "null_profile" -> ((s, dir) =>
      KpiAggregator.nullProfile(Tables.events(s, dir),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),

    // A2: report metadata aggregates (glue_scripts.py:196-205).
    "report_metadata" -> ((s, dir) => {
      val trips = joinedTrips(s, dir)
      val kpis = KpiAggregator.dailyKpis(trips,
        to_date(col("o_orderdate")), col("l_extendedprice"), col("l_orderkey"))
      KpiAggregator.reportMetadata(trips, kpis, to_date(col("o_orderdate")))
    }),

    // ---- training-data pipeline: text analysis over `documents` ----------

    // T1: token counting — whitespace + BPE-ish regex tokens.
    "doc_token_counts" -> ((s, dir) =>
      TextAnalysis.withTokenCounts(Tables.documents(s, dir))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          col("bpe_tokens").cast("long").as("bpe_tokens"))),

    // T2: quality scoring — length/punct/stopword ratios + composite.
    "doc_quality" -> ((s, dir) =>
      TextAnalysis.withQualityScore(Tables.documents(s, dir))
        .select(col("doc_id"),
          trunc4(col("len_score")).as("len_score"),
          trunc4(col("punct_ratio")).as("punct_ratio"),
          trunc4(col("stopword_ratio")).as("stopword_ratio"),
          trunc4(col("quality_score")).as("quality_score"))),

    // T3: language-ID by function-word/script hits.
    "doc_lang_id" -> ((s, dir) =>
      TextAnalysis.withLangId(Tables.documents(s, dir))
        .select("doc_id", "lang_pred")),

    // T4: rolling-hash fingerprint (min 60-bit hash over 8-char shingles)
    // + whole-text md5.
    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.withFingerprint(Tables.documents(s, dir))
        .select("doc_id", "fingerprint", "md5_fingerprint")),

    // T5: winnowing fingerprints (k=8 grams, w=4 windows) — the
    // position-robust local fingerprint set.
    "doc_winnow_fingerprints" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir))
        .select(col("id").as("doc_id"), col("fingerprint"))),

    // T6: corpus word frequencies (explode + count — the canonical
    // distributed word count).
    "word_counts" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))),

    // MW: trailing 7-day moving aggregate of daily event counts,
    // expressed as a bucketed range join (each anchor day's frame is a
    // [day-6, day] interval; RangeJoin.pointInInterval) + hash
    // aggregate — NOT a partitionless window, so the same formulation
    // still scales when the frame axis is minutes over years. All
    // integer arithmetic; the average divides two exact longs.
    "kpi_moving_avg_7d" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val pts = daily.select(
        datediff(col("day"), lit("1970-01-01")).as("pos"), col("n"))
      val anchors = daily.select(col("day").as("anchor_day"),
        (datediff(col("day"), lit("1970-01-01")) - 6).as("ws"),
        datediff(col("day"), lit("1970-01-01")).as("we"))
      graft.operators.RangeJoin.pointInInterval(pts, anchors,
          "pos", "ws", "we", bucketWidth = 7L)
        .groupBy(col("anchor_day").as("day"))
        .agg(sum(col("n")).as("sum_7d"),
          count(lit(1)).as("days_in_frame"))
        .select(col("day"), col("sum_7d"), col("days_in_frame"),
          (col("sum_7d").cast("double") / col("days_in_frame").cast("double"))
            .as("avg_7d"))
    }),

    // TC: sliding-window chunking (64-token windows, stride 48) — the
    // embedding-prep twin of pack_documents (TextChunk.slidingChunks).
    "doc_chunks_sliding" -> ((s, dir) =>
      graft.operators.TextChunk.slidingChunks(Tables.documents(s, dir),
        chunkTokens = 64, stride = 48)),

    // TDIFF: snapshot reconciliation — added/removed/changed rows
    // between a corpus and a deterministically perturbed successor
    // (drop every 17th, edit every 13th, add copies of every 19th under
    // new ids). One full-outer hash join on the key; the incremental-
    // ingest diff every recurring pipeline run needs.
    "corpus_diff" -> ((s, dir) => {
      val a = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b = a.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" changed")))
            .otherwise(col("text")).as("text"))
        .unionByName(a.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      // Presence flags, NOT text nullity: a null text on a row present on
      // both sides must not be misread as "added"/"removed" (matches the
      // oracle's id-nullity test; `=!=` on a null text is null -> filtered,
      // same as SQL `<>`).
      a.select(col("doc_id"), col("text").as("text_a"), lit(true).as("in_a"))
        .join(b.select(col("doc_id"), col("text").as("text_b"), lit(true).as("in_b")),
          Seq("doc_id"), "full_outer")
        .withColumn("status", when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(col("text_a") =!= col("text_b"), "changed"))
        .filter(col("status").isNotNull)
        .select("doc_id", "status")
    }),

    // TSPLIT: deterministic train/val/test corpus split (80/10/10) on
    // the cross-engine content hash — reproducible, no rand().
    "corpus_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", TextHash.hash60(col("text")) % 100)
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .select("doc_id", "split", "bucket")),

    // TSEL: token-budget corpus selection — keep the highest-quality
    // docs (quality tier desc, doc_id asc) until 16k tokens are spent;
    // the boundary doc is kept. CorpusSelect.budgetSelect is the
    // two-phase distributed prefix sum with budget bucket-pruning; the
    // order key packs the integer quality tier and the id into one long
    // so ascending key == (quality DESC, doc_id ASC).
    "corpus_budget_select" -> ((s, dir) => {
      val scored = TextAnalysis.withQualityScore(
          TextAnalysis.withTokenCounts(Tables.documents(s, dir)))
        .select(col("doc_id"),
          floor(col("quality_score") * 10000).cast("long").as("q_ppm"),
          col("ws_tokens").cast("long").as("ws_tokens"))
        .withColumn("_ord",
          (lit(10000L) - col("q_ppm")) * lit(1L << 41) + col("doc_id"))
      graft.operators.CorpusSelect
        .budgetSelect(scored, "_ord", "ws_tokens", budget = 16000L)
        .select("doc_id", "q_ppm", "ws_tokens", "cum_before")
    }),

    // V2c: n-gram novelty — fraction of each doc's distinct 3-grams
    // occurring in no other document: the diversity/boilerplate signal
    // orthogonal to quality and perplexity (templated text scores low
    // however grammatical it is). Vocabulary-sized intermediates only.
    "doc_ngram_novelty" -> ((s, dir) =>
      graft.operators.Relevance.noveltyScores(Tables.documents(s, dir))
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("novel_shingles"), trunc4(col("novelty")).as("novelty"))),

    // V2b: CROSS-corpus LM scoring — the actual CCNet shape: a unigram
    // model TRAINED on the reference slice (lang='en', add-one
    // smoothing) scores every document, OOV tokens at the smoothed
    // floor. Train-once/score-everywhere: the model is a (tok, logp)
    // table; scoring is a token-equi join, no train-time scalars.
    "doc_lm_cross_score" -> ((s, dir) => {
      val R = graft.operators.Relevance
      val docs = Tables.documents(s, dir)
      R.scoreWithUnigramModel(docs,
          R.unigramModel(docs.filter(col("lang") === "en")))
        .select(col("id").as("doc_id"), col("n_toks"), col("oov_toks"),
          col("avg_logprob_m"))
    }),

    // V2d: TRAINED multi-class classifier — per-label unigram models
    // (naive-Bayes shape, the fastText baseline) trained on half the
    // corpus, classifying the other half. The corpus text is
    // label-INDEPENDENT (the label twin of ann_corpus_isotropy), so a
    // per-label marker token is planted — the classifier must learn it
    // from training data and use it at eval; correct = predicted ==
    // actual for every classifiable doc.
    "doc_nb_classify" -> ((s, dir) => {
      val R = graft.operators.Relevance
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" xmark"), col("lang")).as("text"))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val evalD = docs.filter(col("doc_id") % 2 =!= 0)
      R.classifyWithModels(evalD, R.unigramModels(train))
        .join(evalD.select(col("doc_id").as("id"), col("lang").as("actual")),
          "id")
        .select(col("id").as("doc_id"), col("predicted"), col("actual"),
          (col("predicted") === col("actual")).as("correct"),
          col("avg_logprob_m"))
    }),

    // TSEL2: per-language token budgets — 2,000 tokens of the best
    // docs from EACH language (a global budget lets the dominant
    // language starve the rest). Fully distributed two-phase rank: the
    // running sum is a window over the tiny (lang, bucket) totals
    // relation, pruning applies per language.
    "corpus_budget_select_by_lang" -> ((s, dir) => {
      val scored = TextAnalysis.withQualityScore(
          TextAnalysis.withTokenCounts(Tables.documents(s, dir)))
        .select(col("doc_id"), col("lang"),
          floor(col("quality_score") * 10000).cast("long").as("q_ppm"),
          col("ws_tokens").cast("long").as("ws_tokens"))
        .withColumn("_ord",
          (lit(10000L) - col("q_ppm")) * lit(1L << 41) + col("doc_id"))
      graft.operators.CorpusSelect
        .budgetSelectPerGroup(scored, "lang", "_ord", "ws_tokens",
          budgetPerGroup = 2000L)
        .select("doc_id", "lang", "q_ppm", "ws_tokens", "cum_before")
    }),

    // TSPLIT2: leakage-safe split — near-dup cluster members share the
    // split decision (bucketed by the cluster REPRESENTATIVE's content
    // hash), so a duplicate can never straddle train and eval. Clusters
    // from the same Jaccard-CC labeling as dedup_clusters.
    "corpus_split_leakage_safe" -> ((s, dir) => {
      val corpus = docNearDupCorpus(s, dir)
      val clusters = Dedup.nearDupClusters(
        Dedup.jaccardPairs(corpus, n = 3, threshold = 0.5,
            maxDocFreq = Some(ShingleDfCap))
          .select("id_a", "id_b"))
      graft.operators.CorpusSelect.leakageSafeSplit(corpus, clusters)
        .select("doc_id", "rep_id", "split", "bucket")
    }),

    // CDC1: content-defined chunking — boundary after every position
    // whose trailing 8-gram hash ≡ 0 (mod 64), final cut at EOT; chunk
    // boundaries depend only on local content so edits resync (the
    // rsync/LBFS storage-dedup primitive). One codegen'd pass per doc
    // (GramFunctions.cdcChunks), map-only plan; the per-character
    // relational formulation is the ORACLE, not the plan.
    "doc_cdc_chunks" -> ((s, dir) =>
      Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"),
          posexplode(GramFunctions.cdcChunks(col("text"), 8, 64)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col.start").cast("long").as("start_pos"),
          col("col.len").cast("long").as("chunk_len"),
          col("col.hash").as("chunk_hash"))),

    // CDC2: chunk-level dedup over the near-dup corpus — per doc, how
    // many of its chunks also appear in ANOTHER doc. Because CDC
    // boundaries resync, a near-dup that only appends a suffix shares
    // every chunk except its last; the chunk-hash equi-join is the
    // 100 TB shape (hash-keyed, df-cappable like shingles if a
    // boilerplate chunk ever goes hot).
    "cdc_dup_chunk_stats" -> ((s, dir) => {
      val ch = docNearDupCorpus(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"),
          explode(GramFunctions.cdcChunks(col("text"), 8, 64)).as("c"))
        .select(col("doc_id"), col("c.hash").as("chunk_hash"))
      val shared = ch.groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      ch.join(shared, Seq("chunk_hash"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
    }),

    // CDC2b: the chunk-dedup CONSUMABLE — docs surviving passage-level
    // clustering: pairs sharing >= 3 CDC chunks → connected components
    // → keep one representative per cluster (the dedup_corpus_kept
    // chain at chunk granularity).
    "cdc_corpus_kept" -> ((s, dir) => {
      val IC = graft.operators.IncrementalCdc
      val corpus = docNearDupCorpus(s, dir)
      val ch = IC.chunkHashes(corpus)
      val pairs = IC.incrementalChunkPairs(ch, ch.filter(lit(false)))
        .filter(col("shared_chunks") >= 3)
      Dedup.dropNearDups(corpus,
          Dedup.nearDupClusters(pairs.select("id_a", "id_b")))
        .select("doc_id")
    }),

    // CDC3: incremental passage-level ingest — the near-dup batch
    // fixture (suffix-edited copies of every 20th doc, +100000) CDC-
    // chunked once and chunk-joined against the existing corpus's
    // chunks (IncrementalCdc): only pairs involving the batch, with the
    // count of distinct shared chunk hashes — resync means a suffix
    // edit still shares every chunk but its last.
    "cdc_incremental_pairs" -> ((s, dir) => {
      val IC = graft.operators.IncrementalCdc
      val a = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val added = a.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" extradup token")).as("text"))
      IC.incrementalChunkPairs(IC.chunkHashes(added), IC.chunkHashes(a))
    }),

    // IP1: incremental profile — the corpus ingested as 3 disjoint
    // batches, each summarized ONCE (mergeable counts/bounds + HLL
    // distinct sketch) and folded; no full-corpus scan at query time in
    // production. Exact distinct rides along as the verification
    // column: approx_ok proves the folded sketch landed within 5% of
    // exact, the same bounds-oracle shape as approx_distinct_users_daily.
    "incremental_profile_final" -> ((s, dir) => {
      val IP = graft.operators.IncrementalProfile
      val docs = Tables.documents(s, dir)
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val folded = (0 until 3)
        .map(i => IP.summarize(docs.filter(pmod(col("doc_id"), lit(3)) === i), cols))
        .reduce(IP.merge)
      val exact = graft.operators.Profile.profile(docs, cols)
        .select(col("col_name"), col("n_distinct").as("exact_distinct"))
      IP.report(folded).join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_non_null"), col("n_nulls"),
          col("exact_distinct"),
          (abs(col("n_distinct_approx") - col("exact_distinct")) <=
            lit(0.05) * col("exact_distinct")).as("approx_ok"),
          col("min_value"), col("max_value"))
    }),

    // TX: BM25 relevance of every document against a fixed query-term
    // set (Relevance.bm25 — inverted-index tf/df hash aggregates, no
    // pairwise work; the curation-by-relevance primitive).
    "doc_bm25_relevance" -> ((s, dir) =>
      graft.operators.Relevance.bm25(Tables.documents(s, dir),
          Seq("spark", "stream", "query", "window"))
        .select(col("doc_id"), trunc4(col("score")).as("score"),
          col("matched_terms"))),

    // R2: per-doc keyword summary — top-3 TF-IDF terms by weight (the
    // sparse-vector sibling of BM25: no query, full vocabulary, df via
    // a term-keyed equi-join rather than a broadcast).
    "doc_tfidf_topterms" -> ((s, dir) =>
      graft.operators.Relevance.topTfidfTerms(Tables.documents(s, dir), m = 3)
        .select(col("id").as("doc_id"), col("term"),
          col("rank").cast("long").as("rank"), trunc4(col("w")).as("w"))),

    // DD8: sparse TF-IDF cosine pairs — the lexical-weighted member of
    // the near-dup family (exact < tfidf-cosine < shingle-Jaccard in
    // strictness). Inverted-index equi-join on the df-capped term;
    // decimal-summed dots/norms keep the float comparison stable.
    "dedup_tfidf_cosine" -> ((s, dir) =>
      graft.operators.Relevance.tfidfCosinePairs(docNearDupCorpus(s, dir),
          threshold = 0.8, maxDocFreq = Some(100))
        .select(col("id_a"), col("id_b"), trunc4(col("cosine")).as("cosine"))),

    // T12: Gopher-style repetition signals — dup-token and top-bigram
    // fractions, the quality complement to dedup (template/generated
    // text repeats itself long before it duplicates documents).
    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetitionStats(Tables.documents(s, dir))
        .select(col("doc_id"),
          trunc4(col("dup_token_frac")).as("dup_token_frac"),
          trunc4(col("top_bigram_frac")).as("top_bigram_frac"),
          col("n_tokens").cast("long").as("n_tokens"))),

    // T11: normalization — lowercase + whitespace collapse, the standard
    // front of a dedup chain (case/spacing variants dedup together).
    "doc_normalize" -> ((s, dir) =>
      TextAnalysis.withNormalized(Tables.documents(s, dir))
        .select(col("doc_id"), col("norm_text"), col("n_chars_norm"))),

    // T8: the curation pipeline — the training-data flagship. Compose
    // quality scoring, language-ID, token bounds, and exact dedup
    // (keep-first) into the standard pretraining filter chain; one
    // map-only pass plus one dedup aggregate at any scale.
    "curate_documents" -> ((s, dir) => {
      val scored = TextAnalysis.withTextFeatures(Tables.documents(s, dir))
      val kept = Dedup.exactDedup(Tables.documents(s, dir))
        .select(col("kept_id").as("doc_id"))
      scored.join(kept, Seq("doc_id"), "left_semi")
        .filter(col("quality_score") >= 0.5 && col("lang_pred") === "en" &&
          col("ws_tokens").between(20, 1000))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          trunc4(col("quality_score")).as("quality_score"), col("lang_pred"))
    }),

    // T8b: strict curation — the T8 chain plus the Gopher-style
    // repetition gates (dup-token and top-bigram caps). Still one fused
    // map pass over each doc (TextStats + RepetitionStats) + the dedup
    // semi-join.
    "curate_documents_strict" -> ((s, dir) => {
      val scored = TextAnalysis.withRepetitionStats(
        TextAnalysis.withTextFeatures(Tables.documents(s, dir)))
      val kept = Dedup.exactDedup(Tables.documents(s, dir))
        .select(col("kept_id").as("doc_id"))
      scored.join(kept, Seq("doc_id"), "left_semi")
        .filter(col("quality_score") >= 0.5 && col("lang_pred") === "en" &&
          col("ws_tokens").between(20, 1000) &&
          col("dup_token_frac") <= 0.6 && col("top_bigram_frac") <= 0.2)
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          trunc4(col("quality_score")).as("quality_score"), col("lang_pred"),
          trunc4(col("dup_token_frac")).as("dup_token_frac"),
          trunc4(col("top_bigram_frac")).as("top_bigram_frac"))
    }),

    // T8c: the END-TO-END curation flagship — the full C4 chain as ONE
    // query over a crawled-HTML corpus with every stage's planted
    // signal: near-dup copies (every 20th doc + ' extradup token'), a
    // corpus-wide boilerplate sentence in every page's markup, an
    // intra-doc repeated sentence on every 4th doc, plus script/style/
    // comment/entity noise for the extractor. Extraction → strict gates
    // → boilerplate-unit removal → intra-doc unit dedup → near-dup
    // clustering + representative keep → leakage-safe split → per-split
    // packing; the oracle replays the ENTIRE chain as chained CTEs, so
    // the composition (ordering, handoffs, survival anchors) is
    // cross-engine-proven end to end.
    "c4_end_to_end" -> ((s, dir) =>
      graft.operators.CurationPipeline.run(
        docNearDupCorpus(s, dir).select(col("doc_id"),
          c4Html(col("doc_id"), col("text")).as("html")))),

    // T8d: the pipeline's LAST MILE on the full-chain product — the c4
    // packed sequences dealt into per-split fixed-count training shards
    // (TrainShards within each split, 4 shards), so shard assignment is
    // cross-engine-proven against the composed corpus, not only the
    // flat documents table (corpus_shards). The oracle re-runs the
    // whole c4 CTE chain and deals its packed relation identically.
    "c4_shards" -> ((s, dir) => {
      val packed = graft.operators.CurationPipeline.run(
        docNearDupCorpus(s, dir).select(col("doc_id"),
          c4Html(col("doc_id"), col("text")).as("html")))
      // one grouped two-phase pass deals all three splits (bit-identical
      // to the former per-split shardAssign calls, 1 driver round-trip
      // instead of 3 — r20)
      graft.operators.TrainShards.shardAssignBy(packed, Seq("split"),
          numShards = 4)
        .select(col("doc_id"), col("split"), col("ws_tokens"),
          col("offset"), col("bin"), col("shard"), col("shard_pos"))
    }),

    // T9: PII redaction — email/phone scrub with deterministic injection
    // (the corpus has no natural PII).
    "doc_pii_redact" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 15 === 0,
          concat(col("text"), lit(" contact me at user"), col("doc_id"),
            lit("@example.com or +1-555-0"), col("doc_id"), lit("99")))
          .otherwise(col("text")).as("text"))
      seeded.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]", "<PHONE>").as("redacted"),
        (col("text") rlike "@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}").as("had_email"))
    }),

    // T10: sequence packing — concat-then-chunk binning for LLM training
    // batches: running token total in deterministic doc order, bin =
    // which 2048-token block the document STARTS in. The prefix sum is
    // the two-phase distributed formulation (SequencePack) — a
    // partitionless Window.orderBy would drag the whole corpus through
    // one task (gated in PlanAuditSpec).
    "pack_documents" -> ((s, dir) =>
      SequencePack.packOffsets(
        TextAnalysis.withTokenCounts(Tables.documents(s, dir))
          .select(col("doc_id"), col("ws_tokens")))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          col("offset"), col("bin"))),

    // T10b: greedy FIRST-FIT bin packing — the bounded-bin doc→bin
    // assignment a dataloader consumes (no bin exceeds 2048 tokens;
    // docs never split). Distributed as exact first-fit within
    // deterministic 512-doc groups, bins namespaced per group
    // (SequencePack.binPackFirstFit); the oracle replays the identical
    // greedy fold as a DuckDB recursive CTE over per-group state.
    "pack_bins_firstfit" -> ((s, dir) =>
      SequencePack.binPackFirstFit(
        TextAnalysis.withTokenCounts(Tables.documents(s, dir))
          .select(col("doc_id"), col("ws_tokens")))),

    // T10c: deterministic training shards — the packed corpus dealt
    // into 8 fixed-count shards in hash60(doc_id) order (the
    // corpus_split no-rand() discipline: assignment and intra-shard
    // order are pure functions of the row, so the oracle replays them
    // exactly and a re-run writes equal bytes). The global rank is the
    // two-phase bucketed formulation, not a partitionless window
    // (TrainShards.shardAssign); TrainShardsSpec covers the
    // exactly-once per-shard-dir writer.
    "corpus_shards" -> ((s, dir) =>
      graft.operators.TrainShards.shardAssign(
        SequencePack.packOffsets(
          TextAnalysis.withTokenCounts(Tables.documents(s, dir))
            .select(col("doc_id"), col("ws_tokens"))),
        numShards = 8)
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          col("offset"), col("bin"), col("shard"), col("shard_pos"))),

    // ---- deduplication suite over injected-duplicate corpora -------------

    // DD1: exact dedup — hash-groupBy on md5(text), keep smallest id.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(docDupCorpus(s, dir))),

    // DD2: exact n-gram Jaccard pairs via inverted-index join, df-capped
    // (the 100 TB skew guard; a no-op at test SFs, mirrored in the oracle).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(docNearDupCorpus(s, dir), n = 3, threshold = 0.5,
          maxDocFreq = Some(ShingleDfCap))
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
          col("size_b"), trunc4(col("jaccard")).as("jaccard"))),

    // DD2e: the prefix-filtered entry point at t=0.5 — BELOW the
    // measured plan crossover, so the threshold gate (r16 verdict item
    // 2) dispatches this to the plain inverted join; the oracle (same
    // exact pair SQL as dedup_ngram_jaccard) proves the dispatch
    // changes nothing but the plan. The prefix plan itself is proven in
    // ITS regime by dedup_prefix_jaccard_hi below.
    "dedup_prefix_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(docNearDupCorpus(s, dir), n = 3,
          threshold = 0.5, maxDocFreq = Some(ShingleDfCap))
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
          col("size_b"), trunc4(col("jaccard")).as("jaccard"))),

    // DD2f: the AllPairs/PPJoin prefix-filtered candidate scheme in its
    // OWN regime (t=0.8 >= the crossover, prefix length sz/5 + 1) —
    // rarest-first global ordering, per-doc prefix index, size-ratio
    // filter, per-CANDIDATE exact verification. Oracle = the exact pair
    // SQL at the same threshold: result equality IS the losslessness
    // proof of the prefix pruning at the threshold where the candidate
    // join touches Σ(prefix-df)² rows instead of Σdf² — the scheme that
    // keeps all-pairs similarity affordable when the corpus is 100 TB
    // and t is high.
    "dedup_prefix_jaccard_hi" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(docNearDupCorpus(s, dir), n = 3,
          threshold = 0.8, maxDocFreq = Some(ShingleDfCap))
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
          col("size_b"), trunc4(col("jaccard")).as("jaccard"))),

    // DD8: C4-style corpus-wide boilerplate removal — a template
    // sentence planted on every 5th doc must vanish from ALL of them
    // (document frequency >= 3) while each doc's organic text (df 1)
    // survives, rebuilt in order; a doc is never dropped, only cleaned.
    "corpus_boilerplate_removed" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(". Subscribe to our newsletter for free offers")))
          .otherwise(col("text")).as("text"))
      Dedup.dropBoilerplateUnits(planted, minDocFreq = 3)
    }),

    // DD8c: the same corpus-wide boilerplate removal under CONTINUOUS
    // INGESTION — the corpus arrives as 3 disjoint batches, each
    // contributing only its own (unit, df) delta
    // (IncrementalBoilerplate.unitDfDelta; the persisted delta-log
    // store folds exactly this), and the landed corpus is cleaned
    // against the FOLDED document frequencies. The oracle is the
    // one-shot replay, so this row IS the fold == one-shot proof:
    // df over disjoint doc batches is additive, no rescan ever needed.
    "incremental_boilerplate_final" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(". Subscribe to our newsletter for free offers")))
          .otherwise(col("text")).as("text"))
      val folded = (0 until 3)
        .map(i => graft.operators.IncrementalBoilerplate.unitDfDelta(
          planted.filter(pmod(col("doc_id"), lit(3)) === i)))
        .reduce(_ unionByName _)
        .groupBy("unit").agg(sum("df").as("df"))
      Dedup.dropUnitsByDf(planted, folded, minDocFreq = 3)
    }),

    // DD8d: DD8c's fold taken through the PERSISTED store with the r19
    // LSM layout actually on disk: batch 0 lands and MAJOR-compacts
    // into the bucketed base, batch 1 lands and MINOR-compacts into an
    // L1 run (DeltaLog.compactMinor — O(tail) work, never O(corpus)),
    // batch 2 rides as the delta tail — the exact three-level steady
    // state of a continuously-ingesting deployment between
    // growth-triggered majors. Cleaning the corpus against that fold
    // must equal the same one-shot oracle, so the minor-compaction read
    // path is oracle-checked every round, not just spec-checked.
    "incremental_boilerplate_store" -> ((s, dir) => {
      import graft.operators.IncrementalBoilerplate
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(". Subscribe to our newsletter for free offers")))
          .otherwise(col("text")).as("text"))
      val store = org.apache.spark.sql.graftbridge.Bridge
        .createTempDir("boiler_store")
      IncrementalBoilerplate.updateStore(store, 0L,
        planted.filter(pmod(col("doc_id"), lit(3)) === 0))
      IncrementalBoilerplate.compact(s, store, targetRowsPerBucket = 256L)
      IncrementalBoilerplate.updateStore(store, 1L,
        planted.filter(pmod(col("doc_id"), lit(3)) === 1))
      IncrementalBoilerplate.compactMinor(s, store, targetRowsPerBucket = 256L)
      IncrementalBoilerplate.updateStore(store, 2L,
        planted.filter(pmod(col("doc_id"), lit(3)) === 2))
      IncrementalBoilerplate.cleanAgainstStore(planted, store, minDocFreq = 3)
    }),

    // IS1: incremental weighted exact-k sampling — three disjoint
    // batches land only their own per-group top-k ([[IncrementalSample]]
    // deltas); the read-side fold re-ranks the ≤ 3k surviving rows per
    // group and must equal the one-shot sample over the whole corpus
    // (the E-S key is deterministic per row, so rank selection is
    // mergeable: topK(A∪B) = topK(topK(A)∪topK(B))).
    "incremental_sample_final" -> ((s, dir) => {
      val docs = TextAnalysis.withTokenCounts(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          col("ws_tokens").cast("long").as("ws_tokens"))
      val folded = (0 until 3)
        .map(i => graft.operators.IncrementalSample.sampleDelta(
          docs.filter(pmod(col("doc_id"), lit(3)) === i),
          "lang", "doc_id", "ws_tokens", k = 12))
        .reduce(_ unionByName _)
      graft.operators.Mixture.weightedSampleK(folded,
          "lang", "doc_id", "ws_tokens", k = 12)
        .select("doc_id", "lang", "ws_tokens")
    }),

    // HL1: relational HyperLogLog registers — unlike
    // approx_distinct_users_daily (engine-private sketch, bounds-only
    // oracle), the register STATE here is an integer relation the
    // oracle hash-compares bit-for-bit.
    "hll_registers_daily" -> ((s, dir) =>
      graft.operators.DistinctSketch.registers(
          Tables.events(s, dir).select(to_date(col("ts")).as("event_date"),
            col("user_id")),
          Seq("event_date"), "user_id")
        .select(col("event_date"), col("bucket"),
          col("r").cast("long").as("r"))),

    // HL2: the incremental fold — three OVERLAPPING batches (max-merge
    // is idempotent, so unlike the additive stores no batch
    // disjointness is needed) folded and estimated; the oracle replays
    // the ONE-SHOT sketch + estimate arithmetic, so a green row proves
    // fold == one-shot AND the integer-exact harmonic sum.
    "incremental_distinct_final" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        to_date(col("ts")).as("event_date"), col("event_id"), col("user_id"))
      // null-safe slicing: pmod(null) is null (row in NO slice), so the
      // fold would silently miss null-event_id rows the one-shot oracle
      // sees. Fixtures carry none today; coalesce guarantees coverage of
      // the union regardless of fixture nullability (ADVICE r14).
      val sliceKey = coalesce(col("event_id"), lit(0L))
      val folded = (0 until 3)
        .map(i => graft.operators.DistinctSketch.registers(
          ev.filter(pmod(sliceKey, lit(2)) === i % 2 ||
            pmod(sliceKey, lit(3)) === i),
          Seq("event_date"), "user_id"))
        .reduce(_ unionByName _)
        .groupBy("event_date", "bucket")
        .agg(max("r").cast("int").as("r"))
      graft.operators.DistinctSketch.estimate(folded, Seq("event_date"))
        .join(ev.groupBy("event_date")
          .agg(count_distinct(col("user_id")).as("exact_users")), "event_date")
        .select(col("event_date"),
          trunc4(col("approx_distinct")).as("approx_users"),
          col("exact_users"))
    }),

    // HL3: relational Count-Min registers — the FREQUENCY sibling of
    // hll_registers_daily: token-occurrence counts in depth x width
    // fixed space, register state an integer relation the oracle
    // hash-compares bit-for-bit (same md5 hash60 + the minhash
    // signatures' affine mix family).
    "cms_registers" -> ((s, dir) =>
      graft.operators.FreqSketch.registers(
          Tables.documents(s, dir)
            .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
            .filter(col("tok") =!= ""),
          Seq.empty, "tok")
        .select(col("r").cast("long").as("r"), col("c"), col("cnt"))),

    // HL3b: CMS estimates vs exact counts — every distinct token of
    // every 100th doc estimated from the registers and joined to its
    // exact corpus count; integer-exact both sides, so the oracle
    // replays the estimate (and the CMS >= exact overcount guarantee
    // is visible in the row data itself).
    "cms_token_freq" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val regs = graft.operators.FreqSketch.registers(toks, Seq.empty, "tok")
      val queries = toks.filter(col("doc_id") % 100 === 0)
        .select("tok").distinct()
      graft.operators.FreqSketch.estimate(regs, queries, Seq.empty, "tok")
        .join(toks.groupBy("tok").agg(count(lit(1)).as("exact_count")), "tok")
        .select(col("tok"), col("cms_count"), col("exact_count"))
    }),

    // HL3c: the incremental fold — three DISJOINT doc slices' register
    // deltas folded by the additive per-cell sum, then estimated; the
    // oracle replays the ONE-SHOT sketch, so a green row proves
    // fold == one-shot for the additive merge (the boilerplate-df
    // contract, here on the sketch family).
    "cms_incremental_final" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val folded = (0 until 3)
        .map(i => graft.operators.FreqSketch.registers(
          toks.filter(pmod(col("doc_id"), lit(3)) === i), Seq.empty, "tok"))
        .reduce(_ unionByName _)
        .groupBy("r", "c").agg(sum("cnt").as("cnt"))
      val queries = toks.filter(col("doc_id") % 100 === 0)
        .select("tok").distinct()
      graft.operators.FreqSketch.estimate(folded, queries, Seq.empty, "tok")
        .select(col("tok"), col("cms_count"))
    }),

    // DD8b: INTRA-doc unit dedup — every 4th doc has its whole text
    // repeated as a second unit (scraped-page loop text); keep-first
    // must drop the repeat and rebuild, leaving other docs untouched.
    "doc_dedup_units" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(". "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.dedupUnitsWithinDocs(planted)
    }),

    // DD7: decontamination — eval "benchmark prompts" are injected as
    // 25-token prefixes of every 50th doc; the contamination check must
    // flag each against its source (5-gram overlap covering >=80% of the
    // prompt's shingles) and nothing else.
    "decontaminate_docs" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ").as("text"))
      Dedup.contaminationPairs(d, eval, n = 5, minOverlapFrac = 0.8,
          maxDocFreq = Some(ShingleDfCap))
        .select(col("train_id"), col("eval_id"), col("overlap"),
          col("eval_size"), trunc4(col("overlap_frac")).as("overlap_frac"))
    }),

    // DD7b: the CONSUMABLE end of decontamination (the dropNearDups of
    // this chain): the training corpus with every flagged doc removed —
    // one distinct + one anti-join on top of the pair miner.
    "decontaminated_corpus" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ").as("text"))
      val flagged = Dedup.contaminationPairs(d, eval, n = 5,
          minOverlapFrac = 0.8, maxDocFreq = Some(ShingleDfCap))
        .select(col("train_id").as("doc_id")).distinct()
      d.join(flagged, Seq("doc_id"), "left_anti").select("doc_id")
    }),

    // DD7c: the eval set as a FIXED-SIZE bloom bit relation (k=4,
    // m=65536 — ≤ m rows whatever the benchmark count): the
    // decontamination state that broadcasts for free at 100 TB instead
    // of shipping every eval shingle set. Integer bit addresses over
    // hash60 + the minhash mix family; the oracle replays them
    // bit-for-bit.
    "bloom_eval_bits" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ").as("text"))
      graft.operators.BloomSet.bits(
        Dedup.shingles(eval, n = 5).select("shingle"), "shingle")
    }),

    // DD7d: ingest-time decontamination VIA the bloom — per train doc,
    // the count/fraction of its df-capped 5-gram shingles possibly in
    // the eval filter, flagged at frac >= 0.3 OR n_hits >= 17 (= 0.8 x
    // the 21-shingle planted prompts — the absolute-hits flag is what
    // carries the no-false-negative guarantee vs the exact pair join;
    // BloomSetSpec pins hits >= exact overlap per pair and the flagged
    // superset at matching thresholds).
    "decontaminate_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ").as("text"))
      val ebits = graft.operators.BloomSet.bits(
        Dedup.shingles(eval, n = 5).select("shingle"), "shingle")
      graft.operators.BloomSet.contaminatedDocs(d, ebits, n = 5,
          minFrac = 0.3, minHits = Some(17L), maxDocFreq = Some(ShingleDfCap))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          trunc4(col("hit_frac")).as("hit_frac"), col("flagged"))
    }),

    // DD7c (r16): the COMPOSED ingest-time decontamination product,
    // IngestPipeline step 6's batch twin — benchmarks publish as TWO
    // bloom bit deltas (folded by IncrementalBloom's distinct-union
    // merge), docs ingest as THREE disjoint batches each checked
    // against the folded filter, and the decontaminated corpus is the
    // union of per-batch keeps. Per-doc verdicts have no cross-doc
    // coupling (no df-cap here), so the one-shot bloom check over the
    // whole corpus IS the oracle: a green row proves streamed ==
    // one-shot for the composed read side
    // (IngestPipeline.decontaminatedDocs).
    "ingest_decontaminated_final" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val eval = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ").as("text"))
      // multiples of 50 split by %100 into the two benchmark batches
      val ebits = Seq(0L, 50L).map(m =>
          graft.operators.BloomSet.bits(
            Dedup.shingles(eval.filter(pmod(col("doc_id"), lit(100L)) === m),
              n = 5).select("shingle"), "shingle"))
        .reduce(_ unionByName _).distinct()
      val report = (0 until 3).map(i =>
          graft.operators.BloomSet.contaminatedDocs(
            d.filter(pmod(col("doc_id"), lit(3)) === i), ebits, n = 5,
            minFrac = 0.3, minHits = Some(17L)))
        .reduce(_ unionByName _)
      d.join(report.filter(!col("flagged")).select("doc_id", "n_hits"),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_hits"))
    }),

    // T7b: QUALITY-WEIGHTED deterministic sampling — longer docs keep a
    // higher rate (5/20/40% by token-count tier), selection by content
    // hash (no rand(): reproducible across runs, engines, and cluster
    // sizes — the resampling step of a curation pipeline).
    "doc_sample_weighted" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("ws_tokens",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))).cast("long"))
        .withColumn("rate", when(col("ws_tokens") < 50, 5L)
          .when(col("ws_tokens") < 100, 20L).otherwise(40L))
        .withColumn("bucket", TextHash.hash60(col("text")) % 100)
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "ws_tokens", "rate", "bucket")),

    // DD2b: containment pairs — asymmetric |A∩B|/|A| catches subsumption
    // (a 15-token prefix excerpt of every 20th doc is injected; its
    // containment in the original is 1.0 while Jaccard stays low).
    "dedup_containment" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 15), " ").as("text")))
      Dedup.containmentPairs(corpus, n = 3, threshold = 0.9,
          maxDocFreq = Some(ShingleDfCap))
        .select(col("id_a"), col("id_b"),
          trunc4(col("containment_a")).as("containment_a"),
          trunc4(col("containment_b")).as("containment_b"))
    }),

    // DD2c: near-dup clusters — connected components over the Jaccard
    // pair list, cluster_id = min reachable doc_id. The step pair lists
    // can't provide: transitive chains collapse so dedup keeps exactly
    // one representative per group.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(
        Dedup.jaccardPairs(docNearDupCorpus(s, dir), n = 3, threshold = 0.5,
            maxDocFreq = Some(ShingleDfCap))
          .select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("cluster_id"))),

    // DD3b: the consumable dedup output — the corpus with every
    // non-representative cluster member dropped (Dedup.dropNearDups
    // anti-join over the CC labels; what a curation pipeline ships).
    "dedup_corpus_kept" -> ((s, dir) => {
      val corpus = docNearDupCorpus(s, dir)
      val clusters = Dedup.nearDupClusters(
        Dedup.jaccardPairs(corpus, n = 3, threshold = 0.5,
            maxDocFreq = Some(ShingleDfCap))
          .select("id_a", "id_b"))
      Dedup.dropNearDups(corpus, clusters).select("doc_id")
    }),

    // DD2d: winnow-fingerprint near-dup pairs — docs sharing >= 5 local
    // winnowing fingerprints (native codegen'd expression, no shingle
    // explode). Catches copied PASSAGES that whole-doc Jaccard dilutes.
    // The fingerprint df-cap is much tighter than the shingle one (10 vs
    // 100): winnow minima concentrate on low-hash common grams, so
    // common-phrase fingerprints are both the skew risk AND noise —
    // measured at sf0.01, cap 10 + minShared 5 keeps 24/25 injected
    // near-dup pairs while cutting the pair list 1800x.
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(docNearDupCorpus(s, dir), minShared = 5,
        maxDocFreq = Some(10L))),

    // DD2c: longest aligned exact span per pair — substring-level dedup
    // (the suffix-array-dedup signal at n-gram alignment resolution):
    // positioned-shingle inverted-index join, constant-offset
    // gaps-and-islands run detection. span_tokens = longest shared
    // consecutive token run; DedupSpec proves it equals the token-level
    // longest-common-substring DP on randomized corpora.
    "dedup_aligned_spans" -> ((s, dir) =>
      Dedup.alignedSpanPairs(Tables.documents(s, dir), n = 3,
        minTokens = 10, maxDocFreq = Some(ShingleDfCap))),

    // DD2d'': SPAN EXCISION — instead of dropping a span-sharing doc
    // wholesale, cut the longest shared passage out of the higher-id
    // member (keep-first: the min-id doc stays intact) and keep the
    // rest. One longest span per doc per pass, deterministic tiebreak.
    "dedup_span_pruned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.pruneSharedSpans(docs,
          Dedup.alignedSpanRuns(docs, n = 3, minTokens = 10,
            maxDocFreq = Some(ShingleDfCap)))
        .select("doc_id", "removed_tokens", "text_pruned")
    }),

    // DD2d: the consumable end of substring dedup — docs surviving
    // aligned-span pairing, via the same CC + anti-join chain as
    // dedup_corpus_kept (one representative per span-sharing cluster).
    "dedup_aligned_kept" -> ((s, dir) => {
      val pairs = Dedup.alignedSpanPairs(Tables.documents(s, dir), n = 3,
        minTokens = 10, maxDocFreq = Some(ShingleDfCap))
      Dedup.dropNearDups(Tables.documents(s, dir),
          Dedup.nearDupClusters(pairs.select("id_a", "id_b")))
        .select(col("doc_id"))
    }),

    // DD3: MinHash+LSH candidate pairs (16 hashes, 4 bands x 4 rows).
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(docNearDupCorpus(s, dir))
        .select(col("id_a"), col("id_b"),
          trunc4(col("sig_agreement")).as("sig_agreement"))),

    // DD3b: INCREMENTAL ingest dedup — the added-set of the corpus-diff
    // fixture (copies of every 19th doc under +200000 ids) mined against
    // the existing corpus via cross-corpus banded MinHash LSH
    // (IncrementalDedup.incrementalLshPairs): only pairs involving the
    // new batch, computed without re-pairing the corpus against itself.
    "dedup_incremental_pairs" -> ((s, dir) => {
      val a = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val added = a.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      graft.operators.IncrementalDedup.incrementalLshPairs(
          Dedup.minHashSignatures(added), Dedup.minHashSignatures(a))
        .select(col("id_a"), col("id_b"),
          trunc4(col("sig_agreement")).as("sig_agreement"))
    }),

    // DD3c: the CONSUMABLE end of incremental ingestion — which batch
    // docs survive? Batch = exact copies of every 19th doc (+200000:
    // should all be dropped against the corpus) ∪ uppercased copies of
    // every 31st (+300000: different shingles, genuinely new content —
    // kept). incremental pairs -> connected components -> dropNearDups
    // keeps exactly the batch docs that aren't non-representative
    // members of a dup cluster.
    "dedup_incremental_kept" -> ((s, dir) => {
      val a = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val added = a.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        .unionByName(a.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            upper(col("text")).as("text")))
      val pairs = graft.operators.IncrementalDedup.incrementalLshPairs(
          Dedup.minHashSignatures(added), Dedup.minHashSignatures(a))
        .select("id_a", "id_b")
      Dedup.dropNearDups(added, Dedup.nearDupClusters(pairs))
        .select("doc_id")
    }),

    // DD4: per-doc 16-bit SimHash signatures.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashes(docNearDupCorpus(s, dir))
        .select(col("id").as("doc_id"), col("simhash"))),

    // DD5: SimHash near-dup pairs (hamming <= 1, byte-blocked self-join).
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(docNearDupCorpus(s, dir))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // DD6: embedding-cosine near-dup pairs (brute force baseline).
    "dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDups(embDupCorpus(s, dir), threshold = 0.9)
        .select(col("id_a"), col("id_b"), trunc4(col("cosine")).as("cosine"))),

    // DD7: embedding near-dup via one 8-bit LSH table (equi-join on sign
    // bucket instead of the O(n^2) pair join; bits pinned to the oracle).
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupsLsh(embDupCorpus(s, dir), threshold = 0.9,
          bits = 8)
        .select(col("id_a"), col("id_b"), trunc4(col("cosine")).as("cosine"))),

    // DD6c: end-to-end embedding near-dup CLUSTERS — banded-LSH
    // candidate pairs fed to the connected-components fixpoint; the
    // embedding twin of dedup_clusters (every vector in a dup group maps
    // to the group's min id).
    "dedup_embedding_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(
        Dedup.embeddingNearDupsLshBanded(embDupCorpus(s, dir),
            threshold = 0.9, tables = 4, bitsPerTable = 16)
          .select("id_a", "id_b"))
        .select(col("id").as("vec_id"), col("cluster_id"))),

    // DD7b: banded multi-table LSH (4 tables x 16 bits) — the 100 TB
    // configuration: long codes keep the candidate join at n^2/16384,
    // OR-across-tables restores the recall long codes would lose.
    "dedup_embedding_lsh_banded" -> ((s, dir) =>
      Dedup.embeddingNearDupsLshBanded(embDupCorpus(s, dir), threshold = 0.9,
          tables = 4, bitsPerTable = 16)
        .select(col("id_a"), col("id_b"), trunc4(col("cosine")).as("cosine"))),

    // A5 (extension): HLL++ approximate distinct users per day, with a
    // BOUNDS-CHECK oracle. The sketch value itself can't be compared
    // cross-engine (DuckDB's approx sketch differs), so the verified
    // output carries the exact distinct count (engine-identical) plus
    // `approx_ok` = |approx − exact| ≤ 3·rsd·exact; the oracle emits the
    // same exact counts with approx_ok constant-true. Rows hash-match
    // iff every day's sketch landed inside its 3σ band — a real
    // cross-engine guarantee on the approximation, not just a row count.
    // (The exact count rides along for verification only; the sketch is
    // the production path — AggregatesSpec bounds it too.)
    "approx_distinct_users_daily" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          count_distinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_date"), col("exact_users"), col("n_events"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(3 * 0.02) * col("exact_users")).as("approx_ok"))),

    // P15: base64 encode/decode roundtrip (lambda1.py:31's decode step).
    "base64_roundtrip" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        base64(encode(col("event_type"), "UTF-8")).as("b64"),
        decode(unbase64(base64(encode(col("event_type"), "UTF-8"))), "UTF-8")
          .as("roundtrip"))),

    // ---- similarity search over embeddings -------------------------------

    // SS1: brute-force cosine top-10 per query vector (exact baseline).
    "ann_bruteforce_topk" -> ((s, dir) =>
      SimilaritySearch.bruteForceTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS1b: hard-negative mining — per query, the top-10 most-similar
    // vectors in a DIFFERENT IVF cell (16 deterministic cells as the
    // label): the high-similarity wrong-class examples contrastive
    // training needs. Label filter rides the broadcast join condition;
    // at scale the corpus side swaps for any equi candidate generator.
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val labels = SimilaritySearch.ivfAssignments(emb, numCentroids = 16)
        .select(col("id").as("vec_id"), col("centroid_id").as("label"))
      SimilaritySearch.hardNegatives(emb, annQueries(s, dir), labels, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))
    }),

    // SS2: LSH-bucketed top-10 (8-bit random-hyperplane buckets).
    "ann_lsh_topk" -> ((s, dir) =>
      SimilaritySearch.lshTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10, bits = 8)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS2b: multi-probe LSH — also probes the `bits` hamming-1 buckets.
    "ann_lsh_multiprobe_topk" -> ((s, dir) =>
      SimilaritySearch.lshTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10, bits = 8, multiProbe = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS2c: banded multi-table LSH top-k (4x16 bits; ids-only candidate
    // shuffle, exact-cosine rank after join-back) — the retrieval twin
    // of dedup_embedding_lsh_banded. Runs against the injected-dup corpus:
    // every query (vec_id % 50 == 0, hence % 25 == 0) has an identical
    // copy at +100000, so each query collides in all 4 band tables and the
    // contract row exercises real candidates (r6 ran the plain table and
    // got a vacuous 0-rows-vs-0-rows green).
    "ann_lsh_banded_topk" -> ((s, dir) =>
      SimilaritySearch.lshBandedTopK(embDupCorpus(s, dir),
          annQueries(s, dir), k = 10, tables = 4, bitsPerTable = 16)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS1b: brute-force top-10 via the typed TopKAggregator instead of a
    // window — partial aggregation caps every partial buffer at k, so
    // the shuffle carries <= k rows per (query, partition). Must equal
    // ann_bruteforce_topk row-for-row (same oracle).
    "ann_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val dot = graft.functions.VectorFunctions.dotF _
      val corpus = Tables.embeddings(s, dir)
      val queries = annQueries(s, dir)
      val c = corpus.select(col("vec_id").as("id"), col("embedding").as("v"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qnrm"))
      val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
        .select(col("query_id"),
          SimilaritySearch.cosineFromNorms(dot(col("qv"), col("v")),
            col("qnrm"), col("nrm")).as("cosine"),
          col("id"))
        .as[(Long, Double, Long)]
      scored.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKAggregator(10).toColumn.name("tk"))
        .flatMap { case (qid, tk) =>
          tk.zipWithIndex.map { case ((cos, id), i) => (qid, id, (i + 1).toLong, cos) }
        }
        .toDF("query_id", "neighbor_id", "rank", "cosine")
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          trunc4(col("cosine")).as("cosine"))
    }),

    // SS3: IVF top-10 — fixed-k sampled centroids (constant in corpus
    // size), cell assignment, nprobe=4.
    "ann_ivf_topk" -> ((s, dir) =>
      SimilaritySearch.ivfTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS5: product-quantization top-10 — corpus encoded as 8 codes/vector
    // against a seeded 16-entry codebook; queries answered from a
    // per-query lookup table with a strict left-to-right 8-term fold.
    "ann_pq_topk" -> ((s, dir) =>
      SimilaritySearch.pqTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          trunc4(col("approx_score")).as("approx_score"))),

    // SS5b: PQ with a K-MEANS-TRAINED codebook (8 subspaces x 16 codes
    // x 3 integer-exact Lloyd iters; one grouped loop trains all
    // subspaces per pass) — same query set and scoring fold as
    // ann_pq_topk, so the two rows isolate the codebook's effect.
    "ann_pq_trained_topk" -> ((s, dir) =>
      SimilaritySearch.pqTopKTrained(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          trunc4(col("approx_score")).as("approx_score"))),

    // SS6: IVF-PQ top-10 — IVF cells prune WHICH codes are scored
    // (nprobe=8 of 64 cells), PQ codes make each candidate an 8-add
    // table fold. The composed 100 TB ANN index shape.
    "ann_ivfpq_topk" -> ((s, dir) =>
      SimilaritySearch.ivfPqTopK(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          trunc4(col("approx_score")).as("approx_score"))),

    // SS2d: banded LSH with hamming-1 multiprobe on the query side —
    // the recall lever at constant index cost (probe fanout is
    // (bits+1) x |queries| rows; the corpus side and the ids-only
    // candidate shuffle are unchanged). Same injected-dup corpus as
    // ann_lsh_banded_topk so the contract rows are non-vacuous.
    "ann_banded_multiprobe_topk" -> ((s, dir) =>
      SimilaritySearch.lshBandedTopK(embDupCorpus(s, dir),
          annQueries(s, dir), k = 10, tables = 4, bitsPerTable = 16,
          multiProbe = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS3b: IVF over K-MEANS-TRAINED centroids (integer-exact Lloyd,
    // 32 cells x 3 iters) instead of the hash-order sample — the
    // train-once / probe-per-query production split. nprobe=3 of 32
    // cells ~ 9% candidate fraction.
    "ann_ivf_trained_topk" -> ((s, dir) =>
      SimilaritySearch.ivfTopKTrained(Tables.embeddings(s, dir),
          annQueries(s, dir), k = 10, numCentroids = 32, iters = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))),

    // SS7: planted-neighbor ground-truth check — every 20th corpus
    // vector perturbed to cosine ~0.945 (seeded md5 noise, engine-
    // portable) must find its SOURCE as exact top-1, with the runner-up
    // far below. Proves the planted recall metric the bench reports
    // (recall = "index retrieved the source") measures index quality on
    // this isotropic corpus (see ann_corpus_isotropy and the
    // SimilaritySearch.plantedQueries scaladoc).
    "ann_planted_check" -> ((s, dir) =>
      SimilaritySearch.bruteForceTopK(Tables.embeddings(s, dir),
          SimilaritySearch.plantedQueries(Tables.embeddings(s, dir)), k = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"),
          (col("neighbor_id") === col("query_id") - 900000L).as("is_source"))),

    // SS8: the isotropy demonstration, oracle-checked — pairwise cosine
    // moments over the id%10 sample (mean ~0, std ~1/sqrt(64): the
    // i.i.d.-noise signature) and the label-agreement rate of each
    // query's true top-10 (chance = 1/|labels|: labels carry no
    // geometry). The documented reason organic ANN recall on this
    // corpus is bounded near the candidate fraction, and the planted
    // metric is the meaningful one.
    "ann_corpus_isotropy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dot = graft.functions.VectorFunctions.dotF _
      // the pair sample is bounded by an absolute id range (not just a
      // modulus) so the quadratic diagnostic stays <= 2000^2/2 pairs at
      // ANY corpus scale — it is a geometry probe, not a corpus scan
      def side(n: String) = emb.filter(col("vec_id") % 10 === 0 &&
          col("vec_id") < 20000)
        .select(col("vec_id").as(s"id_$n"), col("embedding").as(s"v_$n"),
          sqrt(dot(col("embedding"), col("embedding"))).as(s"nrm_$n"))
      val pairs = side("a").join(broadcast(side("b")),
          col("id_a") < col("id_b"))
        .select(SimilaritySearch.cosineFromNorms(
          dot(col("v_a"), col("v_b")), col("nrm_a"), col("nrm_b")).as("c"))
        .agg(count(lit(1)).as("n_pairs"), avg(col("c")).as("mean_c"),
          avg(col("c") * col("c")).as("m2"))
        .select(col("n_pairs"), trunc4(col("mean_c")).as("mean_cos"),
          trunc4(sqrt(col("m2") - col("mean_c") * col("mean_c")))
            .as("std_cos"))
      val lbl = emb.select(col("vec_id"), col("label"))
      val top10 = SimilaritySearch.bruteForceTopK(emb, annQueries(s, dir),
          k = 10)
        .join(lbl.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "q_label"), Seq("query_id"))
        .join(lbl.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "n_label"), Seq("neighbor_id"))
        .agg(trunc4(avg((col("q_label") === col("n_label"))
          .cast("double"))).as("top10_label_match"),
          countDistinct(col("n_label")).as("n_labels_seen"))
      pairs.crossJoin(top10)
    }),

    // SS9: incremental ANN ingest — a "new batch" (every 25th vector
    // re-emitted at +100000, the embDupCorpus convention) answered
    // against the already-indexed corpus via the persisted-band-store
    // path (IncrementalAnn.incrementalTopK: corpus bands ids-only,
    // batch-internal candidates included, exact-cosine rank). Each batch
    // vector is an exact copy of a corpus vector, so it collides in all
    // 4 band tables and its source is the guaranteed rank-1 row —
    // non-vacuous at every SF. Batch-by-batch == union-corpus rerun is
    // IncrementalAnnSpec's equality.
    "ann_incremental_topk" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val batch = corpus.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      graft.operators.IncrementalAnn.incrementalTopK(
          graft.operators.IncrementalAnn.indexRows(batch),
          graft.operators.IncrementalAnn.indexRows(corpus), k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), trunc4(col("cosine")).as("cosine"))
    }),

    // SS4: scalar int8 quantization of embeddings (per-vector min/max,
    // floor-based so both engines bit-agree), exploded to scalar rows.
    // E0: unit-L2 normalization — the embedding-prep step after which
    // cosine == dot and norm columns disappear. Codegen'd native
    // kernel (VectorKernels.l2normalize), map-only plan; exploded to
    // rows for the cross-engine compare. Division by the left-to-right
    // double norm, NOT multiplication by a reciprocal (different
    // rounding would break the oracle).
    "embedding_l2_normalize" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.l2normF(col("embedding")))
            .as(Seq("dim", "xn")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("xn").cast("double").as("xn"))),

    // T2b: per-language percentile rank of the quality score — how
    // per-language curation thresholds are set. Scale-safe two-phase
    // rank (Normalize.percentileRanks): tier counts + tiny running sum,
    // rows rank only within their (lang, tier) — never a whole-language
    // window task.
    "doc_quality_percentile" -> ((s, dir) => {
      val scored = TextAnalysis.withQualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          floor(col("quality_score") * 10000).cast("long").as("q_ppm"))
      graft.operators.Normalize.percentileRanks(scored, "lang", "q_ppm", "doc_id")
        .select(col("doc_id"), col("lang"), col("q_ppm"), col("rank"),
          trunc4(col("pct")).as("pct"))
    }),

    "embedding_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("vmin", array_min(col("embedding")).cast("double"))
        .withColumn("vmax", array_max(col("embedding")).cast("double"))
      e.select(col("vec_id"), col("vmin"), col("vmax"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          least(floor((col("x").cast("double") - col("vmin")) /
            greatest(col("vmax") - col("vmin"), lit(1e-12)) * 256.0), lit(255.0))
            .cast("long").as("q"))
    }),

    // N1: per-group winsorization — values clipped to their event
    // type's [p05, p95] (exact interpolated percentiles, the
    // value_quantiles definition, so bounds are cross-engine
    // identical); the feature-taming step before training.
    "value_winsorized" -> ((s, dir) =>
      graft.operators.Normalize.winsorize(
          Tables.events(s, dir)
            .filter(col("value").isNotNull && !isnan(col("value"))),
          "value", Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          trunc4(col("value_w")).as("value_w"))),

    // Q1: one-pass table profile — per-column non-null/null/distinct
    // counts and string-cast bounds as rows, the first query against an
    // unfamiliar table (and the A4 null-profile generalized: queryable,
    // diffable across snapshots). One scan; exact distincts via the
    // multi-distinct Expand (ProfileSpec proves the approx variant
    // drops it for warehouse scale).
    "table_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // Q2: per-column top-k frequent values — the profile's companion
    // (which values dominate a skewed column). One scan, map-side
    // explode, partial-combined counts, WindowGroupLimit rank.
    "table_topk_values" -> ((s, dir) =>
      graft.operators.Profile.topValues(Tables.documents(s, dir),
          Seq("lang", "source"), k = 3)
        .select(col("col_name"), col("value"), col("n"),
          col("rank").cast("long").as("rank"))),

    // F1: ordered behavioral funnel — earliest view→click→purchase
    // chain per user within 7 days of the anchoring view; one row per
    // entered user with step timestamps (null once broken) and depth.
    "user_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnel(Tables.events(s, dir),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSec = Some(7L * 86400))),

    // F2: the funnel report — entities reaching each step (cumulative
    // from the depth histogram by exploding each depth to the steps it
    // proves; no partitionless window, no inequality join).
    "funnel_conversion" -> ((s, dir) =>
      graft.operators.Funnel.conversion(
        graft.operators.Funnel.funnel(Tables.events(s, dir),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), withinSec = Some(7L * 86400)))),

    // Q3: profile drift — two snapshots' profiles full-outer joined on
    // the column name: schema add/drop status, count deltas, bounds
    // flag. The "after" snapshot is the en-only subset with `source`
    // dropped (ProfileSpec also covers the 'added' branch).
    "profile_drift" -> ((s, dir) => {
      val P = graft.operators.Profile
      P.drift(
        P.profile(Tables.documents(s, dir),
          Seq("doc_id", "text", "lang", "source", "n_chars")),
        P.profile(Tables.documents(s, dir).filter(col("lang") === "en"),
          Seq("doc_id", "text", "lang", "n_chars")))
    }),

    // F3: weekly retention cohorts over purchases — each user anchored
    // to the week of their first purchase; the (cohort, offset) decay
    // matrix. Monday-anchored date_trunc('week') both engines.
    "retention_cohorts" -> ((s, dir) =>
      graft.operators.Retention.cohorts(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        col("user_id"), col("ts"))),

    // V2: unigram-LM quality scoring (the CCNet perplexity-filter
    // signal) — avg per-token log-prob under the corpus's own unigram
    // distribution; decimal-stable per-doc sums, 1e-4 floor truncation.
    "doc_unigram_logprob" -> ((s, dir) =>
      graft.operators.Relevance.unigramLogScores(Tables.documents(s, dir))
        .select(col("id").as("doc_id"), col("n_toks"),
          col("avg_logprob_t"))),

    // V2b: interpolated BIGRAM LM scoring — avg log-prob over token
    // TRANSITIONS (λ·bigram MLE + (1−λ)·unigram, λ=0.75): the
    // perplexity filter that catches shuffled/stuffed text whose
    // tokens are common but whose transitions aren't. Self-scoring
    // makes pure backoff vacuous (every bigram is seen once), hence
    // interpolation.
    "doc_bigram_logprob" -> ((s, dir) =>
      graft.operators.Relevance.bigramLogScores(Tables.documents(s, dir))
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("avg_logprob_b"))),

    // R5: DSIR importance weights (Xie et al. 2023) — every non-English
    // doc scored for how English-target-like its hashed bag-of-words
    // is: log-ratio of Laplace-smoothed 256-bucket unigram models
    // (target = lang 'en', raw pool = the rest). One tokenize pass
    // feeds both models; totals inline as literals (bounded 2-long
    // collect, no 1-row broadcast); scoring is a broadcast equi-join of
    // the 256-row model + per-doc decimal-sum aggregate.
    "dsir_log_weights" -> ((s, dir) =>
      graft.operators.Relevance.dsirLogWeights(Tables.documents(s, dir),
          isTarget = col("lang") === "en", buckets = 256)
        .select(col("id").as("doc_id"), col("n_toks"), col("log_weight"))),

    // R5b: the selection end — top-100 most target-like raw docs by
    // (floored weight DESC, id): deterministic cut, plans as
    // TakeOrderedAndProject (per-partition top-n, no global sort).
    "dsir_selected" -> ((s, dir) =>
      graft.operators.Relevance.dsirSelect(
          graft.operators.Relevance.dsirLogWeights(Tables.documents(s, dir),
            isTarget = col("lang") === "en", buckets = 256), n = 100)
        .select(col("id").as("doc_id"), col("log_weight"))),

    // V3: hashing-trick vectorizer — sparse bag-of-words in a FIXED
    // 256-bucket space (no vocabulary table, no fit step); long format.
    "doc_hashed_features" -> ((s, dir) =>
      graft.functions.TextAnalysis.hashedFeatures(
          Tables.documents(s, dir), dim = 256)
        .select(col("id").as("doc_id"), col("bucket"), col("n"))),

    // V1: adjacent-token pair frequencies (the BPE-training inner loop;
    // bigram collocation counts). Pairs never cross doc boundaries;
    // minCount cuts the hapax tail before materialization.
    "bpe_pair_counts" -> ((s, dir) =>
      graft.functions.TextAnalysis.adjacentPairCounts(
        Tables.documents(s, dir), minCount = 5L)),

    // V4: PMI collocations — adjacent pairs co-occurring far above
    // their unigram expectation (phrase-mining / tokenizer vocab
    // seeding). Exact integer counts; fixed ln-chain score, trunc4.
    "token_pmi_pairs" -> ((s, dir) =>
      graft.functions.TextAnalysis.pmiPairs(
        Tables.documents(s, dir), minCount = 5L)),

    // C1: in-engine trained quality classifier — full-batch perceptron
    // over 64-bucket hashed features, label = (lang == 'en'), 4 epochs.
    // Integer-exact training trajectory: the oracle replays all 4
    // epochs as an unrolled CTE chain; one mis-scored doc in any epoch
    // would shift every later epoch's weights.
    "perceptron_weights" -> ((s, dir) =>
      graft.operators.Perceptron.trainHistory(Tables.documents(s, dir),
        isPositive = col("lang") === "en", dim = 64, epochs = 4)),

    // C1b: the trained filter applied — every doc scored by the final
    // epoch's weights; pred = sign(score), zero scored negative (the
    // decision rule training counted mistakes with).
    "perceptron_scored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w4 = graft.operators.Perceptron.trainHistory(docs,
          isPositive = col("lang") === "en", dim = 64, epochs = 4)
        .filter(col("epoch") === 4)
      graft.operators.Perceptron.score(docs, w4, dim = 64)
        .select(col("id").as("doc_id"), col("score"), col("pred"))
    }),

    // R5: multi-query BM25 retrieval — every 400th doc's first-4-token
    // prefix becomes a query; term-at-a-time inverted-index join, no
    // query×doc cross product; per-query top-10 by a DECIMAL-exact
    // score sum, ties by doc_id.
    "search_bm25_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 400 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 4))
            .as("qtext"))
      graft.operators.Relevance.bm25SearchTopK(docs, queries, k = 10)
    }),

    // S9: per-source cap (domain balancing) — keep at most 200 docs per
    // source by (n_chars desc, doc_id) rank: the over-represented-domain
    // guard of a crawl mixture. WindowGroupLimit keeps ~200 rows per
    // source below the sort.
    "source_capped_docs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rk") <= 200)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rk").cast("long").as("rk"))
    }),

    // V1b: the BPE TRAINER the pair counts are the inner loop of — 6
    // rounds of top-pair → greedy non-overlapping merge → recount,
    // emitting the learned merge table. Integer/string-exact, so the
    // oracle replays it as an unrolled CTE chain (the k-means/PageRank
    // playbook); a single mis-merged token anywhere would change every
    // later round's counts, which is what makes 6 rows discriminating.
    "bpe_merge_sequence" -> ((s, dir) =>
      graft.functions.TextAnalysis.bpeMergeSequence(
        Tables.documents(s, dir), steps = 6)),

    // T4: the tokenizer ENCODE side — train 3 merges, replay them
    // against the same corpus; the result must be the exact token
    // stream the trainer held after round 3 (the oracle replays the
    // unrolled trainer CTEs), proving the train-once/encode-everywhere
    // split reproduces training tokenization. (Merge chaining — a merge
    // consuming a prior merge's token — is BpeSpec territory: this
    // corpus's top merges are all disjoint word pairs.)
    "bpe_encode_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // batched encode: provably stream-identical to the sequential
      // replay (BpeSpec), fusing unrelated merges into one pass each
      // (measured 8x at 256 merges); the oracle replays the sequential
      // trainer CTEs, so the equality is hash-checked here too
      graft.functions.TextAnalysis.bpeEncodeBatched(docs,
          graft.functions.TextAnalysis.bpeMergeSequence(docs, steps = 3))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
    }),

    // T4b: the PERSISTENCE round-trip a production tokenizer ships —
    // train on half the corpus, WRITE the merge table as parquet, read
    // it back, and encode the OTHER (fresh, disjoint) half under the
    // re-read table. Every prior BPE row trains and encodes in one
    // session over one corpus; this one proves the artifact boundary:
    // the persisted table drives the identical greedy rewrite on
    // documents the trainer never saw. Oracle = unrolled trainer CTEs
    // over the train half + the encode rewrite unrolled over the eval
    // half, merge by merge.
    "bpe_persisted_encode" -> ((s, dir) => {
      val T = graft.functions.TextAnalysis
      val docs = Tables.documents(s, dir)
      val tableDir =
        org.apache.spark.sql.graftbridge.Bridge.createTempDir("bpe_merges")
      T.bpeMergeSequence(docs.filter(col("doc_id") % 2 === 0), steps = 4)
        .write.mode("overwrite").parquet(tableDir)
      T.bpeEncodeBatched(docs.filter(col("doc_id") % 2 === 1),
          s.read.parquet(tableDir))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
    }),

    // Q7: MERGEABLE quantile sketch (HdrHistogram/DDSketch layout in
    // pure integer arithmetic — octave by binary-string length, 16
    // linear sub-buckets, exact integer rank ceil): p50/p90/p99 of
    // non-negative event values per type, answered from a summary that
    // folds across batches with EXACT equality (ProfileSpec). The
    // oracle replays every integer op.
    "value_hdr_quantiles" -> ((s, dir) => {
      val P = graft.operators.Profile
      P.hdrQuantiles(
          P.hdrBins(Tables.events(s, dir)
            .filter(col("value").isNotNull && !isnan(col("value"))),
            "event_type", "value"),
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .select(col("g").as("event_type"), col("q"), col("est"))
    }),

    // Q7b: the same quantiles from a 3-BATCH FOLD of the summary — the
    // continuous-ingestion path (IncrementalProfile.updateQuantileStore
    // persists exactly this fold). The oracle is the ONE-SHOT replay,
    // so the cross-engine row itself proves fold == one-shot.
    "incremental_quantiles_final" -> ((s, dir) => {
      val P = graft.operators.Profile
      val clean = Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
      val folded = (0 until 3)
        .map(i => P.hdrBins(clean.filter(pmod(col("event_id"), lit(3)) === i),
          "event_type", "value"))
        .reduce(P.hdrMerge)
      P.hdrQuantiles(folded,
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .select(col("g").as("event_type"), col("q"), col("est"))
    }),

    // Q6: equi-DEPTH histogram — 10 near-equal-count bins per event
    // type (quantile feature bucketing; the skew-proof complement of
    // the equal-width value_histogram). ntile ties broken by event_id.
    "value_equidepth_bins" -> ((s, dir) =>
      graft.operators.Profile.equiDepthBins(
          Tables.events(s, dir)
            .filter(col("value").isNotNull && !isnan(col("value"))),
          "event_type", "value", "event_id", nBins = 10)
        .select(col("grp").as("event_type"),
          col("bin").cast("long").as("bin"), col("n"),
          col("bin_min"), col("bin_max"))),

    // Q4: robust per-group outliers — events whose value sits > 3 MADs
    // from the per-type median. Discrete lower median (the (n+1)/2-th
    // row under ORDER BY value, id), so median/MAD/threshold are all
    // bit-exact cross-engine — no interpolation anywhere.
    "value_outliers_mad" -> ((s, dir) =>
      graft.operators.Profile.outliersMad(
          Tables.events(s, dir)
            .filter(col("value").isNotNull && !isnan(col("value"))),
          "event_type", "value", "event_id", k = 3)
        .select(col("grp").as("event_type"), col("id").as("event_id"),
          col("v").as("value"), col("med"), col("mad"), col("dev"))),

    // Q5: per-group feature correlation matrix — every pair's Pearson
    // corr as a partial aggregate in ONE hash aggregate over one scan,
    // exploded to (group, col_x, col_y) rows map-side. Floor-truncated:
    // co-moment accumulation order is engine-dependent in the last ulps.
    "feature_correlations" -> ((s, dir) =>
      graft.operators.Profile.correlations(Tables.lineitem(s, dir),
          "l_returnflag", Seq(
            ("l_quantity", "l_extendedprice"),
            ("l_extendedprice", "l_discount"),
            ("l_quantity", "l_discount"),
            ("l_discount", "l_tax")))
        .select(col("grp").as("l_returnflag"), col("col_x"), col("col_y"),
          col("corr_t"))),

    // CL5: kNN label propagation — every 50th vector plays "unlabeled"
    // and takes the majority label of its 10 nearest LABELED neighbors
    // (exact top-k baseline; the vote composes identically over the
    // IVF/banded-LSH retrieval for the scale path — KnnClassifySpec
    // proves vote-over-index == vote-over-exact where recall allows).
    "knn_label_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val labeled = emb.filter(col("vec_id") % 50 =!= 0)
      graft.operators.KnnClassify.vote(
          SimilaritySearch.bruteForceTopK(labeled, queries, k = 10),
          labeled, "vec_id", "label")
        .select(col("query_id"), col("label"), col("votes"),
          col("best_rank").cast("long").as("best_rank"))
    }),

    // ER1: fuzzy record linkage — customer-name pairs within edit
    // distance 1 via EXACT deletion-neighborhood blocking (FastSS
    // family): an equi-join on delete-one keys + one levenshtein
    // filter, never a cross join. The oracle is the NAIVE all-pairs
    // formulation — blocked and unblocked must return the same pairs.
    "fuzzy_name_pairs" -> ((s, dir) =>
      graft.operators.EntityMatch.fuzzyPairs(Tables.customer(s, dir),
        "c_custkey", "c_name")),

    // G1: PageRank over the symmetrized supplier—customer co-purchase
    // graph, 3 supersteps, integer-exact (floor-division contributions,
    // LONG sums, literal base term — operators.PageRank rationale). The
    // oracle replays the same recurrence as an unrolled CTE chain, so
    // the full iterative propagation is hash-checked, not smoke-checked.
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.PageRank.ranksPrepared(copurchasePrepared(s, dir),
          iters = 3)
        .select(copurchaseNodeName(col("node")).as("node"), col("rank"))),

    // G3: WEIGHTED PageRank — outgoing mass splits by co-purchase
    // COUNT (lineitems per supplier-customer pair), the real-graph
    // case; contribution = (rank // Σw) * w, still pure LONG
    // arithmetic (unweighted is literally the w=1 special case).
    // Shares the co-purchase base relation with the uniform variants;
    // only the (pair-count weights, out-weight fold) differ.
    "graph_pagerank_weighted" -> ((s, dir) => {
      val raw = copurchaseBase(s, dir)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      graft.operators.PageRank.weightedRanks(
          graft.operators.PageRank.undirectWeighted(raw, "a", "b", "w"),
          "src", "dst", "w", iters = 3)
        .select(copurchaseNodeName(col("node")).as("node"), col("rank"))
    }),

    // G2: PERSONALIZED PageRank — restart mass only at supplier nodes,
    // so ranks measure proximity to the supply side (seeded relevance
    // propagation: expand a trusted seed set through the graph). Same
    // recurrence, seed-conditional restart term, same shared prepared
    // relation as graph_pagerank.
    "graph_ppr_suppliers" -> ((s, dir) =>
      graft.operators.PageRank.personalizedRanksPrepared(
          copurchasePrepared(s, dir), iters = 3,
          isSeed = n => pmod(n, lit(2)) === 0) // even id = supplier node
        .select(copurchaseNodeName(col("node")).as("node"), col("rank"))),

    // G6: RUN-TO-CONVERGENCE PageRank over a graph that actually
    // fixpoints inside the budget — per-nation customer CYCLES
    // (symmetric, degree <= 2), where the uniform start is already
    // near the stationary point and the integer recurrence settles in
    // 3-6 rounds. The contract surfaces the detector's verdict as
    // columns (converged, rounds < budget), and the rank side is
    // oracled as the FULL-BUDGET unrolled CTE — valid because integer
    // exactness makes stop-at-fixpoint == run-all-rounds bit-for-bit
    // (the theorem ranksToConvergence's early stop rests on).
    "graph_pagerank_converged" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      val cyc = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .select(col("c_custkey").as("a"),
          coalesce(lead(col("c_custkey"), 1).over(w),
            min(col("c_custkey"))
              .over(Window.partitionBy("c_nationkey"))).as("b"))
      val prepared = graft.operators.PageRank.prepare(
        graft.operators.PageRank.undirect(cyc, "a", "b"), "src", "dst")
      val (ranks, rounds, converged) =
        graft.operators.PageRank.ranksToConvergence(prepared, maxIters = 8)
      ranks.select(col("node"), col("rank"),
        lit(converged).as("converged"),
        lit(rounds < 8).as("rounds_lt_budget"))
    }),

    // G4: generic connected components (distributed min-label fixpoint)
    // over the customer–order membership graph — STRING node ids, star
    // topology (diameter 2, converges in ~2 rounds). The oracle is the
    // graph's known structure: every component's min node is its 'c'
    // node ('c' < 'o' bytewise), so component('o…') = the owning 'c…'.
    "graph_components" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("o"), col("o_orderkey")).as("dst"))
      graft.operators.ConnectedComponents.components(edges, "src", "dst")
    }),

    // G5: star-contraction components over per-customer order CHAINS —
    // path graphs are the deep-diameter case the alternating
    // large/small-star rounds exist for (log(size) rounds, where the
    // min-label fixpoint would pay diameter-many). Component = the
    // customer's min orderkey, which the oracle computes structurally.
    "graph_components_star" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val edges = Tables.orders(s, dir)
        .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("src"), col("o_orderkey").as("dst"))
      graft.operators.ConnectedComponents.componentsStar(edges, "src", "dst")
    }),

    // L1: multi-dimensional layout key — the Morton z-value over two
    // bounded dimension keys. Sorting/range-partitioning a table by zv
    // ([[graft.operators.Layout.zOrdered]]) tiles the (x, y) space so
    // file-level min/max stats prune scans filtered on EITHER column;
    // the contract row pins the interleave bit-exactly.
    "events_zorder_key" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_id"),
          col("user_id").bitwiseAND(lit(4095L)).as("x"),
          floor(col("value") * 10).cast("long").bitwiseAND(lit(4095L)).as("y"))
        .select(col("event_id"), col("x"), col("y"),
          graft.functions.ZValueFunctions.zValue(col("x"), col("y")).as("zv"))),

    // CL1: semantic clustering — integer-exact k-means over the
    // embedding corpus (k=8, 3 assignment rounds). Deterministic by
    // construction (quantized longs, lexicographic argmin, floor-mean
    // updates), so the full iterative algorithm is oracle-checkable —
    // not just a rows-only smoke. Assignment is a map-only codegen'd
    // pass per round; the update shuffle is partial-agged to <= k*d rows
    // per partition (ClusterSpec + PlanAuditSpec assert the shape).
    "semantic_clusters" -> ((s, dir) =>
      Cluster.kmeansAssignments(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 8, iters = 3)
        .select(col("id").as("vec_id"),
          col("cluster").cast("long").as("cluster"), col("dist"))),

    // CL4: train/apply split — the injected-copy vectors (a "new ingest
    // batch") classified against centroids TRAINED on the base corpus
    // (k=8, 3 rounds): the nightly-train / per-batch-apply production
    // shape. Map-only application; oracle scores the same new vectors
    // against the unrolled chain's last centroid table.
    "semantic_assign_new" -> ((s, dir) => {
      val cents = Cluster.kmeansCentroids(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 3)
      val fresh = Tables.embeddings(s, dir).filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Cluster.assignTo(fresh, "vec_id", "embedding", cents)
        .select(col("id").as("vec_id"),
          col("cluster").cast("long").as("cluster"), col("dist"))
    }),

    // CL3: embedding mean-pooling — the chunk→document reduction in the
    // same integer-exact arithmetic as the k-means update (quantize →
    // exact long sums → floor-mean), grouped here as 50 synthetic docs.
    "embedding_mean_pool" -> ((s, dir) =>
      Cluster.meanPool(Tables.embeddings(s, dir),
        col("vec_id") % 50, "embedding")),

    // CL2: cluster-balanced diverse sample — the consumable end of the
    // clustering chain: 5 centroid-nearest vectors per cluster, a
    // topic-balanced subset that spans the corpus's semantic spread.
    "semantic_diverse_sample" -> ((s, dir) =>
      Cluster.diverseSample(
          Cluster.kmeansAssignments(Tables.embeddings(s, dir),
            "vec_id", "embedding", k = 8, iters = 3), m = 5)
        .select(col("cluster").cast("long").as("cluster"),
          col("id").as("vec_id"), col("rank").cast("long").as("rank"))),

    // CL6: prototype pruning (Sorscher et al. 2022) — keep the hardest
    // (centroid-farthest) quarter of every cluster; the per-cluster
    // quota keeps the kept set topic-balanced where a global dist
    // cutoff would empty tight clusters first. 0.25 is an exact binary
    // fraction, so ceil(0.25 * csize) is engine-identical.
    "semantic_prototype_pruned" -> ((s, dir) =>
      Cluster.prototypePrune(
          Cluster.kmeansAssignments(Tables.embeddings(s, dir),
            "vec_id", "embedding", k = 8, iters = 3),
          keepFraction = 0.25, hardest = true)
        .select(col("cluster").cast("long").as("cluster"),
          col("id").as("vec_id"), col("rank").cast("long").as("rank"),
          col("csize").cast("long").as("csize"))),

    // CL5: SemDeDup — semantic near-dup pairs with k-means cells as the
    // candidate blocks (Abbas et al. 2023): cluster the dup-injected
    // corpus (k=8, 3 Lloyd rounds, integer-exact so the cells oracle),
    // exact cosine within a cell only. Candidate join is equi on the
    // cell id — n^2/k expected, k grows with the corpus at scale.
    "semantic_dedup_pairs" -> ((s, dir) =>
      Cluster.semanticNearDupPairs(embDupCorpus(s, dir),
        "vec_id", "embedding", k = 8, iters = 3, threshold = 0.9)),

    // CL5b: the consumable end — first-wins by id: every id with a
    // smaller-id semantic duplicate in its cell is dropped.
    "semantic_dedup_kept" -> ((s, dir) =>
      Cluster.semanticDedupKept(embDupCorpus(s, dir),
          "vec_id", "embedding", k = 8, iters = 3, threshold = 0.9)
        .select("vec_id")),

    // CL5c: the paper's keep rule — within a pair keep the member
    // FARTHER from its centroid (less prototypical = more training
    // signal); deterministic because (dist, id) is a total integer
    // order.
    "semantic_dedup_far_kept" -> ((s, dir) =>
      Cluster.semanticDedupKept(embDupCorpus(s, dir),
          "vec_id", "embedding", k = 8, iters = 3, threshold = 0.9,
          keepFarthest = true)
        .select("vec_id")),

    // T8: temperature-flattened mixture sampling (α = 0.5 via
    // IEEE-exact sqrt) — keep-rates ∝ 1/sqrt(n_lang), so expected
    // sample counts follow sqrt(n): the multilingual re-balancing step.
    // Selection by content hash — reproducible at any parallelism.
    "mixture_temperature_sample" -> ((s, dir) =>
      graft.operators.Mixture.temperatureSample(
          Tables.documents(s, dir), "lang", "text", scalePpm = 2000000L)
        .select("doc_id", "lang", "keep_ppm")),

    // T9: exact fixed-size per-stratum sample — EXACTLY k docs per lang
    // (not a rate): rank by (content hash, id) per stratum, keep rank
    // <= k. The deterministic stand-in for per-group reservoir
    // sampling; WindowGroupLimit keeps only k rows per partition in
    // the rank shuffle.
    "doc_sample_fixed_k" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(TextHash.hash60(col("text")), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .select(col("doc_id"), col("lang"),
          col("rank").cast("long").as("rank"))
    }),

    // T7: reproducible stratified sampling — hash-based (not rand()), so
    // the sample is stable across runs/engines; rate by lang.
    "doc_sample_stratified" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", TextHash.hash60(col("text")) % 100)
        .filter(col("bucket") <
          when(col("lang") === "en", 10).otherwise(30))
        .select("doc_id", "lang", "bucket")),

    // T7b: WEIGHTED sampling without replacement, exactly k per group —
    // Efraimidis–Spirakis ranked by ln(u)/w with u drawn from the id
    // hash (deterministic, reproducible, oracle-replayable): "exactly
    // 20 docs per language, token-count-weighted". The missing corner
    // between stratified (uniform-k) and temperature (weighted rates).
    "corpus_weighted_sample_k" -> ((s, dir) =>
      graft.operators.Mixture.weightedSampleK(
          TextAnalysis.withTokenCounts(Tables.documents(s, dir))
            .select(col("doc_id"), col("lang"),
              col("ws_tokens").cast("long").as("ws_tokens")),
          "lang", "doc_id", "ws_tokens", k = 20)
        .select("doc_id", "lang", "ws_tokens")),

    // R5c: DSIR with the paper's full hashed n-gram feature set —
    // unigrams PLUS bigrams (built by zipping the token array with its
    // own tail: map-only, no per-doc window), same smoothed log-ratio
    // models. Bigrams catch target-domain phrasing that bag-of-words
    // misses; the model table stays a ≤256-row broadcast.
    "dsir_log_weights_bigrams" -> ((s, dir) =>
      graft.operators.Relevance.dsirLogWeights(Tables.documents(s, dir),
          isTarget = col("lang") === "en", buckets = 256, bigrams = true)
        .select(col("id").as("doc_id"), col("n_toks"), col("log_weight"))),

    // R5d: the paper's actual selection rule — GUMBEL-TOP-K IMPORTANCE
    // RESAMPLING: draw k docs without replacement with probability
    // ∝ exp(log_weight) by adding Gumbel noise to each weight and
    // taking the top k. Top-k-by-weight (dsir_selected) concentrates
    // on the single highest-ratio template; resampling matches the
    // target DISTRIBUTION (the paper's estimator). Noise is a
    // deterministic function of the id hash — the library's no-rand()
    // sampling discipline — so the draw replays bit-identically.
    "dsir_resampled" -> ((s, dir) =>
      graft.operators.Relevance.dsirResample(
          graft.operators.Relevance.dsirLogWeights(Tables.documents(s, dir),
            isTarget = col("lang") === "en", buckets = 256), k = 100)
        .select(col("id").as("doc_id"), col("log_weight"), col("key"))),

    // A6: exact group quantiles of event values (linear interpolation —
    // same definition as the oracle's quantile_cont).
    "value_quantiles_by_type" -> ((s, dir) =>
      Tables.events(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy("event_type")
        .agg(percentile(col("value"), lit(0.25)).as("p25"),
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.75)).as("p75"),
          percentile(col("value"), lit(0.95)).as("p95"))
        .select(col("event_type"), trunc4(col("p25")).as("p25"),
          trunc4(col("p50")).as("p50"), trunc4(col("p75")).as("p75"),
          trunc4(col("p95")).as("p95"))),

    // A7: CUBE over (lang, source) — grouping-sets aggregation.
    "doc_counts_cube" -> ((s, dir) =>
      Tables.documents(s, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))),

    // A7b: ROLLUP — the hierarchy-prefix subset of CUBE (type, then
    // type+day, then grand total).
    "daily_counts_rollup" -> ((s, dir) =>
      Tables.events(s, dir)
        .rollup(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))),

    // A9: binned value histogram per event type — data-profiling shape;
    // floor(value/width) is the same IEEE op in both engines.
    "value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), floor(col("value") / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("bin_min"),
          max(col("value")).as("bin_max"))),

    // Q4: PSI drift score — the standard per-column distribution-drift
    // alarm between two snapshots (here: all events vs the value<=50
    // slice, a real shift in both columns). Bins: the category itself /
    // the value_histogram floor(value/10) convention. |bins|-sized work
    // after the two scans; DECIMAL term sum so the score is exact.
    "drift_psi" -> ((s, dir) => {
      val clean = Tables.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
      val after = clean.filter(col("value") <= 50)
      val P = graft.operators.Profile
      P.psi(clean, after, col("event_type"), "event_type")
        .unionByName(P.psi(clean, after,
          floor(col("value") / 10).cast("long"), "value_bin10"))
        .select(col("col_name"), col("n_bins"), trunc4(col("psi")).as("psi"))
    }),

    // A8: pivot — daily event counts by type (explicit value list keeps
    // output columns deterministic).
    "daily_counts_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("event_date"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))),

    // ---- general analytics: multi-way star joins --------------------------

    // MW1: revenue by nation — lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    // region; dims broadcast, one agg. Classic Catalyst join-planning
    // exercise beyond the reference's single equi-join.
    "revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // exact decimal sum: float sums over ~20k-row groups differ by
        // ~1e-3 across accumulation orders, so no truncation is safe;
        // decimal aggregation is order-independent and bit-stable.
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // MW2: left-semi join — customers with at least one urgent order.
    "customers_with_urgent_orders" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    }),

    // ---- sessionization / top-k / multimodal -----------------------------

    // SW1: gap-based sessions per user (session_window, 30 min gap).
    "sessionize_events" -> ((s, dir) =>
      Sessionize.sessions(Tables.events(s, dir), col("user_id"), col("ts"),
          col("value"))
        .select(col("key").as("user_id"), col("session_start"),
          col("session_end"), col("n_events"),
          trunc4(col("total_value")).as("total_value"))),

    // SW2: top-3 events per user by value (WindowGroupLimit pushdown).
    "topk_per_user" -> ((s, dir) =>
      Sessionize.topKPerKey(Tables.events(s, dir), Seq("user_id"),
          col("value"), col("event_id"), k = 3)
        .select(col("user_id"), col("event_id"), col("value"),
          col("rank").cast("long").as("rank"))),

    // M1: opaque-binary media metadata (payload synthesized from text).
    "media_metadata" -> ((s, dir) =>
      MediaColumns.mediaFromDocuments(Tables.documents(s, dir))
        .select(col("doc_id"), col("media_type"),
          col("n_bytes").cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))),

    // M2: frame sampling over the binary payload (stride windows).
    "media_frames" -> ((s, dir) =>
      MediaColumns.frameSample(MediaColumns.mediaFromDocuments(
          Tables.documents(s, dir)))
        .select(col("doc_id"), col("media_type"),
          col("frame_idx").cast("long").as("frame_idx"), col("frame_md5"))),

    // M5: resize plumbing — byte-stride downsample of the payload
    // (every 4th byte; the pixel math is the codec seam, the schema /
    // size-accounting / relational shape is the real pipeline stage).
    // Output md5s the strided payload so rows stay narrow at any SF.
    "media_resize_stride" -> ((s, dir) =>
      MediaColumns.resizeStride(
          MediaColumns.mediaFromDocuments(Tables.documents(s, dir))
            .withColumn("payload_s", decode(col("payload"), "UTF-8")),
          factor = 4, payloadCol = "payload_s")
        .select(col("doc_id"), col("media_type"),
          md5(col("resized")).as("resized_md5"), col("resized_bytes"),
          col("stride"))),

    // M3: REAL container-header decode — payloads carry genuine
    // PNG/JPEG/GIF headers (built relationally: big-endian dims via
    // lpad(hex)+unhex, little-endian for GIF) and functions.ImageDims
    // parses format/width/height back out of the BYTES. The oracle pins
    // the expected dims from the construction formulas, so a parser that
    // misreads endianness, offsets, or marker walking hash-mismatches.
    "media_image_dims" -> ((s, dir) => {
      val w = (col("doc_id") % 37 + 100).cast("int")
      val wGif = (col("doc_id") % 37 + 400).cast("int") // forces a high LE byte
      val h = (col("doc_id") % 23 + 50).cast("int")
      def beHex(c: org.apache.spark.sql.Column, bytes: Int) =
        lpad(hex(c.cast("long")), bytes * 2, "0")
      def leHex16(c: org.apache.spark.sql.Column) = concat(
        lpad(hex(pmod(c, lit(256)).cast("long")), 2, "0"),
        lpad(hex(shiftright(c, 8).cast("long")), 2, "0"))
      val payload = unhex(
        when(col("doc_id") % 3 === 0, concat(
          lit("89504E470D0A1A0A0000000D49484452"),
          beHex(w, 4), beHex(h, 4), lit("0806000000")))
        .when(col("doc_id") % 3 === 1, concat(
          lit("FFD8FFE00004ABCDFFC0001108"),
          beHex(h, 2), beHex(w, 2), lit("03012200021101031101FFD9")))
        .otherwise(concat(
          lit("474946383961"), leHex16(wGif), leHex16(h), lit("F7005B"))))
      MediaColumns.withImageDims(
          Tables.documents(s, dir).select(col("doc_id"),
            lit("image").as("media_type"), payload.as("payload")))
        .select(col("doc_id"), col("img_format"), col("img_width"),
          col("img_height"))
    }),

    // M4: the audio twin of M3 — payloads carry genuine RIFF/WAVE
    // headers (with a LIST chunk in front so the chunk WALK is
    // exercised, not just a fixed-offset read); functions.WavMeta
    // parses format/channels/rate/bits back out of the bytes.
    "media_wav_meta" -> ((s, dir) => {
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = ((col("doc_id") % 5 + 1) * 8000).cast("int")
      val bits = ((col("doc_id") % 3 + 1) * 8).cast("int")
      def le16(c: org.apache.spark.sql.Column) = concat(
        lpad(hex(pmod(c, lit(256)).cast("long")), 2, "0"),
        lpad(hex(pmod(shiftright(c, 8), lit(256)).cast("long")), 2, "0"))
      def le32(c: org.apache.spark.sql.Column) =
        concat(le16(c), le16(shiftright(c, 16)))
      val payload = unhex(concat(
        lit("524946463000000057415645"), // RIFF <size> WAVE
        // LIST chunk, odd size 5 + pad byte, then fmt (PCM = 0100 LE)
        lit("4C49535405000000494E464F4100"),
        lit("666D742010000000" + "0100"), le16(ch), le32(rate),
        lit("00000000" + "0000"), le16(bits)))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ImageDimsFunctions.wavMeta(payload).as("m"))
        .select(col("doc_id"), col("m.audio_format").as("audio_format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"))
    }),

    // T0: HTML → text extraction (the C4/WET curation front door) —
    // every doc's text is wrapped in deterministic markup (style +
    // script blocks with code-ish content, a comment, entity-escaped
    // body, raw entities in the tail) and htmlToText must recover the
    // rendered text: blocks dropped wholesale, tags stripped, entities
    // decoded (&amp; last), whitespace collapsed. The oracle replays
    // the identical RE2-safe chain.
    "doc_html_extract" -> ((s, dir) => {
      val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
        .foldLeft(col("text")) { case (c, (f, t)) =>
          replace(c, lit(f), lit(t)) }
      val html = concat(
        lit("<html><head><style>p { color: #c00; }</style>" +
          "<script type=\"text/javascript\">if (x < 2 && y > 1) { alert(\"hi\"); }" +
          "</script></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><!-- crawl artifact --><p>"),
        esc,
        lit(" &amp; more &lt;raw&gt;&nbsp;tail</p></body></html>"))
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextAnalysis.htmlToText(html).as("extracted"))
    }),

    // M8: MP4/ISO-BMFF box walk — payloads carry a genuine box tree
    // (ftyp + a free box + moov{mvhd, trak*}; mvhd version 0 or 1 by
    // doc parity, so both layouts are exercised) and functions.Mp4Meta
    // walks brand/timescale/duration/track-count back out of the bytes.
    // The oracle pins the expected metadata from the construction
    // formulas, so a walker that misreads sizes, versions, or child
    // scoping hash-mismatches. duration_ms = durSec * 1000 exactly
    // (duration units = durSec * timescale by construction).
    "media_mp4_meta" -> ((s, dir) => {
      val ts = (col("doc_id") % 5 + 1) * 600
      val durSec = col("doc_id") % 97 + 10
      val dur = durSec * ts
      val nTrak = (col("doc_id") % 3 + 1).cast("int")
      def beHex(c: org.apache.spark.sql.Column, bytes: Int) =
        lpad(hex(c.cast("long")), bytes * 2, "0")
      val mvhd = when(col("doc_id") % 2 === 0,
        concat(lit("0000001C" + "6D766864" + "00000000" +
          "00000000" + "00000000"), beHex(ts, 4), beHex(dur, 4)))
        .otherwise(concat(lit("00000028" + "6D766864" + "01000000" +
          "0" * 32), beHex(ts, 4), beHex(dur, 8)))
      val mvhdLen = when(col("doc_id") % 2 === 0, 28).otherwise(40)
      val moov = concat(beHex(lit(8) + mvhdLen + nTrak * 8, 4),
        lit("6D6F6F76"), mvhd, expr("repeat('000000087472616B', " +
          "CAST(doc_id % 3 + 1 AS INT))"))
      val payload = unhex(concat(
        lit("00000010" + "66747970" + "69736F6D" + "00000200"), // ftyp isom
        lit("00000008" + "66726565"), // a free box the walk must skip
        moov))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Mp4MetaFunctions.mp4Meta(payload).as("m"))
        .select(col("doc_id"), col("m.major_brand").as("mp4_brand"),
          col("m.timescale").as("mp4_timescale"),
          col("m.duration").as("mp4_duration"),
          col("m.n_tracks").as("mp4_tracks"),
          floor(col("m.duration") * 1000 / col("m.timescale"))
            .cast("long").as("duration_ms"))
    }),

    // M6: perceptual fingerprints — dHash-64 + aHash-64 over the 9x8
    // byte-strided "thumbnail" (byte==pixel is the codec seam; the
    // gradient/mean bit packs are the real algorithms). The oracle
    // replays the construction formula, so a kernel that samples, packs
    // bits, or handles the <72-byte null case differently mismatches.
    "media_phash" -> ((s, dir) =>
      MediaColumns.withPerceptualHash(
          MediaColumns.mediaFromDocuments(Tables.documents(s, dir)))
        .select("doc_id", "media_type", "phash_d", "phash_a")),

    // M7: content-level image near-dup pairs — every 20th doc gets a
    // planted "re-encode" (one sampled byte changed, flipping <= 2
    // gradient bits), and the hamming <= 3 pairs are mined by the
    // 16-bit-block pigeonhole equi-join (never all-pairs; only
    // (id, hash) rides the shuffle, never payloads).
    "media_neardup_pairs" -> ((s, dir) =>
      MediaColumns.nearDupPairs(
          MediaColumns.mediaFromDocuments(mediaNearDupDocs(s, dir)),
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))),

    // M7c: image near-dup AT INGEST TIME — the planted re-encodes
    // arrive as a BATCH against the existing corpus's hash store:
    // batch fingerprints equi-join the persisted hashes by the same
    // 16-bit-block pigeonhole; cost O(batch + collisions), never a
    // corpus re-hash. Oracle = the full-rerun pairs restricted to those
    // involving the batch (exact by per-doc-local hashing).
    "media_phash_incremental" -> ((s, dir) => {
      val all = mediaNearDupDocs(s, dir)
      graft.operators.IncrementalPhash.incrementalPhashPairs(
          graft.operators.IncrementalPhash.phashes(
            MediaColumns.mediaFromDocuments(
              all.filter(col("doc_id") >= 10000000L))),
          graft.operators.IncrementalPhash.phashes(
            MediaColumns.mediaFromDocuments(
              all.filter(col("doc_id") < 10000000L))))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
    }),

    // M7b: the consumable end of image near-dup — pairs → connected
    // components → one representative per cluster (the dedup_corpus_kept
    // pattern over perceptual-hash pairs): the media corpus a curation
    // pipeline actually ships.
    "media_neardup_kept" -> ((s, dir) => {
      val corpus = mediaNearDupDocs(s, dir)
      val pairs = MediaColumns.nearDupPairs(
        MediaColumns.mediaFromDocuments(corpus), maxHamming = 3)
      Dedup.dropNearDups(corpus,
          Dedup.nearDupClusters(pairs.select("id_a", "id_b")))
        .select("doc_id")
    }),

    // M9: content-level audio fingerprint — the energy-envelope dHash:
    // 65 near-equal byte frames, bit k = sign of the mean-energy slope
    // between frames k and k+1 (exact cross-multiplied comparison, so
    // DC-offset/uniform-gain shifts cancel). Payloads under 65 bytes
    // fingerprint null.
    "media_audio_fp" -> ((s, dir) =>
      MediaColumns.withAudioFingerprint(
          MediaColumns.mediaFromDocuments(Tables.documents(s, dir)))
        .filter(col("media_type") === "audio")
        .select("doc_id", "audio_fp")),

    // M9b: audio near-dup pairs — every 20th audio doc gets a planted
    // one-byte "re-encode" (moves one energy frame → flips <= 2
    // adjacent gradient bits); pairs mined by the 16-bit-block
    // pigeonhole equi-join, hamming <= 2.
    "media_audio_neardup_pairs" -> ((s, dir) =>
      MediaColumns.audioNearDupPairs(
          MediaColumns.mediaFromDocuments(audioNearDupDocs(s, dir)),
          maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))),

    // M10: video near-dup via frame-sample phash SETS — four 72-byte
    // frame windows per video, each dHashed; two videos pair when >= 3
    // temporally ALIGNED frames match within hamming 2. Planted
    // re-encodes perturb one byte per frame window, so every frame
    // survives at <= 2 flipped bits while whole-file hashes (md5,
    // media_frames) would all miss.
    "media_video_neardup_pairs" -> ((s, dir) =>
      MediaColumns.videoNearDupPairs(
        MediaColumns.mediaFromDocuments(videoNearDupDocs(s, dir)))),

    // M11: CROSS-MODAL paired near-dup edges — (image, caption) pairs
    // match when the image matches (dHash hamming <= 3) OR the caption
    // matches (exact 3-gram Jaccard >= 0.5), tagged by modality. The
    // plants are each invisible to one modality: re-captioned copies
    // (+400000) only the image edge catches, re-encoded-image copies
    // (+500000, identical caption) only the caption edge catches — the
    // LAION-style step neither single-modality pass can do alone.
    "multimodal_neardup_pairs" -> ((s, dir) =>
      MediaColumns.pairedNearDupEdges(multimodalCorpus(s, dir),
          maxDocFreq = Some(ShingleDfCap))
        .select("id_a", "id_b", "modality")),

    // M11b: the consumable end — union both modality edge lists into
    // ONE connected-components pass, keep one representative
    // (image, caption) pair per cluster; transitivity across
    // modalities (A~B by image, B~C by caption => one cluster) is why
    // the union runs as a single CC rather than two dedup passes.
    "multimodal_neardup_kept" -> ((s, dir) =>
      MediaColumns.pairedNearDupKept(multimodalCorpus(s, dir),
          maxDocFreq = Some(ShingleDfCap))
        .select("doc_id")),

    // M12: cross-modal near-dup AT INGEST — the plants arrive as a
    // BATCH against the existing paired corpus: image side dHash-mined
    // against the corpus hashes (IncrementalPhash pigeonhole), caption
    // side MinHash-LSH-mined against the corpus caption signatures
    // (IncrementalDedup cross-corpus bands — the persistable sketch;
    // exact Jaccard is the batch operator's generator, LSH the ingest
    // one, the same seam as dedup_ngram_jaccard vs dedup_incremental).
    // Cost O(batch + collisions); oracle = full-rerun of both
    // generators restricted to pairs involving the batch (exact by
    // per-doc-local hashing).
    "multimodal_incremental_pairs" -> ((s, dir) => {
      val all = multimodalCorpus(s, dir)
      val base = all.filter(col("doc_id") < 400000L)
      val batch = all.filter(col("doc_id") >= 400000L)
      val P = graft.operators.IncrementalPhash
      val img = P.incrementalPhashPairs(P.phashes(batch), P.phashes(base),
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), lit("image").as("modality"))
      val cap = graft.operators.IncrementalDedup.incrementalLshPairs(
          Dedup.minHashSignatures(batch, textCol = "caption"),
          Dedup.minHashSignatures(base, textCol = "caption"))
        .select(col("id_a"), col("id_b"), lit("caption").as("modality"))
      img.unionByName(cap)
    }),

    // M12b: the consumable end — which batch pairs survive? Union both
    // modality edge lists into one CC; a batch pair dies when it is a
    // non-representative member of any cross-modal cluster (both plant
    // families die against their sources; genuinely new pairs live).
    "multimodal_incremental_kept" -> ((s, dir) => {
      val all = multimodalCorpus(s, dir)
      val base = all.filter(col("doc_id") < 400000L)
      val batch = all.filter(col("doc_id") >= 400000L)
      val P = graft.operators.IncrementalPhash
      val img = P.incrementalPhashPairs(P.phashes(batch), P.phashes(base),
        maxHamming = 3).select("id_a", "id_b")
      val cap = graft.operators.IncrementalDedup.incrementalLshPairs(
          Dedup.minHashSignatures(batch, textCol = "caption"),
          Dedup.minHashSignatures(base, textCol = "caption"))
        .select("id_a", "id_b")
      Dedup.dropNearDups(batch,
          Dedup.nearDupClusters(img.unionByName(cap).distinct()))
        .select("doc_id")
    }),

    // O3: multi-key sort (notebook cell 13). Sort itself is not hashable
    // output — the oracle compares the sorted-stable row set.
    "multi_key_sort" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")),

    // P13: date formatting / hierarchical key layout + epoch metadata
    // (glue_scripts.py:17-24,196-198).
    "date_key_layout" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        date_format(col("ts"), "yyyy/MM/dd").as("ymd_path"),
        date_format(col("ts"), "yyyy-MM-dd-HH-mm-ss").as("file_stamp"),
        unix_timestamp(col("ts")).as("epoch_s")))
  )

  def oracleSql: Map[String, String] = Map(
    "trip_kpis_daily" ->
      """SELECT CAST(ts AS DATE) AS pickup_date, floor(sum(value)*10000)/10000 AS total_fare,
        |count(event_id) AS trip_count, floor(avg(value)*10000)/10000 AS average_fare,
        |max(value) AS maximum_fare, min(value) AS minimum_fare
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY CAST(ts AS DATE)""".stripMargin,

    "trip_kpis_literal_join" ->
      """SELECT CAST(ts AS DATE) AS pickup_date, floor(sum(value)*10000)/10000 AS total_fare,
        |count(event_id) AS trip_count, floor(avg(value)*10000)/10000 AS average_fare,
        |max(value) AS maximum_fare, min(value) AS minimum_fare
        |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin,

    "completed_trips" ->
      """SELECT o.o_orderkey AS trip_id, o.o_custkey, o.o_orderstatus,
        |o.o_totalprice, o.o_orderdate, o.o_orderpriority,
        |l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
        |l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag,
        |l.l_linestatus, l.l_shipdate,
        |'completed_trip' AS data_type, 'completed' AS status
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""".stripMargin,

    "completed_trip_kpis" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS pickup_date,
        |floor(sum(l.l_extendedprice)*100)/100 AS total_fare,
        |count(l.l_orderkey) AS trip_count,
        |floor(avg(l.l_extendedprice)*10000)/10000 AS average_fare,
        |max(l.l_extendedprice) AS maximum_fare,
        |min(l.l_extendedprice) AS minimum_fare
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY CAST(o.o_orderdate AS DATE)""".stripMargin,

    "trip_store_final" -> tripStoreFinalSql,

    // the pruned point-lookup must equal the full LWW state restricted
    // to the probe (every 100th order)
    "trip_store_lookup" ->
      s"""WITH final AS ($tripStoreFinalSql)
         |SELECT * FROM final
         |WHERE CAST(trip_id AS BIGINT) % 100 = 0""".stripMargin,

    "unmatched_trips" ->
      """SELECT o_orderkey AS trip_id, o_custkey, o_orderstatus, o_totalprice,
        |o_orderdate, o_orderpriority FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin,

    "skewed_user_join" ->
      """WITH ev AS (SELECT event_id,
        |  CASE WHEN event_id % 5 = 0 THEN 1 ELSE user_id END AS user_id, value
        |  FROM events),
        |users AS (SELECT user_id, user_id % 10 AS segment
        |  FROM (SELECT DISTINCT user_id FROM ev) u)
        |SELECT e.event_id, e.user_id, s.segment, e.value
        |FROM ev e JOIN users s ON e.user_id = s.user_id""".stripMargin,

    "asof_latest_event" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  r.ts AS asof_ts, r.purchase_id AS asof_purchase_id,
        |  r.purchase_value AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "asof_bounded_staleness" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.ts END AS asof_ts,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.purchase_id END AS asof_purchase_id,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.purchase_value END AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "asof_next_event" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  r.ts AS asof_ts, r.purchase_id AS asof_purchase_id,
        |  r.purchase_value AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    // Same oracle as asof_bounded_staleness on purpose: the range-bucketed
    // formulation is a different physical strategy for identical semantics.
    "asof_range_bucketed" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.ts END AS asof_ts,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.purchase_id END AS asof_purchase_id,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 1 DAY THEN r.purchase_value END AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // Forward + 1-day bound: DuckDB native ASOF with l.ts <= r.ts, match
    // nulled past the tolerance (the bucketed strategy's oracle).
    "asof_next_bucketed" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  CASE WHEN r.ts <= l.ts + INTERVAL 1 DAY THEN r.ts END AS asof_ts,
        |  CASE WHEN r.ts <= l.ts + INTERVAL 1 DAY THEN r.purchase_id END AS asof_purchase_id,
        |  CASE WHEN r.ts <= l.ts + INTERVAL 1 DAY THEN r.purchase_value END AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    "scd2_purchase_history" ->
      """WITH r AS (SELECT user_id, ts, purchase_id, purchase_value FROM (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |    AND user_id IS NOT NULL) t WHERE rn = 1)
        |SELECT user_id, purchase_id, purchase_value, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        |FROM r""".stripMargin,

    "lineitems_in_order_window" ->
      """SELECT o.o_orderkey, o.o_orderdate, l.l_orderkey, l.l_linenumber,
        |  l.l_shipdate
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate <= o.o_orderdate + INTERVAL 2 DAY
        |WHERE o.o_orderpriority = '1-URGENT'
        |  AND o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-03-01'""".stripMargin,

    "delivery_overlap_windows" ->
      """SELECT o.o_orderkey, o.o_orderdate, l.l_orderkey, l.l_linenumber,
        |  l.l_shipdate
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate <= o.o_orderdate + INTERVAL 2 DAY
        |  AND o.o_orderdate <= l.l_shipdate + INTERVAL 1 DAY
        |WHERE o.o_orderpriority = '1-URGENT'
        |  AND o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-03-01'""".stripMargin,

    "lineitems_in_window_tiered" ->
      """SELECT o.o_orderkey, count(*) AS n_ships
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate <= o.o_orderdate +
        |    (CASE WHEN o.o_orderpriority = '1-URGENT' THEN 2 ELSE 30 END)
        |    * INTERVAL 1 DAY
        |WHERE o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-01-11'
        |GROUP BY 1""".stripMargin,

    "dedup_first_wins" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |SELECT e.*, row_number() OVER (PARTITION BY user_id, event_type
        |ORDER BY ts, event_id) AS rn FROM events e) t WHERE rn = 1""".stripMargin,

    "validated_events" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE event_id IS NOT NULL AND event_type IS NOT NULL AND
        |(CASE WHEN event_type = 'purchase' THEN value IS NOT NULL
        |ELSE ts IS NOT NULL END)""".stripMargin,

    "sanitized_values" ->
      """SELECT event_id, CASE WHEN isnan(v) OR isinf(v) THEN NULL ELSE v END AS value_clean
        |FROM (SELECT event_id, CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE
        |WHEN event_id % 11 = 0 THEN 'Infinity'::DOUBLE ELSE value END AS v
        |FROM events) t""".stripMargin,

    "event_keys" ->
      """SELECT event_id, concat_ws('#', 'RAW', event_type,
        |strftime(ts, '%Y-%m-%d %H:%M:%S')) AS sk FROM events""".stripMargin,

    "raw_prefix_filter" ->
      """SELECT event_id, sk FROM (SELECT event_id, concat_ws('#', 'RAW',
        |event_type, strftime(ts, '%Y-%m-%d %H:%M:%S')) AS sk FROM events) t
        |WHERE sk LIKE 'RAW#click%'""".stripMargin,

    "trip_type_filter" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE event_type IN ('click','view')""".stripMargin,

    "ts_parse_coerce" ->
      """SELECT event_id, try_strptime(ts_str, '%Y-%m-%d %H:%M:%S') AS parsed_ts
        |FROM (SELECT event_id, CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
        |ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_str FROM events) t
        |WHERE try_strptime(ts_str, '%Y-%m-%d %H:%M:%S') IS NOT NULL""".stripMargin,

    "numeric_parse_coerce" ->
      """SELECT event_id, TRY_CAST(fare_str AS DOUBLE) AS fare
        |FROM (SELECT event_id, CASE WHEN event_id % 13 = 0 THEN 'abc'
        |ELSE CAST(value AS VARCHAR) END AS fare_str FROM events) t
        |WHERE TRY_CAST(fare_str AS DOUBLE) IS NOT NULL""".stripMargin,

    "date_projection" ->
      "SELECT event_id, CAST(ts AS DATE) AS event_date FROM events",

    // bounds-check oracle: exact counts are engine-identical; approx_ok
    // is constant-true here and computed from the sketch on the Spark
    // side, so a hash match PROVES |approx − exact| ≤ 3·rsd·exact per day
    "approx_distinct_users_daily" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |count(DISTINCT user_id)::BIGINT AS exact_users,
        |count(*)::BIGINT AS n_events, true AS approx_ok
        |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin,

    "union_interleave" ->
      """SELECT o_orderkey AS id, o_orderdate AS event_time,
        |'trip_start' AS data_type FROM orders
        |UNION ALL
        |SELECT l_orderkey AS id, l_shipdate AS event_time,
        |'trip_end' AS data_type FROM lineitem""".stripMargin,

    "first_per_key" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |SELECT e.*, row_number() OVER (PARTITION BY user_id
        |ORDER BY ts, event_id) AS rn FROM events e) t WHERE rn = 1""".stripMargin,

    "freq_count" ->
      """SELECT CAST(ts AS DATE) AS key, count(*) AS n FROM events
        |GROUP BY CAST(ts AS DATE)""".stripMargin,

    "null_profile" ->
      """SELECT count(*)-count(event_id) AS nulls_event_id,
        |count(*)-count(ts) AS nulls_ts, count(*)-count(user_id) AS nulls_user_id,
        |count(*)-count(event_type) AS nulls_event_type,
        |count(*)-count(value) AS nulls_value, count(*)-count(props) AS nulls_props
        |FROM events""".stripMargin,

    "report_metadata" ->
      """WITH j AS (SELECT CAST(o.o_orderdate AS DATE) AS d FROM orders o
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT count(*) AS record_count, min(d) AS start_date,
        |max(d) AS end_date, count(DISTINCT d) AS kpi_count FROM j""".stripMargin,

    "doc_token_counts" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text))=0 THEN 0
        |ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,

    "doc_quality" ->
      """WITH q AS (SELECT doc_id,
        |least(length(text)/500.0, 1.0) AS len_score,
        |len(regexp_extract_all(text, '[[:punct:]]'))
        |  / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |  / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE) AS stopword_ratio
        |FROM documents)
        |SELECT doc_id, floor(len_score*10000)/10000 AS len_score,
        |floor(punct_ratio*10000)/10000 AS punct_ratio,
        |floor(stopword_ratio*10000)/10000 AS stopword_ratio,
        |floor((0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |  + 0.3*(1.0-least(punct_ratio*10.0,1.0)))*10000)/10000 AS quality_score
        |FROM q""".stripMargin,

    "doc_lang_id" ->
      """WITH h AS (SELECT doc_id,
        |len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en,
        |len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de,
        |len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS fr,
        |len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|que)\b')) AS es,
        |len(regexp_extract_all(text, '\p{Han}')) AS zh
        |FROM documents)
        |SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
        |WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |WHEN de >= fr AND de >= es THEN 'de'
        |WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM h""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |list_min(list_transform(range(1, greatest(length(text)-7,1)+1),
        |  i -> ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 15))::BIGINT)) AS fingerprint,
        |md5(text) AS md5_fingerprint FROM documents""".stripMargin,

    "doc_winnow_fingerprints" ->
      s"""WITH g AS (SELECT doc_id, i - 1 AS pos,
         |  ${hash60Sql("substr(text, i::INT, 8)")} AS h
         |  FROM documents, unnest(range(1, greatest(length(text)-7,1)+1)) AS u(i)),
         |wm AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin FROM g)
         |SELECT DISTINCT doc_id, wmin AS fingerprint FROM wm WHERE pos >= 3""".stripMargin,

    "word_counts" ->
      """SELECT word, count(*) AS n FROM (
        |SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |FROM documents) t GROUP BY word""".stripMargin,

    "kpi_moving_avg_7d" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY CAST(ts AS DATE))
        |SELECT a.day, sum(p.n)::BIGINT AS sum_7d,
        |  count(*)::BIGINT AS days_in_frame,
        |  sum(p.n)::DOUBLE / count(*)::DOUBLE AS avg_7d
        |FROM daily a JOIN daily p ON p.day >= a.day - 6 AND p.day <= a.day
        |GROUP BY a.day""".stripMargin,

    "doc_chunks_sliding" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, toks, len(toks) AS len,
        |  unnest(range(0, greatest(len(toks)-1, 0)+1, 48)) AS start FROM d)
        |SELECT doc_id, (start // 48)::BIGINT AS chunk_idx,
        |  array_to_string(toks[start+1 : start+64], ' ') AS chunk_text,
        |  len(toks[start+1 : start+64])::BIGINT AS n_tokens
        |FROM s WHERE start = 0 OR start - 48 + 64 < len""".stripMargin,

    "corpus_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN text || ' changed' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 19 = 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id
        |WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed' END) IS NOT NULL""".stripMargin,

    "corpus_split" ->
      s"""SELECT doc_id,
         |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |ELSE 'test' END AS split, bucket
         |FROM (SELECT doc_id, ${hash60Sql("text")} % 100 AS bucket
         |FROM documents) t""".stripMargin,

    // Ratio formulas mirror doc_quality / doc_token_counts exactly; the
    // quality tier is floor(score*1e4) (trunc4's integer part), so both
    // engines order by the same integer and the ROWS ... 1 PRECEDING
    // frame is the strictly-before running sum budgetSelect computes.
    "corpus_budget_select" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |  least(length(text)/500.0, 1.0) AS len_score,
        |  len(regexp_extract_all(text, '[[:punct:]]'))
        |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE)
        |    AS stopword_ratio
        |  FROM documents),
        |q AS (SELECT doc_id, ws_tokens::BIGINT AS ws_tokens,
        |  CAST(floor((0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)))*10000) AS BIGINT) AS q_ppm
        |  FROM t),
        |o AS (SELECT doc_id, q_ppm, ws_tokens,
        |  COALESCE(SUM(ws_tokens) OVER (ORDER BY q_ppm DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS cum_before FROM q)
        |SELECT doc_id, q_ppm, ws_tokens, cum_before FROM o
        |WHERE cum_before < 16000""".stripMargin,

    // Same distinct word-3-gram construction as the dedup oracles
    // (list_distinct mirrors Dedup.shingles), df over the whole corpus.
    "doc_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |shs AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(len(toks)-3,0)+1),
        |  i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS shingles FROM tok),
        |sh AS (SELECT doc_id AS id, unnest(shingles) AS s FROM shs),
        |dfx AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
        |SELECT id AS doc_id, count(*)::BIGINT AS n_shingles,
        |SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS novel_shingles,
        |floor(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
        |  / count(*)::DOUBLE * 10000)/10000 AS novelty
        |FROM sh JOIN dfx USING (s) GROUP BY id""".stripMargin,

    // Laplace model over the en slice; OOV floor ln(1/(N+V)) — the
    // Spark side carries it inside the model table, here it recomputes
    // from the same stats CTE (identical IEEE steps).
    // Full multi-class replay: per-label Laplace models, every eval doc
    // scored under every label (OOV at that label's floor), argmax with
    // the (avg DESC, label) tie order.
    "doc_nb_classify" ->
      """WITH d AS (SELECT doc_id, lang,
        |  text || ' xmark' || lang AS text FROM documents),
        |tr0 AS (SELECT lang AS label, text FROM d WHERE doc_id % 2 = 0),
        |ttk AS (SELECT label,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM tr0),
        |cnts AS (SELECT label, tok, count(*) AS c FROM ttk
        |  WHERE tok <> '' GROUP BY 1, 2),
        |st AS (SELECT label, sum(c) AS n, count(*) AS v FROM cnts GROUP BY 1),
        |mdl AS (SELECT cnts.label, tok,
        |  ln((c + 1)::DOUBLE / (n + v)::DOUBLE) AS logp
        |  FROM cnts JOIN st ON cnts.label = st.label),
        |oov AS (SELECT label, ln(1.0 / (n + v)::DOUBLE) AS oov_logp FROM st),
        |ev AS (SELECT doc_id, lang, text FROM d WHERE doc_id % 2 <> 0),
        |etk AS (SELECT doc_id, lang,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM ev),
        |sc AS (SELECT e.doc_id, e.lang AS actual, o.label,
        |  count(*) AS n_toks,
        |  sum(CAST(COALESCE(m.logp, o.oov_logp) AS DECIMAL(38,12))) AS s
        |  FROM (SELECT * FROM etk WHERE tok <> '') e
        |  CROSS JOIN oov o
        |  LEFT JOIN mdl m ON m.label = o.label AND m.tok = e.tok
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, actual, label, s::DOUBLE / n_toks AS avg,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY s::DOUBLE / n_toks DESC, label) AS rn FROM sc)
        |SELECT doc_id, label AS predicted, actual,
        |(label = actual) AS correct,
        |floor(avg * 10000) / 10000 AS avg_logprob_m
        |FROM rk WHERE rn = 1""".stripMargin,

    "doc_lm_cross_score" ->
      """WITH tr AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |trc AS (SELECT tok FROM tr WHERE tok <> ''),
        |stats AS (SELECT count(*)::BIGINT AS n,
        |  count(DISTINCT tok)::BIGINT AS v FROM trc),
        |m AS (SELECT tok, ln((count(*)+1)::DOUBLE / (s.n + s.v)::DOUBLE) AS logp
        |  FROM trc, stats s GROUP BY tok, s.n, s.v),
        |dt AS (SELECT doc_id AS id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |dtc AS (SELECT * FROM dt WHERE tok <> ''),
        |sc AS (SELECT id,
        |  COALESCE(m.logp, ln(1.0/(s.n + s.v)::DOUBLE)) AS lp,
        |  m.logp IS NULL AS isoov
        |  FROM dtc LEFT JOIN m USING (tok), stats s)
        |SELECT id AS doc_id, count(*)::BIGINT AS n_toks,
        |SUM(CASE WHEN isoov THEN 1 ELSE 0 END)::BIGINT AS oov_toks,
        |floor(sum(CAST(lp AS DECIMAL(38,12)))::DOUBLE / count(*) * 10000)/10000
        |  AS avg_logprob_m
        |FROM sc GROUP BY id""".stripMargin,

    "corpus_budget_select_by_lang" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |  least(length(text)/500.0, 1.0) AS len_score,
        |  len(regexp_extract_all(text, '[[:punct:]]'))
        |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE)
        |    AS stopword_ratio
        |  FROM documents),
        |q AS (SELECT doc_id, lang, ws_tokens::BIGINT AS ws_tokens,
        |  CAST(floor((0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)))*10000) AS BIGINT) AS q_ppm
        |  FROM t),
        |o AS (SELECT doc_id, lang, q_ppm, ws_tokens,
        |  COALESCE(SUM(ws_tokens) OVER (PARTITION BY lang
        |    ORDER BY q_ppm DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS cum_before FROM q)
        |SELECT doc_id, lang, q_ppm, ws_tokens, cum_before FROM o
        |WHERE cum_before < 2000""".stripMargin,

    // Cluster CTEs identical to dedup_clusters; the split hash runs on
    // the REPRESENTATIVE's text, so every cluster member lands together.
    "corpus_split_leakage_safe" ->
      s"""WITH RECURSIVE $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |jp AS (SELECT p.id_a, p.id_b FROM prs p
         |  JOIN sizes sa ON p.id_a = sa.id JOIN sizes sb ON p.id_b = sb.id
         |  WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |rep AS (SELECT c.doc_id, COALESCE(cl.cluster_id, c.doc_id) AS rep_id
         |  FROM corpus c LEFT JOIN clusters cl ON c.doc_id = cl.id),
         |bk AS (SELECT rep.doc_id, rep.rep_id,
         |  ${hash60Sql("rc.text")} % 100 AS bucket
         |  FROM rep JOIN corpus rc ON rep.rep_id = rc.doc_id)
         |SELECT doc_id, rep_id,
         |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |ELSE 'test' END AS split, bucket FROM bk""".stripMargin,

    // Per-character relational replay of GramHashes.cdcChunks: candidate
    // cut at every end position c in [8, len] whose trailing 8-gram
    // hash60 ≡ 0 (mod 64), plus the EOT cut; chunks stitched with
    // lag/row_number per doc.
    "doc_cdc_chunks" ->
      s"""WITH docs AS (SELECT doc_id, text, length(text) AS len
         |  FROM documents WHERE length(text) > 0),
         |cand AS (SELECT doc_id, c FROM docs,
         |    unnest(range(8, len + 1)) AS u(c)
         |  WHERE ${hash60Sql("substr(text, (c-7)::INT, 8)")} % 64 = 0),
         |cuts AS (SELECT doc_id, c FROM cand
         |  UNION SELECT doc_id, len FROM docs),
         |ord AS (SELECT doc_id, c,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY c) - 1 AS chunk_idx,
         |  COALESCE(lag(c) OVER (PARTITION BY doc_id ORDER BY c), 0) AS prev
         |  FROM cuts)
         |SELECT o.doc_id, chunk_idx::BIGINT AS chunk_idx,
         |(prev + 1)::BIGINT AS start_pos, (c - prev)::BIGINT AS chunk_len,
         |${hash60Sql("substr(d.text, (prev+1)::INT, (c-prev)::INT)")} AS chunk_hash
         |FROM ord o JOIN docs d USING (doc_id)""".stripMargin,

    "cdc_dup_chunk_stats" ->
      s"""WITH $corpusNearSql,
         |docs AS (SELECT doc_id, text, length(text) AS len
         |  FROM corpus WHERE length(text) > 0),
         |cand AS (SELECT doc_id, c FROM docs,
         |    unnest(range(8, len + 1)) AS u(c)
         |  WHERE ${hash60Sql("substr(text, (c-7)::INT, 8)")} % 64 = 0),
         |cuts AS (SELECT doc_id, c FROM cand
         |  UNION SELECT doc_id, len FROM docs),
         |ord AS (SELECT doc_id, c,
         |  COALESCE(lag(c) OVER (PARTITION BY doc_id ORDER BY c), 0) AS prev
         |  FROM cuts),
         |ch AS (SELECT o.doc_id,
         |  ${hash60Sql("substr(d.text, (prev+1)::INT, (c-prev)::INT)")} AS chunk_hash
         |  FROM ord o JOIN docs d USING (doc_id)),
         |shared AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
         |  FROM ch GROUP BY chunk_hash)
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks
         |FROM ch JOIN shared s USING (chunk_hash) GROUP BY doc_id""".stripMargin,

    // chunk pairs (>= 3 shared) -> reach closure -> survivors, the
    // dedup_corpus_kept chain over CDC chunk hashes.
    "cdc_corpus_kept" ->
      s"""WITH RECURSIVE $corpusNearSql,
         |docs AS (SELECT doc_id, text, length(text) AS len
         |  FROM corpus WHERE length(text) > 0),
         |cand AS (SELECT doc_id, c FROM docs,
         |    unnest(range(8, len + 1)) AS u(c)
         |  WHERE ${hash60Sql("substr(text, (c-7)::INT, 8)")} % 64 = 0),
         |cuts AS (SELECT doc_id, c FROM cand
         |  UNION SELECT doc_id, len FROM docs),
         |ord AS (SELECT doc_id, c,
         |  COALESCE(lag(c) OVER (PARTITION BY doc_id ORDER BY c), 0) AS prev
         |  FROM cuts),
         |chd AS (SELECT DISTINCT o.doc_id AS id,
         |  ${hash60Sql("substr(d.text, (prev+1)::INT, (c-prev)::INT)")} AS h
         |  FROM ord o JOIN docs d USING (doc_id)),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM chd a JOIN chd b ON a.h = b.h AND a.id < b.id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |e AS (SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION ALL SELECT id_b, id_a FROM prs),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id FROM corpus
         |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    // One-shot replay over the union corpus: batch ids are all +100000,
    // so "pair involves the batch" is the batch side of the join; the
    // distinct (id, hash) relation mirrors IncrementalCdc.chunkHashes.
    "cdc_incremental_pairs" ->
      s"""WITH $corpusNearSql,
         |docs AS (SELECT doc_id, text, length(text) AS len
         |  FROM corpus WHERE length(text) > 0),
         |cand AS (SELECT doc_id, c FROM docs,
         |    unnest(range(8, len + 1)) AS u(c)
         |  WHERE ${hash60Sql("substr(text, (c-7)::INT, 8)")} % 64 = 0),
         |cuts AS (SELECT doc_id, c FROM cand
         |  UNION SELECT doc_id, len FROM docs),
         |ord AS (SELECT doc_id, c,
         |  COALESCE(lag(c) OVER (PARTITION BY doc_id ORDER BY c), 0) AS prev
         |  FROM cuts),
         |chd AS (SELECT DISTINCT o.doc_id AS id,
         |  ${hash60Sql("substr(d.text, (prev+1)::INT, (c-prev)::INT)")} AS h
         |  FROM ord o JOIN docs d USING (doc_id)),
         |b AS (SELECT id, h FROM chd WHERE id >= 100000)
         |SELECT least(b.id, c.id) AS id_a, greatest(b.id, c.id) AS id_b,
         |count(DISTINCT b.h)::BIGINT AS shared_chunks
         |FROM b JOIN chd c ON b.h = c.h AND b.id <> c.id
         |GROUP BY 1, 2""".stripMargin,

    // Batch-fold equals one-shot for every exact field (counts, bounds
    // are monoids); approx_ok is the 5%-band rider on the folded HLL
    // estimate, constant-true here and computed Spark-side, so a hash
    // match PROVES the sketch union stayed in band.
    "incremental_profile_final" ->
      s"""WITH p AS (${profileSql("documents",
             Seq("doc_id", "lang", "source", "n_chars"))})
         |SELECT col_name, n_non_null, n_nulls,
         |n_distinct AS exact_distinct, true AS approx_ok,
         |min_value, max_value FROM p""".stripMargin,

    // Constants mirror Relevance.bm25 exactly (k1=1.2, b=0.75, ln idf
    // with the +1 floor); every intermediate (tf/df/dl sums) is
    // integer-valued, so only the final <=4-addend sum needs the 1e-4
    // truncation.
    "doc_bm25_relevance" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM d),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM d) u
        |  WHERE term IN ('spark','stream','query','window')
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |c AS (SELECT tf.doc_id,
        |    ln((s.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (s.sum_dl / s.n_docs))) AS contrib
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
        |SELECT doc_id, floor(sum(contrib)*10000)/10000 AS score,
        |  count(*)::BIGINT AS matched_terms
        |FROM c GROUP BY doc_id""".stripMargin,

    "doc_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM tok),
        |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM tok) u
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |w AS (SELECT doc_id, tf.term, tf.tf * (ln(n.n_docs / df.df) + 1.0) AS w
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        |SELECT doc_id, term, rank, floor(w*10000)/10000 AS w FROM (
        |  SELECT doc_id, term, w, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY w DESC, term) AS rank FROM w)
        |WHERE rank <= 3""".stripMargin,

    "dedup_tfidf_cosine" ->
      s"""WITH $corpusNearSql,
         |tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM corpus WHERE text IS NOT NULL),
         |n AS (SELECT count(*)::DOUBLE AS n_docs FROM tok),
         |tf AS (SELECT doc_id AS id, term, count(*)::DOUBLE AS tf FROM (
         |    SELECT doc_id, unnest(toks) AS term FROM tok) u
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
         |  GROUP BY term HAVING count(*) <= 100),
         |w AS (SELECT id, tf.term, tf.tf * (ln(n.n_docs / df.df) + 1.0) AS w
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
         |nrm AS (SELECT id, sqrt(sum(CAST(w*w AS DECIMAL(38,12)))::DOUBLE) AS nrm
         |  FROM w GROUP BY id),
         |dots AS (SELECT a.id AS id_a, b.id AS id_b,
         |  sum(CAST(a.w * b.w AS DECIMAL(38,12)))::DOUBLE AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT id_a, id_b, floor(cosine*10000)/10000 AS cosine FROM (
         |  SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
         |  FROM dots JOIN nrm na ON dots.id_a = na.id
         |  JOIN nrm nb ON dots.id_b = nb.id)
         |WHERE cosine >= 0.8""".stripMargin,

    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics.
    "doc_pii_redact" ->
      """WITH seeded AS (SELECT doc_id,
        |  CASE WHEN doc_id % 15 = 0 THEN text || ' contact me at user' ||
        |    doc_id || '@example.com or +1-555-0' || doc_id || '99'
        |  ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\+?[0-9][0-9()\-\. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted,
        |regexp_matches(text, '@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS had_email
        |FROM seeded""".stripMargin,

    "pack_documents" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens
        |  FROM documents)
        |SELECT doc_id, ws_tokens,
        |CAST(coalesce(sum(ws_tokens) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
        |CAST(floor(coalesce(sum(ws_tokens) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
        |  AS BIGINT) AS bin
        |FROM t""".stripMargin,

    // the shard deal replayed exactly: global rank over
    // (hash60(doc_id), doc_id) order — a window here, where the two-phase
    // bucketed rank runs on the Spark side — then modulo/div dealing
    "corpus_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text))=0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         |    AS ws_tokens
         |  FROM documents),
         |p AS (SELECT doc_id, ws_tokens,
         |  CAST(coalesce(sum(ws_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS "offset"
         |  FROM t),
         |r AS (SELECT doc_id, ws_tokens, "offset",
         |  CAST("offset" // 2048 AS BIGINT) AS bin,
         |  row_number() OVER (ORDER BY
         |    ${hash60Sql("doc_id::VARCHAR")}, doc_id) - 1 AS rank
         |  FROM p)
         |SELECT doc_id, ws_tokens, "offset", bin,
         |CAST(rank % 8 AS BIGINT) AS shard,
         |CAST(rank // 8 AS BIGINT) AS shard_pos FROM r""".stripMargin,

    "cms_registers" ->
      s"""WITH $cmsRegsSql
         |SELECT CAST(r AS BIGINT) AS r, c, cnt FROM regs""".stripMargin,

    "cms_token_freq" ->
      s"""WITH $cmsRegsSql,
         |$cmsEstSql,
         |exact AS (SELECT tok, count(*)::BIGINT AS exact_count
         |  FROM t GROUP BY tok)
         |SELECT e.tok, e.cms_count, x2.exact_count
         |FROM est e JOIN exact x2 USING (tok)""".stripMargin,

    // the one-shot replay IS the fold oracle: additive per-cell sums
    // over disjoint slices equal the single-pass registers
    "cms_incremental_final" ->
      s"""WITH $cmsRegsSql,
         |$cmsEstSql
         |SELECT tok, cms_count FROM est""".stripMargin,

    // The recursive CTE folds the same greedy first-fit step the Scala
    // operator applies per group: `loads` is the open-bin load list,
    // idx the first bin with room (list_position = 0 when none — DuckDB
    // returns 0, not NULL, for not-found). The in-place bin update uses
    // a zip+transform rebuild: dynamic slice-concat (l[:i-1]||[x]||l[i+1:])
    // degenerates in DuckDB 1.0's recursion.
    "pack_bins_firstfit" ->
      """WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens
        |  FROM documents),
        |g AS MATERIALIZED (SELECT doc_id, ws_tokens, doc_id // 512 AS grp,
        |  row_number() OVER (PARTITION BY (doc_id // 512) ORDER BY doc_id) AS rn FROM t),
        |ff AS (
        |  SELECT grp, rn, doc_id, ws_tokens, CAST(0 AS BIGINT) AS bin,
        |    CAST(0 AS BIGINT) AS bin_offset, [ws_tokens] AS loads
        |  FROM g WHERE rn = 1
        |  UNION ALL
        |  SELECT s.grp, s.rn, s.doc_id, s.ws_tokens,
        |    CAST(CASE WHEN s.idx = 0 THEN len(s.loads) ELSE s.idx - 1 END AS BIGINT),
        |    CAST(CASE WHEN s.idx = 0 THEN 0 ELSE s.loads[s.idx] END AS BIGINT),
        |    CASE WHEN s.idx = 0 THEN list_append(s.loads, s.ws_tokens)
        |      ELSE list_transform(list_zip(s.loads, range(1, len(s.loads)+1)), p ->
        |        CASE WHEN p[2] = s.idx THEN p[1] + s.ws_tokens ELSE p[1] END) END
        |  FROM (SELECT g.grp, g.rn, g.doc_id, g.ws_tokens, ff.loads,
        |      list_position(list_transform(ff.loads, l -> l + g.ws_tokens <= 2048), true) AS idx
        |    FROM ff JOIN g ON g.grp = ff.grp AND g.rn = ff.rn + 1) s
        |)
        |SELECT doc_id, ws_tokens, grp*512 + bin AS bin, bin_offset FROM ff""".stripMargin,

    "curate_documents" ->
      """WITH q AS (SELECT doc_id, text,
        |  least(length(text)/500.0, 1.0) AS len_score,
        |  len(regexp_extract_all(text, '[[:punct:]]'))
        |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE) AS stopword_ratio,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens
        |  FROM documents),
        |sc AS (SELECT doc_id, ws_tokens, text,
        |  0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)) AS quality_score FROM q),
        |h AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|que)\b')) AS es,
        |  len(regexp_extract_all(text, '\p{Han}')) AS zh FROM documents),
        |lang AS (SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
        |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |  WHEN de >= fr AND de >= es THEN 'de'
        |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM h),
        |kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT s.doc_id, s.ws_tokens,
        |floor(s.quality_score*10000)/10000 AS quality_score, l.lang_pred
        |FROM sc s JOIN lang l USING (doc_id) JOIN kept k ON s.doc_id = k.doc_id
        |WHERE s.quality_score >= 0.5 AND l.lang_pred = 'en'
        |AND s.ws_tokens BETWEEN 20 AND 1000""".stripMargin,

    "curate_documents_strict" ->
      """WITH q AS (SELECT doc_id, text,
        |  least(length(text)/500.0, 1.0) AS len_score,
        |  len(regexp_extract_all(text, '[[:punct:]]'))
        |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE) AS stopword_ratio,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens
        |  FROM documents),
        |sc AS (SELECT doc_id, ws_tokens, text,
        |  0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)) AS quality_score FROM q),
        |h AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS fr,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|que)\b')) AS es,
        |  len(regexp_extract_all(text, '\p{Han}')) AS zh FROM documents),
        |lang AS (SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
        |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |  WHEN de >= fr AND de >= es THEN 'de'
        |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM h),
        |kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |rep0 AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
        |repm AS (SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS dt,
        |  greatest(len(toks)-1, 0) AS nb FROM rep0),
        |repbg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM rep0, unnest(range(1, len(toks))) u(i)),
        |reptop AS (SELECT doc_id, max(c) AS topc FROM (
        |  SELECT doc_id, g, count(*) AS c FROM repbg GROUP BY 1, 2) GROUP BY doc_id),
        |rep AS (SELECT m.doc_id,
        |  CASE WHEN nt = 0 THEN 0 ELSE 1 - dt/nt::DOUBLE END AS dup_frac,
        |  CASE WHEN nb = 0 THEN 0 ELSE coalesce(topc, 0)/nb::DOUBLE END AS top_frac
        |  FROM repm m LEFT JOIN reptop USING (doc_id))
        |SELECT s.doc_id, s.ws_tokens,
        |floor(s.quality_score*10000)/10000 AS quality_score, l.lang_pred,
        |floor(r.dup_frac*10000)/10000 AS dup_token_frac,
        |floor(r.top_frac*10000)/10000 AS top_bigram_frac
        |FROM sc s JOIN lang l USING (doc_id) JOIN kept k ON s.doc_id = k.doc_id
        |JOIN rep r ON s.doc_id = r.doc_id
        |WHERE s.quality_score >= 0.5 AND l.lang_pred = 'en'
        |AND s.ws_tokens BETWEEN 20 AND 1000
        |AND r.dup_frac <= 0.6 AND r.top_frac <= 0.2""".stripMargin,

    // The WHOLE curation chain replayed as one CTE pipeline: markup →
    // extraction → strict gates → boilerplate-unit removal → intra-doc
    // unit dedup → shingle-Jaccard clusters → leakage-safe split +
    // representative keep → per-split packing. Every fragment is the
    // proven oracle of its stage's own contract query, re-sourced to
    // the previous stage's CTE.
    "c4_end_to_end" ->
      s"""WITH RECURSIVE $c4ChainSql
         |SELECT doc_id, split, ws_tokens, "offset", bin FROM pk""".stripMargin,

    // the packed c4 product dealt into PER-SPLIT fixed-count training
    // shards (the TrainShards deal within each split, numShards=4):
    // rank over (hash60(doc_id), doc_id) within split, shard = rank % 4,
    // shard_pos = rank // 4 — the pipeline's last mile cross-proven on
    // the full-chain product, not just the flat documents table
    "c4_shards" ->
      s"""WITH RECURSIVE $c4ChainSql,
         |shr AS (SELECT doc_id, split, ws_tokens, "offset", bin,
         |  row_number() OVER (PARTITION BY split ORDER BY
         |    ${hash60Sql("doc_id::VARCHAR")}, doc_id) - 1 AS rank FROM pk)
         |SELECT doc_id, split, ws_tokens, "offset", bin,
         |CAST(rank % 4 AS BIGINT) AS shard,
         |CAST(rank // 4 AS BIGINT) AS shard_pos FROM shr""".stripMargin,

    "dedup_exact" ->
      s"""WITH $corpusExactSql
         |SELECT md5(text) AS text_hash, min(doc_id) AS kept_id,
         |count(*) AS n_copies FROM corpus GROUP BY md5(text)""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.inter, sa.sz AS size_a, sb.sz AS size_b,
         |floor(p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE*10000)/10000 AS jaccard
         |FROM pairs p JOIN sizes sa ON p.id_a = sa.id
         |JOIN sizes sb ON p.id_b = sb.id
         |WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5""".stripMargin,

    // Same exact-pair SQL as dedup_ngram_jaccard: t=0.5 sits below the
    // plan crossover, so equality proves the threshold-gated dispatch
    // (to the plain inverted join) changes only the plan.
    "dedup_prefix_jaccard" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.inter, sa.sz AS size_a, sb.sz AS size_b,
         |floor(p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE*10000)/10000 AS jaccard
         |FROM pairs p JOIN sizes sa ON p.id_a = sa.id
         |JOIN sizes sb ON p.id_b = sb.id
         |WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5""".stripMargin,

    // The exact pair relation at t=0.8: equality through the
    // prefix-filtered candidate scheme (which the dispatch selects at
    // this threshold) is the losslessness proof in the plan's own regime.
    "dedup_prefix_jaccard_hi" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.inter, sa.sz AS size_a, sb.sz AS size_b,
         |floor(p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE*10000)/10000 AS jaccard
         |FROM pairs p JOIN sizes sa ON p.id_a = sa.id
         |JOIN sizes sb ON p.id_b = sb.id
         |WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.8""".stripMargin,

    // Keep-first within each doc: row_number over (doc, unit) by pos.
    "doc_dedup_units" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |  THEN text || '. ' || text ELSE text END AS text FROM documents),
        |a AS (SELECT doc_id, string_split_regex(text, '\.\s+') AS arr FROM d),
        |u0 AS (SELECT doc_id, i - 1 AS pos, trim(arr[i::INT]) AS unit
        |  FROM a, unnest(range(1, len(arr) + 1)) AS r(i)),
        |u AS (SELECT * FROM u0 WHERE unit <> ''),
        |k AS (SELECT doc_id, pos, unit FROM (SELECT doc_id, pos, unit,
        |  row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos) AS occ
        |  FROM u) WHERE occ = 1),
        |tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY 1),
        |rb AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS text_clean,
        |  count(*) AS n_kept FROM k GROUP BY 1)
        |SELECT d.doc_id, COALESCE(rb.text_clean, '') AS text_clean,
        |COALESCE(tot.n_units, 0) AS n_units,
        |COALESCE(tot.n_units - rb.n_kept, 0) AS n_dropped
        |FROM d LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN rb ON d.doc_id = rb.doc_id""".stripMargin,

    // Unit split / df / anti-filter / ordered rebuild replayed; the
    // string_agg rebuild COALESCEs to '' (a fully-boilerplate doc keeps
    // an empty row, and DuckDB's zero-row string_agg is NULL).
    "corpus_boilerplate_removed" -> boilerplateRemovedSql,

    // The IDENTICAL one-shot replay: the Spark side folded per-batch
    // (unit, df) deltas over a 3-way corpus split, so hash-matching the
    // one-shot SQL proves fold == one-shot exactly.
    "incremental_boilerplate_final" -> boilerplateRemovedSql,
    "incremental_boilerplate_store" -> boilerplateRemovedSql,

    // One-shot E-S sample at k=12: the Spark side folded three
    // per-batch top-12 deltas, so equality proves the rank-selection
    // merge theorem on real data.
    "incremental_sample_final" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  (CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT
         |    AS ws_tokens FROM documents),
         |keyed AS (SELECT doc_id, lang, ws_tokens,
         |  ln((${hash60Sql("doc_id::VARCHAR")} + 1) / 1152921504606846976.0)
         |    / ws_tokens AS key
         |  FROM t WHERE ws_tokens > 0),
         |r AS (SELECT doc_id, lang, ws_tokens, row_number() OVER (
         |  PARTITION BY lang ORDER BY key DESC, doc_id) AS rn FROM keyed)
         |SELECT doc_id, lang, ws_tokens FROM r WHERE rn <= 12""".stripMargin,

    // The register relation replayed value-for-value: same md5-hex
    // 60-bit hash, same bucket/tail split, same integer rank.
    "hll_registers_daily" ->
      s"""WITH h AS (SELECT CAST(ts AS DATE) AS event_date,
         |  ${hash60Sql("user_id::VARCHAR")} AS h
         |  FROM events WHERE user_id IS NOT NULL)
         |SELECT event_date, (h % 256) AS bucket,
         |  max(CASE WHEN (h // 256) = 0 THEN 53
         |      ELSE 53 - length(bin(h // 256)) END)::BIGINT AS r
         |FROM h GROUP BY 1, 2""".stripMargin,

    // ONE-SHOT sketch + estimate: harmonic sum scaled to an exact
    // BIGINT (1 << (53 - r)), one deterministic BIGINT→DOUBLE cast,
    // same α literal arithmetic, same linear-counting branch.
    "incremental_distinct_final" ->
      s"""WITH h AS (SELECT CAST(ts AS DATE) AS event_date,
         |  ${hash60Sql("user_id::VARCHAR")} AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |regs AS (SELECT event_date, (h % 256) AS bucket,
         |  max(CASE WHEN (h // 256) = 0 THEN 53
         |      ELSE 53 - length(bin(h // 256)) END) AS r
         |  FROM h GROUP BY 1, 2),
         |agg AS (SELECT event_date,
         |  sum((1::BIGINT << (53 - r)))::BIGINT AS hsum,
         |  count(*)::BIGINT AS nz FROM regs GROUP BY 1),
         |est AS (SELECT event_date, (256 - nz) AS v,
         |  ((0.7213/(1.0 + 1.079/256.0))*256.0*256.0*9007199254740992.0)
         |    / ((256 - nz) * 9007199254740992 + hsum)::DOUBLE AS raw
         |  FROM agg),
         |fin AS (SELECT event_date,
         |  CASE WHEN raw <= 640.0 AND v > 0
         |    THEN 256.0 * ln(256.0 / v) ELSE raw END AS approx FROM est),
         |ex AS (SELECT CAST(ts AS DATE) AS event_date,
         |  count(DISTINCT user_id)::BIGINT AS exact_users
         |  FROM events GROUP BY 1)
         |SELECT f.event_date, floor(approx*10000)/10000 AS approx_users,
         |  exact_users
         |FROM fin f JOIN ex ON f.event_date = ex.event_date""".stripMargin,

    "decontaminate_docs" ->
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |ev AS (SELECT doc_id+500000 AS doc_id,
         |  array_to_string((string_split_regex(trim(text), '\\s+'))[1:25], ' ') AS text
         |  FROM documents WHERE doc_id%50=0),
         |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM train),
         |tshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM ttok),
         |tsh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM tshs),
         |hot AS (SELECT shingle FROM tsh0 GROUP BY shingle HAVING count(*) > $ShingleDfCap),
         |tsh AS (SELECT id, shingle FROM tsh0
         |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |etok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM ev),
         |eshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM etok),
         |esh AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM eshs),
         |esz AS (SELECT id, count(*) AS sz FROM esh GROUP BY id)
         |SELECT t.id AS train_id, e.id AS eval_id, count(*) AS overlap,
         |min(z.sz) AS eval_size,
         |floor(count(*)/min(z.sz)::DOUBLE*10000)/10000 AS overlap_frac
         |FROM tsh t JOIN esh e ON t.shingle = e.shingle
         |JOIN esz z ON e.id = z.id
         |GROUP BY t.id, e.id
         |HAVING count(*)/min(z.sz)::DOUBLE >= 0.8""".stripMargin,

    "bloom_eval_bits" ->
      s"""WITH $bloomEvalBitsSql
         |SELECT bit FROM ebit""".stripMargin,

    // per-seed probe rows LEFT JOIN the bit relation; a shingle is
    // possibly-in-eval iff all 4 seed rows hit (two seeds on the same
    // bit contribute two identically-present rows — same count on the
    // Spark side)
    "decontaminate_bloom" -> {
      val seeds = (0 until graft.operators.BloomSet.DefaultHashes)
        .map(i => s"SELECT id, shingle, ${cmsColSql("h", i, graft.operators.BloomSet.DefaultBits)} AS bit FROM tq")
        .mkString("\n|  UNION ALL ")
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |$bloomEvalBitsSql,
         |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM train),
         |tshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM ttok),
         |tsh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM tshs),
         |hot AS (SELECT shingle FROM tsh0 GROUP BY shingle HAVING count(*) > $ShingleDfCap),
         |tsh AS (SELECT id, shingle FROM tsh0
         |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |tq AS (SELECT id, shingle, ${hash60Sql("shingle")} AS h FROM tsh),
         |tqx AS ($seeds),
         |mv AS (SELECT t.id, t.shingle,
         |  CASE WHEN count(e.bit) = ${graft.operators.BloomSet.DefaultHashes}
         |    THEN 1 ELSE 0 END AS hit
         |  FROM tqx t LEFT JOIN ebit e ON t.bit = e.bit
         |  GROUP BY t.id, t.shingle)
         |SELECT id AS doc_id, count(*)::BIGINT AS n_shingles,
         |sum(hit)::BIGINT AS n_hits,
         |floor(sum(hit)::BIGINT/count(*)::DOUBLE*10000)/10000 AS hit_frac,
         |(sum(hit)::BIGINT/count(*)::DOUBLE >= 0.3
         |  OR sum(hit)::BIGINT >= 17) AS flagged
         |FROM mv GROUP BY id""".stripMargin
    },

    // the one-shot bloom check, kept docs only, no df-cap — per-doc
    // verdicts decompose over any partition of the corpus into batches,
    // which is exactly what the Spark side's 3-batch fold exercises
    "ingest_decontaminated_final" -> {
      val seeds = (0 until graft.operators.BloomSet.DefaultHashes)
        .map(i => s"SELECT id, shingle, ${cmsColSql("h", i, graft.operators.BloomSet.DefaultBits)} AS bit FROM tq")
        .mkString("\n|  UNION ALL ")
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |$bloomEvalBitsSql,
         |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM train),
         |tshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM ttok),
         |tsh AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM tshs),
         |tq AS (SELECT id, shingle, ${hash60Sql("shingle")} AS h FROM tsh),
         |tqx AS ($seeds),
         |mv AS (SELECT t.id, t.shingle,
         |  CASE WHEN count(e.bit) = ${graft.operators.BloomSet.DefaultHashes}
         |    THEN 1 ELSE 0 END AS hit
         |  FROM tqx t LEFT JOIN ebit e ON t.bit = e.bit
         |  GROUP BY t.id, t.shingle),
         |agg AS (SELECT id AS doc_id, count(*)::BIGINT AS n_shingles,
         |  sum(hit)::BIGINT AS n_hits FROM mv GROUP BY id)
         |SELECT doc_id, n_hits FROM agg
         |WHERE NOT (n_hits/n_shingles::DOUBLE >= 0.3 OR n_hits >= 17)""".stripMargin
    },

    "decontaminated_corpus" ->
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |ev AS (SELECT doc_id+500000 AS doc_id,
         |  array_to_string((string_split_regex(trim(text), '\\s+'))[1:25], ' ') AS text
         |  FROM documents WHERE doc_id%50=0),
         |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM train),
         |tshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM ttok),
         |tsh0 AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM tshs),
         |hot AS (SELECT shingle FROM tsh0 GROUP BY shingle HAVING count(*) > $ShingleDfCap),
         |tsh AS (SELECT id, shingle FROM tsh0
         |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |etok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM ev),
         |eshs AS (SELECT doc_id, list_distinct(list_transform(
         |  range(0, greatest(len(toks)-5,0)+1),
         |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS shingles FROM etok),
         |esh AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM eshs),
         |esz AS (SELECT id, count(*) AS sz FROM esh GROUP BY id),
         |flagged AS (SELECT t.id AS train_id
         |  FROM tsh t JOIN esh e ON t.shingle = e.shingle
         |  JOIN esz z ON e.id = z.id
         |  GROUP BY t.id, e.id
         |  HAVING count(*)/min(z.sz)::DOUBLE >= 0.8)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT train_id FROM flagged)""".stripMargin,

    "doc_sample_weighted" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  (CASE WHEN length(trim(text))=0 THEN 0
         |   ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS ws_tokens
         |  FROM documents),
         |r AS (SELECT doc_id, ws_tokens,
         |  (CASE WHEN ws_tokens < 50 THEN 5 WHEN ws_tokens < 100 THEN 20
         |   ELSE 40 END)::BIGINT AS rate,
         |  ${hash60Sql("text")} % 100 AS bucket FROM t)
         |SELECT doc_id, ws_tokens, rate, bucket FROM r
         |WHERE bucket < rate""".stripMargin,

    "dedup_containment" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL
         |SELECT doc_id+100000 AS doc_id,
         |array_to_string((string_split_regex(trim(text), '\\s+'))[1:15], ' ') AS text
         |FROM documents WHERE doc_id%20=0),
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b,
         |floor(p.inter/sa.sz::DOUBLE*10000)/10000 AS containment_a,
         |floor(p.inter/sb.sz::DOUBLE*10000)/10000 AS containment_b
         |FROM pairs p JOIN sizes sa ON p.id_a = sa.id
         |JOIN sizes sb ON p.id_b = sb.id
         |WHERE p.inter/sa.sz::DOUBLE >= 0.9 OR p.inter/sb.sz::DOUBLE >= 0.9""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |jp AS (SELECT p.id_a, p.id_b FROM prs p
         |  JOIN sizes sa ON p.id_a = sa.id JOIN sizes sb ON p.id_b = sb.id
         |  WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "dedup_corpus_kept" ->
      s"""WITH RECURSIVE $corpusNearSql,
         |${shingleSql(3)},
         |${cappedShSql(ShingleDfCap)},
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |prs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |jp AS (SELECT p.id_a, p.id_b FROM prs p
         |  JOIN sizes sa ON p.id_a = sa.id JOIN sizes sb ON p.id_b = sb.id
         |  WHERE p.inter/(sa.sz+sb.sz-p.inter)::DOUBLE >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id FROM corpus
         |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""WITH $corpusNearSql,
         |g AS (SELECT doc_id, i - 1 AS pos,
         |  ${hash60Sql("substr(text, i::INT, 8)")} AS h
         |  FROM corpus, unnest(range(1, greatest(length(text)-7,1)+1)) AS u(i)),
         |wm AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin FROM g),
         |fp0 AS (SELECT DISTINCT doc_id AS id, wmin AS f FROM wm WHERE pos >= 3),
         |hot AS (SELECT f FROM fp0 GROUP BY f HAVING count(*) > 10),
         |fp AS (SELECT id, f FROM fp0 WHERE f NOT IN (SELECT f FROM hot))
         |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         |FROM fp a JOIN fp b ON a.f = b.f AND a.id < b.id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS dt,
        |  greatest(len(toks)-1, 0) AS nb FROM t),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM t, unnest(range(1, len(toks))) u(i)),
        |top AS (SELECT doc_id, max(c) AS topc FROM (
        |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id)
        |SELECT m.doc_id,
        |floor((CASE WHEN nt = 0 THEN 0 ELSE 1 - dt/nt::DOUBLE END)*10000)/10000
        |  AS dup_token_frac,
        |floor((CASE WHEN nb = 0 THEN 0 ELSE coalesce(topc, 0)/nb::DOUBLE END)*10000)/10000
        |  AS top_bigram_frac,
        |CAST(nt AS BIGINT) AS n_tokens
        |FROM m LEFT JOIN top USING (doc_id)""".stripMargin,

    "doc_normalize" ->
      """SELECT doc_id,
        |regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm_text,
        |CAST(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS BIGINT)
        |  AS n_chars_norm
        |FROM documents""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(3)},
         |hss AS (SELECT doc_id, list_transform(shingles,
         |  s -> ${hash60Sql("s")}) AS hs FROM shs),
         |sig AS (SELECT doc_id AS id, $minhashSigSql AS sig FROM hss),
         |banded AS (SELECT id, sig, t.b AS band,
         |  array_to_string(sig[(t.b*4+1):(t.b*4+4)], ':') AS key
         |  FROM sig, range(0,4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |agr AS (SELECT c.id_a, c.id_b,
         |  list_sum(list_transform(range(1,17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))/16.0 AS a
         |  FROM cand c JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id)
         |SELECT id_a, id_b, floor(a*10000)/10000 AS sig_agreement
         |FROM agr WHERE a >= 0.5""".stripMargin,

    // Same signature/band pipeline as dedup_minhash_lsh over
    // corpus ∪ added-set; batch ids are all +200000 > every corpus id,
    // so "pair involves the batch" is exactly id_b >= 200000 under the
    // id_a < id_b orientation.
    "dedup_incremental_pairs" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL
         |  SELECT doc_id+200000 AS doc_id, text FROM documents WHERE doc_id%19=0),
         |${shingleSql(3)},
         |hss AS (SELECT doc_id, list_transform(shingles,
         |  s -> ${hash60Sql("s")}) AS hs FROM shs),
         |sig AS (SELECT doc_id AS id, $minhashSigSql AS sig FROM hss),
         |banded AS (SELECT id, sig, t.b AS band,
         |  array_to_string(sig[(t.b*4+1):(t.b*4+4)], ':') AS key
         |  FROM sig, range(0,4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |agr AS (SELECT c.id_a, c.id_b,
         |  list_sum(list_transform(range(1,17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))/16.0 AS a
         |  FROM cand c JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id)
         |SELECT id_a, id_b, floor(a*10000)/10000 AS sig_agreement
         |FROM agr WHERE a >= 0.5 AND id_b >= 200000""".stripMargin,

    // Incremental pairs -> recursive-CTE connected components -> kept =
    // batch ids that are not non-representative cluster members (the
    // dropNearDups rule). Batch construction mirrors the Spark side.
    "dedup_incremental_kept" ->
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents UNION ALL
         |  SELECT doc_id+200000 AS doc_id, text FROM documents WHERE doc_id%19=0
         |  UNION ALL
         |  SELECT doc_id+300000 AS doc_id, upper(text) AS text
         |  FROM documents WHERE doc_id%31=0),
         |${shingleSql(3)},
         |hss AS (SELECT doc_id, list_transform(shingles,
         |  s -> ${hash60Sql("s")}) AS hs FROM shs),
         |sig AS (SELECT doc_id AS id, $minhashSigSql AS sig FROM hss),
         |banded AS (SELECT id, sig, t.b AS band,
         |  array_to_string(sig[(t.b*4+1):(t.b*4+4)], ':') AS key
         |  FROM sig, range(0,4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |jp AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id
         |  WHERE list_sum(list_transform(range(1,17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))/16.0 >= 0.5
         |    AND c.id_b >= 200000),
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id FROM corpus WHERE doc_id >= 200000
         |  AND doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(2)},
         |hss AS (SELECT doc_id, list_transform(shingles,
         |  s -> ${hash60Sql("s")}) AS hs FROM shs)
         |SELECT doc_id, ($simhashSql)::BIGINT AS simhash FROM hss""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $corpusNearSql,
         |${shingleSql(2)},
         |hss AS (SELECT doc_id, list_transform(shingles,
         |  s -> ${hash60Sql("s")}) AS hs FROM shs),
         |sh AS (SELECT doc_id AS id, $simhashSql AS simhash FROM hss),
         |blocked AS (SELECT id, simhash, t.b AS block,
         |  (simhash >> (t.b*8)) & 255 AS byte FROM sh, range(0,2) t(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  a.simhash AS sh_a, b.simhash AS sh_b FROM blocked a JOIN blocked b
         |  ON a.block = b.block AND a.byte = b.byte AND a.id < b.id)
         |SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 1""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH $embCorpusSql,
         |scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, floor(cosine*10000)/10000 AS cosine
         |FROM scored WHERE cosine >= 0.9""".stripMargin,

    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $embCorpusSql,
         |e0 AS (SELECT vec_id, embedding,
         |  [${(0 until 4).map(t => bandBucketSql("embedding", t, 16)).mkString(", ")}] AS tbl
         |  FROM corpus),
         |x AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM e0, range(0,4) t(t)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM x a JOIN x b ON a.t = b.t AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id),
         |jp AS (SELECT id_a, id_b
         |  FROM cand JOIN e0 ea ON cand.id_a = ea.vec_id
         |  JOIN e0 eb ON cand.id_b = eb.vec_id
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.9),
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         |SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "dedup_embedding_lsh_banded" ->
      s"""WITH $embCorpusSql,
         |e AS MATERIALIZED (SELECT vec_id, embedding,
         |  [${(0 until 4).map(t => bandBucketSql("embedding", t, 16)).mkString(", ")}] AS tbl
         |  FROM corpus),
         |x AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM e, range(0,4) t(t)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM x a JOIN x b ON a.t = b.t AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id),
         |scored AS (SELECT id_a, id_b,
         |  ${cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM cand JOIN e ea ON cand.id_a = ea.vec_id
         |  JOIN e eb ON cand.id_b = eb.vec_id)
         |SELECT id_a, id_b, floor(cosine*10000)/10000 AS cosine
         |FROM scored WHERE cosine >= 0.9""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH $embCorpusSql,
         |bkt AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |  FROM corpus),
         |scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, floor(cosine*10000)/10000 AS cosine
         |FROM scored WHERE cosine >= 0.9""".stripMargin,

    "base64_roundtrip" ->
      """SELECT event_id, to_base64(event_type::BLOB) AS b64,
        |from_base64(to_base64(event_type::BLOB))::VARCHAR AS roundtrip
        |FROM events""".stripMargin,

    "ann_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("q.qv", "e.embedding")} AS cosine
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // Labels = the 16-cell deterministic IVF assignment (ann_ivf_topk's
    // cents/assign CTEs at 16); negatives exclude self AND same cell.
    "ann_hard_negatives" ->
      s"""WITH cents AS (SELECT centroid_id, cv FROM (
         |  SELECT vec_id AS centroid_id, embedding AS cv,
         |    ${hash60Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings ORDER BY h, centroid_id LIMIT 16) tc),
         |vecs AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |assign AS (SELECT id, v, centroid_id FROM (
         |  SELECT v.id, v.v, c.centroid_id, row_number() OVER (
         |    PARTITION BY v.id ORDER BY ${cosSql("v.v", "c.cv")} DESC,
         |    c.centroid_id) AS crank FROM vecs v, cents c) t WHERE crank = 1),
         |q AS (SELECT id AS query_id, v AS qv, centroid_id AS qlabel
         |  FROM assign WHERE id % 50 = 0),
         |scored AS (SELECT q.query_id, a.id AS neighbor_id,
         |  a.centroid_id AS neighbor_label, ${cosSql("q.qv", "a.v")} AS cosine
         |  FROM assign a, q
         |  WHERE a.id <> q.query_id AND a.centroid_id <> q.qlabel),
         |ranked AS (SELECT query_id, neighbor_id, neighbor_label,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank, cosine FROM scored)
         |SELECT query_id, neighbor_id, neighbor_label, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH bkt AS (SELECT vec_id, embedding,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bkt
         |  WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |  ${cosSql("q.qv", "c.embedding")} AS cosine
         |  FROM bkt c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    "ann_lsh_banded_topk" ->
      s"""WITH $embCorpusSql,
         |e AS MATERIALIZED (SELECT vec_id, embedding,
         |  [${(0 until 4).map(t => bandBucketSql("embedding", t, 16)).mkString(", ")}] AS tbl
         |  FROM corpus),
         |x AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM e, range(0,4) t(t)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM x c JOIN x q ON c.t = q.t AND c.bucket = q.bucket
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id < 100000
         |    AND c.vec_id <> q.vec_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |  ${cosSql("eq.embedding", "ec.embedding")} AS cosine
         |  FROM cand JOIN e ec ON cand.neighbor_id = ec.vec_id
         |  JOIN e eq ON cand.query_id = eq.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // banded LSH with hamming-1 multiprobe on the query side: each query
    // band bucket expands to itself + its 16 one-bit-flip neighbors.
    "ann_banded_multiprobe_topk" ->
      s"""WITH $embCorpusSql,
         |e AS MATERIALIZED (SELECT vec_id, embedding,
         |  [${(0 until 4).map(t => bandBucketSql("embedding", t, 16)).mkString(", ")}] AS tbl
         |  FROM corpus),
         |x AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM e, range(0,4) t(t)),
         |xq AS (SELECT vec_id, t, xor(bucket, o.off) AS bucket
         |  FROM x, unnest([0${(0 until 16).map(j => s", ${1L << j}").mkString}]) o(off)
         |  WHERE vec_id % 50 = 0 AND vec_id < 100000),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM x c JOIN xq q ON c.t = q.t AND c.bucket = q.bucket
         |  WHERE c.vec_id <> q.vec_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |  ${cosSql("eq.embedding", "ec.embedding")} AS cosine
         |  FROM cand JOIN e ec ON cand.neighbor_id = ec.vec_id
         |  JOIN e eq ON cand.query_id = eq.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // IVF over k-means-trained centroids: kmeansSql's c2 is the Lloyd
    // matrix the final assignment round scored against (= Spark's
    // Cluster.kmeansCentroids(32, 3)); de-quantized (val/scale)::FLOAT
    // exactly as ivfTrainedCentroids casts it. Probe/assign/rank mirror
    // ann_ivf_topk with nprobe=3.
    "ann_ivf_trained_topk" ->
      s"""WITH ${kmeansSql(32, 3, Cluster.DefaultScale)},
         |cents AS (SELECT cluster AS centroid_id,
         |  list((val / ${Cluster.DefaultScale}.0)::FLOAT ORDER BY dim) AS cv
         |  FROM c2 GROUP BY cluster),
         |vecs AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |assign AS (SELECT id, v, centroid_id FROM (
         |  SELECT v.id, v.v, c.centroid_id, row_number() OVER (
         |    PARTITION BY v.id ORDER BY ${cosSql("v.v", "c.cv")} DESC,
         |    c.centroid_id) AS crank FROM vecs v, cents c) t WHERE crank = 1),
         |qq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |probes AS (SELECT query_id, qv, centroid_id FROM (
         |  SELECT q.query_id, q.qv, c.centroid_id, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC,
         |    c.centroid_id) AS prank FROM qq q, cents c) t WHERE prank <= 3),
         |scored AS (SELECT p.query_id, a.id AS neighbor_id,
         |  ${cosSql("p.qv", "a.v")} AS cosine
         |  FROM assign a JOIN probes p ON a.centroid_id = p.centroid_id
         |  WHERE a.id <> p.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // incremental ANN ingest: batch = +100000 copies of every 25th
    // vector; candidates = (corpus ∪ batch) band rows joined to the
    // batch's band rows; exact-cosine rank (copies inherit their
    // source's band row in `e`, so tbl is computed once).
    "ann_incremental_topk" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding,
         |  [${(0 until 4).map(t => bandBucketSql("embedding", t, 16)).mkString(", ")}] AS tbl
         |  FROM embeddings),
         |bq AS (SELECT vec_id + 100000 AS vec_id, embedding, tbl
         |  FROM e WHERE vec_id % 25 = 0),
         |u AS (SELECT * FROM e UNION ALL SELECT * FROM bq),
         |xs AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM u, range(0,4) t(t)),
         |xq AS (SELECT vec_id, t.t AS t, tbl[t.t+1] AS bucket FROM bq, range(0,4) t(t)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS neighbor_id
         |  FROM xs s JOIN xq q ON s.t = q.t AND s.bucket = q.bucket
         |  WHERE s.vec_id <> q.vec_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |  ${cosSql("uq.embedding", "us.embedding")} AS cosine
         |  FROM cand JOIN u us ON cand.neighbor_id = us.vec_id
         |  JOIN u uq ON cand.query_id = uq.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 5""".stripMargin,

    // planted-neighbor ground truth: the perturbed query regenerated
    // bit-for-bit (md5 noise, double arithmetic in Spark's exact
    // expression order, FLOAT cast last), then exact top-2.
    "ann_planted_check" ->
      s"""WITH src AS (SELECT vec_id, embedding,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |pq AS (SELECT vec_id + 900000 AS query_id,
         |  list_transform(range(0, ${SimilaritySearch.Dim}), d ->
         |    (embedding[d+1]::DOUBLE + 0.6 * nrm / 8.0 *
         |      ((${hash60Sql("vec_id::VARCHAR || ':' || d::VARCHAR")}
         |        / 576460752303423488.0) - 1.0))::FLOAT) AS qv
         |  FROM src),
         |scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("p.qv", "e.embedding")} AS cosine
         |  FROM embeddings e, pq p WHERE e.vec_id <> p.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine,
         |(neighbor_id = query_id - 900000) AS is_source
         |FROM ranked WHERE rank <= 2""".stripMargin,

    // isotropy demonstration: cosine moments over a bounded id-range
    // pair sample + label agreement of the true top-10.
    "ann_corpus_isotropy" ->
      s"""WITH smp AS (SELECT vec_id, embedding,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 20000),
         |pr AS (SELECT (${dotSql("a.embedding", "b.embedding")})
         |    / (a.nrm * b.nrm) AS c
         |  FROM smp a JOIN smp b ON a.vec_id < b.vec_id),
         |st AS (SELECT count(*)::BIGINT AS n_pairs,
         |  floor(avg(c)*10000)/10000 AS mean_cos,
         |  floor(sqrt(avg(c*c) - avg(c)*avg(c))*10000)/10000 AS std_cos
         |  FROM pr),
         |qy AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("q.qv", "e.embedding")} AS cosine
         |  FROM embeddings e, qy q WHERE e.vec_id <> q.query_id),
         |top AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
         |  neighbor_id, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |  WHERE rank <= 10),
         |lm AS (SELECT floor(avg(CASE WHEN ql.label = nl.label
         |    THEN 1.0 ELSE 0.0 END)*10000)/10000 AS top10_label_match,
         |  count(DISTINCT nl.label)::BIGINT AS n_labels_seen
         |  FROM top JOIN embeddings ql ON top.query_id = ql.vec_id
         |  JOIN embeddings nl ON top.neighbor_id = nl.vec_id)
         |SELECT s.n_pairs, s.mean_cos, s.std_cos,
         |l.top10_label_match, l.n_labels_seen FROM st s, lm l""".stripMargin,

    "ann_topk_agg" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("q.qv", "e.embedding")} AS cosine
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    "ann_lsh_multiprobe_topk" ->
      s"""WITH bkt AS (SELECT vec_id, embedding,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT query_id, qv, unnest(probes) AS bucket FROM (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |  [bucket${(0 until 8).map(j => s", xor(bucket, ${1L << j})").mkString}] AS probes
         |  FROM bkt WHERE vec_id % 50 = 0) t),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |  ${cosSql("q.qv", "c.embedding")} AS cosine
         |  FROM bkt c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // The 8-term score sum is written out literally (left-associative,
    // matching Spark's sequential fold) — an aggregate SUM would
    // accumulate in partition order and drift low bits.
    "ann_pq_topk" -> {
      val l2 = s"(${subDotSql("e.embedding", "(c.s*8)", "e.embedding", "(c.s*8)")})" +
        s" - 2.0*(${subDotSql("e.embedding", "(c.s*8)", "c.cv", "(c.s*8)")})" +
        s" + (${subDotSql("c.cv", "(c.s*8)", "c.cv", "(c.s*8)")})"
      val qdot = subDotSql("q.embedding", "(c.s*8)", "c.cv", "(c.s*8)")
      val fold = (0 until 8)
        .map(s => s"l.lut[${s * 16} + cd.codes[${s + 1}] + 1]").mkString(" + ")
      s"""WITH cb0 AS (SELECT vec_id AS cid, embedding AS cv,
         |  ${hash60Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings ORDER BY h, cid LIMIT 16),
         |cb1 AS (SELECT cv, row_number() OVER (ORDER BY h, cid) - 1 AS code FROM cb0),
         |cb AS (SELECT t.s, cb1.code, cb1.cv FROM cb1, range(0, 8) t(s)),
         |enc0 AS (SELECT e.vec_id AS id, c.s, c.code, $l2 AS l2
         |  FROM embeddings e, cb c),
         |enc AS (SELECT id, s, code FROM (SELECT id, s, code,
         |  row_number() OVER (PARTITION BY id, s ORDER BY l2, code) AS rk
         |  FROM enc0) t WHERE rk = 1),
         |codes AS (SELECT id, list(code ORDER BY s) AS codes FROM enc GROUP BY id),
         |lut0 AS (SELECT q.vec_id AS query_id, c.s, c.code, $qdot AS d
         |  FROM embeddings q, cb c WHERE q.vec_id % 50 = 0),
         |lut AS (SELECT query_id, list(d ORDER BY s, code) AS lut
         |  FROM lut0 GROUP BY query_id),
         |scored AS (SELECT l.query_id, cd.id AS neighbor_id, $fold AS approx
         |  FROM codes cd, lut l WHERE cd.id <> l.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rank,
         |  approx FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(approx*10000)/10000 AS approx_score FROM ranked
         |WHERE rank <= 10""".stripMargin
    },

    // Trained-codebook PQ: the grouped per-subspace Lloyd replay feeds
    // the same encode/lut/fold machinery as ann_pq_topk, with the
    // codeword dots taken against the 8-dim trained codewords.
    "ann_pq_trained_topk" -> {
      def dot8(a: String, b: String) =
        (1 to 8).map(i => s"$a[c.s*8 + $i]::DOUBLE * $b[$i]::DOUBLE")
          .mkString(" + ")
      def dot8cc =
        (1 to 8).map(i => s"c.cv8[$i]::DOUBLE * c.cv8[$i]::DOUBLE")
          .mkString(" + ")
      def dot8ee(a: String) =
        (1 to 8).map(i => s"$a[c.s*8 + $i]::DOUBLE * $a[c.s*8 + $i]::DOUBLE")
          .mkString(" + ")
      val l2 = s"(${dot8ee("e.embedding")}) - 2.0*(${dot8("e.embedding", "c.cv8")})" +
        s" + ($dot8cc)"
      val qdot = dot8("q.embedding", "c.cv8")
      val fold = (0 until 8)
        .map(s => s"l.lut[${s * 16} + cd.codes[${s + 1}] + 1]").mkString(" + ")
      s"""WITH ${pqKmeansSql(16, 3, Cluster.DefaultScale)},
         |enc0 AS (SELECT e.vec_id AS id, c.s, c.code, $l2 AS l2
         |  FROM embeddings e, cbt c),
         |enc AS (SELECT id, s, code FROM (SELECT id, s, code,
         |  row_number() OVER (PARTITION BY id, s ORDER BY l2, code) AS rk
         |  FROM enc0) t WHERE rk = 1),
         |codes AS (SELECT id, list(code ORDER BY s) AS codes FROM enc GROUP BY id),
         |lut0 AS (SELECT q.vec_id AS query_id, c.s, c.code, $qdot AS d
         |  FROM embeddings q, cbt c WHERE q.vec_id % 50 = 0),
         |lut AS (SELECT query_id, list(d ORDER BY s, code) AS lut
         |  FROM lut0 GROUP BY query_id),
         |scored AS (SELECT l.query_id, cd.id AS neighbor_id, $fold AS approx
         |  FROM codes cd, lut l WHERE cd.id <> l.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rank,
         |  approx FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(approx*10000)/10000 AS approx_score FROM ranked
         |WHERE rank <= 10""".stripMargin
    },

    // IVF-PQ: the ann_pq_topk machinery with scoring restricted to each
    // query's nprobe=8 nearest of the 64 ann_ivf_topk cells.
    "ann_ivfpq_topk" -> {
      val l2 = s"(${subDotSql("e.embedding", "(c.s*8)", "e.embedding", "(c.s*8)")})" +
        s" - 2.0*(${subDotSql("e.embedding", "(c.s*8)", "c.cv", "(c.s*8)")})" +
        s" + (${subDotSql("c.cv", "(c.s*8)", "c.cv", "(c.s*8)")})"
      val qdot = subDotSql("q.embedding", "(c.s*8)", "c.cv", "(c.s*8)")
      val fold = (0 until 8)
        .map(s => s"l.lut[${s * 16} + cd.codes[${s + 1}] + 1]").mkString(" + ")
      s"""WITH cents AS (SELECT centroid_id, cv FROM (
         |  SELECT vec_id AS centroid_id, embedding AS cv,
         |    ${hash60Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings ORDER BY h, centroid_id LIMIT 64) tc),
         |vecs AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |assign AS (SELECT id, centroid_id FROM (
         |  SELECT v.id, c.centroid_id, row_number() OVER (
         |    PARTITION BY v.id ORDER BY ${cosSql("v.v", "c.cv")} DESC,
         |    c.centroid_id) AS crank FROM vecs v, cents c) t WHERE crank = 1),
         |cb0 AS (SELECT vec_id AS cid, embedding AS cv,
         |  ${hash60Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings ORDER BY h, cid LIMIT 16),
         |cb1 AS (SELECT cv, row_number() OVER (ORDER BY h, cid) - 1 AS code FROM cb0),
         |cb AS (SELECT t.s, cb1.code, cb1.cv FROM cb1, range(0, 8) t(s)),
         |enc0 AS (SELECT e.vec_id AS id, c.s, c.code, $l2 AS l2
         |  FROM embeddings e, cb c),
         |enc AS (SELECT id, s, code FROM (SELECT id, s, code,
         |  row_number() OVER (PARTITION BY id, s ORDER BY l2, code) AS rk
         |  FROM enc0) t WHERE rk = 1),
         |codes AS (SELECT id, list(code ORDER BY s) AS codes FROM enc GROUP BY id),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |probes AS (SELECT query_id, centroid_id FROM (
         |  SELECT q.query_id, c.centroid_id, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC,
         |    c.centroid_id) AS prank FROM q, cents c) t WHERE prank <= 8),
         |lut0 AS (SELECT q.vec_id AS query_id, c.s, c.code, $qdot AS d
         |  FROM embeddings q, cb c WHERE q.vec_id % 50 = 0),
         |lut AS (SELECT query_id, list(d ORDER BY s, code) AS lut
         |  FROM lut0 GROUP BY query_id),
         |scored AS (SELECT p.query_id, cd.id AS neighbor_id, $fold AS approx
         |  FROM codes cd JOIN assign a ON cd.id = a.id
         |  JOIN probes p ON a.centroid_id = p.centroid_id
         |  JOIN lut l ON l.query_id = p.query_id
         |  WHERE cd.id <> p.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rank,
         |  approx FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(approx*10000)/10000 AS approx_score FROM ranked
         |WHERE rank <= 10""".stripMargin
    },

    "doc_counts_cube" ->
      """SELECT lang, source, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,

    "daily_counts_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |FROM events GROUP BY ROLLUP (event_type, CAST(ts AS DATE))""".stripMargin,

    // Mirrors Profile.psi exactly: proportions floored at 1e-6, terms
    // summed as DECIMAL, totals as scalar subqueries (the Spark side
    // inlines them as driver literals — same values, same IEEE ops).
    "drift_psi" ->
      """WITH clean AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |aft AS (SELECT * FROM clean WHERE value <= 50),
        |cb1 AS (SELECT event_type AS bin, count(*) AS nb FROM clean
        |  WHERE event_type IS NOT NULL GROUP BY 1),
        |ca1 AS (SELECT event_type AS bin, count(*) AS na FROM aft
        |  WHERE event_type IS NOT NULL GROUP BY 1),
        |t1 AS (SELECT (SELECT sum(nb) FROM cb1)::DOUBLE AS tb,
        |  (SELECT sum(na) FROM ca1)::DOUBLE AS ta),
        |p1 AS (SELECT greatest(COALESCE(na, 0)/ta, 1e-6) AS pa,
        |  greatest(COALESCE(nb, 0)/tb, 1e-6) AS pb
        |  FROM cb1 FULL OUTER JOIN ca1 ON cb1.bin = ca1.bin, t1),
        |r1 AS (SELECT 'event_type' AS col_name, count(*)::BIGINT AS n_bins,
        |  floor(sum(CAST((pa-pb)*ln(pa/pb) AS DECIMAL(38,12)))::DOUBLE
        |    *10000)/10000 AS psi FROM p1),
        |cb2 AS (SELECT CAST(floor(value/10) AS BIGINT) AS bin, count(*) AS nb
        |  FROM clean GROUP BY 1),
        |ca2 AS (SELECT CAST(floor(value/10) AS BIGINT) AS bin, count(*) AS na
        |  FROM aft GROUP BY 1),
        |t2 AS (SELECT (SELECT sum(nb) FROM cb2)::DOUBLE AS tb,
        |  (SELECT sum(na) FROM ca2)::DOUBLE AS ta),
        |p2 AS (SELECT greatest(COALESCE(na, 0)/ta, 1e-6) AS pa,
        |  greatest(COALESCE(nb, 0)/tb, 1e-6) AS pb
        |  FROM cb2 FULL OUTER JOIN ca2 ON cb2.bin = ca2.bin, t2),
        |r2 AS (SELECT 'value_bin10' AS col_name, count(*)::BIGINT AS n_bins,
        |  floor(sum(CAST((pa-pb)*ln(pa/pb) AS DECIMAL(38,12)))::DOUBLE
        |    *10000)/10000 AS psi FROM p2)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin,

    "value_histogram" ->
      """SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin,
        |count(*) AS n, min(value) AS bin_min, max(value) AS bin_max
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY event_type, CAST(floor(value / 10) AS BIGINT)""".stripMargin,

    // Spark's pivot count yields NULL for absent cells; count(*) FILTER
    // yields 0 — coalesce is not needed here because every (day, type)
    // cell is populated in the testdata, but the CASE keeps parity
    // explicit if that changes.
    "daily_counts_pivot" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |count(*) FILTER (WHERE event_type = 'click') AS click,
        |count(*) FILTER (WHERE event_type = 'view') AS view,
        |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin,

    // nrm = 0 passthrough mirrors VectorKernels.l2normalize's zero-vector
    // guard (otherwise 0/0 = NaN breaks the compare on an all-zero row)
    "embedding_l2_normalize" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)
         |SELECT vec_id, i - 1 AS dim,
         |CASE WHEN nrm = 0 THEN (embedding[i::INT]::FLOAT)::DOUBLE
         |  ELSE ((embedding[i::INT]::DOUBLE / nrm)::FLOAT)::DOUBLE END AS xn
         |FROM e, unnest(range(1, ${SimilaritySearch.Dim} + 1)) AS u(i)""".stripMargin,

    // percent_rank replayed explicitly ((rn-1)/(n-1), 0 for n=1) so the
    // single-row-group convention is pinned rather than engine-defined;
    // ORDER BY (q_ppm, doc_id) is tie-free, so rank == row_number.
    "doc_quality_percentile" ->
      """WITH t AS (SELECT doc_id, lang,
        |  least(length(text)/500.0, 1.0) AS len_score,
        |  len(regexp_extract_all(text, '[[:punct:]]'))
        |    / CAST(greatest(length(text),1) AS DOUBLE) AS punct_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b'))
        |    / CAST(greatest(CASE WHEN length(trim(text))=0 THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS DOUBLE)
        |    AS stopword_ratio
        |  FROM documents),
        |q AS (SELECT doc_id, lang,
        |  CAST(floor((0.4*len_score + 0.3*least(stopword_ratio*5.0,1.0)
        |    + 0.3*(1.0-least(punct_ratio*10.0,1.0)))*10000) AS BIGINT) AS q_ppm
        |  FROM t),
        |r AS (SELECT doc_id, lang, q_ppm,
        |  row_number() OVER (PARTITION BY lang ORDER BY q_ppm, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM q)
        |SELECT doc_id, lang, q_ppm, rn::BIGINT AS rank,
        |CASE WHEN n = 1 THEN 0.0
        |ELSE floor((rn-1)::DOUBLE/(n-1)::DOUBLE*10000)/10000 END AS pct
        |FROM r""".stripMargin,

    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |  CAST(list_max(embedding) AS DOUBLE) AS vmax FROM embeddings)
        |SELECT vec_id, i - 1 AS dim,
        |CAST(least(floor((embedding[i::INT]::DOUBLE - vmin)
        |  / greatest(vmax - vmin, 1e-12) * 256.0), 255.0) AS BIGINT) AS q
        |FROM e, unnest(range(1, len(embedding)+1)) AS u(i)""".stripMargin,

    "value_winsorized" ->
      """WITH clean AS (SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |  quantile_cont(value, 0.95) AS hi FROM clean GROUP BY event_type)
        |SELECT event_id, clean.event_type,
        |  floor(least(greatest(value, lo), hi)*10000)/10000 AS value_w
        |FROM clean JOIN b ON clean.event_type = b.event_type""".stripMargin,

    "table_profile" ->
      profileSql("documents", Seq("doc_id", "text", "lang", "source", "n_chars")),

    "profile_drift" ->
      s"""WITH pa AS (${profileSql("documents",
             Seq("doc_id", "text", "lang", "source", "n_chars"))}),
         |pb AS (${profileSql("(SELECT * FROM documents WHERE lang = 'en')",
             Seq("doc_id", "text", "lang", "n_chars"))})
         |SELECT COALESCE(pa.col_name, pb.col_name) AS col_name,
         |  CASE WHEN pa.col_name IS NULL THEN 'added'
         |    WHEN pb.col_name IS NULL THEN 'dropped'
         |    ELSE 'common' END AS status,
         |  pa.n_non_null AS n_non_null_before, pb.n_non_null AS n_non_null_after,
         |  pa.n_nulls AS n_nulls_before, pb.n_nulls AS n_nulls_after,
         |  pa.n_distinct AS n_distinct_before, pb.n_distinct AS n_distinct_after,
         |  (pa.min_value IS NOT DISTINCT FROM pb.min_value AND
         |   pa.max_value IS NOT DISTINCT FROM pb.max_value) AS bounds_unchanged
         |FROM pa FULL OUTER JOIN pb ON pa.col_name = pb.col_name""".stripMargin,

    "retention_cohorts" ->
      """WITH src AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |act AS (SELECT DISTINCT user_id AS k,
        |  date_trunc('week', ts)::DATE AS w FROM src),
        |fw AS (SELECT k, min(w) AS cohort_week FROM act GROUP BY k)
        |SELECT fw.cohort_week,
        |  (datediff('day', fw.cohort_week, act.w) // 7)::BIGINT AS week_offset,
        |  count(*)::BIGINT AS n_active
        |FROM act JOIN fw ON act.k = fw.k
        |GROUP BY 1, 2""".stripMargin,

    "doc_unigram_logprob" ->
      """WITH toks0 AS (SELECT doc_id AS id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |toks AS (SELECT * FROM toks0 WHERE tok <> ''),
        |freq AS (SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*)::BIGINT AS n_total FROM toks)
        |SELECT id AS doc_id, count(*)::BIGINT AS n_toks,
        |  floor((sum(CAST(ln(cnt::DOUBLE / n_total::DOUBLE) AS DECIMAL(38,12)))::DOUBLE
        |    / count(*)) * 10000) / 10000 AS avg_logprob_t
        |FROM toks JOIN freq USING (tok), tot
        |GROUP BY id""".stripMargin,

    "doc_bigram_logprob" ->
      """WITH tk AS (SELECT doc_id AS id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |t AS (SELECT id, u.pos, u.tok FROM (SELECT id,
        |  unnest(list_transform(range(1, len(toks) + 1),
        |    p -> struct_pack(pos := p - 1, tok := toks[p]))) AS u FROM tk)),
        |clean AS (SELECT tok FROM t WHERE tok <> ''),
        |uni AS (SELECT tok, count(*)::BIGINT AS c1 FROM clean GROUP BY tok),
        |tot AS (SELECT count(*)::BIGINT AS n_total FROM clean),
        |bg AS (SELECT a.id, a.tok AS l, b.tok AS r FROM t a
        |  JOIN t b ON a.id = b.id AND b.pos = a.pos + 1),
        |bi AS (SELECT l, r, count(*)::BIGINT AS c2 FROM bg GROUP BY l, r)
        |SELECT id AS doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor((sum(CAST(ln(0.75 * (c2::DOUBLE / ul.c1::DOUBLE)
        |    + 0.25 * (ur.c1::DOUBLE / n_total::DOUBLE)) AS DECIMAL(38,12)))::DOUBLE
        |    / count(*)) * 10000) / 10000 AS avg_logprob_b
        |FROM bg JOIN bi USING (l, r)
        |  JOIN uni ul ON bg.l = ul.tok
        |  JOIN uni ur ON bg.r = ur.tok, tot
        |GROUP BY id""".stripMargin,

    "doc_hashed_features" ->
      s"""SELECT doc_id, ${hash60Sql("tok")} % 256 AS bucket,
         |  count(*)::BIGINT AS n FROM (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents) u
         |WHERE tok <> ''
         |GROUP BY doc_id, bucket""".stripMargin,

    "dsir_log_weights" ->
      s"""WITH $dsirWeightsSql
         |SELECT doc_id, n_toks, log_weight FROM w""".stripMargin,

    "dsir_selected" ->
      s"""WITH $dsirWeightsSql
         |SELECT doc_id, log_weight FROM w
         |ORDER BY log_weight DESC, doc_id LIMIT 100""".stripMargin,

    "bpe_pair_counts" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |p AS (SELECT doc_id, list_transform(range(1, len(toks)),
        |  i -> struct_pack(l := toks[i], r := toks[i+1])) AS prs FROM tok),
        |u AS (SELECT u.l AS left_tok, u.r AS right_tok
        |  FROM (SELECT unnest(prs) AS u FROM p))
        |SELECT left_tok, right_tok, count(*)::BIGINT AS n FROM u
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    "token_pmi_pairs" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |clean AS (SELECT tok FROM (SELECT unnest(toks) AS tok FROM tok)
        |  WHERE tok <> ''),
        |uni AS (SELECT tok, count(*)::BIGINT AS c1 FROM clean GROUP BY tok),
        |p AS (SELECT doc_id, list_transform(range(1, len(toks)),
        |  i -> struct_pack(l := toks[i], r := toks[i+1])) AS prs FROM tok),
        |pp AS (SELECT u.l AS l, u.r AS r
        |  FROM (SELECT unnest(prs) AS u FROM p)),
        |tot AS (SELECT (SELECT count(*) FROM clean) AS u_tot,
        |  (SELECT count(*) FROM pp) AS b_tot),
        |g AS (SELECT l, r, count(*)::BIGINT AS n FROM pp
        |  GROUP BY l, r HAVING count(*) >= 5)
        |SELECT g.l AS left_tok, g.r AS right_tok, g.n,
        |  ul.c1 AS c1l, ur.c1 AS c1r,
        |  floor(((((ln(g.n::DOUBLE) - ln(t.b_tot::DOUBLE))
        |    - ln(ul.c1::DOUBLE)) - ln(ur.c1::DOUBLE))
        |    + 2.0 * ln(t.u_tot::DOUBLE)) * 10000) / 10000 AS pmi_t
        |FROM g JOIN uni ul ON g.l = ul.tok
        |JOIN uni ur ON g.r = ur.tok, tot t""".stripMargin,

    "perceptron_weights" -> {
      val unions = (1 to 4).map(e =>
        s"SELECT ${e}::BIGINT AS epoch, bucket, w AS weight, (SELECT m FROM m$e) AS mistakes FROM w$e")
        .mkString("\nUNION ALL\n")
      s"""WITH ${perceptronSql(4, 64)}
         |$unions""".stripMargin
    },

    "perceptron_scored" ->
      s"""WITH ${perceptronSql(4, 64)}
         |SELECT l.id AS doc_id, coalesce(sum(f.n * w.w), 0)::BIGINT AS score,
         |  CASE WHEN coalesce(sum(f.n * w.w), 0) > 0
         |    THEN 1::BIGINT ELSE -1::BIGINT END AS pred
         |FROM lab l LEFT JOIN f ON l.id = f.id
         |LEFT JOIN w4 w ON f.bucket = w.bucket
         |GROUP BY l.id""".stripMargin,

    "search_bm25_topk" ->
      """WITH q AS (SELECT doc_id AS qid, array_to_string(
        |  (string_split_regex(trim(text), '\s+'))[1:4], ' ') AS qtext
        |  FROM documents WHERE doc_id % 400 = 0),
        |qt AS (SELECT DISTINCT qid, tok AS term FROM (SELECT qid,
        |  unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS tok FROM q)
        |  WHERE tok <> ''),
        |vocab AS (SELECT DISTINCT term FROM qt),
        |dtok AS (SELECT doc_id AS id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs,
        |  sum(len(toks))::DOUBLE AS sum_dl FROM dtok),
        |dd AS (SELECT id, len(toks)::DOUBLE AS dl, unnest(toks) AS term
        |  FROM dtok),
        |tf AS (SELECT id, dl, term, count(*)::DOUBLE AS tf
        |  FROM dd JOIN vocab USING (term) GROUP BY id, dl, term),
        |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |con AS (SELECT tf.id, tf.term,
        |  ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |    * (tf.tf * (1.2 + 1.0))
        |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
        |        / (s.sum_dl / s.n_docs))) AS contrib
        |  FROM tf JOIN df USING (term), stats s),
        |agg AS (SELECT qt.qid, con.id,
        |  sum(CAST(con.contrib AS DECIMAL(38,12))) AS s,
        |  count(*)::BIGINT AS matched_terms
        |  FROM qt JOIN con USING (term) GROUP BY qt.qid, con.id),
        |rk AS (SELECT qid, id, s, matched_terms, row_number() OVER (
        |  PARTITION BY qid ORDER BY s DESC, id) AS rank FROM agg)
        |SELECT qid AS query_id, rank::BIGINT AS rank, id AS doc_id,
        |  matched_terms, floor(s::DOUBLE * 10000) / 10000 AS score_t
        |FROM rk WHERE rank <= 10""".stripMargin,

    "source_capped_docs" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) t WHERE rk <= 200""".stripMargin,

    "bpe_merge_sequence" -> {
      val unions = (0 until 6).map(s =>
        s"SELECT ${s + 1}::BIGINT AS step, l AS left_tok, r AS right_tok, n FROM top$s")
        .mkString("\nUNION ALL\n")
      s"""WITH ${bpeMergeSql(6)}
         |$unions""".stripMargin
    },

    // encode == the trainer's internal stream after round 4: t4 is the
    // final token CTE of the unrolled trainer replay
    "bpe_encode_tokens" ->
      s"""WITH ${bpeMergeSql(3)}
         |SELECT id AS doc_id, pos::BIGINT AS pos, tok AS token FROM t3""".stripMargin,

    // train on the even half (unrolled trainer CTEs), encode the odd
    // half merge-by-merge under the learned top$s tables — the
    // persisted-artifact round-trip replayed end to end
    "bpe_persisted_encode" ->
      s"""WITH ${bpeMergeSql(4,
             "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
         |${bpeEncodeSql(4,
             "(SELECT * FROM documents WHERE doc_id % 2 = 1)")}
         |SELECT id AS doc_id, pos::BIGINT AS pos, tok AS token FROM e4""".stripMargin,

    // Integer-exact replay of the HDR binning + rank arithmetic
    // (explicit floor before ::BIGINT — DuckDB's cast rounds).
    "value_hdr_quantiles" -> hdrQuantilesSql,

    // IDENTICAL one-shot oracle for the 3-batch fold: the HDR fold is
    // exact, so the folded Spark answer must hash-match the one-shot
    // replay — the cross-engine row IS the fold==one-shot proof.
    "incremental_quantiles_final" -> hdrQuantilesSql,

    "value_equidepth_bins" ->
      """WITH base AS (SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT event_type, value, ntile(10) OVER (
        |  PARTITION BY event_type ORDER BY value, event_id) AS bin FROM base)
        |SELECT event_type, bin::BIGINT AS bin, count(*)::BIGINT AS n,
        |  min(value) AS bin_min, max(value) AS bin_max
        |FROM b GROUP BY event_type, bin""".stripMargin,

    "value_outliers_mad" ->
      """WITH base AS (SELECT event_type AS grp, event_id AS id,
        |  value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |r1 AS (SELECT grp, id, v,
        |  row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn,
        |  count(*) OVER (PARTITION BY grp) AS n FROM base),
        |med AS (SELECT grp, v AS med FROM r1 WHERE rn = (n + 1) // 2),
        |dv AS (SELECT b.grp, b.id, b.v, m.med, abs(b.v - m.med) AS dev
        |  FROM base b JOIN med m ON b.grp = m.grp),
        |r2 AS (SELECT grp, id, dev,
        |  row_number() OVER (PARTITION BY grp ORDER BY dev, id) AS rn,
        |  count(*) OVER (PARTITION BY grp) AS n FROM dv),
        |mad AS (SELECT grp, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.grp AS event_type, d.id AS event_id, d.v AS value,
        |  d.med AS med, m.mad AS mad, d.dev AS dev
        |FROM dv d JOIN mad m ON d.grp = m.grp
        |WHERE d.dev > 3 * m.mad""".stripMargin,

    "feature_correlations" ->
      """WITH a AS (SELECT l_returnflag AS grp,
        |  corr(l_quantity, l_extendedprice) AS c0,
        |  corr(l_extendedprice, l_discount) AS c1,
        |  corr(l_quantity, l_discount) AS c2,
        |  corr(l_discount, l_tax) AS c3
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT grp AS l_returnflag, col_x, col_y,
        |  floor(c * 10000) / 10000 AS corr_t FROM (
        |  SELECT grp, 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |    c0 AS c FROM a
        |  UNION ALL SELECT grp, 'l_extendedprice', 'l_discount', c1 FROM a
        |  UNION ALL SELECT grp, 'l_quantity', 'l_discount', c2 FROM a
        |  UNION ALL SELECT grp, 'l_discount', 'l_tax', c3 FROM a) t""".stripMargin,

    "dedup_aligned_spans" ->
      s"""WITH $alignedSpansSql
         |SELECT id_a, id_b, span_tokens, n_aligned FROM spans""".stripMargin,

    // Positioned runs -> per-victim longest span (span desc, start asc,
    // partner asc) -> token-slice excision; untouched docs pass through
    // as their ORIGINAL text (not a token rejoin).
    "dedup_span_pruned" ->
      s"""WITH $alignedRRSql,
         |pruns AS (SELECT id_a, id_b, min(pa) - diff AS start_b,
         |  (count(*) + 2)::BIGINT AS span_tokens
         |  FROM rr GROUP BY id_a, id_b, diff, island
         |  HAVING count(*) + 2 >= 10),
         |pick AS (SELECT id_b AS doc_id, span_tokens, start_b FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_b
         |    ORDER BY span_tokens DESC, start_b, id_a) AS rn FROM pruns) t
         |  WHERE rn = 1)
         |SELECT d.doc_id,
         |COALESCE(p.span_tokens, 0)::BIGINT AS removed_tokens,
         |CASE WHEN p.doc_id IS NULL THEN d.text
         |-- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
         |-- array_join([]) is '' — a fully-excised doc must compare ''
         |ELSE COALESCE(array_to_string(list_concat(t.toks[1:(p.start_b)::INT],
         |  t.toks[(p.start_b + p.span_tokens + 1)::INT:len(t.toks)]), ' '), '')
         |END AS text_pruned
         |FROM documents d
         |JOIN tokp t ON d.doc_id = t.doc_id
         |LEFT JOIN pick p ON d.doc_id = p.doc_id""".stripMargin,

    // spans -> connected components -> surviving docs (the consumable
    // end of substring dedup, same reach-CTE closure as dedup_clusters)
    "dedup_aligned_kept" ->
      s"""WITH RECURSIVE $alignedSpansSql,
         |e AS (SELECT id_a AS src, id_b AS dst FROM spans
         |  UNION ALL SELECT id_b, id_a FROM spans),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    "knn_label_assign" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id, embedding, label FROM embeddings
         |  WHERE vec_id % 50 <> 0),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
         |  ${cosSql("q.qv", "c.embedding")} AS cosine FROM c, q),
         |ranked AS (SELECT query_id, neighbor_id, label, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored),
         |tally AS (SELECT query_id, label, count(*)::BIGINT AS votes,
         |  min(rank)::BIGINT AS best_rank
         |  FROM ranked WHERE rank <= 10 GROUP BY query_id, label)
         |SELECT query_id, label, votes, best_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, best_rank, label) AS rn FROM tally) t
         |WHERE rn = 1""".stripMargin,

    "fuzzy_name_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  levenshtein(a.c_name, b.c_name)::INT AS dist
        |FROM customer a, customer b
        |WHERE a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    "graph_pagerank" ->
      s"""WITH ${pagerankSql(3, graft.operators.PageRank.DefaultScale)}
         |SELECT node, rank FROM r3""".stripMargin,

    "graph_ppr_suppliers" ->
      s"""WITH ${pagerankSql(3, graft.operators.PageRank.DefaultScale,
             Some(c => s"$c LIKE 's%'"))}
         |SELECT node, rank FROM r3""".stripMargin,

    "graph_pagerank_weighted" ->
      s"""WITH ${pagerankSql(3, graft.operators.PageRank.DefaultScale,
             None, weighted = true)}
         |SELECT node, rank FROM r3""".stripMargin,

    // The FULL-BUDGET (8-round) unrolled replay over the per-nation
    // customer cycles: stop-at-fixpoint == run-all-rounds exactly, so
    // the early-stopped Spark result must hash-match round 8; the
    // detector's verdict columns are pinned TRUE.
    "graph_pagerank_converged" ->
      s"""WITH ${pagerankSql(8, graft.operators.PageRank.DefaultScale,
             ebaseOverride = Some(
               "k AS a, nx AS b FROM (SELECT c_custkey AS k, " +
                 "COALESCE(lead(c_custkey) OVER (PARTITION BY c_nationkey " +
                 "ORDER BY c_custkey), min(c_custkey) OVER " +
                 "(PARTITION BY c_nationkey)) AS nx FROM customer)"))}
         |SELECT node, rank, TRUE AS converged, TRUE AS rounds_lt_budget
         |FROM r8""".stripMargin,

    // structural oracle: in the bipartite membership graph each
    // component is one customer with its orders, and the 'c' node is
    // the bytewise minimum ('c' < 'o')
    "graph_components" ->
      """SELECT 'o' || o_orderkey::VARCHAR AS node,
        |  'c' || o_custkey::VARCHAR AS component FROM orders
        |UNION ALL
        |SELECT DISTINCT 'c' || o_custkey::VARCHAR AS node,
        |  'c' || o_custkey::VARCHAR AS component FROM orders""".stripMargin,

    // structural oracle: a customer's chain connects ALL their orders,
    // so component = min orderkey per customer; single-order customers
    // have no edges and are absent
    "graph_components_star" ->
      """WITH c AS (SELECT o_custkey, count(*) AS n,
        |  min(o_orderkey) AS mn FROM orders GROUP BY o_custkey)
        |SELECT o.o_orderkey AS node, c.mn AS component
        |FROM orders o JOIN c ON o.o_custkey = c.o_custkey
        |WHERE c.n >= 2""".stripMargin,

    "table_topk_values" ->
      Seq("lang", "source").map { c =>
        s"""SELECT col_name, value, n, rank FROM (
           |  SELECT '$c' AS col_name, $c AS value, count(*)::BIGINT AS n,
           |    row_number() OVER (ORDER BY count(*) DESC, $c) AS rank
           |  FROM documents WHERE $c IS NOT NULL GROUP BY $c) t
           |WHERE rank <= 3""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "user_funnel" ->
      s"""WITH $funnelChainSql
         |SELECT user_id, t1, t2, t3,
         |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
         |   ELSE 1 END)::BIGINT AS depth
         |FROM s3""".stripMargin,

    "funnel_conversion" ->
      s"""WITH $funnelChainSql,
         |f AS (SELECT (CASE WHEN t3 IS NOT NULL THEN 3
         |  WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS depth FROM s3),
         |h AS (SELECT depth, count(*)::BIGINT AS n FROM f GROUP BY depth)
         |SELECT step, sum(n)::BIGINT AS n_entities FROM (
         |  SELECT unnest(range(1, depth + 1))::BIGINT AS step, n FROM h) t
         |GROUP BY step""".stripMargin,

    "events_zorder_key" -> {
      // the Morton interleave unrolled: bit j of x at 2j, of y at 2j+1
      val zv = (0 until 16).map(j =>
        s"(((x >> $j) & 1) << ${2 * j}) | (((y >> $j) & 1) << ${2 * j + 1})")
        .mkString("(", " | ", ")")
      s"""SELECT event_id, x, y, $zv AS zv FROM (
         |  SELECT event_id, user_id & 4095 AS x,
         |    CAST(floor(value * 10) AS BIGINT) & 4095 AS y
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)) t""".stripMargin
    },

    "semantic_clusters" ->
      s"""WITH ${kmeansSql(8, 3, Cluster.DefaultScale)}
         |SELECT vec_id, cluster, dist FROM b3""".stripMargin,

    "semantic_assign_new" ->
      s"""WITH ${kmeansSql(8, 3, Cluster.DefaultScale)},
         |q2 AS (SELECT vec_id + 100000 AS vec_id,
         |  list_transform(embedding,
         |    x -> floor(x::DOUBLE * ${Cluster.DefaultScale})::BIGINT) AS qv
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |l2 AS (SELECT vec_id, d.d AS dim, qv[d.d+1] AS v
         |  FROM q2, range(0, ${SimilaritySearch.Dim}) d(d)),
         |an AS (SELECT l.vec_id, c.cluster,
         |  sum((l.v - c.val)*(l.v - c.val))::BIGINT AS dist
         |  FROM l2 l JOIN c2 c ON l.dim = c.dim
         |  GROUP BY l.vec_id, c.cluster)
         |SELECT vec_id, cluster, dist FROM (SELECT vec_id, cluster, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
         |  FROM an) WHERE rn = 1""".stripMargin,

    "embedding_mean_pool" ->
      s"""WITH q AS (SELECT vec_id % 50 AS group_id,
         |  list_transform(embedding,
         |    x -> floor(x::DOUBLE * ${Cluster.DefaultScale})::BIGINT) AS qv
         |  FROM embeddings),
         |l AS (SELECT group_id, d.d AS dim, qv[d.d+1] AS q
         |  FROM q, range(0, ${SimilaritySearch.Dim}) d(d))
         |SELECT group_id, dim, floor(sum(q)::DOUBLE / count(*))::BIGINT AS qmean
         |FROM l GROUP BY group_id, dim""".stripMargin,

    "semantic_diverse_sample" ->
      s"""WITH ${kmeansSql(8, 3, Cluster.DefaultScale)}
         |SELECT cluster, vec_id, rank FROM (SELECT cluster, vec_id,
         |  row_number() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS rank
         |  FROM b3) WHERE rank <= 5""".stripMargin,

    "semantic_prototype_pruned" ->
      s"""WITH ${kmeansSql(8, 3, Cluster.DefaultScale)}
         |SELECT cluster, vec_id, rank, csize FROM (SELECT cluster, vec_id,
         |  row_number() OVER (PARTITION BY cluster ORDER BY dist DESC, vec_id) AS rank,
         |  count(*) OVER (PARTITION BY cluster) AS csize
         |  FROM b3) WHERE rank <= ceil(0.25 * csize)""".stripMargin,

    "semantic_dedup_pairs" ->
      s"""WITH $embCorpusSql,
         |${kmeansSql(8, 3, Cluster.DefaultScale, src = "corpus")},
         |sides AS (SELECT c.vec_id AS id, c.embedding, b.cluster, b.dist
         |  FROM corpus c JOIN b3 b ON c.vec_id = b.vec_id),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |  a.cluster::BIGINT AS cluster, a.dist AS dist_a, b.dist AS dist_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM sides a JOIN sides b
         |  ON a.cluster = b.cluster AND a.id < b.id)
         |SELECT id_a, id_b, cluster, dist_a, dist_b,
         |  floor(cosine*10000)/10000 AS cosine
         |FROM pr WHERE cosine >= 0.9""".stripMargin,

    "semantic_dedup_kept" ->
      s"""WITH $embCorpusSql,
         |${kmeansSql(8, 3, Cluster.DefaultScale, src = "corpus")},
         |sides AS (SELECT c.vec_id AS id, c.embedding, b.cluster, b.dist
         |  FROM corpus c JOIN b3 b ON c.vec_id = b.vec_id),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM sides a JOIN sides b
         |  ON a.cluster = b.cluster AND a.id < b.id)
         |SELECT vec_id FROM corpus WHERE vec_id NOT IN (
         |  SELECT DISTINCT id_b FROM pr WHERE cosine >= 0.9)""".stripMargin,

    "semantic_dedup_far_kept" ->
      s"""WITH $embCorpusSql,
         |${kmeansSql(8, 3, Cluster.DefaultScale, src = "corpus")},
         |sides AS (SELECT c.vec_id AS id, c.embedding, b.cluster, b.dist
         |  FROM corpus c JOIN b3 b ON c.vec_id = b.vec_id),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |  a.dist AS dist_a, b.dist AS dist_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |  FROM sides a JOIN sides b
         |  ON a.cluster = b.cluster AND a.id < b.id)
         |SELECT vec_id FROM corpus WHERE vec_id NOT IN (
         |  SELECT DISTINCT CASE WHEN (dist_a, id_a) < (dist_b, id_b)
         |    THEN id_a ELSE id_b END
         |  FROM pr WHERE cosine >= 0.9)""".stripMargin,

    "mixture_temperature_sample" ->
      s"""WITH cnt AS (SELECT lang, count(*)::BIGINT AS n
         |  FROM documents GROUP BY lang),
         |r AS (SELECT lang, least(1000000,
         |  floor(2000000 / sqrt(n::DOUBLE))::BIGINT) AS keep_ppm FROM cnt)
         |SELECT d.doc_id, d.lang, r.keep_ppm
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${hash60Sql("d.text")} % 1000000 < r.keep_ppm""".stripMargin,

    "doc_sample_fixed_k" ->
      s"""SELECT doc_id, lang, rank FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${hash60Sql("text")}, doc_id) AS rank
         |  FROM documents) t
         |WHERE rank <= 20""".stripMargin,

    "doc_sample_stratified" ->
      s"""SELECT doc_id, lang, bucket FROM (
         |SELECT doc_id, lang, ${hash60Sql("text")} % 100 AS bucket
         |FROM documents) t
         |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 30 END""".stripMargin,

    // E-S replay: same u, same ln(u)/w key, same (key DESC, id) rank.
    "corpus_weighted_sample_k" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  (CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT
         |    AS ws_tokens FROM documents),
         |keyed AS (SELECT doc_id, lang, ws_tokens,
         |  ln((${hash60Sql("doc_id::VARCHAR")} + 1) / 1152921504606846976.0)
         |    / ws_tokens AS key
         |  FROM t WHERE ws_tokens > 0),
         |r AS (SELECT doc_id, lang, ws_tokens, row_number() OVER (
         |  PARTITION BY lang ORDER BY key DESC, doc_id) AS rn FROM keyed)
         |SELECT doc_id, lang, ws_tokens FROM r WHERE rn <= 20""".stripMargin,

    // DSIR with bigram features: same CTE chain, gram relation extended
    // by the token-array zip — the oracle twin of bigrams = true.
    "dsir_log_weights_bigrams" ->
      s"""WITH $dsirBigramWeightsSql
         |SELECT doc_id, n_toks, log_weight FROM w""".stripMargin,

    // Gumbel-top-k importance resampling: select on the RAW key (Spark
    // orders before flooring), project the floored key.
    "dsir_resampled" ->
      s"""WITH $dsirWeightsSql,
         |sel AS (SELECT doc_id, log_weight,
         |  log_weight + -ln(-ln((${hash60Sql("doc_id::VARCHAR")} + 1)
         |    / 1152921504606846976.0)) AS k0 FROM w),
         |top AS (SELECT doc_id, log_weight, k0 FROM sel
         |  ORDER BY k0 DESC, doc_id LIMIT 100)
         |SELECT doc_id, log_weight,
         |  floor(k0 * 10000)/10000 AS key FROM top""".stripMargin,

    "value_quantiles_by_type" ->
      """SELECT event_type,
        |floor(quantile_cont(value, 0.25)*10000)/10000 AS p25,
        |floor(quantile_cont(value, 0.5)*10000)/10000 AS p50,
        |floor(quantile_cont(value, 0.75)*10000)/10000 AS p75,
        |floor(quantile_cont(value, 0.95)*10000)/10000 AS p95
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY event_type""".stripMargin,

    "revenue_by_nation" ->
      """SELECT r_name, n_name,
        |CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |  AS DOUBLE) AS revenue,
        |count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "customers_with_urgent_orders" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH cents AS (SELECT centroid_id, cv FROM (
         |  SELECT vec_id AS centroid_id, embedding AS cv,
         |    ${hash60Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings ORDER BY h, centroid_id LIMIT 64) tc),
         |vecs AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |assign AS (SELECT id, v, centroid_id FROM (
         |  SELECT v.id, v.v, c.centroid_id, row_number() OVER (
         |    PARTITION BY v.id ORDER BY ${cosSql("v.v", "c.cv")} DESC,
         |    c.centroid_id) AS crank FROM vecs v, cents c) t WHERE crank = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0),
         |probes AS (SELECT query_id, qv, centroid_id FROM (
         |  SELECT q.query_id, q.qv, c.centroid_id, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC,
         |    c.centroid_id) AS prank FROM q, cents c) t WHERE prank <= 4),
         |scored AS (SELECT p.query_id, a.id AS neighbor_id,
         |  ${cosSql("p.qv", "a.v")} AS cosine
         |  FROM assign a JOIN probes p ON a.centroid_id = p.centroid_id
         |  WHERE a.id <> p.query_id),
         |ranked AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank,
         |  cosine FROM scored)
         |SELECT query_id, neighbor_id, rank,
         |floor(cosine*10000)/10000 AS cosine FROM ranked WHERE rank <= 10""".stripMargin,

    // Session semantics mirror: Spark session_window merges events up to
    // and INCLUDING last_ts + gap, so a new session needs gap STRICTLY
    // exceeded (verified in SessionizeMediaSpec).
    "sessionize_events" ->
      """WITH o AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |count(*) AS n_events, floor(sum(value)*10000)/10000 AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "topk_per_user" ->
      """SELECT user_id, event_id, value, rank FROM (
        |SELECT user_id, event_id, value, row_number() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        |FROM events) t WHERE rank <= 3""".stripMargin,

    // DuckDB's md5/substring lack BLOB overloads; the corpus is pure ASCII
    // (verified octet_length == length at sf0.01/0.1), so VARCHAR ops are
    // byte-equivalent to Spark's binary ops here.
    "media_metadata" ->
      """SELECT doc_id,
        |(['image','audio','video'])[(doc_id % 3 + 1)::INT] AS media_type,
        |octet_length(text::BLOB) AS n_bytes, md5(text) AS payload_md5
        |FROM documents""".stripMargin,

    "media_frames" ->
      """WITH m AS (SELECT doc_id,
        |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS media_type,
        |  text AS payload FROM documents)
        |SELECT doc_id, media_type, j AS frame_idx,
        |md5(substring(payload, (j*64+1)::INT, 16)) AS frame_md5
        |FROM m, range(0,4) t(j)
        |WHERE length(substring(payload, (j*64+1)::INT, 16)) > 0""".stripMargin,

    // Same ASCII text-as-payload convention as media_frames: every 4th
    // character via a list comprehension, md5'd.
    "media_resize_stride" ->
      """WITH m AS (SELECT doc_id,
        |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS media_type,
        |  text AS payload FROM documents),
        |r AS (SELECT doc_id, media_type,
        |  array_to_string(list_transform(
        |    range(0, greatest(ceil(length(payload)/4.0)::INT - 1, 0) + 1),
        |    i -> substring(payload, (i*4+1)::INT, 1)), '') AS resized
        |  FROM m)
        |SELECT doc_id, media_type, md5(resized) AS resized_md5,
        |length(resized)::BIGINT AS resized_bytes, 4::BIGINT AS stride
        |FROM r""".stripMargin,

    // The oracle states the EXPECTED dims from the construction formulas
    // (independent of the byte path); Spark must parse them back out of
    // real container headers to match.
    "media_image_dims" ->
      """SELECT doc_id,
        |CASE (doc_id % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |  ELSE 'gif' END AS img_format,
        |(CASE WHEN doc_id % 3 = 2 THEN doc_id % 37 + 400
        |  ELSE doc_id % 37 + 100 END)::INT AS img_width,
        |(doc_id % 23 + 50)::INT AS img_height
        |FROM documents""".stripMargin,

    // Expected audio metadata from the construction formulas; Spark must
    // walk the RIFF chunks (past the LIST chunk and its pad byte) to match.
    "media_wav_meta" ->
      """SELECT doc_id, 1::INT AS audio_format,
        |(doc_id % 2 + 1)::INT AS channels,
        |((doc_id % 5 + 1) * 8000)::INT AS sample_rate,
        |((doc_id % 3 + 1) * 8)::INT AS bits_per_sample
        |FROM documents""".stripMargin,

    // Identical RE2-safe extraction chain replayed over the same
    // constructed markup (script/style wholesale, comments, tag strip,
    // entity decode with &amp; last, explicit whitespace class).
    "doc_html_extract" ->
      """WITH hsrc AS (SELECT doc_id,
        |  '<html><head><style>p { color: #c00; }</style>' ||
        |  '<script type="text/javascript">if (x < 2 && y > 1) { alert("hi"); }' ||
        |  '</script></head><body><h1>Doc ' || doc_id ||
        |  '</h1><!-- crawl artifact --><p>' ||
        |  replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
        |  ' &amp; more &lt;raw&gt;&nbsp;tail</p></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
        |  FROM hsrc),
        |s2 AS (SELECT doc_id,
        |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
        |d AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s4)
        |SELECT doc_id,
        |trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g')) AS extracted
        |FROM d""".stripMargin,

    // Expected MP4 metadata from the construction formulas; Spark must
    // walk the box tree (past the free box, into moov's children, both
    // mvhd versions) to match.
    "media_mp4_meta" ->
      """SELECT doc_id, 'isom' AS mp4_brand,
        |((doc_id % 5 + 1) * 600)::INT AS mp4_timescale,
        |((doc_id % 97 + 10) * (doc_id % 5 + 1) * 600)::BIGINT AS mp4_duration,
        |(doc_id % 3 + 1)::INT AS mp4_tracks,
        |((doc_id % 97 + 10) * 1000)::BIGINT AS duration_ms
        |FROM documents""".stripMargin,

    // Construction-formula replay of the 9x8 strided thumbnail + dHash
    // gradient pack + aHash mean pack; bit sums ride HUGEINT then wrap
    // to two's-complement BIGINT (bit 63 overflows a signed sum). ASCII
    // corpus => ord(char) == payload byte, the documented convention.
    "media_phash" ->
      """WITH m AS (SELECT doc_id,
        |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS media_type,
        |  text, length(text)::BIGINT AS len FROM documents),
        |px AS (SELECT doc_id, u.k AS k,
        |  ord(substr(text, (((u.k * len) // 72) + 1)::INT, 1))::BIGINT AS v
        |  FROM m, unnest(range(0, 72)) AS u(k) WHERE len >= 72),
        |db AS (SELECT a.doc_id AS doc_id,
        |  sum(CASE WHEN b.v > a.v
        |    THEN (1::HUGEINT << ((a.k // 9) * 8 + (a.k % 9))::INT)
        |    ELSE 0::HUGEINT END) AS s
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 GROUP BY a.doc_id),
        |ab AS (SELECT doc_id, k, v, sum(v) OVER (PARTITION BY doc_id) AS asum
        |  FROM px WHERE k % 9 < 8),
        |ah AS (SELECT doc_id,
        |  sum(CASE WHEN 64 * v > asum
        |    THEN (1::HUGEINT << ((k // 9) * 8 + (k % 9))::INT)
        |    ELSE 0::HUGEINT END) AS s
        |  FROM ab GROUP BY doc_id)
        |SELECT m.doc_id, m.media_type,
        |  CASE WHEN db.s IS NULL THEN NULL
        |    WHEN db.s > 9223372036854775807
        |    THEN (db.s - 18446744073709551616::HUGEINT)::BIGINT
        |    ELSE db.s::BIGINT END AS phash_d,
        |  CASE WHEN ah.s IS NULL THEN NULL
        |    WHEN ah.s > 9223372036854775807
        |    THEN (ah.s - 18446744073709551616::HUGEINT)::BIGINT
        |    ELSE ah.s::BIGINT END AS phash_a
        |FROM m LEFT JOIN db ON m.doc_id = db.doc_id
        |LEFT JOIN ah ON m.doc_id = ah.doc_id""".stripMargin,

    // Same construction over the planted-union corpus, then ALL-PAIRS
    // bit_count(xor) <= 3 — the oracle may brute-force what the Spark
    // side must mine with the pigeonhole equi-join.
    "media_neardup_pairs" ->
      s"""WITH $phashCorpusSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.hd, b.hd))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hd, b.hd)) <= 3""".stripMargin,

    // Incremental = the same all-pairs replay restricted to pairs
    // involving a batch (planted) id.
    "media_phash_incremental" ->
      s"""WITH $phashCorpusSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.hd, b.hd))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hd, b.hd)) <= 3
        |AND (a.doc_id >= 10000000 OR b.doc_id >= 10000000)""".stripMargin,

    // The consumable: hamming <= 3 pairs -> reach closure -> keep each
    // component's min id (the dedup_corpus_kept oracle shape over
    // perceptual hashes).
    "media_neardup_kept" ->
      s"""WITH RECURSIVE $phashCorpusSql,
        |jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hd, b.hd)) <= 3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    // Energy-envelope fingerprint replay: per-byte frame assignment
    // (i*65)//len, HUGEINT-safe energy sums, exact cross-multiplied
    // slope comparison, bit pack with the two's-complement wrap.
    "media_audio_fp" ->
      """WITH m AS (SELECT doc_id, text, length(text)::BIGINT AS len
        |  FROM documents WHERE doc_id % 3 = 1),
        |b AS (SELECT doc_id, u.i AS i,
        |  ord(substr(text, (u.i + 1)::INT, 1))::BIGINT AS v, len
        |  FROM m, unnest(range(0, len)) AS u(i) WHERE len >= 65),
        |f AS (SELECT doc_id, (i * 65) // len AS k, sum(v) AS e,
        |  count(*) AS n FROM b GROUP BY 1, 2),
        |g AS (SELECT a.doc_id, CASE WHEN b.e * a.n > a.e * b.n
        |  THEN (1::HUGEINT << a.k::INT) ELSE 0::HUGEINT END AS bit
        |  FROM f a JOIN f b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  WHERE a.k < 64),
        |hh AS (SELECT doc_id, sum(bit) AS s FROM g GROUP BY 1)
        |SELECT m.doc_id,
        |CASE WHEN hh.s IS NULL THEN NULL
        |  WHEN hh.s > 9223372036854775807
        |  THEN (hh.s - 18446744073709551616::HUGEINT)::BIGINT
        |  ELSE hh.s::BIGINT END AS audio_fp
        |FROM m LEFT JOIN hh ON m.doc_id = hh.doc_id""".stripMargin,

    // Same fingerprint over the planted-union audio corpus, then
    // ALL-PAIRS bit_count(xor) <= 2 — the oracle may brute-force what
    // the Spark side mines with the pigeonhole equi-join.
    "media_audio_neardup_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 30000000 AS doc_id,
        |    substr(text, 1, (length(text) // 2)::INT) ||
        |    chr(65 + (doc_id % 26)::INT) ||
        |    substr(text, (length(text) // 2 + 2)::INT) AS text
        |  FROM documents WHERE doc_id % 60 = 1 AND length(text) >= 65),
        |m AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM corpus),
        |b AS (SELECT doc_id, u.i AS i,
        |  ord(substr(text, (u.i + 1)::INT, 1))::BIGINT AS v, len
        |  FROM m, unnest(range(0, len)) AS u(i) WHERE len >= 65),
        |f AS (SELECT doc_id, (i * 65) // len AS k, sum(v) AS e,
        |  count(*) AS n FROM b GROUP BY 1, 2),
        |g AS (SELECT a.doc_id, CASE WHEN b.e * a.n > a.e * b.n
        |  THEN (1::HUGEINT << a.k::INT) ELSE 0::HUGEINT END AS bit
        |  FROM f a JOIN f b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  WHERE a.k < 64),
        |fps AS (SELECT doc_id, CASE WHEN s > 9223372036854775807
        |  THEN (s - 18446744073709551616::HUGEINT)::BIGINT
        |  ELSE s::BIGINT END AS fp FROM (
        |  SELECT doc_id, sum(bit) AS s FROM g GROUP BY 1))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
        |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 2""".stripMargin,

    // Frame-set replay: 72-byte windows are SAMPLE-DENSE (px(k) =
    // frame[k] since (k*72)//72 = k), per-frame dHash, aligned
    // all-pairs hamming <= 2, >= 3 shared frames.
    "media_video_neardup_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 30000000 AS doc_id,
        |    substr(text, 1, 30) || chr(65 + (doc_id % 26)::INT) ||
        |    substr(text, 32, 63) || chr(65 + ((doc_id + 1) % 26)::INT) ||
        |    substr(text, 96, 63) || chr(65 + ((doc_id + 2) % 26)::INT) ||
        |    substr(text, 160, 63) || chr(65 + ((doc_id + 3) % 26)::INT) ||
        |    substr(text, 224) AS text
        |  FROM documents WHERE doc_id % 30 = 2 AND length(text) >= 264),
        |fr AS (SELECT doc_id, j.j AS frame_idx,
        |  substr(text, (j.j * 64 + 1)::INT, 72) AS f
        |  FROM corpus, unnest(range(0, 4)) AS j(j)),
        |fv AS (SELECT doc_id, frame_idx, f FROM fr WHERE length(f) >= 72),
        |px AS (SELECT doc_id, frame_idx, u.k AS k,
        |  ord(substr(f, (u.k + 1)::INT, 1))::BIGINT AS v
        |  FROM fv, unnest(range(0, 72)) AS u(k)),
        |db AS (SELECT a.doc_id, a.frame_idx,
        |  sum(CASE WHEN b.v > a.v
        |    THEN (1::HUGEINT << ((a.k // 9) * 8 + (a.k % 9))::INT)
        |    ELSE 0::HUGEINT END) AS s
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id
        |    AND b.frame_idx = a.frame_idx AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 GROUP BY 1, 2),
        |fh AS (SELECT doc_id, frame_idx,
        |  CASE WHEN s > 9223372036854775807
        |  THEN (s - 18446744073709551616::HUGEINT)::BIGINT
        |  ELSE s::BIGINT END AS hd FROM db)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |count(*)::BIGINT AS n_frames
        |FROM fh a JOIN fh b ON a.doc_id < b.doc_id
        |  AND a.frame_idx = b.frame_idx
        |WHERE bit_count(xor(a.hd, b.hd)) <= 2
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // Both modality edge lists replayed in full (dHash chain over the
    // img bytes; capped 3-gram Jaccard over captions), tagged.
    "multimodal_neardup_pairs" ->
      (s"""WITH $mmEdgesSql
        |SELECT id_a, id_b, 'image' AS modality FROM ie
        |UNION ALL
        |SELECT id_a, id_b, 'caption' AS modality FROM ce""".stripMargin),

    // Union edges -> reach closure -> keep each component's min id (the
    // media_neardup_kept oracle shape over the cross-modal edge union).
    "multimodal_neardup_kept" ->
      (s"""WITH RECURSIVE $mmEdgesSql,
        |jp AS (SELECT id_a, id_b FROM ie UNION SELECT id_a, id_b FROM ce),
        |e AS (SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id FROM mm
        |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin),

    // Full-rerun replay of BOTH incremental generators, restricted to
    // pairs involving the batch (ids >= 400000): dHash chain over every
    // img + hamming <= 3, caption MinHash signatures + 4-band LSH
    // candidates + agreement >= 0.5.
    "multimodal_incremental_pairs" ->
      (s"""WITH $mmCorpusSql,
        |corpus AS (SELECT doc_id, img AS text FROM mm),
        |""".stripMargin + dhashChainSql + s""",
        |ipairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hd, b.hd)) <= 3 AND b.doc_id >= 400000),
        |ctok AS (SELECT doc_id, string_split_regex(trim(caption), '\\s+') AS toks FROM mm),
        |cshs AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(len(toks)-3,0)+1),
        |  i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS shingles FROM ctok),
        |chss AS (SELECT doc_id, list_transform(shingles,
        |  s -> ${hash60Sql("s")}) AS hs FROM cshs),
        |csig AS (SELECT doc_id AS id, $minhashSigSql AS sig FROM chss),
        |cbanded AS (SELECT id, sig, t.b AS band,
        |  array_to_string(sig[(t.b*4+1):(t.b*4+4)], ':') AS key
        |  FROM csig, range(0,4) t(b)),
        |ccand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM cbanded a
        |  JOIN cbanded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |cagr AS (SELECT c.id_a, c.id_b,
        |  list_sum(list_transform(range(1,17),
        |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))/16.0 AS a
        |  FROM ccand c JOIN csig sa ON c.id_a = sa.id JOIN csig sb ON c.id_b = sb.id),
        |cpairs AS (SELECT id_a, id_b FROM cagr
        |  WHERE a >= 0.5 AND id_b >= 400000)
        |SELECT id_a, id_b, 'image' AS modality FROM ipairs
        |UNION ALL
        |SELECT id_a, id_b, 'caption' AS modality FROM cpairs""".stripMargin),

    // Incremental union edges -> reach closure -> kept batch ids (the
    // dedup_incremental_kept shape over the cross-modal union).
    "multimodal_incremental_kept" ->
      (s"""WITH RECURSIVE $mmCorpusSql,
        |corpus AS (SELECT doc_id, img AS text FROM mm),
        |""".stripMargin + dhashChainSql + s""",
        |ipairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hd, b.hd)) <= 3 AND b.doc_id >= 400000),
        |ctok AS (SELECT doc_id, string_split_regex(trim(caption), '\\s+') AS toks FROM mm),
        |cshs AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(len(toks)-3,0)+1),
        |  i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS shingles FROM ctok),
        |chss AS (SELECT doc_id, list_transform(shingles,
        |  s -> ${hash60Sql("s")}) AS hs FROM cshs),
        |csig AS (SELECT doc_id AS id, $minhashSigSql AS sig FROM chss),
        |cbanded AS (SELECT id, sig, t.b AS band,
        |  array_to_string(sig[(t.b*4+1):(t.b*4+4)], ':') AS key
        |  FROM csig, range(0,4) t(b)),
        |ccand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM cbanded a
        |  JOIN cbanded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |cagr AS (SELECT c.id_a, c.id_b,
        |  list_sum(list_transform(range(1,17),
        |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))/16.0 AS a
        |  FROM ccand c JOIN csig sa ON c.id_a = sa.id JOIN csig sb ON c.id_b = sb.id),
        |cpairs AS (SELECT id_a, id_b FROM cagr
        |  WHERE a >= 0.5 AND id_b >= 400000),
        |jp AS (SELECT id_a, id_b FROM ipairs UNION SELECT id_a, id_b FROM cpairs),
        |e AS (SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id FROM mm WHERE doc_id >= 400000
        |AND doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin),

    "multi_key_sort" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "date_key_layout" ->
      """SELECT event_id, strftime(ts, '%Y/%m/%d') AS ymd_path,
        |strftime(ts, '%Y-%m-%d-%H-%M-%S') AS file_stamp,
        |floor(epoch(ts))::BIGINT AS epoch_s FROM events""".stripMargin
  )
}
