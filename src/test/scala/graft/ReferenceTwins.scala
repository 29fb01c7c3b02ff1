package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextHash}

/** Independent reference formulations the specs hold the native
  * operators against. Each is the plain relational or higher-order
  * spelling of a kernel the library ships, kept out of the product jar.
  */
object ReferenceTwins {

  /** The regexp-built twin of `TextStatsKernel` — 10 scans per row
    * (TextAnalysisSpec compares all nine counters on edge cases and real
    * corpus text).
    */
  def textStatsRelational(df: DataFrame,
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val low = lower(text)
    val wsTokens = when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))
    df.select(col("*"),
      wsTokens.as("ws_tokens"),
      regexp_count(text, lit(TextAnalysis.BpeTokenPattern)).as("bpe_tokens"),
      regexp_count(text, lit("[\\p{Punct}]")).as("punct"),
      regexp_count(low, lit(TextAnalysis.StopwordPattern)).as("stop_hits"),
      regexp_count(low, lit("\\b(the|and|of|to|in|is)\\b")).as("en_hits"),
      regexp_count(low, lit("\\b(der|die|das|und|ist|nicht)\\b")).as("de_hits"),
      regexp_count(low, lit("\\b(le|la|les|et|est|une)\\b")).as("fr_hits"),
      regexp_count(low, lit("\\b(el|los|las|es|una|que)\\b")).as("es_hits"),
      regexp_count(text, lit("\\p{IsHan}")).as("zh_hits"))
  }

  /** The explode/window twin of `RepetitionKernel` (shuffles per doc —
    * the native pass doesn't).
    */
  def repetitionRelational(df: DataFrame,
      textCol: String = "text"): DataFrame = {
    val toks = df.select(col("*"),
      regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("_toks"))
    val base = toks.select(col("*"),
      size(col("_toks")).as("total_tokens"),
      size(array_distinct(col("_toks"))).as("distinct_tokens"),
      greatest(size(col("_toks")) - 1, lit(0)).as("total_bigrams"))
    val grams = toks.select(col("doc_id").as("_id"),
        posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .withColumn("_nxt", lead(col("_tok"), 1).over(
        Window.partitionBy("_id").orderBy("_pos")))
      .filter(col("_nxt").isNotNull)
      .groupBy(col("_id"), concat_ws(" ", col("_tok"), col("_nxt")).as("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy("_id").agg(max(col("_c")).cast("int").as("_top"))
    base.join(grams, base("doc_id") === grams("_id"), "left")
      .withColumn("top_bigram", coalesce(col("_top"), lit(0)))
      .drop("_id", "_top", "_toks")
  }

  /** The relational formulation of `TextAnalysis.winnowFingerprints`
    * (char posexplode, lead-window gram stitch, min over a ROWS window of
    * w, distinct). concat_ws skips trailing-null leads, so a doc shorter
    * than k chars yields its whole text as the single gram, exactly like
    * charShingles; partial tail grams are filtered.
    */
  def winnowFingerprintsRelational(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 4): DataFrame = {
    val ordWin = Window.partitionBy("id").orderBy("pos")
    val cntWin = Window.partitionBy("id")
    val chars = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "")).as(Seq("pos", "ch")))
    val grams = chars
      .withColumn("n_chars", count(lit(1)).over(cntWin))
      .withColumn("gram", concat_ws("",
        col("ch") +: (1 until k).map(j => lead(col("ch"), j).over(ordWin)): _*))
      .filter(col("pos") <= greatest(col("n_chars") - k, lit(0)))
      .select(col("id"), col("pos"), TextHash.hash60(col("gram")).as("h"))
    val win = Window.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    grams
      .withColumn("wmin", min(col("h")).over(win))
      .filter(col("pos") >= w - 1) // only full windows select fingerprints
      .select(col("id"), col("wmin").as("fingerprint"))
      .distinct()
  }

  /** MinHash signature as a higher-order-function column: for each of
    * `numHashes` seeded hash functions, the minimum over the shingle set.
    * Returns array<long> of length numHashes.
    */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(seed =>
      array_min(transform(shingles, s => TextHash.hash60Seeded(s, seed)))): _*)

  /** The batch start/end match: an inner equi-join on trip_id (exact
    * unbounded semantics — an unmatched event simply doesn't appear).
    */
  def matchTrips(starts: DataFrame, ends: DataFrame): DataFrame =
    starts.join(ends, Seq("trip_id"), "inner")
}
