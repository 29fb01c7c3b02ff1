package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Report sinks (SURVEY.md par.2.1 S7/S8).
  *
  * The reference writes one nested JSON report object to S3 twice — a
  * timestamped hierarchical key `daily_kpis/Y/M/D/...` plus a fixed
  * `daily_kpis/latest/` copy (scripts/glue_scripts.py:16-24,219-253) — and
  * an earlier CSV variant (data/24-daily_trip_kpis.csv).
  *
  * Scale notes: the report itself is tiny (|dates| rows); the Y/M/D layout
  * generalizes to `partitionBy("year","month","day")`, which at 100 TB is
  * what enables partition pruning on read. The "latest" alias is a second
  * overwrite write, not a copy job.
  */
object KpiReportSink {

  /** Assemble the nested report struct (metadata + daily_kpis array),
    * scripts/glue_scripts.py:193-208. Returns a 1-row DataFrame with a
    * single JSON string column `report`.
    */
  def reportJson(kpis: DataFrame, metadata: DataFrame): DataFrame = {
    val kpiArray = kpis.orderBy(col("pickup_date"))
      .agg(collect_list(struct(kpis.columns.map(col): _*)).as("daily_kpis"))
    metadata.crossJoin(kpiArray)
      // an empty KPI frame yields NO report row, not a degenerate
      // `"daily_kpis": []` object — the reference refuses to publish
      // anything when the scan comes back empty (test/test.py:211-221:
      // SystemExit before put_object)
      .where(size(col("daily_kpis")) > 0)
      .select(to_json(struct(
        struct(metadata.columns.map(col): _*).as("metadata"),
        col("daily_kpis"))).as("report"))
  }

  /** S7: dated path + `latest` alias, both overwrite-idempotent. Returns
    * the row count actually written. The report materializes ONCE
    * ([[Materialize.now]]) so its full upstream lineage runs a single
    * time — not once per write plus once per count — and the count can
    * never disagree with the written bytes if the source moves
    * underneath. The materialization is released after the writes.
    *
    * EMPTY-INPUT ABORT: an empty report frame throws BEFORE either write
    * — in particular `latest/` is never overwritten with a degenerate
    * report — matching the reference's SystemExit-before-put_object
    * golden behavior (test/test.py:211-221).
    */
  def writeJsonReport(report: DataFrame, baseDir: String, datePath: String): Long = {
    val mat = Materialize.now(report)
    try {
      val rows = mat.count()
      if (rows == 0L)
        throw new IllegalStateException(
          s"refusing to write an EMPTY KPI report to $baseDir/$datePath " +
            "(reference aborts before any put_object on an empty scan)")
      mat.coalesce(1).write.mode(SaveMode.Overwrite).text(s"$baseDir/$datePath")
      mat.coalesce(1).write.mode(SaveMode.Overwrite).text(s"$baseDir/latest")
      rows
    } finally Bridge.unpersistCheckpoint(mat)
  }

  /** S7 with the reference's completion signal (SNS publish + Step
    * Functions success, reference step_functions.json:5-23): the hook
    * fires AFTER both report writes land, with a small completion
    * record (paths + report row count). The reference hard-wires SNS;
    * an engine library takes a callback — wire it to whatever notifier
    * the deployment has (the record is driver-side and tiny). A hook
    * failure propagates: a lost completion signal should fail the job,
    * matching the state machine's error semantics.
    */
  def writeJsonReportNotified(report: DataFrame, baseDir: String,
      datePath: String, onComplete: Map[String, String] => Unit): Unit = {
    // the completion record's row count is the count of what was WRITTEN
    // (writeJsonReport materializes once and returns it) — not a fresh
    // recomputation of the report lineage that could disagree if the
    // upstream source changed between write and count (ADVICE r15)
    val rows = writeJsonReport(report, baseDir, datePath)
    onComplete(Map(
      "report_path" -> s"$baseDir/$datePath",
      "latest_path" -> s"$baseDir/latest",
      "rows" -> rows.toString))
  }

  /** S8: CSV KPI sink (golden data/24-daily_trip_kpis.csv shape). */
  def writeCsvKpis(kpis: DataFrame, path: String): Unit =
    kpis.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** The Y/M/D key layout at scale: `partitionBy` on derived date parts,
    * so readers prune partitions instead of listing a flat bucket
    * (generalizes glue_scripts.py:16-24's hand-built hierarchical keys).
    * Dynamic overwrite replaces only the partitions present in `df`.
    */
  def writePartitionedByDay(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("year", year(col(dateCol)))
      .withColumn("month", month(col(dateCol)))
      .withColumn("day", dayofmonth(col(dateCol)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month", "day")
      .parquet(path)
}
