package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata (TESTDATA.md): one parquet per table. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session config every graft session needs: `events.ts` is parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    * (PARQUET_TYPE_ILLEGAL) unless nanos columns are read as Long.
    * SESSION-WIDE effect by design — every nanos-timestamp parquet column
    * in the session comes back BIGINT; [[events]] is the only such table
    * here and re-encodes it. Streaming checkpoints commit through
    * [[streaming.LocalCheckpointFileManager]]. Called once by the session
    * builders (Verify/Bench/SparkTestBase), not per table load.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    streaming.LocalCheckpointFileManager.install(spark)
    spark
  }

  /** Normalizes `ts` to TimestampType regardless of how the parquet
    * encodes it. Testdata generations have shipped both TIMESTAMP(NANOS)
    * (read as BIGINT under [[configure]]'s nanosAsLong — truncate to
    * micros, exactly what DuckDB does when it loads TIMESTAMP_NS) and
    * TIMESTAMP(MICROS) (read as TIMESTAMP / TIMESTAMP_NTZ — pass through;
    * the NTZ→TZ cast is value-identity because every session builder pins
    * spark.sql.session.timeZone=UTC).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // defensive + idempotent: a session built outside the in-repo
    // builders (which all call configure) would otherwise fail a nanos
    // read with PARQUET_TYPE_ILLEGAL
    configure(spark)
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
}
