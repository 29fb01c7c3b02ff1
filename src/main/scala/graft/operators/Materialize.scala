package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** The one materialization rule: a RELIABLE checkpoint when the context
  * has a checkpoint dir (the cluster deploy — a lost executor re-reads
  * the checkpoint files), an executor-local one otherwise (single
  * node / tests: no dir needed, but a lost executor forces recompute
  * from the source). Every library materialization goes through here,
  * so `sparkContext.setCheckpointDir` makes all of them fault-tolerant.
  *
  * The caller owns what it materializes: a long-lived caller releases
  * it with `Bridge.unpersistCheckpoint` once its last reader has run.
  */
object Materialize {

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** LAZY: no job at plan construction; the first action materializes
    * once and every later reader (join sides, df-cap aggregates,
    * per-round probes) scans the stored blocks.
    */
  def shared(df: DataFrame): DataFrame = checkpoint(df, eager = false)

  /** EAGER: materialized at the call, for a caller whose later readers
    * must see the same bytes (a count and the writes it reports).
    */
  def now(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  /** One iterative round's result: eager, and rewrapped without its
    * origin plan so per-round analysis stays flat (see
    * `Bridge.severOrigin`).
    */
  def round(df: DataFrame): DataFrame = Bridge.severOrigin(now(df))
}
