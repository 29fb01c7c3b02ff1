package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column <-> Expression bridge.
  * Custom Catalyst expressions (graft.functions) need to surface as
  * `Column`s; Spark 4 routes that through
  * org.apache.spark.sql.classic.ExpressionUtils, which is sql-private, so
  * this one-file shim lives under the org.apache.spark.sql package. No
  * other Spark internals are touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebuild a DataFrame from its physical RDD + schema, dropping every
    * piece of logical-plan provenance the Dataset carries.
    *
    * Why this exists: `Dataset.checkpoint`/`localCheckpoint` truncate
    * the RDD lineage but the returned Dataset's `LogicalRDD` still
    * carries its ORIGIN plan's statistics/constraint closures. In an
    * iterated fixpoint whose round plan references the previous round's
    * Dataset more than once (any self-join — the BPE rewrite, label
    * fixpoints), that origin baggage nests one level per round and the
    * driver's analysis work DOUBLES per round: measured on a 19k-row
    * no-op rewrite loop, round time went 0.5 s → 344 s by round 26,
    * entirely driver-side, while this rewrap holds it flat at 0.3 s
    * through round 40. `queryExecution.toRdd` on a checkpointed Dataset
    * is the already-materialized InternalRow RDD (no row conversion),
    * and `internalCreateDataFrame` wraps it in a FRESH LogicalRDD with
    * no origin — the plan equivalent of what checkpoint already did to
    * the lineage.
    */
  def severOrigin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed match {
      // the common case (a just-checkpointed Dataset): copy the
      // LogicalRDD keeping output/partitioning/ordering — losing the
      // partitioning would re-shuffle an already-hash-partitioned round
      // result — but with NO origin stats/constraints. Output attributes
      // get FRESH exprIds (with partitioning/ordering rewritten onto
      // them): reusing the origin's ids would make a join of the severed
      // frame against the still-live checkpointed original a duplicate-
      // exprId self-join, the ambiguity a genuinely new relation avoids.
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
        val fresh = l.output.map(_.newInstance())
        val rewrite = AttributeMap(l.output.zip(fresh))
        def rw[E <: Expression](e: E): E = e.transform {
          case a: Attribute => rewrite.getOrElse(a, a)
        }.asInstanceOf[E]
        val part = l.outputPartitioning match {
          case p: Expression =>
            rw(p).asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.Partitioning]
          case p => p
        }
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          new org.apache.spark.sql.execution.LogicalRDD(
            fresh, l.rdd, part, l.outputOrdering.map(rw),
            l.isStreaming, l.stream)(spark, None, None))
      case _ =>
        spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
    }
  }

  /** A fresh directory `<java.io.tmpdir>/<prefix>-<uuid>`, deleted with
    * its contents when the JVM exits (Spark's shutdown-delete registry,
    * `Utils.createTempDir`). For stores a session builds and reads for
    * its whole life.
    */
  def createTempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
      .getAbsolutePath

  /** Unpersist the storage behind a (local)checkpointed Dataset NOW.
    * Dropping the last reference alone leaves the checkpoint's RDD
    * blocks resident until a nondeterministic driver GC lets the
    * ContextCleaner find them — an evict-and-rebuild cycle (the
    * ScaleBench graph-prep retime) would otherwise hold two copies of
    * a corpus-sized relation in the block manager during the rebuild,
    * recreating the storage-fraction overflow the eviction exists to
    * measure honestly. No-op on plans without a LogicalRDD leaf.
    */
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        try l.rdd.unpersist(blocking) catch { case _: Throwable => () }
      case _ => ()
    }
}
