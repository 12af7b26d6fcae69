package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` surface (standard extension-library
  * idiom): build a `Column` from a raw Catalyst `Expression` and register
  * expression builders on the session's function registry, so custom
  * expressions like `graft.functions.PolyHash` are usable from both the
  * Column API and SQL without requiring `SparkSessionExtensions` at
  * session-build time (the driver constructs plain sessions).
  */
object GraftSql {

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def register(spark: SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The session's own id (a UUID fixed at session creation). */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** The RDD backing a `localCheckpoint()`ed Dataset (a `LogicalRDD`
    * leaf), if any. `Dataset.unpersist` cannot free a local checkpoint
    * (it is cached at the RDD level, not through the cache manager);
    * unpersisting this RDD does. CAUTION: the data is gone afterwards —
    * a LogicalRDD has no lineage to recompute from, so only free frames
    * no caller retains. */
  def checkpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: execution.LogicalRDD => l.rdd
    }

  /** Rebuild a `localCheckpoint()`ed frame as a BARE `LogicalRDD` with
    * no origin statistics/constraints. `Dataset.checkpoint` deliberately
    * carries the pre-checkpoint plan's constraint set into the new leaf
    * (`LogicalRDD.fromDataset` → `originConstraints`) so single-shot
    * checkpoints keep their optimizer hints — but in an ITERATIVE loop
    * whose round k+1 plan self-joins round k's checkpoint, those
    * constraint sets COMPOUND: round walls double while executor task
    * CPU, task counts, partitions and RDD lineage all stay flat
    * (measured on the 768 k CC loop — last round 46 s wall / 22 s task
    * CPU; BASELINE round 19). Stripping the origin metadata restores
    * O(1) per-round planning; semantics are unchanged (constraints are
    * optimizer hints — the data and schema are identical).
    * No-op passthrough if the plan is not a bare LogicalRDD leaf. */
  def stripOrigin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        classic.Dataset.ofRows(spark,
          execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(spark))
      case _ => df
    }
  }
}
