package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. `ExpressionUtils` is `private[sql]`, so
  * this one-file shim lives under `org.apache.spark.sql` — the standard
  * pattern for Spark extension libraries that register native Catalyst
  * expressions (no Spark internals are modified). */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Analyzed logical plan of a DataFrame — `queryExecution` is public
    * but classic-API-typed; needed to embed a frame as a subquery
    * expression (e.g. a Bloom filter delivered via ScalarSubquery). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.analyzed
  /** `AbstractDataType` is `private[sql]`; expressions outside the Spark
    * package need it to declare `inputTypes` (ImplicitCastInputTypes). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** `StructType.asNullable` is `private[spark]`: the schema a parquet read
    * reports for files of schema `t` (a file source relaxes every field to
    * nullable, as `DataSource.resolveRelation` does). */
  def asNullable(t: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    t.asNullable

  /** `df.localCheckpoint()` followed by `df.count()` runs TWO jobs over
    * the same rows: Dataset.checkpoint(eager=true) materializes the
    * checkpointed RDD with an internal count whose VALUE it discards,
    * and the caller's count() then re-scans the cached blocks. Iterative
    * operators that need "materialize + how many rows" every iteration
    * (the HNSW beam loop, CC-style fixed points) pay a pure-overhead
    * driver action per step for that discarded number. This helper is
    * Dataset.localCheckpoint's own mechanics — same map(_.copy()), same
    * rdd.localCheckpoint(), same LogicalRDD with the physical plan's
    * partitioning/ordering carried over — with the materializing count
    * RETURNED instead of discarded: one job, both effects. */
  def localCheckpointWithCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) =
    checkpointImpl(df, identity)

  /** [[localCheckpointWithCount]] with a predicate tally riding the same
    * materializing job: returns the checkpointed frame and the number of
    * rows where `flag` evaluated true, via an accumulator updated inside
    * the single count action (exactly-once per successful task — the
    * documented accumulator-in-action guarantee). For loop convergence
    * probes only zero-vs-nonzero is consumed. */
  def localCheckpointCounting(df: org.apache.spark.sql.DataFrame,
      flag: org.apache.spark.sql.Column): (org.apache.spark.sql.DataFrame, Long) = {
    val flagName = "__graft_flag"
    val flagged = df.withColumn(flagName, flag)
    val idx = flagged.schema.fieldIndex(flagName)
    val acc = flagged.sparkSession.sparkContext.longAccumulator("graft.flagCount")
    val (out, _) = checkpointImpl(flagged,
      _.mapPartitions { it =>
        it.map { r =>
          if (!r.isNullAt(idx) && r.getBoolean(idx)) acc.add(1L)
          r
        }
      })
    (out.drop(flagName), acc.value)
  }

  private def checkpointImpl(df: org.apache.spark.sql.DataFrame,
      wrap: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =>
        org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val physicalPlan = ds.queryExecution.executedPlan
    val internalRdd = wrap(physicalPlan.execute().map(_.copy()))
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    // the first leaf partitioning, as Dataset.checkpoint computes it: a
    // PartitioningCollection's head is the one downstream reuse keys on
    def firstLeaf(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
        : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
      case c: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
        firstLeaf(c.partitionings.head)
      case other => other
    }
    val logical = org.apache.spark.sql.execution.LogicalRDD(
      ds.queryExecution.analyzed.output,
      internalRdd,
      firstLeaf(physicalPlan.outputPartitioning),
      physicalPlan.outputOrdering,
      isStreaming = false)(spark)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, logical), n)
  }
}
