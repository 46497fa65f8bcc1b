package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column<->Expression
  * converters, needed to expose custom Catalyst expressions (e.g.
  * graft.functions.DotProduct) as user-facing Columns on Spark 4 (the
  * old public `new Column(expr)` constructor is gone). Standard practice
  * for Spark extension libraries.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session (functionRegistry
    * is private[sql]).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Build a DataFrame over a hand-constructed logical plan (the
    * `Dataset.ofRows` entry is private[sql]) — how a library hands a
    * custom LogicalPlan node (AsOfJoinPlan) to the session's analyzer
    * and planner.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the SparkListener bus (`listenerBus` is private[spark]) so a
    * spec can deterministically assert how many jobs an operation
    * scheduled — listener events are posted asynchronously.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Spark's Bloom-filter sketch as user-facing Columns: the engine
    * ships BloomFilterAggregate / BloomFilterMightContain for its own
    * runtime-filter joins but registers no SQL surface for them — the
    * expressions themselves are exactly the bounded-broadcast sketch a
    * decontamination operator needs (input: 64-bit longs).
    */
  def bloomFilterAgg(c: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    column(new BloomFilterAggregate(ExpressionUtils.expression(c),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())
  }

  def mightContain(bloom: Column, value: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(value)))

  /** Eager localCheckpoint with PINNED statistics on the resulting leaf.
    *
    * `Dataset.localCheckpoint` truncates lineage but copies the source
    * plan's *estimated* Statistics onto the new LogicalRDD (so the
    * optimizer keeps its knowledge). Inside an iterative fixpoint that
    * is exactly wrong: a round plan referencing the previous round's
    * leaf k times multiplies size estimates (a join's sizeInBytes
    * estimate is the product of its children's), so the inherited
    * estimate exponentiates by ~k PER ROUND. The numbers stay "just
    * estimates" but become million-bit BigIntegers within a few rounds,
    * and the driver hangs inside SizeInBytesOnlyStatsPlanVisitor's
    * `.product` doing Toom-Cook multiplications — observed as a
    * several-minute planning stall on d13's CC fixpoint at sf0.1.
    *
    * Pinning a small true size per round resets the compounding AND
    * keeps every fixpoint join broadcastable. `sizeInBytes` should be
    * an honest upper bound for the checkpointed data (rows × width).
    *
    * `eager = false` defers materialization to the caller's next action
    * (one fewer driver-scheduled job when that action runs immediately
    * anyway — a fixpoint's convergence count); only safe when the frame
    * is referenced once before that action, else racing branch
    * computations recompute the blocks.
    */
  def localCheckpointWithStats(df: org.apache.spark.sql.DataFrame,
      sizeInBytes: Long, eager: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val pinned = new LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark,
          Some(Statistics(sizeInBytes = BigInt(math.max(1L, sizeInBytes)))),
          None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, pinned)
      case other =>
        // A non-LogicalRDD checkpoint plan means a Spark upgrade changed
        // the shape this shim pins stats through — the exponential-stats
        // optimizer stall it prevents would silently return, so fail
        // here rather than as an unexplained hang (GraphCCSpec asserts
        // the pinned path is taken).
        throw new IllegalStateException(
          "localCheckpointWithStats: checkpoint plan is " +
            s"${other.getClass.getSimpleName}, not LogicalRDD — cannot " +
            "pin its stats (see Shims.scala)")
    }
  }
}
