package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Statistics, Union}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge between Column and catalyst Expression.
  *
  * In Spark 4 the Column ↔ Expression converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`; extension libraries conventionally reach it via a
  * shim in the `org.apache.spark.sql` package (same pattern as other
  * open-source Spark extensions).
  */
object shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Cap the inherited statistics of a checkpoint leaf.
    *
    * `Dataset.localCheckpoint` truncates the logical plan to a
    * [[LogicalRDD]] but copies the truncated plan's `optimizedPlan.stats`
    * into the leaf (`originStats`). In an ITERATIVE driver whose round
    * k+1 plan builds on round k's checkpoint leaves, sizeInBytes
    * therefore COMPOUNDS multiplicatively: each round's joins multiply
    * the inherited sizes, the product becomes the next leaf's stats, and
    * the BigInt's bit count grows as (joins-per-round)^rounds — measured
    * ×3/round with 3 joins — until Catalyst's size-only stats visitor
    * allocates multi-GB BigIntegers and OOMs the driver (seen in the
    * polite-slow parity world around round 12). Capping the leaf's
    * sizeInBytes at Long.MaxValue (Spark's own `defaultSizeInBytes`
    * ceiling) keeps small deltas' real sizes for join planning while
    * bounding per-round stats growth to one round's worth of products.
    */
  def capStats(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      val st = lr.computeStats()
      if (st.sizeInBytes.bitLength < 63 && st.rowCount.forall(_.bitLength < 63)) df
      else {
        val capped = Statistics(
          sizeInBytes = st.sizeInBytes.min(BigInt(Long.MaxValue)),
          rowCount = st.rowCount.map(_.min(BigInt(Long.MaxValue))))
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(session, Some(capped), None)
        org.apache.spark.sql.classic.Dataset.ofRows(session, clean)
      }
    case _ => df
  }

  /** One by-name union of `frames` (at least one), columns aligned by
    * name to the first frame's order: what `frames.reduce(_ unionByName _)`
    * builds, in ONE analyzer pass. Each pairwise `unionByName` eagerly
    * re-analyzes the growing union, so an n-way chain analyzes the first
    * frames n−1 times. The children stay as they are (no eager
    * CombineUnions: it would collapse a child's projections into a
    * persisted frame's plan and miss its cache entry).
    */
  def unionByName(frames: Seq[DataFrame]): DataFrame =
    if (frames.size == 1) frames.head
    else {
      val session = frames.head.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val plans = frames.map(_.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)
      org.apache.spark.sql.classic.Dataset.ofRows(session,
        Union(plans, byName = true, allowMissingCol = false))
    }
}
