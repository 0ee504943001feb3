package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global ordering primitives.
  *
  * A naive `row_number().over(Window.orderBy(...))` collapses the whole
  * dataset into ONE partition — fatal at 10^10-frontier scale. These
  * helpers use the classic two-phase pattern instead: bucket the rows
  * by arithmetic on a monotone key of known range, rank or sum locally
  * per bucket, then add broadcast per-bucket offsets (one tiny
  * aggregation). Deterministic provided the order keys are unique
  * (bucket boundaries only decide placement, never the result).
  */
object Ranks {

  /** Bounded-key variant: when a monotone long `bucketKey` with known
    * range [lo, hi) exists (frontier positions within a crawl round),
    * buckets come from arithmetic on the key — NO sampling pass, one
    * hash shuffle. Rows sharing a bucketKey value land in one bucket, so
    * buckets are contiguous in the global order and per-bucket
    * row_number + bucket offsets give the exact dense rank.
    */
  def withBoundedRank(df: DataFrame, orderCols: Seq[Column], rankCol: String,
      bucketKey: Column, lo: Long, hi: Long): DataFrame =
    withBucketOffsets(df, bucketKey, lo, hi, None)
      .withColumn(rankCol,
        row_number().over(Window.partitionBy(col("__gr_pid")).orderBy(orderCols: _*))
          .cast("long") + col("__gr_off") - 1L)
      .drop("__gr_pid", "__gr_off")

  /** Adds `prefixCol` = sum of `weightCol` over all rows with a smaller
    * `keyCol` (exclusive prefix sum in key order; keys must be unique).
    * Same bounded-bucket shape as [[withBoundedRank]]: one hash shuffle
    * of the (small) keyed rows, per-bucket running sums, broadcast
    * bucket offsets. The scalable building block for ARITHMETIC id
    * assignment: rank an O(parents) counts table instead of shuffling
    * the O(links) exploded rows.
    */
  def withBoundedPrefixSum(df: DataFrame, keyCol: Column, weightCol: Column,
      prefixCol: String, lo: Long, hi: Long): DataFrame =
    withBucketOffsets(df, keyCol, lo, hi, Some(weightCol))
      .withColumn(prefixCol,
        col("__gr_off") + coalesce(
          sum(col("__gr_w")).over(
            Window.partitionBy(col("__gr_pid")).orderBy(keyCol)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__gr_pid", "__gr_off", "__gr_w")

  /** `df` hash-shuffled into one bucket per shuffle partition by
    * arithmetic on `bucketKey` in [lo, hi) (`__gr_pid`), each row joined
    * to its bucket's offset `__gr_off`: the row count of every earlier
    * bucket, or with a `weight` (carried as `__gr_w`) its sum.
    */
  private def withBucketOffsets(df: DataFrame, bucketKey: Column, lo: Long,
      hi: Long, weight: Option[Column]): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val span = math.max(1L, hi - lo)
    // lo/span are per-round values: Dyn keeps them out of the codegen
    // source so successive rounds reuse compiled classes
    val bucket = least(lit(p - 1L), greatest(lit(0L),
      ((bucketKey - Dyn.dynLong(lo)) * p / Dyn.dynLong(span)))).cast("int")
    val keyed = df.withColumn("__gr_pid", bucket)
    val parted = weight.fold(keyed)(w => keyed.withColumn("__gr_w", w.cast("long")))
      .repartition(p, col("__gr_pid"))
    val size = if (weight.isEmpty) count(lit(1)) else sum(col("__gr_w"))
    // ≤ P rows: a CONSTANT partition key keeps the prefix-sum window
    // single-partition BY DECLARATION (it is tiny by construction). It
    // must be non-foldable: Spark 4's EliminateWindowPartitions rule
    // folds a plain lit(0) away, reintroducing WindowExec's no-partition
    // warning on every round — DynLiteral(0) is constant but unfoldable
    val offsets = parted.groupBy(col("__gr_pid")).agg(size.as("__gr_cnt"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_cnt")).over(
          Window.partitionBy(Dyn.dynInt(0)).orderBy(col("__gr_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gr_pid"), col("__gr_off"))
    parted.join(broadcast(offsets), "__gr_pid")
  }
}
