package graft.seen

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen structure (SURVEY.md §2.4 D1, north-rule "bloom/cuckoo").
  *
  * Semantics: exact set membership on the canonicalized (uri, method)
  * pair, reproducing the reference's datrie keyed by defragged URI
  * (transaction.py:196-233). The distributed design is a two-band
  * structure:
  *
  *   band 1 (probabilistic prefilter): a Bloom filter over
  *     xxhash64(uri ∥ 0x1F ∥ method) built distributively by a typed
  *     [[Aggregator]] (map-side partial blooms merged by OR — one pass,
  *     no row shuffle). Candidates the bloom rejects are DEFINITELY new
  *     and skip the anti-join shuffle entirely.
  *   band 2 (exact fallback): candidates the bloom accepts (real hits +
  *     false positives) are verified by a left_anti join against the
  *     seen table. This is the "cuckoo fallback" band — exactness is
  *     guaranteed by construction; the bloom only buys shuffle
  *     reduction. Blooms have no false negatives, so no URL can be
  *     dropped incorrectly.
  *
  * At 10^10 scale the single merged bitset exceeds any broadcast
  * budget; past [[bloomWithinBudget]] the prefilter switches to the
  * bucket-sharded file-backed family ([[PartitionedBloom]]) — executors
  * load only the bucket blooms their rows probe, and per-round
  * maintenance rewrites only the touched buckets (LSM-style epochs).
  */
object UrlSeen {

  /** Seen-key hash: xxhash64 of "urimethod". */
  def seenKey(uri: Column, method: Column): Column =
    xxhash64(concat_ws("\u001f", uri, method))

  /** Bitset bytes of a bloom sized for `expectedItems` at `fpp`
    * (Spark's optimal-m formula: m = −n·ln p ∕ ln²2).
    */
  def bloomBytes(expectedItems: Long, fpp: Double = 1e-4): Long =
    BloomFilter.optimalNumOfBits(math.max(expectedItems, 1L), fpp) / 8L

  /** Single-merged-bloom capacity policy: the prefilter only pays while
    * its bitset is cheaply broadcastable — at 4×10^10 capacity the
    * bitset is ~90 GB, which no executor can hold, so past
    * `budgetBytes` the driver DROPS the bloom and the exact anti-join
    * band (always the source of truth) carries dedup alone. Correctness
    * never depends on this switch; only the shuffle-reduction benefit
    * does. The 10^10-scale alternative (per-host-hash partitioned
    * blooms, only candidate-host partitions broadcast) keeps a
    * prefilter past this budget at the cost of a bloom-per-partition
    * build; this policy is the honest single-bloom boundary.
    */
  def bloomWithinBudget(expectedItems: Long, fpp: Double = 1e-4,
      budgetBytes: Long = 256L << 20): Boolean =
    bloomBytes(expectedItems, fpp) <= budgetBytes

  /** Distributed bloom build over a Long key column. */
  class BloomAggregator(expectedItems: Long, fpp: Double)
      extends Aggregator[Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    override def reduce(b: BloomFilter, key: Long): BloomFilter = { b.putLong(key); b }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Builds a serialized bloom over `keyCol` of `df` (driver gets only
    * the fixed-size bitset, never the rows).
    */
  def buildBloom(df: DataFrame, keyCol: Column, expectedItems: Long,
      fpp: Double = 1e-4): Array[Byte] = {
    import df.sparkSession.implicits._
    val agg = new BloomAggregator(math.max(expectedItems, 64L), fpp)
    df.select(keyCol.cast("long")).as[Long].select(agg.toColumn).head()
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Band-1 prefilter strategies for [[dedupeAgainstSeen]]: given the
    * candidate key columns, produce the Boolean "maybe seen" column
    * (true → verify exactly; false → DEFINITELY new, bypass the
    * anti-join shuffle). Both variants guarantee no false negatives.
    * Each `might` broadcasts what its column probes; the prefilter owns
    * those broadcasts until [[destroy]].
    */
  sealed trait SeenPrefilter {
    private val owned = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]

    def might(uriCol: Column, methodCol: Column,
        spark: org.apache.spark.sql.SparkSession): Column

    protected def broadcast[T: scala.reflect.ClassTag](
        spark: org.apache.spark.sql.SparkSession, v: T): Broadcast[T] = {
      val b = spark.sparkContext.broadcast(v)
      owned.synchronized(owned += b)
      b
    }

    /** Destroys every broadcast `might` made; call once no plan that
      * probes them runs again.
      */
    def destroy(): Unit = owned.synchronized {
      owned.foreach(_.destroy())
      owned.clear()
    }
  }

  /** One merged bloom broadcast as its bitset — the within-budget path
    * ([[bloomWithinBudget]]).
    */
  final case class SingleBloomPrefilter(bytes: Array[Byte]) extends SeenPrefilter {
    override def might(uriCol: Column, methodCol: Column,
        spark: org.apache.spark.sql.SparkSession): Column = {
      import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
      val bcast = broadcast(spark, bytes)
      toColumn(BloomMightContain(
        toExpression(seenKey(uriCol, methodCol)), bcast))
    }
  }

  /** Per-bucket bloom files loaded on demand per executor — the
    * past-budget path ([[PartitionedBloom]]); only the tiny
    * bucket → epoch map is broadcast.
    */
  final case class BucketBloomPrefilter(fam: PartitionedBloom.BloomFamily)
      extends SeenPrefilter {
    override def might(uriCol: Column, methodCol: Column,
        spark: org.apache.spark.sql.SparkSession): Column = {
      import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
      val bcast = broadcast(spark, fam.epochs)
      toColumn(BucketBloomContains(
        toExpression(seenKey(uriCol, methodCol)), fam.base, fam.buckets, bcast))
    }
  }

  /** Union of two prefilters: "maybe seen" iff either says so. No false
    * negatives as long as every seen key is covered by at least one
    * side — the batched-merge family cadence pairs the (lagging) bucket
    * family with a small single bloom over the not-yet-merged deltas.
    */
  final case class CompositePrefilter(a: SeenPrefilter, b: SeenPrefilter)
      extends SeenPrefilter {
    override def might(uriCol: Column, methodCol: Column,
        spark: org.apache.spark.sql.SparkSession): Column =
      a.might(uriCol, methodCol, spark) || b.might(uriCol, methodCol, spark)
    override def destroy(): Unit = { a.destroy(); b.destroy() }
  }

  /** candidates ∖ seen on `uriCol`/`methodCol` (exact), with the bloom
    * prefilter splitting candidates into definitely-new (bypass the
    * shuffle) and maybe-seen (verified by left_anti).
    *
    * `seen` is a list of PARTS (per-round deltas plus the last
    * compacted table): `c ∖ (s₁ ∪ s₂ ∪ …) ≡ ((c ∖ s₁) ∖ s₂) ∖ …`, and
    * the chained form is the one that scales — a union of parts has
    * UnknownPartitioning, so a single anti-join against it re-exchanges
    * the ENTIRE cumulative seen set every round, while each part cached
    * hash-partitioned (and sorted) on the key joins Exchange-free on
    * the seen side forever; only the (small) per-round candidate set
    * shuffles, once, and then streams through the chain reusing its
    * partitioning and sort order.
    */
  def dedupeAgainstSeen(candidates: DataFrame, seen: Seq[DataFrame],
      uriCol: String, methodCol: String, prefilter: Option[SeenPrefilter]): DataFrame = {
    def anti(df: DataFrame): DataFrame =
      seen.foldLeft(df) { (acc, part) =>
        val seenKeyed = part.select(col(uriCol).as("__s_uri"), col(methodCol).as("__s_m"))
        acc.join(seenKeyed,
          acc(uriCol) === col("__s_uri") && acc(methodCol) === col("__s_m"), "left_anti")
      }
    prefilter match {
      case None => anti(candidates)
      case Some(pf) =>
        val mightContain = pf.might(col(uriCol), col(methodCol),
          candidates.sparkSession)
        val keyed = candidates.withColumn("__might", mightContain)
        val definitelyNew = keyed.filter(!col("__might")).drop("__might")
        val maybeSeen = keyed.filter(col("__might")).drop("__might")
        definitelyNew.unionByName(anti(maybeSeen))
    }
  }
}
