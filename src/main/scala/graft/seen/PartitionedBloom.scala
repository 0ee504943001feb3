package graft.seen

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** The 10^10-scale URL-seen prefilter (SURVEY.md §4 physical note,
  * D1): PAST the single-bloom broadcast budget
  * ([[UrlSeen.bloomWithinBudget]]) the bitset for 4×seen capacity is
  * tens of GB — undeliverable to executors as one broadcast. This
  * family keeps the prefilter alive by sharding it into `buckets`
  * independent blooms keyed by `pmod(seenKeyHash, buckets)`, stored as
  * one small FILE per bucket in the snapshot store:
  *
  *   - executors load ONLY the bucket files their rows probe, on
  *     demand, through a bounded per-JVM cache ([[BucketBloomCache]]) —
  *     per-executor footprint is O(touched buckets × bitset/buckets),
  *     not O(total bitset), and the driver never holds any bitset;
  *   - per-round maintenance is LSM-shaped: the round's accepted delta
  *     is bucketed and merged into ONLY the touched buckets' blooms,
  *     written under a fresh epoch dir (tmp + rename, deterministic
  *     content so task retries are idempotent); untouched buckets keep
  *     their prior epoch's file — no copy-forward, no full rewrite;
  *   - the probe routes each key through a tiny broadcast
  *     `bucket → epoch` map (≤ `buckets` ints at any scale). A bucket
  *     absent from the map has never held a seen key, so the probe
  *     answers "definitely new" — correct by construction. The map is
  *     built exclusively from COMPLETED build/merge job output, so a
  *     referenced file always exists and contains every key of its
  *     bucket: the no-false-negatives guarantee of the single bloom is
  *     preserved. Stale files from crashed runs are never referenced
  *     (and an over-full leftover could only add false positives).
  *
  * Exactness never depends on any of this: the bloom family remains
  * band 1 of [[UrlSeen.dedupeAgainstSeen]] — candidates it accepts are
  * still verified by the exact anti-join band. Superseded epoch files
  * are deleted by [[gcEpochs]] after each completed build/merge (the
  * bucket→epoch map is exactly the referenced set).
  */
object PartitionedBloom {

  /** Handle to a built family: where it lives, its geometry, and which
    * epoch holds each bucket's latest bloom. Driver-side O(buckets).
    */
  case class BloomFamily(base: String, buckets: Int, capPerBucket: Long,
      fpp: Double, epochs: Map[Int, Int]) {
    def prefilter: UrlSeen.SeenPrefilter = UrlSeen.BucketBloomPrefilter(this)
  }

  def bucketOf(key: Column, buckets: Int): Column =
    pmod(key, lit(buckets.toLong)).cast("int")

  private[seen] def bucketPath(base: String, epoch: Int, bucket: Int): String =
    f"$base/epoch-$epoch/bucket-$bucket%05d.bloom"

  // NOTE: `new Configuration()` resolves the default Hadoop filesystem
  // config, which covers local and HDFS paths; a deployment whose
  // snapshot store needs credentialed config (e.g. object-store keys)
  // would thread the session's hadoopConf here via a broadcast
  // SerializableConfiguration instead.
  private def loadBloom(path: String): BloomFilter = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val in = fs.open(p)
    try BloomFilter.readFrom(in) finally in.close()
  }

  private def writeBloom(path: String, bloom: BloomFilter): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val tmp = new Path(path + "." + java.util.UUID.randomUUID().toString + ".tmp")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    // content is deterministic per (epoch, bucket), so a retried task
    // re-renaming over a finished file is harmless. Publish with
    // OVERWRITE rename (FileContext) so the target is never absent —
    // the exists→delete→rename form had a window where a concurrent
    // probe (resume-time rebuild over existing files, or a zombie task
    // on a cluster) could hit FileNotFoundException.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
        new Configuration())
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // filesystems without a FileContext binding keep the prior
        // delete+rename publish (its absent-target window included)
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) throw new java.io.IOException(s"rename to $p failed")
    }
  }

  /** One distributed pass: bucket `keys` (single Long column), insert
    * each bucket's keys into its prior bloom (from `prior`'s epoch) or
    * a fresh one, write the result under `epoch`. Returns the bucket
    * ids actually written (≤ `buckets` ints — the only collect).
    */
  private def writeEpoch(keys: DataFrame, base: String, buckets: Int,
      capPerBucket: Long, fpp: Double, epoch: Int,
      prior: Map[Int, Int]): Seq[Int] = {
    val spark = keys.sparkSession
    import spark.implicits._
    val keyed = keys.select(col(keys.columns.head).cast("long").as("k"))
      .withColumn("b", bucketOf(col("k"), buckets))
      .repartition(buckets, col("b"))
      .as[(Long, Int)]
    keyed.mapPartitions { it =>
      val perBucket = scala.collection.mutable.Map[Int, BloomFilter]()
      it.foreach { case (k, b) =>
        val bloom = perBucket.getOrElseUpdate(b,
          prior.get(b) match {
            case Some(e) => loadBloom(bucketPath(base, e, b))
            case None => BloomFilter.create(capPerBucket, fpp)
          })
        bloom.putLong(k)
      }
      perBucket.foreach { case (b, bloom) =>
        writeBloom(bucketPath(base, epoch, b), bloom)
      }
      perBucket.keysIterator
    }.collect().toSeq
  }

  /** Build a family from scratch over `keys` (a single Long column). */
  def build(keys: DataFrame, base: String, buckets: Int, capPerBucket: Long,
      fpp: Double = 1e-4, epoch: Int = 0): BloomFamily = {
    val written = writeEpoch(keys, base, buckets, capPerBucket, fpp, epoch,
      prior = Map.empty)
    BloomFamily(base, buckets, capPerBucket, fpp,
      written.map(_ -> epoch).toMap)
  }

  /** Merge accumulated delta keys into the family under a new epoch:
    * only touched buckets are rewritten; the rest keep their epoch.
    * Called on the COMPACTION cadence, not per round — with
    * xxhash64-uniform keys any delta ≫ buckets touches every bucket,
    * so a per-round merge degenerated to a full family rewrite per
    * round (~2× family size of I/O each round at the 10^10 design
    * point); batching K rounds of deltas bounds that rewrite to once
    * per compaction window, while the un-merged window rides the
    * driver's small recent-delta bloom ([[UrlSeen.CompositePrefilter]]).
    */
  def merge(deltaKeys: DataFrame, fam: BloomFamily, epoch: Int): BloomFamily = {
    val written = writeEpoch(deltaKeys, fam.base, fam.buckets,
      fam.capPerBucket, fam.fpp, epoch, prior = fam.epochs)
    fam.copy(epochs = fam.epochs ++ written.map(_ -> epoch))
  }

  /** Delete bucket files (and then-empty epoch dirs) no longer
    * referenced by `fam.epochs` — the files superseded by merges and
    * rebuilds. Safe to run right after a build/merge completes and
    * before the new family is handed to a probe: the driver sequences
    * rounds, so no in-flight task still probes a superseded epoch.
    * Returns the number of files deleted.
    */
  def gcEpochs(fam: BloomFamily): Int = {
    val basePath = new Path(fam.base)
    val fs = basePath.getFileSystem(new Configuration())
    if (!fs.exists(basePath)) return 0
    val live: Set[String] = fam.epochs.map { case (b, e) =>
      new Path(bucketPath(fam.base, e, b)).toUri.getPath
    }.toSet
    var deleted = 0
    for (epochDir <- fs.listStatus(basePath) if epochDir.isDirectory &&
        epochDir.getPath.getName.startsWith("epoch-")) {
      var remaining = 0
      for (f <- fs.listStatus(epochDir.getPath)) {
        if (f.getPath.getName.endsWith(".bloom") &&
            !live.contains(f.getPath.toUri.getPath)) {
          if (fs.delete(f.getPath, false)) deleted += 1
        } else remaining += 1
      }
      if (remaining == 0) fs.delete(epochDir.getPath, false)
    }
    deleted
  }
}

/** Bounded per-JVM cache of bucket blooms keyed by (base, epoch,
  * bucket): each executor inflates only the bucket files its tasks
  * probe, once, and old epochs age out as merges supersede them. The
  * bound caps executor memory at ~maxEntries × per-bucket bitset
  * (choose `buckets` so total-bitset ∕ buckets is small — e.g. 90 GB
  * at 4×10^10 capacity over 8192 buckets is ~11 MB per entry).
  * ACCESS-ORDERED (true LRU): a hot bucket re-probed across tasks is
  * never evicted ahead of cold ones (the earlier FIFO queue also
  * leaked its just-loaded key on a victim==key collision, eroding the
  * bound). The bound is [[MaxEntries]]; `get`'s `entries` resizes it
  * (a test hook).
  */
object BucketBloomCache {
  val MaxEntries = 64
  @volatile private var maxEntries = MaxEntries
  private val cache =
    new java.util.LinkedHashMap[String, BloomFilter](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BloomFilter]): Boolean =
        size() > maxEntries
    }

  /** Keys currently cached, hottest last (test hook). */
  private[seen] def snapshotKeys(): Seq[String] = cache.synchronized {
    import scala.jdk.CollectionConverters._
    cache.keySet().asScala.toSeq
  }
  private[seen] def clear(): Unit = cache.synchronized(cache.clear())

  def get(base: String, epoch: Int, bucket: Int,
      entries: Int = MaxEntries): BloomFilter = {
    if (entries != maxEntries && entries > 0) maxEntries = entries
    val key = s"$base|$epoch|$bucket"
    cache.synchronized {
      val hit = cache.get(key) // access-ordered: get() marks it hot
      if (hit != null) return hit
    }
    // load OUTSIDE the lock (a cold miss must not serialize every other
    // thread's hits behind file I/O); a concurrent double-load of the
    // same bucket is harmless — first put wins
    val p = new Path(PartitionedBloom.bucketPath(base, epoch, bucket))
    val fs = p.getFileSystem(new Configuration())
    val in = fs.open(p)
    val loaded = try BloomFilter.readFrom(in) finally in.close()
    cache.synchronized {
      val prev = cache.get(key)
      if (prev != null) prev
      else { cache.put(key, loaded); loaded }
    }
  }
}

/** `mightContain` against a [[PartitionedBloom.BloomFamily]] as a
  * native codegen expression: routes the Long seen-key hash to its
  * bucket (`pmod(h, buckets)`), resolves the bucket's current epoch
  * through the tiny broadcast map, and probes the lazily-loaded bucket
  * bloom. A bucket with no epoch entry has never seen a key → false
  * (definitely new). Mirrors [[BloomMightContain]]'s shape.
  */
case class BucketBloomContains(child: Expression, base: String, buckets: Int,
    epochs: Broadcast[Map[Int, Int]]) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  /** Codegen entry point (called from generated java). */
  def bloomHit(h: Long): Boolean = {
    val b = java.lang.Math.floorMod(h, buckets.toLong).toInt
    epochs.value.get(b) match {
      case None => false
      case Some(e) =>
        BucketBloomCache.get(base, e, b).mightContainLong(h)
    }
  }

  override protected def nullSafeEval(v: Any): Any =
    bloomHit(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketBloomContains", this,
      classOf[BucketBloomContains].getName)
    defineCodeGen(ctx, ev, c => s"$ref.bloomHit($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
