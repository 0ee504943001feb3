package graft.frontier

import graft.seen.{PartitionedBloom, UrlSeen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shim.unionByName
import org.apache.spark.util.sketch.BloomFilter

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The crawl's URL-seen prefilter, maintained incrementally across
  * rounds. A bloom MISSING a seen key would wrongly bypass the exact
  * anti-join, so every state covers all deltas up to the previous round;
  * an oversize seen set only raises the false-positive rate, which costs
  * exact-verify work, never correctness.
  *
  * Within the broadcast budget it is one bloom sized by observed load: 4×
  * the seen count it was built at (floor 1,024 keys), per-round delta
  * blooms merge into it bit-for-bit, and it is rebuilt at 4× the seen
  * count once that passes its capacity (a fixed 2^20-key floor made
  * every small crawl carry a 2.4 MB bitset, re-copied each round into
  * bytes, a broadcast and executor cache entries). Past the budget, the bucket-sharded
  * file family ([[PartitionedBloom]]), whose epoch dirs live under
  * `familyBase`, keyed by the round that wrote them. The family merges
  * once per compaction window (a per-round merge touches every bucket
  * once delta ≫ buckets — a full family rewrite per round at the 10^10
  * design point); meanwhile the window's deltas ride a small
  * fixed-capacity "recent" bloom OR'd with the family
  * ([[UrlSeen.CompositePrefilter]]).
  *
  * Builds and merges run ASYNCHRONOUSLY on one daemon thread, so a
  * round's bloom job overlaps the next round's plan construction and
  * forcing job; [[current]] blocks only where the dedup stage needs the
  * bytes. Construction dispatches the initial build over `seen0` (the
  * whole recovered seen table) at epoch `epoch0`.
  */
private[frontier] final class SeenPrefilterState(useBloom: Boolean,
    bloomMinSeen: Long, compactEvery: Int, budgetBytes: Long, buckets: Int,
    familyBase: String, seenCount0: Long, seen0: => DataFrame, epoch0: Int) {

  private val ec = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-bloom-merge"); t.setDaemon(true); t
    }))
  private val minSeen = math.max(bloomMinSeen, 1L)
  // design capacity: decides single bloom vs family against the budget,
  // sizes the family, caps the single bloom; re-sized at compaction
  private var capacity = math.max(4L * minSeen, 1L << 20)
  // the single bloom's own capacity (its delta blooms share it)
  private var bloomCap = 0L
  private var bloomFut: Future[Option[BloomFilter]] = Future.successful(None)
  private var famFut: Future[Option[PartitionedBloom.BloomFamily]] =
    Future.successful(None)
  // family mode: deltas since the last family sync, and the recent bloom
  // over them (same capacity across a window so mergeInPlace composes)
  private val pendingParts = ArrayBuffer.empty[DataFrame]
  private var pendingCount = 0L
  private var recentCap = 0L
  private var recentFut: Future[Option[BloomFilter]] = Future.successful(None)

  if (useBloom && seenCount0 >= minSeen) rebuild(seen0, epoch0, seenCount0)

  private def bloomOf(seen: DataFrame, cap: Long): BloomFilter =
    UrlSeen.deserialize(UrlSeen.buildBloom(seen,
      UrlSeen.seenKey(col("uri"), col("method")), cap))

  private def seenKeys(seen: DataFrame): DataFrame =
    seen.select(UrlSeen.seenKey(col("uri"), col("method")).as("k"))

  private def bytes(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  /** Full build from the whole seen table (`seenCount` keys): the single
    * bloom at 4× the seen count (at most the design capacity) while the
    * design capacity is within the broadcast budget — past it the
    * re-sized bitset is undeliverable and an under-sized bloom's FP rate
    * → 1 — else the bucket family at capacity ∕ buckets per bucket.
    */
  private def rebuild(seen: DataFrame, epoch: Int, seenCount: Long): Unit = {
    if (UrlSeen.bloomWithinBudget(capacity, budgetBytes = budgetBytes)) {
      bloomCap = math.min(math.max(4L * seenCount, 1024L), capacity)
      val cap = bloomCap
      bloomFut = Future(Some(bloomOf(seen, cap)))(ec)
      famFut = Future.successful(None)
    } else {
      bloomFut = Future.successful(None)
      val cap = capacity
      famFut =
        if (buckets <= 0) Future.successful(None)
        else Future({
          val f = PartitionedBloom.build(seenKeys(seen), familyBase, buckets,
            math.max(64L, cap / buckets), epoch = epoch)
          PartitionedBloom.gcEpochs(f) // superseded epochs die with the build
          Some(f)
        })(ec)
    }
  }

  /** Recent-bloom capacity for one window of deltas: this window's
    * actual total when one just closed, else scaled from this round's
    * delta; clamped to the broadcast budget (an under-sized recent bloom
    * only raises its FP rate).
    */
  private def windowCap(deltaCount: Long): Long = {
    val est = math.max(math.max(pendingCount + deltaCount,
      deltaCount * math.max(compactEvery, 1)), bloomMinSeen)
    math.min(math.max(4L * est, 1L << 20),
      math.max(budgetBytes * 8L * 10L / 192L, 1L << 20))
  }

  private def resetWindow(deltaCount: Long): Unit = {
    recentCap = windowCap(deltaCount)
    pendingParts.clear()
    pendingCount = 0L
    recentFut = Future.successful(None)
  }

  /** The prefilter covering every seen key up to the previous round
    * (None: prefilter off); waits for in-flight maintenance.
    */
  def current(): Option[UrlSeen.SeenPrefilter] =
    Await.result(bloomFut, Duration.Inf)
      .map(b => UrlSeen.SingleBloomPrefilter(bytes(b)): UrlSeen.SeenPrefilter)
      .orElse(Await.result(famFut, Duration.Inf).map { fam =>
        Await.result(recentFut, Duration.Inf) match {
          case Some(r) => UrlSeen.CompositePrefilter(fam.prefilter,
            UrlSeen.SingleBloomPrefilter(bytes(r)))
          case None => fam.prefilter
        }
      })

  /** Dispatches the maintenance for round `round`'s accepted delta
    * (`deltaCount` rows, `seenCount` cumulative). `seenAll` is the whole
    * seen table including the delta; `compacted` marks a compaction
    * round. In order of preference: a compaction re-size (capacity ≥ 4×
    * seen keeps the FP rate at design level), the family's batched merge
    * on the compaction cadence, the single bloom's re-size once the seen
    * count passes its capacity, the delta merge, a late first build.
    */
  def absorb(round: Int, delta: DataFrame, deltaCount: Long, seenCount: Long,
      seenAll: DataFrame, compacted: Boolean): Unit = {
    val prevBloom = Await.result(bloomFut, Duration.Inf)
    val prevFam = Await.result(famFut, Duration.Inf)
    if (compacted && useBloom && (prevBloom.isDefined || prevFam.isDefined) &&
        seenCount > capacity / 4) {
      capacity = 4L * seenCount
      resetWindow(deltaCount)
      rebuild(seenAll, round, seenCount)
    } else if (compacted && useBloom && prevFam.isDefined) {
      // all pending delta keys (this round's included) go into the family
      // under ONE new epoch: each touched bucket is read+written once per
      // window, keeping maintenance I/O at O(family) per window
      val fam = prevFam.get
      val pendingKeys = seenKeys(unionByName(pendingParts.toSeq :+ delta))
      resetWindow(deltaCount)
      famFut = Future({
        val merged = PartitionedBloom.merge(pendingKeys, fam, round)
        PartitionedBloom.gcEpochs(merged)
        Some(merged)
      })(ec)
    } else if (useBloom && deltaCount > 0) (prevBloom, prevFam) match {
      case (Some(_), _) if seenCount > bloomCap && bloomCap < capacity =>
        rebuild(seenAll, round, seenCount)
      case (Some(b), _) =>
        val cap = bloomCap
        bloomFut = Future({ b.mergeInPlace(bloomOf(delta, cap)); Some(b) })(ec)
      case (None, Some(_)) =>
        // mid-window: the delta joins the pending set and the recent bloom
        pendingParts += delta
        pendingCount += deltaCount
        if (recentCap <= 0) recentCap = windowCap(deltaCount)
        val cap = recentCap
        val prevRecent = Await.result(recentFut, Duration.Inf)
        recentFut = Future({
          val d = bloomOf(delta, cap)
          Some(prevRecent match {
            case Some(r) => r.mergeInPlace(d); r
            case None => d
          })
        })(ec)
      case (None, None) if seenCount >= minSeen =>
        resetWindow(deltaCount)
        rebuild(seenAll, round, seenCount)
      case _ => ()
    }
  }

  /** Stops the maintenance thread; an in-flight build finishes first. */
  def close(): Unit = ec.shutdown()
}
