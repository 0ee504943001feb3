package graft.frontier

import graft.seen.{PartitionedBloom, UrlSeen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.util.sketch.BloomFilter

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The crawl's URL-seen prefilter, maintained incrementally across
  * rounds. A bloom MISSING a seen key would wrongly bypass the exact
  * anti-join, so every state covers all deltas up to the previous round;
  * an oversize seen set only raises the false-positive rate, which costs
  * exact-verify work, never correctness.
  *
  * One rule rebuilds it from the whole seen table: when the round
  * compacted and the seen count grew since the last rebuild, when the
  * seen count passed the single bloom's capacity, or when the seen count
  * first reached `bloomMinSeen` (below it the prefilter is off). Every capacity comes from the seen count: a
  * rebuild at `seen` keys takes one bloom of 4× `seen` (floor 1,024
  * keys) while that bitset is within `budgetBytes`, else the
  * bucket-sharded file family ([[PartitionedBloom]], epoch dirs under
  * `familyBase`, keyed by the round that wrote them) at 4× `seen` ∕
  * `buckets` per bucket. Between rebuilds each round's delta bloom
  * merges bit-for-bit into the single bloom, or, past the budget, into a
  * small "recent" bloom OR'd with the family
  * ([[UrlSeen.CompositePrefilter]]), so the family is written once per
  * compaction window, never per round (a per-round write touches every
  * bucket once delta ≫ buckets).
  *
  * Builds and merges run ASYNCHRONOUSLY on one daemon thread, so a
  * round's bloom job overlaps the next round's plan construction and
  * forcing job; [[current]] blocks only where the dedup stage needs the
  * bytes. Construction dispatches the initial build over `seen0` (the
  * whole recovered seen table) at epoch `epoch0`.
  */
private[frontier] final class SeenPrefilterState(bloomMinSeen: Long,
    compactEvery: Int, budgetBytes: Long, buckets: Int, familyBase: String,
    seenCount0: Long, seen0: => DataFrame, epoch0: Int) {

  private val ec = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-bloom-merge"); t.setDaemon(true); t
    }))
  private val minSeen = math.max(bloomMinSeen, 1L)
  private val MinCap = 1024L
  // the seen count at the last rebuild
  private var built = 0L
  // the seen count past which `absorb` rebuilds outside compaction: the
  // single bloom's capacity; 0 before the first build; unbounded for the
  // family, which is rebuilt at compaction only
  private var cap = 0L
  private var bloomFut: Future[Option[BloomFilter]] = Future.successful(None)
  private var famFut: Future[Option[PartitionedBloom.BloomFamily]] =
    Future.successful(None)
  // family mode: the recent bloom over the deltas since the last
  // rebuild, one capacity per window so mergeInPlace composes
  private var recentCap = 0L
  private var recentFut: Future[Option[BloomFilter]] = Future.successful(None)

  if (seenCount0 >= minSeen) rebuild(seen0, epoch0, seenCount0)

  private def bloomOf(seen: DataFrame, cap: Long): BloomFilter =
    UrlSeen.deserialize(UrlSeen.buildBloom(seen,
      UrlSeen.seenKey(col("uri"), col("method")), cap))

  private def bytes(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  /** Full build from the whole seen table (`seenCount` keys): past the
    * budget the single bitset is undeliverable and an under-sized
    * bloom's FP rate → 1, so the family takes over.
    */
  private def rebuild(seen: DataFrame, epoch: Int, seenCount: Long): Unit = {
    val keys = 4L * seenCount
    built = seenCount
    recentCap = 0L
    recentFut = Future.successful(None)
    if (UrlSeen.bloomWithinBudget(keys, budgetBytes = budgetBytes)) {
      cap = math.max(keys, MinCap)
      val c = cap
      bloomFut = Future(Some(bloomOf(seen, c)))(ec)
      famFut = Future.successful(None)
    } else {
      cap = Long.MaxValue
      bloomFut = Future.successful(None)
      famFut = Future({
        val f = PartitionedBloom.build(
          seen.select(UrlSeen.seenKey(col("uri"), col("method")).as("k")),
          familyBase, buckets, math.max(64L, keys / buckets), epoch = epoch)
        PartitionedBloom.gcEpochs(f) // superseded epochs die with the build
        Some(f)
      })(ec)
    }
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
    * round.
    */
  def absorb(round: Int, delta: DataFrame, deltaCount: Long, seenCount: Long,
      seenAll: DataFrame, compacted: Boolean): Unit = {
    val prevBloom = Await.result(bloomFut, Duration.Inf)
    val prevFam = Await.result(famFut, Duration.Inf)
    if (seenCount >= minSeen && (compacted && seenCount > built || seenCount > cap))
      rebuild(seenAll, round, seenCount)
    else if (deltaCount > 0) (prevBloom, prevFam) match {
      case (Some(b), _) =>
        val c = cap
        bloomFut = Future({ b.mergeInPlace(bloomOf(delta, c)); Some(b) })(ec)
      case (None, Some(_)) =>
        // a window's first delta sizes its recent bloom for the whole
        // window, clamped to the budget (an under-sized recent bloom
        // only raises its FP rate)
        if (recentCap <= 0)
          recentCap = math.min(
            math.max(4L * deltaCount * math.max(compactEvery, 1), MinCap),
            math.max(budgetBytes * 8L * 10L / 192L, MinCap))
        val c = recentCap
        val prevRecent = Await.result(recentFut, Duration.Inf)
        recentFut = Future({
          val d = bloomOf(delta, c)
          Some(prevRecent match {
            case Some(r) => r.mergeInPlace(d); r
            case None => d
          })
        })(ec)
      case _ => ()
    }
  }

  /** Stops the maintenance thread; an in-flight build finishes first. */
  def close(): Unit = ec.shutdown()
}
