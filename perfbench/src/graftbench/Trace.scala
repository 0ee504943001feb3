package graftbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer

/** A span held in memory until the run ends: `parent` names the span
  * that caused it (the crawl for a round, the round for a job).
  */
final case class Span(name: String, layer: String, startMs: Double, endMs: Double,
    parent: String = "", attrs: Map[String, String] = Map.empty)

/** Executor CPU time of every finished task: the one listener the
  * untraced run registers (it feeds the end-to-end `cpu_s`).
  */
final class CpuListener extends SparkListener {
  @volatile var cpuNs = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => synchronized { cpuNs += m.executorCpuTime })
}

/** Peak live heap while installed: the largest heap occupancy left after
  * any collection (every heap pool's usage after the GC, summed), from
  * the JVM's GC notifications. Executors share the driver's JVM in local
  * mode, so this covers both.
  */
final class HeapPeak private () extends NotificationListener {
  import scala.jdk.CollectionConverters._
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = 0L

  def peakBytes: Long = peak

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

object HeapPeak {
  def install(): HeapPeak = {
    val h = new HeapPeak
    h.emitters.foreach(_.addNotificationListener(h, null, null))
    h
  }
}

/** Live heap at every round commit. A watcher thread waits for each
  * round's `MANIFEST.json` under the snapshot dir, then runs a full
  * collection and reads the heap in use; the peak is the largest sample.
  * What one round hands the next (cached and checkpointed state, the
  * lineage, broadcasts) is live at that point. The JVM skips a requested
  * collection while a thread holds a JNI critical region (the parquet
  * writer's compression does), so a sample is taken only once the
  * full-collection count has moved.
  */
final class RoundHeap(dir: String) {
  import scala.jdk.CollectionConverters._
  private val mem = ManagementFactory.getMemoryMXBean
  private val fullCollectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .filter(_.getName.contains("Old"))
  @volatile private var running = true
  private var next = -1
  /** heap in use after the full collection at each commit, in round order */
  val samples = ArrayBuffer.empty[Long]

  private def fullCollections: Long = fullCollectors.map(_.getCollectionCount).sum
  private def committed: Boolean = new java.io.File(s"$dir/round=$next/MANIFEST.json").isFile
  private def sample(): Unit = {
    val before = fullCollections
    System.gc()
    var retries = 0
    while (fullCollections == before && fullCollectors.nonEmpty && retries < 1000) {
      Thread.sleep(5); System.gc(); retries += 1
    }
    samples += mem.getHeapMemoryUsage.getUsed
    next += 1
  }
  private val watcher = new Thread(() => {
    while (running) if (committed) sample() else Thread.sleep(10)
  }, "perfbench-round-heap")
  watcher.setDaemon(true)
  watcher.start()

  /** Stops watching (sampling any commit not yet sampled) and returns
    * the peak in bytes. */
  def stop(): Long = {
    running = false
    watcher.join()
    while (committed) sample()
    if (samples.isEmpty) 0L else samples.max
  }
}

/** Job and task records of a traced run, gathered through
  * Spark's own listener API. Each job keeps the long call site of its
  * result stage, which names the engine method that submitted it.
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, site: String, details: String)
  final case class Task(stageId: Int, finishMs: Long, runMs: Long, cpuNs: Long, deserMs: Long,
      gcMs: Long, shufWrite: Long, shufRead: Long, spill: Long)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  /** time spent inside this listener's callbacks (its own cost) */
  var selfNs = 0L

  def selfSeconds: Double = synchronized(selfNs.toDouble) / 1e9

  private def timed(f: => Unit): Unit = synchronized {
    val t = System.nanoTime(); f; selfNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs += Job(e.jobId, e.time, -1L, last.map(_.name).getOrElse(""),
      last.map(_.details).getOrElse(""))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(e.taskMetrics).foreach { m =>
      tasks += Task(e.stageId, e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.executorDeserializeTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Analyzer/optimizer/planner phase time of every executed action,
  * read from each QueryExecution's planning tracker.
  */
final class PhaseListener extends QueryExecutionListener {
  val phaseMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def seconds(phase: String): Double = synchronized(phaseMs(phase).toDouble) / 1e3
}

object Trace {

  /** Catalyst rule time since the last reset: (total seconds, seconds
    * per rule simple name), parsed from RuleExecutor's metering dump.
    */
  def ruleTimes(): (Double, Map[String, Double]) = {
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    val total = RuleExecutor.getCurrentMetrics().time / 1e9
    val perRule = RuleExecutor.dumpTimeSpent().linesIterator.flatMap { l =>
      l.trim.split("\\s+") match {
        case Array(name, _, "/", totalNs, _*) if name.contains('.') && totalNs.forall(_.isDigit) =>
          Some(name.split('.').last -> totalNs.toLong / 1e9)
        case _ => None
      }
    }.toMap
    (total, perRule)
  }

  /** The engine's frames in a job's long call site, innermost first. */
  def engineFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq

  /** Crawl phase of each job (in submission order), from the long call
    * site of its result stage, i.e. the engine method that submitted it.
    * A job with no engine frame (a broadcast built on Spark's own
    * thread) belongs to the next job that has one: the job whose plan
    * needed the broadcast.
    */
  def phases(jobs: Seq[(Int, String)]): Map[Int, String] = {
    def own(details: String): Option[String] = {
      val graft = engineFrames(details)
      val action = details.linesIterator.map(_.trim).toSeq.headOption.getOrElse("")
      def in(s: String) = graft.exists(_.contains(s))
      if (graft.isEmpty && details.contains("graftbench.")) Some("readback")
      else if (graft.isEmpty) None
      else if (in("SnapshotStore.writeDelta")) Some("write")
      else if (in("graft.seen.")) Some("bloom")
      else if (in("compact$")) Some("compact")
      else if (in("bootstrap") || in("pinWorld$")) Some("prep")
      else if (graft.head.contains("CrawlDriver") && action.contains(".collect(")) Some("forcing")
      else if (graft.head.contains("CrawlDriver$.crawl(") && action.contains(".count("))
        Some("count")
      else Some("prep")
    }
    // a count in the crawl loop itself: after compaction it checks the
    // compacted state; after a round's forcing job it is the probe that
    // pins next-round state; before any round it is preparation
    var last = "prep"
    var forced = false
    val mine = jobs.sortBy(_._1).map { case (id, d) =>
      val p = own(d).map {
        case "count" => if (last == "compact") "compact" else if (forced) "probe" else "prep"
        case q => q
      }
      p.foreach { q => last = q; forced ||= q == "forcing" }
      id -> p
    }
    mine.zipWithIndex.map { case ((id, p), i) =>
      id -> p.orElse(mine.drop(i + 1).collectFirst { case (_, Some(q)) => q }).getOrElse("prep")
    }.toMap
  }

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0L; var curS = -1L; var curE = -1L
    c.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) tot += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) tot += curE - curS
    tot
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
