package graftbench

import graft.frontier.{CrawlDriver, CrawlRound}
import graft.model.CrawlConfig
import graft.oracle.RefCrawlOracle
import graft.report.Report
import graft.seen.{PartitionedBloom, UrlSeen}
import graft.synth.{WorldGen, WorldSpec}
import graft.url.UrlExpressions.{url_defrag, url_unquote2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run of one workload in a fresh JVM, driven by
  * `perfbench/run.py`. Every layer is measured from outside: calls into
  * the engine's public functions are timed here, and Spark's listener
  * and rule-timing APIs are registered here. Writes one JSON result
  * (metrics, checks, spans) to `--out`.
  *
  * Usage: graftbench.Main --workload W --seed N --trace 0|1 --out FILE
  *   --work DIR --cores N [--queries none|ops|crawl] [--query-data DIR]
  *   [--query-ref FILE] [--setup-only 1]
  *
  * With `--setup-only 1` the JVM only sets up (session and world) and
  * writes when it was ready, so the caller can time cold set-ups
  * without warming the JVM that crawls.
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean, out: String,
      work: String, cores: Int, queries: String, queryData: String, queryRef: Option[String],
      setupOnly: Boolean)

  /** What a workload crawls, and in which session. */
  final case class Setup(spark: SparkSession, sessionS: Double, seedTable: DataFrame,
      crawl: String => CrawlDriver.CrawlRun, oracle: () => RefCrawlOracle.CrawlOutput)

  private def now(): Long = System.nanoTime()
  private def sec(t0: Long): Double = (now() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv.getOrElse("trace", "0") == "1",
      kv("out"), kv("work"), kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("queries", "none"), kv.getOrElse("query-data", ""), kv.get("query-ref"),
      kv.getOrElse("setup-only", "0") == "1")
    val res = try { if (o.setupOnly) setupOnly(o) else run(o) } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(3)
    }
    Files.writeString(Paths.get(o.out), res)
    // the caller deletes the work dir: skip Spark's shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  // ---- sessions ------------------------------------------------------

  private def baseBuilder(o: Opts, app: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[${o.cores}]").appName(app)
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")

  /** Bench.scala's crawl session: fixed shuffle partitions, small
    * file splits, no AQE, no auto-broadcast. */
  private def wideSession(o: Opts): SparkSession = baseBuilder(o, "perfbench-wide")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "65536")
    .getOrCreate()

  /** The session SparkEntry runs its own 40-doc crawl in: on a tiny
    * world the driver's per-round planning is the runtime, so
    * expressions are interpreted and constraint propagation is off.
    * About half the parity suite's per-round cost, so a run fits five
    * warm rounds. */
  private def tinyWorldSession(o: Opts): SparkSession = baseBuilder(o, "perfbench-deep")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.codegen.wholeStage", "false")
    .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    .config("spark.sql.constraintPropagation.enabled", "false")
    .getOrCreate()

  // ---- workloads -----------------------------------------------------

  val WideDocs = 1000
  val DeepRounds = 6
  val DeepCompactEvery = 3

  private def setup(o: Opts): Setup = o.workload match {
    case "wide-frontier" =>
      val t0 = now()
      val spark = wideSession(o)
      val sessionS = sec(t0)
      val n = WideDocs
      val spec = WorldSpec("bench", seed = o.seed, nHosts = math.max(64, n / 500), nDocs = n,
        hotPct = 20, linkFan = 10, heavyText = 2)
      val w = WorldGen.sparkWorld(spark, spec)
      val world = CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(), w.hosts.toDF(),
        w.rules.toDF(), null)
      import spark.implicits._
      val seedSrc = spark.range(n.toLong).map(d => (d, WorldGen.docUrl(spec, d))).toDF("i", "raw")
      val cfg = CrawlConfig(seeds = Nil, acceptedTypes = Seq("text/html", "image/png"),
        maxRounds = 3)
      Setup(spark, sessionS, seedSrc,
        dir => CrawlDriver.crawl(spark, world, cfg, dir, bloomMinSeen = 0L,
          seedSource = Some(seedSrc), seedCountHint = Some(n.toLong)),
        () => RefCrawlOracle.crawl(WorldGen.localWorld(spec),
          cfg.copy(seeds = (0L until n).map(d => WorldGen.docUrl(spec, d)))))
    case "deep-rounds" =>
      val t0 = now()
      val spark = tinyWorldSession(o)
      val sessionS = sec(t0)
      val spec = WorldSpec("deep-slow", seed = o.seed, nHosts = 2, nDocs = 44, hotPct = 50,
        slowEvery = 2, slowDelayS = 12.0)
      val w = WorldGen.sparkWorld(spark, spec)
      val world = CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(), w.hosts.toDF(),
        w.rules.toDF(), null)
      // every doc seeded, so each seed's world is crawled whole: the slow
      // host then has a fetch queued in every round
      val cfg = CrawlConfig(seeds = (0L until spec.nDocs).map(d => WorldGen.docUrl(spec, d)),
        acceptedTypes = Seq("text/html", "image/png"), maxRounds = DeepRounds)
      import spark.implicits._
      Setup(spark, sessionS, cfg.seeds.toDF("raw"),
        dir => CrawlDriver.crawl(spark, world, cfg, dir, bloomMinSeen = 0L,
          compactEvery = DeepCompactEvery),
        () => RefCrawlOracle.crawl(WorldGen.localWorld(spec), cfg))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- the run -------------------------------------------------------

  /** Set-up once, cold: session and world. Returns the set-up, when it
    * was ready (epoch ms) and its session and world seconds. */
  private def coldSetup(o: Opts): (Setup, Long, Double, Double) = {
    val t0 = now()
    val s = setup(o)
    val all = sec(t0)
    (s, System.currentTimeMillis(), s.sessionS, all - s.sessionS)
  }

  def setupOnly(o: Opts): String = {
    val (_, readyMs, sessionS, worldS) = coldSetup(o)
    s"""{"ready_ms":$readyMs,"session_s":$sessionS,"world_s":$worldS}"""
  }

  def run(o: Opts): String = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val spans = mutable.ArrayBuffer.empty[Span]
    val wall0 = System.currentTimeMillis()

    // set-up, once: the crawl below must run in a JVM that has done
    // nothing else. The caller times more cold set-ups in JVMs of their own.
    val (s, readyMs, sessionS, worldS) = coldSetup(o)
    val spark = s.spark
    spark.sparkContext.setLogLevel("ERROR")
    m("setup.session_s") = sessionS
    m("setup.world_s") = worldS

    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val jobsL = if (o.trace) Some(new JobListener) else None
    val phasesL = if (o.trace) Some(new PhaseListener) else None
    jobsL.foreach(spark.sparkContext.addSparkListener)
    phasesL.foreach(spark.listenerManager.register)
    def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()

    // ---- the timed crawl
    val dir = s"${o.work}/snapshot"
    drain()
    val heap = HeapPeak.install()
    val roundHeap = new RoundHeap(dir)
    val cpu0 = cpu.cpuNs
    val crawlStartMs = System.currentTimeMillis()
    val t0 = now()
    val run = s.crawl(dir)
    val fetched = run.crawlOrder.count()
    val crawlS = sec(t0)
    val crawlEndMs = System.currentTimeMillis()
    heap.stop()
    val peakHeap = roundHeap.stop()
    drain()
    m("crawl_s") = crawlS
    m("frontier.urls_per_s") = fetched / crawlS
    m("cpu_s") = (cpu.cpuNs - cpu0) / 1e9
    val (ruleS, perRule) = Trace.ruleTimes()
    checks += ("crawl.fetched>0" -> (fetched > 0))

    val commits = (-1 to run.lastRound).map(k => new File(s"$dir/round=$k/MANIFEST.json"))
      .filter(_.isFile).map(_.lastModified())
    // round durations: each commit from the previous one, the bootstrap
    // (round -1) from crawl start. The median is over the rounds after the
    // bootstrap, which does different work (seed canonicalization).
    // Round 0 is the first to run a round's jobs in this JVM and pays its
    // JIT and code generation: a deep crawl's median passes over it, a
    // crawl of rounds 0 and 1 alone averages them.
    val bounds = crawlStartMs +: commits
    val roundS = bounds.zip(bounds.drop(1)).map { case (a, b) => (b - a) / 1e3 }
    val rounds = roundS.drop(1)
    checks += ("crawl.rounds>0" -> rounds.nonEmpty)
    m("round_s_p50") = Trace.median(rounds)
    m("peak_heap_mb") = peakHeap / 1048576.0
    m("heap.post_gc_peak_mb") = heap.peakBytes / 1048576.0

    // ---- output check against the serial reference crawl
    val tO = now()
    val oracle = s.oracle()
    Parity.check(oracle, run).foreach { case (k, ok) => checks += (s"parity.$k" -> ok) }
    checks += ("parity.fetched" -> (fetched == oracle.crawlOrder.size.toLong))
    val checkS = sec(tO)
    val walls = Seq("setup" -> (sessionS + worldS), "crawl" -> crawlS, "check" -> checkS)

    // ---- traced run: per-layer numbers, measured after the untraced part
    if (o.trace) {
      val jl = jobsL.get
      m("catalyst.rule_s") = ruleS
      m("catalyst.rule.DeduplicateRelations_s") = perRule.getOrElse("DeduplicateRelations", 0.0)
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"catalyst.${p}_s") = phasesL.get.seconds(p)
      }
      crawlLayer(m, spans, jl, run, crawlStartMs, crawlEndMs, commits)
      reportLayer(m, spans, checks, run)
      urlLayer(m, spans, s.seedTable)
      storeLayer(m, spans, run, dir)
      seenLayer(m, spans, checks, spark, run, o.work)
      if (o.queries != "none") queryLayer(m, spans, checks, spark, o)
      drain()
      m("trace.listener_s") = jl.selfSeconds
    }

    val failed = checks.count(!_._2)
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val metricsJson = m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val checksJson = checks.map { case (k, ok) => "\"" + k + "\":" + ok }.mkString("{", ",", "}")
    val spansJson = spans.map { sp =>
      val attrs = sp.attrs.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
      s"""{"name":"${esc(sp.name)}","layer":"${sp.layer}","start_ms":${num(sp.startMs)},""" +
        s""""end_ms":${num(sp.endMs)},"parent":"${esc(sp.parent)}","attrs":$attrs}"""
    }.mkString("[", ",", "]")
    s"""{"workload":"${o.workload}","seed":${o.seed},"ready_ms":$readyMs,"fetched":$fetched,""" +
      s""""rounds":${commits.size},"attempted":${checks.size},"failed":$failed,""" +
      s""""walls":${walls.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")},""" +
      s""""round_s":${roundS.map(num).mkString("[", ",", "]")},""" +
      s""""heap_mb":${roundHeap.samples.map(b => num(b / 1048576.0)).mkString("[", ",", "]")},""" +
      s""""check_s":${num(checkS)},"wall_s":${num((System.currentTimeMillis() - wall0) / 1e3)},""" +
      s""""metrics":$metricsJson,"checks":$checksJson,"spans":$spansJson,""" +
      s""""queries":${digests.map { case (k, (n, h)) => s""""$k":{"rows":$n,"hash":"$h"}""" }
        .mkString("{", ",", "}")}}"""
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\t", " ")

  private def timed[T](spans: mutable.ArrayBuffer[Span], name: String, layer: String)(f: => T): (T, Double) = {
    val w = System.currentTimeMillis()
    val t = now()
    val r = f
    val d = sec(t)
    spans += Span(name, layer, w, w + d * 1e3)
    (r, d)
  }

  /** Median of three timed calls (the first pays the JIT). */
  private def median3[T](spans: mutable.ArrayBuffer[Span], name: String, layer: String)(f: => T): (T, Double) = {
    val rs = (0 until 3).map(_ => timed(spans, name, layer)(f))
    (rs.last._1, Trace.median(rs.map(_._2)))
  }

  // ---- frontier + executors, from the listener and the manifests
  private def crawlLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      jl: JobListener, run: CrawlDriver.CrawlRun,
      startMs: Long, endMs: Long, commits: Seq[Long]): Unit = jl.synchronized {
    spans += Span("crawl", "frontier", startMs, endMs)
    val bounds = startMs +: commits
    val roundNames = (-1 to run.lastRound).take(commits.size).map(k => s"round=$k")
    roundNames.zipWithIndex.foreach { case (r, i) =>
      spans += Span(r, "frontier", bounds(i), bounds(i + 1), parent = "crawl")
    }
    val jobs = jl.jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs && j.endMs >= 0)
    val phase = Trace.phases(jobs.map(j => j.id -> j.details).toSeq)
    jobs.foreach { j =>
      val i = bounds.lastIndexWhere(_ <= j.startMs)
      val parent = if (i >= 0 && i < roundNames.size) roundNames(i) else "crawl"
      spans += Span(s"job ${j.id}: ${j.site}", "job", j.startMs, j.endMs, parent,
        Map("phase" -> phase(j.id), "frames" -> Trace.engineFrames(j.details).take(3).mkString(" < ")))
    }
    val rounds = commits.size
    val intervals = bounds.zip(bounds.drop(1)).map { case (a, b) => (b - a) / 1e3 }
    m("frontier.rounds") = rounds
    m("frontier.round_s_max") = if (intervals.isEmpty) 0.0 else intervals.max
    m("frontier.first_commit_s") = commits.headOption.map(c => (c - startMs) / 1e3).getOrElse(0.0)
    val jobWall = Trace.unionLen(jobs.map(j => (j.startMs, j.endMs)).toSeq, startMs, endMs)
    m("frontier.jobs") = jobs.size
    m("frontier.jobs_per_round") = if (rounds > 0) jobs.size.toDouble / rounds else 0.0
    m("frontier.job_wall_s") = jobWall / 1e3
    m("frontier.driver_gap_s") = (endMs - startMs - jobWall) / 1e3
    Seq("prep", "forcing", "probe", "write", "bloom", "compact").foreach { p =>
      m(s"phase.${p}_s") = jobs.filter(j => phase(j.id) == p)
        .map(j => j.endMs - j.startMs).sum / 1e3
    }
    val tasks = jl.tasks.filter(t => t.finishMs >= startMs && t.finishMs <= endMs).toSeq
    m("frontier.stages") = tasks.map(_.stageId).distinct.size
    m("frontier.tasks") = tasks.size
    m("exec.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    m("exec.task_s") = tasks.map(_.runMs).sum / 1e3
    m("exec.wait_s") = tasks.map(t => math.max(0.0, t.runMs / 1e3 - t.cpuNs / 1e9)).sum
    m("exec.deser_s") = tasks.map(_.deserMs).sum / 1e3
    m("exec.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("exec.shuffle_write_mb") = tasks.map(_.shufWrite).sum / 1048576.0
    m("exec.shuffle_read_mb") = tasks.map(_.shufRead).sum / 1048576.0
    m("exec.spill_mb") = tasks.map(_.spill).sum / 1048576.0
    m("exec.task_skew") = Trace.median(tasks.groupBy(_.stageId).values
      .filter(_.size >= 2).map { ts =>
        val rs = ts.map(_.runMs.toDouble)
        rs.max / math.max(Trace.median(rs), 1.0)
      }.toSeq)
  }

  // ---- report: the six report calls over the finished crawl, each
  // timed as the median of three passes (the first pass is cold)
  private def reportLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      checks: mutable.ArrayBuffer[(String, Boolean)], run: CrawlDriver.CrawlRun): Unit = {
    val reports: Seq[(String, DataFrame)] = Seq(
      "defectTypes" -> Report.defectTypes(run), "invalidLinks" -> Report.invalidLinks(run),
      "otherDefects" -> Report.otherDefects(run), "linkReport" -> Report.linkReport(run),
      "linkStats" -> Report.linkStats(run), "parentIds" -> Report.parentIds(run))
    val passes = (0 until 3).map { pass =>
      reports.map { case (name, df) =>
        val (ok, d) = timed(spans, name, "report") {
          try { df.count(); true } catch {
            case e: Exception => System.err.println(s"[perfbench] report $name: $e"); false
          }
        }
        checks += (s"report.$name.$pass" -> ok)
        name -> d
      }.toMap
    }
    val perCall = reports.map { case (name, _) => name -> Trace.median(passes.map(_(name))) }
    perCall.foreach { case (name, d) => m(s"report.${name}_s") = d }
    m("report_s") = perCall.map(_._2).sum
  }

  // ---- url: canonicalization of the seed table
  private def urlLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      seeds: DataFrame): Unit = {
    val (_, d) = median3(spans, "url_unquote2+url_defrag", "url") {
      seeds.select(url_defrag(url_unquote2(col("raw"))).as("c"))
        .agg(count(lit(1)), sum(xxhash64(col("c")).cast("decimal(20,0)"))).head()
    }
    m("url.canon_s") = d
  }

  // ---- checkpoint: store size and read-back of every kind
  private val kinds = Seq("frontier", "accepted", "transactions", "links", "defects",
    "host_state", "dup_state", "known_maps", "headers", "cookies", "params", "lineage")

  private def storeLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      run: CrawlDriver.CrawlRun, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.contains("/round=")).toSeq
    m("store.files") = files.size
    m("store.bytes_mb") = files.map(p => Files.size(p)).sum / 1048576.0
    val (_, d) = median3(spans, "kindUnion(all kinds)", "checkpoint") {
      kinds.map(k => run.store.kindUnion(run.lastRound, k).map(_.count()).getOrElse(0L)).sum
    }
    m("store.read_s") = d
    val lin = (-1 to run.lastRound)
      .filter(k => new File(s"$dir/round=$k/MANIFEST.json").isFile)
      .flatMap(k => run.store.readLineage(k))
    def tot(name: String) = lin.collect { case (`name`, _, c) => c }.sum
    val disc = tot("discovered")
    m("seen.dup_ratio") = if (disc > 0) 1.0 - tot("deduped").toDouble / disc else 0.0
  }

  // ---- seen: the dedupe three ways, the bloom and the family on the
  // finished crawl's seen set. Candidates are every seen key plus as
  // many fresh ones, so the exact answer is the fresh half.
  private def seenLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      checks: mutable.ArrayBuffer[(String, Boolean)], spark: SparkSession,
      run: CrawlDriver.CrawlRun, work: String): Unit = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val seen = run.seen.select("uri", "method").persist(level)
    val nSeen = seen.count()
    val cands = seen.unionByName(
      seen.select(concat(col("uri"), lit("?fresh")).as("uri"), col("method"))).persist(level)
    cands.count()
    def dedupe(pf: Option[UrlSeen.SeenPrefilter]): Long =
      UrlSeen.dedupeAgainstSeen(cands, Seq(seen), "uri", "method", pf).count()
    val key = UrlSeen.seenKey(col("uri"), col("method"))

    val (nExact, dExact) = median3(spans, "dedupeAgainstSeen(exact)", "seen")(dedupe(None))
    val (bytes, dBuild) = median3(spans, "buildBloom", "seen")(UrlSeen.buildBloom(seen, key, nSeen))
    val single = UrlSeen.SingleBloomPrefilter(bytes)
    val (nBloom, dBloom) = median3(spans, "dedupeAgainstSeen(single bloom)", "seen")(dedupe(Some(single)))
    val maybe = cands.select(single.might(col("uri"), col("method"), spark).cast("double").as("m"))
      .agg(avg(col("m"))).head().getDouble(0)

    // the family: built over half the keys, the other half merged in
    val keys = seen.select(key.as("k"))
    val buckets = 16
    val cap = math.max(64L, 2L * nSeen / buckets)
    var epoch = 0
    val (fam0, dFam) = median3(spans, "PartitionedBloom.build", "seen") {
      epoch += 1
      PartitionedBloom.build(keys.filter(pmod(col("k"), lit(2)) === 0), s"$work/family-$epoch",
        buckets, cap)
    }
    val (fam, dMerge) = median3(spans, "PartitionedBloom.merge", "seen") {
      epoch += 1
      PartitionedBloom.merge(keys.filter(pmod(col("k"), lit(2)) =!= 0), fam0, epoch)
    }
    val (nFam, dFamDedupe) = median3(spans, "dedupeAgainstSeen(family)", "seen")(
      dedupe(Some(fam.prefilter)))

    m("seen.dedupe_exact_s") = dExact
    m("seen.bloom_build_s") = dBuild
    m("seen.dedupe_bloom_s") = dBloom
    m("seen.maybe_frac") = maybe
    m("seen.family_build_s") = dFam
    m("seen.family_merge_s") = dMerge
    m("seen.dedupe_family_s") = dFamDedupe
    checks += ("seen.exact" -> (nExact == nSeen))
    checks += ("seen.single_bloom" -> (nBloom == nSeen))
    checks += ("seen.family" -> (nFam == nSeen))
    seen.unpersist(); cands.unpersist()
  }

  // ---- ops + streaming: every SparkEntry query, counted and digested
  /** (rows, hash) of every query run, reported with the result */
  private val digests = mutable.LinkedHashMap.empty[String, (Long, String)]

  private def queryLayer(m: mutable.Map[String, Double], spans: mutable.ArrayBuffer[Span],
      checks: mutable.ArrayBuffer[(String, Boolean)], spark: SparkSession, o: Opts): Unit = {
    val dataDir = o.queryData
    // Bench.scala's query session settings
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.shuffle.partitions", o.cores.toString)
    val ref: Map[String, (Long, String)] = o.queryRef.filter(p => new File(p).isFile).map { p =>
      """"([a-z0-9_]+)":\{"rows":(\d+),"hash":"(-?\d+)"\}""".r
        .findAllMatchIn(Files.readString(Paths.get(p)))
        .map(x => x.group(1) -> (x.group(2).toLong, x.group(3))).toMap
    }.getOrElse(Map.empty)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    var total = 0.0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => name.startsWith("crawl_") == (o.queries == "crawl") }
      .foreach { case (name, fn) =>
      val (r, d) = timed(spans, name, "ops") {
        try Some(Queries.digest(fn(spark, dataDir)))
        catch { case e: Throwable => System.err.println(s"[perfbench] query $name: $e"); None }
      }
      m(s"q.${name}_s") = d
      total += d
      r.foreach(got(name) = _)
      checks += (s"q.$name" -> r.exists(x => ref.get(name).contains(x)))
    }
    m(s"q.${o.queries}_total_s") = total
    checks += ("q.reference" -> ref.nonEmpty)
    digests ++= got
  }
}
