package graft.frontier

import graft.checkpoint.SnapshotStore
import graft.checkpoint.SnapshotStore.asDelta
import graft.model._
import graft.url.UrlFuncs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim.unionByName
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** BSP crawl loop: one [[CrawlRound]] per iteration, each committed as a
  * snapshot (SURVEY.md §2.11); resume loads the last complete snapshot.
  * Driver state is O(1) scalars plus the seen-prefilter
  * ([[SeenPrefilterState]]) — frontier/seen/outputs never collect (the
  * only per-round collect is the tiny per-partition lineage table,
  * O(metrics × partitions) rows).
  *
  * Per-round critical path is ONE forcing job (collect the lineage
  * aggregation, which materializes the round's checkpoint/caches and
  * yields every counter the driver needs) plus one small probe job that
  * pins the next round's state. A fresh crawl is seeded by ONE
  * bootstrap, a Dataset pipeline over whichever seed input the caller
  * gives (config entry points or a distributed `seedSource`). Every
  * round, the bootstrap included, hands its durable delta write +
  * manifest commit to one write pipeline: an ordered background thread
  * whose writes are chained, so a failed write fails every later commit
  * and the manifest sequence never has holes. One rule, the crawl's [[Placement]],
  * decides the rest: locally the write OVERLAPS the next round's plan
  * construction and forcing jobs (holding two rounds' caches instead of
  * one) and next-round state re-points at lazily local-checkpointed
  * in-memory deltas (plan-truncated leaves that keep their hash
  * partitioning, so the D1/D4 chains stay Exchange-free); on a cluster
  * the write is awaited and state re-points at the committed parquet,
  * so recovery never depends on executor-local blocks (a cluster
  * overlaps rounds at the storage layer instead). The cumulative
  * URL-seen table is a union of per-round deltas (never re-read from
  * disk), and between compactions the seen prefilter merges each
  * round's accepted delta instead of being rebuilt from a full seen scan.
  */
object CrawlDriver {

  private val frontierCols = Seq("seq", "pos", "uri", "origUri", "depth",
    "srcSeq", "method", "expected", "referer", "dataQ")

  case class CrawlRun(store: SnapshotStore, lastRound: Int, spark: SparkSession) {
    private def unionKind(name: String): DataFrame =
      store.kindUnion(lastRound, name).get
    /** accepted-URL delta (seq, method, canon, decoded, depth, expected,
      * round) — the seen set, aliases and REQUESTED rows project off it.
      */
    def accepted: DataFrame = unionKind("accepted")
      .select("seq", "method", "canon", "decoded", "depth", "expected", "round")
    /** crawl order ≡ the popped frontiers: round k pops frontier(k−1),
      * and popPos ≡ pos (§3.2) — no separate table needed.
      */
    def crawlOrder: DataFrame =
      store.kindUnion(lastRound - 1, "frontier").get
        .select(col("pos").as("popPos"), col("seq"), col("uri"))
    def links: DataFrame = unionKind("links")
      .select("fromSeq", "toUri", "toSeq", "createdAtPop")
    def defects: DataFrame = unionKind("defects")
      .select("popPos", "phase", "responseSeq", "typeName", "evidence",
        "severity", "sub")
    def aliases: DataFrame = accepted.select(col("seq"), col("decoded").as("uri"))
    def seen: DataFrame =
      accepted.select(col("canon").as("uri"), col("method"), col("seq"))
    def hostState: DataFrame =
      store.kindOf(lastRound, "host_state").select("host", "lastVisitS")
    /** G4 header fact rows (seq, name, value) of DONE-OK transactions. */
    def headers: DataFrame = unionKind("headers")
      .select(col("seq"), col("hname").as("name"), col("hvalue").as("value"))
    /** G5 cookie fact rows of 200-fetch transactions (database.py:171-176). */
    def cookies: DataFrame = unionKind("cookies")
      .select(col("seq"), col("cname").as("name"), col("cvalue").as("value"),
        col("csecure").as("secure"), col("chttpOnly").as("httpOnly"),
        col("cpath").as("path"))
    /** G6 param fact rows of accepted pushes (database.py:185-189). */
    def params: DataFrame = unionKind("params")
      .select(col("seq"), col("pkey").as("key"), col("pvalue").as("value"))
    /** transactions: latest row per seq wins (REQUESTED → DONE-*). */
    def transactions: DataFrame = {
      val requested = accepted.select(col("seq"), col("method"),
        col("canon").as("uri"),
        lit(null).cast("int").as("responseStatus"),
        lit(null).cast("string").as("contentType"),
        lit(VerificationStatus.Requested).as("verificationStatus"),
        col("depth"), col("expected"), col("round"))
      val processed = unionKind("transactions").select("seq", "method", "uri",
        "responseStatus", "contentType", "verificationStatus", "depth",
        "expected", "round")
      val all = processed.unionByName(requested)
      all.withColumn("rn", row_number().over(
          Window.partitionBy(col("seq")).orderBy(col("round").desc)))
        .filter(col("rn") === 1).drop("rn", "round")
    }
    /** link processed flag (transaction.py:146-147): a link row is
      * processed iff its target was popped after the row was created.
      */
    def linksWithProcessed: DataFrame = {
      val pops = crawlOrder.groupBy(col("uri").as("toUri"))
        .agg(max(col("popPos")).as("lastPop"))
      links.join(pops, Seq("toUri"), "left")
        .withColumn("processed",
          col("lastPop").isNotNull && col("lastPop") > col("createdAtPop"))
        .select("fromSeq", "toUri", "toSeq", "processed")
    }
  }

  /** Next-round state tables, in the order a round pins them. */
  private case class RoundState(seen: DataFrame, dup: DataFrame,
      maps: DataFrame, host: DataFrame, frontier: DataFrame)

  /** The crawl's one write pipeline (writes + commits run in submission
    * order on one background thread, each chained on its predecessor)
    * and its state re-point. State layout: every cumulative part
    * (compacted table AND per-round delta) is cached HASH-PARTITIONED
    * AND SORTED on its join key — the D1/D4 chains in CrawlRound join
    * the parts one at a time, so the big cumulative side is
    * Exchange-free every round and only the small per-round
    * candidate/current sets shuffle (a union-then-join would re-exchange
    * O(seen) rows per round, the 10^10-scale killer).
    */
  private final class WritePipeline(spark: SparkSession, store: SnapshotStore,
      placement: Placement) {
    val parts: Int = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    private val ec = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "graft-delta-write"); t.setDaemon(true); t
      }))
    private var pending: Future[Unit] = Future.successful(())
    // frees what the pending write reads (caches, per-round host tables
    // and prefilter broadcasts) once it is done
    private var held: () => Unit = () => ()

    def seenSel(df: DataFrame): DataFrame =
      df.select(col("canon").as("uri"), col("method"), col("seq"))
        .repartition(parts, col("uri"))
        .sortWithinPartitions("uri", "method")
    def dupSel(df: DataFrame): DataFrame =
      df.select(col("size"), col("bhash"), col("bhash2"), col("pop"), col("uri"))
        .repartition(parts, col("bhash"))
        .sortWithinPartitions("size", "bhash", "bhash2")
    // the frontier parquet is small, so a bare read lands in ~1 input
    // split — an explicit hash repartition keeps the round's narrow
    // pipeline at full parallelism; partitioning on `uri` doubles as
    // the fetch-join key so the join reuses this exchange
    def frontierSel(df: DataFrame): DataFrame =
      df.select(frontierCols.map(col): _*).repartition(parts, col("uri"))
    val emptyDup: DataFrame = spark.emptyDataFrame
      .select(lit(0L).as("size"), lit(0L).as("bhash"), lit(0L).as("bhash2"),
        lit(0L).as("pop"), lit("").as("uri")).limit(0)
    val emptyMaps: DataFrame = spark.emptyDataFrame.select(lit("").as("uri")).limit(0)
    val emptyHost: DataFrame = spark.emptyDataFrame
      .select(lit("").as("host"), lit(0.0).as("lastVisitS")).limit(0)

    /** Runs `write` (a delta write and its manifest commit) after every
      * earlier one: a failed write fails every later commit, so the
      * manifest sequence never has holes. Locally the write overlaps the
      * caller; on a cluster it has finished on return.
      */
    def dispatch(write: => Unit): Future[Unit] = {
      val w = pending.map(_ => write)(ec)
      if (!placement.local) Await.result(w, Duration.Inf)
      w
    }

    /** Next-round state once round k's write is dispatched: the in-memory
      * tables locally, the committed parquet on a cluster.
      */
    def repoint(round: Int, inMemory: => RoundState): RoundState =
      if (placement.local) inMemory else stored(round, cumulative = false)

    /** State read from the store: round k's own delta, or the union of
      * rounds −1..k (`cumulative`, as a resumed crawl starts).
      */
    def stored(k: Int, cumulative: Boolean): RoundState = {
      def kind(name: String): Option[DataFrame] =
        if (cumulative) store.kindUnion(k, name) else Some(store.kindOf(k, name))
      RoundState(seenSel(kind("accepted").get).persist(MEMORY_AND_DISK),
        kind("dup_state").map(dupSel).getOrElse(emptyDup).persist(MEMORY_AND_DISK),
        kind("known_maps").map(_.select(col("uri"))).getOrElse(emptyMaps)
          .persist(MEMORY_AND_DISK),
        store.kindOf(k, "host_state").select("host", "lastVisitS"),
        frontierSel(store.kindOf(k, "frontier")))
    }

    /** Ends a round: awaits the PREVIOUS write (its failure surfaces here,
      * one round late at most), frees what it read, and holds `release`
      * until `w`, the write that reads what it frees, is done.
      */
    def advance(w: Future[Unit], release: () => Unit): Unit = {
      Await.result(pending, Duration.Inf)
      free()
      held = release
      pending = w
    }

    private def free(): Unit = {
      val f = held
      held = () => ()
      f()
    }

    /** Makes every dispatched write durable and frees what it read. */
    def drain(): Unit = advance(Future.successful(()), () => ())

    /** Stops the write thread once the in-flight write has ended (a
      * failed one has already failed the crawl) and frees what it held.
      */
    def close(): Unit = {
      scala.util.Try(Await.result(pending, Duration.Inf))
      free()
      ec.shutdown()
    }
  }

  /** Seed bootstrap = round −1: replicates push(createTransaction(seed))
    * for every entry point in order (core.py:55-61) as Dataset
    * transformations, so a billion-URL seed list never loops on the
    * driver. Every seed consumes a seq in input order, the first
    * occurrence of a (canon, method) key wins, queue positions are dense
    * over accepted seeds and urlLimit caps the accepted count. Entry
    * points with request data (P15/G6) carry it urlencoded onto the
    * fetch key and, with `recordParams`, into the param table. The round
    * −1 write goes through the write pipeline like any round's (locally
    * it overlaps world prep and round 0); returns the counters and the
    * re-pointed state.
    */
  private def bootstrap(spark: SparkSession, cfg: CrawlConfig,
      store: SnapshotStore, pipe: WritePipeline, seedSource: Option[DataFrame],
      seedCountHint: Option[Long]): (store.Counters, RoundState) = {
    import graft.plans.Ranks
    import graft.url.UrlExpressions._
    import spark.implicits._
    val parts = pipe.parts
    // seed table (i: Long unique ascending, raw, method, dataQ, data).
    // A billion-URL seed list must never exist as a driver Seq: callers
    // at scale pass `seedSource` (columns i, raw), generated/read
    // distributively; config entry points are enumerated, so small. A
    // caller-provided EXACT count skips the max(i) scan job. Exactness
    // matters: the count becomes nextSeq (every seed consumes a seq, dups
    // included), so an over-estimate would shift all later seqs.
    val (seeds, nSeeds) = seedSource match {
      case Some(df) => (df.select(col("i"), col("raw"), lit("GET").as("method"),
          lit(null).cast("string").as("dataQ"),
          lit(null).cast("array<struct<_1:string,_2:string>>").as("data")),
        seedCountHint.getOrElse(df.agg(max(col("i"))).head().getLong(0) + 1L))
      case None =>
        val es = cfg.effectiveSeeds
        (es.zipWithIndex.map { case (e, i) => (i.toLong, e.url, e.method,
            if (e.data.nonEmpty) UrlFuncs.urlencode(e.data) else null, e.data) }
          .toDF("i", "raw", "method", "dataQ", "data"), es.size.toLong)
    }
    // first occurrence per (canon, method) via partial-aggregating
    // groupBy (map-side combine, no per-partition sort); i is unique so
    // min(struct) is the deterministic winner. Cached: the bounded rank's
    // offsets broadcast would otherwise re-execute the seed scan+groupBy
    val first = seeds.withColumn("decoded", url_unquote2(col("raw")))
      .withColumn("canon", url_defrag(col("decoded")))
      .groupBy(col("canon"), col("method"))
      .agg(min(struct(col("i"), col("decoded"), col("dataQ"), col("data"))).as("f"))
      .select(col("f.i").as("i"), col("canon"), col("method"),
        col("f.decoded").as("decoded"), col("f.dataQ").as("dataQ"),
        col("f.data").as("data"))
      .persist(MEMORY_AND_DISK)
    // bounded rank on the known index range — no sampling pass (a
    // repartitionByRange would re-scan the seed set to sample bounds)
    val ranked = Ranks.withBoundedRank(first, Seq(col("i")), "pos",
      col("i"), 0L, nSeeds)
    val limited = cfg.urlLimit match {
      case Some(l) => ranked.filter(col("pos") < l)
      case None => ranked
    }
    val frontier = limited.select(col("i").as("seq"), col("pos"),
      col("canon").as("uri"), col("canon").as("origUri"), lit(0).as("depth"),
      lit(-1L).as("srcSeq"), col("method"), lit(null).cast("string").as("expected"),
      lit(null).cast("string").as("referer"), col("dataQ"))
    val accepted = limited.select(col("i").as("seq"), col("method"),
      col("canon"), col("decoded"), lit(0).as("depth"),
      lit(null).cast("string").as("expected"))
    // G6: the data of accepted entry points (database.py:185-189)
    val params =
      if (!cfg.recordParams) Nil
      else Seq(asDelta("params", -1, limited
        .select(col("i").as("seq"), explode(col("data")).as("p"))
        .select(col("seq"), col("p._1").as("pkey"), col("p._2").as("pvalue"))))
    val delta = unionByName(Seq(asDelta("frontier", -1, frontier),
        asDelta("accepted", -1, accepted),
        asDelta("host_state", -1, spark.emptyDataset[HostState].toDF())) ++ params)
      .coalesce(parts)
    // the accepted-seed count fills the first/limited caches that the
    // write and round 0 both read; they are released once both are done
    val limC = limited.persist(MEMORY_AND_DISK)
    val n = limC.count()
    // nextSeq advances by the true max assigned seq + 1 = nSeeds only
    // when nSeeds is exact; with a hint it must still be ≥ every
    // consumed seq, which i < nSeeds guarantees for ascending i
    val cnt = store.Counters(-1, nSeeds, n, 0L, n, n)
    pipe.advance(pipe.dispatch {
      store.writeDelta(-1, delta)
      store.commit(-1, cnt, Seq(("seeds", 0, n)))
    }, () => Seq(first, limC).foreach(_.unpersist(blocking = false)))
    // bootstrap writes no dup/maps/host rows by construction
    (cnt, pipe.repoint(-1, RoundState(
      pipe.seenSel(accepted).persist(MEMORY_AND_DISK),
      pipe.emptyDup.persist(MEMORY_AND_DISK), pipe.emptyMaps.persist(MEMORY_AND_DISK),
      pipe.emptyHost, pipe.frontierSel(frontier))))
  }

  /** Run (or resume) a crawl; returns a handle over the snapshot dirs.
    *
    * `bloomMinSeen`: the seen count at which the seen prefilter starts
    * (below it the exact anti-join alone dedups; `Long.MaxValue` keeps
    * the prefilter off).
    *
    * `compactEvery`: every K rounds the cumulative seen/dup/known-maps
    * part lists (one cached delta per round) are compacted into a
    * single checkpointed table — without this, logical-plan size,
    * per-round analysis time and cached-block count grow O(rounds) and
    * a deep crawl (hundreds of BSP rounds) re-acquires a linear
    * per-round fixed cost. Compaction also rebuilds the seen prefilter
    * at 4× the actual seen count when that grew ([[SeenPrefilterState]]).
    */
  def crawl(spark: SparkSession, world0: CrawlRound.WorldDF, cfg: CrawlConfig,
      checkpointDir: String, bloomMinSeen: Long = 100000L, compactEvery: Int = 8,
      /** distributed seed table (i: Long unique ascending, raw: String);
        * replaces cfg.seeds for wide frontiers (same push semantics).
        * Exclusive with cfg.seedEntries. */
      seedSource: Option[DataFrame] = None,
      /** EXACT seed count (= max(i)+1 of `seedSource`) when the caller
        * knows it — skips the bootstrap's max(i) scan job. Must be
        * exact, not an estimate: it becomes the post-bootstrap nextSeq. */
      seedCountHint: Option[Long] = None): CrawlRun =
    crawl(Placement.of(spark), spark, world0, cfg, checkpointDir, bloomMinSeen,
      compactEvery, BloomBudgetBytes, BloomBuckets, seedSource, seedCountHint)

  /** Single-bloom broadcast budget: past it the seen prefilter is the
    * bucket-sharded file family ([[graft.seen.PartitionedBloom]]).
    */
  private val BloomBudgetBytes = 256L << 20
  /** Bucket count of that family (total bitset ∕ buckets stays executor-
    * cache friendly at the 10^10 design point).
    */
  private val BloomBuckets = 8192

  /** [[crawl]] under an explicit [[Placement]] and prefilter geometry
    * (tests run the cluster placement on a local master, and force the
    * bucket family at test scale with a tiny budget).
    */
  private[frontier] def crawl(placement: Placement, spark: SparkSession,
      world0: CrawlRound.WorldDF, cfg: CrawlConfig, checkpointDir: String,
      bloomMinSeen: Long, compactEvery: Int, bloomBudgetBytes: Long,
      bloomBuckets: Int, seedSource: Option[DataFrame],
      seedCountHint: Option[Long]): CrawlRun = {
    require(seedSource.isEmpty || cfg.seedEntries.isEmpty,
      "seedSource and cfg.seedEntries are exclusive seed inputs")
    val store = new SnapshotStore(checkpointDir, spark)
    // the cluster placement's reliable checkpoints (f5c, compaction) go
    // into the snapshot store's filesystem
    if (!placement.local && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(s"$checkpointDir/_rdd_checkpoints")
    val pipe = new WritePipeline(spark, store, placement)
    // ---- cross-round state: the cumulative parts of the WritePipeline's
    // layout (seeded below with the recovered or bootstrapped state).
    // These, the world tables and the round in flight are the crawl's
    // own caches and lookups: all are released when `crawl` returns,
    // also on failure, so no later query in the session checks them.
    val seenParts = ArrayBuffer.empty[DataFrame]
    val dupParts = ArrayBuffer.empty[DataFrame]
    val mapParts = ArrayBuffer.empty[DataFrame]
    var world: CrawlRound.PreparedWorld = null
    var inFlight: Option[CrawlRound.RoundOut] = None
    try {
      val (c0, state0) = store.latestCommitted() match {
        case Some(k) => (store.readCounters(k), pipe.stored(k, cumulative = true))
        case None => bootstrap(spark, cfg, store, pipe, seedSource, seedCountHint)
      }
      var c = c0
      val parts = pipe.parts

      seenParts += state0.seen
      dupParts += state0.dup
      mapParts += state0.maps

      // round-invariant world prep (redirect-resolved fetch map, the
      // per-host lookup table collected once), shared by every round.
      // Static world tables are pinned PRE-PARTITIONED AND SORTED on
      // their join keys: every round's sort-merge join against them
      // reuses the pinned partitioning/ordering instead of re-exchanging
      // + re-sorting the big side each round (the bucketed-table pattern)
      world = CrawlRound.prepare(world0, cfg)
      world = world.copy(
        docs = placement.pinWorld(world.docs.repartition(parts, col("doc_id"))
          .sortWithinPartitions("doc_id")),
        fetchMap = placement.pinWorld(world.fetchMap.repartition(parts, col("url"))
          .sortWithinPartitions("url")))

      // the flat union remains ONLY for the bloom (re)build, a full-scan
      // aggregation with no partitioning requirement
      def seenCum: DataFrame = unionByName(seenParts.toSeq)
      def mapsCum: DataFrame = unionByName(mapParts.toSeq)
      var frontier = state0.frontier
      var hostState = state0.host

      val lineageMetricNames =
        Seq("frontierIn", "fetched", "discovered", "deduped", "frontierOut",
          "volumeBytes")
      val lineageSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("metric",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("partition",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("count",
          org.apache.spark.sql.types.LongType)))

      val prefilter = new SeenPrefilterState(bloomMinSeen, compactEvery,
        bloomBudgetBytes, bloomBuckets,
        s"$checkpointDir/seen_bloom_buckets", c.seenCount, seenCum, c.round)
      try {
        while (c.frontierCount > 0 && (cfg.maxRounds <= 0 || c.round + 1 < cfg.maxRounds)) {
          val round = c.round + 1
          val out = CrawlRound.run(spark, world, cfg,
            CrawlRound.RoundIn(round, frontier, seenParts.toSeq, hostState,
              dupParts.toSeq, mapsCum,
              c.nextSeq, c.nextPos, c.seenCount, c.nextPos - c.frontierCount,
              () => prefilter.current(), placement))
          inFlight = Some(out)

          // ---- forcing job: ONE action (collect of the tiny per-partition
          // lineage table) materializes the round's whole compute — the f5c
          // checkpoint, kids2/accepted/frontierOut caches and their offset
          // broadcasts — and returns every counter the driver needs, so the
          // durable write below can leave the critical path
          val linRows = out.lineage.collect()
          def metric(name: String): Long =
            linRows.iterator.filter(_.getString(0) == name).map(_.getLong(2)).sum
          // every scheme-passing link consumed a seq (dups and over-limit
          // drops included) — the "discovered" lineage metric counts exactly
          // those (kids2), so it advances the idno counter
          val frontierCount = metric("frontierOut")
          val acceptedCount = metric("deduped")
          c = store.Counters(round,
            nextSeq = c.nextSeq + metric("discovered"),
            nextPos = c.nextPos + frontierCount,
            popBase = c.popBase + metric("frontierIn"),
            seenCount = c.seenCount + acceptedCount,
            frontierCount = frontierCount)
          val doCompact = compactEvery > 0 && round > 0 &&
            round % compactEvery == 0 && seenParts.size > 1

          // ---- next-round state, as lazy local leaves ([[Placement]]):
          // each delta's logical plan is truncated to a LogicalRDD leaf
          // AT CONSTRUCTION (keeping the repartition/sort layout), so
          // per-round plans never re-grow O(rounds). The frontier MUST be
          // a leaf too (not a mere persist): it is the one state chain
          // threaded through EVERY round's plan, referenced in several
          // branches, and analysis copies shared subtrees per occurrence —
          // un-truncated it grows the analyzed tree exponentially with
          // rounds until Catalyst planning itself OOMs.
          val next = RoundState(
            placement.leafLocal(pipe.seenSel(out.accepted)),
            placement.leafLocal(pipe.dupSel(out.dupStateDelta)),
            placement.leafLocal(out.knownMapsDelta.select(col("uri"))),
            placement.leafLocal(out.hostStateOut.select("host", "lastVisitS")),
            placement.leafLocal(pipe.frontierSel(out.frontierOut)))
          // probe: one job materializes the leaves the write does NOT
          // read (seen, frontier) NOW, while the previous round's caches
          // they compute from are still alive. The other three are delta
          // kinds the write computes itself, so their materialization
          // rides the write thread (a partition the next forcing job
          // needs first is computed under the block manager's
          // per-partition locks — compute-once either way). Moving the
          // whole probe onto the write thread was measured and rejected:
          // it then overlaps the next forcing job and the contention
          // costs more than the barrier saves (300k docs: 44.9-105 s /
          // +35% cpu_sec vs 40.7-47.4 s).
          if (placement.local)
            Seq(next.seen, next.frontier).map(_.select(lit(1L).as("one")))
              .reduce(_ union _).count()
          // the merged delta: dup/maps/host from the state tables and
          // the lineage from the collected rows, so a local write depends
          // ONLY on this round's caches and leaves, never a previous
          // round's
          val delta = unionByName(Seq(
            asDelta("frontier", round, out.frontierOut),
            asDelta("accepted", round, out.accepted),
            asDelta("transactions", round, out.txDelta),
            asDelta("links", round, out.links),
            asDelta("defects", round, out.defects),
            asDelta("host_state", round, next.host),
            asDelta("dup_state", round, next.dup),
            asDelta("known_maps", round, next.maps),
            asDelta("headers", round, out.headers),
            asDelta("cookies", round, out.cookies),
            asDelta("lineage", round, spark.createDataFrame(
              java.util.Arrays.asList(linRows: _*), lineageSchema))
          )).coalesce(parts)
          val cNow = c
          val commitLineage = lineageMetricNames.map(mn => (mn, 0, metric(mn))) ++
            (if (doCompact) Seq(("compacted", 0, cNow.seenCount)) else Nil)
          val thisWrite = pipe.dispatch {
            store.writeDelta(round, delta)
            store.commit(round, cNow, commitLineage)
          }
          val state = pipe.repoint(round, next)
          seenParts += state.seen
          dupParts += state.dup
          mapParts += state.maps
          frontier = state.frontier
          hostState = state.host

          // ---- every K rounds: compact cumulative parts to one table ----
          if (doCompact) {
            // sync point: compaction UNPERSISTS the per-round delta leaves,
            // and the in-flight write still reads this round's dup/maps
            // leaves — drain the pipeline first. Once per compactEvery
            // rounds, alongside compaction's own full-union barrier.
            Await.result(thisWrite, Duration.Inf)
            def compact(cum: ArrayBuffer[DataFrame], rekey: DataFrame => DataFrame): Unit = {
              // materialize the union into one lineage cut, then release
              // the per-round parts. The union is RE-KEYED (hash-
              // partitioned + sorted on the join key) before the cut —
              // the checkpoint captures the physical plan's partitioning/
              // ordering into the LogicalRDD, so the compacted table keeps
              // joining Exchange-free; one shuffle per compaction buys
              // shuffle-free rounds until the next one.
              val merged = placement.cut(rekey(unionByName(cum.toSeq)), eager = true)
              cum.foreach(_.unpersist(blocking = false))
              cum.clear()
              cum += merged
            }
            compact(seenParts, _.repartition(parts, col("uri"))
              .sortWithinPartitions("uri", "method"))
            compact(dupParts, _.repartition(parts, col("bhash"))
              .sortWithinPartitions("size", "bhash", "bhash2"))
            compact(mapParts, identity)
            // Counter/lineage invariant (cheap: one count over the blocks
            // the checkpoint just materialized, once per compactEvery
            // rounds): the forcing-job-derived `seenCount` must equal the
            // accepted-row count the compacted state actually holds,
            // because every subsequent seq/pos assignment builds on it.
            // Drift here means lost/dup delta rows and must stop the
            // crawl, not shift it silently.
            val committedSeen = seenParts.head.count()
            require(committedSeen == c.seenCount,
              s"seen-count drift at compaction round $round: committed " +
                s"$committedSeen rows vs observed counter ${c.seenCount}")
          }

          // ---- prefilter maintenance, dispatched async (awaited by the
          // NEXT round's dedup-stage construction); a rebuild scans the
          // whole seen table (just compacted on a compaction round),
          // which contains this delta
          prefilter.absorb(round, state.seen, acceptedCount, c.seenCount,
            seenCum, doCompact)

          // ---- release: this round's caches, host tables and prefilter
          // broadcasts (read by the in-flight write) wait one more round. Checkpoint leaves
          // are not in the CacheManager; the ContextCleaner frees their
          // blocks once the loop stops referencing them.
          pipe.advance(thisWrite, out.release)
          inFlight = None
        }
      } finally prefilter.close()
      // the final round's write must be durable before CrawlRun reads
      // the committed parquet
      pipe.drain()
      CrawlRun(store, c.round, spark)
    } finally {
      pipe.close()
      inFlight.foreach(_.release())
      // persisted parts (recovered, bootstrapped or re-read state) and
      // the cluster's persisted world tables; unpersisting a leaf is a
      // no-op
      (seenParts ++ dupParts ++ mapParts).foreach(_.unpersist(blocking = false))
      if (world != null) {
        world.docs.unpersist(blocking = false)
        world.fetchMap.unpersist(blocking = false)
        world.hosts.destroy()
      }
    }
  }
}
