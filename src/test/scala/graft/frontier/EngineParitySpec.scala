package graft.frontier

import graft.model._
import graft.oracle.RefCrawlOracle
import graft.synth.{WorldGen, WorldSpec}
import org.apache.spark.graft.blocks
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** THE correctness gate of the engine (SURVEY.md §5): the distributed
  * BSP crawl must match the serial reference-semantics oracle
  * bit-for-bit — crawl ordering, URL-seen set, transactions, link graph
  * (with processed flags), defects, aliases, and politeness host state.
  */
class EngineParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // AQE's per-stage driver round-trips triple tiny-world crawl time
    // without changing results — plans here are explicitly sized
    .config("spark.sql.adaptive.enabled", "false")
    // same rationale as the bench session: the engine broadcasts its
    // small sides EXPLICITLY; auto-broadcast turns every tiny state
    // join into a separate broadcast-subquery job (~0.3-1.5 s of pure
    // driver latency each, ~28 per round) and dominates tiny-world
    // crawl wall time without changing results
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cfg(spec: WorldSpec): CrawlConfig =
    CrawlConfig(seeds = WorldGen.seeds(spec),
      acceptedTypes = Seq("text/html", "image/png"))

  private def world(spec: WorldSpec): CrawlRound.WorldDF = {
    val w = WorldGen.sparkWorld(spark, spec)
    CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(), w.hosts.toDF(), w.rules.toDF(),
      if (spec.sitemapEvery > 0) w.sitemaps.toDF() else null)
  }

  // bloomMinSeen=0 so the bloom prefilter band is exercised at test scale
  private def runBoth(spec: WorldSpec, c: CrawlConfig, bloomMinSeen: Long = 0L)
      : (RefCrawlOracle.CrawlOutput, CrawlDriver.CrawlRun) = {
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val dir = Files.createTempDirectory(s"crawl-${spec.name}").toString
    val run = CrawlDriver.crawl(spark, world(spec), c, dir, bloomMinSeen = bloomMinSeen)
    (oracle, run)
  }

  private def assertParity(o: RefCrawlOracle.CrawlOutput, r: CrawlDriver.CrawlRun): Unit = {
    // crawl order: exact sequence
    val gotOrder = r.crawlOrder.collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
      .sortBy(_._1).toVector
    val expOrder = o.crawlOrder.sortBy(_._1)
    assert(gotOrder == expOrder, "crawl order mismatch")

    // URL-seen set with first-seen seqs
    val gotSeen = r.seen.collect().map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    assert(gotSeen == o.seen, "URL-seen mismatch")

    // transactions (final rows)
    val gotTx = r.transactions.collect().map { x =>
      x.getLong(0) -> TransactionRow(x.getLong(0), x.getString(1), x.getString(2),
        Option(x.get(3)).map(_.asInstanceOf[Int]), Option(x.getString(4)),
        x.getString(5), x.getInt(6), Option(x.getString(7)))
    }.toMap
    assert(gotTx.keySet == o.transactions.keySet, "transactions seq set mismatch")
    for ((seq, exp) <- o.transactions) {
      assert(gotTx(seq) == exp, s"transaction $seq: got ${gotTx(seq)}, expected $exp")
    }

    // link graph with processed flags (multiset)
    val gotLinks = r.linksWithProcessed.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getBoolean(3)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val expLinks = o.links.map(l => (l.fromSeq, l.toUri, l.toSeq, l.processed))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(gotLinks == expLinks, "link graph mismatch")

    // defects including the within-phase emission index `sub` — the
    // (popPos, phase, sub) triple is the reference's total emission
    // order, so both sides must agree on it exactly
    def defectKey(t: (Long, Int, Int, Long, String, Option[String], Double)) =
      (t._1, t._2, t._3, t._5, t._6.getOrElse(""), t._4)
    val gotDefects = r.defects.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(6), x.getLong(2), x.getString(3),
        Option(x.getString(4)), x.getDouble(5)))
      .sortBy(defectKey).toVector
    val expDefects = o.defects
      .map(d => (d.popPos, d.phase, d.sub, d.defect.responseSeq, d.defect.typeName,
        Option(d.defect.evidence), d.defect.severity))
      .sortBy(defectKey).toVector
    assert(gotDefects == expDefects, "defects mismatch")

    // aliases (multiset)
    val gotAliases = r.aliases.collect().map(x => (x.getLong(0), x.getString(1))).sorted.toVector
    val expAliases = o.aliases.map(a => (a.seq, a.uri)).sorted.toVector
    assert(gotAliases == expAliases, "aliases mismatch")

    // politeness host state
    val gotHost = r.hostState.collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(gotHost == o.hostState, "host state mismatch")

    // G4 request-header rows of DONE-OK transactions (multiset)
    val gotHeaders = r.headers.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).sorted.toVector
    val expHeaders = o.headers.map(h => (h.seq, h.name, h.value)).sorted.toVector
    assert(gotHeaders == expHeaders, "headers mismatch")

    // G5 response-cookie rows of 200 fetches (multiset)
    val gotCookies = r.cookies.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getBoolean(3),
        x.getBoolean(4), x.getString(5))).sorted.toVector
    val expCookies = o.cookies
      .map(c => (c.seq, c.name, c.value, c.secure, c.httpOnly, c.path))
      .sorted.toVector
    assert(gotCookies == expCookies, "cookies mismatch")

    // G6 param rows of accepted pushes (multiset)
    val gotParams = r.params.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).sorted.toVector
    val expParams = o.params.map(p => (p.seq, p.key, p.value)).sorted.toVector
    assert(gotParams == expParams, "params mismatch")

    // A3 volume accounting: Σ of the per-round volumeBytes lineage rows
    val gotVolume = (0 to r.lastRound)
      .flatMap(k => r.store.readLineage(k))
      .collect { case ("volumeBytes", _, v) => v }.sum
    assert(gotVolume == o.volumeBytes, s"volume mismatch: $gotVolume vs ${o.volumeBytes}")
  }

  private def check(spec: WorldSpec, mutate: CrawlConfig => CrawlConfig = identity): Unit = {
    val c = mutate(cfg(spec))
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
  }

  test("parity: tiny-chain (single host, BFS order, termination)") {
    check(WorldSpec("tiny-chain", nHosts = 1, nDocs = 8, hotPct = 100))
  }

  test("parity: two-host-bfs (FIFO order, depth+1, link edges)") {
    check(WorldSpec("two-host-bfs", nHosts = 2, nDocs = 30, hotPct = 50))
  }

  test("parity: dedup-web (canonicalization chain + URL-seen)") {
    check(WorldSpec("dedup-web", nHosts = 3, nDocs = 25, variantEvery = 2))
  }

  test("parity: redirect-canon (alias mechanics, mid-flight rewrites)") {
    check(WorldSpec("redirect-canon", nHosts = 2, nDocs = 30,
      redirectEvery = 3, canonicalEvery = 5))
  }

  test("parity: polite-slow (crawl delays, reschedule-to-back)") {
    check(WorldSpec("polite-slow", nHosts = 4, nDocs = 40,
      politeEvery = 2, politeDelayS = 2.0, slowEvery = 4, slowDelayS = 12.0))
  }

  test("parity: robots-maze (disallow prefixes)") {
    check(WorldSpec("robots-maze", nHosts = 3, nDocs = 30, privateEvery = 4))
  }

  test("parity: depth-capped (maxDepth routing)") {
    check(WorldSpec("two-host-bfs", nHosts = 2, nDocs = 30), _.copy(maxDepth = 2))
  }

  test("parity: defect-zoo (badlink/mistyped/mishmash/badtype defects)") {
    check(WorldSpec("defect-zoo", nHosts = 3, nDocs = 40, imgEvery = 3,
      mishmashEvery = 2))
  }

  test("parity: checker-zoo (dupdetect/css/meta/script/img/mail checkers)") {
    val spec = WorldSpec("checker-zoo", nHosts = 3, nDocs = 40, dupEvery = 4,
      styleEvery = 3, metaEvery = 2, scriptEvery = 3, mailEvery = 4, imgEvery = 3)
    check(spec)
    // the world must exercise BOTH mailer validity tiers (0.8 valid /
    // 0.3 planted-invalid) or the parity above proves nothing about D6
    val o = graft.oracle.RefCrawlOracle.crawl(
      graft.synth.WorldGen.localWorld(spec), cfg(spec))
    val sevs = o.defects.filter(_.defect.typeName == "mail")
      .map(_.defect.severity).toSet
    assert(sevs == Set(0.3, 0.8), s"both mail validity tiers expected: $sevs")
  }

  test("parity: urlLimit cap") {
    check(WorldSpec("two-host-bfs", nHosts = 2, nDocs = 30), _.copy(urlLimit = Some(12)))
  }

  test("parity: skew-zipf (hot host, salted partitions)") {
    check(WorldSpec("skew-zipf", nHosts = 8, nDocs = 120, hotPct = 40))
  }

  test("parity: sitemap-family (virtual robots tx, loc pushes, size/record defects)") {
    check(WorldSpec("sitemap-world", nHosts = 6, nDocs = 40, sitemapEvery = 2),
      _.copy(acceptedTypes = Seq("text/html", "image/png", "text/plain",
        "text/xml", "application/gzip"),
        sitemapMaxSize = 220, sitemapMaxRecords = 2))
  }

  test("parity: canonical Link response header (P7 primary-URI rewrite)") {
    check(WorldSpec("canon-hdr", nHosts = 3, nDocs = 30,
      canonicalHdrEvery = 3, canonicalEvery = 5))
  }

  test("parity: uri_normalizer rewrites :80 variants (P5)") {
    check(WorldSpec("norm-world", nHosts = 3, nDocs = 30, normVariantEvery = 2),
      _.copy(normalizeUris = true))
  }

  test("parity: :80 variants WITHOUT the normalizer miss the url map") {
    check(WorldSpec("norm-world", nHosts = 3, nDocs = 30, normVariantEvery = 2))
  }

  test("parity: agent-scoped robots rules (own group applies, foreign ignored)") {
    check(WorldSpec("agent-rules", nHosts = 4, nDocs = 40, agentRuleEvery = 2))
  }

  test("parity: empty uriRegexes = nothing is worth touching") {
    check(WorldSpec("tiny-chain", nHosts = 1, nDocs = 8, hotPct = 100),
      _.copy(uriRegexes = Nil))
  }

  test("parity: cookie recording (G5) incl. redirected and ignored-type fetches") {
    val spec = WorldSpec("cookie-world", nHosts = 3, nDocs = 40,
      cookieEvery = 3, redirectEvery = 4, imgEvery = 3)
    val (o, r) = runBoth(spec, cfg(spec))
    assertParity(o, r)
    assert(o.cookies.nonEmpty, "cookie world must actually produce cookies")
  }

  test("parity: non_semantic_html checker (deprecated tags/attrs, phase 13)") {
    val spec = WorldSpec("nonsem-world", nHosts = 3, nDocs = 40, nonsemEvery = 2)
    val (o, r) = runBoth(spec, cfg(spec))
    assertParity(o, r)
    assert(o.defects.exists(_.defect.typeName == "nonsem"),
      "nonsem world must actually produce nonsem defects")
  }

  test("parity: non-http robots sitemap loc is pushed, then DONE-IGNORED") {
    val spec = WorldSpec("sitemap-alt", nHosts = 6, nDocs = 40,
      sitemapEvery = 2, sitemapAltEvery = 2)
    val c = cfg(spec).copy(acceptedTypes = Seq("text/html", "image/png",
      "text/plain", "text/xml", "application/gzip"))
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    val ftp = o.transactions.values.filter(_.uri.startsWith("ftp://"))
    assert(ftp.nonEmpty && ftp.forall(
      _.verificationStatus == VerificationStatus.DoneIgnored))
  }

  test("parity: maxContentLength cap (F4)") {
    val spec = WorldSpec("maxlen-world", nHosts = 2, nDocs = 30)
    val c = cfg(spec).copy(maxContentLength = Some(2000L))
    val lw = WorldGen.localWorld(spec)
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    // non-vacuous: some 200 doc exceeded the cap and was ignored
    assert(o.transactions.values.exists(t =>
      t.verificationStatus == VerificationStatus.DoneIgnored &&
        lw.urlMap.get(t.uri).exists(_.content_length > 2000L)))
  }

  test("parity: F12 config-disabled checker (mailer off via empty regex list)") {
    val spec = WorldSpec("checker-zoo", nHosts = 3, nDocs = 40, dupEvery = 4,
      styleEvery = 3, metaEvery = 2, scriptEvery = 3, mailEvery = 4, imgEvery = 3)
    val c = cfg(spec).copy(pluginGates = PluginGate.defaults +
      ("mailer" -> PluginGate(Seq("text/html"), Nil)))
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    assert(!o.defects.exists(_.defect.typeName == "mail"),
      "config-disabled mailer must emit no defects")
    // sanity: the same world WITH defaults does emit mail defects
    val oDefault = RefCrawlOracle.crawl(WorldGen.localWorld(spec), cfg(spec))
    assert(oDefault.defects.exists(_.defect.typeName == "mail"))
  }

  test("parity: F12 uri-scoped gates (links_finder + seo_meta restricted to one host)") {
    val spec = WorldSpec("gated-world", nHosts = 3, nDocs = 40,
      metaEvery = 2, canonicalEvery = 4)
    val c = cfg(spec).copy(pluginGates = PluginGate.defaults +
      ("links_finder" -> PluginGate(Seq("text/html"), Seq("http://h0000\\."))) +
      ("seo_meta" -> PluginGate(Seq("text/html"), Seq("http://h0001\\."))))
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    val metaSeqs = o.defects.filter(_.defect.typeName.startsWith("seo:no")).map(_.defect.responseSeq)
    assert(metaSeqs.forall(s => o.transactions(s).uri.startsWith("http://h0001.")),
      "seo_meta defects must be limited to the gated host")
  }

  test("parity: validator models (G7: tidy message explode + tinycss css-err)") {
    val spec = WorldSpec("validator-world", nHosts = 3, nDocs = 40,
      tidyEvery = 2, cssEvery = 3)
    val c = cfg(spec).copy(acceptedTypes = Seq("text/html", "image/png", "text/css"))
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    assert(o.defects.exists(_.defect.typeName.startsWith("tidy:")),
      "validator world must emit tidy defects")
    assert(o.defects.exists(_.defect.typeName == "stylesheet"),
      "validator world must emit stylesheet defects")
  }

  test("parity: paramed entry points (P15/G6: urlencoded fetch key, param table)") {
    val spec = WorldSpec("param-world", nHosts = 2, nDocs = 30)
    val u0 = WorldGen.docUrl(spec, 0)
    val u1 = WorldGen.docUrl(spec, 1)
    val entries = Seq(
      SeedEntry(u0),
      SeedEntry(u1, "GET", Seq("q" -> "x y", "p" -> "1")), // hits the ?-url
      SeedEntry(WorldGen.docUrl(spec, 2), "GET", Seq("missing" -> "true")), // neterr
      SeedEntry(u0, "POST")) // distinct (uri, method) seen key
    val c = cfg(spec).copy(seeds = Nil, seedEntries = entries)
    // extend the world: the urlencoded URL resolves like u1 (same doc)
    val paramUrl = u1 + "?q=x+y&p=1"
    val lw0 = WorldGen.localWorld(spec)
    val e1 = lw0.urlMap(u1).copy(url = paramUrl)
    val lw = lw0.copy(urlMap = lw0.urlMap + (paramUrl -> e1))
    val oracle = RefCrawlOracle.crawl(lw, c)
    import spark.implicits._
    val w0 = world(spec)
    val w = w0.copy(urlMap = w0.urlMap.unionByName(Seq(e1).toDS().toDF()))
    val dir = Files.createTempDirectory("crawl-params").toString
    val run = CrawlDriver.crawl(spark, w, c, dir, bloomMinSeen = 0L)
    assertParity(oracle, run)
    assert(oracle.params.map(p => (p.key, p.value)).sorted ==
      Vector(("missing", "true"), ("p", "1"), ("q", "x y")))
    // the paramed hit rewrote its primary uri to carry the query string
    assert(oracle.transactions.values.exists(_.uri == paramUrl))
  }

  test("parity: overlapping plugin gates (links_finder + sitemap_scanner on one page)") {
    // widen the scanner's gate to text/html so BOTH crawler plugins fire
    // on pages that carry link spans AND sitemap-loc spans: link kids
    // must consume seqs and queue slots BEFORE the scanner's loc pushes
    val spec = WorldSpec("overlap-gates", nHosts = 3, nDocs = 40,
      locInHtmlEvery = 2, missingEvery = 9)
    val c = cfg(spec).copy(pluginGates = PluginGate.defaults +
      ("sitemap_scanner" -> PluginGate(Seq("text/html", "application/gzip",
        "text/xml", "application/xml"))))
    val lw = WorldGen.localWorld(spec)
    val linkKinds = Set("link", "css-link", "img", "iframe", "frame")
    assert(lw.docs.values.exists(d => d.spans.exists(_.kind == "sitemap-loc") &&
      d.spans.exists(s => linkKinds(s.kind))),
      "world must contain a page where both plugins fire")
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
  }

  test("parity: multi-hop redirect chains + too-many-redirects DONE-KO") {
    val spec = WorldSpec("redirect-chains", nHosts = 3, nDocs = 40,
      redirectEvery = 3, redirectChainEvery = 2, redirectChainLen = 3)
    val c = cfg(spec).copy(maxRedirects = 4)
    val (o, r) = runBoth(spec, c)
    assertParity(o, r)
    // non-vacuous: some chain resolved multi-hop (a DONE-OK transaction
    // whose pushed uri was a /r/ alias of a chained doc) and some loop
    // died DONE-KO without any defect row
    val lw = WorldGen.localWorld(spec)
    val chained = (0L until spec.nDocs).filter(d => WorldGen.isChained(spec, d))
    assert(chained.nonEmpty, "chain world must contain chains")
    val loops = chained.filter(d => WorldGen.chainLoops(spec, d))
      .map(d => WorldGen.redirectUrl(spec, d)).toSet
    val koSeqs = o.transactions.values.filter(t =>
      loops.contains(t.uri) &&
        t.verificationStatus == VerificationStatus.DoneKo).map(_.seq).toSet
    assert(koSeqs.nonEmpty, "a looping chain must be popped and die DONE-KO")
    assert(!o.defects.exists(d => koSeqs.contains(d.defect.responseSeq)),
      "too-many-redirects must emit NO defect row")
    val resolved = chained.filterNot(d => WorldGen.chainLoops(spec, d))
      .map(d => WorldGen.docUrl(spec, d)).toSet
    assert(o.transactions.values.exists(t => resolved.contains(t.uri) &&
      t.verificationStatus == VerificationStatus.DoneOk),
      "a multi-hop chain must resolve to a DONE-OK fetch")
  }

  test("parity under DEFAULT session confs (auto-broadcast, AQE, codegen on)") {
    // the suite session disables auto-broadcast/AQE purely for
    // tiny-world driver latency; this test keeps Spark 4's defaults so
    // the default plan space (broadcast-hash joins, adaptive exchanges,
    // whole-stage codegen) stays output-checked, not just the
    // explicitly-planned SMJ space
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val spec = WorldSpec("redirect-canon", nHosts = 2, nDocs = 30,
      redirectEvery = 3, canonicalEvery = 5)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val w = WorldGen.sparkWorld(s2, spec)
    val wdf = CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(),
      w.hosts.toDF(), w.rules.toDF(), null)
    val dir = Files.createTempDirectory("crawl-default-confs").toString
    val run = CrawlDriver.crawl(s2, wdf, c, dir, bloomMinSeen = 0L)
    assertParity(oracle, run)
  }

  test("parity with the pipelined write-behind OPTED OUT (synchronous path)") {
    // the cluster placement, run on the local master: no write-behind —
    // each round's write awaited and the next round re-pointed at the
    // committed parquet — plus persisted world tables and eager reliable
    // f5c/compaction checkpoints; a many-round world with politeness
    // keeps that path output-checked, not just compiling
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val spec = WorldSpec("polite-slow", nHosts = 3, nDocs = 24,
      politeEvery = 2)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val w = WorldGen.sparkWorld(s2, spec)
    val wdf = CrawlRound.WorldDF(w.docs.toDF(), w.urlMap.toDF(),
      w.hosts.toDF(), w.rules.toDF(), null)
    val dir = Files.createTempDirectory("crawl-cluster-placement").toString
    val run = CrawlDriver.crawl(Placement(local = false), s2, wdf, c, dir,
      bloomMinSeen = 0L, compactEvery = 8,
      bloomBudgetBytes = 256L << 20, bloomBuckets = 8192,
      seedSource = None, seedCountHint = None)
    assertParity(oracle, run)
    // non-vacuity: the crawl took reliable checkpoints, which only the
    // cluster placement writes
    def files(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum else 1
    assert(files(new java.io.File(s"$dir/_rdd_checkpoints")) > 0,
      "cluster placement wrote no reliable checkpoint files")
  }

  test("parity holds without the bloom prefilter (exact band alone)") {
    val spec = WorldSpec("dedup-web", nHosts = 3, nDocs = 25, variantEvery = 2)
    val (o, r) = runBoth(spec, cfg(spec), bloomMinSeen = Long.MaxValue)
    assertParity(o, r)
  }

  test("seed bootstrap: dups, fragments, urlLimit, seedSource ≡ seeds") {
    val spec = WorldSpec("two-host-bfs", nHosts = 2, nDocs = 30)
    // duplicated seeds + a fragment variant that canonicalizes into one
    val seeds = (0L until 20L).map(d => WorldGen.docUrl(spec, d % 8)) :+
      (WorldGen.docUrl(spec, 1) + "#frag")
    val c = cfg(spec).copy(seeds = seeds, urlLimit = Some(18))
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val dir = Files.createTempDirectory("crawl-distboot").toString
    val run = CrawlDriver.crawl(spark, world(spec), c, dir)
    assertParity(oracle, run)
    // the distributed seedSource path (i, raw) must be identical
    import spark.implicits._
    val src = spark.createDataset(seeds.zipWithIndex.map { case (u, i) => (i.toLong, u) })
      .toDF("i", "raw")
    val dir2 = Files.createTempDirectory("crawl-seedsrc").toString
    val run2 = CrawlDriver.crawl(spark, world(spec), c.copy(seeds = Nil), dir2,
      seedSource = Some(src))
    assertParity(oracle, run2)
    // entry points: the seen key is (canon, method), so the POST twin is
    // a key of its own and the fragment variant a duplicate; urlLimit
    // counts accepted keys, so the last data-bearing entry falls past it
    // and records no params
    val u0 = WorldGen.docUrl(spec, 0)
    val entries = Seq(SeedEntry(u0), SeedEntry(u0, "POST"),
      SeedEntry(WorldGen.docUrl(spec, 1), "GET", Seq("q" -> "a b")),
      SeedEntry(u0 + "#frag"), SeedEntry(WorldGen.docUrl(spec, 2)),
      SeedEntry(WorldGen.docUrl(spec, 3), "GET", Seq("k" -> "v")))
    val c3 = cfg(spec).copy(seeds = Nil, seedEntries = entries, urlLimit = Some(4))
    val oracle3 = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c3)
    val dir3 = Files.createTempDirectory("crawl-entryboot").toString
    val run3 = CrawlDriver.crawl(spark, world(spec), c3, dir3)
    assertParity(oracle3, run3)
    assert(run3.params.collect().map(x => (x.getLong(0), x.getString(1), x.getString(2)))
      .toSeq == Seq((2L, "q", "a b")))
  }

  test("parity: deep crawl (30+ rounds) with periodic state compaction") {
    // a slow host (delay > reschedule bound) admits ~1 fetch per round,
    // driving a deep BSP loop on a small world
    val spec = WorldSpec("deep-slow", nHosts = 2, nDocs = 44, hotPct = 50,
      slowEvery = 2, slowDelayS = 12.0)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    assert(oracle.rounds > 15, s"world too shallow for a deep-crawl test: ${oracle.rounds}")
    val dir = Files.createTempDirectory("crawl-deep").toString
    val run = CrawlDriver.crawl(spark, world(spec), c, dir,
      bloomMinSeen = 0L, compactEvery = 5)
    assertParity(oracle, run)
    val compactions = (0 to run.lastRound).flatMap(k => run.store.readLineage(k))
      .count(_._1 == "compacted")
    assert(compactions >= 3, s"expected periodic compactions, saw $compactions")
  }

  test("parity with the PARTITIONED bloom family (past-budget prefilter)") {
    // bloomBudgetBytes=1 keeps the single merged bloom over budget, so
    // the prefilter runs the bucket-sharded file family for the whole
    // crawl: the initial build, the recent-delta bloom composed with the
    // family between compactions, and the rebuild at each compaction
    // all execute on a deep multi-round world — outputs must still equal
    // the serial oracle bit-for-bit (band 2's exact anti-join is the
    // truth; the family only routes candidates around it)
    val spec = WorldSpec("deep-slow", nHosts = 2, nDocs = 44, hotPct = 50,
      slowEvery = 2, slowDelayS = 12.0)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val dir = Files.createTempDirectory("crawl-bucketbloom").toString
    val run = CrawlDriver.crawl(Placement.of(spark), spark, world(spec), c, dir,
      bloomMinSeen = 0L, compactEvery = 5, bloomBudgetBytes = 1L, bloomBuckets = 8,
      seedSource = None, seedCountHint = None)
    assertParity(oracle, run)
    // the family must actually have been used (epoch dirs exist), its
    // maintenance I/O must be on the COMPACTION cadence — epoch count
    // bounded by initial build + one per compaction sync, never one per
    // round — and gcEpochs must leave at most one live file per bucket
    val base = new java.io.File(s"$dir/seen_bloom_buckets")
    val epochs = Option(base.list()).map(_.count(_.startsWith("epoch-"))).getOrElse(0)
    val syncs = (0 to run.lastRound).flatMap(k => run.store.readLineage(k))
      .count(_._1 == "compacted")
    assert(epochs >= 1, "bloom family never built")
    assert(run.lastRound >= 8, s"world too shallow to exercise the cadence: ${run.lastRound}")
    assert(epochs <= syncs + 1,
      s"family epochs must follow the compaction cadence ($syncs syncs over " +
        s"${run.lastRound + 1} rounds), saw $epochs epoch dirs")
    def bloomFiles(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bloomFiles).sum
      else if (f.getName.endsWith(".bloom")) 1 else 0
    assert(bloomFiles(base) <= 8,
      s"gcEpochs must leave ≤ one live file per bucket, saw ${bloomFiles(base)}")
  }

  test("resume: killing after round k and resuming yields identical outputs") {
    val spec = WorldSpec("resume-kill", nHosts = 2, nDocs = 30)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val dir = Files.createTempDirectory("crawl-resume").toString
    // every crawl releases what it caches, also state it never compacts
    // (the first crawl stops before any compaction): the session's
    // CacheManager holds no more entries after both crawls than before
    def cacheEntries: Int = {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Seq[_]].size
    }
    val cachedBefore = cacheEntries
    // run only 2 rounds, then resume to completion in a fresh driver call
    CrawlDriver.crawl(spark, world(spec), c.copy(maxRounds = 2), dir)
    val resumed = CrawlDriver.crawl(spark, world(spec), c, dir)
    assert(cacheEntries <= cachedBefore,
      s"crawls left ${cacheEntries - cachedBefore} CacheManager entries behind")
    assertParity(oracle, resumed)
  }

  test("resume with the PARTITIONED bloom family forced") {
    // the family handle (bucket→epoch map) is driver-memory only; a
    // resumed driver rebuilds it from the recovered seen table at
    // epoch=last, OVERWRITING that epoch's bucket files (deterministic
    // superset content — rename-over is harmless, stale buckets can
    // only add false positives, and band 2's exact anti-join is the
    // truth). Outputs must equal the serial oracle bit-for-bit.
    val spec = WorldSpec("resume-bucketbloom", nHosts = 2, nDocs = 30)
    val c = cfg(spec)
    val oracle = RefCrawlOracle.crawl(WorldGen.localWorld(spec), c)
    val dir = Files.createTempDirectory("crawl-resume-bb").toString
    val broadcastsBefore = blocks.broadcastValues(spark.sparkContext).keySet
    def familyCrawl(c: CrawlConfig) = CrawlDriver.crawl(Placement.of(spark), spark,
      world(spec), c, dir, bloomMinSeen = 0L, compactEvery = 8, bloomBudgetBytes = 1L,
      bloomBuckets = 8, seedSource = None, seedCountHint = None)
    familyCrawl(c.copy(maxRounds = 2))
    val resumed = familyCrawl(c)
    // every crawl releases its background threads (bloomMinSeen = 0
    // starts the prefilter's; an in-flight build finishes first, hence
    // the bounded wait). Checked before the parity collects: a GC there
    // would finalize an abandoned executor and hide the leak.
    def graftThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-")).map(_.getName).toSeq
    // ... and destroy their broadcasts (the prefilters' bloom bitsets and
    // family epoch maps, the host tables), which `destroy` removes
    // asynchronously. Spark's own broadcasts (Java-serialized task
    // binaries, hadoop confs) are the ContextCleaner's.
    def crawlBroadcasts = blocks.broadcastValues(spark.sparkContext).collect {
      case (id, _: Map[_, _]) if !broadcastsBefore(id) => id
      case (id, b: Array[Byte]) if !broadcastsBefore(id) &&
          !(b.length >= 2 && b(0) == 0xAC.toByte && b(1) == 0xED.toByte) => id
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((graftThreads.nonEmpty || crawlBroadcasts.nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(graftThreads.isEmpty, s"background threads outlived their crawls: $graftThreads")
    assert(crawlBroadcasts.isEmpty,
      s"broadcasts outlived their crawls: ${crawlBroadcasts.toSeq.sorted}")
    assertParity(oracle, resumed)
  }
}
