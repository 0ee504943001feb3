package graft.frontier

import graft.checks.Checks
import graft.model._
import graft.plans.Ranks
import graft.seen.UrlSeen
import graft.url.UrlExpressions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim.unionByName
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** One crawl round as a pure DataFrame transformation (SURVEY.md §7.5).
  *
  * Reproduces the reference's per-transaction pipeline (core.py:89-161,
  * SURVEY.md §3.2) over the whole frontier at once:
  *
  *   pop(pos order) → RFC-3987 gate → worth gate → depth → robots →
  *   politeness (virtual clock) → fetch (join vs url_map, J6) →
  *   redirect rewrite → header gates → body (join vs docs) →
  *   canonical-span rewrite → link explode (G1) → canonicalize →
  *   deterministic seq assignment → dedupe vs URL-seen (D1) →
  *   next frontier.
  *
  * Scale notes: no driver-side row state (only O(1) counters); global
  * orderings via [[Ranks.withBoundedRank]] (buckets by arithmetic on
  * frontier positions, never a single-partition window); per-host
  * windows partition by host (the salted host-partitioning axis);
  * URL-seen dedup = bloom prefilter + exact anti-join ([[UrlSeen]]).
  * Per-host tables are LOOKUPS, never joins: robots rules, crawl delay
  * and sitemap locs are collected once per crawl into one
  * [[HostTable]], and a polite round's host state (previous visit times
  * + this round's first successes) into one per-round table from one
  * job; rows probe them with the native [[HostLookup]] expression. No
  * round plans a string-keyed broadcast hash join (each allocated a
  * 16 MB page per relation).
  */
object CrawlRound {

  /** World tables as DataFrames (columns per graft.model case classes). */
  case class WorldDF(docs: DataFrame, urlMap: DataFrame, hosts: DataFrame,
      rules: DataFrame, sitemaps: DataFrame = null)

  /** Round-invariant world prep, computed once per crawl: redirects
    * pre-resolved into the fetch table (single join per round instead of
    * two), the per-host attributes (robots rules grouped per host, crawl
    * delay, sitemap locs) collected into one [[HostTable]], and — the big one — the
    * documents PARSED ONCE into a slim per-doc feature row (`docs` here
    * is the SLIM table): link-ish spans, body hash, canonical target,
    * and the ungated tagged checker-defect array
    * ([[graft.checks.Checks.pageDefectsPre]]). The heavy text spans are
    * consumed in this single pass and never materialize in the
    * per-round join/cache — at 100 TB the parse is one streaming pass
    * over the corpus and every BSP round moves only extracted features,
    * which is also what keeps the round pipeline inside the machine's
    * memory bandwidth at high core counts.
    *
    * `hosts` values: `rrules` (agent-scoped robots rules), `d` (crawl
    * delay) and `slocs` (sitemap locs, lexicographically sorted — the
    * declared iteration order for robots.py:76-80's set diff). A world
    * where no host has a delay skips the whole politeness machinery
    * (host-state table + first-success aggregation); one with no
    * sitemap locs skips the robots-sitemap machinery.
    */
  case class PreparedWorld(docs: DataFrame, fetchMap: DataFrame, hosts: HostTable) {
    def hasDelays: Boolean = hosts.hasAny("d")
    def hasSitemaps: Boolean = hosts.hasAny("slocs")
  }

  private val cookieArrayType =
    "array<struct<name:string,value:string,secure:boolean,httpOnly:boolean,path:string>>"

  def prepare(w: WorldDF, cfg: CrawlConfig): PreparedWorld = {
    // worlds built before the cookies column existed stay readable
    val um =
      if (w.urlMap.columns.contains("cookies")) w.urlMap
      else w.urlMap.withColumn("cookies", lit(null).cast(cookieArrayType))
    val umT = um.select(col("url").as("t_url"), col("doc_id").as("t_doc_id"),
      col("status").as("t_status"), col("content_type").as("t_ct"),
      col("content_length").as("t_len"), col("detected_mime").as("t_mime"),
      col("canonical_to").as("t_canon"), col("cookies").as("t_cookies"))
    // ---- multi-hop redirect resolution by POINTER DOUBLING over the
    // redirect-only subset (net.py:104-107: requests follows chains up
    // to max_redirects; beyond that — or on a loop — TooManyRedirects
    // → DONE-KO). After k self-joins each chain head points min(L, 2^k)
    // hops down its chain, so with 2^k > maxRedirects every legal chain
    // is fully resolved and every loop / over-budget chain is exactly
    // the set { hops > maxRedirects }. ceil(log2)+1 joins of the (small)
    // redirect subset, once per crawl — never maxRedirects joins of the
    // full fetch map.
    val doublings = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, cfg.maxRedirects).toLong) // smallest k with 2^k > max
    var rr = um.filter(col("redirect_to").isNotNull)
      .select(col("url").as("r_url"), col("redirect_to").as("r_next"),
        lit(1L).as("r_hops"))
    for (_ <- 0 until doublings.toInt) {
      val rt = rr.select(col("r_url").as("j_url"), col("r_next").as("j_next"),
        col("r_hops").as("j_hops"))
      rr = rr.join(rt, col("r_next") === col("j_url"), "left")
        .select(col("r_url"),
          coalesce(col("j_next"), col("r_next")).as("r_next"),
          (col("r_hops") + coalesce(col("j_hops"), lit(0L))).as("r_hops"))
    }
    val rmap = rr.select(col("r_url"),
      col("r_next"), (col("r_hops") > cfg.maxRedirects).as("r_toomany"))
    val fetchMap = um.join(rmap, um("url") === col("r_url"), "left")
      .withColumn("redirected", col("redirect_to").isNotNull)
      .join(umT, col("r_next") === col("t_url"), "left")
      .select(col("url"),
        coalesce(col("r_toomany"), lit(false)).as("tooMany"),
        when(col("redirected"), coalesce(col("t_status"), lit(404)))
          .otherwise(col("status")).as("finStatus"),
        coalesce(when(col("redirected"), col("t_ct")).otherwise(col("content_type")), lit(""))
          .as("finCtRaw"),
        when(col("redirected"), col("t_doc_id")).otherwise(col("doc_id")).as("finDocId"),
        when(col("redirected"), col("t_len")).otherwise(col("content_length")).as("finLen"),
        when(col("redirected"), col("t_mime")).otherwise(col("detected_mime")).as("finMime"),
        when(col("redirected"), col("r_next")).otherwise(lit(null)).as("redirTarget"),
        when(col("redirected"), col("t_canon")).otherwise(col("canonical_to")).as("finCanon"),
        when(col("redirected"), col("t_cookies")).otherwise(col("cookies")).as("finCookies"))
    // agent scoping as the reference's robots parser applies it: the
    // wildcard group plus the configured agent's own group (robots.py
    // via reppy; oracle applies the identical filter)
    val rulesAgg = w.rules.where(col("agent") === "*" || col("agent") === cfg.agent)
      .groupBy("host").agg(collect_list(struct(col("rule"), col("path_pref"))).as("rrules"))
    val rrulesType = rulesAgg.schema("rrules").dataType
    val noRules = lit(null).cast(rrulesType).as("rrules")
    val noDelay = lit(null).cast(DoubleType).as("d")
    val noLocs = lit(null).cast("array<string>").as("slocs")
    // one job collects every per-host attribute as a union of the three
    // sources (O(hosts), as the broadcast joins they replace assumed)
    val hosts = HostTable.collect(unionByName(Seq(
      w.hosts.select(col("host"), noRules, col("crawl_delay_s").cast(DoubleType).as("d"), noLocs),
      rulesAgg.select(col("host"), col("rrules"), noDelay, noLocs)) ++
      Option(w.sitemaps).map(_.groupBy("host")
        .agg(noRules, noDelay, sort_array(collect_list(col("loc"))).as("slocs")))))
    // ---- one-pass parse: heavy spans → slim per-doc features ---------
    val sortedSpans = expr(
      "array_sort(spans, (l, r) -> case when l.offset < r.offset then -1 " +
        "when l.offset > r.offset then 1 else 0 end)")
    val docsSlim = w.docs
      .withColumn("spansSorted", sortedSpans)
      .select(col("doc_id"),
        // G1 candidates: (kind, href) of link-ish spans in doc order —
        // the round joins the page's primary URI on and filters by
        // scheme to get the dense per-parent child index
        transform(filter(col("spansSorted"),
            sp => sp.getField("kind").isInCollection(LinkKinds)),
          sp => struct(sp.getField("kind").as("kind"),
            sp.getField("text").as("href"))).as("linkSpans"),
        // G2 candidates: raw <loc> texts in doc order (pushed verbatim,
        // sitemap_scanner.py:118-124) — prefiltered to http(s), the
        // same gate the explode applies
        filter(transform(filter(col("spansSorted"),
            sp => sp.getField("kind") === "sitemap-loc"),
          sp => sp.getField("text")), t => url_is_http(t))
          .as("locsRaw"),
        // A7 record-count input: UNfiltered loc count
        size(filter(col("spansSorted"),
          sp => sp.getField("kind") === "sitemap-loc")).as("nlocs"),
        // dup-detection content key: an incremental fold over the spans
        // (two differently-seeded xxhash64 chains in ONE pass) instead
        // of hashing a materialized concatenation — the page body never
        // exists as one string, so the parse pass allocates O(1) per
        // span. The key is SPAN-STRUCTURAL (two bodies are "equal" iff
        // their (kind,text,media_ref) span sequences are equal), and the
        // oracle's serial twin compares the same structural key exactly
        // (Checks.bodyKey), so parity depends only on the 128-bit fold
        // being collision-free: at 10^10 pages the birthday bound
        // expects (10^10)²/2^129 ≈ 1.5e-19 colliding pairs — a 64-bit
        // key would expect ~3 real collisions (each a false `dup`
        // defect), which is why the fold runs two lanes.
        aggregate(col("spansSorted"),
          struct(lit(42L).as("a"), lit(4242L).as("b")),
          (h, s) => struct(
            xxhash64(h.getField("a"), s.getField("kind"), s.getField("text"),
              s.getField("media_ref")).as("a"),
            xxhash64(h.getField("b"), s.getField("kind"), s.getField("text"),
              s.getField("media_ref")).as("b"))).as("bh0"),
        try_element_at(filter(col("spansSorted"),
          s => s.getField("kind") === "canonical"), lit(1))
          .getField("text").as("canonText"),
        Checks.pageDefectsPre(col("spansSorted")).as("preDef"),
        lit(true).as("hasSpans"))
    PreparedWorld(docsSlim, fetchMap, hosts)
  }

  case class RoundIn(
      round: Int,
      frontier: DataFrame, // seq,pos,uri,origUri,depth,srcSeq,method,expected
      /** cumulative seen set as PARTS (compacted table + per-round
        * deltas), each cached hash-partitioned+sorted on (uri, method)
        * so the D1 anti-join chain never re-exchanges the seen side
        * (SURVEY §4 physical note). Columns: uri, method, seq. */
      seen: Seq[DataFrame],
      hostState: DataFrame, // host, lastVisitS
      /** dupdetect accumulator parts (same layout discipline as `seen`,
        * partitioned on bhash): size, bhash, bhash2, pop, uri */
      dupState: Seq[DataFrame],
      knownMaps: DataFrame, // uri (D3 known-sitemaps set)
      nextSeq: Long, nextPos: Long, seenCount: Long,
      /** frontier pos range [posLo, nextPos) — bounded-rank bucket keys */
      posLo: Long,
      /** thunk, not a value: the driver merges the seen-bloom
        * ASYNCHRONOUSLY (the merge job overlaps this round's checkpoint
        * job); run() forces it only when the dedup stage is built.
        * Yields the single broadcast bloom within budget, the
        * bucket-sharded family past it, or None (prefilter off). */
      seenBloom: () => Option[UrlSeen.SeenPrefilter],
      /** where the round's lineage cuts live (f5c, won, based) */
      placement: Placement)

  case class RoundOut(
      frontierOut: DataFrame,
      /** accepted-link delta: seq, method, canon, decoded, depth,
        * expected, round — projects to seen/aliases/REQUESTED rows */
      accepted: DataFrame,
      txDelta: DataFrame, // processed rows only, + round column
      links: DataFrame, // fromSeq,toUri,toSeq,createdAtPop
      defects: DataFrame, // popPos,phase,responseSeq,typeName,evidence,severity
      hostStateOut: DataFrame,
      dupStateDelta: DataFrame,
      knownMapsDelta: DataFrame, // uri
      headers: DataFrame, // seq, hname, hvalue (G4; empty if !recordHeaders)
      cookies: DataFrame, // seq, cname, cvalue, csecure, chttpOnly, cpath (G5)
      lineage: DataFrame, // metric, partition, count
      cached: Seq[DataFrame], // persisted intermediates; unpersist after commit
      hostTables: Seq[HostTable], // per-round lookups; destroy with `cached`
      /** the seen prefilter the dedup stage probed; its broadcasts are
        * destroyed with `cached` */
      prefilter: Option[UrlSeen.SeenPrefilter]) {
    /** Frees what the round owns, once no plan that reads it runs again.
      * Holds only those, not the round: a held RoundOut would keep its
      * plans (the collected lineage's executed plan among them) live.
      */
    def release: () => Unit = {
      val (c, t, p) = (cached, hostTables, prefilter)
      () => {
        c.foreach(_.unpersist(blocking = false))
        t.foreach(_.destroy())
        p.foreach(_.destroy())
      }
    }
  }

  private val LinkKinds = Seq("link", "css-link", "img", "iframe", "frame")

  /** What a round owns before its [[RoundOut]] carries it. */
  private final class Owned {
    var hostTables: Seq[HostTable] = Nil
    var prefilter: Option[UrlSeen.SeenPrefilter] = None
  }

  /** Builds round `in.round`. If building it throws, the round's host
    * tables and prefilter broadcasts are destroyed before the rethrow:
    * no [[RoundOut]] reaches the caller to release them.
    */
  def run(spark: SparkSession, world: PreparedWorld, cfg: CrawlConfig, in: RoundIn): RoundOut = {
    val owned = new Owned
    try build(spark, world, cfg, in, owned)
    catch {
      case e: Throwable =>
        owned.hostTables.foreach(_.destroy())
        owned.prefilter.foreach(_.destroy())
        throw e
    }
  }

  private def build(spark: SparkSession, world: PreparedWorld, cfg: CrawlConfig,
      in: RoundIn, owned: Owned): RoundOut = {
    // round-varying plan parameters ride the codegen references array
    // (graft.plans.Dyn) so every BSP round reuses the same compiled
    // classes instead of paying a fresh janino compile
    import graft.plans.Dyn.{dynDouble, dynInt, dynLong}
    val S = dynDouble(in.round * cfg.rescheduleBoundS)
    val bound = lit(cfg.rescheduleBoundS)

    // ---- gates ------------------------------------------------------
    // canTouch (acceptor.py:32): Python re.match anchors at the string
    // START, so each regex is wrapped in ^(?:...); with NO configured
    // regexes nothing is worth touching (exists over an empty list) —
    // identical in the oracle (lookingAt over the same list).
    val worthCol: Column = cfg.uriRegexes.map(r => col("uri").rlike("^(?:" + r + ")"))
      .reduceOption(_ || _).getOrElse(lit(false))

    // robots rules per host (looked up); longest-prefix match, allow wins
    // ties (reppy semantics; robots.py:40-63) — pure array expressions.
    val disallowedCol: Column = {
      val matching = filter(col("rrules"), r => startswith(col("pathq"), r.getField("path_pref")))
      val best = try_element_at(array_sort(transform(matching, r => struct(
        length(r.getField("path_pref")).as("l"),
        (r.getField("rule") === "allow").as("a"),
        r.getField("rule").as("rule")))), lit(-1))
      col("rrules").isNotNull && size(matching) > 0 && best.getField("rule") === "disallow"
    }

    // NOTE on op batching (here and below): every Dataset operation
    // (withColumn/join/select) EAGERLY re-analyzes the whole
    // accumulated logical plan on the driver, and with ~100 ops per
    // round over trees holding the big URL/check expression columns
    // that analysis IS the per-round fixed cost on small worlds
    // (measured ~1.9 s of a ~2.7 s round at 40 docs). Chains of
    // independent columns are therefore grouped into single
    // `withColumns` calls (ListMap: deterministic append order), one
    // analyzer pass per dependency LEVEL instead of per column —
    // column values are unchanged.
    import scala.collection.immutable.ListMap
    val f1 = in.frontier
      .withColumns(ListMap(
        "host" -> url_host(col("uri")),
        "pathq" -> url_pathq(col("uri"))))
      .withColumns(ListMap(
        "rrules" -> world.hosts(col("host")).getField("rrules"),
        "d" -> world.hosts(col("host")).getField("d")))
      .withColumns(ListMap(
        "gate" ->
          when(!url_is_valid(col("uri")), "invalid")
            .when(!worthCol, "notworth")
            .when(lit(cfg.maxDepth) > 0 && col("depth") > cfg.maxDepth, "deep")
            .when(disallowedCol, "robots")
            .otherwise("pass"),
        // uri_normalizer (P5, uri_normalizer.py:22-27): a separate
        // column — the frontier row (and hence deferral/crawl-order/
        // non-OK transactions) keeps the pre-normalize uri, exactly
        // like the reference where Reschedule fires before the
        // normalizer plugin
        "uriN" ->
          (if (cfg.normalizeUris) url_defrag(url_normalize(col("uri"))) else col("uri"))))
      .drop("rrules", "pathq")

    // ---- fetch = frontier ⋈ pre-resolved fetch map (J6, one join) ----
    // P15: GET/HEAD request data rides the fetch URL (net.py:200-207);
    // the param-free case keeps the plain uriN key so the frontier's
    // uri partitioning still co-locates with the cached fetch map
    val hasParamSeeds = cfg.effectiveSeeds.exists(_.data.nonEmpty)
    val fetchKey =
      if (!hasParamSeeds) col("uriN")
      else when((col("method") === "GET" || col("method") === "HEAD") &&
          col("dataQ").isNotNull,
        concat(col("uriN"), lit("?"), col("dataQ"))).otherwise(col("uriN"))
    val f2 = f1.withColumn("fetchKey", fetchKey)
      .join(world.fetchMap, col("fetchKey") === col("url"), "left")
      .withColumns(ListMap(
        "ct" -> split(col("finCtRaw"), ";").getItem(0),
        // a successful paramed fetch's r.url carries the query, so the
        // primary-URI rewrite fires off fetchKey (net.py:121-123)
        "finalUrl" ->
          when(col("redirTarget").isNotNull, url_defrag(col("redirTarget")))
            .otherwise(col("fetchKey"))))

    val maxLenGate: Column = cfg.maxContentLength
      .map(m => col("finLen") > m).getOrElse(lit(false))
    val f3 = f2.withColumn("fetchClass",
      when(col("gate") =!= "pass", col("gate"))
        .when(!url_is_http(col("uriN")), "scheme")
        .when(col("url").isNull, "neterr")
        .when(col("tooMany"), "toomany") // NetworkError, but NO defect
        .when(col("finStatus") =!= 200, "badstatus")
        .when(!col("ct").isin(cfg.acceptedTypes: _*), "cttype")
        .when(maxLenGate, "toolong")
        .when(col("expected").isNotNull && !col("ct").startsWith(col("expected")), "mistyped")
        .otherwise("ok"))
      .withColumn("wouldSucceed", col("fetchClass") === "ok")

    // ---- politeness (virtual clock; declared model, oracle §deviations)
    // Per-host first-success via a partial-aggregating groupBy (map-side
    // combine makes the hot-host key skew-safe — a
    // Window.partitionBy(host) would pull every hot-host row into one
    // task), merged with the previous visit times into ONE per-round
    // host table: one O(hosts) collect, probed per row. Only delayed
    // hosts' first successes matter (`defer` needs d). Worlds without
    // crawl delays skip the machinery entirely.
    val f4 = if (!world.hasDelays) {
      f3.withColumns(ListMap(
        "hvt" -> lit(null).cast(DoubleType),
        "defer" -> lit(false)))
    } else {
      val firstSucc = f3
        .filter(col("wouldSucceed") && col("gate") === "pass" && col("d").isNotNull)
        .groupBy("host").agg(min(col("pos")).as("fsp"))
        .select(col("host"), lit(null).cast(DoubleType).as("hvt"), col("fsp"))
      val prior = in.hostState.select(col("host"), col("lastVisitS").as("hvt"),
        lit(null).cast("long").as("fsp"))
      val state = HostTable.collect(unionByName(Seq(prior, firstSucc)))
      owned.hostTables = Seq(state)
      f3.withColumns(ListMap(
          "hvt" -> state(col("host")).getField("hvt"),
          "firstSuccPos" -> state(col("host")).getField("fsp")))
        .withColumn("defer",
          (col("gate") === "pass") && col("d").isNotNull && (
            when(col("hvt").isNotNull && col("d") <= bound, lit(false))
              .when(col("hvt").isNotNull &&
                (col("hvt") + col("d") - greatest(S, col("hvt")) > bound), lit(true))
              .when(col("hvt").isNotNull,
                col("firstSuccPos").isNotNull && col("pos") > col("firstSuccPos"))
              .otherwise((col("d") > bound) &&
                col("firstSuccPos").isNotNull && col("pos") > col("firstSuccPos"))))
    }

    // ---- body (J6b: slim per-doc feature join; the heavy spans were
    // parsed once in prepare and never enter the round) ----------------
    // (three analyzer levels: {uriHdr, reached200, hasSpans} →
    // {uriOk} → {defArr, kidArr, locArr}. The hasSpans coalesce moves
    // ahead of defArr, which is value-neutral: a null vs false
    // `hasSpans` conjunct both leave the no-otherwise `when` null.)
    val f5 = f4
      .join(world.docs, f4("finDocId") === world.docs("doc_id"), "left")
      .withColumns(ListMap(
        // primary-URI rewrite chain: redirect → `Link: rel=canonical`
        // response header (P7, canonical.py:22-28) → body canonical span
        "uriHdr" ->
          when(col("finCanon").isNotNull, url_defrag(col("finCanon")))
            .otherwise(url_defrag(col("finalUrl"))),
        // reached200 (the G5/badtype gate) is precomputed so the fetch-
        // resolution columns (url/uriN/redirect/canonical) can be
        // dropped from the checkpoint row entirely
        "reached200" -> ((col("gate") === "pass") &&
          url_is_http(col("uriN")) && col("fetchClass") =!= "toomany" &&
          col("url").isNotNull && (col("finStatus") === 200)),
        "hasSpans" -> coalesce(col("hasSpans"), lit(false))))
      // the <link rel=canonical> rewrite is part of links_finder's
      // check (links_finder_plugin.py:38-50) — it only fires when the
      // F12 gate dispatches links_finder to this page; the gate sees
      // the pre-rewrite primary uri (uriHdr), like the reference's
      // accept(transaction, plugin) at dispatch time
      .withColumn("uriOk",
        when(col("canonText").isNotNull &&
            Checks.gateCol(cfg, "links_finder", col("ct"), col("uriHdr")),
          url_defrag(col("canonText")))
          .otherwise(col("uriHdr")))
      .withColumns(ListMap(
        // the precomputed tagged defect array needs only the
        // transaction-dependent F12 gates applied (ct × primary uri)
        "defArr" ->
          when(col("fetchClass") === "ok" && col("hasSpans") && !col("defer"),
            Checks.gateDefects(col("preDef"), col("ct"), col("uriOk"), cfg)),
        // G1/G2 kid candidate arrays, gates baked in — size() is the
        // per-parent count the seq arithmetic needs and posexplode's
        // index is the dense within-parent order, BY CONSTRUCTION the
        // same array for both
        "kidArr" ->
          when(col("fetchClass") === "ok" && col("hasSpans") && !col("defer") &&
              Checks.gateCol(cfg, "links_finder", col("ct"), col("uriHdr")),
            filter(transform(col("linkSpans"), s =>
              struct(s.getField("kind").as("kind"),
                url_join(col("uriOk"), s.getField("href")).as("joined"))),
              x => url_is_http(x.getField("joined")))), // links_finder:57-59
        "locArr" ->
          when(col("fetchClass") === "ok" && col("hasSpans") && !col("defer") &&
              Checks.gateCol(cfg, "sitemap_scanner", col("ct"), col("uriOk")),
            col("locsRaw"))))
      .drop("doc_id", "preDef", "canonText", "rrules", "linkSpans", "locsRaw",
        "uriN", "fetchKey", "finalUrl", "redirTarget", "finCanon",
        "url", "finDocId", "tooMany", "firstSuccPos")

    // Every output branches off f5 / kids2 / accepted. f5 is
    // checkpointed (not merely persisted): ~8 output branches reference
    // it, and with a plain persist each branch's logical plan still
    // contains the whole round tree, so the driver re-analyzes/
    // re-optimizes the full DAG per branch — serial time that does not
    // shrink with cores and flattened the round-1 scaling curve. The
    // checkpoint truncates lineage to a leaf. LAZY locally: the leaf
    // exists at construction (the property the branches need) while the
    // materialization rides the round's forcing job instead of a
    // separate up-front job — one fewer serial job barrier per round
    // (block-manager per-partition locks keep it compute-once). A
    // cluster takes the eager reliable checkpoint ([[Placement.cut]]).
    val f5c = in.placement.cut(f5, eager = false)
    val processed = f5c.filter(!col("defer"))
    val deferred = f5c.filter(col("defer"))
      .select("pos", "seq", "uri", "origUri", "depth", "srcSeq", "method",
        "expected", "referer", "dataQ")

    // ---- transactions delta (only DONE-OK persists uri/ct/status) ----
    val statusCol =
      when(col("fetchClass").isin("invalid", "neterr", "toomany", "badstatus"),
        VerificationStatus.DoneKo)
        .when(col("fetchClass") === "ok", VerificationStatus.DoneOk)
        .otherwise(VerificationStatus.DoneIgnored)
    val txProcessed = processed.select(
      col("seq"), col("method"),
      when(col("fetchClass") === "ok", col("uriOk")).otherwise(col("origUri")).as("uri"),
      when(col("fetchClass") === "ok", col("finStatus")).otherwise(lit(null).cast(IntegerType))
        .as("responseStatus"),
      when(col("fetchClass") === "ok", col("ct")).otherwise(lit(null).cast(StringType))
        .as("contentType"),
      statusCol.as("verificationStatus"),
      col("depth"), col("expected"), dynInt(in.round).as("round"))

    // ---- defects (deterministic order key: (popPos=pos, phase)) ------
    def defectDf(cond: Column, phase: Int, seqCol: Column, name: String,
        evidence: Column, sev: Double): DataFrame =
      processed.filter(cond).select(
        col("pos").as("popPos"), lit(phase).as("phase"), seqCol.as("responseSeq"),
        lit(name).as("typeName"), evidence.as("evidence"), lit(sev).as("severity"),
        lit(0).as("sub"))
    val reached200 = col("reached200")
    val defects = Seq(
      defectDf(col("fetchClass") === "invalid", 0, col("seq"), "invaliduri", col("uri"), 1.0),
      defectDf(col("fetchClass") === "neterr", 0, col("seq"), "neterr",
        lit("All %s attempts to get %s failed."), 0.9),
      defectDf(col("fetchClass") === "badstatus", 0, col("srcSeq"), "badlink", col("uri"), 1.0),
      defectDf(reached200 && trim(col("finCtRaw")) === "", 1, col("seq"), "badtype",
        lit(null).cast(StringType), 0.5),
      defectDf(col("fetchClass") === "mistyped", 2, col("seq"), "mistyped",
        concat(lit("Expected: "), col("expected"), lit(" Got: "), col("ct")), 0.8),
      defectDf(col("fetchClass") === "ok" && col("finMime").isNotNull &&
        col("finMime") =!= col("ct"), 3, col("seq"), "type-mishmash",
        concat(lit("Declared "), col("ct"), lit(",detected "), col("finMime")), 0.3))

    // ---- checker plugins over OK pages (phases 4..11, Checks) --------
    // dupdetect (D4): vs all earlier OK pages (cross-round state +
    // earlier pops this round) with equal (size, body) and different uri
    val okDocs = processed.filter(col("fetchClass") === "ok" && col("hasSpans") &&
      Checks.gateCol(cfg, "dupdetect", col("ct"), col("uriOk")))
    val dupCur = okDocs.select(col("pos"), col("seq"), col("uriOk").as("uri"),
      col("finLen").as("size"),
      col("bh0").getField("a").as("bhash"), col("bh0").getField("b").as("bhash2"))
    val dupStateDelta = dupCur.select(col("size"), col("bhash"), col("bhash2"),
      col("pos").as("pop"), col("uri"))
    // prior parts joined ONE BY ONE (hit ∪ over parts ≡ hits vs the
    // parts' union): the cumulative parts are cached hash-partitioned
    // on bhash, so each join is Exchange-free on the prior side —
    // dupCur shuffles once, then streams through the chain; the final
    // min-aggregate over the unioned (tiny) hit sets recovers the
    // earliest prior exactly as the single-join form did
    val dupHits = unionByName((in.dupState :+ dupStateDelta).map { part =>
      val p = part.select(col("size"), col("bhash"), col("bhash2"),
        col("pop").as("p_pop"), col("uri").as("p_uri"))
      dupCur.join(p, Seq("size", "bhash", "bhash2"))
        .filter(col("p_uri") =!= col("uri") && col("p_pop") < col("pos"))
        .select(col("pos"), col("seq"), col("p_pop"), col("p_uri"))
    })
    val dupDefects = dupHits
      .groupBy(col("pos"), col("seq"))
      .agg(min(struct(col("p_pop"), col("p_uri"))).as("first"))
      .select(col("pos").as("popPos"), lit(4).as("phase"), col("seq").as("responseSeq"),
        lit("dup").as("typeName"), col("first").getField("p_uri").as("evidence"),
        lit(0.7).as("severity"), lit(0).as("sub"))
    val okHtmlChk = processed.filter(col("defArr").isNotNull)
      .select(col("pos"), col("seq"), col("defArr"))
    // sitemap_scanner conditions (A7, sitemap_scanner.py:70-79; declared
    // plugin order puts the scanner last → phase 12). Deviation note:
    // we implement the documented intent — the reference's tag test at
    // :40-44 short-circuits every well-formed urlset and its size check
    // would NameError at :73.
    val smPages = processed.filter(col("fetchClass") === "ok" &&
        Checks.gateCol(cfg, "sitemap_scanner", col("ct"), col("uriOk")) &&
        col("hasSpans") && col("nlocs") > 0)
    val sizeFired = col("finLen") > cfg.sitemapMaxSize
    val smDefects = Seq(
      smPages.filter(sizeFired).select(
        col("pos").as("popPos"), lit(12).as("phase"), col("seq").as("responseSeq"),
        lit("sitemapsize").as("typeName"), col("finLen").cast(StringType).as("evidence"),
        lit(0.6).as("severity"), lit(0).as("sub")),
      smPages.filter(col("nlocs") > cfg.sitemapMaxRecords).select(
        col("pos").as("popPos"), lit(12).as("phase"), col("seq").as("responseSeq"),
        lit("sitemaprecords").as("typeName"), col("nlocs").cast(StringType).as("evidence"),
        lit(0.6).as("severity"),
        when(sizeFired, 1).otherwise(0).as("sub")))
    // every defect kind of the round in one union (one analyzer pass)
    val allDefects = unionByName(
      defects ++ (dupDefects +: Checks.pageDefects(okHtmlChk) +: smDefects))

    // ---- link explode (G1/G2/G3) with ARITHMETIC seq assignment ------
    // idno parity: every scheme-passing link consumes a seq, dups
    // included (transaction.py:102-115); order = (parent pop, doc order;
    // sitemap virtual pushes first). Round 3 RANKED the exploded links —
    // a full O(links) shuffle whose window sort and offsets broadcast
    // re-executed the explode+URL chain. Now the seq is COMPUTED: the
    // kid arrays baked into the checkpoint row give each parent's kid
    // count, an O(parents) bounded prefix-sum gives the parent's first
    // seq (`sbase`), and a child's seq is sbase + within-parent index
    // (virtual pushes 0..v-1, then the dense array index + v). The only
    // shuffles left are the slim counts table and one parents-by-pos
    // join — both O(parents), never O(links).
    val kidCols = Seq("parentSeq", "parentPos", "childIdx", "canon", "decoded",
      "cexpected", "cdepth", "referer", "smHost", "seq")

    // ---- robots-sitemap virtual links (G3/D3, robots.py:72-83) -------
    // Trigger = the host's FIRST robots-allowed pop this round whose
    // sitemap set still has unknown locs; per-loc winner = smallest
    // trigger pos (the serial known-maps evolution). Emission order per
    // trigger: robots virtual tx, then new locs lexicographically
    // (declared deviation: the reference iterates a Python set) — all
    // BEFORE the page's own children (record_sitemaps runs pre-fetch),
    // hence vidx 0 (robots) / 1+j (locs) and the negative childIdx
    // frontier-arrival keys.
    // The winner table is REFERENCED three times downstream (cntAll,
    // the virtual-row build, knownMapsDelta) and logical plans are
    // trees, so each reference pastes a fresh copy of the whole
    // site-pop/anti-join/window subtree — re-walked by the analyzer's
    // full-tree rules on every subsequent op and re-executed per branch
    // job's broadcast subqueries. A LAZY localCheckpoint truncates it
    // to a leaf at construction (no extra job — materialization rides
    // the forcing job, compute-once under block locks, exactly the f5c
    // discipline; [[Placement.leafLocal]]).
    val won: Option[DataFrame] =
      if (!world.hasSitemaps) None
      else {
        val sitePops = f5c.filter(col("gate") === "pass")
          .withColumn("slocs", world.hosts(col("host")).getField("slocs"))
          .filter(col("slocs").isNotNull)
          .groupBy(col("host"))
          .agg(min(struct(col("pos"), col("seq"), col("depth"))).as("f"),
            first(col("slocs")).as("slocs"))
          .select(col("host"), col("f.pos").as("hpos"), col("f.seq").as("hseq"),
            col("f.depth").as("hdepth"), col("slocs"))
        val cand = sitePops.select(col("host"), col("hpos"), col("hseq"),
          col("hdepth"), posexplode(col("slocs")).as(Seq("li", "loc")))
        val fresh = cand.join(in.knownMaps.select(col("uri").as("loc")),
          Seq("loc"), "left_anti")
        Some(in.placement.leafLocal(fresh.withColumn("rn0",
            row_number().over(Window.partitionBy(col("loc")).orderBy(col("hpos"))))
          .filter(col("rn0") === 1).drop("rn0")
          .withColumn("j",
            row_number().over(Window.partitionBy(col("host")).orderBy(col("li"))) - 1)))
      }
    val knownMapsDelta = won.map(_.select(col("loc").as("uri")))
      .getOrElse(spark.emptyDataFrame.select(lit("").as("uri")).limit(0))

    // per-parent kid counts (regular + virtual) -> exclusive prefix sum
    val cntReg = processed.select(col("pos"),
        (coalesce(size(col("kidArr")), lit(0)) +
          coalesce(size(col("locArr")), lit(0))).cast("long").as("cnt"),
        lit(0L).as("vcnt"))
      .filter(col("cnt") > 0)
    val cntAll = won match {
      case None => cntReg
      case Some(w) =>
        cntReg.unionByName(w.groupBy(col("hpos").as("pos"))
          .agg((count(lit(1)) + 1L).as("cnt"))
          .withColumn("vcnt", col("cnt")))
    }
    val counts = cntAll.groupBy(col("pos"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("vcnt")).as("vcnt"))
    // same rationale as `won`'s leaf: `based` is pasted into the
    // parents join AND the virtual-row build, each copy dragging the
    // counts/prefix-sum subtree (with its offsets broadcast) along
    val based = in.placement.leafLocal(Ranks.withBoundedPrefixSum(counts, col("pos"),
      col("cnt"), "base", in.posLo, in.nextPos)
      .select(col("pos"), col("base"), col("vcnt")))

    // parents (slim projection) joined to their first-seq base: the one
    // remaining exchange carries O(parents) rows
    val parents = processed
      .filter(coalesce(size(col("kidArr")), lit(0)) > 0 ||
        coalesce(size(col("locArr")), lit(0)) > 0)
      .select(col("seq").as("parentSeq"), col("pos").as("parentPos"),
        col("depth"), col("uriOk").as("base"), col("kidArr"), col("locArr"))
      .join(based.select(col("pos").as("parentPos"), col("base").as("sbase"),
        col("vcnt")), Seq("parentPos"))

    val kids1 = parents
      .select(col("parentSeq"), col("parentPos"), col("depth"), col("base"),
        col("sbase"), col("vcnt"),
        posexplode(col("kidArr")).as(Seq("childIdx", "k")))
      .withColumns(ListMap(
        "seq" ->
          (dynLong(in.nextSeq) + col("sbase") + col("vcnt") + col("childIdx")),
        // unquote²∘quote folds to one unquote (UrlFuncs.canonLink): the
        // quote round-trip allocated two extra strings per link for a
        // provable no-op
        "decoded" -> url_unquote(col("k").getField("joined")),
        "cexpected" ->
          when(col("k").getField("kind") === "img", "image/")
            .otherwise(lit(null).cast(StringType)),
        "cdepth" -> (col("depth") + 1),
        "referer" -> col("base"), // transaction.py:174
        "smHost" -> lit(null).cast(StringType)))
      .withColumn("canon", url_defrag(col("decoded")))
      .select(kidCols.map(col): _*)

    // ---- sitemap_scanner loc pushes (G2): raw locs, NO urljoin/quote
    // (sitemap_scanner.py:118-124 pushes the <loc> string directly).
    // When BOTH links_finder and sitemap_scanner fire on one page
    // (configurable gates may overlap even though the defaults are
    // content-type-disjoint), the serial reference pushes the link
    // children first (plugin order) and the scanner's locs after —
    // offsetting the loc childIdx by the page's link-kid count keeps
    // the per-parent seqs collision-free and the queue arrival order
    // (creatorPos, childIdx) faithful to that serial append order.
    val smLocKids = parents
      .select(col("parentSeq"), col("parentPos"), col("depth"), col("base"),
        col("sbase"), col("vcnt"),
        coalesce(size(col("kidArr")), lit(0)).as("nk"),
        posexplode(col("locArr")).as(Seq("locIdx", "loc")))
      .withColumns(ListMap(
        "childIdx" -> (col("nk") + col("locIdx")),
        "decoded" -> url_unquote2(col("loc")),
        "cexpected" -> lit(null).cast(StringType),
        "cdepth" -> (col("depth") + 1),
        "referer" -> col("base"),
        "smHost" -> lit(null).cast(StringType)))
      .withColumns(ListMap(
        "seq" ->
          (dynLong(in.nextSeq) + col("sbase") + col("vcnt") + col("childIdx")),
        "canon" -> url_defrag(col("decoded"))))
      .select(kidCols.map(col): _*)

    // virtual rows: robots tx at vidx 0, loc links at vidx 1+j hanging
    // off the robots tx's seq (push_link(new_map, robots_transaction),
    // robots.py:80) — both DIRECTLY computable from sbase, no post-rank
    // seq-resolution join
    val smVirtualKids: Option[DataFrame] = won.map { w =>
      val wb = w.join(based.select(col("pos").as("hpos"), col("base").as("sbase")),
        Seq("hpos"))
      val robotsUri = concat(lit("http://"), col("host"), lit("/robots.txt"))
      val robotsRows = wb
        .select(col("host"), col("hpos"), col("hseq"), col("hdepth"), col("sbase"))
        .distinct()
        .select(col("hseq").as("parentSeq"), col("hpos").as("parentPos"),
          lit(-2000000).as("childIdx"),
          url_defrag(url_unquote2(robotsUri)).as("canon"),
          url_unquote2(robotsUri).as("decoded"),
          lit(null).cast(StringType).as("cexpected"),
          (col("hdepth") + 1).as("cdepth"),
          lit(null).cast(StringType).as("referer"),
          col("host").as("smHost"),
          (dynLong(in.nextSeq) + col("sbase")).as("seq"))
      val mapRows = wb
        .select((dynLong(in.nextSeq) + col("sbase")).as("parentSeq"),
          col("hpos").as("parentPos"),
          (lit(-1000000) + col("j")).cast("int").as("childIdx"),
          url_defrag(url_unquote2(col("loc"))).as("canon"),
          url_unquote2(col("loc")).as("decoded"),
          lit(null).cast(StringType).as("cexpected"),
          (col("hdepth") + 2).as("cdepth"),
          url_defrag(url_unquote2(robotsUri)).as("referer"),
          col("host").as("smHost"),
          (dynLong(in.nextSeq) + col("sbase") + 1L + col("j")).as("seq"))
      robotsRows.unionByName(mapRows)
    }

    val kids2 = unionByName(Seq(kids1, smLocKids) ++ smVirtualKids.toSeq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- dedup: intra-round first-wins + URL-seen bands (D1) ---------
    // partial-aggregating groupBy (min by unique seq) instead of a
    // window: map-side combine shrinks the shuffle and skips the
    // per-partition sort — skew-safe on hot canons
    val firstKids = kids2
      .groupBy(col("canon")).agg(min(struct(col("seq"), col("parentSeq"),
        col("parentPos"), col("childIdx"), col("decoded"), col("cexpected"),
        col("cdepth"), col("referer"), col("smHost"))).as("k"))
      .select(col("canon"), col("k.seq").as("seq"), col("k.parentSeq").as("parentSeq"),
        col("k.parentPos").as("parentPos"), col("k.childIdx").as("childIdx"),
        col("k.decoded").as("decoded"), col("k.cexpected").as("cexpected"),
        col("k.cdepth").as("cdepth"), col("k.referer").as("referer"),
        col("k.smHost").as("smHost"))
      .withColumn("method", lit("GET"))
    owned.prefilter = in.seenBloom()
    val newItems = UrlSeen.dedupeAgainstSeen(
      firstKids, in.seen.map(_.select(col("uri").as("canon"), col("method"))),
      "canon", "method", owned.prefilter)

    // urlLimit (F10): global dense rank by seq vs the remaining budget;
    // over-limit items vanish entirely (SeenLimit: no rows logged)
    val (accepted, droppedCanons) = cfg.urlLimit match {
      case None => (newItems, None)
      case Some(limit) =>
        val ranked = Ranks.withBoundedRank(newItems, Seq(col("seq")), "limRank",
          col("parentPos"), in.posLo, in.nextPos)
        (ranked.filter(col("limRank") + dynLong(in.seenCount) < limit).drop("limRank"),
          Some(ranked.filter(col("limRank") + dynLong(in.seenCount) >= limit).select(col("canon"))))
    }

    val acceptedC = accepted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // link rows: all created links, duplicates included, except SeenLimit
    // drops — an over-limit canon never enters the seen set, so EVERY
    // same-round occurrence hits SeenLimit and logs nothing
    // (transaction.py:159-161, 212-233)
    val linksAll = droppedCanons match {
      case None => kids2
      case Some(d) => kids2.join(d, Seq("canon"), "left_anti")
    }
    val links = linksAll.select(col("parentSeq").as("fromSeq"), col("canon").as("toUri"),
      col("seq").as("toSeq"), col("parentPos").as("createdAtPop"))

    // single "accepted" delta carries seen/aliases/REQUESTED projections
    val acceptedOut = acceptedC.select(col("seq"), col("method"), col("canon"),
      col("decoded"), col("cdepth").as("depth"), col("cexpected").as("expected"),
      dynInt(in.round).as("round"))

    // ---- next frontier: deferred ∪ accepted, serial-FIFO arrival order
    val defPart = deferred.select(col("pos").as("creatorPos"), lit(0L).as("ci"),
      col("seq"), col("uri"), col("origUri"), col("depth"), col("srcSeq"),
      col("method"), col("expected"), col("referer"), col("dataQ"))
    val newPart = acceptedC.select(col("parentPos").as("creatorPos"),
      (col("childIdx").cast("long") + 1L).as("ci"), col("seq"), col("canon").as("uri"),
      col("canon").as("origUri"), col("cdepth").as("depth"),
      col("parentSeq").as("srcSeq"), col("method"), col("cexpected").as("expected"),
      col("referer"), lit(null).cast(StringType).as("dataQ"))
    val frontierOut = Ranks.withBoundedRank(defPart.unionByName(newPart),
      Seq(col("creatorPos"), col("ci")), "posRank", col("creatorPos"), in.posLo, in.nextPos)
      .withColumn("pos", col("posRank") + dynLong(in.nextPos))
      .select("seq", "pos", "uri", "origUri", "depth", "srcSeq", "method",
        "expected", "referer", "dataQ")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- host politeness state (closed form of the serial recurrence)
    val succ = processed.filter(col("wouldSucceed") && col("gate") === "pass")
      .groupBy("host").agg(count(lit(1)).as("J"),
        first(col("d")).as("d"), first(col("hvt")).as("hvt0"))
      .withColumn("Jeff", when(col("d").isNotNull && col("d") > bound, least(col("J"), lit(1L)))
        .otherwise(col("J")))
      .withColumn("newVt",
        when(col("d").isNull || col("d") <= 0, S.cast(DoubleType))
          .otherwise(greatest(S, coalesce(col("hvt0") + col("d"), S)) +
            (col("Jeff") - 1).cast(DoubleType) * col("d")))
      .select(col("host"), col("newVt"))
    val hostStateOut = in.hostState.join(succ, Seq("host"), "full")
      .select(col("host"), coalesce(col("newVt"), col("lastVisitS")).as("lastVisitS"))

    // ---- G5 cookie recording (net.py:126, 209-218): response cookies
    // of every fetch that reached a 200 — recorded BEFORE accepted-type
    // filtering, so DONE-IGNORED cttype/toolong/mistyped rows keep theirs
    val cookiesOut = processed.filter(reached200 && size(col("finCookies")) > 0)
      .select(col("seq"), explode(col("finCookies")).as("c"))
      .select(col("seq"), col("c.name").as("cname"), col("c.value").as("cvalue"),
        col("c.secure").as("csecure"), col("c.httpOnly").as("chttpOnly"),
        col("c.path").as("cpath"))

    // ---- G4 header recording (database.py:254-257): request headers
    // of DONE-OK transactions — Referer (push-time parent URI),
    // User-Agent, Accept (net.py:78-79) ------------------------------
    val headersOut =
      if (!cfg.recordHeaders)
        spark.emptyDataFrame.select(lit(0L).as("seq"), lit("").as("hname"),
          lit("").as("hvalue")).limit(0)
      else processed.filter(col("fetchClass") === "ok")
        .select(col("seq"), explode(filter(array(
          struct(lit("Referer").as("hname"), col("referer").as("hvalue")),
          struct(lit("User-Agent").as("hname"), lit(cfg.agent).as("hvalue")),
          struct(lit("Accept").as("hname"),
            lit(cfg.acceptedTypes.mkString(",")).as("hvalue"))),
          h => h.getField("hvalue").isNotNull)).as("h"))
        .select(col("seq"), col("h.hname").as("hname"), col("h.hvalue").as("hvalue"))

    // ---- per-partition lineage (A4 / north rule) ----------------------
    def lin(df: DataFrame, metric: String): DataFrame =
      df.select(lit(metric).as("metric"), spark_partition_id().as("partition"),
        lit(1L).as("w"))
    // A3 volume accounting (core.py:153-179): bytes of processed fetches
    val volume = processed.filter(col("wouldSucceed"))
      .select(lit("volumeBytes").as("metric"), spark_partition_id().as("partition"),
        coalesce(col("finLen"), lit(0L)).as("w"))
    val lineage = unionByName(Seq(lin(in.frontier, "frontierIn"),
        lin(processed.filter(col("wouldSucceed")), "fetched"),
        lin(kids2, "discovered"),
        lin(acceptedC, "deduped"),
        lin(frontierOut, "frontierOut"),
        volume))
      .groupBy(col("metric"), col("partition"))
      .agg(sum(col("w")).as("count"))
      .select("metric", "partition", "count")

    RoundOut(frontierOut, acceptedOut, txProcessed, links,
      allDefects, hostStateOut,
      dupStateDelta, knownMapsDelta, headersOut, cookiesOut, lineage,
      cached = Seq(f5c, kids2, acceptedC, frontierOut),
      hostTables = owned.hostTables, prefilter = owned.prefilter)
  }
}
