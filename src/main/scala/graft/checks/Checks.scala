package graft.checks

import graft.model.{CrawlConfig, PluginGate, Span}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Checker plugins re-expressed over the span model (SURVEY.md §2.4-2.5,
  * reference plugin/checkers). Each checker is a Column-producing
  * module over the processed page rows; defects carry the deterministic
  * order key (popPos=pos, phase).
  *
  * Phases: 4 dupdetect, 5 seo:huge_internal, 6 seo:duplicit_inline,
  * 7 meta description, 8 meta keywords, 9 noscript, 10 seoimg, 11 mail,
  * 12 sitemap_scanner (in CrawlRound), 13 non_semantic_html.
  *
  * Declared deviation: dupdetect emits ONE defect per duplicate page,
  * citing the EARLIEST prior page with equal (size, body) and different
  * URI — the reference emits one per prior and carries a hash-filling
  * bug (dupdet.py:70-71 hashes the current file when backfilling a
  * prior's hash); we implement the documented intent (size class +
  * content hash), identically in oracle and engine.
  */
object Checks {

  /** non_semantic_html presentational-attribute table
    * (non_semantic_html.py:14-59): per tag, the deprecated attributes in
    * the plugin's list order (the order its inner loop emits defects).
    */
  val despicableAttrs: Map[String, Seq[String]] = Map(
    "body" -> Seq("alink", "background", "bgcolor", "link", "text", "vlink"),
    "br" -> Seq("clear"),
    "caption" -> Seq("align"),
    "col" -> Seq("align", "char", "charoff", "valign", "width"),
    "div" -> Seq("align"),
    "dl" -> Seq("compact"),
    "hr" -> Seq("align", "noshade", "size", "width"),
    "h1" -> Seq("align"), "h2" -> Seq("align"), "h3" -> Seq("align"),
    "h4" -> Seq("align"), "h5" -> Seq("align"), "h6" -> Seq("align"),
    "iframe" -> Seq("align", "frameborder", "marginheight", "marginwidth", "scrolling"),
    "input" -> Seq("align"),
    "img" -> Seq("align", "border", "hspace", "vspace"),
    "legend" -> Seq("align"),
    "li" -> Seq("type"),
    "menu" -> Seq("compact"),
    "object" -> Seq("align", "border", "hspace", "vspace"),
    "ol" -> Seq("compact", "type"),
    "p" -> Seq("align"),
    "pre" -> Seq("width"),
    "table" -> Seq("align", "border", "bgcolor", "cellpadding", "cellspacing",
      "frame", "rules", "width"),
    "tbody" -> Seq("align", "char", "charoff", "valign"),
    "thead" -> Seq("align", "char", "charoff", "valign"),
    "tfoot" -> Seq("align", "char", "charoff", "valign"),
    "th" -> Seq("align", "bgcolor", "char", "charoff", "height", "nowrap",
      "valign", "width"),
    "td" -> Seq("align", "bgcolor", "char", "charoff", "height", "nowrap",
      "valign", "width"),
    "tr" -> Seq("align", "bgcolor", "char", "charoff", "valign"),
    "ul" -> Seq("compact", "type"))

  /** non_semantic_html presentational tags (non_semantic_html.py:61-63). */
  val despicableTags: Set[String] = Set("i", "b", "u", "basefont", "big",
    "blink", "center", "font", "marquee", "s", "spacer", "strike", "tt")

  /** F12 per-plugin dispatch gate as a Column (core.py:274-285):
    * contentType ∈ plugin.contentTypes AND uri matches an anchored
    * per-plugin regex. The default `.*` regex folds to a constant so
    * the hot path pays no per-row regex for default configs.
    */
  def gateCol(cfg: CrawlConfig, plugin: String, ct: Column, uri: Column): Column =
    cfg.pluginGates.get(plugin) match {
      case None => lit(false) // no regexes configured → never accepted
      case Some(g) =>
        val ctOk =
          if (g.contentTypes.contains("*")) lit(true)
          else ct.isin(g.contentTypes: _*)
        val uriOk =
          if (g.uriRegexes == Seq(".*")) lit(true)
          else g.uriRegexes.map(r => uri.rlike("^(?:" + r + ")"))
            .reduceOption(_ || _).getOrElse(lit(false))
        ctOk && uriOk
    }

  /** Serial twin of [[gateCol]] for the oracle. */
  def gateLocal(cfg: CrawlConfig, plugin: String, ct: String, uri: String): Boolean =
    cfg.pluginGates.get(plugin) match {
      case None => false
      case Some(g) =>
        (g.contentTypes.contains("*") || g.contentTypes.contains(ct)) &&
          g.uriRegexes.exists(r => r.r.pattern.matcher(uri).lookingAt())
    }

  /** SPAN-STRUCTURAL dup-detection key: the (kind, text, media_ref)
    * sequence in offset order. This is the body-equality relation the
    * engine's 128-bit span fold hashes (CrawlRound prepare `bh0`) — the
    * oracle compares it EXACTLY, so engine/oracle parity depends only
    * on the fold being collision-free, never on two differently-
    * decomposed span arrays concatenating to equal strings.
    */
  def bodyKey(spans: Seq[Span]): Seq[(String, String, String)] =
    spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref))

  private def ofKind(spansSorted: Column, k: String): Column =
    filter(spansSorted, s => s.getField("kind") === k)

  /** Per-page checker defects for OK text/html rows as ONE projection:
    * every checker contributes an array<struct(phase,typeName,evidence,
    * severity)> built with higher-order expressions (no windows, no
    * per-checker branches), concatenated and exploded once — a single
    * scan of the cached page rows instead of a 12-way union.
    * Input columns: pos, seq, spansSorted. Output: popPos, phase,
    * responseSeq, typeName, evidence, severity.
    */
  def pageDefects(okHtml: DataFrame): DataFrame =
    okHtml.select(col("pos"), col("seq"), explode(col("defArr")).as("d"))
      .select(col("pos").as("popPos"), col("d.phase").as("phase"),
        col("seq").as("responseSeq"), col("d.typeName").as("typeName"),
        col("d.evidence").as("evidence"), col("d.severity").as("severity"),
        col("d.sub").as("sub"))

  /** Applies the F12 dispatch gates to a precomputed tagged defect array
    * ([[pageDefectsPre]]): whole plugin groups survive or vanish based
    * on the page's (contentType, primary URI) at transaction time, then
    * the tag is stripped so downstream sees the classic
    * struct(phase,typeName,evidence,severity,sub) shape. Gating is
    * all-or-nothing per plugin, so the precomputed within-plugin `sub`
    * indices stay valid.
    */
  def gateDefects(preDef: Column, ct: Column, uri: Column, cfg: CrawlConfig): Column =
    transform(
      filter(preDef, d => checkerPlugins.foldRight(lit(false)) { case (p, rest) =>
        when(d.getField("plugin") === p, gateCol(cfg, p, ct, uri)).otherwise(rest)
      }),
      d => struct(d.getField("phase").as("phase"),
        d.getField("typeName").as("typeName"),
        d.getField("evidence").as("evidence"),
        d.getField("severity").as("severity"),
        d.getField("sub").as("sub")))

  /** The plugin tags [[pageDefectsPre]] emits, in emission-group order. */
  val checkerPlugins: Seq[String] = Seq("css_scraper", "seo_meta", "no_script",
    "seo_images", "mailer", "non_semantic_html", "tidyHtmlValidator", "tinycss")

  /** The per-page checker defect array, UNGATED and tagged with the
    * emitting plugin: struct(plugin,phase,typeName,evidence,severity,
    * sub). A pure function of the page's spans — precomputed once per
    * document in the prepared world (CrawlRound.prepare), so the heavy
    * text spans never ride the per-round join/cache; the round applies
    * the transaction-dependent F12 gates via [[gateDefects]].
    */
  def pageDefectsPre(sp: Column): Column = {
    import org.apache.spark.sql.types.StringType

    def mk(phase: Int, name: String, evidence: Column, sev: Double): Column =
      struct(lit(phase).as("phase"), lit(name).as("typeName"),
        evidence.cast(StringType).as("evidence"), lit(sev).as("severity"),
        lit(0).as("sub"))
    /** singleton defect gated by a condition (type-stable empty via filter) */
    def one(cond: Column, phase: Int, name: String, evidence: Column, sev: Double): Column =
      filter(array(mk(phase, name, evidence, sev)), _ => cond)
    /** rewrite `sub` to the element's index — the within-phase emission
      * order of the reference's serial plugin loop (database.py:156-169
      * assigns defect-type ids first-seen in emission order; without
      * `sub`, two types first appearing at the same (popPos, phase)
      * would tie nondeterministically).
      */
    def reindex(arr: Column): Column = transform(arr, (d, i) =>
      struct(d.getField("phase").as("phase"), d.getField("typeName").as("typeName"),
        d.getField("evidence").as("evidence"), d.getField("severity").as("severity"),
        i.cast("int").as("sub")))

    // css_scraper internal <style> (css_scraper.py:52-60): first block
    val cssLen = octet_length(try_element_at(ofKind(sp, "css-int"), lit(1)).getField("text"))
    val huge = one(cssLen.isNotNull && cssLen > 1024, 5, "seo:huge_internal", cssLen, 0.5)

    // css_scraper inline dups (css_scraper.py:62-68): each repeat of a
    // style value after its first in-page occurrence (prefix scan)
    val styleTexts = transform(ofKind(sp, "style"), s => s.getField("text"))
    val dupVals = when(size(styleTexts) < 2, filter(styleTexts, _ => lit(false)))
      .otherwise(filter(
        transform(sequence(lit(2), greatest(size(styleTexts), lit(2))), i =>
          when(array_position(slice(styleTexts, lit(1), i - 1), element_at(styleTexts, i)) > 0,
            element_at(styleTexts, i))),
        x => x.isNotNull))
    val inlineDup = reindex(transform(dupVals, v => mk(6, "seo:duplicit_inline", v, 0.1)))

    // seo_meta (seo_meta.py:24-49)
    def metaCount(name: String): Column =
      size(filter(ofKind(sp, "meta"), s => s.getField("text") === name))
    val nDesc = metaCount("description")
    val nKeys = metaCount("keywords")
    val meta = concat(
      one(nDesc === 0, 7, "seo:nodsc", lit(""), 0.4),
      one(nDesc > 1, 7, "seo:multidsc", nDesc, 0.4),
      one(nKeys === 0, 8, "seo:nokeys", lit(""), 0.4),
      one(nKeys > 1, 8, "seo:multikeys", nKeys, 0.4))

    // no_script (no_script.py:17-30): PER SPAN, miss before no-comment —
    // the reference loop runs both checks on span k before span k+1,
    // and first-seen defect-type ids depend on that interleave (a span
    // failing only the comment check ahead of one failing only the
    // noscript check must order script-no-comment first).
    val scripts = reindex(flatten(transform(ofKind(sp, "script"), s => concat(
      one(!s.getField("text").contains("noscript"), 9, "noscript-miss",
        concat(lit("Script: "), s.getField("text")), 0.7),
      one(!s.getField("text").contains("comment"), 9, "script-no-comment",
        concat(lit("Script: "), s.getField("text")), 0.4)))))

    // seo_images (seo_images.py:22-37): flags ride in media_ref; per
    // span, nowidth before noheight (same interleave argument)
    val imgs = reindex(flatten(transform(ofKind(sp, "img"), s => {
      val flags = coalesce(s.getField("media_ref"), lit(""))
      concat(
        one(!flags.contains("w"), 10, "seo:img:nowidth", s.getField("text"), 0.6),
        one(!flags.contains("h"), 10, "seo:img:noheight", s.getField("text"), 0.6))
    })))

    // mailer (mailer.py:27-50), default config (mx/exists off): the
    // syntactic tier decides valid and the severity index
    // (__severities[sum] = 0.3 invalid / 0.8 valid, :14,47); the
    // network tiers are the build-once MailerCache path
    val mails = reindex(transform(ofKind(sp, "mail"), s => {
      val valid = s.getField("text").rlike(mailValidRegex)
      struct(lit(11).as("phase"), lit("mail").as("typeName"),
        concat(lit("Link: "), s.getField("text"), lit(", valid: "),
          when(valid, "True").otherwise("False"),
          lit(" (checked SMTP server: False, verified existence: False)"))
          .cast(StringType).as("evidence"),
        when(valid, 0.8d).otherwise(0.3d).as("severity"),
        lit(0).as("sub"))
    }))

    // non_semantic_html (non_semantic_html.py:66-90, phase 13 in the
    // declared plugin order): html-tag spans carry tag name in `text`
    // and present attributes CSV in `media_ref`; per descendant the
    // reference emits attribute defects (table list order) then the
    // deprecated-tag defect
    val attrTbl = typedLit(despicableAttrs.view.mapValues(_.toArray).toMap)
    val nonsem = reindex(flatten(transform(ofKind(sp, "html-tag"), s => {
      val tag = s.getField("text")
      val present = split(coalesce(s.getField("media_ref"), lit("")), ",")
      val dAttrs = coalesce(element_at(attrTbl, tag),
        filter(present, _ => lit(false)))
      concat(
        transform(filter(dAttrs, a => array_contains(present, a)),
          a => mk(13, "nonsem", concat(lit("Attribute "), a, lit(" in tag "), tag), 0.4)),
        one(tag.isInCollection(despicableTags.toSeq), 13, "nonsem",
          concat(lit("Tag "), tag), 0.4))
    })))

    // tidy validator model (G7, tidy_html_validator.py:50-83, phase 14):
    // tidy-msg spans carry desc in `text` and "category|location" in
    // `media_ref`; one defect per message. typeName packs cat+desc
    // ("tidy:<cat>:<desc>") so the report layer can assign the
    // reference's serial W{n}/E{n}/I{n}/X{n} codes deterministically
    // (Report.tidyCodes); severity per category (:21-23), unknown → -1
    val tidy = reindex(transform(ofKind(sp, "tidy-msg"), s => {
      val cat = split(s.getField("media_ref"), "\\|").getItem(0)
      val loc = split(s.getField("media_ref"), "\\|").getItem(1)
      val sev = when(cat === "Warning", 0.5).when(cat === "Error", 1.0)
        .when(cat === "Info", 0.3).otherwise(-1.0)
      struct(lit(14).as("phase"),
        concat(lit("tidy:"), cat, lit(":"), s.getField("text")).as("typeName"),
        concat(lit("["), cat, lit(", "), loc, lit("]"))
          .cast(org.apache.spark.sql.types.StringType).as("evidence"),
        sev.as("severity"), lit(0).as("sub"))
    }))

    // tinycss validator model (G7, tinycss_css_validator_plugin.py:29-33,
    // phase 15): one "stylesheet" defect per css-err span, evidence
    // [line, reason], severity 0.7 — gated to text/css pages
    val cssErrs = reindex(transform(ofKind(sp, "css-err"), s =>
      mk(15, "stylesheet",
        concat(lit("["), s.getField("media_ref"), lit(", "),
          s.getField("text"), lit("]")), 0.7)))

    def tag(plugin: String, arr: Column): Column = transform(arr, d =>
      struct(lit(plugin).as("plugin"), d.getField("phase").as("phase"),
        d.getField("typeName").as("typeName"), d.getField("evidence").as("evidence"),
        d.getField("severity").as("severity"), d.getField("sub").as("sub")))

    concat(
      tag("css_scraper", huge), tag("css_scraper", inlineDup),
      tag("seo_meta", meta), tag("no_script", scripts),
      tag("seo_images", imgs), tag("mailer", mails),
      tag("non_semantic_html", nonsem),
      tag("tidyHtmlValidator", tidy), tag("tinycss", cssErrs))
  }

  /** Syntactic e-mail validity (mailer.py:63's bottom tier —
    * `validate_email(mail)` with mx/exists off, the reference's
    * DEFAULT config). Declared approximation of the validate_email
    * package's RFC-2822 addr-spec: dot-atom local part (no leading/
    * trailing/double dots), LDH domain labels, ≥2 labels. One anchored
    * Java-regex source evaluated identically by the engine (`rlike`)
    * and the serial oracle (`find()` — same find semantics as rlike,
    * anchored by the pattern itself).
    */
  val mailValidRegex: String =
    "^[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+(?:\\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*" +
      "@[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?" +
      "(?:\\.[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?)+$"

  @transient private lazy val mailValidP = mailValidRegex.r.pattern

  /** Serial twin of the engine's `rlike(mailValidRegex)`. */
  def mailValidSyntax(addr: String): Boolean =
    addr != null && mailValidP.matcher(addr).find()

  /** Mail defect description twin for the oracle. */
  def mailEvidence(addr: String): String = {
    val v = if (mailValidSyntax(addr)) "True" else "False"
    s"Link: $addr, valid: $v (checked SMTP server: False, verified existence: False)"
  }

  /** Mail defect severity for the oracle (mailer.py:14,47:
    * __severities[is_valid + mx + verify], default config mx=verify=0).
    */
  def mailSeverity(addr: String): Double =
    if (mailValidSyntax(addr)) 0.8 else 0.3
}
