package graftbench

import graft.frontier.CrawlDriver.CrawlRun
import graft.model.TransactionRow
import graft.oracle.RefCrawlOracle

/** Output check of a benchmark crawl against the serial reference
  * crawl (`RefCrawlOracle`) of the same world and config: crawl order,
  * URL-seen set, transactions, link graph and defects, compared the way
  * the engine's parity suite compares them. One result per component.
  */
object Parity {

  def check(o: RefCrawlOracle.CrawlOutput, r: CrawlRun): Seq[(String, Boolean)] = {
    val order = r.crawlOrder.collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
      .sortBy(_._1).toVector == o.crawlOrder.sortBy(_._1)

    val seen = r.seen.collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap == o.seen

    val tx = r.transactions.collect().map { x =>
      x.getLong(0) -> TransactionRow(x.getLong(0), x.getString(1), x.getString(2),
        Option(x.get(3)).map(_.asInstanceOf[Int]), Option(x.getString(4)),
        x.getString(5), x.getInt(6), Option(x.getString(7)))
    }.toMap == o.transactions

    val links = r.linksWithProcessed.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getBoolean(3)))
      .groupBy(identity).view.mapValues(_.length).toMap ==
      o.links.map(l => (l.fromSeq, l.toUri, l.toSeq, l.processed))
        .groupBy(identity).view.mapValues(_.length).toMap

    def key(t: (Long, Int, Int, Long, String, Option[String], Double)) =
      (t._1, t._2, t._3, t._5, t._6.getOrElse(""), t._4)
    val defects = r.defects.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(6), x.getLong(2), x.getString(3),
        Option(x.getString(4)), x.getDouble(5)))
      .sortBy(key).toVector ==
      o.defects.map(d => (d.popPos, d.phase, d.sub, d.defect.responseSeq, d.defect.typeName,
        Option(d.defect.evidence), d.defect.severity)).sortBy(key).toVector

    Seq("order" -> order, "seen" -> seen, "transactions" -> tx, "links" -> links,
      "defects" -> defects)
  }
}
