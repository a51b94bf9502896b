package perfbench

import graft.crawl.{CrawlLoop, PageParsers}
import graft.fixtures.SyntheticWeb
import graft.frontier.FrontierEntry
import scala.collection.mutable

/** Sequential reference crawl, computed from the same generated inputs as
  * the engine crawl and compared with it outside every timed region. It
  * follows the rules of the crawl spec's simulator: per-host budget in
  * crawl-rank order, minimum-rank dedup within a wave, robots admission,
  * and retries up to `maxAttempts`. Only the pure per-page functions
  * (canonical entry, fetch status, parse) are shared with the engine.
  */
object Reference {

  /** One fetch attempt: (url_hash, wave, attempt, status). */
  type Fetch = (Long, Int, Int, Int)

  final case class Crawl(records: Array[(Long, Long)], fetches: Array[Fetch],
      seen: Array[Long])

  /** Order-independent digest of one record: its crawl rank and a 64-bit
    * hash of every field. Records compare by (rank, digest) pairs, so a
    * wide crawl never holds two full record sets on the driver.
    */
  def digest(r: PageParsers.CrawlRecord): (Long, Long) = {
    val h1 = scala.util.hashing.MurmurHash3.productHash(r, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.productHash(r, 0x1b873593)
    (r.crawl_rank, (h1.toLong << 32) | (h2.toLong & 0xffffffffL))
  }

  def run(pages: collection.Map[Long, Array[Byte]],
      seeds: Seq[SyntheticWeb.Seed],
      robots: Map[String, (Seq[String], Long)],
      budget: Int, maxAttempts: Int): Crawl = {
    def allowed(e: FrontierEntry): Boolean = robots.get(e.host) match {
      case Some((pre, _)) => !pre.exists(CrawlLoop.pathOf(e.url).startsWith)
      case None           => true
    }
    var frontier = seeds.map(s =>
      CrawlLoop.entryOf(s.url, s.site, s.seed_id, 0, 0, 0)).filter(allowed)
      .toVector
    val seen = mutable.HashSet[Long](frontier.map(_.urlHash): _*)
    val records = mutable.ArrayBuffer[(Long, Long)]()
    val fetches = mutable.ArrayBuffer[Fetch]()
    var wave = 0
    while (frontier.nonEmpty) {
      val picked = frontier.groupBy(_.host).values.toVector.flatMap(
        _.sortBy(e => (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash))
          .take(budget))
      val pickedSet = picked.iterator.map(_.urlHash).toSet
      val rest = frontier.filterNot(e => pickedSet.contains(e.urlHash))
      val retries = Vector.newBuilder[FrontierEntry]
      val links = Vector.newBuilder[FrontierEntry]
      picked.foreach { e =>
        val html = pages.get(e.urlHash).map(new String(_, "UTF-8"))
        val status = PageParsers.fetchStatus(html, e.attempts)
        fetches += ((e.urlHash, wave, e.attempts, status))
        status match {
          case 200 =>
            val r = PageParsers.parse(e, html.get)
            r.records.foreach(x => records += digest(x))
            links ++= r.links.map(l => CrawlLoop.entryOf(l.url, l.kind,
              l.seed, l.depth, l.pageIdx, l.posInPage)).filter(allowed)
          case 503 if e.attempts + 1 < maxAttempts =>
            retries += e.copy(attempts = e.attempts + 1)
          case _ => ()
        }
      }
      val fresh = links.result().groupBy(_.urlHash).values
        .map(_.minBy(e => (e.seed, e.depth, e.pageIdx, e.posInPage)))
        .filter(e => !seen.contains(e.urlHash))
        .toVector
      fresh.foreach(e => seen += e.urlHash)
      frontier = rest ++ retries.result() ++ fresh
      wave += 1
    }
    Crawl(records.toArray.sorted, fetches.toArray.sorted, seen.toArray.sorted)
  }

  /** Differences between an engine crawl and the reference, as messages;
    * empty when they agree.
    */
  def compare(name: String, eng: Crawl, ref: Crawl): Seq[String] = {
    def diff[T](what: String, a: Array[T], b: Array[T]): Option[String] =
      if (a.length != b.length)
        Some(s"$name: $what count ${a.length} != reference ${b.length}")
      else a.indices.find(i => a(i) != b(i)).map(i =>
        s"$name: $what differs at position $i: ${a(i)} != reference ${b(i)}")
    Seq(diff("records", eng.records, ref.records),
      diff("fetch order", eng.fetches, ref.fetches),
      diff("seen set", eng.seen, ref.seen)).flatten
  }
}
