package graft.oracle

import graft.corpus.CorpusGen
import graft.crawl.CrawlConfig
import graft.urls.{RobotsMatch, UrlCanon, UrlExtract, UrlHash}
import scala.collection.mutable

/** The deliberately-naive single-threaded crawl model (SURVEY.md §5.1) —
  * the stand-in for the absent reference. Implements the PINNED semantics
  * with in-memory maps and loops, no Spark. The engine's distributed
  * output must equal this exactly: crawl order, final seen set, span
  * sequences (BASELINE.json:14,15).
  */
final case class OracleFetch(seq: Long, urlCanon: String, urlHash: Long, host: String,
  depth: Int, round: Int, rn: Int, fetchTs: Long, status: String, docId: String)

final case class OracleResult(
  log: Vector[OracleFetch],
  seen: Map[Long, (String, Int)], // hash -> (canon, first_round)
  rounds: Int)

final class CrawlOracle(corpus: CorpusGen.Corpus, cfg: CrawlConfig) {

  private val pageByCanon: Map[String, CorpusGen.Page] =
    corpus.pages.map(p => p.url_canon -> p).toMap
  private val spansByDoc: Map[String, Seq[CorpusGen.Span]] =
    corpus.docs.map(d => d.doc_id -> d.spans).toMap
  private val rulesByHost: Map[String, Seq[(Boolean, String)]] =
    corpus.rules.groupBy(_.host).map { case (h, rs) => h -> rs.map(r => (r.allow, r.path_prefix)) }
  private val delayByHost: Map[String, Long] =
    corpus.rules.groupBy(_.host).map { case (h, rs) => h -> rs.map(_.crawl_delay_ms).max }

  private final case class Entry(urlCanon: String, urlHash: Long, host: String, depth: Int)

  /** [PINNED] per-URL priority under cfg.priorityByUrlLen: the
    * canonical URL's length in Unicode CODE POINTS — exactly the
    * engine's `length(url_canon)` (Spark's `length` counts code points
    * on strings; Java's String.length counts UTF-16 units, so the
    * mirror must use codePointCount). */
  private def prioOf(urlCanon: String): Int =
    urlCanon.codePointCount(0, urlCanon.length)

  def run(): OracleResult = run(None)

  /** Run with an optional mid-crawl host retire, mirroring the engine's
    * retireHost exactly: after `retire = Some((afterRounds, host))` fetch
    * rounds complete, the host's URLs leave the seen set (re-discoverable
    * from later links) and the frontier, and the round counter advances
    * by one (the engine's retire commits a fetchless snapshot round).
    * Politeness clocks (hostReady) are untouched — host metadata, not
    * crawl state — so a re-discovered host keeps honoring its delay. */
  def run(retire: Option[(Int, String)]): OracleResult = {
    val seen = mutable.HashMap.empty[Long, (String, Int)]
    val hostReady = mutable.HashMap.empty[String, Long]
    val log = Vector.newBuilder[OracleFetch]
    var fetchedSoFar = 0L
    var round = 0
    var retirePending = retire

    var frontier: Vector[Entry] = corpus.seeds.map { s =>
      val c = UrlCanon.canonicalize(s)
      Entry(c, UrlHash.hash64(c), UrlCanon.hostOf(c), 0)
    }.toVector
    frontier.foreach(e => seen(e.urlHash) = (e.urlCanon, 0))

    while (frontier.nonEmpty && fetchedSoFar < cfg.totalBudget) {
      retirePending match {
        case Some((atRound, host)) if round == atRound =>
          seen.filterInPlace { case (_, (canon, _)) => UrlCanon.hostOf(canon) != host }
          frontier = frontier.filterNot(_.host == host)
          round += 1 // the retire consumes a round number, like the engine's commit
          retirePending = None
          if (frontier.isEmpty) return OracleResult(log.result(), seen.toMap, round)
        case _ => ()
      }
      // P4 robots
      val allowed = frontier.filter { e =>
        RobotsMatch.allows(rulesByHost.getOrElse(e.host, Seq.empty), UrlCanon.pathOf(e.urlCanon))
      }
      // W1/W2 per-host schedule [PINNED order (depth, url_hash) signed
      // asc; ((prio, depth, url_hash) under cfg.priorityByUrlLen)]
      val carried = Vector.newBuilder[Entry]
      val scheduled = mutable.ArrayBuffer.empty[(Entry, Int, Long)] // (entry, rn, fetch_ts)
      allowed.groupBy(_.host).foreach { case (host, es) =>
        val sorted =
          if (cfg.priorityByUrlLen) es.sortBy(e => (prioOf(e.urlCanon), e.depth, e.urlHash))
          else es.sortBy(e => (e.depth, e.urlHash))
        val ready = hostReady.getOrElse(host, 0L)
        val delay = delayByHost.getOrElse(host, CrawlConfig.DefaultDelayMs)
        sorted.zipWithIndex.foreach { case (e, i) =>
          val rn = i + 1
          if (rn <= cfg.perHostPerRound) scheduled += ((e, rn, ready + i.toLong * delay))
          else carried += e
        }
      }
      // O1/O2 global order + budget truncation
      val ordered = scheduled.sortBy { case (e, _, ts) => (ts, e.host, e.urlHash) }
      val kept = ordered.take((cfg.totalBudget - fetchedSoFar).min(Int.MaxValue).toInt)
      if (kept.isEmpty) return OracleResult(log.result(), seen.toMap, round)

      // fetch + extract, in seq order
      val candidates = mutable.ArrayBuffer.empty[Entry] // discovery order
      kept.zipWithIndex.foreach { case ((e, rn, ts), i) =>
        val seq = fetchedSoFar + i + 1
        val page = pageByCanon.get(e.urlCanon)
        // media URLs (media mode only — they cannot enter the frontier
        // otherwise) resolve to no hosting row: status "media", doc ""
        val status = page.map(_.status).getOrElse(
          if (cfg.followMedia && e.urlCanon.startsWith("media://")) "media" else "missing")
        val docId = page.map(_.doc_id).getOrElse("")
        log += OracleFetch(seq, e.urlCanon, e.urlHash, e.host, e.depth, round, rn, ts, status, docId)
        if (status == "ok" && docId.nonEmpty) {
          // spans in order; text spans extract links in extraction order,
          // media spans (media mode) contribute their ref verbatim at that
          // span position — the engine's (span_idx, link_pos) order
          spansByDoc(docId).foreach { span =>
            if (span.kind == "text") {
              UrlExtract.extract(span.text).foreach { raw =>
                val c = UrlCanon.canonicalize(raw, e.urlCanon)
                if (c != null && e.depth + 1 <= cfg.maxDepth) {
                  candidates += Entry(c, UrlHash.hash64(c), UrlCanon.hostOf(c), e.depth + 1)
                }
              }
            } else if (cfg.followMedia) {
              val c = span.media_ref
              if (c != null && c.startsWith("media://") && UrlCanon.hostOf(c).nonEmpty &&
                e.depth + 1 <= cfg.maxDepth) {
                candidates += Entry(c, UrlHash.hash64(c), UrlCanon.hostOf(c), e.depth + 1)
              }
            }
          }
        }
      }
      // J5 intra-round dedup (first discovery wins) + J1 seen dedup
      val inRound = mutable.HashSet.empty[Long]
      val fresh = Vector.newBuilder[Entry]
      candidates.foreach { c =>
        if (!inRound.contains(c.urlHash)) {
          inRound += c.urlHash
          if (!seen.contains(c.urlHash)) {
            seen(c.urlHash) = (c.urlCanon, round + 1)
            fresh += c
          }
        }
      }
      // host-ready advance by kept count
      kept.groupBy(_._1.host).foreach { case (host, ks) =>
        val delay = delayByHost.getOrElse(host, CrawlConfig.DefaultDelayMs)
        hostReady(host) = hostReady.getOrElse(host, 0L) + ks.size.toLong * delay
      }
      fetchedSoFar += kept.size
      frontier = carried.result() ++ fresh.result()
      round += 1
    }
    OracleResult(log.result(), seen.toMap, round)
  }

  /** Span sequences of fetched-ok docs, in (doc_id, span_idx) order. */
  def spansEmitted(result: OracleResult): Seq[(String, Int, String, String, String, Int)] =
    result.log.filter(f => f.status == "ok" && f.docId.nonEmpty).flatMap { f =>
      spansByDoc(f.docId).zipWithIndex.map { case (s, i) =>
        (f.docId, i, s.kind, s.text, s.media_ref, s.offset)
      }
    }
}
