package graft.crawlbench

import graft.oracle.{OracleAssert, OracleResult}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The benchmark's correctness check: the crawl's fetch log and seen set
  * must hash equal to the sequential `CrawlOracle`'s over the same rounds,
  * and a frontier round's new URLs must equal the exact set difference. */
object OutputCheck {
  type LogRow = OracleAssert.LogRow

  private def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Hash of a fetch log taken in the given (crawl) order. */
  def logHash(rows: Seq[LogRow]): String = digest(rows.iterator.map(_.productIterator.mkString("\t")))

  /** Hash of a seen set, in url_hash order. */
  def seenHash(seen: Map[Long, (String, Int)]): String =
    digest(seen.toSeq.sortBy(_._1).iterator.map { case (h, (c, r)) => s"$h\t$c\t$r" })

  /** The oracle's fetch log and seen set cut after `rounds` fetch rounds:
    * a round never depends on later ones, so the cut is what an engine
    * stopped after `rounds` rounds must hold. */
  def oracleCut(res: OracleResult, rounds: Int): (Vector[LogRow], Map[Long, (String, Int)]) =
    (res.log.filter(_.round < rounds).map(f => (f.seq, f.urlCanon, f.urlHash, f.host, f.depth,
      f.round, f.rn, f.fetchTs, f.status, f.docId)),
      res.seen.filter(_._2._2 <= rounds))

  /** Whether a crawl's log and seen set hash equal the expected ones. */
  def crawlMatches(gotLog: Seq[LogRow], gotSeen: Map[Long, (String, Int)],
                   wantLog: Seq[LogRow], wantSeen: Map[Long, (String, Int)]): Boolean =
    logHash(gotLog) == logHash(wantLog) && seenHash(gotSeen) == seenHash(wantSeen)

  /** Whether a round's new URLs equal the exact set difference. */
  def newUrlsMatch(got: Map[Long, String], want: Map[Long, String]): Boolean =
    seenHash(got.map { case (h, c) => h -> (c, 0) }) == seenHash(want.map { case (h, c) => h -> (c, 0) })
}
