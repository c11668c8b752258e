package graft.crawlbench

import graft.corpus.CorpusGen
import graft.corpus.CorpusGen.{Corpus, Doc, HostingRow, Page, Span, Tier}
import graft.crawlbench.SeededWeb.PageMeta
import graft.urls.UrlHash
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable

/** The benchmark's simulated web: CorpusGen's shape with the PRNG seed as
  * an argument instead of CorpusGen's fixed 42/777.
  *
  * Kept from CorpusGen: Zipf(1.2) host popularity, the B-ary link tree
  * from the seed pages (CorpusGen.fanout/children/parent), 0–3 random
  * cross-links and a 20 % parent back-edge per page, 5 % 404s, 15 %
  * robots-blocked leaves on every third host, the eight link-syntax
  * variants, and the robots table (CorpusGen.rulesFor). Every page is a
  * pure function of (seed, tier, page index), so the Spark writer and the
  * driver-side [[build]] give the same bytes and `CrawlOracle` can consume
  * [[build]] directly. The seed changes every page's host, status, extra
  * links and link renderings, so two seeds give two different crawls over
  * the same tree.
  */
final case class SeededWeb(tier: Tier, seed: Long) {

  private val metaKey = SeededWeb.splitmix64(seed ^ 0x6A09E667F3BCC909L)
  private val spanKey = SeededWeb.splitmix64(seed ^ 0xBB67AE8584CAA73BL)

  @transient private lazy val zipfCdf: Array[Double] = {
    val cdf = new Array[Double](tier.hosts)
    var acc = 0.0
    var i = 0
    // StrictMath: this table decides every page's host, so it must not
    // depend on the JVM's Math.pow intrinsic
    while (i < tier.hosts) { acc += 1.0 / StrictMath.pow(i + 1.0, 1.2); cdf(i) = acc; i += 1 }
    i = 0
    while (i < tier.hosts) { cdf(i) /= acc; i += 1 }
    cdf
  }

  private def zipfHost(u: Double): Int = {
    val idx = java.util.Arrays.binarySearch(zipfCdf, u)
    if (idx >= 0) idx else math.min(-idx - 1, tier.hosts - 1)
  }

  def pageMeta(i: Int): PageMeta = {
    val rng = new SeededWeb.PRng(SeededWeb.splitmix64(metaKey ^ (i.toLong * 0x5851F42D4C957F2DL)))
    val hostIdx = zipfHost(rng.nextDouble())
    val isLeaf = CorpusGen.children(tier, i).isEmpty
    val blocked = i >= tier.seeds && isLeaf && CorpusGen.disallowHost(hostIdx) &&
      rng.nextDouble() < 0.15
    val status = if (i >= tier.seeds && rng.nextDouble() < 0.05) "404" else "ok"
    PageMeta(hostIdx, blocked, status)
  }

  def pathOf(i: Int): String = if (pageMeta(i).blocked) s"/blocked/p$i" else s"/p$i"

  def urlOf(i: Int): String = s"https://${pageMeta(i).host}${pathOf(i)}"

  /** A link from page i to page t; every variant canonicalizes to urlOf(t). */
  private def renderLink(i: Int, t: Int, v0: Int): String = {
    val mt = pageMeta(t)
    val sameHost = pageMeta(i).hostIdx == mt.hostIdx
    val v = if ((v0 == 2 || v0 == 3) && !sameHost) 0 else v0
    val tgt = urlOf(t)
    val path = pathOf(t)
    v match {
      case 0 => s"see $tgt for more"
      case 1 => s"""<a href="$tgt">x</a>"""
      case 2 => s"""<a href="$path">rel</a>"""
      case 3 => s"""<a href="..$path">up</a>"""
      case 4 => s"link HTTPS://${mt.host.toUpperCase}:443/x/..$path#frag here"
      case 5 => s"""<a href="https://${mt.host}${path.replaceFirst("p", "%70")}">enc</a>"""
      case 6 => s"trailing $tgt."
      case _ => s"also $tgt, and text"
    }
  }

  /** Body of page i (status "ok" only): alternating text/media spans with
    * the page's outlinks embedded in the text spans. */
  def docSpans(i: Int): Seq[Span] = {
    val rng = new SeededWeb.PRng(SeededWeb.splitmix64(spanKey ^ (i.toLong * 0x2545F4914F6CDD1DL)))
    val mi = pageMeta(i)
    val targets = mutable.ArrayBuffer.empty[Int]
    targets ++= CorpusGen.children(tier, i)
    val nExtra = rng.nextInt(4)
    var e = 0
    while (e < nExtra) { targets += rng.nextInt(tier.docs); e += 1 }
    if (i >= tier.seeds && rng.nextDouble() < 0.2) targets += CorpusGen.parent(tier, i)

    def fill(): String = SeededWeb.Filler(rng.nextInt(SeededWeb.Filler.length))
    val nSpans = 3 + rng.nextInt(10)
    val spans = mutable.ArrayBuffer.empty[Span]
    var offset = 0
    var ti = 0
    var k = 0
    while (k < nSpans) {
      if (k % 2 == 0) {
        val sb = new StringBuilder
        sb.append(fill()).append(' ').append(fill())
        var embedded = 0
        while (ti < targets.length && embedded < 3) {
          sb.append(' ').append(renderLink(i, targets(ti), rng.nextInt(8)))
          ti += 1; embedded += 1
        }
        sb.append(' ').append(fill())
        val text = sb.toString
        spans += Span("text", text, "", offset)
        offset += text.length
      } else {
        val kind = if (rng.nextBoolean()) "image" else "video"
        spans += Span(kind, "", s"media://${mi.host}/m$i-$k", offset)
        offset += 1
      }
      k += 1
    }
    if (ti < targets.length) {
      val sb = new StringBuilder(fill())
      while (ti < targets.length) {
        sb.append(' ').append(renderLink(i, targets(ti), rng.nextInt(8)))
        ti += 1
      }
      spans += Span("text", sb.toString, "", offset)
    }
    spans.toSeq
  }

  def hostingRow(i: Int): HostingRow = {
    val m = pageMeta(i)
    val url = urlOf(i)
    HostingRow(UrlHash.hash64(url), url, m.host,
      if (m.status == "ok") CorpusGen.docIdOf(i) else "", m.status)
  }

  def seedUrls: Seq[String] = (0 until tier.seeds).map(urlOf)

  /** The whole web in driver memory — the oracle's input. */
  def build(): Corpus = {
    val docs = (0 until tier.docs).flatMap { i =>
      if (pageMeta(i).status == "ok") Some(Doc(CorpusGen.docIdOf(i), docSpans(i))) else None
    }
    val pages = (0 until tier.docs).map { i =>
      val h = hostingRow(i)
      Page(h.url_canon, h.host, h.doc_id, h.status)
    }
    Corpus(tier, docs, pages, CorpusGen.rulesFor(tier), seedUrls)
  }

  /** Write the four tables the engine reads (interleaved, hosting, robots,
    * seeds) under `dir`, in CorpusGen's schemas. Page ranges are split
    * into a fixed number of files, so one seed always gives the same
    * files whatever the session's parallelism. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val web = this
    val idx = spark.range(0, tier.docs, 1, SeededWeb.Files).as[Long]
    idx.map { i =>
        val ii = i.toInt
        if (web.pageMeta(ii).status == "ok") Doc(CorpusGen.docIdOf(ii), web.docSpans(ii))
        else Doc("", Seq.empty)
      }
      .filter(_.doc_id.nonEmpty)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/interleaved.parquet")
    idx.map(i => web.hostingRow(i.toInt))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/hosting.parquet")
    CorpusGen.rulesFor(tier).toDF().coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/robots.parquet")
    seedUrls.toDF("url_canon").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/seeds.parquet")
  }
}

object SeededWeb {
  final case class PageMeta(hostIdx: Int, blocked: Boolean, status: String) {
    def host: String = CorpusGen.hostName(hostIdx)
  }

  /** Files per generated table (independent of the core count). */
  val Files = 4

  private val Filler = Array("lorem", "ipsum", "dolor", "sit", "amet",
    "vulpes", "corvus", "aqua", "terra", "ignis")

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private final class PRng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; splitmix64(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextBoolean(): Boolean = (nextLong() & 1L) == 1L
  }
}
