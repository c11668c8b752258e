package graft.crawlbench

import graft.corpus.CorpusGen.Tier
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.oracle.{CrawlOracle, OracleAssert}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The crawl benchmark's one command (see crawlbench/README.md):
  *
  * {{{
  * CrawlBench --workload <crawl-mid|frontier-round> --seed <n> --seconds <s>
  *            --trace <0|1> --work <scratch dir>
  * }}}
  *
  * Set-up (session, seeded inputs, static-input prep, warm-up) is timed as
  * `setup_s`; then the workload repeats in a closed loop with one client
  * until `--seconds` have passed, every repetition checked against the
  * sequential reference. The last stdout line is one JSON object: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics of a traced
  * repetition with `--trace 1`.
  */
object CrawlBench {

  /** local[Cores]: one JVM, one crawl at a time. */
  val Cores = 4
  /** Input set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new PhaseTrace
    spark.sparkContext.addSparkListener(trace)
    val cache = new CachePeak
    spark.sparkContext.addSparkListener(cache)
    val sessionS = seconds(t0)
    val result =
      try o.workload match {
        case "crawl-mid" => new CrawlMid(spark, o, cache, trace).run(sessionS)
        case "frontier-round" => new FrontierWorkload(spark, o, cache, trace).run(sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    println(json(result))
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, need("work"))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_per_round") || n.endsWith(".jobs") => "count"
    case n if n.endsWith("_bytes") => "B"
    case n if n.endsWith("_ratio") || n.endsWith("_frac") || n.endsWith("_share") ||
      n.endsWith("skew") || n.endsWith("core_util") => "ratio"
    case n if n.endsWith("us_per_url") => "us/URL"
    case "urls_per_s" | "oracle.urls_per_s" => "URLs/s"
    case "robots.rows_per_s" => "rows/s"
    case "urls.links_per_s" => "links/s"
    case "peak_cache_mb" => "MB"
    case "snapshot_bytes_per_url" => "B/URL"
    case n if n.endsWith("_s") || n.endsWith(".s") || n.startsWith("round_s_") => "s"
    case n => throw new IllegalStateException(s"no unit for metric $n")
  }

  private def json(r: Result): String = {
    val ms = r.metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** End-to-end metrics in report order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "crawl_s", "urls_per_s", "round_s_p50",
    "resume_s", "peak_cache_mb", "snapshot_bytes_per_url")

  def endToEnd(values: Map[String, Double]): Seq[(String, Double, String)] =
    EndToEnd.map(n => (n, values(n), unitOf(n)))

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] =
    values.toSeq.sortBy(_._1).map { case (n, v) => (n, v, unitOf(n)) }

  /** Bytes of every file under `dir`. */
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}

/** Peak memory held by cached blocks: the engine's persisted frames,
  * which hold most of a round's working set. Counts come from the block
  * manager, so they do not depend on when the JVM collects garbage. */
final class CachePeak extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler.SparkListenerBlockUpdated

  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peak = 0L
  private var lastChange = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val mem = if (b.storageLevel.isValid) b.memSize else 0L
      current += mem - blocks.getOrElse(key, 0L)
      if (mem > 0) blocks(key) = mem else blocks.remove(key)
      peak = math.max(peak, current)
      lastChange = System.nanoTime()
    }
  }

  /** Start a window at the memory cached once releases have settled. */
  def reset(): Unit = {
    awaitQuiet()
    synchronized { peak = current }
  }

  /** Wait (up to 10 s) until no block has changed for 200 ms: caches an
    * earlier repetition released asynchronously are then gone and do not
    * count in the next window. */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() - synchronized(lastChange) < 200e6.toLong &&
      System.nanoTime() < deadline) Thread.sleep(10)
  }

  def peakMb: Double = synchronized(peak / 1048576.0)
}

/** `crawl-mid`: a 10k-page web crawled with `runFresh` for three rounds,
  * then resumed by a fresh `CrawlEngine` for the fourth, a bulk round. */
final class CrawlMid(spark: SparkSession, o: CrawlBench.Opts, cache: CachePeak, trace: PhaseTrace) {
  import CrawlBench._
  import CrawlMid._

  private val web = SeededWeb(Tier("crawl-mid", 10000, 100, 100), o.seed)
  private val cfg = CrawlConfig(perHostPerRound = web.tier.docs / 6, partitions = Cores,
    bloomShardCapacity = 100000L)
  /** The tables of the last set-up, which the measured crawls read. */
  private val dir = s"${o.work}/web-$SetupReps"

  def run(sessionS: Double): Result = {
    // one input set-up: the seeded tables and the bucketed static inputs
    val prepS = (1 to SetupReps).map { k =>
      time {
        web.write(spark, s"${o.work}/web-$k")
        CrawlEngine.prepareStaticInputs(spark, s"${o.work}/web-$k", cfg.partitions)
      }._2
    }
    val (oracle, oracleS) = time(new CrawlOracle(web.build(), cfg).run())
    val (wantLog, wantSeen) = OutputCheck.oracleCut(oracle, Rounds)
    val root = s"${o.work}/snapshot"
    // warm-up: the first round in a JVM compiles the round's plans
    val (_, warmS) = time {
      val e = new CrawlEngine(spark, dir, s"${o.work}/warm", cfg)
      e.runFresh(1)
      e.close()
    }
    val setupS = sessionS + median(prepS) + warmS

    val crawls = mutable.ArrayBuffer.empty[Map[String, Double]]
    var failed = 0
    cache.reset()
    if (o.trace) trace.start()
    val t0 = System.nanoTime()
    do {
      val (m, ok) = crawl(root, wantLog, wantSeen)
      crawls += m
      if (!ok) failed += 1
    } while (!o.trace && seconds(t0) < o.seconds)

    val metrics =
      if (o.trace) {
        val jobs = trace.finished(spark.sparkContext)
        System.err.println("crawl jobs by call site:\n" + PhaseTrace.siteTable(jobs))
        val c = crawls.head
        val eng = PhaseTrace.summary(jobs, c("crawl_s"), Rounds, Cores)
        val byCall = new FrontierRound(spark, web, dir, s"${o.work}/by-call", 1, Cores)
        trace.start()
        val calls = byCall.runByCall(byCall.frontier(), trace)
        trace.stop(spark.sparkContext)
        byCall.close()
        perLayer(eng ++ calls ++ Map(
          "engine.round_floor_s" -> c("fit_floor_s"),
          "engine.round_us_per_url" -> c("fit_s_per_url") * 1e6,
          "oracle.urls_per_s" -> (oracle.log.size + oracle.seen.size) / oracleS))
      } else {
        def med(k: String) = median(crawls.map(_(k)).toSeq)
        endToEnd(Map("setup_s" -> setupS, "crawl_s" -> med("crawl_s"),
          "urls_per_s" -> med("urls_per_s"), "round_s_p50" -> med("round_s_p50"),
          "resume_s" -> med("resume_s"),
          "peak_cache_mb" -> cache.peakMb,
          "snapshot_bytes_per_url" -> med("snapshot_bytes_per_url")))
      }
    System.err.println(s"crawl-mid seed=${o.seed}: ${crawls.size} crawl(s) of " +
      crawls.map(c => f"${c("crawl_s")}%.2f").mkString("/") + s" s, $failed failed, " +
      f"session $sessionS%.2f s, input set-ups ${prepS.map(s => f"$s%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s, " +
      f"oracle $oracleS%.2f s, ${oracle.log.size} oracle fetches")
    Result(failed == 0, crawls.size, failed, metrics)
  }

  /** One crawl: a fresh engine runs [[FreshRounds]] rounds, then a new
    * engine resumes the last round (resume_s). */
  private def crawl(root: String, wantLog: Seq[OutputCheck.LogRow],
                    wantSeen: Map[Long, (String, Int)]): (Map[String, Double], Boolean) = {
    val t0 = System.nanoTime()
    val first = new CrawlEngine(spark, dir, root, cfg)
    first.runFresh(FreshRounds)
    first.close()
    val second = new CrawlEngine(spark, dir, root, cfg)
    val (summary, resumeS) = time(second.resume(Rounds - FreshRounds))
    val crawlS = seconds(t0)
    second.close()
    if (o.trace) trace.stop(spark.sparkContext)
    val ok = OutputCheck.crawlMatches(OracleAssert.fetchLogRows(second),
      OracleAssert.collectSeen(second), wantLog, wantSeen)
    val manifest = second.store.readManifest().filter(e => second.store.metricOf(e, "round_sec") > 0)
    val roundS = manifest.map(second.store.metricOf(_, "round_sec"))
    require(roundS.size == Rounds, s"expected $Rounds rounds, the manifest holds ${roundS.size}")
    val (fetched, candidates) = second.store.crawlTotals(manifest)
    val (floor, perUrl) = PhaseTrace.fit(manifest.map(e =>
      (second.store.metricOf(e, "scheduled") + second.store.metricOf(e, "candidates"),
        second.store.metricOf(e, "round_sec"))))
    (Map("crawl_s" -> crawlS, "resume_s" -> resumeS,
      "urls_per_s" -> (fetched + candidates) / crawlS,
      "round_s_p50" -> median(roundS),
      "snapshot_bytes_per_url" -> bytesUnder(spark, root).toDouble / summary.totalSeen,
      "fit_floor_s" -> floor, "fit_s_per_url" -> perUrl), ok)
  }
}

object CrawlMid {
  /** Rounds run by the first engine before the resume. */
  val FreshRounds = 3
  /** Fetch rounds per crawl. Every seed's web takes 8–9 rounds to
    * exhaust, so a fixed cut keeps the crawl the same length whatever the
    * seed; the fourth round is a bulk round. */
  val Rounds = 4
}

/** `frontier-round`: one bulk round over a 10k-page web multiplied ×10. */
final class FrontierWorkload(spark: SparkSession, o: CrawlBench.Opts, cache: CachePeak, trace: PhaseTrace) {
  import CrawlBench._

  private val web = SeededWeb(Tier("frontier-round", 10000, 2000, 100), o.seed)
  private val variants = 10

  def run(sessionS: Double): Result = {
    // one input set-up: the seeded tables, the ×10 static inputs and the
    // seen snapshot
    val setups = (1 to SetupReps).map { k =>
      time {
        web.write(spark, s"${o.work}/web-$k")
        new FrontierRound(spark, web, s"${o.work}/web-$k", s"${o.work}/round-$k", variants, Cores)
      }
    }
    setups.init.foreach(_._1.close())
    val fr = setups.last._1
    // warm-up: one round compiles the round's plans and warms its kernels
    val (_, warmS) = time(fr.run(fr.frontier()))
    val allowed = fr.allowedCount()
    val setupS = sessionS + median(setups.map(_._2)) + warmS

    val (want, oracleS) = time(fr.expectedNewUrls())
    var attempted = 0
    var failed = 0
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    def checked(r: FrontierRound.Round): FrontierRound.Round = {
      attempted += 1
      roundWalls += r.seconds
      if (!OutputCheck.newUrlsMatch(r.newUrls, want)) failed += 1
      r
    }

    cache.reset()
    val metrics =
      if (o.trace) {
        val small = checked(fr.run(fr.frontier(1)))
        val smallAllowed = fr.allowedCount(1)
        trace.start()
        val full = checked(fr.run(fr.frontier()))
        trace.stop(spark.sparkContext)
        val eng = PhaseTrace.summary(trace.finished(spark.sparkContext), full.seconds, 1, Cores)
          .filter(_._1.startsWith("engine."))
        trace.start()
        val calls = fr.runByCall(fr.frontier(), trace)
        trace.stop(spark.sparkContext)
        val phases = PhaseTrace.summary(trace.finished(spark.sparkContext), 1.0, 1, Cores)
          .filter(_._1.startsWith("phase."))
        val (floor, perUrl) = PhaseTrace.fit(Seq(
          ((smallAllowed + small.candidates).toDouble, small.seconds),
          ((allowed + full.candidates).toDouble, full.seconds)))
        perLayer(eng ++ phases ++ calls ++ Map(
          "engine.round_floor_s" -> floor,
          "engine.round_us_per_url" -> perUrl * 1e6,
          "oracle.urls_per_s" -> (allowed + want.size) / oracleS))
      } else {
        // every round starts from the reopened snapshot: resume_s is
        // reopen + round, crawl_s the round alone
        val rounds = mutable.ArrayBuffer.empty[(FrontierRound.Round, Double)]
        val t0 = System.nanoTime()
        do {
          cache.awaitQuiet()
          val (r, total) = fr.resume(fr.frontier())
          checked(r)
          rounds += ((r, total))
        } while (rounds.size < 2 || seconds(t0) < o.seconds)
        val crawlS = median(rounds.map(_._1.seconds).toSeq)
        endToEnd(Map("setup_s" -> setupS, "crawl_s" -> crawlS,
          "urls_per_s" -> (allowed + median(rounds.map(_._1.candidates.toDouble).toSeq)) / crawlS,
          "round_s_p50" -> crawlS, "resume_s" -> median(rounds.map(_._2).toSeq),
          "peak_cache_mb" -> cache.peakMb,
          "snapshot_bytes_per_url" -> bytesUnder(spark, fr.store.root).toDouble / fr.seenRows))
      }
    fr.close()
    System.err.println(s"frontier-round seed=${o.seed}: $attempted round(s) of " +
      roundWalls.map(w => f"$w%.2f").mkString("/") + s" s, $failed failed, " +
      f"session $sessionS%.2f s, input set-ups ${setups.map(s => f"${s._2}%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s, " +
      f"oracle $oracleS%.2f s, $allowed fetches, ${want.size} new URLs")
    Result(failed == 0, attempted, failed, metrics)
  }
}
