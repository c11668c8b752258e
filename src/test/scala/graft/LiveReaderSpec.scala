package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.oracle.CrawlOracle
import org.apache.hadoop.fs.{Path => HPath}
import java.util.concurrent.TimeUnit

/** Live readers against a RUNNING crawl: at 100 TB the snapshot root is
  * shared — dashboards, downstream consumers and audit jobs read
  * `fetchLog()` / `seen()` while the crawl commits rounds. The contract
  * (Iceberg-style): every read resolves from committed manifest entries
  * only, committed entries reference immutable files, so a concurrent
  * reader never crashes, never sees a torn state, and its successive
  * observations are monotone. Readers list the immutable `manifest.d/`
  * entries and skip torn in-flight PUTs. */
class LiveReaderSpec extends SparkTestBase {

  test("log mode (object-store commit path): same live-reader contract") {
    val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
    val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8)
    val snap = "target/live-reader/snap"
    val fs = new HPath(snap).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(snap), true)

    val log = new java.io.File("target/live-reader/crawl.log")
    val p = GraftSubprocess.start("graft.CrawlMain",
      Seq("/root/testdata/sf0.001", snap, "fresh"), log,
      env = Map(
        "SPARK_GRAFT_MAX_DEPTH" -> cfg.maxDepth.toString,
        "SPARK_GRAFT_PER_HOST" -> cfg.perHostPerRound.toString,
        "SPARK_GRAFT_PARTITIONS" -> cfg.partitions.toString))

    val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
    var lastRounds = 0
    var lastFetched = -1L
    var lastSeen = -1L
    var distinctStates = 0
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(6)
    try {
      while (p.isAlive && System.nanoTime() < deadline) {
        // every read below races the subprocess's commits; any crash or
        // backwards step here is a broken reader contract
        val rounds = engine.store.committedRounds().size
        val fetched = engine.fetchLog().count()
        val seenN = engine.seen().count()
        assert(rounds >= lastRounds, s"rounds went backwards: $lastRounds -> $rounds")
        assert(fetched >= lastFetched, s"fetchLog shrank: $lastFetched -> $fetched")
        assert(seenN >= lastSeen, s"seen shrank: $lastSeen -> $seenN")
        if (rounds > lastRounds) distinctStates += 1
        lastRounds = rounds; lastFetched = fetched; lastSeen = seenN
      }
    } finally if (p.isAlive) p.destroyForcibly()
    assert(p.waitFor(30, TimeUnit.SECONDS) && p.exitValue() == 0,
      s"crawl subprocess failed; log tail:\n${GraftSubprocess.tail(log)}")
    assert(distinctStates >= 3,
      s"poll observed only $distinctStates distinct committed states — " +
        "the reads did not actually race the crawl")

    val want = new CrawlOracle(CorpusGen.build(CorpusGen.Smoke), cfg).run()
    assert(engine.fetchLog().count() == want.log.size.toLong)
    assert(engine.seen().count() == want.seen.size.toLong)
    info(s"observed $distinctStates live states; final " +
      s"fetched=${want.log.size} seen=${want.seen.size} matches the oracle")
  }
}
