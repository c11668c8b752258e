package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.oracle.CrawlOracle
import org.apache.hadoop.fs.{Path => HPath}
import java.util.concurrent.TimeUnit

/** SPLIT-BRAIN: two real driver JVMs resume the same snapshot root and
  * race rounds — the failure mode optimistic concurrency exists for. At
  * 100 TB this happens whenever a crash-restart controller starts a new
  * driver while the old one is alive-but-slow (network partition, GC
  * pause past the liveness probe), or an operator resumes a crawl twice.
  *
  * Contract under test (SnapshotStore.commit — exclusive-create
  * manifest.d entries): every round has exactly ONE winning commit; a losing
  * committer gets CommitConflictException (its entry removed, nothing
  * else of the winner's disturbed — data files live at unique manifest-
  * carried paths, so the loser's pre-conflict writes are invisible
  * orphans); the surviving driver completes a crawl byte-identical to the
  * sequential oracle. The race is real: both drivers are separate JVMs
  * resuming the same committed round, and whichever commits a given round
  * second dies at that commit. */
class SplitBrainSpec extends SparkTestBase {

  test("two driver JVMs racing the same snapshot root: " +
      "exactly one survives; the loser dies on CommitConflictException; " +
      "the surviving history equals the sequential oracle") {
    val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
    val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8)
    val snap = "target/split-brain/snap"
    val fs = new HPath(snap).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(snap), true)

    // seed rounds 0..1 from THIS JVM so both racers resume the same
    // committed state ("fresh" would wipe the other driver's rounds —
    // destructive by documented contract, not a race)
    val seeder = new CrawlEngine(spark, fixtureDir, snap, cfg)
    seeder.runFresh(maxRounds = 1)
    assert(seeder.store.lastCommitted().contains(1))

    def launch(tag: String): (Process, java.io.File) = {
      val log = new java.io.File(s"target/split-brain/driver-$tag.log")
      val p = GraftSubprocess.start("graft.CrawlMain",
        Seq(fixtureDir, snap, "resume"), log,
        env = Map(
          "SPARK_GRAFT_MAX_DEPTH" -> cfg.maxDepth.toString,
          "SPARK_GRAFT_PER_HOST" -> cfg.perHostPerRound.toString,
          "SPARK_GRAFT_PARTITIONS" -> cfg.partitions.toString))
      (p, log)
    }
    val (pa, logA) = launch("a")
    val (pb, logB) = launch("b")
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(8)
    while ((pa.isAlive || pb.isAlive) && System.nanoTime() < deadline)
      Thread.sleep(200)
    Seq(pa, pb).foreach(p => if (p.isAlive) p.destroyForcibly())
    assert(pa.waitFor(30, TimeUnit.SECONDS) && pb.waitFor(30, TimeUnit.SECONDS),
      "a racer did not exit")

    val results = Seq(("a", pa.exitValue(), logA), ("b", pb.exitValue(), logB))
    val (winners, losers) = results.partition(_._2 == 0)
    // every committed round must have exactly one manifest.d object —
    // the single-author invariant, checked in EVERY outcome (it is the
    // verdict a forked history would trip)
    def assertSingleAuthor(): Unit = {
      val logDir = new HPath(s"$snap/manifest.d")
      val perRound = seeder.store.fs.listStatus(logDir).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".json"))
        .groupBy(_.take(10))
      perRound.find(_._2.size > 1).foreach { case (r, names) =>
        fail(s"round $r has ${names.size} manifest entries " +
          s"(${names.mkString(", ")}) — the losing committer's entry survived")
      }
    }
    // timing accident, not a protocol verdict: if one driver finished
    // the WHOLE crawl while the other was still in JVM/Spark startup,
    // the late one resumes a drained frontier, commits nothing, and
    // exits 0 too — both exit 0 with no race ever run. A REAL double
    // win would fork the history, so check single-authorship first,
    // then cancel (the race simply didn't happen this run).
    if (winners.size == 2) {
      assertSingleAuthor()
      cancel("the two drivers serialized (no commit overlap this run) — " +
        "the race did not happen; exits " +
        results.map(r => s"${r._1}=${r._2}").mkString(", "))
    }
    assert(winners.size == 1,
      s"expected exactly one surviving driver, got exits " +
        s"${results.map(r => s"${r._1}=${r._2}").mkString(", ")}; " +
        s"A tail:\n${GraftSubprocess.tail(logA)}\n" +
        s"B tail:\n${GraftSubprocess.tail(logB)}")
    val (loserTag, _, loserLog) = losers.head
    val loserText = java.nio.file.Files.readString(loserLog.toPath)
    assert(loserText.contains("CommitConflictException"),
      s"loser $loserTag died, but not on CommitConflictException; " +
        s"log tail:\n${GraftSubprocess.tail(loserLog)}")

    // the surviving history is single-author per round (the store
    // resolves duplicates, but the loser must never have landed an
    // entry: every committed round has exactly one manifest.d object)
    val store = seeder.store
    assertSingleAuthor()

    // and the completed crawl is byte-identical to the sequential oracle
    val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
    val want = new CrawlOracle(CorpusGen.build(CorpusGen.Smoke), cfg).run()
    val (fetched, seenN) = graft.oracle.OracleAssert.assertMatches(engine, want,
      "after a two-driver split-brain race")
    // lost-race debris: the loser wrote its round's data (fetch log
    // included) to unique paths before its commit conflicted — orphans
    // no manifest entry references. The orphan sweep removes them
    // WITHOUT touching any committed round's output.
    val logsBefore = engine.fetchLog().count()
    store.expireRounds(keepLast = 1, removeOrphans = true)
    assert(engine.fetchLog().count() == logsBefore,
      "orphan sweep deleted a committed fetch log")
    val logRefs = store.fetchLogsOf(store.readManifest())
      .flatten.map(store.qualified).toSet
    val lastRound = store.lastCommitted().get
    for (e <- store.readManifest(); r = e("round").asInstanceOf[Number].intValue()
         if r < lastRound) {
      val rd = new HPath(store.roundDir(r))
      if (store.fs.exists(rd))
        store.fs.listStatus(rd).map(_.getPath)
          .filter(_.getName.startsWith("fetchlog"))
          .foreach(p => assert(logRefs(store.qualified(p.toString)),
            s"lost-race fetchlog debris survived the orphan sweep: $p"))
    }

    info(s"loser=$loserTag died on CommitConflict; winner completed " +
      s"${store.committedRounds().size} rounds, fetched=$fetched " +
      s"seen=$seenN — byte-identical to the oracle")
  }
}
