package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.oracle.CrawlOracle
import org.apache.hadoop.fs.{Path => HPath}
import java.util.concurrent.TimeUnit

/** DRIVER-loss recovery: the last row of the fault matrix (task retry →
  * FaultCheck, executor loss → ClusterCheck kill, duplicate attempts →
  * ConcurrentAttemptSpec). The driver is the one process Spark does NOT
  * restart for you; at 100 TB the recovery story for a dead driver is
  * "start a new driver, point it at the snapshot root, resume" — the
  * manifest is the only state that matters, and a SIGKILL can land
  * anywhere: mid-round, mid-write, even mid-commit.
  *
  * This spec runs the real spark-submit entry point ([[CrawlMain]]) in a
  * subprocess, SIGKILLs the whole JVM the instant a chosen round commits
  * (the next round's writes are in flight — torn parquet and an
  * uncommitted round dir are expected debris), then resumes IN A
  * DIFFERENT JVM (the shared test session) over the same snapshot root
  * and requires the completed crawl byte-identical to the sequential
  * oracle, with post-kill progress verified (the resume did real rounds,
  * not a no-op). Two kill points: round 3 (early, delta-chain state) and
  * round 8 (right at the seenCompactEvery=8 boundary — the resume must
  * come up from a freshly-compacted base + tail deltas). */
class DriverKillSpec extends SparkTestBase {

  test("SIGKILL the driver JVM after round 3 (delta-chain state); a fresh " +
      "driver resumes from the manifest and equals the sequential oracle") {
    runKill(killAt = 3, tag = "early")
  }

  test("SIGKILL the driver JVM after round 8 (compaction boundary); " +
      "resume comes up from the compacted base and equals the oracle") {
    runKill(killAt = 8, tag = "compacted")
  }

  private def runKill(killAt: Int, tag: String): Unit = {
    // generate the fixture from THIS process first so the subprocess
    // never races the generator
    val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
    val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8)
    val snap = s"target/driver-kill/snap-$tag"
    val fs = new HPath(snap).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(snap), true)

    val log = new java.io.File(s"target/driver-kill/crawl-$tag.log")
    val p = GraftSubprocess.start("graft.CrawlMain",
      Seq("/root/testdata/sf0.001", snap, "fresh"), log,
      env = Map(
        "SPARK_GRAFT_MAX_DEPTH" -> cfg.maxDepth.toString,
        "SPARK_GRAFT_PER_HOST" -> cfg.perHostPerRound.toString,
        "SPARK_GRAFT_PARTITIONS" -> cfg.partitions.toString))

    // poll the manifest from OUTSIDE the dying JVM; kill the instant
    // round `killAt` is committed — the next round is then mid-flight
    val store = new CrawlEngine(spark, fixtureDir, snap, cfg).store
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(5)
    var rounds = 0
    while (rounds < killAt && p.isAlive && System.nanoTime() < deadline) {
      rounds = store.committedRounds().size
      if (rounds < killAt) Thread.sleep(50)
    }
    assert(p.isAlive,
      s"driver exited before round $killAt committed (rounds=$rounds); " +
        s"log tail:\n${tail(log)}")
    val roundsAtKill = store.committedRounds().size
    p.destroyForcibly()
    p.waitFor(30, TimeUnit.SECONDS)
    assert(roundsAtKill >= killAt, s"kill raced the poll: $roundsAtKill rounds")
    val seenFilesAtKill = store.pathsOf(store.readManifest().last, "seen_paths").size

    // a fresh "driver" (this JVM) resumes over the snapshot root
    val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
    engine.resume()
    val roundsAfter = store.committedRounds().size
    assert(roundsAfter > roundsAtKill,
      s"resume made no progress: $roundsAtKill rounds at kill, $roundsAfter after")

    val corpus = CorpusGen.build(CorpusGen.Smoke)
    val want = new CrawlOracle(corpus, cfg).run()
    val (fetched, seenN) = graft.oracle.OracleAssert.assertMatches(engine, want,
      s"after driver kill + resume ($tag)")
    info(s"$tag: killed at $roundsAtKill committed rounds " +
      s"($seenFilesAtKill live seen files), resumed to $roundsAfter; " +
      s"fetched=$fetched seen=$seenN — byte-identical to the oracle")
  }

  private def tail(f: java.io.File): String = GraftSubprocess.tail(f)
}
