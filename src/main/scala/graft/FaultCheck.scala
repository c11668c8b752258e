package graft

import graft.corpus.CorpusGen
import graft.crawl.{BloomShardReader, CrawlConfig, CrawlEngine, FaultInjection}
import graft.oracle.CrawlOracle
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import scala.jdk.CollectionConverters._

/** Fault-tolerance evidence run: the crawl under Spark's real task-retry
  * machinery. Master is `local[8,4]` — the 4 is `maxFailures`, so a failed
  * task attempt is RETRIED (plain `local[8]` fails the whole job on the
  * first task failure, which is why every other suite never sees retries).
  *
  * [[graft.crawl.FaultInjection]] arms one site at a time; every task's
  * first attempt through that site throws and Spark re-runs it. The engine
  * claims its only side-effecting tasks — the executor-side seen-shard
  * build/retire — are retry-safe by construction (immutable uuid-named
  * files, temp+rename, driver keeps only the successful attempt's path);
  * this run PROVES it: for each site the full crawl (or retire + resume)
  * must stay byte-identical to the sequential oracle, with the injection
  * verified to have actually fired. The `.post` sites fail AFTER the
  * side effect — the hard case, where a completed rename from a failed
  * attempt must stay an unreferenced orphan — and the run additionally
  * asserts [[graft.crawl.SnapshotStore.expireRounds]] sweeps those
  * orphans once their round leaves the keep window.
  *
  * Run by FaultToleranceSpec as a subprocess (one SparkContext per JVM;
  * the shared test session is plain local[8]). Exits nonzero on any
  * mismatch.
  */
object FaultCheck {

  def main(args: Array[String]): Unit = {
    // 4 = spark.task.maxFailures: retries enabled; injected failures log
    // loudly on WARN
    val spark = GraftSession.local("8,4", shufflePartitions = 8, logLevel = "ERROR")
    try {
      val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
      val corpus = CorpusGen.build(CorpusGen.Smoke)
      val base = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8,
        bloomShardCapacity = 50000L)
      val want = new CrawlOracle(corpus, base).run()

      // full crawl with every shard-build task failing once, both filter
      // kinds, both before and after the side effect
      for ((site, filter) <- Seq(("shards.pre", "bloom"), ("shards.post", "bloom"),
                                 ("shards.post", "cuckoo"))) {
        val cfg = base.copy(seenFilter = filter)
        val snap = s"target/fault-check/snap-$site-$filter"
        new CrawlEngine(spark, fixtureDir, snap, cfg).store.wipe()
        FaultInjection.arm(site)
        val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
        engine.runFresh()
        FaultInjection.disarm()
        require(FaultInjection.fireCount > 0,
          s"$site/$filter: injection never fired — the site was not exercised")
        compareToOracle(engine, want, s"$site/$filter")

        if (site == "shards.post") {
          // each fired injection left a completed-but-orphaned shard file;
          // expiry must sweep the ones in rounds outside the keep window
          // while keeping every manifest-referenced file
          val store = engine.store
          val fs = FileSystem.get(new java.net.URI(store.qualified(store.roundDir(0))),
            spark.sparkContext.hadoopConfiguration)
          val expiredRounds = store.committedRounds().dropRight(2)
          val before = shardFiles(fs, store.bloomsDir _, expiredRounds)
          require(before.nonEmpty, s"$site/$filter: no shard files to expire?")
          store.expireRounds(keepLast = 2)
          val referenced = store.readManifest()
            .flatMap(e => Option(e.getOrElse("bloom_paths", null)))
            .flatMap(_.asInstanceOf[java.util.List[String]].asScala)
            .filter(_ != null) // never-written shards commit null path entries
            .map(store.qualified)
            .toSet
          val after = shardFiles(fs, store.bloomsDir _, expiredRounds)
          val orphansLeft = after.filterNot(referenced)
          require(orphansLeft.isEmpty,
            s"$site/$filter: expireRounds left unreferenced orphan shard files " +
              s"from failed attempts: ${orphansLeft.take(3).mkString(", ")}")
          require(after.forall(referenced),
            s"$site/$filter: post-expiry blooms dirs hold unreferenced files")
          println(s"FAULT-CHECK orphans: $site/$filter swept " +
            s"${before.size - after.size} of ${before.size} expired-round shard " +
            s"files, kept ${after.size} still-referenced")
        }
      }

      // retire + re-discovery resume with every cuckoo-delete task failing
      // once AFTER its rewrite (the retire mirror of shards.post)
      val cfg = base.copy(seenFilter = "cuckoo")
      val host = want.log.groupBy(_.host).maxBy(_._2.size)._1
      val want2 = new CrawlOracle(corpus, cfg).run(Some((3, host)))
      for (site <- Seq("retire.pre", "retire.post")) {
        val snap = s"target/fault-check/snap-$site"
        new CrawlEngine(spark, fixtureDir, snap, cfg).store.wipe()
        val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
        engine.runFresh(maxRounds = 3)
        FaultInjection.arm(site)
        engine.retireHost(host)
        FaultInjection.disarm()
        require(FaultInjection.fireCount > 0,
          s"$site: injection never fired — the site was not exercised")
        engine.resume()
        val gotSeen = graft.oracle.OracleAssert.collectSeen(engine)
        require(gotSeen == want2.seen,
          s"$site: post-retire seen mismatch: got=${gotSeen.size} want=${want2.seen.size}")
        println(s"FAULT-CHECK $site ok: fired=injected, retire+resume " +
          s"seen=${gotSeen.size} matches oracle")
      }

      println("FAULT-CHECK OK all sites: crawl byte-identical to the oracle " +
        "under injected task retries (pre- and post-side-effect)")
    } finally spark.stop()
  }

  private def shardFiles(fs: FileSystem, dirOf: Int => String,
                         rounds: Seq[Int]): Set[String] =
    rounds.flatMap { r =>
      val d = new HPath(dirOf(r))
      if (fs.exists(d)) fs.listStatus(d).map(s => s.getPath.toString).toSeq
      else Seq.empty[String]
    }.toSet

  private def compareToOracle(engine: CrawlEngine,
                              want: graft.oracle.OracleResult, tag: String): Unit = {
    val (fetched, seen) = graft.oracle.OracleAssert.assertMatches(engine, want,
      s"$tag under injected retries")
    println(s"FAULT-CHECK $tag ok: fetched=$fetched seen=$seen " +
      s"matches oracle exactly")
  }
}
