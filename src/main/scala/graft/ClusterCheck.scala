package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.oracle.{CrawlOracle, OracleAssert}
import org.apache.spark.sql.SparkSession

/** Multi-executor (multi-JVM) evidence run. `local-cluster[N,cores,mem]`
  * is Spark's real standalone scheduler on one box: the master/worker run
  * in-process but every EXECUTOR is a separate forked JVM, so — unlike
  * `local[n]`, where closure serialization is skipped and all tasks share
  * the driver's heap — this exercises the full cluster surface the engine
  * claims to support: task/closure serialization of the robots index and
  * shard readers (HadoopConfSer), broadcast transport, cross-JVM shard-file
  * reads (an executor probing bloom shards a DIFFERENT JVM built),
  * netty shuffle between executor processes, and snapshot commit/resume
  * through shared storage.
  *
  * Modes (args: `[executors] [coresPerExec] [memMbPerExec] [mode]`), each
  * run by ClusterCrawlSpec as a subprocess in `sbt test` and exiting
  * nonzero on any mismatch:
  *  - `check` (default): Smoke-tier crawl under the cluster, asserted
  *    byte-identical to the sequential oracle (crawl order, seen set,
  *    politeness) + a retire/re-discovery resume;
  *  - `kill`: the same crawl with one executor JVM killed mid-crawl;
  *  - `retry`: the same crawl with every shard-build task failing once.
  *
  * Executor-scaling throughput is BenchCrawl's, run with
  * SPARK_GRAFT_EXECUTORS=E.
  */
object ClusterCheck {

  private def session(executors: Int, coresPerExec: Int, memMb: Int,
                      conf: Seq[(String, String)] = Nil): SparkSession =
    GraftSession.cluster(executors, coresPerExec, memMb, shufflePartitions = 8, conf)

  def main(args: Array[String]): Unit = {
    val executors = args.headOption.map(_.toInt).getOrElse(2)
    val coresPer = if (args.length > 1) args(1).toInt else 4
    val memMb = if (args.length > 2) args(2).toInt else 2048
    val mode = if (args.length > 3) args(3) else "check"
    mode match {
      case "check" => check(executors, coresPer, memMb)
      case "kill" => killCheck(executors, coresPer, memMb)
      case "retry" => retryCheck(executors, coresPer, memMb)
      case other => sys.error(s"unknown mode: $other (check|kill|retry)")
    }
  }

  /** Executor-LOSS resilience: run the Smoke crawl under local-cluster and
    * SIGKILL one executor JVM the moment round 2 commits — mid-crawl, with
    * cached blocks, registered shuffle outputs and (likely) in-flight tasks
    * on the victim. This is the failure mode task-retry injection
    * ([[graft.FaultCheck]]) cannot reach: the dead JVM takes its block-
    * manager state with it, so Spark must re-run lost tasks on the
    * survivor, recompute lost cached partitions from lineage (the previous
    * round's frontier file — which is why the expiry keep-window guard
    * exists), re-read bloom shards the dead JVM built (shared-FS files
    * survive their writer), and the standalone master must replace the
    * executor. The crawl must still finish byte-identical to the
    * sequential oracle. */
  private def killCheck(executors: Int, coresPer: Int, memMb: Int): Unit = {
    require(executors >= 2, "kill mode needs >= 2 executors (one survivor)")
    val spark = session(executors, coresPer, memMb)
    try {
      val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
      val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8,
        bloomShardCapacity = 50000L)
      val snap = "target/cluster-check/snap-kill"
      new CrawlEngine(spark, fixtureDir, snap, cfg).store.wipe()
      val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)

      val killedPid = new java.util.concurrent.atomic.AtomicLong(-1L)
      val roundsAtKill = new java.util.concurrent.atomic.AtomicInteger(-1)
      val watcher = new Thread(() => {
        // wait for mid-crawl (round 2 committed: caches warm, shards live,
        // round 3 about to schedule), then SIGKILL one executor JVM
        while (engine.store.committedRounds().size < 2) Thread.sleep(100)
        import scala.jdk.CollectionConverters._
        val victim = ProcessHandle.current().descendants().iterator().asScala
          .find(_.info().commandLine().map[Boolean](
            _.contains("CoarseGrainedExecutorBackend")).orElse(false))
        victim.foreach { v =>
          val pid = v.pid()
          roundsAtKill.set(engine.store.committedRounds().size)
          if (v.destroyForcibly()) killedPid.set(pid)
        }
      }, "executor-killer")
      watcher.setDaemon(true)
      watcher.start()

      engine.runFresh()
      watcher.join(10000)
      require(killedPid.get() > 0,
        "no executor JVM was killed — the crawl finished before round 2 " +
          "committed or no CoarseGrainedExecutorBackend child was found")
      val roundsAfter = engine.store.committedRounds().size
      require(roundsAfter >= roundsAtKill.get() + 3,
        s"kill landed too late to prove recovery: ${roundsAtKill.get()} rounds " +
          s"committed at kill, only $roundsAfter total — the victim's lost " +
          "caches/shards were never needed again")

      val corpus = CorpusGen.build(CorpusGen.Smoke)
      val want = new CrawlOracle(corpus, cfg).run()
      val (fetched, seen) =
        OracleAssert.assertMatches(engine, want, "after executor kill")
      println(s"CLUSTER-KILL OK executors=$executors coresPer=$coresPer " +
        s"killed_pid=${killedPid.get()} fetched=$fetched seen=$seen " +
        "byte-identical to the sequential oracle")
    } finally spark.stop()
  }

  /** Task-retry safety under MULTI-JVM executors — the cluster form of
    * [[graft.FaultCheck]], whose arm() statics cannot reach forked
    * executor JVMs. The `graft.fault.arm=shards.post` system property
    * ships in spark.executor.extraJavaOptions, so in EVERY executor JVM
    * each shard-build task's attempt 0 throws AFTER its rename side
    * effect (the hard case: the failed attempt's completed file must
    * stay an unreferenced orphan) and Spark's real cluster retry
    * machinery (spark.task.maxFailures=4 through the standalone
    * scheduler, retries possibly landing on the OTHER executor) re-runs
    * it. The driver counts the injections through task-failure reasons
    * — the thrown message carries the `[FaultInjection]` marker — and
    * the finished crawl must be byte-identical to the sequential
    * oracle. */
  private def retryCheck(executors: Int, coresPer: Int, memMb: Int): Unit = {
    val armProp = "-Dgraft.fault.arm=shards.post"
    val spark = session(executors, coresPer, memMb, Seq(
      "spark.task.maxFailures" -> "4",
      "spark.executor.extraJavaOptions" -> s"${GraftSession.executorAddOpens} $armProp"))
    try {
      val injected = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.reason != null && e.reason.toString.contains("[FaultInjection]"))
            injected.incrementAndGet()
      })
      val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
      val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8,
        bloomShardCapacity = 50000L)
      val snap = "target/cluster-check/snap-retry"
      new CrawlEngine(spark, fixtureDir, snap, cfg).store.wipe()
      val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
      engine.runFresh()
      require(injected.get() > 0,
        "no injected task failure observed — graft.fault.arm did not reach " +
          "the executor JVMs or the site was never exercised")

      val corpus = CorpusGen.build(CorpusGen.Smoke)
      val want = new CrawlOracle(corpus, cfg).run()
      val (fetched, seen) =
        OracleAssert.assertMatches(engine, want, "under multi-JVM task retries")
      println(s"CLUSTER-RETRY OK executors=$executors coresPer=$coresPer " +
        s"injected_failures=${injected.get()} fetched=$fetched " +
        s"seen=$seen byte-identical to the sequential oracle")
    } finally spark.stop()
  }

  private def check(executors: Int, coresPer: Int, memMb: Int): Unit = {
    val spark = session(executors, coresPer, memMb)
    try {
      val fixtureDir = CorpusGen.ensure(spark, CorpusGen.Smoke)
      val cfg = CrawlConfig(maxDepth = 10, perHostPerRound = 25, partitions = 8,
        bloomShardCapacity = 50000L)
      val snap = s"target/cluster-check/snap-e$executors"
      val engine = new CrawlEngine(spark, fixtureDir, snap, cfg)
      engine.runFresh()

      val corpus = CorpusGen.build(CorpusGen.Smoke)
      val want = new CrawlOracle(corpus, cfg).run()
      val (fetched, seen) = OracleAssert.assertMatches(engine, want,
        s"under local-cluster[$executors,$coresPer]")

      // retire + re-discovery resume: exercises cuckoo-free tombstone
      // masking, manifest pointer round-trips and a cross-JVM shard-cache
      // population with a DIFFERENT shard-set version
      val host = want.log.groupBy(_.host).maxBy(_._2.size)._1
      val e2 = new CrawlEngine(spark, fixtureDir, s"$snap-retire", cfg)
      e2.runFresh(maxRounds = 3)
      e2.retireHost(host)
      e2.resume()
      val want2 = new CrawlOracle(corpus, cfg).run(Some((3, host)))
      val got2Seen = OracleAssert.collectSeen(e2)
      require(got2Seen == want2.seen,
        s"post-retire seen mismatch: got=${got2Seen.size} want=${want2.seen.size}")

      // media-follow under multi-JVM: the round-4 extraction branch
      // (media_ref candidates interleaving with text links through the
      // same politeness/dedup path) asserted byte-identical to the
      // sequential oracle across forked executors
      val mCfg = cfg.copy(followMedia = true)
      val e3 = new CrawlEngine(spark, fixtureDir, s"$snap-media", mCfg)
      e3.runFresh()
      val wantM = new CrawlOracle(corpus, mCfg).run()
      val (fetchedM, seenM) = OracleAssert.assertMatches(e3, wantM,
        s"media-follow under local-cluster[$executors,$coresPer]")
      require(wantM.log.exists(_.status == "media"),
        "media-follow cluster check fetched no media URL (vacuous)")

      // hostRank (q45's loop) under multi-JVM: Shim.fromCache rebuilds
      // each iteration's frame on an InMemoryRelation whose cached
      // blocks live in the forked executor JVMs (local[n] shares the
      // driver heap and proves nothing about block transport), and the
      // loop's AQE/partition/broadcast conf flips are driver-side state
      // that must not corrupt a cluster session.
      val edgesDf = graft.queries.GraphOps.docEdges(spark, fixtureDir)
        .select("src_host", "dst_host")
      val rankDf = graft.queries.GraphOps.hostRank(edgesDf, 10)
      val gotRank = rankDf.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      rankDf.unpersist(false)
      val edgeSeq = edgesDf.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.oracle.RankOracle.assertClose(gotRank,
        graft.oracle.RankOracle.rank(edgeSeq, 10, 0.85),
        s"hostRank under local-cluster[$executors,$coresPer]")

      // hostComponents under multi-JVM: the large-star/small-star loop's
      // state rides cached-RDD blocks that live in the forked executor
      // JVMs (and are read back every round); verify against a driver-
      // side union-find over the same collected edges.
      val compDf = graft.queries.GraphOps.hostComponents(edgesDf)
      val compRows = compDf.collect().map(r => r.getString(0) -> r.getString(1))
      compDf.unpersist(false)
      val gotComp = compRows.toMap
      // duplicate host rows are exactly what a premature star-forest
      // stop would emit — toMap would silently collapse them, so fail
      // loudly on the row count first
      require(compRows.length == gotComp.size,
        s"hostComponents emitted duplicate host rows under " +
          s"local-cluster[$executors,$coresPer]: ${compRows.length} rows, " +
          s"${gotComp.size} distinct hosts")
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edgeSeq.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val wantComp = (edgeSeq.map(_._1) ++ edgeSeq.map(_._2)).distinct
        .map(h => h -> find(h)).toMap
      require(gotComp == wantComp,
        s"hostComponents diverged under local-cluster[$executors,$coresPer]: " +
          s"got ${gotComp.size} labels, want ${wantComp.size}; first diff: " +
          s"${(gotComp.toSet diff wantComp.toSet).take(3)}")

      println(s"CLUSTER-CHECK OK executors=$executors coresPer=$coresPer " +
        s"fetched=$fetched seen=$seen retire_resume_seen=${got2Seen.size} " +
        s"media_fetched=$fetchedM media_seen=$seenM " +
        s"rank_hosts=${gotRank.size} comp_hosts=${gotComp.size}")
    } finally spark.stop()
  }
}
