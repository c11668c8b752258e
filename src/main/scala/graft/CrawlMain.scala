package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine}

/** spark-submit entry point for the crawl itself (BASELINE.json:14
  * "launched via spark-submit"):
  *
  * {{{
  * spark-submit --class graft.CrawlMain app.jar \
  *   [sfDirOrFixtureDir] [snapshotDir] [fresh|resume]
  * }}}
  *
  * Environment: SPARK_GRAFT_MAX_DEPTH, SPARK_GRAFT_PER_HOST,
  * SPARK_GRAFT_BUDGET, SPARK_GRAFT_PARTITIONS override CrawlConfig.
  * Under spark-submit the session inherits the cluster master; standalone
  * it falls back to local[SPARK_GRAFT_CPUS] (default min(32, cores)).
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val snapDir = args.lift(1).getOrElse("target/crawl-main")
    val mode = args.lift(2).getOrElse("fresh")
    // an unknown mode must NOT fall through to the fresh path: runFresh
    // wipes the snapshot dir, so a typo'd "resume" would silently delete
    // a multi-hour crawl's committed rounds (review finding)
    require(mode == "fresh" || mode == "resume",
      s"unknown mode '$mode' — expected 'fresh' or 'resume'")

    // under spark-submit, master and settings come from the launcher;
    // MASTER env is honored for standalone java -cp launches; default
    // local otherwise
    val spark =
      if (sys.props.contains("spark.master")) GraftSession.launched(None)
      else sys.env.get("MASTER") match {
        case Some(m) => GraftSession.launched(Some(m))
        case None => GraftSession.local()
      }
    // the library's SQL functions (graft_canonicalize, ...) for any
    // spark.sql consumer of this session — e.g. ad-hoc queries over
    // CrawlEngine.history() or the fetch log from the same deployment
    GraftExtensions.register(spark)

    val fx = CorpusGen.ensureFor(spark, sfDir)
    def envInt(k: String, d: Int) = sys.env.get(k).map(_.toInt).getOrElse(d)
    def envLong(k: String, d: Long) = sys.env.get(k).map(_.toLong).getOrElse(d)
    val cfg = CrawlConfig(
      maxDepth = envInt("SPARK_GRAFT_MAX_DEPTH", 10),
      perHostPerRound = envInt("SPARK_GRAFT_PER_HOST", 2500),
      totalBudget = envLong("SPARK_GRAFT_BUDGET", Long.MaxValue),
      partitions = envInt("SPARK_GRAFT_PARTITIONS",
        spark.sessionState.conf.numShufflePartitions))

    val engine = new CrawlEngine(spark, fx, snapDir, cfg)
    val summary = if (mode == "resume") engine.resume() else engine.runFresh()
    println(s"""{"rounds":${summary.rounds},"fetched":${summary.totalFetched},""" +
      s""""seen":${summary.totalSeen},"snapshots":"${summary.snapshotRoot}"}""")
    spark.stop()
  }
}
