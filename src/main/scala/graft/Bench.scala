package graft

import graft.corpus.CorpusGen
import graft.crawl.SnapshotStore

/** Benchmark entry (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] and prints ONE JSON
  * line. The headline north metric (BASELINE.json:2) — URLs
  * fetched+deduped/sec — is derived from the q09 crawl's snapshot
  * manifest (fetched fetches + deduped link candidates over crawl wall
  * time). Scaling efficiency N→4N is evidenced by running this twice
  * with SPARK_GRAFT_CPUS=8 and =32 on identical input (BASELINE.md).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus.toString, cpus)

    // fixture generation is input preparation, not engine work — untimed.
    // Same for the bucketed static-input layouts the crawl joins against:
    // a deployment ingests the corpus into its bucketed Iceberg table
    // once, not once per crawl, so the ingest is prepared here with the
    // same shard count q09's config will use (first-touch bucketing used
    // to land inside q09's timed window — ~6 s of storage prep counted as
    // crawl time on any fresh checkout).
    val fx = CorpusGen.ensureFor(spark, sfDir)
    graft.crawl.CrawlEngine.prepareStaticInputs(spark, fx,
      graft.queries.CrawlOps.crawlConfigFor(cpus, CorpusGen.tierFor(sfDir)).partitions)
    // q37 pins the SMOKE tier regardless of sfDir (a second bench-tier
    // crawl per run would be waste) — prepare ITS inputs untimed too, or
    // a fresh checkout counts smoke corpus generation + first-touch
    // bucketed ingest inside q37's timed window (review finding)
    if (CorpusGen.tierFor(sfDir) != CorpusGen.Smoke) {
      val fxSmoke = CorpusGen.ensure(spark, CorpusGen.Smoke)
      graft.crawl.CrawlEngine.prepareStaticInputs(spark, fxSmoke,
        graft.queries.CrawlOps.crawlConfigFor(cpus, CorpusGen.Smoke).partitions)
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = fn(spark, sfDir)
          df.count()
          // a query may return a persisted frame (ownership transfers to
          // the caller — see QueriesSpec's leak contract); release it
          df.unpersist(false)
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-24s $sec%8.2f s")
      // no-leaked-cache gate: a query that persists without unpersisting
      // (the round-2 q35 leak) must not skew the queries after it
      if (!org.apache.spark.sql.graftinternal.Shim.cacheIsEmpty(spark)) {
        System.err.println(s"[bench] WARNING: $name leaked cached data — clearing")
        spark.catalog.clearCache()
      }
      (name, sec, ok)
    }
    // a failed query must be VISIBLE in the contract JSON, not recorded
    // as a fast success (a crash at 0.1 s would otherwise read as a
    // better total and a stale-manifest-inflated headline — review
    // finding): failed queries report -1 and are listed in "failed"
    val failed = results.collect { case (n, _, false) => n }

    // crawl throughput from the q09 snapshot manifest
    val tier = CorpusGen.tierFor(sfDir)
    val store = new SnapshotStore(s"target/crawl-run/${tier.name}")
    val q09ok = results.exists { case (n, _, ok) => n == "q09_crawl" && ok }
    // -1 sentinels, not NaN: a bare NaN is invalid JSON and would make
    // the driver's parse reject the whole line. ALL crawl-derived fields
    // take the sentinel on a q09 failure: the manifest at this path may
    // be a PREVIOUS run's (q09 can crash before wiping the store), and
    // healthy-looking absolute fetched/candidate counts from a crawl
    // that never ran would mislead a driver reading only those fields
    // (review finding — crawl_sec was guarded, the counts were not).
    val (fetched, candidates) =
      if (q09ok) store.crawlTotals(store.readManifest()) else (-1.0, -1.0)
    val crawlSec =
      if (q09ok) results.collectFirst { case ("q09_crawl", s, _) => s }.get
      else -1.0 // never divide by a time-to-failure over a stale manifest
    val urlsPerSec = if (q09ok) (fetched + candidates) / crawlSec else -1.0

    val qs = results.map { case (k, v, ok) => s""""$k":${if (ok) v else -1}""" }
      .mkString("{", ",", "}")
    // a crashed query's elapsed-to-crash must not inflate the headline
    // (a driver reading only metric/value would see a crash as a BETTER
    // total): any failure makes the headline the -1 sentinel, consistent
    // with crawl_sec/urls_per_sec (review finding)
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""cpus":$cpus,"failed":$failedJson,"crawl_fetched":$fetched,""" +
        s""""crawl_dedup_candidates":$candidates,""" +
        s""""crawl_sec":$crawlSec,"urls_fetched_plus_deduped_per_sec":$urlsPerSec}"""
    // belt-and-braces for the driver's parser: the JSON goes to stdout as
    // the last line AND to a file (round 1 lost the line to sbt logging)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/bench_last.json"), json + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
    println(json)
    System.out.flush()
  }
}
