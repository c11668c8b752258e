package graft

import graft.corpus.CorpusGen
import graft.crawl.CrawlEngine
import graft.queries.CrawlOps

/** Scaling-evidence bench (BASELINE.md protocol): runs ONLY the crawl on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with whole-crawl and
  * steady-state throughput. The session is [[GraftSession.bench]]'s:
  * `local[SPARK_GRAFT_CPUS]`, or `local-cluster[E, cpus, mem]` with
  * SPARK_GRAFT_EXECUTORS=E. Run at N and 4N cores (or executors) on
  * identical input to evidence N→4N scaling (BASELINE.json:2,14):
  * efficiency = T_4N / (4 × T_N).
  *
  * Steady-state throughput excludes the frontier ramp-up/drain rounds
  * (scheduled < 2% of total fetches): at the nominal 10^10-URL scale every
  * round is a bulk round, so steady-state is the number that predicts
  * cluster behavior; whole-crawl is reported alongside for transparency.
  */
object BenchCrawl {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bench = GraftSession.bench()
    val spark = bench.spark
    try {
      val tier = CorpusGen.tierFor(sfDir)
      val fx = CorpusGen.ensureFor(spark, sfDir) // untimed input preparation
      val cfg = CrawlOps.crawlConfigFor(bench.totalCores, tier)
      // untimed ingest: a deployment writes the bucketed static inputs
      // once, not once per crawl — on a fresh fixture the first-touch
      // bucketing would otherwise land inside the timed crawl
      CrawlEngine.prepareStaticInputs(spark, fx, cfg.partitions)
      val engine = new CrawlEngine(spark, fx, s"target/crawl-scaling/${tier.name}" +
        s"-e${bench.executors}-c${bench.coresPerExecutor}", cfg)

      val t0 = System.nanoTime()
      engine.runFresh()
      val wallSec = (System.nanoTime() - t0) / 1e9

      val manifest = engine.store.readManifest()
      def m(e: Map[String, Any], k: String): Double = engine.store.metricOf(e, k)
      val (fetched, candidates) = engine.store.crawlTotals(manifest)
      val bulk = manifest.filter(e => m(e, "scheduled") >= fetched * 0.02)
      val bulkWork = bulk.map(e => m(e, "scheduled") + m(e, "candidates")).sum
      val bulkSec = bulk.map(m(_, "round_sec")).sum
      // -1 sentinel, not 0/0=NaN (invalid JSON — json.load would reject
      // the whole line): no round may cross the 2% threshold, e.g. >50
      // uniform rounds or a run where only round 0 committed
      val steady = if (bulkSec > 0.0) bulkWork / bulkSec else -1.0
      println(
        s"""{"cpus":${bench.coresPerExecutor},"executors":${bench.executors},""" +
          s""""sf":"$sfDir","crawl_sec":$wallSec,"fetched":$fetched,""" +
          s""""dedup_candidates":$candidates,""" +
          s""""urls_per_sec":${(fetched + candidates) / wallSec},""" +
          s""""steady_rounds":${bulk.size},"steady_sec":$bulkSec,""" +
          s""""steady_urls_per_sec":$steady}""")
    } finally spark.stop()
  }
}
