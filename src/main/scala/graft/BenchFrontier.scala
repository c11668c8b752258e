package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlEngine, RobotsAllows, RobotsIndex, Scheduler}
import graft.functions.canonicalize_url
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Shim
import org.apache.spark.storage.StorageLevel

/** The north-metric bench (BASELINE.json:2): "URLs fetched+deduped/sec on
  * a synthetic frontier" — one bulk frontier-expansion pass at cluster
  * saturation, the steady-state regime every round of a 10^10-URL crawl
  * lives in (where a round is billions of URLs, not the ramp-up tail the
  * iterative loop bench at sandbox scale is dominated by).
  *
  * The frontier is the bench corpus variant-multiplied ×V (each page URL
  * becomes V distinct `?v=k` URLs resolving to the same document), giving
  * a 20M-URL frontier from the 500k-page corpus with zero extra fixture
  * cost. The timed pipeline is exactly one crawl round: robots filter
  * (the engine's codegen [[RobotsAllows]] expression — round 3 replaced
  * the bench-local Scala UDF, which was both slower and unrepresentative
  * of the engine's actual filter) → salted politeness schedule → fetch
  * join → span explode → link extraction → RFC 3986 canonicalization →
  * xxhash64 → intra-batch dedup → anti-join against a preloaded seen set.
  *
  * The static inputs ("the web" hosting map and the interleaved corpus)
  * live as one-time bucketed+sorted parquet tables written by the crawl
  * engine's own [[CrawlEngine.bucketedInput]] — the production layout
  * the iterative crawl loop adopted in round 3: the fetch join and the
  * docs join scan bucket-aligned with no exchange and no sort on the
  * static side, so the timed round shuffles only the frontier-derived
  * sides. The bucket count is PINNED
  * (default 128) independently of the core count, so the N-core and
  * 4N-core scaling runs read byte-identical inputs through an identical
  * exchange topology.
  *
  * Run at SPARK_GRAFT_CPUS=8 and =32 on identical input for the N→4N
  * scaling evidence: efficiency = T_32 / (4 × T_8).
  */
object BenchFrontier {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variants = sys.env.getOrElse("SPARK_GRAFT_FRONTIER_X", "40").toInt
    // sequence(0, variants-1) with variants<=0 silently yields a
    // DESCENDING [0, -1, ...] (Spark picks step -1), doubling the
    // frontier with bogus ?v=-1 URLs instead of erroring
    require(variants >= 1, s"SPARK_GRAFT_FRONTIER_X must be >= 1, got $variants")
    val buckets = sys.env.getOrElse("SPARK_GRAFT_FRONTIER_BUCKETS", "128").toInt
    // local[cpus], or local-cluster[E, cpus, mem] with SPARK_GRAFT_EXECUTORS=E
    val bench = GraftSession.bench(partitionsPerCore = 4, // tasks ≫ cores
      conf = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) // measure the shuffle path
    val spark = bench.spark

    val fx = CorpusGen.ensureFor(spark, sfDir)

    // ---- untimed input preparation ("the web" + the frontier + seen) ----
    // the variant count is part of the table name: bucketedInput already
    // versions the location by generator version and bucket count
    val hostingX = CrawlEngine.bucketedInput(spark, fx, buckets, s"hostingx_v$variants",
      CorpusGen.hosting(spark, fx)
        .select(col("url_canon"), col("host"), col("doc_id"), col("status"),
          explode(sequence(lit(0), lit(variants - 1))).as("v"))
        .withColumn("url_canon", concat(col("url_canon"), lit("?v="), col("v")))
        .withColumn("page_hash", xxhash64(col("url_canon")))
        .drop("v"),
      "page_hash",
      "url_canon STRING, host STRING, doc_id STRING, status STRING, page_hash BIGINT")
    val frontierSize = hostingX.count()

    val docs = CrawlEngine.docsBucketed(spark, fx, buckets)

    // seen set: every 10th base-page URL is already seen (candidate links
    // resolve to base URLs, so the anti-join genuinely dedupes ~10%)
    val seen = CorpusGen.hosting(spark, fx)
      .select(col("page_hash").as("url_hash"))
      .filter(pmod(col("url_hash"), lit(10)) === 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    seen.count()

    val delays = CorpusGen.robots(spark, fx).groupBy("host")
      .agg(max("crawl_delay_ms").as("delay_ms")).withColumn("ready_ts", lit(0L))
      .persist(StorageLevel.MEMORY_AND_DISK)
    delays.count()
    val robotsIndex = new RobotsIndex(
      CorpusGen.robots(spark, fx).select("host", "allow", "path_prefix").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
        .groupBy(_._1).map { case (h, rs) => h -> rs.map(r => (r._2, r._3)) })

    val frontier = hostingX
      .select(col("url_canon"), col("page_hash").as("url_hash"), col("host"), lit(0).as("depth"))
    // north-metric numerator: URLs that actually get FETCHED — i.e. the
    // robots-allowed frontier, not the raw frontier (robots-denied rows
    // never reach the scheduler or fetch join and counting them inflated
    // the metric a few percent — review finding). Counted untimed here;
    // the timed round runs the same codegen filter as part of the work.
    val allowedSize = frontier.filter(Shim.col(RobotsAllows(
      Shim.expr(col("host")), Shim.expr(col("url_canon")), robotsIndex))).count()

    // ---- the timed round -------------------------------------------------
    val t0 = System.nanoTime()

    val allowed = frontier.filter(Shim.col(RobotsAllows(
      Shim.expr(col("host")), Shim.expr(col("url_canon")), robotsIndex)))
    val sched = Scheduler.salted(allowed, delays, 0L)

    val fetched = sched.join(hostingX.select("page_hash", "doc_id", "status"),
        sched("url_hash") === col("page_hash"), "left")
      .drop("page_hash")

    val links = fetched.filter(col("status") === "ok")
      .join(docs, Seq("doc_id"))
      .select(col("url_canon").as("base_url"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "text")
      .select(col("base_url"), explode(graft.functions.extract_urls(col("span.text"))).as("raw"))
      .withColumn("link_canon", canonicalize_url(col("raw"), col("base_url")))
      .filter(col("link_canon").isNotNull)
      .withColumn("url_hash", xxhash64(col("link_canon")))

    val cand = links.groupBy("url_hash")
      .agg(min(col("link_canon")).as("url_canon"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newUrls = cand.join(seen, Seq("url_hash"), "left_anti")
    val newCount = newUrls.count()

    val wallSec = (System.nanoTime() - t0) / 1e9
    // candidates processed = extracted links pre-dedup is the honest
    // denominator driver of work, but counting it would add a second job;
    // report fetched + distinct candidates (both already materialized)
    val candCount = cand.count()
    val urlsPerSec = (allowedSize + candCount) / wallSec
    println(
      s"""{"cpus":${bench.coresPerExecutor},"executors":${bench.executors},""" +
        s""""sf":"$sfDir","variants":$variants,"buckets":$buckets,""" +
        s""""frontier_urls":$frontierSize,"fetched_urls":$allowedSize,""" +
        s""""candidates":$candCount,"new_urls":$newCount,""" +
        s""""round_sec":$wallSec,"urls_fetched_plus_deduped_per_sec":$urlsPerSec}""")
    spark.stop()
  }
}
