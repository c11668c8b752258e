package graft.crawlbench

import graft.corpus.CorpusGen
import graft.crawl.{BloomShardReader, RobotsAllows, RobotsIndex, Scheduler, SeenSet, SnapshotHistory, SnapshotStore}
import graft.functions.{canonicalize_url, extract_urls, ref_int}
import graft.plans.GlobalOrder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Shim
import org.apache.spark.storage.StorageLevel
import FrontierRound.Round

/** One bulk crawl round built from the engine's public calls, with no
  * loop around it: robots filter → `Scheduler.salted` → fetch join →
  * extract/canonicalize/xxhash64 → intra-round dedup → `SeenSet.newUrls`
  * against a seen set preloaded into a committed snapshot.
  *
  * The frontier is the web's hosting table multiplied ×`variants` (every
  * page URL becomes `variants` distinct `?v=k` URLs serving the same
  * document), so the fetch-side kernels scale with `variants` while the
  * extracted links still name the base pages. The seen set holds 85 % of
  * the base pages, so most candidates are already seen (the read-heavy
  * use of the filter, the reverse of a crawl's inserts).
  *
  * The constructor is the set-up: it writes the static inputs (bucketed
  * ×variants hosting, bucketed documents) and the seen snapshot under
  * `workDir`.
  */
final class FrontierRound(spark: SparkSession, web: SeededWeb, webDir: String,
                          workDir: String, variants: Int, partitions: Int) {

  private val hosting = CorpusGen.hosting(spark, webDir)

  private def bucketed(name: String, key: String, src: DataFrame): DataFrame = {
    val loc = s"$workDir/$name"
    val tbl = s"crawlbench_${name}_${Integer.toHexString(loc.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    src.repartition(partitions, col(key))
      .write.format("parquet").bucketBy(partitions, key).sortBy(key)
      .option("path", loc).saveAsTable(tbl)
    spark.table(tbl)
  }

  private val hostingX = bucketed("hostingx", "page_hash",
    hosting.select(col("url_canon"), col("host"), col("doc_id"), col("status"),
        explode(sequence(lit(0), lit(variants - 1))).as("v"))
      .withColumn("url_canon", concat(col("url_canon"), lit("?v="), col("v")))
      .withColumn("page_hash", xxhash64(col("url_canon"))))

  private val docs = bucketed("docs", "doc_id", CorpusGen.interleaved(spark, webDir))

  private val robotsIndex = new RobotsIndex(
    CorpusGen.robots(spark, webDir).select("host", "allow", "path_prefix").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
      .groupBy(_._1).map { case (h, rs) => h -> rs.map(r => (r._2, r._3)) })

  private val hostMeta = CorpusGen.robots(spark, webDir).groupBy("host")
    .agg(max("crawl_delay_ms").as("delay_ms")).withColumn("ready_ts", lit(0L))
    .persist(StorageLevel.MEMORY_AND_DISK)
  hostMeta.count()

  /** Base pages already seen: 17 of every 20 by url_hash. */
  private def preloaded(df: DataFrame): DataFrame =
    df.filter(pmod(col("page_hash"), lit(20L)) < 17)

  val store = new SnapshotStore(s"$workDir/snapshot", spark.sparkContext.hadoopConfiguration)
  private val seenSchema = "url_hash BIGINT, url_canon STRING, first_round INT"
  private val capacity = math.max(100000L, web.tier.docs.toLong)
  private val fpp = 0.01

  private val (seenPath, reader0, lineage0): (String, BloomShardReader, Seq[Long]) = {
    store.wipe()
    val p = store.uniquePath(0, "seen_delta")
    preloaded(hosting)
      .select(col("page_hash").as("url_hash"), col("url_canon"), lit(0).as("first_round"))
      .write.parquet(p)
    val (blooms, lineage) = SeenSet.buildShards(spark,
      spark.read.schema(seenSchema).parquet(p).select("url_hash"),
      None, store.bloomsDir(0), partitions, capacity, fpp)
    store.commit(store.entryJson(0, -1, Map("seen_delta" -> lineage.sum), lineage,
      Map.empty, Seq(p), blooms.toSeq, partitions))
    (p, new BloomShardReader(blooms, store.confSer), lineage)
  }

  /** URLs in the preloaded seen set. */
  val seenRows: Long = lineage0.sum

  /** The frontier of the first `v` variants of every page. The bound is a
    * reference literal, so every `v` runs the same compiled plan. */
  def frontier(v: Int = variants): DataFrame =
    hostingX.filter(col("v") < ref_int(v))
      .select(col("url_canon"), col("page_hash").as("url_hash"), col("host"), lit(0).as("depth"))

  /** Rows the robots filter lets through (set-up; the numerator's fetches). */
  def allowedCount(v: Int = variants): Long = allowedOf(frontier(v)).count()

  private def allowedOf(f: DataFrame): DataFrame =
    f.filter(Shim.col(RobotsAllows(Shim.expr(col("host")), Shim.expr(col("url_canon")), robotsIndex)))

  private def scheduledOf(allowed: DataFrame): DataFrame = Scheduler.salted(allowed, hostMeta, 0L)

  private def fetchedOf(sched: DataFrame): DataFrame =
    sched.join(hostingX.select("page_hash", "doc_id", "status"),
      sched("url_hash") === col("page_hash"), "left").drop("page_hash")

  private def linksOf(fetched: DataFrame): DataFrame =
    fetched.filter(col("status") === "ok")
      .join(docs, Seq("doc_id"))
      .select(col("fetch_ts"), col("host").as("src_host"), col("url_hash").as("src_hash"),
        col("url_canon").as("base_url"), posexplode(col("spans")).as(Seq("span_idx", "span")))
      .filter(col("span.kind") === "text")
      .select(col("fetch_ts"), col("src_host"), col("src_hash"), col("base_url"), col("span_idx"),
        posexplode(extract_urls(col("span.text"))).as(Seq("link_pos", "raw")))
      .withColumn("link_canon", canonicalize_url(col("raw"), col("base_url")))
      .filter(col("link_canon").isNotNull)
      .withColumn("url_hash", xxhash64(col("link_canon")))

  /** First discovery wins, in crawl order; co-partitioned with the shards. */
  private def dedupOf(links: DataFrame): DataFrame =
    links.withColumn("__b", pmod(col("url_hash"), lit(partitions.toLong)))
      .repartition(partitions, col("__b"))
      .groupBy(col("__b"), col("url_hash"))
      .agg(min(struct(col("fetch_ts"), col("src_host"), col("src_hash"),
        col("span_idx"), col("link_pos"), col("link_canon"))).as("f"))
      .select(col("url_hash"), col("f.link_canon").as("url_canon"))

  private def seenDf(paths: Seq[String] = Seq(seenPath)): DataFrame =
    spark.read.schema(seenSchema).parquet(paths: _*)

  /** One round, materialized once at the end; `reader` is the seen
    * filter to probe (a freshly reopened one for the resume measurement). */
  def run(f: DataFrame, reader: BloomShardReader = reader0,
          seenPaths: Seq[String] = Seq(seenPath)): Round = {
    val t0 = System.nanoTime()
    val cand = dedupOf(linksOf(fetchedOf(scheduledOf(allowedOf(f)))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nu, cleanup, _) = SeenSet.newUrls(spark, cand, Seq(seenDf(seenPaths)), Some(reader))
    val fresh = nu.persist(StorageLevel.MEMORY_AND_DISK)
    fresh.count()
    val seconds = (System.nanoTime() - t0) / 1e9
    val candidates = cand.count()
    val got = fresh.select("url_hash", "url_canon").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    fresh.unpersist(false); cleanup(); cand.unpersist(false)
    Round(seconds, candidates, got)
  }

  /** Reopen the seen state from the committed snapshot, as a fresh
    * crawler process would, and run one round against it; returns the
    * round and the wall of reopen + round. */
  def resume(f: DataFrame): (Round, Double) = {
    val t0 = System.nanoTime()
    val reopened = new SnapshotStore(store.root, spark.sparkContext.hadoopConfiguration)
    val entry = reopened.readManifest().last
    val reader = new BloomShardReader(reopened.pathsOf(entry, "bloom_paths").toArray, reopened.confSer)
    val r = run(f, reader, reopened.pathsOf(entry, "seen_paths"))
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The exact new-URL set, computed without Spark: every link of every
    * allowed, fetched-ok page, canonicalized, minus the preloaded pages. */
  def expectedNewUrls(): Map[Long, String] = {
    import graft.urls.{RobotsMatch, UrlCanon, UrlExtract, UrlHash}
    val rules = CorpusGen.rulesFor(web.tier).groupBy(_.host)
      .map { case (h, rs) => h -> rs.map(r => (r.allow, r.path_prefix)) }
    val seen = (0 until web.tier.docs).iterator.map(i => web.hostingRow(i).page_hash)
      .filter(h => java.lang.Math.floorMod(h, 20L) < 17).toSet
    val out = scala.collection.mutable.HashMap.empty[Long, String]
    var i = 0
    while (i < web.tier.docs) {
      val m = web.pageMeta(i)
      // every ?v=k variant shares its page's path, so one decision covers them all
      val url = web.urlOf(i)
      if (m.status == "ok" && RobotsMatch.allows(rules.getOrElse(m.host, Seq.empty), UrlCanon.pathOf(url))) {
        web.docSpans(i).foreach { span =>
          if (span.kind == "text") UrlExtract.extract(span.text).foreach { raw =>
            val c = UrlCanon.canonicalize(raw, s"$url?v=0")
            if (c != null) {
              val h = UrlHash.hash64(c)
              if (!seen.contains(h)) out(h) = c
            }
          }
        }
      }
      i += 1
    }
    out.toMap
  }

  /** The same round one public call at a time, each materialized and
    * timed on its own and tagged with its crawl phase for `trace`. */
  def runByCall(f: DataFrame, trace: PhaseTrace): Map[String, Double] = {
    val sc = spark.sparkContext
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](phase: String, call: String = null)(body: => T): (T, Double) = {
      sc.setLocalProperty(PhaseTrace.PhaseKey, phase)
      sc.setLocalProperty(PhaseTrace.CallKey, call)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally {
        sc.setLocalProperty(PhaseTrace.PhaseKey, null)
        sc.setLocalProperty(PhaseTrace.CallKey, null)
      }
    }
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); (p, p.count())
    }
    val frontierRows = f.count()
    val ((allowed, nAllowed), robotsS) = timed("sched_fetch")(persisted(allowedOf(f)))
    out("robots.rows_per_s") = frontierRows / robotsS
    out("robots.allowed_ratio") = nAllowed.toDouble / frontierRows

    val ((sched, _), schedS) = timed("sched_fetch", "scheduler")(persisted(scheduledOf(allowed)))
    out("scheduler.s") = schedS

    val (ordered, orderS) = timed("fetchlog_sink")(
      GlobalOrder.withSeq(sched, Seq(col("fetch_ts"), col("host"), col("url_hash")), "seq"))
    ordered.unpersist(false)
    out("globalorder.s") = orderS

    val ((fetched, _), fetchS) = timed("sched_fetch")(persisted(fetchedOf(sched)))
    out("fetchjoin.s") = fetchS
    val ((links, nLinks), linkS) = timed("extract_probe_delta")(persisted(linksOf(fetched)))
    out("urls.links_per_s") = nLinks / linkS
    val ((cand, nCand), _) = timed("extract_probe_delta")(persisted(dedupOf(links)))

    val ((fresh, nNew), probeS) = timed("extract_probe_delta") {
      val (nu, cleanup, _) = SeenSet.newUrls(spark, cand, Seq(seenDf()), Some(reader0))
      val p = persisted(nu)
      cleanup()
      p
    }
    out("seenset.probe_s") = probeS
    val candHashes = cand.select("url_hash").collect().map(_.getLong(0))
    val maybe = candHashes.count(reader0.mightContain)
    out("seenset.bloom_pass_ratio") = maybe.toDouble / nCand
    // bloom-positive candidates that the exact join found new
    out("seenset.false_positive_ratio") = (maybe - (nCand - nNew)).toDouble / math.max(nNew, 1L)
    out("seenset.new_ratio") = nNew.toDouble / nCand

    val deltaP = store.uniquePath(1, "seen_delta")
    timed("extract_probe_delta")(
      fresh.select(col("url_hash"), col("url_canon"), lit(1).as("first_round")).write.parquet(deltaP))
    val ((blooms, lineage), buildS) = timed("shard_build")(
      SeenSet.buildShards(spark, fresh.select("url_hash"), Some(reader0), store.bloomsDir(1),
        partitions, capacity, fpp))
    out("seenset.build_s") = buildS
    val (_, commitS) = timed("other")(store.commit(store.entryJson(1, 0,
      Map("seen_delta" -> nNew), lineage, Map("candidates" -> nCand.toDouble),
      Seq(seenPath, deltaP), blooms.toSeq, partitions)))
    out("snapshot.commit_s") = commitS
    out("snapshot.read_manifest_s") = timed("other")(store.readManifest())._2
    out("snapshot.history_s") = timed("other")(SnapshotHistory(spark, store).collect())._2
    Seq(allowed, sched, fetched, links, cand, fresh).foreach(_.unpersist(false))
    val schedJobs = trace.finished(sc).filter(_.call == "scheduler")
    out("scheduler.task_skew") = PhaseTrace.taskSkew(schedJobs)
    out("scheduler.shuffle_bytes") = schedJobs.map(_.shuffleWrite).sum.toDouble
    out.toMap
  }

  def close(): Unit = hostMeta.unpersist(false)
}

object FrontierRound {
  /** Outcome of one round: wall seconds, candidates, and the new URLs. */
  final case class Round(seconds: Double, candidates: Long, newUrls: Map[Long, String])
}
