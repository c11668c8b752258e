package graft.crawl

import graft.corpus.CorpusGen
import graft.functions.{canonicalize_url, extract_urls, host_of, ref_int}
import graft.plans.GlobalOrder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftinternal.Shim
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The crawl driver loop (SURVEY.md §3 E1) — PyCrawler's fetch-parse-
  * extract loop re-expressed as batch-iterative Dataset rounds:
  *
  * frontier_R → robots filter → per-host politeness schedule → simulated
  * fetch (hosting join) → span emission → link extraction + RFC 3986
  * canonicalization → intra-round dedup → two-phase seen-set anti-join →
  * frontier_{R+1}; every round commits an Iceberg-style snapshot
  * (frontier, seen delta, fetch log, bloom shard files, host-ready
  * Dataset, per-partition lineage + metrics) and the next round reads it
  * back — breaking lineage (the iterative-Spark plan-explosion fix) and
  * making the run resumable from any committed round (BASELINE.json:14).
  *
  * Scale posture after the round-1 review:
  *  - NO per-round O(#hosts) driver collects: host-ready state is a
  *    parquet Dataset in the snapshot (round 1 held a driver map), the
  *    denied/carried counts come from count arithmetic on counts the
  *    ordering pass already produced, and status metrics collect ≤4 rows.
  *  - NO whole-shard-set broadcast and no bloom-blob round-trip through
  *    the driver: candidates are co-partitioned by pmod(url_hash, P) and
  *    probed by the codegen BloomMightContain expression against lazily
  *    loaded executor-resident shard files; shard build/merge also runs
  *    executor-side (SeenSet.buildShards).
  *  - The only driver-resident host state is the broadcast robots rule
  *    index (J2's design: rules ≪ frontier) and the tiny per-shard
  *    lineage counts.
  *
  * All ordering choices ([PINNED], SURVEY.md §0) are mirrored exactly by
  * the sequential oracle (graft.oracle.CrawlOracle); `sbt -batch test`
  * asserts crawl order, final seen set and span sequences are identical.
  */
final class CrawlEngine(
    spark: SparkSession,
    fixtureDir: String,
    snapshotRoot: String,
    cfg: CrawlConfig = CrawlConfig()) {

  import spark.implicits._

  val store = new SnapshotStore(snapshotRoot, spark.sparkContext.hadoopConfiguration)

  // Explicit schemas for every per-round snapshot read: parquet schema
  // inference re-reads footers each round (extra driver round-trips and
  // jobs, some inside the concurrent-sink futures) for schemas the
  // engine itself wrote and knows statically.
  private val frontierSchema = "url_canon STRING, url_hash BIGINT, host STRING, depth INT"
  private val seenSchema = "url_hash BIGINT, url_canon STRING, first_round INT"
  private val hostReadySchema = "host STRING, ready_ts BIGINT, delay_ms BIGINT"
  private val fetchLogSchema = "seq BIGINT, url_canon STRING, url_hash BIGINT, host STRING, " +
    "depth INT, round INT, rn INT, fetch_ts BIGINT, status STRING, doc_id STRING"
  private val tombSchema = "url_hash BIGINT, retire_round INT"

  import CrawlEngine.{AutoExpireKeepLast, BloomFpp, SeenState, SnapshotWriteFiles}

  /** Frames persisted for the engine's lifetime — released by [[close]]
    * so a finished crawl leaves no cached data behind (the round-2 q09
    * bench leaked these into every query benched after it). */
  private val lifetimeCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def keep(df: DataFrame): DataFrame = {
    lifetimeCaches += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Release the engine's long-lived caches (hosting/docs/robots/delays).
    * Safe to call once the crawl is done: every public accessor
    * (fetchLog/seen/spansEmitted) reads committed snapshot parquet. */
  def close(): Unit = {
    lifetimeCaches.foreach(_.unpersist(false))
    lifetimeCaches.clear()
  }

  // ---- static inputs (read once, partitioned once, reused every round) --

  /** Simulated web: canonical URL hash → (host, doc, status). */
  private lazy val hosting: DataFrame =
    CrawlEngine.hostingBucketed(spark, fixtureDir, cfg.partitions)

  /** The interleaved corpus (the binding input table, BASELINE.json:15). */
  private lazy val docs: DataFrame =
    CrawlEngine.docsBucketed(spark, fixtureDir, cfg.partitions)

  /** robots rules are tiny (≤ hosts × rules/host) — collected once and
    * broadcast; the allow decision is Google-style longest-prefix-match
    * (graft.urls.RobotsMatch, shared with the oracle). */
  private lazy val robotsIndex = new RobotsIndex(
    CorpusGen.robots(spark, fixtureDir)
      .select("host", "allow", "path_prefix")
      .collect()
      .groupBy(_.getString(0))
      .map { case (h, rs) => h -> rs.map(r => (r.getBoolean(1), r.getString(2))) })

  /** (host, delay_ms) — a DISTRIBUTED aggregate of the robots table, so
    * robotsViaJoin mode never funnels O(#hosts) through the driver. */
  private lazy val delaysDf: DataFrame =
    keep(CorpusGen.robots(spark, fixtureDir)
      .groupBy("host").agg(max("crawl_delay_ms").as("delay_ms")))

  /** The rules as a Dataset — the robotsViaJoin path never collects them. */
  private lazy val robotsRulesDf: DataFrame =
    keep(CorpusGen.robots(spark, fixtureDir)
      .select("host", "allow", "path_prefix"))

  /** Catalog name of the bucketed seen base (per snapshot root). */
  private val baseTableName =
    s"graft_seen_${java.lang.Integer.toHexString(snapshotRoot.hashCode)}"

  /** (Re)write the bucketed+sorted seen base for `round` from `df` and
    * register it as the base table. Returns the qualified base path. */
  private def writeSeenBase(round: Int, df: DataFrame): String = {
    // unique path: a split-brain loser's compaction must never delete or
    // overwrite a base file the winner's manifest references
    val bp = store.qualified(store.uniquePath(round, "seen_base"))
    spark.sql(s"DROP TABLE IF EXISTS $baseTableName")
    // repartition on url_hash matches the bucket hash → one file per
    // bucket, so the bucketed scan is both exchange- and sort-free
    df.repartition(cfg.partitions, col("url_hash"))
      .write.format("parquet")
      .bucketBy(cfg.partitions, "url_hash").sortBy("url_hash")
      .option("path", bp)
      .saveAsTable(baseTableName)
    bp
  }

  // ---- public API ------------------------------------------------------

  /** Fresh crawl from the seed list; wipes any previous snapshots. */
  def runFresh(maxRounds: Int = Int.MaxValue): CrawlSummary = {
    store.wipe()
    initRound0()
    loop(maxRounds)
  }

  /** Resume from the last committed snapshot (BASELINE.json:14). */
  def resume(maxRounds: Int = Int.MaxValue): CrawlSummary = loop(maxRounds)

  /** Retire a host from the crawl state (robots revocation, takedown).
    * INCREMENTAL since round 4: instead of rewriting the whole seen base
    * (O(|seen|) at every retire — a full-table rewrite per takedown at
    * 10^10 URLs), the retire writes a TOMBSTONE delta
    * (url_hash, retire_round) of just the host's live URLs. A seen row is
    * live iff no tombstone with `first_round < retire_round` masks it —
    * the round-aware condition makes re-discovery natural: a later
    * re-crawl inserts a fresh delta row with first_round >= retire_round,
    * which no existing tombstone can mask. Tombstones ride the manifest
    * (`tombstone_paths`), mask the seen side of every subsequent round's
    * anti-join (SeenSet.newUrls) and of [[seen]], and are folded into the
    * base — then cleared — at the next scheduled compaction.
    *
    * Shards: cuckoo supports true deletion, so the host's hashes are
    * deleted in place (O(retired)); bloom shards stay untouched — a
    * retired hash still probes maybe-seen and the exact phase's tombstone
    * mask resolves it, so the no-false-negative invariant holds trivially
    * and no O(|seen|) rebuild happens. Host-ready is likewise untouched
    * (the manifest points back at the parent round's file): politeness
    * state is host metadata, and keeping the clock means a re-discovered
    * host can never violate its crawl delay.
    *
    * Total cost: O(host's URLs + P) — the VERDICT round-3 bar — plus an
    * O(frontier) filter of the in-flight queue. Commits a new snapshot
    * round with no fetch log; the crawl stays resumable. Returns the
    * number of retired URLs. */
  def retireHost(host: String): Long = {
    // this commit re-stamps `partitions` — a mismatched retire would
    // both corrupt the bucket-aligned anti-join AND overwrite the very
    // field resume's own check reads, masking the corruption (review
    // finding); both pointers resolve before anything is written
    val entry = liveEntry("retire")
    val frontierP = store.frontierPathOf(entry)
    val hostReadyP = store.hostReadyPathOf(entry)
    val round = entry("round").asInstanceOf[Number].intValue()
    val next = round + 1
    val seenPaths = store.pathsOf(entry, "seen_paths")
    val tombPaths = store.pathsOf(entry, "tombstone_paths")
    val liveBlooms = store.pathsOf(entry, "bloom_paths").toArray
    // live rows only: the tombstone mask covers earlier retires, so
    // retiredCount never double-counts across repeated retires
    val retired = seenFrom(seenPaths, tombPaths)
      .filter(graft.functions.host_of(col("url_canon")) === host)
      .select(col("url_hash"), lit(next).as("retire_round"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val retiredCount = retired.count()
    val tombP = store.uniquePath(next, "tombstones")
    retired.coalesce(SnapshotWriteFiles)
      .write.mode("overwrite").parquet(tombP)
    // count rides the write (single pass): re-reading the just-written
    // parquet purely for the manifest row count was a second full scan
    // of the frontier per takedown (review finding)
    val frontObs = new org.apache.spark.sql.Observation(s"retire-front-$next")
    val retFrontP = store.uniquePath(next, "frontier")
    spark.read.schema(frontierSchema).parquet(frontierP)
      .filter(col("host") =!= host)
      .observe(frontObs, count(lit(1)).as("n"))
      .coalesce(SnapshotWriteFiles)
      .write.mode("overwrite").parquet(retFrontP)
    val frontierRows =
      Option(frontObs.get("n")).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
    val bloomPaths: Array[String] =
      if (cfg.seenFilter == "cuckoo")
        SeenSet.retireFromShards(spark, retired.select("url_hash"),
          new BloomShardReader(liveBlooms, store.confSer),
          store.bloomsDir(next), cfg.partitions)
      else liveBlooms
    // per-partition lineage = NEGATIVE per-bucket retired counts, so the
    // per-bucket running sum over all rounds equals the live per-bucket
    // seen counts at every round (the contract entryJson documents;
    // pinned by the retire spec). O(retired), not O(|seen|).
    val lineage = bucketCounts(retired).map(n => -n)
    retired.unpersist(false)
    // metricOf getOrDefault's missing keys to 0.0 (a pre-round-2 manifest
    // entry without fetched_total NPE'd the raw cast chain here)
    val fetchedTotal = store.metricOf(entry, "fetched_total")
    store.commit(store.entryJson(next, round,
      Map("frontier" -> frontierRows, "seen_delta" -> 0L, "fetchlog" -> 0L),
      lineage,
      Map("fetched_total" -> fetchedTotal, "retired" -> retiredCount.toDouble),
      seenPaths, bloomPaths.toSeq, cfg.partitions,
      tombstonePaths = tombPaths :+ tombP,
      hostReadyPath = Some(hostReadyP),
      frontierPath = Some(retFrontP)))
    retiredCount
  }

  /** Full crawl order: the fetch log of all committed rounds, in global
    * (round, fetch_ts, host, url_hash) order == seq order. */
  def fetchLog(): DataFrame = {
    // every entry's fetchlog_path pointer (SnapshotStore.fetchLogsOf) —
    // the same set history() exposes and expireRounds protects
    val paths = store.fetchLogsOf(store.readManifest()).flatten
    // schema-carrying empty frame, not spark.emptyDataFrame: callers
    // (spansEmitted, oracle comparisons) select fetch-log columns and
    // must get zero rows, not UNRESOLVED_COLUMN (review finding)
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(fetchLogSchema))
    spark.read.schema(fetchLogSchema).parquet(paths: _*)
  }

  /** Queryable snapshot history — one row per committed round with the
    * per-partition lineage, metrics and file references (the Iceberg
    * `.snapshots` metadata-table analogue; see [[SnapshotHistory]]). */
  def history(): DataFrame = SnapshotHistory(spark, store)

  /** The authoritative (exact) seen set: the live (compacted base +
    * delta) files of the last committed round, minus any un-compacted
    * retire tombstones (round-aware mask — see [[retireHost]]). Both
    * path lists come from ONE manifest read: two independent liveX()
    * calls can straddle a concurrent commit and pair round N's seen
    * files with round N+1's cleared tombstone list, resurfacing retired
    * URLs in a live reader (review finding). */
  def seen(): DataFrame = store.readManifest().lastOption match {
    case Some(e) => seenFrom(store.pathsOf(e, "seen_paths"),
      store.pathsOf(e, "tombstone_paths"))
    case None => seenFrom(Seq.empty, Seq.empty)
  }

  /** Time travel: the exact seen set AS OF committed round `r` — read
    * straight off round r's manifest entry (its seen_paths + tombstone
    * mask), no reconstruction or replay. Every manifest entry is a full
    * Iceberg-style snapshot, so this is O(that round's live files).
    * Fails if round r was never committed, or if its data files were
    * dropped by [[SnapshotStore.expireRounds]] (expiry keeps the last
    * `keepLast` rounds' files — the same trade Iceberg's
    * expire_snapshots makes). */
  def seenAsOf(r: Int): DataFrame = {
    val e = store.entryFor(r).getOrElse(
      throw new IllegalArgumentException(
        s"round $r has no committed manifest entry " +
          s"(committed: ${store.committedRounds().mkString(",")})"))
    seenFrom(store.pathsOf(e, "seen_paths"), store.pathsOf(e, "tombstone_paths"))
  }

  private def seenFrom(seenPaths: Seq[String], tombPaths: Seq[String]): DataFrame = {
    val all = spark.read.schema(seenSchema).parquet(seenPaths: _*)
    tombPaths match {
      case Seq() => all
      case tp =>
        SeenSet.maskTombstones(all, spark.read.schema(tombSchema).parquet(tp: _*))
    }
  }

  /** Ordered span sequences of every fetched ok document — the
    * byte-for-byte output invariant (BASELINE.json:15). */
  def spansEmitted(): DataFrame =
    fetchLog().filter(col("status") === "ok")
      .select("doc_id")
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), posexplode(col("spans")))
      .select(col("doc_id"), col("pos").as("span_idx"),
        col("col.kind").as("kind"), col("col.text").as("text"),
        col("col.media_ref").as("media_ref"), col("col.offset").as("offset"))

  // ---- round 0 ---------------------------------------------------------

  private def initRound0(): Unit = {
    // unique data paths throughout (store.uniquePath): the manifest entry
    // carries every path it references, so no commit attempt can ever
    // overwrite another attempt's committed files (split-brain safety —
    // see SnapshotStore.commit)
    val frontierP = store.uniquePath(0, "frontier")
    val deltaP = store.uniquePath(0, "seen_delta")
    val hostReadyP = store.uniquePath(0, "hostready")
    val seeds = CorpusGen.seeds(spark, fixtureDir)
      .select(canonicalize_url(col("url_canon")).as("url_canon"))
      .withColumn("url_hash", xxhash64(col("url_canon")))
      .withColumn("host", host_of(col("url_canon")))
      .withColumn("depth", lit(0))
    seeds.write.mode("overwrite").parquet(frontierP)
    val delta = spark.read.schema(frontierSchema).parquet(frontierP)
      .select(col("url_hash"), col("url_canon"), lit(0).as("first_round"))
    delta.write.mode("overwrite").parquet(deltaP)
    val (bloomPaths, lineage) =
      SeenSet.buildShards(spark,
        spark.read.schema(seenSchema).parquet(deltaP).select("url_hash"),
        None, store.bloomsDir(0), cfg.partitions, cfg.bloomShardCapacity, BloomFpp,
        cfg.seenFilter)
    // host-ready carries delay_ms (static per host) so the scheduler's
    // per-round hostMeta broadcast is a plain snapshot read — round 2
    // shuffle-joined delays ⟗ ready inside every round's broadcast future
    delaysDf.select(col("host"), lit(0L).as("ready_ts"), col("delay_ms"))
      .coalesce(SnapshotWriteFiles)
      .write.mode("overwrite").parquet(hostReadyP)
    val nSeeds = lineage.sum
    store.commit(store.entryJson(0, -1,
      Map("frontier" -> nSeeds, "seen_delta" -> nSeeds, "fetchlog" -> 0L),
      lineage, Map("fetched_total" -> 0.0), Seq(deltaP),
      bloomPaths.toSeq, cfg.partitions,
      hostReadyPath = Some(hostReadyP), frontierPath = Some(frontierP)))
  }

  private def bucketCounts(df: DataFrame): Seq[Long] = {
    val m = df.groupBy(pmod(col("url_hash"), lit(cfg.partitions.toLong)).as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until cfg.partitions).map(i => m.getOrElse(i.toLong, 0L))
  }

  // ---- the loop --------------------------------------------------------

  /** The last committed manifest entry — ONE manifest read per resume or
    * retire: two independent reads can straddle a concurrent commit and
    * pair round N's seen files with round N+1's cleared tombstone list
    * (review finding), so everything the caller needs derives from this
    * one entry. Fails fast on a `partitions` mismatch: bucketed seen
    * files, pmod shards and lineage arrays are all laid out by it, and a
    * silent mismatch would corrupt the exact anti-join (review finding).
    * `op` names the caller in the errors. */
  private def liveEntry(op: String): Map[String, Any] = {
    val entry = store.readManifest().lastOption.getOrElse(
      throw new IllegalStateException(s"no committed snapshot to $op from"))
    val snapP = Option(entry.getOrElse("partitions", null))
      .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
    require(snapP == cfg.partitions,
      s"snapshot at $snapshotRoot was written with partitions=$snapP; " +
        s"$op requires the same (config has ${cfg.partitions})")
    entry
  }

  private def loop(maxRounds: Int): CrawlSummary = {
    val resumeEntry = liveEntry("resume")
    var round = resumeEntry("round").asInstanceOf[Number].intValue()
    // the round's frontier file is a unique path carried by the manifest
    // (split-brain safety) — threaded through the loop: each round's sink
    // picks a fresh unique path and the next round reads it. Host-ready
    // likewise (a retire round points back at its parent's file instead
    // of copying O(#hosts) rows). Both resolve before any side effect.
    var frontierPathCur = store.frontierPathOf(resumeEntry)
    var hostReadyDf =
      spark.read.schema(hostReadySchema).parquet(store.hostReadyPathOf(resumeEntry))
    val seenPaths0: Seq[String] = store.pathsOf(resumeEntry, "seen_paths")
    // The compacted seen base lives as a BUCKETED (by url_hash, sorted)
    // external table: the exact anti-join's big side then scans
    // bucket-aligned with NO exchange and NO sort every round — the
    // cross-round shuffle reuse SURVEY §4 promises. Deltas since the
    // last compaction stay plain parquet (small → broadcast anti-joins).
    // Classified by the file's own name (uniquePath's `seen_base-<id>`),
    // never by a substring of the whole path: a snapshot root whose path
    // contains "/seen_base" would otherwise match every seen file.
    def isBasePath(p: String): Boolean =
      new org.apache.hadoop.fs.Path(p).getName.startsWith("seen_base")
    val basePath0: Option[String] = seenPaths0.find(isBasePath)
    // Re-register the base table from the MANIFEST's path unconditionally
    // (review finding): a crash between compaction's DROP+saveAsTable and
    // store.commit leaves a catalog table pointing at an UNCOMMITTED base
    // that contains the rolled-back round's delta — resuming against it
    // would silently drop re-discovered URLs. The manifest is the only
    // source of truth for what is committed.
    spark.sql(s"DROP TABLE IF EXISTS $baseTableName")
    basePath0.foreach { bp =>
      spark.sql(s"CREATE TABLE $baseTableName (url_hash BIGINT, url_canon STRING, " +
        s"first_round INT) USING PARQUET CLUSTERED BY (url_hash) " +
        s"SORTED BY (url_hash) INTO ${cfg.partitions} BUCKETS " +
        s"LOCATION '${store.qualified(bp)}'")
    }
    val bloomPaths0 = store.pathsOf(resumeEntry, "bloom_paths").toArray
    require(bloomPaths0.length == cfg.partitions,
      s"snapshot has ${bloomPaths0.length} seen-filter shards but config expects " +
        s"${cfg.partitions} (snapshot written without shards, or partitions changed)")
    val bloomReader0 = new BloomShardReader(bloomPaths0, store.confSer)
    var fetchedSoFar = resumeEntry("metrics")
      .asInstanceOf[java.util.Map[String, Any]]
      .get("fetched_total").asInstanceOf[Number].longValue()
    var frontierRows = resumeEntry("rows")
      .asInstanceOf[java.util.Map[String, Any]]
      .get("frontier").asInstanceOf[Number].longValue()
    var roundsRun = 0

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration.Inf
    import scala.concurrent.ExecutionContext.Implicits.global

    // ---- pipelined round tail (round-4 critical-path cut) ----
    // Round R's shard build, seen-base compaction, fetch-log join, commit
    // and cache release do not feed anything until round R+1's seen-probe
    // DEFINITION — so they run in `tail`, CONCURRENT with round R+1's
    // schedule + fetch-join materialization (the round's biggest serial
    // job). The seen-set state the probe needs threads through the
    // future's value instead of mutable vars, so there is no cross-thread
    // state to race on; the main path joins `tail` right before it
    // defines the probe. `frontierReady` gates the NEXT round's frontier
    // read on the sink that writes it (the sink itself is joined in the
    // tail before any cache it scans is released).
    var tail: Future[SeenState] =
      Future.successful(SeenState(seenPaths0, basePath0, bloomReader0,
        store.pathsOf(resumeEntry, "tombstone_paths")))
    var frontierReady: Future[Unit] = Future.successful(())

    // The round plans are hand-shaped (explicit partition counts, salting,
    // broadcast hints); AQE's per-stage re-planning only adds job-barrier
    // latency to the many small per-round jobs, so it is suspended for
    // the loop and restored after (~10% wall-time at the bench tier).
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    var mainErr: Throwable = null
    try {
      while (roundsRun < maxRounds && fetchedSoFar < cfg.totalBudget && step()) {
        roundsRun += 1
      }
    } catch {
      case t: Throwable => mainErr = t; throw t
    } finally {
      // the last round's tail must land (commit durability) even if a
      // round throws; a tail failure surfaces on the Await — UNLESS a
      // main-path failure is already propagating, in which case it is
      // suppressed onto it instead of replacing it (a bare try/finally
      // would discard the root cause per JVM semantics; review finding).
      // The `ne` guard matters: when the main path failed BECAUSE it
      // awaited this same failed tail inside step(), re-awaiting it here
      // rethrows the very same instance, and addSuppressed(self) throws.
      try Await.result(tail, Inf)
      catch {
        case tailErr: Throwable =>
          if (mainErr == null) throw tailErr
          else if (tailErr ne mainErr) mainErr.addSuppressed(tailErr)
      }
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }

    def step(): Boolean = {
      if (frontierRows == 0L) { Await.result(tail, Inf); return false }
      val t0 = System.nanoTime()
      // this round's frontier file was written by the previous round's
      // sink future; its data (carried/newUrls caches) is guaranteed live
      // until the previous tail joins the sink — here we only need the
      // FILE, so this await is all the read depends on
      Await.result(frontierReady, Inf)
      val frontier = spark.read.schema(frontierSchema).parquet(frontierPathCur)

      // P4: robots filter — longest-prefix-match via a codegen'd
      // expression over the compiled rule index (no UDF in the hot
      // path), or the Dataset-join path when the rule table outgrows
      // task serialization (cfg.robotsViaJoin — 10^7+ hosts)
      val allowedNoPrio =
        if (cfg.robotsViaJoin)
          RobotsJoin.filterAllowed(frontier, robotsRulesDf)
        else frontier
          .withColumn("__allowed", Shim.col(RobotsAllows(
            Shim.expr(col("host")), Shim.expr(col("url_canon")), robotsIndex)))
          .filter(col("__allowed")).drop("__allowed")
      // priority mode: per-URL priority = canonical-URL code-point
      // length, a pure function of url_canon recomputed at schedule
      // time ([PINNED] — CrawlConfig.priorityByUrlLen; Spark `length`
      // counts code points, mirrored by codePointCount in
      // CrawlOracle.prioOf).
      val allowedPrio =
        if (cfg.priorityByUrlLen)
          allowedNoPrio.withColumn("prio", length(col("url_canon")))
        else allowedNoPrio

      // The salted scheduler scans the allowed frontier twice (rank +
      // offsets branches). That is fine for the broadcast-robots codegen
      // filter (a scan + filter), but in web-scale join mode it would
      // re-execute the whole RobotsJoin dropDuplicates + join + agg +
      // semi-join subtree per branch (review finding) — so that mode
      // caches it once.
      val allowedCache =
        if (cfg.robotsViaJoin) Some(allowedPrio.persist(StorageLevel.MEMORY_AND_DISK))
        else None
      val allowed = allowedCache.getOrElse(allowedPrio)

      // W1: per-host politeness schedule (skew-safe salted rank)
      // hostMeta comes straight from the host-ready snapshot (which
      // carries delay_ms since round 3); defaults applied at use site
      val hostMeta = hostReadyDf.select(col("host"), col("delay_ms"), col("ready_ts"))
      // NOTE on row-count metrics: rounds 2-3 rode them on Observations
      // (CollectMetrics) inside the round's plans. That is sound ONLY on
      // a single-consumer edge materialized by exactly one stage; any
      // metered subtree under a multi-consumer cache (or under
      // GlobalOrder's rank+offsets fan-out) fires once PER CONSUMING
      // STAGE — the committed diag manifests showed carried=-scheduled
      // every round from exactly this. schedAll/within counts now come
      // from one exact aggregate over the hot schedAll cache after the
      // round's single materialization (same pattern as candCount).
      // In web-scale mode (robotsViaJoin) hostMeta is O(#hosts), so the
      // scheduler joins it distributed instead of broadcasting it.
      val schedAll = Scheduler.salted(allowed, hostMeta, CrawlConfig.DefaultDelayMs,
          broadcastMeta = !cfg.robotsViaJoin, usePrio = cfg.priorityByUrlLen)
        .persist(StorageLevel.MEMORY_AND_DISK)

      val carried = schedAll.filter(col("rn") > cfg.perHostPerRound)
        .select("url_canon", "url_hash", "host", "depth")
      val withinHostCap = schedAll.filter(col("rn") <= cfg.perHostPerRound)

      // O1/O2: global crawl order + budget truncation. The rank is
      // REQUIRED output semantics (the fetch log's seq) — but with an
      // unbounded budget it doesn't change WHICH rows fetch, so seq
      // assignment moves into the fetch-log sink's future (off the
      // critical path: no range exchange, no sampling job, no pinned
      // layout cache in the round's one big materialization). Everything
      // upstream orders by the raw (fetch_ts, host, url_hash) key — which
      // is exactly the total order seq ranks ([PINNED], CrawlOracle:67),
      // so the intra-round dedup picks the identical winner. A finite
      // budget must truncate BEFORE the fetch join (budget-dropped rows
      // are never fetched and never advance host-ready), so there the
      // rank stays on the critical path; tests pin both paths to the
      // sequential oracle and to each other.
      val budgetActive = cfg.totalBudget != Long.MaxValue
      val schedObs = new org.apache.spark.sql.Observation(s"sched-r$round")
      val (sched, schedSeqCleanup) =
        if (budgetActive) {
          // withSeqCached pins ONE range layout (and one execution of the
          // scheduler subtree) for the rank + offsets branches; released
          // right after the fetched cache (its only consumer) materializes
          val (schedSeq, cl) = GlobalOrder.withSeqCached(withinHostCap,
            Seq(col("fetch_ts"), col("host"), col("url_hash")), "seq", fetchedSoFar)
          (schedSeq.filter(col("seq") <= cfg.totalBudget)
            .observe(schedObs, count(lit(1)).as("n")), cl)
        } else (withinHostCap, () => ())

      // J3: simulated fetch → fetch-log sink (1st heavy action)
      val fetchObs = new org.apache.spark.sql.Observation(s"fetch-r$round")
      val fetched = sched.join(
          hosting.select(col("page_hash"), col("doc_id"), col("status")),
          sched("url_hash") === col("page_hash"), "left")
        .drop("page_hash")
        // media URLs resolve to no hosting row by design (assets, not
        // pages): status "media", never "missing" — only in media mode so
        // the default plan stays byte-identical
        .withColumn("status", coalesce(col("status"),
          if (cfg.followMedia)
            when(col("url_canon").startsWith("media://"), lit("media"))
              .otherwise(lit("missing"))
          else lit("missing")))
        .withColumn("doc_id", coalesce(col("doc_id"), lit("")))
        .withColumn("round", ref_int(round))
        .observe(fetchObs,
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("ok"),
          (Seq(
            sum(when(col("status") === "404", 1L).otherwise(0L)).as("s404"),
            sum(when(col("status") === "missing", 1L).otherwise(0L)).as("missing")) ++
            (if (cfg.followMedia)
              Seq(sum(when(col("status") === "media", 1L).otherwise(0L)).as("media"))
            else Seq.empty)): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // ONE materialization of the scheduler + GlobalOrder + fetch-join
      // chain (populates the schedAll and fetched caches, fires every
      // observation). All sinks below then scan the hot cache, so the
      // fetch-log write, the host-ready advance and the link-extraction
      // chain run CONCURRENTLY instead of serializing re-scans of the
      // same subtree behind one write action (round-3 barrier cut).
      fetched.count()

      // status metrics: ≤4 rows off the fetched cache. Denied/carried
      // come from count arithmetic (no per-host collects — round 1
      // pulled per-(host,status) counts to the driver every round).
      def obsLong(o: org.apache.spark.sql.Observation, k: String): Long =
        Option(o.get(k)).map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      // exact, race-free counts off the hot schedAll cache (one tiny
      // cache-scan job; see the metrics NOTE above the scheduler)
      val Array(schedAllCount, withinCount) = schedAll
        .agg(count(lit(1)),
          coalesce(sum(when(col("rn") <= cfg.perHostPerRound, 1L).otherwise(0L)), lit(0L)))
        .head().toSeq.map(_.asInstanceOf[Number].longValue()).toArray
      // fast path: no budget filter ⇒ scheduled = all within-cap rows
      val schedCount = if (budgetActive) obsLong(schedObs, "n") else withinCount
      if (schedCount == 0L) {
        (Seq(schedAll, fetched) ++ allowedCache).foreach(_.unpersist())
        schedSeqCleanup()
        Await.result(tail, Inf) // the previous round's commit must land
        return false
      }
      val statusCounts = Map(
        "ok" -> obsLong(fetchObs, "ok"),
        "404" -> obsLong(fetchObs, "s404"),
        "missing" -> obsLong(fetchObs, "missing")) ++
        (if (cfg.followMedia) Map("media" -> obsLong(fetchObs, "media"))
        else Map.empty)
      val deniedCount = math.max(0L, frontierRows - schedAllCount)
      // rows beyond the per-host cap carry; rows beyond the total budget
      // are dropped ([PINNED] — matches the oracle's take())
      val carriedCount = schedAllCount - withinCount
      // tripwire: the round-2/3 Observation-based counts went negative
      // here (multi-consumer double-fire); exact counts cannot, so any
      // future regression fails loud instead of corrupting the manifest
      // and the frontierRows termination gate
      require(carriedCount >= 0,
        s"carried=$carriedCount < 0: schedAll counts are inconsistent")
      // legacy budget path: fetched is materialized and its seq values
      // are pinned in the cache — the rank layout has no consumers left
      if (budgetActive) schedSeqCleanup()
      val offsetAtRound = fetchedSoFar
      // `round` is a mutable loop var the main path reassigns at the
      // bottom of step(); this future's await moved into the async tail,
      // so its body can run AFTER that reassignment — capture the value
      // NOW or round R's fetch log lands in round R+1's directory
      // (review finding: a busy ExecutionContext delayed the body past
      // `round = next`, silently losing a full round of crawl output)
      val thisRound = round
      val fetchLogP = store.uniquePath(thisRound, "fetchlog")
      val fetchLogFut = Future {
        // fast path: seq is assigned HERE, over the hot fetched cache —
        // the whole GlobalOrder subtree (range-partitioner sampling job,
        // range exchange, offsets window, pinned layout cache) rides the
        // sink future and hides under the main path's extraction chain
        val (logFrame, seqCleanup) =
          if (budgetActive) (fetched, () => ())
          else GlobalOrder.withSeqCached(fetched,
            Seq(col("fetch_ts"), col("host"), col("url_hash")), "seq", offsetAtRound)
        // finally: a failed write must still release the pinned range-
        // layout cache, or a caller that catches the crawl failure and
        // keeps the session (Bench does) carries the leak into every
        // subsequent query (review finding)
        try logFrame.select("seq", "url_canon", "url_hash", "host", "depth", "round",
            "rn", "fetch_ts", "status", "doc_id")
          .coalesce(SnapshotWriteFiles)
          .write.mode("overwrite").parquet(fetchLogP)
        finally seqCleanup()
      }

      // host-ready advance: ready' = ready + fetched_this_round * delay —
      // a Dataset job over the fetched cache, written to the snapshot (no
      // driver map). Independent of the link-extraction chain, so it runs
      // CONCURRENTLY with it (Spark schedules jobs from multiple threads;
      // the small sink hides under the big extraction job).
      val next = round + 1
      val hostReadyP = store.uniquePath(next, "hostready")
      val hostReadyFut = scala.concurrent.Future {
        val perHostAdd = fetched.groupBy("host").agg(count(lit(1)).as("cnt"))
          .join(broadcast(delaysDf), Seq("host"), "left")
          .select(col("host"),
            (col("cnt") * coalesce(col("delay_ms"), lit(CrawlConfig.DefaultDelayMs))).as("v"),
            col("delay_ms"))
        // SnapshotWriteFiles-way, not coalesce(1): host-ready is O(#hosts)
        // rows — one task would be a GB-scale single-task write at the
        // 10^7–10^8-host scale (review finding)
        hostReadyDf.select(col("host"), col("ready_ts").as("v"), col("delay_ms"))
          .unionByName(perHostAdd)
          .groupBy("host").agg(sum(col("v")).as("ready_ts"),
            max(col("delay_ms")).as("delay_ms"))
          .coalesce(SnapshotWriteFiles)
          .write.mode("overwrite").parquet(hostReadyP)
      }(scala.concurrent.ExecutionContext.global)

      // X1/X2/X3: parse-extract-canonicalize, all inside one codegen stage
      val okDocs = fetched.filter(col("status") === "ok" && col("doc_id") =!= "")
      val spansExploded = okDocs
        .join(docs, Seq("doc_id"))
        .select(col("fetch_ts"), col("host").as("src_host"),
          col("url_hash").as("src_hash"),
          col("url_canon").as("base_url"), col("depth"),
          posexplode(col("spans")).as(Seq("span_idx", "span")))
      // Media-follow (cfg.followMedia, [PINNED] — see CrawlConfig): media
      // spans contribute their media_ref verbatim at link_pos 0; stays ONE
      // codegen pass (the `when` folds both kinds into one posexplode —
      // no second docs scan, no union). Default path is byte-identical to
      // the text-only form.
      val links0 =
        if (!cfg.followMedia)
          spansExploded
            .filter(col("span.kind") === "text")
            .select(col("fetch_ts"), col("src_host"), col("src_hash"),
              col("base_url"), col("depth"),
              col("span_idx"), posexplode(extract_urls(col("span.text"))).as(Seq("link_pos", "raw")))
            .withColumn("link_canon", canonicalize_url(col("raw"), col("base_url")))
        else
          spansExploded
            .select(col("fetch_ts"), col("src_host"), col("src_hash"),
              col("base_url"), col("depth"),
              col("span_idx"), col("span.kind").as("kind"),
              posexplode(
                when(col("span.kind") === "text", extract_urls(col("span.text")))
                  .otherwise(array(col("span.media_ref")))).as(Seq("link_pos", "raw")))
            .withColumn("link_canon",
              when(col("kind") === "text", canonicalize_url(col("raw"), col("base_url")))
                .otherwise(when(col("raw").startsWith("media://") &&
                  host_of(col("raw")) =!= "", col("raw"))))
            .drop("kind")
      val links = links0
        .filter(col("link_canon").isNotNull)
        .filter(col("depth") + 1 <= cfg.maxDepth)

      // J5: intra-round dedup — first discovery wins [PINNED: min
      // (fetch_ts, src_host, src_hash, span_idx, link_pos) — the crawl-
      // order tuple that seq RANKS (CrawlOracle:67), so the winner is
      // identical to the former min-by-seq form without consuming seq
      // (which the fast path assigns on the sink future, off the critical
      // path). Costs ~25 B/candidate more partial-agg state than the
      // seq form; string comparison is UTF8 binary order, the same order
      // the rank's orderBy(host) uses. The explicit pmod repartition
      // serves the groupBy (pmod(url_hash) clusters url_hash) AND
      // co-locates candidates with their bloom shard for the probe.
      val cand = links
        .withColumn("url_hash", xxhash64(col("link_canon")))
        .withColumn("__b", pmod(col("url_hash"), lit(cfg.partitions.toLong)))
        .repartition(cfg.partitions, col("__b"))
        .groupBy(col("__b"), col("url_hash"))
        .agg(min(struct(col("fetch_ts"), col("src_host"), col("src_hash"),
          col("span_idx"), col("link_pos"),
          col("link_canon"), col("depth"))).as("f"))
        .select(col("url_hash"), col("f.link_canon").as("url_canon"),
          host_of(col("f.link_canon")).as("host"),
          (col("f.depth") + 1).as("depth"))

      // join the PREVIOUS round's tail: its shard build, compaction and
      // commit overlapped this round's schedule+fetch materialization
      // above; the probe below is the first thing that needs its output
      val st = Await.result(tail, Inf)

      // J1: two-phase seen-set dedup (shard-aligned bloom prefilter +
      // exact anti-joins: small deltas first, bucketed base last)
      val deltaPaths = st.seenPaths.filterNot(isBasePath)
      val seenParts =
        (if (deltaPaths.nonEmpty)
          Seq(spark.read.schema(seenSchema).parquet(deltaPaths: _*)) else Seq.empty) ++
          st.basePath.map(_ => spark.table(baseTableName)).toSeq
      val tombDf =
        if (st.tombPaths.isEmpty) None
        else Some(spark.read.schema(tombSchema).parquet(st.tombPaths: _*))
      val (newUrlsDf, probeCleanup, candCountThunk) =
        SeenSet.newUrls(spark, cand, seenParts, Some(st.bloomReader), tombDf)
      val newUrls = newUrlsDf.persist(StorageLevel.MEMORY_AND_DISK)

      // ---- commit round R+1 snapshot ----
      // likewise uncoalesced: materializes the extraction + probe chain
      val deltaP = store.uniquePath(next, "seen_delta")
      val delta = newUrls
        .select(col("url_hash"), col("url_canon"), ref_int(next).as("first_round"))
      delta.write.mode("overwrite").parquet(deltaP)
      // exact count off the hot probe-stage cache (an Observation on
      // `cand` can double-fire on racing cache materialization in
      // distributed runs, inflating the headline metric; review finding)
      val candCount = candCountThunk.get()
      // exact new-URL count off the hot cache (the shard build that used
      // to supply it via lineage.sum now runs in the pipelined tail)
      val newCount = newUrls.count()
      // frontier sink depends only on the schedAll/newUrls caches — it
      // overlaps the tail's shard build; the NEXT round's frontier read
      // gates on it via frontierReady
      val frontierP = store.uniquePath(next, "frontier")
      val frontierFut = Future {
        carried.unionByName(newUrls.select("url_canon", "url_hash", "host", "depth"))
          .coalesce(SnapshotWriteFiles)
          .write.mode("overwrite").parquet(frontierP)
      }
      // host-ready feeds the NEXT round's scheduler definition on the
      // main path, so it is joined here (cheap: launched right after the
      // fetched materialization, it has been running under the whole
      // extraction chain)
      Await.result(hostReadyFut, Inf)
      hostReadyDf = spark.read.schema(hostReadySchema).parquet(hostReadyP)

      fetchedSoFar += schedCount
      val frontierRowsNext = carriedCount + newCount
      frontierRows = frontierRowsNext
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      val metrics = Map(
        "fetched_total" -> fetchedSoFar.toDouble,
        "scheduled" -> schedCount.toDouble,
        "fetched_ok" -> statusCounts.getOrElse("ok", 0L).toDouble,
        "fetched_404" -> statusCounts.getOrElse("404", 0L).toDouble,
        "fetched_missing" -> statusCounts.getOrElse("missing", 0L).toDouble,
        "fetched_media" -> statusCounts.getOrElse("media", 0L).toDouble,
        "robots_denied" -> deniedCount.toDouble,
        "candidates" -> candCount.toDouble,
        "new_urls" -> newCount.toDouble,
        "carried" -> carriedCount.toDouble,
        "round_sec" -> elapsedSec,
        "urls_per_sec" -> ((schedCount + candCount) / math.max(elapsedSec, 1e-9)))

      // ---- pipelined tail: shard build + compaction + sink joins +
      // commit + cache release. Runs CONCURRENTLY with the next round's
      // schedule + fetch-join materialization; the next round joins it
      // before defining its seen probe. Captures only immutable locals —
      // no loop var is touched off-thread (thisRound was pinned above,
      // before fetchLogFut, for the same reason).
      val roundCaches = Seq(schedAll, fetched, newUrls) ++ allowedCache
      tail = Future {
        // per-partition lineage comes for free from the executor-side
        // bloom-shard build (same pmod(url_hash, P) sharding); input is
        // the hot newUrls cache
        val (bloomPaths, lineage) =
          SeenSet.buildShards(spark, newUrls.select("url_hash"), Some(st.bloomReader),
            store.bloomsDir(next), cfg.partitions, cfg.bloomShardCapacity, BloomFpp,
            cfg.seenFilter)
        val nextReader = new BloomShardReader(bloomPaths, store.confSer)
        // join the frontier sink BEFORE compaction: writeSeenBase runs
        // DROP TABLE on the old base, and DropTableCommand uncaches
        // dependent cached plans — including the persisted newUrls frame
        // the in-flight frontier write is scanning (review finding)
        Await.result(frontierFut, Inf)
        // Iceberg-style compaction: fold the delta chain into one base
        // file once it grows past the threshold, keeping every round's
        // seen scan a bounded number of files (amortized-log rewrite).
        // Retire tombstones fold out here too — the one base rewrite
        // they were deferred to — and the tombstone list clears.
        var paths = st.seenPaths :+ deltaP
        var base = st.basePath
        var tombPaths = st.tombPaths
        if (paths.size >= cfg.seenCompactEvery) {
          val allSeen = spark.read.schema(seenSchema).parquet(paths: _*)
          val folded = tombPaths match {
            case Seq() => allSeen
            case tp =>
              SeenSet.maskTombstones(allSeen,
                spark.read.schema(tombSchema).parquet(tp: _*))
          }
          val bp = writeSeenBase(next, folded)
          paths = Seq(bp)
          base = Some(bp)
          tombPaths = Seq.empty
        }
        // join the remaining sink before committing (commit makes the
        // round visible — every file must be durable first; host-ready
        // and the seen delta were joined/written on the main path)
        Await.result(fetchLogFut, Inf)
        store.commit(store.entryJson(next, thisRound,
          Map("frontier" -> frontierRowsNext, "seen_delta" -> newCount,
            "fetchlog" -> schedCount),
          lineage, metrics, paths, bloomPaths.toSeq, cfg.partitions,
          tombstonePaths = tombPaths,
          hostReadyPath = Some(hostReadyP), frontierPath = Some(frontierP),
          fetchLogPath = Some(fetchLogP)))
        // every consumer of this round's caches has landed — release them
        roundCaches.foreach(_.unpersist())
        probeCleanup() // release the bloom probe-stage cache
        // auto-expiry (opt-in): drop superseded data files now that the
        // round is committed and its caches are released
        if (cfg.expireEveryRounds > 0 && next % cfg.expireEveryRounds == 0)
          store.expireRounds(keepLast = AutoExpireKeepLast)
        SeenState(paths, base, nextReader, tombPaths)
      }
      frontierReady = frontierFut
      frontierPathCur = frontierP
      round = next
      true
    }

    // totalSeen by manifest arithmetic instead of a post-loop count job:
    // deltas are disjoint by construction (every delta is anti-joined
    // against the live seen set before insert), so |seen| = Σ seen_delta
    // rows − Σ retired (retire rounds record rows they removed).
    // EngineMatchesOracleSpec pins this equal to seen().count().
    val manifest = store.readManifest()
    val totalSeen = manifest.map(e =>
        e("rows").asInstanceOf[java.util.Map[String, Any]]
          .getOrDefault("seen_delta", java.lang.Long.valueOf(0L))
          .asInstanceOf[Number].longValue()).sum -
      manifest.map(e => store.metricOf(e, "retired").toLong).sum
    CrawlSummary(round, fetchedSoFar, totalSeen, snapshotRoot)
  }
}

object CrawlEngine {

  /** Files per snapshot write (fetch log, frontier, host-ready,
    * tombstones): task-commit overhead dominates small-round writes at
    * one file per partition. */
  private val SnapshotWriteFiles = 8

  /** Target false-positive rate of every seen-filter shard. */
  private val BloomFpp = 0.01

  /** Rounds auto-expiry keeps fully resumable. Must be ≥ 2 inside a
    * running crawl: the in-flight round's persisted frames (schedAll,
    * fetched) derive from the PREVIOUS round's frontier file, and a
    * cache-eviction recompute after an executor loss would re-scan it —
    * keepLast=1 would have deleted it. (Offline expireRounds calls on a
    * quiesced snapshot may use keepLast=1.) */
  private val AutoExpireKeepLast = 2

  /** Live seen-set state produced by one round's pipelined tail and
    * consumed by the next round's probe definition (threaded through the
    * tail Future's VALUE — no mutable loop state crosses threads). */
  private[crawl] final case class SeenState(
      seenPaths: Seq[String],
      basePath: Option[String],
      bloomReader: BloomShardReader,
      tombPaths: Seq[String])

  /** One-time bucketed+sorted storage layout for a static input table
    * (round-3 design): the per-round fetch join and docs join then scan
    * vectorized parquet bucket-aligned with NO exchange, NO sort and NO
    * broadcast — the same layout the seen base uses, and the only join
    * shape that survives 10^10 URLs (neither side is broadcastable and
    * per-round re-shuffles/sorts of the corpus are pure waste). Round 2
    * held these in the columnar cache instead, paying cache
    * deserialization on every scan of every round.
    * Written once per (fixture, P) next to the fixtures (storage prep,
    * like the fixtures themselves); re-registered in fresh sessions from
    * the explicit DDL. Lives on the companion so benchmarks can run it
    * as UNTIMED input preparation ([[prepareStaticInputs]]) — a real
    * deployment ingests the corpus into its bucketed Iceberg layout once,
    * not once per crawl. `name` also names the catalog table, so it must
    * be a plain identifier (BenchFrontier's variant-multiplied hosting
    * table shares this layout code). */
  private[graft] def bucketedInput(spark: SparkSession, fixtureDir: String, partitions: Int,
                                   name: String, src: => DataFrame, key: String,
                                   ddl: String): DataFrame = {
    val store = new SnapshotStore(fixtureDir, spark.sparkContext.hadoopConfiguration)
    // GenVersion in the path: CorpusGen.ensure regenerates only the base
    // parquet on a generator bump — an unversioned bucketed copy would
    // silently keep joining against the OLD corpus (review finding)
    val loc = s"$fixtureDir/bucketed-${CorpusGen.GenVersion}-p$partitions/$name"
    val tbl = s"graft_${name}_${java.lang.Integer.toHexString(loc.hashCode)}"
    val marker = s"$loc/_BUCKETED_DONE"
    if (!store.exists(marker)) {
      store.deleteDir(loc)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      src.repartition(partitions, col(key))
        .write.format("parquet").bucketBy(partitions, key).sortBy(key)
        .option("path", store.qualified(loc)).saveAsTable(tbl)
      store.touch(marker)
    } else if (!spark.catalog.tableExists(tbl)) {
      spark.sql(s"CREATE TABLE $tbl ($ddl) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $partitions BUCKETS " +
        s"LOCATION '${store.qualified(loc)}'")
    }
    spark.table(tbl)
  }

  private[crawl] def hostingBucketed(spark: SparkSession, fixtureDir: String,
                                     partitions: Int): DataFrame =
    bucketedInput(spark, fixtureDir, partitions,
      "hosting", CorpusGen.hosting(spark, fixtureDir), "page_hash",
      "page_hash BIGINT, url_canon STRING, host STRING, doc_id STRING, status STRING")

  private[graft] def docsBucketed(spark: SparkSession, fixtureDir: String,
                                   partitions: Int): DataFrame =
    bucketedInput(spark, fixtureDir, partitions,
      "interleaved", CorpusGen.interleaved(spark, fixtureDir), "doc_id",
      "doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, " +
        "media_ref: STRING, offset: INT>>")

  /** Build (or re-register) the bucketed static-input layouts for
    * `fixtureDir` at shard count `partitions` — input/storage preparation,
    * the ingest step a deployment runs once when loading the corpus into
    * its Iceberg table. Benchmarks call this untimed, exactly like fixture
    * generation itself (the crawl's measured work starts at the frontier,
    * not at corpus ingest). */
  def prepareStaticInputs(spark: SparkSession, fixtureDir: String, partitions: Int): Unit = {
    hostingBucketed(spark, fixtureDir, partitions)
    docsBucketed(spark, fixtureDir, partitions)
  }
}

final case class CrawlSummary(rounds: Int, totalFetched: Long, totalSeen: Long, snapshotRoot: String)
