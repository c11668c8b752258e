package graft.queries

import graft.corpus.CorpusGen
import graft.crawl.{BloomShardReader, CrawlConfig, CrawlEngine, Scheduler, SeenSet}
import graft.functions.{canonicalize_url, host_of, path_of}
import graft.plans.GlobalOrder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-domain operators exposed through the driver contract, over the
  * deterministic fixture corpus (generated on demand into
  * target/fixtures/<tier>; the DuckDB oracle reads the same parquet via
  * read_parquet on the correctness-tier path — Verify always runs at
  * sf0.01, TESTDATA.md:17-18).
  */
object CrawlOps {

  type Q = (SparkSession, String) => DataFrame

  /** Correctness-tier fixture dir, embedded in oracle SQL (Verify runs
    * only at sf0.01); derived from CorpusGen so a FixtureRoot/tier-name
    * change cannot silently point the oracles at a stale directory. */
  private val FX = CorpusGen.dirFor(CorpusGen.Correctness)

  private def fx(s: SparkSession, dir: String): String = CorpusGen.ensureFor(s, dir)

  /** Flagship-crawl config: the per-host round budget is sized so the
    * Zipf-hot head host (≈20% of all pages) drains within the BFS
    * depth's natural round count — a tiny budget turns the batch model
    * into hot-host-pages / budget rounds of fixed scheduling overhead
    * (round 3 raised docs/20 → docs/6: two fewer rounds at sf0.1, each
    * ~5 s of fixed per-round cost; the crawl-result change is mirrored
    * by the golden oracle, which runs the same config). Politeness
    * (virtual fetch_ts spacing) is unaffected by the budget. Only sizes
    * are set here: every crawl runs the engine's one round shape
    * (salted schedule, broadcast robots, bloom seen-filter shards). */
  def crawlConfigFor(partitions: Int, tier: CorpusGen.Tier): CrawlConfig = {
    val perHost = math.max(2500, tier.docs / 6)
    // Partition count sized to the DATA, capped by the session's
    // parallelism — never to cores alone. At web scale this rule yields
    // far more partitions than cores (tier.docs/625 ≈ one shard per
    // ~600 URLs of corpus); at the sandbox's smoke tier it stops a
    // ~50-URL round from being sliced into 32 dispatch-dominated tasks
    // (measured at c32: smoke q09 35.2 → 19.6 s, q37 25.7 → 16.0 s with
    // p=8). The crawl result is partition-invariant (pinned by the
    // oracle-equality tests), so only wall time moves.
    val p = math.min(partitions, math.max(8, tier.docs / 625))
    CrawlConfig(maxDepth = 10, perHostPerRound = perHost, partitions = p,
      bloomShardCapacity = math.max(100000L, tier.docs.toLong))
  }

  /** A fresh crawl of `tier`'s fixture under `root/<tier>`, returned as
    * its global fetch log in crawl order. */
  private def crawlFetchLog(s: SparkSession, tier: CorpusGen.Tier, root: String,
                            cfg: CrawlConfig): DataFrame = {
    val engine = new CrawlEngine(s, CorpusGen.ensure(s, tier), s"$root/${tier.name}", cfg)
    engine.runFresh()
    engine.close() // release hosting/docs/robots caches (fetchLog reads parquet)
    engine.fetchLog()
      .select("seq", "url_canon", "host", "depth", "round", "fetch_ts", "status", "doc_id")
      .orderBy("seq")
  }

  /** Span-order-preserving packed text (newline-joined text spans in
    * span order — the [PINNED] per-row invariant), shared by q53 and
    * the q60 crawl-curation pipeline. */
  private def packedTextCol =
    array_join(
      transform(filter(col("spans"), x => x.getField("kind") === "text"),
        x => x.getField("text")), "\n")

  val queries: Map[String, Q] = Map(

    // S1/P1/S4: interleaved scan + ordered span projection (nested pruning)
    "q01_spans" -> ((s, dir) => {
      CorpusGen.interleaved(s, fx(s, dir))
        .select(col("doc_id"), posexplode(col("spans")))
        .select(col("doc_id"), col("pos").as("span_idx"),
          col("col.kind").as("kind"), col("col.media_ref").as("media_ref"),
          col("col.offset").as("offset"), md5(col("col.text")).as("text_md5"))
        .orderBy("doc_id", "span_idx")
    }),

    // X2/X3: canonicalization idempotence + xxhash64 identity vs the
    // hosting index (engine recomputes both from a case-mangled form)
    "q02_canonicalize" -> ((s, dir) => {
      CorpusGen.hosting(s, fx(s, dir))
        .select(canonicalize_url(regexp_replace(col("url_canon"), "^https", "HTTPS"))
          .as("url_canon"))
        .withColumn("url_hash", xxhash64(col("url_canon")))
        .orderBy("url_canon")
    }),

    // A1/X4: per-host page stats off recomputed hashes
    "q03_host_stats" -> ((s, dir) => {
      CorpusGen.hosting(s, fx(s, dir))
        .groupBy("host")
        .agg(countDistinct(xxhash64(col("url_canon"))).as("n_pages"),
          sum(when(col("status") === "404", 1L).otherwise(0L)).as("n_404"))
        .orderBy("host")
    }),

    // P4/J2/X6: robots disallow filter (broadcast join + prefix match)
    "q04_robots_filter" -> ((s, dir) => {
      val d = fx(s, dir)
      val hosting = CorpusGen.hosting(s, d)
      val disallow = CorpusGen.robots(s, d).filter(!col("allow"))
        .select(col("host").as("r_host"), col("path_prefix"))
      hosting
        .join(broadcast(disallow),
          col("host") === col("r_host") &&
            path_of(col("url_canon")).startsWith(col("path_prefix")),
          "left_anti")
        .select("url_canon")
        .orderBy("url_canon")
    }),

    // W1/W2: per-host politeness schedule as one round over all pages
    "q05_politeness" -> ((s, dir) => {
      val d = fx(s, dir)
      val delays = CorpusGen.robots(s, d).groupBy("host")
        .agg(max("crawl_delay_ms").as("delay_ms"))
        .withColumn("ready_ts", lit(0L))
      val frontier = CorpusGen.hosting(s, d)
        .select(col("url_canon"), col("page_hash").as("url_hash"), col("host"), lit(0).as("depth"))
      Scheduler.salted(frontier, delays, 0L)
        .filter(col("rn") <= 50)
        .select("url_canon", "host", "rn", "fetch_ts")
        .orderBy("host", "rn")
    }),

    // O1: scalable deterministic global sequencing (two-phase rank).
    // Lifecycle managed here (withSeqCached) so the RETURNED frame is the
    // one persisted thing: the caller-side unpersist of the leak contract
    // (QueriesSpec) releases it, and the internal pinned-layout cache is
    // released before returning.
    "q06_global_order" -> ((s, dir) => {
      val (seqd, cleanup) = GlobalOrder.withSeqCached(
        CorpusGen.hosting(s, fx(s, dir)).select("url_canon", "host", "page_hash"),
        Seq(col("host"), col("page_hash")), "seq")
      val out = seqd.select("url_canon", "seq").orderBy("seq").persist()
      out.count() // pin the seq values while the layout cache is live
      cleanup()
      out
    }),

    // J1 exact tier: anti-join dedup against a synthetic seen set
    "q07_seen_antijoin" -> ((s, dir) => {
      val hosting = CorpusGen.hosting(s, fx(s, dir))
        .select(col("url_canon"), col("page_hash").as("url_hash"))
      val seen = hosting.filter(pmod(col("url_hash"), lit(4)) === 0).select("url_hash")
      hosting.join(seen, Seq("url_hash"), "left_anti")
        .select("url_canon")
        .orderBy("url_canon")
    }),

    // J1 two-phase: shard-aligned bloom prefilter (codegen probe over
    // executor-resident shard files) + exact anti-join — identical result
    "q08_bloom_dedup" -> ((s, dir) => {
      val hosting = CorpusGen.hosting(s, fx(s, dir))
        .select(col("url_canon"), col("page_hash").as("url_hash"))
      val seen = hosting.filter(pmod(col("url_hash"), lit(4)) === 0)
        .select("url_hash").persist()
      val shardDir = s"target/q08-shards/${CorpusGen.tierFor(dir).name}"
      val (paths, _) = SeenSet.buildShards(s, seen, None, shardDir, 8, 200000L, 0.01)
      val (result, cleanup, _) = SeenSet.newUrls(s, hosting, Seq(seen), Some(new BloomShardReader(paths)))
      // materialize, then release the INTERNAL probe-stage + seen caches;
      // the returned frame stays persisted and ownership transfers to the
      // caller (Bench/Verify/QueriesSpec unpersist it after consuming —
      // the convention that keeps plans RDD-free while letting QueriesSpec
      // fail RED on any internal cache a query forgets to release)
      val out = result.select("url_canon").orderBy("url_canon").persist()
      out.count()
      cleanup()
      seen.unpersist(false)
      out
    }),

    // E1 flagship: the full crawl; returns the global fetch log
    "q09_crawl" -> ((s, dir) => {
      val tier = CorpusGen.tierFor(dir)
      crawlFetchLog(s, tier, "target/crawl-run",
        crawlConfigFor(s.sessionState.conf.numShufflePartitions, tier))
    }),

    // E1 media-follow variant: the crawl with media_ref spans enqueued
    // (CrawlConfig.followMedia — the asset-fetching half of an
    // interleaved text+media crawler). Pinned to the SMOKE tier
    // regardless of `dir` (like SparkEntry.entry): q09 already gates the
    // crawl at the given tier, and the media variant's correctness does
    // not need a second bench-tier crawl in every Bench run. The DuckDB
    // oracle reads the golden fixture GoldenOracles writes from the
    // sequential CrawlOracle run with the same config.
    "q37_media_crawl" -> ((s, _) =>
      crawlFetchLog(s, CorpusGen.Smoke, "target/crawl-run-media",
        crawlConfigFor(s.sessionState.conf.numShufflePartitions, CorpusGen.Smoke)
          .copy(followMedia = true))),

    // E1 priority variant: the crawl under per-URL URL-length priority
    // (CrawlConfig.priorityByUrlLen — the north star's "depth/priority"
    // min-heap key with a real priority signal: shorter URLs fetch
    // first within each host). Smoke tier + golden fixture, same wiring
    // rationale as q37.
    "q51_priority_crawl" -> ((s, _) =>
      crawlFetchLog(s, CorpusGen.Smoke, "target/crawl-run-prio",
        crawlConfigFor(s.sessionState.conf.numShufflePartitions, CorpusGen.Smoke)
          .copy(priorityByUrlLen = true))),

    // THE product path, end-to-end (q60): the crawl's OWN fetch log →
    // span-order packing (q53's packedTextCol) → MinHash+LSH near-dup
    // removal (TextOps.lshNearDupPairs + the q46/q47 components loop) →
    // model language-ID (the q58 NB kernel) → deterministic mixture
    // sample (the q49 rule). Every stage is single-sourced with its
    // standalone query; the input is what the engine itself fetched
    // (status ok), not the documents fixture. Smoke tier + golden
    // sequential fetch set, same wiring rationale as q37/q51 (no
    // second bench-tier crawl per run).
    "q60_crawl_curation" -> ((s, dir) => {
      val tier = CorpusGen.Smoke
      val d = CorpusGen.ensure(s, tier)
      val cfg = crawlConfigFor(s.sessionState.conf.numShufflePartitions, tier)
      val engine = new CrawlEngine(s, d, s"target/crawl-run-cur/${tier.name}", cfg)
      try engine.runFresh()
      finally engine.close()
      // finally-scoped releases [round-5 review]: a failure anywhere
      // mid-pipeline must not leak the persisted intermediates into the
      // session (the cache-leak gate trips on the NEXT query otherwise)
      var pairs: DataFrame = null
      var compsOpt: Option[DataFrame] = None
      try {
        val okDocs = engine.fetchLog()
          .filter(col("status") === "ok" && col("doc_id") =!= "")
          .select("doc_id").distinct()
        val packed = CorpusGen.interleaved(s, d)
          .join(okDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), packedTextCol.as("text"))
        pairs = TextOps.lshNearDupPairs(packed) // persisted; ours to release
        compsOpt =
          if (pairs.count() == 0) None // components refuse an empty edge set
          else Some(GraphOps.hostComponents(
            pairs.select(col("doc_a").as("src_host"), col("doc_b").as("dst_host"))))
        val survivors = compsOpt match {
          case None => packed
          case Some(comps) =>
            val drops = comps.filter(col("host") =!= col("component"))
              .select(col("host").as("doc_id"))
            packed.join(drops, Seq("doc_id"), "left_anti")
        }
        val langed = survivors
          .select(col("doc_id"),
            graft.functions.nb_lang_scores(TextOps.words(col("text"))).as("sc"))
          .select(col("doc_id"),
            TextOps.nbArgmax(element_at(col("sc"), 1), element_at(col("sc"), 2),
              element_at(col("sc"), 3), element_at(col("sc"), 4)).as("lang"))
        val out = TextOps.mixtureSample(langed).persist()
        out.count() // materialize BEFORE the finally releases the inputs
        out
      } finally {
        compsOpt.foreach(_.unpersist(false))
        if (pairs != null) pairs.unpersist(false)
      }
    }),

    // corpus packing / training-set export: materialize each fetchable
    // (status ok) document as one training row — text spans joined in
    // span order, media refs preserved as an ordered sidecar column,
    // token count for mixture/packing accounting. The step that turns a
    // crawl's output into model input. Span order is the [PINNED]
    // per-row invariant, so packing uses ORDER-PRESERVING higher-order
    // functions over the spans array (a per-row map — no explode, no
    // shuffle, no collect_list whose assembly order is undefined); the
    // only join is the broadcast-sized ok-docs semi-join. Map-only at
    // 100 TB.
    "q53_pack_corpus" -> ((s, dir) => {
      val d = fx(s, dir)
      val textCol = packedTextCol
      val mediaArr = filter(col("spans"),
        x => x.getField("kind") =!= "text" && x.getField("media_ref") =!= "")
      val okDocs = CorpusGen.hosting(s, d)
        .filter(col("status") === "ok").select("doc_id").distinct()
      CorpusGen.interleaved(s, d)
        .join(okDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), textCol.as("text"),
          size(regexp_extract_all(lower(textCol), lit("[a-z0-9]+"), lit(0)))
            .as("n_tokens"),
          // round 5: export accounting additionally denominated in BPE
          // subword tokens (the pinned merges fixture — see Bpe)
          size(graft.functions.bpe_encode_words(
            regexp_extract_all(lower(textCol), lit("[a-z0-9]+"), lit(0))))
            .as("n_bpe_tokens"),
          size(mediaArr).as("n_media"),
          array_join(transform(filter(col("spans"),
              x => x.getField("kind") =!= "text"),
            x => x.getField("media_ref")), "|").as("media_refs"))
        .orderBy("doc_id")
    }),

    // media-ref inventory: per (host, kind) asset counts off the media
    // spans — the data path q37 follows, SQL-expressible so the DuckDB
    // gate checks it directly at the Verify tier
    "q38_media_refs" -> ((s, dir) => {
      CorpusGen.interleaved(s, fx(s, dir))
        .select(posexplode(col("spans")))
        .select(col("col.kind").as("kind"), col("col.media_ref").as("media_ref"))
        .filter(col("kind") =!= "text" && col("media_ref") =!= "")
        .groupBy(host_of(col("media_ref")).as("host"), col("kind"))
        .agg(count(lit(1)).as("n_refs"), countDistinct(col("media_ref")).as("n_assets"))
        .orderBy("host", "kind")
    }),

    // real-bytes media features (q61): every media asset exists as an
    // actual binary file (CorpusGen.ensureMedia — deterministic seeded
    // bytes with the dimensions IN the bytes), read through Spark's
    // binaryFile source and joined back to the span inventory via the
    // ref digest in the filename. Features (width, height, size,
    // content digest) are derived from the FILE CONTENT — unlike q30's
    // labeled ref-string stand-in — and the DuckDB oracle re-derives
    // them from the same files via read_blob/decode. Smoke tier
    // (q37/q51 rationale: bounded file count per Bench run); at scale
    // this path is a plain file-source scan + one equi-join, and the
    // decode column feeds the same mapInPandas-shaped batch surface.
    "q61_media_bytes" -> ((s, dir) => {
      val tier = CorpusGen.Smoke
      val d = CorpusGen.ensure(s, tier)
      val mediaDir = CorpusGen.ensureMedia(tier)
      val bin = s.read.format("binaryFile").load(s"$mediaDir/*.gft")
        .select(regexp_extract(col("path"), "([0-9a-f]{32})\\.gft$", 1).as("ref_md5"),
          col("length").as("n_bytes"), col("content"))
      val refs = CorpusGen.interleaved(s, d)
        .select(explode(col("spans")).as("sp"))
        .filter(col("sp.kind") =!= "text" && col("sp.media_ref") =!= "")
        .groupBy(col("sp.media_ref").as("media_ref"), col("sp.kind").as("kind"))
        .agg(count(lit(1)).as("n_refs"))
      refs.withColumn("ref_md5", md5(col("media_ref")))
        .join(bin, Seq("ref_md5"))
        .withColumn("txt", col("content").cast("string"))
        .select(col("media_ref"), col("kind"), col("n_refs"),
          substring(col("txt"), 8, 4).cast("int").as("width"),
          substring(col("txt"), 13, 4).cast("int").as("height"),
          col("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("media_ref", "kind")
    }),

    // multimodal plumbing: media spans → deterministic stub decode
    // (image/audio libs absent — the decode is a PINNED fake; schema,
    // partitioning and batch shape are real). Superseded for feature
    // fidelity by q61 (real bytes); kept as the batch-shape surface.
    "q30_multimodal" -> ((s, dir) => {
      CorpusGen.interleaved(s, fx(s, dir))
        .select(col("doc_id"), posexplode(col("spans")))
        .select(col("doc_id"), col("pos").as("span_idx"),
          col("col.kind").as("kind"), col("col.media_ref").as("media_ref"),
          col("col.offset").as("offset"))
        .filter(col("kind") =!= "text")
        .withColumn("n", length(col("media_ref")) + col("offset"))
        .withColumn("width", lit(64) + pmod(col("n"), lit(16)))
        .withColumn("height", lit(64) + pmod(col("n") * 7, lit(16)))
        .withColumn("feature_md5", md5(concat(
          col("media_ref"), lit(":"),
          col("width").cast("string"), lit("x"), col("height").cast("string"))))
        .select("doc_id", "span_idx", "kind", "media_ref", "width", "height", "feature_md5")
        .orderBy("doc_id", "span_idx")
    }),

    // SQL surface (GraftExtensions): the q02 computation re-expressed in
    // pure spark.sql over the registered graft_* functions — puts the
    // SQL registration path itself (FunctionRegistry builders, constant-
    // arg handling, codegen through the SQL parser) under the DuckDB
    // gate, not just the Column API the other queries exercise
    "q39_sql_surface" -> ((s, dir) => {
      // Verify/Bench sessions are built without spark.sql.extensions;
      // register post-hoc (idempotent — the config path is pinned by
      // SqlSurfaceSpec, whose shared session injects at build time)
      graft.GraftExtensions.register(s)
      CorpusGen.hosting(s, fx(s, dir)).createOrReplaceTempView("hosting_q39")
      s.sql(
        """SELECT c AS url_canon, graft_url_hash(c) AS url_hash,
          |       graft_host_of(c) AS host, graft_path_of(c) AS path
          |FROM (SELECT graft_canonicalize(
          |               regexp_replace(url_canon, '^https', 'HTTPS')) AS c
          |      FROM hosting_q39)
          |ORDER BY url_canon""".stripMargin)
    }),

    // W1-audit: politeness COMPLIANCE check over the full schedule — the
    // validation twin of q05 (which samples the schedule itself): per
    // host, the minimum gap between consecutive virtual fetch times must
    // be >= the host's crawl delay, plus the per-host makespan the
    // operator team would alert on. Window lag within host partitions +
    // one aggregation; the delays side stays broadcast-sized (O(hosts)).
    "q43_politeness_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = fx(s, dir)
      val delays = CorpusGen.robots(s, d).groupBy("host")
        .agg(max("crawl_delay_ms").as("delay_ms"))
        .withColumn("ready_ts", lit(0L))
      val frontier = CorpusGen.hosting(s, d)
        .select(col("url_canon"), col("page_hash").as("url_hash"), col("host"),
          lit(0).as("depth"))
      val sched = Scheduler.salted(frontier, delays, 0L)
      sched
        .withColumn("gap", col("fetch_ts") -
          lag("fetch_ts", 1).over(Window.partitionBy("host").orderBy("rn")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_scheduled"), min("gap").as("min_gap_ms"),
          max("fetch_ts").as("makespan_ms"))
        .join(broadcast(delays.select(col("host"), col("delay_ms"))), Seq("host"), "left")
        .withColumn("delay_ms", coalesce(col("delay_ms"), lit(0L)))
        .withColumn("compliant",
          coalesce(col("min_gap_ms") >= col("delay_ms"), lit(true)))
        .select("host", "n_scheduled", "delay_ms", "min_gap_ms", "makespan_ms",
          "compliant")
        .orderBy("host")
    }),

    // S7: sitemap seed source + coverage audit — reference-class
    // crawlers bootstrap the frontier from /sitemap.xml, not just a seed
    // list. Parse the per-host sitemap XML (regex <loc> grammar [PINNED,
    // mirrored in the oracle]), canonicalize each loc through the engine
    // kernel (pass-through idempotence on canonical locs), and flag
    // whether the corpus actually hosts it (left join against hosting —
    // at web scale locs ~10^7 vs pages 10^10, a plain shuffle equi-join).
    "q44_sitemap_seeds" -> ((s, dir) => {
      val d = fx(s, dir)
      CorpusGen.ensureSitemaps(s, d)
      val locs = CorpusGen.sitemaps(s, d)
        .select(col("host"),
          explode(regexp_extract_all(col("xml"), lit("<loc>([^<]*)</loc>"), lit(1)))
            .as("loc"))
        .select(col("host"), canonicalize_url(col("loc")).as("url_canon"))
      val known = CorpusGen.hosting(s, d)
        .select(col("url_canon")).distinct().withColumn("in_corpus", lit(true))
      locs.join(known, Seq("url_canon"), "left")
        .withColumn("in_corpus", coalesce(col("in_corpus"), lit(false)))
        .select("host", "url_canon", "in_corpus")
        .orderBy("host", "url_canon")
    }),

    // A4/X5: hot-host detection + salt bucket assignment
    "q32_hot_hosts" -> ((s, dir) => {
      val counts = CorpusGen.hosting(s, fx(s, dir)).groupBy("host").count()
        .withColumnRenamed("count", "n_urls")
      val stats = counts.agg((sum("n_urls") * 1.0 / count(lit(1))).as("avg_urls"))
      counts.crossJoin(broadcast(stats))
        .withColumn("is_hot", col("n_urls") > col("avg_urls") * 5.0)
        .withColumn("salt_buckets", ceil(col("n_urls") / 256.0).cast("int"))
        .select("host", "n_urls", "is_hot", "salt_buckets")
        .orderBy(col("n_urls").desc, col("host"))
        .limit(25)
    }),

    // metrics rollup over fetch outcomes
    "q33_status_rollup" -> ((s, dir) => {
      CorpusGen.hosting(s, fx(s, dir))
        .rollup("status")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status").asc_nulls_first)
    }),
  )

  /** Golden fixtures written by graft.oracle.GoldenOracles during Verify
    * (independent sequential-model output — the DuckDB side of the
    * driver's gate just reads them). Single-sourced from GoldenOracles so
    * the writer and the oracle SQL cannot drift; pinned to the
    * correctness tier (Verify always runs at sf0.01, TESTDATA.md). */
  private val GOLD = graft.oracle.GoldenOracles.dirFor(CorpusGen.Correctness)

  val oracle: Map[String, String] = Map(
    "q09_crawl" ->
      s"""SELECT seq, url_canon, host, depth, round, fetch_ts, status, doc_id
         |FROM read_parquet('$GOLD/q09_crawl.parquet/*.parquet')
         |ORDER BY seq""".stripMargin,

    "q37_media_crawl" ->
      s"""SELECT seq, url_canon, host, depth, round, fetch_ts, status, doc_id
         |FROM read_parquet('$GOLD/q37_media_crawl.parquet/*.parquet')
         |ORDER BY seq""".stripMargin,

    "q51_priority_crawl" ->
      s"""SELECT seq, url_canon, host, depth, round, fetch_ts, status, doc_id
         |FROM read_parquet('$GOLD/q51_priority_crawl.parquet/*.parquet')
         |ORDER BY seq""".stripMargin,

    // q60: fetch set = the golden sequential crawl (default config,
    // smoke tier); every downstream stage re-derived in SQL from the
    // single-sourced mirrors (lshPairsSqlFor / the q47 closure /
    // nbLangPredCteFor / mixtureSampleSql) over the smoke fixtures
    "q60_crawl_curation" -> {
      val FXS = CorpusGen.dirFor(CorpusGen.Smoke)
      val packedSrc =
        s"""SELECT sp.doc_id,
           |  array_to_string(list_transform(list_filter(sp.spans, x -> x.kind = 'text'),
           |    x -> x.text), chr(10)) AS text
           |FROM read_parquet('$FXS/interleaved.parquet/*.parquet') sp
           |JOIN (SELECT DISTINCT doc_id
           |      FROM read_parquet('$GOLD/q60_fetch.parquet/*.parquet')
           |      WHERE status = 'ok' AND doc_id <> '') ok USING (doc_id)""".stripMargin
      s"""WITH RECURSIVE p AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM (${TextOps.lshPairsSqlFor(packedSrc)})),
         |und AS MATERIALIZED (
         |  SELECT doc_a AS a, doc_b AS b FROM p
         |  UNION
         |  SELECT doc_b AS a, doc_a AS b FROM p),
         |r(d, label) AS (
         |  SELECT DISTINCT a, a FROM und
         |  UNION
         |  SELECT u.b, r.label FROM r JOIN und u ON u.a = r.d),
         |comp AS (SELECT d AS doc_id, MIN(label) AS cluster FROM r GROUP BY d),
         |drops AS (SELECT doc_id FROM comp WHERE doc_id <> cluster),
         |surv AS (SELECT doc_id, text FROM ($packedSrc)
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |${TextOps.nbLangPredCteFor("SELECT doc_id, text FROM surv")},
         |langed AS (SELECT s.doc_id, lp.lang FROM surv s JOIN lp USING (doc_id))
         |${TextOps.mixtureSampleSql("SELECT doc_id, lang FROM langed")}""".stripMargin
    },

    "q53_pack_corpus" ->
      s"""WITH RECURSIVE sp AS (SELECT doc_id, spans
         |  FROM read_parquet('$FX/interleaved.parquet/*.parquet')),
         |packed AS (SELECT doc_id,
         |  array_to_string(list_transform(list_filter(spans, x -> x.kind = 'text'),
         |    x -> x.text), chr(10)) AS text,
         |  CAST(len(list_filter(spans,
         |    x -> x.kind <> 'text' AND x.media_ref <> '')) AS INT) AS n_media,
         |  array_to_string(list_transform(list_filter(spans, x -> x.kind <> 'text'),
         |    x -> x.media_ref), '|') AS media_refs
         | FROM sp),
         |ok AS (SELECT DISTINCT doc_id
         |  FROM read_parquet('$FX/hosting.parquet/*.parquet') WHERE status = 'ok'),
         |pok AS (SELECT p.* FROM packed p JOIN ok USING (doc_id)),
         |${TextOps.bpeCte("SELECT doc_id, text FROM pok")}
         |SELECT p.doc_id, p.text,
         |  CAST(len(regexp_extract_all(lower(p.text), '[a-z0-9]+')) AS INT) AS n_tokens,
         |  CAST(len(b.ids) AS INT) AS n_bpe_tokens,
         |  p.n_media, p.media_refs
         |FROM pok p JOIN bpe b USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    // q61: same files, independent readers — Spark binaryFile vs DuckDB
    // read_blob; decode(content) is the raw bytes (CAST(BLOB AS
    // VARCHAR) would hash the ESCAPED form)
    "q61_media_bytes" -> {
      val FXS = CorpusGen.dirFor(CorpusGen.Smoke)
      val MD = CorpusGen.mediaDirFor(CorpusGen.Smoke)
      s"""WITH refs AS (
         |  SELECT media_ref, kind, CAST(COUNT(*) AS BIGINT) AS n_refs
         |  FROM (SELECT unnest(spans, recursive := true)
         |        FROM read_parquet('$FXS/interleaved.parquet/*.parquet'))
         |  WHERE kind <> 'text' AND media_ref <> ''
         |  GROUP BY 1, 2),
         |bin AS (
         |  SELECT regexp_extract(filename, '([0-9a-f]{32})\\.gft$$', 1) AS ref_md5,
         |    CAST(size AS BIGINT) AS n_bytes,
         |    decode(content) AS txt
         |  FROM read_blob('$MD/*.gft'))
         |SELECT r.media_ref, r.kind, r.n_refs,
         |  CAST(substr(b.txt, 8, 4) AS INT) AS width,
         |  CAST(substr(b.txt, 13, 4) AS INT) AS height,
         |  b.n_bytes,
         |  md5(b.txt) AS content_md5
         |FROM refs r JOIN bin b ON b.ref_md5 = md5(r.media_ref)
         |ORDER BY r.media_ref, r.kind""".stripMargin
    },

    "q38_media_refs" ->
      // hostOf stops at '/', ':' or '?' after the scheme — corpus media
      // hosts are plain (no port/userinfo), so the regex mirror is exact
      s"""SELECT regexp_extract(media_ref, '^media://([^/:?]+)', 1) AS host, kind,
         | CAST(COUNT(*) AS BIGINT) AS n_refs,
         | CAST(COUNT(DISTINCT media_ref) AS BIGINT) AS n_assets
         |FROM (
         | SELECT unnest(spans, recursive := true)
         | FROM read_parquet('$FX/interleaved.parquet/*.parquet'))
         |WHERE kind <> 'text' AND media_ref <> ''
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q39_sql_surface" ->
      // host/path mirrors: corpus url_canon carries no userinfo, port or
      // query string (same contract the q04/q38 oracles rely on), so the
      // scheme-strip regexes are exact; the '\?.*' strip mirrors
      // path_of's pinned cut-at-first-'?' anyway
      s"""SELECT url_canon, page_hash AS url_hash,
         | regexp_extract(url_canon, '^[a-z]+://([^/]+)', 1) AS host,
         | regexp_replace(regexp_replace(url_canon, '^[a-z]+://[^/]+', ''), '\\?.*', '') AS path
         |FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |ORDER BY url_canon""".stripMargin,

    "q01_spans" ->
      s"""SELECT doc_id, span_idx, kind, media_ref, "offset", md5(text) AS text_md5 FROM (
         | SELECT doc_id, CAST(generate_subscripts(spans, 1) - 1 AS INT) AS span_idx,
         |        unnest(spans, recursive := true)
         | FROM read_parquet('$FX/interleaved.parquet/*.parquet'))
         |ORDER BY doc_id, span_idx""".stripMargin,

    "q02_canonicalize" ->
      s"""SELECT url_canon, page_hash AS url_hash
         |FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |ORDER BY url_canon""".stripMargin,

    "q03_host_stats" ->
      s"""SELECT host, CAST(COUNT(DISTINCT page_hash) AS BIGINT) AS n_pages,
         | CAST(SUM(CASE WHEN status = '404' THEN 1 ELSE 0 END) AS BIGINT) AS n_404
         |FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |GROUP BY host ORDER BY host""".stripMargin,

    "q04_robots_filter" ->
      // prefix-match against the PATH ONLY (query stripped) — the engine's
      // pinned robots semantics (path_of cuts at the first '?'); without
      // the inner query-strip the oracle silently matches prefixes against
      // path+query and diverges on any corpus with query strings
      s"""SELECT url_canon FROM read_parquet('$FX/hosting.parquet/*.parquet') h
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM read_parquet('$FX/robots.parquet/*.parquet') r
         |  WHERE r.host = h.host AND NOT r.allow
         |    AND starts_with(regexp_replace(regexp_replace(h.url_canon, '^[a-z]+://[^/]+', ''), '\\?.*', ''), r.path_prefix))
         |ORDER BY url_canon""".stripMargin,

    "q05_politeness" ->
      // LEFT JOIN + COALESCE(0) mirrors Scheduler.salted's missing-host
      // default EXACTLY (an inner join would silently drop any hosting
      // host without robots rows; today the corpus emits rules for every
      // host, but the oracle must not depend on that corpus shape)
      s"""WITH delays AS (
         |  SELECT host, MAX(crawl_delay_ms) AS delay_ms
         |  FROM read_parquet('$FX/robots.parquet/*.parquet') GROUP BY host)
         |SELECT url_canon, h.host AS host, rn,
         |  CAST((rn - 1) * COALESCE(delay_ms, 0) AS BIGINT) AS fetch_ts
         |FROM (
         |  SELECT url_canon, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY page_hash) AS INT) AS rn
         |  FROM read_parquet('$FX/hosting.parquet/*.parquet')) h
         |LEFT JOIN delays d ON d.host = h.host
         |WHERE rn <= 50
         |ORDER BY host, rn""".stripMargin,

    // the schedule reconstruction is q05's (same rank + virtual-clock
    // formula); the audit itself — lag gaps, min/makespan, compliance —
    // is computed independently by DuckDB over it
    "q43_politeness_audit" ->
      s"""WITH delays AS (
         |  SELECT host, MAX(crawl_delay_ms) AS delay_ms
         |  FROM read_parquet('$FX/robots.parquet/*.parquet') GROUP BY host),
         |sched AS (
         |  SELECT h.host AS host, rn,
         |    CAST((rn - 1) * COALESCE(delay_ms, 0) AS BIGINT) AS fetch_ts
         |  FROM (
         |    SELECT host,
         |      CAST(row_number() OVER (PARTITION BY host ORDER BY page_hash) AS INT) AS rn
         |    FROM read_parquet('$FX/hosting.parquet/*.parquet')) h
         |  LEFT JOIN delays d ON d.host = h.host),
         |g AS (SELECT host, fetch_ts,
         |    fetch_ts - LAG(fetch_ts) OVER (PARTITION BY host ORDER BY rn) AS gap
         |  FROM sched),
         |agg AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_scheduled,
         |    CAST(MIN(gap) AS BIGINT) AS min_gap_ms,
         |    CAST(MAX(fetch_ts) AS BIGINT) AS makespan_ms
         |  FROM g GROUP BY host)
         |SELECT a.host, n_scheduled,
         |  CAST(COALESCE(d.delay_ms, 0) AS BIGINT) AS delay_ms,
         |  min_gap_ms, makespan_ms,
         |  COALESCE(min_gap_ms >= COALESCE(d.delay_ms, 0), TRUE) AS compliant
         |FROM agg a LEFT JOIN delays d ON d.host = a.host
         |ORDER BY a.host""".stripMargin,

    // same <loc> grammar; locs are canonical by construction so the
    // engine's canonicalize is a pass-through (idempotence is q02's job)
    "q44_sitemap_seeds" ->
      s"""WITH locs AS (
         |  SELECT host, unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)) AS url_canon
         |  FROM read_parquet('$FX/sitemaps.parquet/*.parquet'))
         |SELECT l.host, l.url_canon, (h.url_canon IS NOT NULL) AS in_corpus
         |FROM locs l LEFT JOIN (
         |  SELECT DISTINCT url_canon
         |  FROM read_parquet('$FX/hosting.parquet/*.parquet')) h
         |  ON h.url_canon = l.url_canon
         |ORDER BY 1, 2""".stripMargin,

    "q06_global_order" ->
      s"""SELECT url_canon,
         | CAST(row_number() OVER (ORDER BY host, page_hash) AS BIGINT) AS seq
         |FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |ORDER BY seq""".stripMargin,

    "q07_seen_antijoin" ->
      s"""SELECT url_canon FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |WHERE ((page_hash % 4) + 4) % 4 <> 0
         |ORDER BY url_canon""".stripMargin,

    "q08_bloom_dedup" ->
      s"""SELECT url_canon FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |WHERE ((page_hash % 4) + 4) % 4 <> 0
         |ORDER BY url_canon""".stripMargin,

    "q30_multimodal" ->
      s"""SELECT doc_id, span_idx, kind, media_ref,
         | 64 + (n % 16) AS width, 64 + ((n * 7) % 16) AS height,
         | md5(media_ref || ':' || CAST(64 + (n % 16) AS VARCHAR) || 'x'
         |     || CAST(64 + ((n * 7) % 16) AS VARCHAR)) AS feature_md5
         |FROM (
         | SELECT doc_id, span_idx, kind, media_ref,
         |        CAST(length(media_ref) + "offset" AS INT) AS n
         | FROM (
         |  SELECT doc_id, CAST(generate_subscripts(spans, 1) - 1 AS INT) AS span_idx,
         |         unnest(spans, recursive := true)
         |  FROM read_parquet('$FX/interleaved.parquet/*.parquet'))
         | WHERE kind <> 'text')
         |ORDER BY doc_id, span_idx""".stripMargin,

    "q32_hot_hosts" ->
      s"""WITH counts AS (
         |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls
         |  FROM read_parquet('$FX/hosting.parquet/*.parquet') GROUP BY host),
         |stats AS (SELECT SUM(n_urls) * 1.0 / COUNT(*) AS avg_urls FROM counts)
         |SELECT host, n_urls, n_urls > avg_urls * 5.0 AS is_hot,
         | CAST(ceil(n_urls / 256.0) AS INT) AS salt_buckets
         |FROM counts, stats
         |ORDER BY n_urls DESC, host LIMIT 25""".stripMargin,

    "q33_status_rollup" ->
      s"""SELECT status, CAST(COUNT(*) AS BIGINT) AS n
         |FROM read_parquet('$FX/hosting.parquet/*.parquet')
         |GROUP BY ROLLUP (status)
         |ORDER BY status NULLS FIRST""".stripMargin,
  )
}
