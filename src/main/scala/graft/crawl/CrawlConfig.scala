package graft.crawl

/** Tunables of the crawl (BASELINE.json:6,14). All semantics that depend
  * on these are PINNED identically in the engine and the sequential
  * oracle (SURVEY.md §0). */
final case class CrawlConfig(
  /** Links discovered deeper than this are never enqueued (P2). */
  maxDepth: Int = 10,
  /** Per-host fetch cap per round; overflow carries to the next round (W2). */
  perHostPerRound: Int = 50,
  /** Total fetch budget across the crawl; truncation follows the global
    * crawl order (O2) [PINNED: discovered links of the final truncated
    * round still enter the seen set, like the reference's
    * seen-at-enqueue semantics]. */
  totalBudget: Long = Long.MaxValue,
  /** Seen-set shard count P: bloom shards + pmod(url_hash, P) layout. */
  partitions: Int = 32,
  /** Expected insertions per bloom shard (sized for the tier). */
  bloomShardCapacity: Long = 200000L,
  /** Approximate-membership filter kind for the seen shards:
    * "bloom" (default) or "cuckoo" (deletion support, better space at
    * low FPP) — the north-star's "bloom/cuckoo" pair. Every round probes
    * the shards before the exact anti-join (J1 two-phase dedup). */
  seenFilter: String = "bloom",
  /** Robots filter as a Dataset join (RobotsJoin) instead of the
    * broadcast codegen expression — the web-scale path when the rule
    * table outgrows task serialization (10^7+ hosts). Identical crawl
    * (tested); costs one extra frontier shuffle per round, and the
    * scheduler joins host metadata by shuffle instead of broadcast. */
  robotsViaJoin: Boolean = false,
  /** Compact the seen-set delta chain into one base file once this many
    * live files accumulate (Iceberg-style compaction: keeps the per-round
    * scan O(1) instead of O(rounds), amortized O(log) rewrite). */
  seenCompactEvery: Int = 8,
  /** Auto-expire superseded snapshot data files every this many rounds
    * (0 = never — expiry stays a manual [[SnapshotStore.expireRounds]]
    * call). Without expiry a 1000-round crawl keeps every superseded
    * frontier/delta/host-ready/bloom version forever: storage
    * O(rounds × state) instead of O(live state + fetch logs). Runs on
    * the pipelined round tail right after the commit, so it costs the
    * critical path nothing. It keeps the last two rounds fully
    * resumable (see CrawlEngine's AutoExpireKeepLast). */
  expireEveryRounds: Int = 0,
  /** Per-URL priority scheduling — the "priority" half of the north
    * star's min-heap key "(host, next-fetch-time, depth/priority)",
    * realized with an actual priority signal distinct from discovery
    * depth. [PINNED semantics, mirrored in CrawlOracle.prioOf]:
    * priority = the canonical URL's length in Unicode code points —
    * shorter URLs fetch first, the classic cheap importance proxy
    * (short URLs correlate with hubs/section roots; leaf/detail pages
    * carry long paths and query strings) — and the per-host schedule
    * orders by (priority asc, depth asc, url_hash asc) instead of
    * (depth, url_hash). Priority is a pure function of url_canon,
    * recomputed at schedule time — carried rows and the frontier
    * files keep their schema, and every downstream key (global crawl
    * order, intra-round dedup, seen set) is untouched. Off by default:
    * the pinned default crawl stays byte-identical. */
  priorityByUrlLen: Boolean = false,
  /** Follow media spans: enqueue each media span's `media_ref` as a
    * frontier candidate alongside the text spans' extracted links — the
    * asset-fetching half of a crawler over INTERLEAVED text+media
    * documents (BASELINE.json "interleaved" payload; a PyCrawler-class
    * crawler downloads the images/videos its pages reference, not just
    * the pages). [PINNED semantics, mirrored in CrawlOracle]:
    *  - a media_ref is followed iff it starts with "media://" and has a
    *    non-empty host (refs are emitted absolute + canonical by the
    *    corpus producer; the RFC 3986 http(s) canonicalizer deliberately
    *    does not apply to the opaque media scheme — the ref is used
    *    byte-verbatim, so span byte-equality and URL identity agree);
    *  - candidate order within a document is span order — a media span
    *    contributes its single ref at (span_idx, link_pos=0), text spans
    *    their extracted links in extraction order — so the intra-round
    *    first-discovery-wins dedup key is unchanged;
    *  - media URLs flow through the SAME robots filter (host rules,
    *    path longest-prefix match), per-host politeness clock (assets
    *    are served by the same host budget), depth cap, seen set and
    *    fetch log as page URLs; their fetch resolves to no document
    *    (status "media", doc_id "") and extracts nothing — media is a
    *    leaf. Off by default: the pinned text-only crawl stays
    *    byte-identical to rounds 1–3. */
  followMedia: Boolean = false) {
  require(seenFilter == "bloom" || seenFilter == "cuckoo",
    s"seenFilter must be \"bloom\" or \"cuckoo\", got \"$seenFilter\"")
}

object CrawlConfig {
  /** Crawl delay for hosts without a robots crawl_delay_ms — shared by
    * the engine and the sequential oracle so the two can never disagree. */
  val DefaultDelayMs: Long = 0L
}
