package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming form of the frontier pipeline (SURVEY.md §2.10):
  * the batch-iterative crawl is the reference semantics, but when link
  * discoveries arrive as an unbounded stream the same operators map to:
  *
  *  - seen-set dedup → `flatMapGroupsWithState` keyed by `url_hash`,
  *    one tiny state entry per URL (the streaming twin of SeenSet's
  *    exact tier);
  *  - fetch-rate metrics → watermarked sliding-window counts per host.
  *
  * Used with MemoryStream in tests and file streams in production; at
  * cluster scale state lives in the state store (RocksDB provider).
  */
object FrontierStream {

  final case class Discovery(url_canon: String, url_hash: Long, host: String,
    depth: Int, event_ts: java.sql.Timestamp)
  final case class SeenMark(depth: Int)
  final case class NewUrl(url_canon: String, url_hash: Long, host: String, depth: Int)

  /** Streaming seen-set dedup: emits each url_hash exactly once across
    * the whole stream (first occurrence wins; ties within a micro-batch
    * break by min depth for determinism).
    *
    * State is keyed by `url_hash` — one small entry per URL — NOT by a
    * coarse shard holding its whole hash set in one value (the round-1–3
    * shape): a single-blob-per-shard state is deserialized, grown and
    * reserialized WHOLESALE every micro-batch that touches the shard,
    * O(|seen|/P) per trigger even for one new URL, and with the RocksDB
    * provider the blob is still one value — an OOM/latency cliff at the
    * 10^7+-URL scale this module claims (round-3 review). Per-key state
    * is what the state store is built to scale: point lookups/puts,
    * incremental checkpoints. The state-store partition count is Spark's
    * shuffle partitioning of the url_hash key — the same pmod co-location
    * idea, handled by the framework. */
  def dedupStream(spark: SparkSession, discoveries: Dataset[Discovery]): Dataset[NewUrl] = {
    import spark.implicits._
    discoveries
      .groupByKey(_.url_hash)
      .flatMapGroupsWithState[SeenMark, NewUrl](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Discovery], state: GroupState[SeenMark]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_.depth)
            state.update(SeenMark(first.depth))
            Iterator.single(NewUrl(first.url_canon, first.url_hash, first.host, first.depth))
          }
      }
  }

  final case class HostClock(ready_ts: Long)
  final case class Scheduled(url_canon: String, url_hash: Long, host: String,
    depth: Int, fetch_ts: Long)

  /** Streaming per-host politeness (the W1/Q1 scheduler's streaming twin,
    * SURVEY.md §2.10): assigns each URL a virtual fetch time ≥ its host's
    * ready clock, advancing the clock by the host's crawl delay per URL —
    * so for every host, consecutive fetch_ts gaps are exactly `delayOf
    * (host)`, across micro-batch boundaries (the clock is per-host
    * `flatMapGroupsWithState` state, one tiny entry per host — the same
    * cardinality contract as the batch engine's host-ready Dataset, and
    * recovered from the state store on restart like the dedup state).
    *
    * Within a micro-batch a host's URLs are ordered by the pinned
    * (depth, url_hash) total order — the batch scheduler's tie-break
    * chain with the stream's arrival nondeterminism removed. `delayOf`
    * must be a small serializable function (e.g. closing over a
    * broadcast robots delay map), not a driver-side lookup per row. */
  def politenessStream(spark: SparkSession, entries: Dataset[Discovery],
                       delayOf: String => Long): Dataset[Scheduled] = {
    import spark.implicits._
    entries
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostClock, Scheduled](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String, rows: Iterator[Discovery], state: GroupState[HostClock]) =>
          val delay = delayOf(host)
          var ready = if (state.exists) state.get.ready_ts else 0L
          val out = rows.toVector.sortBy(e => (e.depth, e.url_hash)).map { e =>
            val ts = ready
            ready = ts + delay
            Scheduled(e.url_canon, e.url_hash, e.host, e.depth, ts)
          }
          state.update(HostClock(ready))
          out.iterator
      }
  }

  /** Watermarked per-host discovery rate over 10-second windows —
    * the streaming metrics sink (S5). */
  def hostRates(discoveries: Dataset[Discovery]): DataFrame =
    discoveries.toDF()
      .withWatermark("event_ts", "30 seconds")
      .groupBy(window(col("event_ts"), "10 seconds"), col("host"))
      .agg(count(lit(1)).as("n_discovered"),
        approx_count_distinct(col("url_hash")).as("approx_unique"))
}
