package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-host politeness scheduling (SURVEY.md §2.5 W1 / §2.9 Q1).
  *
  * Within a round, each host's candidate URLs are ordered by
  * (depth asc, url_hash asc) [PINNED priority = depth] and the k-th URL
  * of host h virtually fetches at `ready(h) + (k-1) * delay(h)` — the
  * set-at-a-time re-expression of the reference's min-heap + sleep loop
  * keyed by (host, next-fetch-time, depth/priority) (BASELINE.json:6).
  * The sequential reference is graft.oracle.CrawlOracle's per-host sort;
  * PlanShapeSpec also pins `salted` row for row to that sort done on the
  * driver.
  *
  * Input columns: url_canon, url_hash, host, depth (+ an int `prio`
  * when `usePrio` — CrawlConfig.priorityByUrlLen's (prio, depth,
  * url_hash) per-host order; default plans are unchanged).
  * hostMeta columns: host, delay_ms, ready_ts.
  * Output: input + rn (1-based per-host rank) + fetch_ts.
  */
object Scheduler {

  /** With `usePrio` the per-host order key is (prio, depth, url_hash)
    * [PINNED — CrawlConfig.priorityByUrlLen]; the input must carry an
    * integer `prio` column. Without it the key is (depth, url_hash) and
    * the plans are exactly the pre-priority shapes. */
  private def orderKeys(usePrio: Boolean): Seq[String] =
    if (usePrio) Seq("prio", "depth") else Seq("depth")

  /** Explicit salting for skewed hosts (BASELINE.json:14): a Zipf-head
    * host with millions of frontier URLs must not rank in one task. The
    * per-host order key is (depth, url_hash); salt = the high byte of
    * url_hash — ORDER-PRESERVING within (host, depth), so
    * global-rank = cumulative offset of earlier (depth, salt) groups +
    * rank within (host, depth, salt). Both the in-group rank and the
    * offset table are computed distributedly; max task size drops from
    * |hot host| to |hot host| / 256.
    *
    * The two branches deliberately read `df` twice (no shared
    * repartition): a late-round-3 rewrite that pre-repartitioned on
    * (host, depth, salt) to "share one exchange" was measured and
    * REJECTED — per-branch column pruning makes the two logical subtree
    * copies differ, so ReuseExchange never fires, and the explicit
    * repartition defeats the offsets groupBy's map-side partial
    * aggregation (it shuffles every key trio instead of per-partition
    * counts). In this form the offsets branch scans only the pruned
    * (host, depth, url_hash) columns and ships ≤ hosts×depths×256
    * pre-aggregated rows; interleaved same-window A/B at c8 on the 20 M
    * frontier: 41.7 s vs 41.9 s medians — a wash locally, and this form
    * shuffles strictly less at scale.
    *
    * `broadcastMeta = false` is the web-scale mode (the engine's
    * robotsViaJoin shape): hostMeta is O(#hosts) (10^7–10^8 rows at the
    * SURVEY sizing), which must not transit the driver as a broadcast —
    * a plain shuffle join keeps it distributed end-to-end. */
  def salted(df: DataFrame, hostMeta: DataFrame, defaultDelayMs: Long,
             broadcastMeta: Boolean = true, usePrio: Boolean = false): DataFrame = {
    val keys = orderKeys(usePrio) // (prio,) depth — the pre-salt order prefix
    val saltCol = shiftright(col("url_hash"), 56) // signed ⇒ monotonic in url_hash
    val wFine = Window.partitionBy((("host" +: keys) :+ "__salt").map(col): _*)
      .orderBy(col("url_hash"))
    // NO row-level meta join on the frontier side (review finding): a
    // shuffle join keyed on bare host puts the Zipf-hot host's entire
    // frontier in ONE join task — exactly the skew this path exists to
    // prevent — and exploding meta ×256 to salt that join multiplies an
    // O(#hosts) table. Instead delay/ready ride the OFFSETS table, which
    // is already aggregated to ≤ maxDepth × 256 rows per host (skew-free
    // by construction) and already joins back on the salted key trio.
    // Bonus for both modes: the frontier's rank shuffle no longer
    // carries the meta columns.
    val fine = df
      .withColumn("__salt", saltCol)
      .withColumn("__rnd", row_number().over(wFine))
    // cumulative offsets over the ((prio,) depth, salt) groups of each
    // host (≤ [prios ×] maxDepth × 256 rows per host — trivially balanced)
    val wOfs = Window.partitionBy("host").orderBy((keys :+ "__salt").map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val metaSel = hostMeta.select(col("host"), col("delay_ms"), col("ready_ts"))
    val offsets = df
      .groupBy((col("host") +: keys.map(col)) :+ saltCol.as("__salt"): _*).count()
      .withColumn("__offset", coalesce(sum("count").over(wOfs), lit(0L)))
      .join(if (broadcastMeta) broadcast(metaSel) else metaSel, Seq("host"), "left")
      .withColumn("__delay", coalesce(col("delay_ms"), lit(defaultDelayMs)))
      .withColumn("__ready", coalesce(col("ready_ts"), lit(0L)))
      .select((col("host") +: keys.map(col)) ++ Seq(col("__salt"), col("__offset"),
        col("__delay"), col("__ready")): _*)
    fine.join(offsets, ("host" +: keys) :+ "__salt")
      .withColumn("rn", (col("__offset") + col("__rnd")).cast("int"))
      .withColumn("fetch_ts", col("__ready") + (col("rn").cast("long") - 1L) * col("__delay"))
      .drop("__rnd", "__offset", "__salt", "__delay", "__ready")
  }
}
