package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.Shim
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.util.UUID

/** The URL-seen set (BASELINE.json:6): "partitioned bloom/cuckoo URL-seen
  * set as broadcast + per-partition shards", with the exact Dataset of
  * url_hash as the authoritative tier (final equality to the oracle must
  * be exact — BASELINE.json:14; the bloom is only a prefilter).
  *
  * Shard i holds the hashes with `pmod(url_hash, P) == i` and lives as
  * ONE immutable file per round on shared storage (the snapshot dir).
  * Round-1 design review flagged two scale-killers that this layout
  * removes:
  *  - the whole shard set was broadcast to every executor (~12 GB at the
  *    SURVEY 10^10-URL sizing — an impossible broadcast). Now candidates
  *    are co-partitioned by `pmod(url_hash, P)` and each task lazily
  *    loads only the shards its partition probes, via an executor-level
  *    cache ([[BloomShardCache]]);
  *  - every round's partial shard blobs were `collect()`ed to the driver
  *    for merging (multi-GB round-trip). Now the merge happens ON the
  *    executors: each builder task reads its shard's previous file,
  *    folds the new hashes in, and writes the next immutable version;
  *    only (shard, count) lineage pairs reach the driver.
  */
final class BloomShardReader(val paths: Array[String],
    val conf: HadoopConfSer = new HadoopConfSer(new org.apache.hadoop.conf.Configuration()))
  extends Serializable {
  def P: Int = paths.length
  def shardOf(h: Long): Int = SeenSet.shardOf(h, P)

  /** No false negatives: a null path means the shard has never been
    * written (nothing inserted) ⇒ definitely not contained. */
  def mightContain(h: Long): Boolean = {
    val p = paths(shardOf(h))
    p != null && BloomShardCache.get(p, conf).mightContain(h)
  }
}

/** One shard's approximate-membership filter — either a classic bloom or
  * a cuckoo filter (the north-star's "bloom/cuckoo" pair). Both have NO
  * false negatives, the invariant the two-phase J1 dedup relies on. */
sealed trait ShardFilter extends Serializable {
  def put(h: Long): Unit
  def mightContain(h: Long): Boolean
  def writeTo(out: DataOutputStream): Unit
}

final class BloomShardFilter(val bf: BloomFilter) extends ShardFilter {
  def put(h: Long): Unit = bf.putLong(h)
  def mightContain(h: Long): Boolean = bf.mightContainLong(h)
  def writeTo(out: DataOutputStream): Unit = { out.writeByte('B'); bf.writeTo(out) }
}

/** Cuckoo variant: supports deletion and better space at low FPP. A
  * saturated filter (insert failed after max kicks) degrades to
  * always-maybe — conservative, never a false negative. */
final class CuckooShardFilter(val cf: CuckooFilter, private var saturated: Boolean = false)
  extends ShardFilter {
  def put(h: Long): Unit = if (!saturated && !cf.put(h)) saturated = true
  def mightContain(h: Long): Boolean = saturated || cf.mightContain(h)
  def remove(h: Long): Boolean = !saturated && cf.remove(h)
  def isSaturated: Boolean = saturated
  def writeTo(out: DataOutputStream): Unit = {
    out.writeByte('C'); out.writeBoolean(saturated); cf.writeTo(out)
  }
}

object ShardFilter {
  def create(kind: String, capacity: Long, fpp: Double): ShardFilter = kind match {
    case "cuckoo" => new CuckooShardFilter(CuckooFilter.create(capacity))
    case "bloom" => new BloomShardFilter(BloomFilter.create(capacity, fpp))
    case k => throw new IllegalArgumentException(s"unknown seen filter kind: \"$k\"")
  }

  /** Read one shard file through the Hadoop FS of its path's scheme
    * (shared storage on a real cluster). */
  def read(path: String, conf: Configuration): ShardFilter = {
    val p = new HPath(path)
    val in = new DataInputStream(new BufferedInputStream(p.getFileSystem(conf).open(p)))
    try in.readByte().toChar match {
      case 'C' =>
        val saturated = in.readBoolean()
        new CuckooShardFilter(CuckooFilter.readFrom(in), saturated)
      case 'B' => new BloomShardFilter(BloomFilter.readFrom(in))
      case t => throw new IllegalStateException(s"unknown shard filter tag: $t")
    } finally in.close()
  }
}

/** Executor(JVM)-level shard file cache: tasks of the same executor share
  * loaded shards; a bounded LRU keeps superseded round versions from
  * accumulating over a long crawl. */
object BloomShardCache {
  private val MaxEntries = 128
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, ShardFilter](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, ShardFilter]): Boolean =
        this.size() > MaxEntries
    })

  def get(path: String, conf: HadoopConfSer): ShardFilter = {
    val hit = cache.get(path)
    if (hit != null) return hit
    // shard files are immutable + content-unique-named, so path alone is
    // a sound cache key
    val f = ShardFilter.read(path, conf.value)
    cache.put(path, f)
    f
  }

  /** Test probe: current entry count (bounded by MaxEntries — a long
    * crawl cycles thousands of superseded shard versions through here). */
  private[graft] def size: Int = cache.size()
}

/** `bloom_might_contain(url_hash)` — full-codegen probe of the shard set
  * (mirrors RobotsAllows; round 1 used a Scala UDF here, forcing an eval
  * fallback in the crawl's hottest filter). */
case class BloomMightContain(child: Expression, reader: BloomShardReader)
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(h: Any): Any =
    reader.mightContain(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomShardReader", reader, "graft.crawl.BloomShardReader")
    defineCodeGen(ctx, ev, h => s"$ref.mightContain($h)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object SeenSet {

  /** THE shard layout: pmod(url_hash, P). One definition shared by the
    * probe (BloomShardReader.shardOf), the build, and the retire paths —
    * and mirrored by the engine's pmod(url_hash, partitions) repartition
    * column — so probe and build can never silently de-align. */
  def shardOf(h: Long, P: Int): Int = (((h % P) + P) % P).toInt

  /** Build/merge per-shard blooms on the executors. Each group task owns
    * one shard id, folds that shard's new hashes into the previous
    * round's file (if any) and writes the next round's file. Returns the
    * per-shard file paths of the NEW shard-set version (untouched shards
    * keep their previous file — no copying) and per-shard row counts:
    * exactly the per-partition lineage the snapshot manifest records. */
  def buildShards(spark: SparkSession, hashes: DataFrame, prev: Option[BloomShardReader],
                  outDir: String, P: Int, capacityPerShard: Long, fpp: Double,
                  kind: String = "bloom"): (Array[String], Seq[Long]) =
    rewriteShards(spark, hashes, prev.map(_.paths).getOrElse(Array.fill[String](P)(null)),
      outDir, P, "shards") { (old, it) =>
      val f = old.getOrElse(ShardFilter.create(kind, capacityPerShard, fpp))
      it.foreach(f.put)
      Some(f)
    }

  /** DELETE `hashes` from their matching shard files (executor-side,
    * mirror of [[buildShards]]) — the cuckoo deletion path (engine
    * retireHost). Bloom shards cannot delete; callers rebuild those from
    * the surviving hashes instead. Each touched shard writes a new
    * immutable uuid-named version; untouched and never-written shards
    * keep their current path. A saturated cuckoo shard ignores removes
    * (it already degraded to always-maybe — conservative, never a false
    * negative). */
  def retireFromShards(spark: SparkSession, hashes: DataFrame, prev: BloomShardReader,
                       outDir: String, P: Int): Array[String] =
    rewriteShards(spark, hashes, prev.paths, outDir, P, "retire") { (old, it) =>
      old.map {
        case c: CuckooShardFilter => it.foreach(c.remove); c
        case bloom => bloom // cannot delete: kept as-is (caller rebuilds)
      }
    }._1

  /** The shard-file protocol of [[buildShards]] and [[retireFromShards]],
    * in one job: group `hashes` by shard, and for each touched shard hand
    * its previous filter (None if never written) and its hashes to
    * `update`; the filter `update` returns becomes the shard's next
    * version, None leaves the shard as it was. Shard I/O goes through the
    * Hadoop FS of outDir's scheme — shared storage on a real cluster
    * (executors write, any executor reads); the session's
    * hadoopConfiguration ships to the tasks serialized. The fault sites
    * `<site>.pre` and `<site>.post` (`shards.*`, `retire.*` — armed by
    * FaultCheck and ClusterCheck) fire before the read and after the
    * rename. Returns the new shard-set paths and the hashes
    * `update` consumed per shard. */
  private def rewriteShards(spark: SparkSession, hashes: DataFrame, prevPaths: Array[String],
                            outDir: String, P: Int, site: String)(
      update: (Option[ShardFilter], Iterator[Long]) => Option[ShardFilter])
      : (Array[String], Seq[Long]) = {
    import spark.implicits._
    require(prevPaths.length == P, s"shard count changed: ${prevPaths.length} != $P")
    val confSer = new HadoopConfSer(spark.sparkContext.hadoopConfiguration)
    new HPath(outDir).getFileSystem(confSer.value).mkdirs(new HPath(outDir))
    val bcConf = spark.sparkContext.broadcast(confSer)
    val bcPrev = spark.sparkContext.broadcast(prevPaths)
    val updated = hashes.select(col("url_hash")).as[Long]
      .groupByKey(h => SeenSet.shardOf(h, P))
      .mapGroups { (pid, it) =>
        FaultInjection.maybeFail(s"$site.pre")
        val conf = bcConf.value.value
        var n = 0L
        val counted = it.map { h => n += 1; h }
        update(Option(bcPrev.value(pid)).map(ShardFilter.read(_, conf)), counted) match {
          case None => (pid, n, null: String)
          case Some(f) =>
            // CONTENT-UNIQUE filename (uuid): shard files are immutable
            // once written, so the executor-level BloomShardCache can key
            // on path alone — a fixed name would let a same-JVM rebuild
            // (runFresh on the same snapshotRoot) serve a stale cached
            // filter and break the no-false-negative invariant.
            // Write-temp-then-rename keeps a killed task from leaving a
            // half-written file under the final name; the uuid name makes
            // retries collision-free.
            val fs = new HPath(outDir).getFileSystem(conf)
            val name = s"shard-$pid.${UUID.randomUUID()}.bin"
            val tmp = new HPath(s"$outDir/.$name.tmp")
            val out = new DataOutputStream(new BufferedOutputStream(fs.create(tmp, true)))
            try f.writeTo(out) finally out.close()
            require(fs.rename(tmp, new HPath(s"$outDir/$name")),
              s"shard rename failed: $tmp -> $outDir/$name")
            // side effect complete — a failure HERE is the hard retry
            // case: the renamed file must stay an unreferenced orphan
            FaultInjection.maybeFail(s"$site.post")
            (pid, n, s"$outDir/$name")
        }
      }
      .collect()
    val paths = prevPaths.clone()
    updated.foreach { case (pid, _, path) => if (path != null) paths(pid) = path }
    val byPid = updated.map(t => t._1 -> t._2).toMap
    (paths, (0 until P).map(i => byPid.getOrElse(i, 0L)))
  }

  /** The ONE implementation of the round-aware retire mask: `seen` rows
    * (with a `first_round` column) minus those a tombstone
    * (url_hash, retire_round) covers — a row is retired iff a tombstone
    * matches its hash AND `first_round < retire_round`, so a URL
    * re-acquired after the retire stays live. Tombstones are tiny (one
    * retire's URLs) → broadcast; left_anti keeps the seen side's
    * partitioning, so bucketed-base scans stay exchange-free. Shared by
    * the probe path here, the engine's seen()/seenAsOf reads and the
    * compaction fold — three hand-copies of this predicate diverging
    * would bake retired rows into the base with no error
    * (review finding). */
  def maskTombstones(seen: DataFrame, tomb: DataFrame): DataFrame =
    seen.join(broadcast(tomb),
      seen("url_hash") === tomb("url_hash") &&
        seen("first_round") < tomb("retire_round"), "left_anti")

  /** J1 two-phase dedup: rows of `cand` whose url_hash is NOT in the seen
    * set. Bloom-negative rows bypass the join (no false negatives);
    * bloom-positive rows are exactly anti-joined against every frame in
    * `seenParts` in turn — the engine passes [recent deltas, bucketed
    * base table] so the big compacted base is scanned bucket-aligned
    * (no exchange, no sort on the base side) while the small deltas
    * broadcast. The probe is the codegen [[BloomMightContain]]
    * expression; callers should co-partition `cand` by
    * `pmod(url_hash, P)` so each executor loads only its own shards.
    * Returns the result, a cleanup thunk releasing the probe-stage
    * cache — call it once the result has been materialized (round 1
    * leaked one cached frame per crawl round) — and, on the bloom path,
    * an EXACT candidate-count thunk (a count() on the already-hot
    * probe-stage cache; call it after materializing, before cleanup).
    * The engine's headline dedup metric uses it instead of an
    * Observation: the union above `tagged` has two consuming stages
    * whose racing first-materialization can double-fire CollectMetrics
    * accumulators on recomputed cache partitions (review finding).
    * `tombstones` (url_hash, retire_round — engine retireHost) masks seen
    * rows with `first_round < retire_round` out of the seen side, so a
    * retired-then-relinked URL counts as NEW (re-discoverable) without the
    * base file having been rewritten; rows the host re-acquired AFTER the
    * retire (first_round >= retire_round) stay seen. Tombstones are tiny
    * (one retire's URLs) → broadcast; the mask keeps the base side's
    * bucketed partitioning, so the big anti-join stays exchange-free. */
  def newUrls(spark: SparkSession, cand: DataFrame, seenParts: Seq[DataFrame],
              reader: Option[BloomShardReader],
              tombstones: Option[DataFrame] = None): (DataFrame, () => Unit, Option[() => Long]) = {
    def liveHashes(seen: DataFrame): DataFrame = tombstones match {
      case Some(tomb) => maskTombstones(seen, tomb).select("url_hash")
      case None => seen.select("url_hash")
    }
    def antiAll(df: DataFrame): DataFrame =
      seenParts.foldLeft(df)((acc, seen) =>
        acc.join(liveHashes(seen), Seq("url_hash"), "left_anti"))
    reader match {
      case Some(rd) =>
        val probe = Shim.col(BloomMightContain(Shim.expr(col("url_hash")), rd))
        val tagged = cand.withColumn("__maybe", probe).persist(StorageLevel.MEMORY_AND_DISK)
        val definitelyNew = tagged.filter(!col("__maybe")).drop("__maybe")
        val maybeSeen = antiAll(tagged.filter(col("__maybe")).drop("__maybe"))
        (definitelyNew.unionByName(maybeSeen),
          () => { tagged.unpersist(false); () },
          Some(() => tagged.count()))
      case None =>
        (antiAll(cand), () => (), None)
    }
  }
}
