package graft.crawl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Queryable snapshot history — the Iceberg `.snapshots` / `.history`
  * metadata-table analogue for the engine's manifest (BASELINE.json:14
  * "resumable ... with per-partition lineage + metrics": this is the
  * surface that makes the lineage and metrics *queryable* with the same
  * DataFrame API as the data, instead of parseable-by-hand JSON).
  *
  * One row per committed round, assembled driver-side from ONE
  * [[SnapshotStore.readManifest]] snapshot (the manifest is O(rounds)
  * metadata, not data — a 1000-round crawl yields a 1000-row DataFrame,
  * so driver assembly is the right cost model, same as Iceberg's own
  * metadata tables). Columns:
  *
  *  - `round`, `parent`, `partitions` — commit identity and layout.
  *  - `rows` — the entry's row counters (frontier / seen_delta / fetchlog).
  *  - `seen_delta_partition_rows` — per-partition lineage: row counts of
  *    the round's seen-set CHANGE per `pmod(url_hash, P)` bucket
  *    (negative for retire rounds; the running per-bucket sum equals the
  *    live per-bucket seen counts at every round).
  *  - `metrics` — the engine's per-round metrics map (fetched_total, ...).
  *  - path columns — the files the round references (seen/bloom/tombstone
  *    lists, and the entry's raw host-ready / frontier / fetch-log
  *    pointers, null where the entry has none: `fetchlog_path` for rounds
  *    that committed no fetch log, e.g. round 0, and every pointer for
  *    entries committed without them).
  */
object SnapshotHistory {

  val schema: StructType = StructType(Seq(
    StructField("round", IntegerType, nullable = false),
    StructField("parent", IntegerType, nullable = false),
    StructField("partitions", IntegerType, nullable = false),
    StructField("rows", MapType(StringType, LongType, valueContainsNull = false), nullable = false),
    StructField("seen_delta_partition_rows", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("metrics", MapType(StringType, DoubleType, valueContainsNull = false), nullable = false),
    StructField("seen_paths", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("bloom_paths", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("tombstone_paths", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("hostready_path", StringType, nullable = true),
    StructField("frontier_path", StringType, nullable = true),
    StructField("fetchlog_path", StringType, nullable = true)
  ))

  def apply(spark: SparkSession, store: SnapshotStore): DataFrame = {
    val rows: Seq[Row] = store.readManifest().map { e =>
      val rowCounts = Option(e.getOrElse("rows", null))
        .map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
          .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() })
        .getOrElse(Map.empty[String, Long])
      val lineage = Option(e.getOrElse("seen_delta_partition_rows", null))
        .map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq
          .map(_.asInstanceOf[Number].longValue()))
        .getOrElse(Seq.empty[Long])
      val metrics = Option(e.getOrElse("metrics", null))
        .map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
          .map { case (k, v) => k -> v.asInstanceOf[Number].doubleValue() })
        .getOrElse(Map.empty[String, Double])
      Row(
        e("round").asInstanceOf[Number].intValue(),
        e("parent").asInstanceOf[Number].intValue(),
        Option(e.getOrElse("partitions", null)).map(_.asInstanceOf[Number].intValue()).getOrElse(0),
        rowCounts,
        lineage,
        metrics,
        store.pathsOf(e, "seen_paths"),
        store.pathsOf(e, "bloom_paths"),
        store.pathsOf(e, "tombstone_paths"),
        store.pointer(e, "hostready_path").orNull,
        store.pointer(e, "frontier_path").orNull,
        store.pointer(e, "fetchlog_path").orNull
      )
    }
    spark.createDataFrame(rows.asJava, schema)
  }
}
