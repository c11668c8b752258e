package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args: ${args.mkString(" ")})")
    val Array(sfDir, outDir) = args
    // Verify is only meaningful at the Correctness tier: every oracle
    // path (CrawlOps.FX/GOLD, VectorOps.GOLD) pins the sf0.01 fixture
    // and golden dirs, so running another tier would compare that
    // tier's engine output against sf0.01 oracles — fail loud instead
    require(graft.corpus.CorpusGen.tierFor(sfDir) == graft.corpus.CorpusGen.Correctness,
      s"graft.Verify runs at the Correctness tier only (sf0.01 — the " +
        s"driver's gate); got $sfDir. The oracle SQL and golden fixtures " +
        "are pinned to that tier's paths.")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // golden fixtures for the non-SQL-expressible queries (q09/q29/q35):
    // independent sequential-model output the DuckDB oracle reads back
    // writeAll wipes the golden dir first, so a failure here leaves NO
    // stale fixtures — the golden-backed queries then fail loudly in the
    // DuckDB gate (missing parquet) instead of comparing against last
    // run's output (review finding); the other queries still validate
    try graft.oracle.GoldenOracles.writeAll(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] golden-oracle generation failed " +
        s"(golden-backed queries will be red, not stale): ${e.getMessage}")
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // a query may return a persisted frame (ownership transfers to
        // the caller — see QueriesSpec's leak contract); release it
        df.unpersist(false)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failed += name
        // a reused outDir (the documented /tmp/verify_out) would still
        // hold the PREVIOUS run's parquet for this query — which the
        // gate would compare green against the oracle. Delete it so a
        // crashed query is visibly missing/red, never silently stale
        // (the same staleness class writeAll's wipe guards the goldens
        // against; review finding).
        val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val lfs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (lfs.exists(stale)) lfs.delete(stale, true)
      }
      // queries must not leak cached data into each other (see Bench)
      if (!org.apache.spark.sql.graftinternal.Shim.cacheIsEmpty(spark))
        spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      // all artifacts are written (the gate can still judge the healthy
      // queries), but the run itself must not read as success
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
