package graft

import org.apache.spark.sql.functions._

/** Shuffle-free CPU microbench: canonicalize+hash N synthetic URLs.
  * Separates raw compute scaling from shuffle/GC effects — used in
  * BENCH/BASELINE.md to attribute the local-mode scaling ceiling. */
object BenchMicro {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val n = sys.env.getOrElse("SPARK_GRAFT_MICRO_N", "50000000").toLong
    val spark = GraftSession.local(cpus.toString, cpus)
    import spark.implicits._
    val t0 = System.nanoTime()
    val out = spark.range(0, n, 1, cpus * 4)
      .select(xxhash64(graft.functions.canonicalize_url(
        concat(lit("HTTPS://Host7.example:443/x/../p"), $"id", lit("%2f?q=1#f")))).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000L)))).as[Long].head()
    val sec = (System.nanoTime() - t0) / 1e9
    // second kernel: ALREADY-canonical input → exercises the
    // zero-allocation byte-scan fast path (the common case for ~half of
    // extracted crawl links)
    val t1 = System.nanoTime()
    val outFast = spark.range(0, n, 1, cpus * 4)
      .select(xxhash64(graft.functions.canonicalize_url(
        concat(lit("https://host7.example/x/p"), $"id", lit("?q=1")))).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000L)))).as[Long].head()
    val secFast = (System.nanoTime() - t1) / 1e9
    // third kernel: RELATIVE references against a canonical base →
    // exercises the round-3 single-allocation byte-merge resolve
    // (fastResolveAscii), the other half of extracted crawl links
    val t2 = System.nanoTime()
    val outRel = spark.range(0, n, 1, cpus * 4)
      .select(xxhash64(graft.functions.canonicalize_url(
        concat(lit("/rel/p"), $"id", lit("?q=1")),
        lit("https://host7.example/base/dir?x=0"))).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000L)))).as[Long].head()
    val secRel = (System.nanoTime() - t2) / 1e9
    // mixed kernel: the crawl's realistic link mix — half already-
    // canonical absolute (byte-scan pass-through), half plain relative
    // (byte-merge resolve); the round-3 scaling target (≥0.75 raw 2→8)
    val t3 = System.nanoTime()
    val outMix = spark.range(0, n, 1, cpus * 4)
      .select(xxhash64(graft.functions.canonicalize_url(
        when(pmod($"id", lit(2)) === 0,
          concat(lit("https://host7.example/x/p"), $"id", lit("?q=1")))
          .otherwise(concat(lit("/rel/p"), $"id", lit("?q=1"))),
        lit("https://host7.example/base/dir?x=0"))).as("h"))
      .agg(sum(pmod(col("h"), lit(1000000L)))).as[Long].head()
    val secMix = (System.nanoTime() - t3) / 1e9
    // robots kernel: the codegen RobotsAllows decision over a 1500-host
    // rule table (4 prefixes/host, 1/3 of probed hosts unlisted) —
    // isolates the byte-level matcher added late in round 3.
    val robotsIdx = new graft.crawl.RobotsIndex(
      (0 until 1000).map { k =>
        s"host$k.example" -> Array((false, "/private"), (true, "/private/pub"),
          (false, s"/p/${k % 7}"), (true, "/p"))
      }.toMap)
    val t4 = System.nanoTime()
    import org.apache.spark.sql.graftinternal.Shim
    val hostCol = concat(lit("host"), pmod($"id", lit(1500)), lit(".example"))
    val urlCol = concat(lit("https://"), hostCol, lit("/p/"), pmod($"id", lit(11)), lit("/doc?q=1"))
    val outRob = spark.range(0, n, 1, cpus * 4)
      .select(hostCol.as("host"), urlCol.as("url"))
      .filter(Shim.col(graft.crawl.RobotsAllows(Shim.expr(col("host")), Shim.expr(col("url")),
        robotsIdx)))
      .count()
    val secRob = (System.nanoTime() - t4) / 1e9
    println(s"""{"cpus":$cpus,"n":$n,"sec":$sec,"urls_per_sec":${n / sec},"checksum":$out,""" +
      s""""fastpath_sec":$secFast,"fastpath_urls_per_sec":${n / secFast},"checksum_fast":$outFast,""" +
      s""""relpath_sec":$secRel,"relpath_urls_per_sec":${n / secRel},"checksum_rel":$outRel,""" +
      s""""mixed_sec":$secMix,"mixed_urls_per_sec":${n / secMix},"checksum_mixed":$outMix,""" +
      s""""robots_sec":$secRob,"robots_urls_per_sec":${n / secRob},"robots_allowed":$outRob}""")
    spark.stop()
  }
}
