package graft

import graft.streaming.FrontierStream
import graft.streaming.FrontierStream.{Discovery, NewUrl}
import graft.urls.UrlHash
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class FrontierStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def disc(u: String, ts: Long): Discovery =
    Discovery(u, UrlHash.hash64(u), "h.example", 0, new java.sql.Timestamp(ts))

  test("streaming seen-set dedup emits each URL exactly once across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Discovery]
    val deduped = FrontierStream.dedupStream(spark, input.toDS())
    val query = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(disc("https://a.example/p1", 1000), disc("https://a.example/p2", 2000),
        disc("https://a.example/p1", 3000))
      query.processAllAvailable()
      input.addData(disc("https://a.example/p2", 4000), disc("https://a.example/p3", 5000))
      query.processAllAvailable()
      val got = spark.table("dedup_out").as[NewUrl].collect().map(_.url_canon).sorted
      assert(got.toSeq == Seq("https://a.example/p1", "https://a.example/p2", "https://a.example/p3"))
    } finally query.stop()
  }

  test("streaming politeness: exact per-host delay gaps, pinned in-batch " +
      "order, clock carried across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Discovery]
    val delays = Map("a.example" -> 100L, "b.example" -> 250L)
    val sched = FrontierStream.politenessStream(spark, input.toDS(),
      h => delays.getOrElse(h, 1000L))
    val query = sched.writeStream
      .format("memory").queryName("sched_out")
      .outputMode(OutputMode.Append())
      .start()
    def d(u: String, host: String, depth: Int): Discovery =
      Discovery(u, UrlHash.hash64(u), host, depth, new java.sql.Timestamp(0))
    try {
      input.addData(d("https://a.example/1", "a.example", 0),
        d("https://a.example/2", "a.example", 0),
        d("https://b.example/1", "b.example", 1))
      query.processAllAvailable()
      input.addData(d("https://a.example/3", "a.example", 1),
        d("https://b.example/2", "b.example", 0))
      query.processAllAvailable()
      val got = spark.table("sched_out").as[FrontierStream.Scheduled].collect()
      assert(got.length == 5)
      // per host: fetch_ts is exactly 0, delay, 2*delay, ... across batches
      for ((host, delay) <- delays) {
        val ts = got.filter(_.host == host).map(_.fetch_ts).sorted.toSeq
        assert(ts == ts.indices.map(_ * delay), s"$host: $ts")
      }
      // cross-batch continuation: batch 2's a.example URL continues at 200
      assert(got.find(_.url_canon == "https://a.example/3").get.fetch_ts == 200L)
      // pinned within-batch order: equal depth breaks by url_hash
      val batch1a = got.filter(e => e.host == "a.example" && e.fetch_ts < 200)
        .sortBy(_.fetch_ts).map(_.url_hash).toSeq
      assert(batch1a == Seq("https://a.example/1", "https://a.example/2")
        .map(UrlHash.hash64).sorted)
    } finally query.stop()
  }

  test("watermarked per-host rate aggregation runs") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Discovery]
    val rates = FrontierStream.hostRates(input.toDS())
    val query = rates.writeStream
      .format("memory").queryName("rates_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(disc("https://a.example/p1", 1000), disc("https://a.example/p2", 2000))
      query.processAllAvailable()
      // advance watermark far enough to close the first window
      input.addData(disc("https://a.example/p9", 120000))
      query.processAllAvailable()
      val rows = spark.table("rates_out").collect()
      assert(rows.exists(_.getAs[Long]("n_discovered") == 2L), rows.mkString(","))
    } finally query.stop()
  }

  for ((provider, tag) <- Seq(
    (null, "hdfs-backed"), // session default
    ("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "rocksdb"))) // the 10^7+-key provider the scaladoc points production at
  test(s"dedup state survives a query restart from the checkpoint ($tag " +
      "store): URLs seen before the stop are still suppressed after") {
    // The streaming side of the fault matrix: a streaming crawl's driver
    // dies and a new query restarts from checkpointLocation. A replayable
    // FILE source (MemoryStream can't recover across queries), a real
    // parquet sink (its own commit log gives exactly-once output), and
    // flatMapGroupsWithState state in the configured state store.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    if (provider != null) spark.conf.set(providerKey, provider)
    try restartRoundTrip(s"target/stream-restart-$tag")
    finally prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def restartRoundTrip(baseDir: String): Unit = {
    val base = new java.io.File(baseDir)
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckDir = new java.io.File(base, "ck").getAbsolutePath

    def writeFile(name: String, rows: Seq[Discovery]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"${srcDir.getAbsolutePath}/$name")

    def startQuery() = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Discovery]].schema)
        .option("maxFilesPerTrigger", "1") // several micro-batches per phase
        .parquet(s"${srcDir.getAbsolutePath}/*")
        .as[Discovery]
      FrontierStream.dedupStream(spark, src)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append())
        .start()
    }
    def emitted(): Seq[String] =
      spark.read.parquet(outDir).as[NewUrl].collect().map(_.url_canon).toSeq.sorted

    val a = Seq(disc("https://a.example/p1", 1000), disc("https://a.example/p2", 2000))
    val b = Seq(disc("https://a.example/p2", 3000), disc("https://a.example/p3", 4000))
    writeFile("a", a)
    writeFile("b", b)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted() == Seq("https://a.example/p1", "https://a.example/p2",
      "https://a.example/p3"))

    // "new driver": duplicates of URLs from BEFORE the stop plus one new —
    // only the new one may come out, i.e. the seen state was recovered
    // from the checkpoint, not rebuilt empty
    writeFile("c", Seq(disc("https://a.example/p1", 5000),
      disc("https://a.example/p3", 6000), disc("https://a.example/p4", 7000)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted() == Seq("https://a.example/p1", "https://a.example/p2",
      "https://a.example/p3", "https://a.example/p4"),
      "restart re-emitted an already-seen URL: state was not recovered")
  }
}
