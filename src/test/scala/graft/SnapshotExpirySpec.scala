package graft

import graft.corpus.CorpusGen
import graft.crawl.{CrawlConfig, CrawlEngine, SnapshotHistory, SnapshotStore}
import graft.oracle.CrawlOracle
import org.apache.hadoop.fs.Path

/** Snapshot expiry (SnapshotStore.expireRounds — the Iceberg
  * expire_snapshots analogue) and time-travel reads (CrawlEngine.seenAsOf).
  * Contract under test: expiry deletes ONLY data files no kept round
  * references, never touches a fetchlog or the manifest, and the live
  * round stays byte-identically resumable afterwards. */
class SnapshotExpirySpec extends SparkTestBase {
  import spark.implicits._

  lazy val fixtureDir: String = CorpusGen.ensure(spark, CorpusGen.Smoke)
  lazy val corpus: CorpusGen.Corpus = CorpusGen.build(CorpusGen.Smoke)

  // seenCompactEvery=4 so the smoke crawl (~10 rounds) compacts at least
  // once — expiry then has superseded delta/base files to actually delete
  val cfg: CrawlConfig = CrawlConfig(
    maxDepth = 10, perHostPerRound = 25, partitions = 8,
    bloomShardCapacity = 50000L, seenCompactEvery = 4)

  private def snapDir(name: String) = s"target/test-expiry/$name"

  private def collectLog(e: CrawlEngine) =
    e.fetchLog().select("seq", "url_canon", "url_hash", "host", "depth",
        "round", "rn", "fetch_ts", "status", "doc_id")
      .as[(Long, String, Long, String, Int, Int, Int, Long, String, String)]
      .collect().sortBy(_._1).toVector

  private def collectSeen(df: org.apache.spark.sql.DataFrame) =
    df.select("url_hash", "url_canon", "first_round")
      .as[(Long, String, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

  lazy val oracleResult = new CrawlOracle(corpus, cfg).run()

  /** Full reference crawl, never expired. */
  lazy val full: CrawlEngine = {
    val e = new CrawlEngine(spark, fixtureDir, snapDir("full"), cfg)
    e.runFresh()
    e
  }

  test("history() is a queryable metadata table consistent with the manifest") {
    val h = full.history()
    val manifest = full.store.readManifest()
    assert(h.count() == manifest.size)
    assert(h.select("round").as[Int].collect().toSeq ==
      full.store.committedRounds(), "one row per committed round, in order")
    // per-partition lineage sums to the round's seen_delta row counter
    // (crawl rounds only — a retire round's lineage is the NEGATIVE
    // retired counts against a zero seen_delta; `full` has none, but the
    // filter states the invariant correctly)
    val perRound = h.where("metrics['retired'] IS NULL")
      .selectExpr("round", "rows['seen_delta']",
        "aggregate(seen_delta_partition_rows, 0L, (a, x) -> a + x)")
      .as[(Int, Long, Long)].collect()
    perRound.foreach { case (r, delta, linSum) =>
      assert(delta == linSum, s"lineage sum != seen_delta at round $r")
    }
    // the running lineage sum over all rounds equals the live seen set
    assert(perRound.map(_._3).sum == full.seen().count(),
      "total lineage != live seen count")
    // metrics are queryable and consistent: cumulative fetched_total of
    // the last round == the full fetch log; per-round scheduled sums to it
    h.createOrReplaceTempView("crawl_history")
    val (lastFetched, schedSum) = spark.sql(
      """SELECT max_by(metrics['fetched_total'], round),
        |       sum(metrics['scheduled']) FROM crawl_history""".stripMargin)
      .as[(Double, Double)].head()
    val logCount = full.fetchLog().count()
    assert(lastFetched.toLong == logCount, "fetched_total != fetch log rows")
    assert(schedSum.toLong == logCount, "sum(scheduled) != fetch log rows")
    // every round's fetchlog_path pointer resolves to exactly its rows
    val withLog = h.where("fetchlog_path IS NOT NULL")
      .select("fetchlog_path", "rows").collect()
    withLog.foreach { r =>
      val n = spark.read.parquet(r.getString(0)).count()
      assert(n == r.getMap[String, Long](1).get("fetchlog").get,
        s"fetchlog_path rows mismatch: ${r.getString(0)}")
    }
    assert(withLog.nonEmpty, "no round committed a fetch log pointer")
  }

  test("expireRounds deletes superseded state, keeps every fetchlog, and " +
      "the expired snapshot still matches the oracle") {
    val root = snapDir("expire-full")
    val e = new CrawlEngine(spark, fixtureDir, root, cfg)
    e.runFresh()
    val store = e.store
    val last = store.lastCommitted().get
    assert(last >= 5, s"smoke crawl too short for an expiry test: $last rounds")
    val logBefore = collectLog(e)
    val seenBefore = collectSeen(e.seen())
    // fetchlog of round r holds the fetches performed DURING round r
    // (committed by round r+1's entry, which carries its unique path);
    // capture the dirs pre-expiry
    val logDirs = store.fetchLogsOf(store.readManifest()).flatten
    assert(logDirs.nonEmpty)
    val entry0 = store.entryFor(0).get
    val frontier0 = store.frontierPathOf(entry0)
    val delta0 = store.pathsOf(entry0, "seen_paths").head

    val deleted = store.expireRounds(keepLast = 1)
    assert(deleted > 0, "expiry had nothing to delete after a 10-round crawl")

    // every fetchlog survives (the crawl's output)...
    logDirs.foreach(p => assert(store.exists(p), s"fetchlog $p was expired"))
    // ...and so does the full manifest (lineage + metrics history)
    assert(store.committedRounds().size == last + 1)

    // superseded state of early rounds is gone (round 0's frontier and
    // seed delta were compacted into the base long before the last round)
    assert(!store.exists(frontier0), "round 0 frontier kept")
    assert(!store.exists(delta0), "round 0 seen delta kept")

    // the live round reads identically after expiry
    assert(collectLog(e) == logBefore)
    assert(collectSeen(e.seen()) == seenBefore)
    assert(seenBefore.keySet == oracleResult.seen.keySet)

    // every live reference still exists (incl. bloom shard files whose
    // current version lives under an OLD round's blooms dir)
    val live = store.readManifest().last
    store.pathsOf(live, "seen_paths")
      .foreach(p => assert(store.exists(p), s"live seen path expired: $p"))
    store.pathsOf(live, "bloom_paths").filter(_ != null)
      .foreach(p => assert(store.exists(p), s"live bloom shard expired: $p"))
    assert(store.exists(store.hostReadyPathOf(live)))
  }

  test("resume after mid-crawl expiry completes byte-identically to the " +
      "uninterrupted crawl") {
    val root = snapDir("expire-resume")
    val e1 = new CrawlEngine(spark, fixtureDir, root, cfg)
    e1.runFresh(maxRounds = 3)
    val deleted = e1.store.expireRounds(keepLast = 1)
    assert(deleted > 0)
    val e2 = new CrawlEngine(spark, fixtureDir, root, cfg)
    e2.resume()
    assert(collectLog(e2) == collectLog(full))
    assert(collectSeen(e2.seen()) == collectSeen(full.seen()))
  }

  test("seenAsOf(r) time-travels to round r's exact seen set") {
    // a separate crawl stopped at round 3 is the ground truth for what
    // the full crawl's seen set WAS as of its round-3 commit
    val partial = new CrawlEngine(spark, fixtureDir, snapDir("asof-partial"), cfg)
    partial.runFresh(maxRounds = 3)
    val r = partial.store.lastCommitted().get
    assert(collectSeen(full.seenAsOf(r)) == collectSeen(partial.seen()))
    // the last round's as-of view IS the live view
    val last = full.store.lastCommitted().get
    assert(collectSeen(full.seenAsOf(last)) == collectSeen(full.seen()))
    intercept[IllegalArgumentException] { full.seenAsOf(last + 100) }
  }

  test("retire + expire: tombstone mask and parent-pointer host-ready survive") {
    val root = snapDir("expire-retire")
    val e = new CrawlEngine(spark, fixtureDir, root, cfg)
    e.runFresh()
    val host = e.seen().select("url_canon").as[String].head()
    val h = graft.urls.UrlCanon.hostOf(host)
    val retired = e.retireHost(h)
    assert(retired > 0)
    val seenBefore = collectSeen(e.seen())
    val deleted = e.store.expireRounds(keepLast = 1)
    assert(deleted > 0)
    // the retire round's manifest points at live tombstones and at the
    // PARENT round's host-ready file — both must survive expiry
    val live = e.store.readManifest().last
    e.store.pathsOf(live, "tombstone_paths").foreach(p => assert(e.store.exists(p)))
    assert(e.store.exists(e.store.hostReadyPathOf(live)))
    assert(collectSeen(e.seen()) == seenBefore)
    assert(!seenBefore.values.exists { case (u, _) => graft.urls.UrlCanon.hostOf(u) == h })
  }

  test("auto-expiry inside the crawl loop (expireEveryRounds) changes nothing " +
      "and sheds old state as it goes") {
    val root = snapDir("auto-expire")
    val e = new CrawlEngine(spark, fixtureDir, root,
      cfg.copy(expireEveryRounds = 3))
    e.runFresh()
    // crawl identical to the never-expired reference
    assert(collectLog(e) == collectLog(full))
    assert(collectSeen(e.seen()) == collectSeen(full.seen()))
    // early superseded state is gone without any manual expire call
    // (paths resolved off entry 0's pointers — the manifest itself is
    // never expired, so they stay addressable after deletion)
    val entry0 = e.store.entryFor(0).get
    assert(!e.store.exists(e.store.frontierPathOf(entry0)))
    assert(!e.store.exists(e.store.pathsOf(entry0, "seen_paths").head))
    // and a resume on the auto-expired snapshot still works (no-op here —
    // frontier is empty — but it must read the live state cleanly)
    val e2 = new CrawlEngine(spark, fixtureDir, root,
      cfg.copy(expireEveryRounds = 3))
    e2.resume()
    assert(collectLog(e2) == collectLog(full))
  }

  test("orphan (never-committed) round dirs are kept by default and removed " +
      "with removeOrphans=true") {
    val root = snapDir("expire-orphan")
    val e = new CrawlEngine(spark, fixtureDir, root, cfg)
    e.runFresh(maxRounds = 2)
    val store = e.store
    val orphan = new Path(store.roundDir(99))
    store.fs.mkdirs(new Path(orphan, "frontier"))
    store.expireRounds(keepLast = 1)
    assert(store.fs.exists(orphan), "default expiry must not touch orphans " +
      "(could be a concurrent crawl's in-flight round)")
    store.expireRounds(keepLast = 1, removeOrphans = true)
    assert(!store.fs.exists(orphan))
  }

  test("expireRounds(keepLast=k) keeps the last k rounds' references; " +
      "keepLast<1 refuses") {
    val root = snapDir("expire-keep2")
    val e = new CrawlEngine(spark, fixtureDir, root, cfg)
    e.runFresh()
    val store = e.store
    val last = store.lastCommitted().get
    store.expireRounds(keepLast = 2)
    // the previous round's frontier is inside the keep window
    assert(store.exists(store.frontierPathOf(store.entryFor(last - 1).get)))
    assert(store.exists(store.frontierPathOf(store.entryFor(last).get)))
    intercept[IllegalArgumentException] { store.expireRounds(keepLast = 0) }
  }

  test("a pre-pointer store fails loudly at resume, retire and expiry, " +
      "touching nothing; history still reads it with null pointers") {
    val root = snapDir("pre-pointer")
    val store = new SnapshotStore(root, spark.sparkContext.hadoopConfiguration)
    store.wipe()
    // the layout stores written before the pointer-carrying format used:
    // fixed per-round dir names, and entries without frontier_path,
    // hostready_path or fetchlog_path
    def dir(r: Int, kind: String): String = {
      val p = s"${store.roundDir(r)}/$kind"
      store.touch(s"$p/part-00000.snappy.parquet")
      p
    }
    for (r <- 0 to 1; kind <- Seq("frontier", "hostready")) dir(r, kind)
    dir(0, "fetchlog")
    val seen = Seq(dir(0, "seen_delta"), dir(1, "seen_delta"))
    val noShards = Seq.fill[String](cfg.partitions)(null)
    val lineage = Seq.fill(cfg.partitions)(0L)
    for (r <- 0 to 1)
      store.commit(store.entryJson(r, r - 1, Map("frontier" -> 1L), lineage,
        Map("fetched_total" -> r.toDouble), seen.take(r + 1), noShards, cfg.partitions))
    def files(): Seq[String] = {
      val it = store.fs.listFiles(new Path(store.root), true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().getPath.toString
      out.result().sorted
    }
    val before = files()
    def refused(what: String, field: String)(op: => Any): Unit = {
      val ex = intercept[IllegalStateException](op)
      assert(ex.getMessage.contains(field) && ex.getMessage.contains("predates"),
        s"$what: ${ex.getMessage}")
    }
    val e = new CrawlEngine(spark, fixtureDir, root, cfg)
    refused("resume", "frontier_path")(e.resume())
    refused("retireHost", "frontier_path")(e.retireHost("h0.example"))
    refused("hostReadyPathOf", "hostready_path")(
      store.hostReadyPathOf(store.readManifest().last))
    refused("expireRounds", "frontier_path")(
      store.expireRounds(keepLast = 1, removeOrphans = true))
    assert(files() == before, "a refused operation changed the store")
    assert(store.committedRounds() == Seq(0, 1))

    val h = SnapshotHistory(spark, store)
      .select("round", "hostready_path", "frontier_path", "fetchlog_path").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(h.forall(r => (1 to 3).forall(r.isNullAt)), h.mkString("; "))

    // a pointer-carrying round on top still leaves rounds 0-1 unreadable:
    // their logs sit at fixed names no entry points at, so an orphan
    // sweep would delete crawl output — expiry refuses before deleting
    store.commit(store.entryJson(2, 1, Map("frontier" -> 1L), lineage,
      Map("fetched_total" -> 2.0), seen, noShards, cfg.partitions,
      hostReadyPath = Some(dir(2, "hostready-0a0a0a0a")),
      frontierPath = Some(dir(2, "frontier-0a0a0a0a")),
      fetchLogPath = Some(dir(1, "fetchlog-0a0a0a0a"))))
    val upgraded = files()
    refused("expireRounds over a mixed store", "frontier_path")(
      store.expireRounds(keepLast = 1, removeOrphans = true))
    assert(files() == upgraded, "expiry deleted files before refusing")
  }
}
