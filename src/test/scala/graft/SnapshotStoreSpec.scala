package graft

import graft.crawl.{CommitConflictException, SnapshotStore}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** A filesystem whose rename ALWAYS refuses — models an object store with
  * no (atomic) rename. Registered under the `norename://` scheme; any
  * code path that tries to rename through it fails the test loudly. */
class NoRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename is not available on this store: $src -> $dst")
}

/** Counts opens of manifest.d entry objects — pins the immutable-entry
  * cache's GET economics (a 1000-round crawl reads the manifest every
  * round; without the cache that is O(rounds²) GETs over its lifetime). */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (p.toString.contains("manifest.d/")) CountingFileSystem.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
}
object CountingFileSystem {
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
}

/** Manifest commit contract (SnapshotStore class doc): the store must
  * commit and read rounds without EVER invoking rename, tolerate torn
  * in-flight entries, resolve duplicate-round races deterministically,
  * and refuse to silently read a store that predates the single
  * `manifest.d/` protocol. */
class SnapshotStoreSpec extends AnyFunSuite {

  private def freshDir(name: String): String = {
    val d = new java.io.File(s"target/test-snapstore/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  private def confWith(kv: (String, String)*): Configuration = {
    val c = new Configuration()
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The seen paths of the last committed entry. */
  private def liveSeen(store: SnapshotStore): Seq[String] =
    store.pathsOf(store.readManifest().last, "seen_paths")

  private def entry(store: SnapshotStore, round: Int, seenPaths: Seq[String]): String =
    store.entryJson(round, round - 1, Map("frontier" -> 10L, "seen_delta" -> 5L),
      Seq(2L, 3L), Map("fetched_total" -> (round * 10).toDouble), seenPaths,
      Seq.empty, 2)

  test("log mode: commit + read back rounds with no rename anywhere " +
      "(rename-refusing FS)") {
    val conf = confWith(
      "fs.norename.impl" -> classOf[NoRenameFileSystem].getName)
    val root = "norename://" + freshDir("lognorename")
    val store = new SnapshotStore(root, conf)
    (0 to 3).foreach(r => store.commit(entry(store, r, Seq(s"$root/round=$r/seen_delta"))))
    assert(store.committedRounds() == Seq(0, 1, 2, 3))
    assert(store.lastCommitted().contains(3))
    assert(liveSeen(store) == Seq(s"$root/round=3/seen_delta"))
    assert(store.readManifest().last("partitions") == 2)
    assert(store.metricOf(store.readManifest().last, "fetched_total") == 30.0)
    assert(!store.fs.exists(new Path(store.root, "manifest.jsonl")),
      "commits must not write a whole-file manifest")
  }

  test("log mode: a torn in-flight entry is invisible (not committed), " +
      "then visible once a full entry lands") {
    val conf = confWith()
    val root = freshDir("torn")
    val store = new SnapshotStore(root, conf)
    store.commit(entry(store, 0, Seq(s"$root/round=0/seen_delta")))
    // simulate a torn PUT: a truncated JSON prefix for round 1
    val dir = new java.io.File(root, "manifest.d")
    val torn = new java.io.File(dir, "r000000001-torn.json")
    val w = new java.io.FileWriter(torn)
    try w.write("""{"round": 1, "rows": {"fron""") finally w.close()
    assert(store.committedRounds() == Seq(0), "torn entry must not be visible")
    assert(store.lastCommitted().contains(0))
    store.commit(entry(store, 1, Seq(s"$root/round=1/seen_delta")))
    assert(store.committedRounds() == Seq(0, 1))
  }

  test("log mode: duplicate commits of the same round resolve " +
      "deterministically (first file name wins)") {
    val conf = confWith()
    val root = freshDir("dup")
    val store = new SnapshotStore(root, conf)
    store.commit(entry(store, 0, Seq.empty))
    // two racers both committed round 1 with different payloads
    val dir = new java.io.File(root, "manifest.d")
    def put(name: String, fetched: Double): Unit = {
      val w = new java.io.FileWriter(new java.io.File(dir, name))
      try w.write(store.entryJson(1, 0, Map("frontier" -> 1L), Seq(1L),
        Map("fetched_total" -> fetched), Seq.empty) + "\n")
      finally w.close()
    }
    put("r000000001-bbbb.json", 222.0)
    put("r000000001-aaaa.json", 111.0)
    assert(store.committedRounds() == Seq(0, 1))
    assert(store.metricOf(store.readManifest().last, "fetched_total") == 111.0,
      "lexicographically-first entry must win the duplicate-round race")
  }

  test("a root holding manifest.jsonl refuses to read as empty") {
    // a store from before the single manifest.d/ protocol kept its whole
    // history in one manifest.jsonl: reading it as "no commits" would let
    // the next commit start a fresh history over the old rounds
    val root = freshDir("legacymanifest")
    val store = new SnapshotStore(root, confWith())
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifest.jsonl"),
      (entry(store, 0, Seq.empty) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[IllegalArgumentException] { store.lastCommitted() }
    assert(ex.getMessage.contains("predates"), ex.getMessage)
    intercept[IllegalArgumentException] { store.commit(entry(store, 0, Seq.empty)) }
    assert(!new java.io.File(root, "manifest.d").exists(),
      "a refused commit must not start a manifest.d history")
  }

  test("a reader racing a manifest.d entry's data/.crc window retries " +
      "past the ChecksumException") {
    // On a checksummed FS an entry's data file and its .crc sibling are
    // separate files; a concurrent reader can see data against a
    // checksum that does not match it yet. Model the window
    // deterministically: corrupt a committed entry's bytes under its
    // .crc, heal them mid-retry.
    val root = freshDir("crcrace")
    val store = new SnapshotStore(root, confWith())
    store.commit(entry(store, 0, Seq.empty))
    val dataFile = java.nio.file.Paths.get(root, "manifest.d", "r000000000.json")
    val original = java.nio.file.Files.readAllBytes(dataFile)
    val torn = original.clone(); torn(0) = (torn(0) ^ 0x7).toByte
    java.nio.file.Files.write(dataFile, torn) // raw write: .crc now stale

    val healer = new Thread(() => {
      Thread.sleep(60) // inside the reader's retry window (20+40+... ms)
      // atomic replace: an in-place write truncates first, and the
      // reader polling mid-heal would see an EMPTY file that passes
      // checksumming (no chunks)
      val tmp = java.nio.file.Paths.get(root, "heal.tmp")
      java.nio.file.Files.write(tmp, original)
      java.nio.file.Files.move(tmp, dataFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    })
    healer.start()
    // a fresh instance: the committer's own entry cache would skip the read
    assert(new SnapshotStore(root, confWith()).committedRounds() == Seq(0),
      "reader must ride out the entry's checksum window")
    healer.join()
  }

  test("commit CAS precondition (both modes): committing a round the store " +
      "already has conflicts BEFORE writing; history intact; next round fine") {
    val root = freshDir("cas")
    val store = new SnapshotStore(root, confWith())
    (0 to 2).foreach(r => store.commit(entry(store, r, Seq.empty)))
    // a split-brain driver that fell behind: its next commit targets a
    // round the competing driver already advanced past (differing
    // payload — a byte-identical re-commit of the LAST round is the
    // idempotent-retry case and succeeds by design)
    for (stale <- Seq(1, 2)) {
      val ex = intercept[CommitConflictException] {
        store.commit(entry(store, stale, Seq(s"$root/round=$stale/stale-attempt")))
      }
      assert(ex.getMessage.contains("lost to a concurrent committer"), ex.getMessage)
    }
    assert(store.committedRounds() == Seq(0, 1, 2), "history damaged")
    store.commit(entry(store, 3, Seq.empty)) // the legitimate next round
    assert(store.committedRounds() == Seq(0, 1, 2, 3))
  }

  test("log mode: losing the exclusive-create CAS throws CommitConflict; the " +
      "loser writes nothing; readers see the winner") {
    val root = freshDir("casrace")
    val store = new SnapshotStore(root,
      confWith())
    store.commit(entry(store, 0, Seq.empty))
    // land a competitor INSIDE the race window (after our precondition
    // read, before our exclusive create) at the round's fixed name
    val competitor = entry(store, 1, Seq(s"$root/round=1/competitor"))
    val dir = new java.io.File(root, "manifest.d")
    store.beforeLogCreate = () => {
      val w = new java.io.FileWriter(new java.io.File(dir, "r000000001.json"))
      try w.write(competitor + "\n") finally w.close()
    }
    try {
      val ex = intercept[CommitConflictException] {
        store.commit(entry(store, 1, Seq(s"$root/round=1/loser")))
      }
      assert(ex.getMessage.contains("lost to a concurrent committer"), ex.getMessage)
    } finally store.beforeLogCreate = () => ()
    // exactly one round-1 entry exists (the loser never wrote), and every
    // reader resolves the competitor's payload
    val round1 = dir.listFiles().map(_.getName).filter(_.startsWith("r000000001"))
    assert(round1.toSeq == Seq("r000000001.json"), round1.mkString(", "))
    assert(store.committedRounds() == Seq(0, 1))
    assert(liveSeen(new SnapshotStore(root, confWith())) == Seq(s"$root/round=1/competitor"))
  }

  test("log mode: a crashed committer's torn entry squatting on the round is " +
      "taken over; a LIVE competitor finishing mid-retry wins instead") {
    // crashed-committer case: torn bytes at the fixed name, no one coming
    // back — the next committer must recover the round, not wedge forever
    val root = freshDir("tornsquat")
    // small takeover gate: the planted torn entry is fresh, and the test
    // must not wait out the production default (60 s) before reclaiming
    val store = new SnapshotStore(root,
      confWith("graft.snapshot.takeover.ms" -> "150"))
    store.commit(entry(store, 0, Seq.empty))
    val dir = new java.io.File(root, "manifest.d")
    store.beforeLogCreate = () => {
      val w = new java.io.FileWriter(new java.io.File(dir, "r000000001.json"))
      try w.write("""{"round": 1, "rows": {"fron""") finally w.close()
    }
    try store.commit(entry(store, 1, Seq(s"$root/round=1/ours")))
    finally store.beforeLogCreate = () => ()
    assert(liveSeen(new SnapshotStore(root, confWith())) == Seq(s"$root/round=1/ours"))

    // live-writer case: the occupant's torn entry COMPLETES inside the
    // retry window (a slow competitor, not a crashed one) — we must lose,
    // not take over
    val root2 = freshDir("tornlive")
    val store2 = new SnapshotStore(root2,
      confWith())
    store2.commit(entry(store2, 0, Seq.empty))
    val dir2 = new java.io.File(root2, "manifest.d")
    val competitor = entry(store2, 1, Seq(s"$root2/round=1/competitor"))
    store2.beforeLogCreate = () => {
      val w = new java.io.FileWriter(new java.io.File(dir2, "r000000001.json"))
      try w.write("""{"round": 1, "rows": {"fron""") finally w.close()
      new Thread(() => {
        Thread.sleep(60) // inside the retry window (20+40+... ms)
        val tmp = new java.io.File(dir2, "heal.tmp")
        val w2 = new java.io.FileWriter(tmp)
        try w2.write(competitor + "\n") finally w2.close()
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(dir2, "r000000001.json").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }).start()
    }
    try {
      intercept[CommitConflictException] {
        store2.commit(entry(store2, 1, Seq(s"$root2/round=1/loser")))
      }
    } finally store2.beforeLogCreate = () => ()
    assert(liveSeen(new SnapshotStore(root2, confWith())) == Seq(s"$root2/round=1/competitor"))
  }

  test("log mode: a committer stalled past the takeover gate mid-commit is " +
      "reclaimed — the reclaimer wins ALONE and the stalled one gets a " +
      "conflict from its read-back, never a false win") {
    val root = freshDir("stalledreclaim")
    val conf = confWith("graft.snapshot.takeover.ms" -> "150")
    val stalled = new SnapshotStore(root, conf)
    val reclaimer = new SnapshotStore(root, conf)
    stalled.commit(entry(stalled, 0, Seq.empty))
    val created = new java.util.concurrent.CountDownLatch(1)
    stalled.afterLogCreate = () => {
      created.countDown()
      Thread.sleep(700) // a GC-pause-class stall between create and write
    }
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try stalled.commit(entry(stalled, 1, Seq(s"$root/round=1/stalled")))
      catch { case e: Throwable => outcome.set(e) }
    })
    try {
      t.start()
      created.await()
      Thread.sleep(250) // age the torn entry past the 150 ms gate
      // the reclaimer finds stale torn debris and takes the round over
      // (delete + exclusive create — the old overwrite-based takeover
      // let the stalled writer's late bytes land at the committed name
      // and BOTH committers conclude they won)
      reclaimer.commit(entry(reclaimer, 1, Seq(s"$root/round=1/reclaimed")))
      t.join()
    } finally stalled.afterLogCreate = () => ()
    assert(outcome.get() != null &&
      outcome.get().isInstanceOf[CommitConflictException],
      s"stalled committer must lose via read-back, got ${outcome.get()}")
    assert(liveSeen(new SnapshotStore(root, conf)) ==
      Seq(s"$root/round=1/reclaimed"),
      "readers must resolve the reclaimer's entry")
  }

  test("idempotent retry of a round the store has advanced PAST succeeds " +
      "byte-identically and conflicts otherwise (both modes)") {
    val root = freshDir("idempast")
    val store = new SnapshotStore(root, confWith())
    val e1 = entry(store, 1, Seq(s"$root/round=1/seen"))
    store.commit(entry(store, 0, Seq.empty))
    store.commit(e1)
    store.commit(entry(store, 2, Seq(s"$root/round=2/seen")))
    // a driver that crashed between durably committing round 1 and
    // recording it locally retries AFTER a competitor advanced the
    // store to round 2: the honest answer is "committed", not a
    // conflict claiming the attempt wrote nothing (whose caller might
    // sweep round 1's referenced files as orphans)
    store.commit(e1)
    assert(store.committedRounds() == Seq(0, 1, 2), "history damaged")
    // a DIFFERENT round-1 payload is still a genuine conflict
    intercept[CommitConflictException] {
      store.commit(entry(store, 1, Seq(s"$root/round=1/other")))
    }
  }

  test("log mode: a wipe + fresh table whose round-0 entry collides on " +
      "(length, mtime) still invalidates other instances' caches — the " +
      "table marker, not the timestamp, carries the identity") {
    val conf = confWith()
    val root = freshDir("wipemarker")
    val store = new SnapshotStore(root, conf)
    val reader = new SnapshotStore(root, conf) // long-lived dashboard
    store.commit(entry(store, 0, Seq(s"$root/old-table/round=0/seenX")))
    assert(liveSeen(reader) == Seq(s"$root/old-table/round=0/seenX"))
    val entryPath = new Path(s"$root/manifest.d/r000000000.json")
    val oldStatus = store.fs.getFileStatus(entryPath)
    store.wipe()
    store.commit(entry(store, 0, Seq(s"$root/new-table/round=0/seenY")))
    // force the collision the (len, mtime) key cannot distinguish:
    // object-store mtime is ~second granularity, and same-shape round-0
    // entries have identical byte length — pin the fresh entry's mtime
    // to the dead one's
    store.fs.setTimes(entryPath, oldStatus.getModificationTime, -1)
    assert(store.fs.getFileStatus(entryPath).getLen == oldStatus.getLen,
      "test setup: entry lengths must collide for the scenario to bite")
    assert(liveSeen(reader) == Seq(s"$root/new-table/round=0/seenY"),
      "reader served the dead table's cached entry despite the marker")
  }

  test("idempotent retry: re-committing the byte-identical winning entry " +
      "succeeds without duplicating it (both modes)") {
    val root = freshDir("idem")
    val store = new SnapshotStore(root, confWith())
    store.commit(entry(store, 0, Seq.empty))
    val e1 = entry(store, 1, Seq(s"$root/round=1/seen"))
    store.commit(e1)
    store.commit(e1) // a driver retrying after an ambiguous failure
    assert(store.committedRounds() == Seq(0, 1), "duplicated")
    // but a DIFFERENT round-1 payload is a genuine conflict
    intercept[CommitConflictException] {
      store.commit(entry(store, 1, Seq(s"$root/round=1/other")))
    }
  }

  test("log mode: a wipe + fresh table at the same root must not be read " +
      "through the dead table's entry cache (fixed names REPEAT)") {
    val conf = confWith()
    val root = freshDir("wipecache")
    val store = new SnapshotStore(root, conf)
    val reader = new SnapshotStore(root, conf) // long-lived dashboard
    store.commit(entry(store, 0, Seq(s"$root/old-table/round=0/seen")))
    assert(liveSeen(reader) == Seq(s"$root/old-table/round=0/seen")) // warm its cache
    // new table at the same root: round 0's entry name is REUSED
    store.wipe()
    store.commit(entry(store, 0, Seq(s"$root/new-table/round=0/seen")))
    assert(liveSeen(store) == Seq(s"$root/new-table/round=0/seen"),
      "the wiping instance served the dead table's cached entry")
    assert(liveSeen(reader) == Seq(s"$root/new-table/round=0/seen"),
      "a reader in another 'process' served the dead table's cached entry")
  }

  test("log mode: immutable committed entries are GET once per store, not " +
      "once per read (the O(rounds²) object-store bill)") {
    val conf = confWith(
      "fs.countfs.impl" -> classOf[CountingFileSystem].getName)
    val root = "countfs://" + freshDir("logcache")
    val store = new SnapshotStore(root, conf)
    (0 to 4).foreach(r => store.commit(entry(store, r, Seq.empty)))
    store.readManifest() // warm any entry the committer itself didn't cache
    val before = CountingFileSystem.opens.get()
    (1 to 10).foreach(_ => assert(store.committedRounds() == (0 to 4)))
    assert(CountingFileSystem.opens.get() == before,
      s"re-reads re-GET immutable entries " +
        s"(${CountingFileSystem.opens.get() - before} extra opens)")
    // a FRESH store instance (no cache) still reads everything correctly
    assert(new SnapshotStore(root, conf).committedRounds() == (0 to 4))
  }
}
