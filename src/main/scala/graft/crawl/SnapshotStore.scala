package graft.crawl

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** A committer lost an optimistic-concurrency race: another driver
  * committed the same (or a later) round first. The Iceberg
  * `CommitFailedException` analogue — the caller must NOT treat its
  * attempt as durable; the correct reaction for a crawl driver is to die
  * (a second driver owns the store now) or re-resume from the winner's
  * state. Losers never mutate the manifest: the precondition reads
  * first, and the CAS is an exclusive create whose loser writes
  * nothing — a conflicted store never holds a loser's entry. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Serializable carrier for a Hadoop Configuration (Configuration itself
  * is a Writable, not Serializable) — shipped to executors so shard
  * build/probe tasks open the SAME FileSystem the driver committed
  * through (HDFS/S3/local). Spark's own SerializableConfiguration is
  * `private[spark]`. */
final class HadoopConfSer(@transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Iceberg-style snapshot layer over Parquet (SURVEY.md §0, §2.1 S3):
  * no Iceberg runtime jar exists in this sandbox, so the engine provides
  * its own immutable-data-files + manifest-log table format delivering the
  * north_rule's requirements (BASELINE.json:14): atomic per-round commits,
  * resume from any committed snapshot, per-partition lineage and metrics.
  *
  * All I/O goes through the Hadoop `FileSystem` API resolved from the
  * root path's scheme (round 2 used `java.nio.file` local paths, which a
  * spark-submit deployment on a real multi-executor cluster cannot use —
  * snapshots must live on shared storage: HDFS, S3A, or a cluster-local
  * scheme). The sandbox exercises the same code through
  * `RawLocalFileSystem`.
  *
  * ==Manifest commit protocol==
  * Round visibility is defined by the manifest, so manifest commit is the
  * only step that needs atomicity (data files land under not-yet-visible
  * `round=R/` dirs first). Commits never rewrite anything: each round is
  * ONE immutable JSON object at the round's FIXED name under `manifest.d/`
  * (`r<round%09d>.json`, exclusive-create — the concurrent-committer CAS,
  * see [[commit]]); readers list the directory and assemble the manifest
  * in name order. Visibility is object creation — atomic per object on
  * S3/GCS/ABFS, one arbitrated create on HDFS and the local FS — so no
  * reader ever observes a half-written manifest, and commit cost is O(1)
  * instead of O(rounds). No rename is called anywhere on the commit or
  * read path (verified by a rename-refusing FileSystem in tests), so the
  * one protocol runs unchanged on local FS, HDFS and object stores. An
  * entry that fails to parse (an in-flight PUT, or a crashed committer's
  * torn create) is treated as uncommitted, exactly like a data dir
  * without a manifest entry. (Pre-split-brain stores used
  * `r<round%09d>-<uuid>.json` names; readers still resolve them, first
  * name winning a duplicate round.) A root holding a `manifest.jsonl` —
  * the whole-file rename-swap manifest of stores that predate the single
  * protocol — fails loudly instead of reading as an empty store.
  *
  * ==Optimistic concurrency (split-brain safety)==
  * [[commit]] implements the Iceberg `CommitFailedException` contract:
  * two drivers racing commits on one store cannot silently fork or
  * truncate history — the loser gets [[CommitConflictException]]. The
  * guarantee is exact for concurrent committers (per-round winner
  * arbitration by exclusive create, then read-back verification). Data
  * files participate through UNIQUE per-commit paths ([[uniquePath]])
  * carried by the manifest entry — a loser's pre-conflict writes are
  * invisible orphans, never overwrites of files a winning commit
  * references.
  *
  * Layout under `root`. Every data dir is a unique-path form
  * ([[uniquePath]], e.g. `frontier-3fa9c1b2/`) that the manifest entry
  * points at; readers find a round's frontier, host-ready state and fetch
  * log ONLY through the entry's `frontier_path` / `hostready_path` /
  * `fetchlog_path` pointers. A store whose entries predate those pointers
  * (rounds ≤ 3 of this engine wrote fixed per-round names instead) fails
  * loudly at resume, retire and expiry instead of being read through
  * guessed paths:
  * {{{
  *   manifest.d/r<R>.json    one immutable JSON object per committed round
  *                           (R zero-padded to 9 digits; exclusive-created,
  *                           never rewritten)
  *   manifest.d/_table-u     empty marker carrying the table's identity
  *                           (written by the table's first commit)
  *   round=R/frontier-u/     parquet — the frontier entering round R
  *                           (entry field frontier_path)
  *   round=R/seen_delta-u/   parquet — url hashes first seen in round R-1's
  *                           expansion (round 0 delta = the seed list);
  *                           listed in seen_paths
  *   round=R/seen_base-u/    bucketed parquet — the compacted seen set
  *                           (listed in seen_paths)
  *   round=R/tombstones-u/   parquet — a retire round's masked url hashes
  *                           (listed in tombstone_paths)
  *   round=R/fetchlog-u/     parquet — fetches performed in round R
  *                           (pointed at by entry R+1's fetchlog_path)
  *   round=R/blooms/         one immutable uuid-named file per bloom shard
  *                           UPDATED in round R; the manifest's bloom_paths
  *                           array maps every shard id to its current file
  *                           (untouched shards keep pointing at older
  *                           rounds' files — no per-round copying)
  *   round=R/hostready-u/    parquet — per-host virtual ready time entering
  *                           round R (a Dataset, not a driver map: 10^7+
  *                           hosts at web scale; entry field hostready_path)
  * }}}
  *
  * A round is visible iff its manifest entry is present and parses;
  * partially-written round directories without one are ignored on resume
  * (the atomic-commit contract).
  */
final class SnapshotStore(rootSpec: String,
                          hadoopConf: Configuration = new Configuration()) {

  private val mapper = new ObjectMapper()

  /** The FS owning `root` (local in the sandbox; HDFS/S3A on a cluster). */
  lazy val fs: FileSystem = new Path(rootSpec).getFileSystem(hadoopConf)

  /** The snapshot root, FULLY QUALIFIED (scheme + absolute path). Every
    * derived path inherits the qualification — load-bearing for
    * multi-executor runs: shard files and manifest paths ship to executor
    * JVMs as strings, and a relative path would resolve against each
    * executor's own working directory, not the driver's (found by the
    * first local-cluster run: executors looked for `target/...` bloom
    * shards inside their scratch dirs). */
  lazy val root: String = fs.makeQualified(new Path(rootSpec)).toString

  /** Serializable conf for executor-side shard I/O (SeenSet). */
  lazy val confSer: HadoopConfSer = new HadoopConfSer(hadoopConf)

  /** Minimum age (ms, by the entry's store mtime) a TORN manifest entry
    * must reach before a competing committer reclaims its round's name —
    * a liveness/politeness knob bounding how long a stalled committer
    * keeps a round hostage, NOT the safety argument (single-winner safety
    * comes from the delete + exclusive-create reclaim plus the universal
    * read-back in [[commit]], which hold under arbitrary clock skew).
    * Default 60 s: far above any sane create→close gap, so a merely
    * GC-paused committer is never preempted in practice. */
  lazy val takeoverMs: Long =
    Option(hadoopConf.get("graft.snapshot.takeover.ms"))
      .map(_.toLong).getOrElse(60000L)

  def manifestLogDir: Path = new Path(root, "manifest.d")
  def roundDir(r: Int): String = s"$root/round=$r"
  def bloomsDir(r: Int): String = s"${roundDir(r)}/blooms"

  /** A fresh, never-before-used data dir for `kind` under round `r` —
    * Iceberg's unique-data-file-path design: every committed artifact
    * gets a name no other commit ATTEMPT can collide with, so a
    * split-brain driver that loses the manifest race
    * ([[CommitConflictException]]) cannot have overwritten any file a
    * winning commit references (`mode("overwrite")` on a shared
    * conventional path deletes the dir first — a loser racing the winner
    * would delete committed data mid-read). The manifest entry carries
    * the path, and it is the only way readers find the dir. `kind` is the
    * name prefix ([[expireRounds]] classifies children by it: `fetchlog*`
    * is crawl output and never expires, `blooms*` sweeps per-file,
    * everything else expires by manifest reference; the engine tells the
    * compacted `seen_base*` from the deltas by it). */
  def uniquePath(r: Int, kind: String): String =
    s"${roundDir(r)}/$kind-${java.util.UUID.randomUUID().toString.take(8)}"

  def exists(path: String): Boolean = fs.exists(new Path(path))

  /** Fully-qualified URI form of `path` (e.g. for a bucketed table's
    * LOCATION, where a bare relative path would resolve under the
    * spark-warehouse dir). */
  def qualified(path: String): String = fs.makeQualified(new Path(path)).toString

  /** Create an empty marker file (e.g. a _DONE flag). */
  def touch(path: String): Unit = fs.create(new Path(path), true).close()

  def wipe(): Unit = {
    deleteDir(root)
    // a fresh crawl at this root reuses the fixed per-round entry names —
    // this instance must not serve the dead table's cached entries (other
    // instances are protected by the `_table-` identity marker, which the
    // wipe deleted and the fresh table's first commit replaces)
    logEntryCache.clear()
    currentTableId = ""
  }

  def deleteDir(path: String): Unit = {
    val p = new Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Whole-file read, retrying torn reads. On a checksummed FS
    * (LocalFileSystem keeps `.crc` siblings) an entry's data file and its
    * checksum sibling are separate files, so a reader racing a live
    * create — or a torn entry's reclaim — can observe data against a
    * checksum that does not match it yet and get a ChecksumException.
    * A committed entry is immutable, so a short-pause retry re-reads a
    * consistent pair; a persistent mismatch still surfaces after the
    * retries (and [[manifestLines]] then treats the entry as
    * uncommitted). */
  private def readFileText(p: Path): String = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        try return new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        case _: org.apache.hadoop.fs.ChecksumException if attempt < 5 =>
          attempt += 1
          Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Immutable-entry cache: a PARSEABLE `manifest.d/`
    * object is never rewritten (exclusive-create CAS; the crashed-entry
    * reclaim in [[commit]] only ever replaces a persistently-TORN
    * occupant, via delete + exclusive create), so its text can be cached
    * by NAME. Without this every
    * manifest read re-GETs every entry — O(rounds) GETs per read,
    * O(rounds²) over a 1000-round crawl's lifetime of per-round reads
    * (and real money on an object store). Only successful parses are
    * cached: a torn in-flight entry must be re-read on the next call (it
    * may have completed).
    *
    * Entries are validated against the TABLE IDENTITY plus the listing's
    * (length, mtime): a wipe + fresh crawl at the same root REUSES the
    * fixed per-round names, and a name-only cache would serve the DEAD
    * table's entries to any store instance that outlives the wipe (this
    * instance after runFresh, or a long-lived dashboard reader in
    * another process). (len, mtime) alone is not enough (review
    * finding): two fresh crawls' round-0 entries have identical byte
    * length (fixed-width uuid suffixes), and object-store mtime is
    * ~second granularity — a wipe + re-commit inside one tick would
    * revalidate the dead entry. So each table writes a uniquely-NAMED
    * `_table-<uuid>` marker into `manifest.d/` at its first commit; the
    * marker rides the listStatus the reader already performs (zero extra
    * I/O), wipe() deletes it with the table, and a cache entry recorded
    * under a different table id never validates. Legacy tables without a
    * marker read as id "" — still correct, and upgraded by their next
    * commit. Keyed (tableId, len, mtime, round, text). */
  private val logEntryCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long, Long, Int, String)]

  /** Canonical table id = smallest `_table-*` marker name in the current
    * listing ("" for legacy tables; two racing first committers may
    * create two markers — both resolve the same minimum). Maintained by
    * [[manifestLines]] (every commit's precondition read refreshes it)
    * and consumed by the committer's self-cache put. */
  @volatile private var currentTableId: String = ""

  /** Committed manifest entries as raw JSON lines, in round order.
    * Lists `manifest.d/` (names sort by zero-padded round; uuid suffix
    * tiebreaks a duplicate round deterministically — first name wins,
    * later duplicates are dropped) and skips any entry that fails to
    * parse: an in-flight or torn PUT is simply not committed yet, the
    * same contract as a data dir without a manifest entry. */
  private def manifestLines(): Seq[String] = {
    if (!fs.exists(manifestLogDir)) {
      // a store from before the single commit protocol keeps its history
      // in manifest.jsonl — it must not silently read as "no commits"
      require(!fs.exists(new Path(root, "manifest.jsonl")),
        s"$root has a manifest.jsonl: the store predates the single " +
          "manifest.d/ commit protocol and cannot be read by this version")
      return Seq.empty
    }
    val listing = fs.listStatus(manifestLogDir).toSeq
    val tableId = listing.map(_.getPath.getName)
      .filter(_.startsWith("_table-")).sorted.headOption.getOrElse("")
    currentTableId = tableId
    val files = listing
      .filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
    val seenRounds = scala.collection.mutable.Set.empty[Int]
    files.flatMap { st =>
      val p = st.getPath
      // torn/in-flight PUT (unparseable, or persistently checksum-torn
      // because the writer is mid-create): simply not committed yet
      val parsed = logEntryCache.get(p.getName)
        .collect { case (tid, len, mt, round, text)
          if tid == tableId && len == st.getLen &&
            mt == st.getModificationTime => (round, text) }
        .orElse {
          try {
            val text = readFileText(p).trim
            val round = mapper.readTree(text).get("round").asInt()
            logEntryCache.put(p.getName,
              (tableId, st.getLen, st.getModificationTime, round, text))
            Some((round, text))
          } catch { case _: Exception => None }
        }
      parsed.collect { case (round, text) if seenRounds.add(round) => text }
    }
  }

  /** Rounds with a committed manifest entry, ascending. */
  def committedRounds(): Seq[Int] =
    manifestLines().map(l => mapper.readTree(l).get("round").asInt())

  def lastCommitted(): Option[Int] = committedRounds().lastOption

  def readManifest(): Seq[Map[String, Any]] =
    manifestLines().map { l =>
      mapper.readValue(l, classOf[java.util.Map[String, Any]]).asScala.toMap
    }

  /** Test-only injection point: runs between the commit's CAS
    * precondition and the exclusive create, so a spec can land a
    * competing same-round entry inside the race window deterministically
    * (the FaultInjection pattern). A no-op in production. */
  private[graft] var beforeLogCreate: () => Unit = () => ()

  /** Test-only injection point: runs between the commit's exclusive
    * create and the payload write — the stalled-committer window the
    * reclaim protocol (delete + exclusive create + universal read-back)
    * must fence. A no-op in production. */
  private[graft] var afterLogCreate: () => Unit = () => ()

  /** Make a round visible, with optimistic concurrency (the Iceberg
    * `CommitFailedException` contract): two drivers resuming the same
    * store race their next round's commit, and exactly one may win —
    * the loser gets [[CommitConflictException]] instead of silently
    * forking or truncating the history.
    *
    *  - The CAS precondition comes first: committing round R against a
    *    store whose last committed round is already >= R is a lost race
    *    (the competing driver advanced the store) — fail before writing
    *    anything.
    *  - Round R then commits by EXCLUSIVE CREATE of the round's
    *    fixed name (`r%09d.json`, `create(overwrite=false)`) — a true
    *    compare-and-swap wherever exclusive create is atomic: HDFS and
    *    the local FS (namenode/kernel-arbitrated), and object stores
    *    whose connector maps it to a conditional PUT (S3 If-None-Match).
    *    The loser's create fails; it reads the occupant and throws.
    *    (An earlier design PUT uuid-named entries and verified by
    *    list-after-write under the readers' first-name rule — REJECTED by
    *    adversarial review: a later writer whose smaller-named PUT lands
    *    after the earlier writer's verification listing steals the round,
    *    and BOTH committers conclude they won. First-name-wins is not
    *    first-WRITE-wins; only an arbitrated create gives that.)
    *    Crash recovery: a committer that died between create and write
    *    leaves a permanently-torn entry squatting on the round's name —
    *    invisible to readers (unparseable = uncommitted) but blocking the
    *    CAS. A later committer that finds the occupant still torn after
    *    `graft.snapshot.takeover.ms` (default 60 s, by the entry's store
    *    mtime) RECLAIMS the name by delete + a second EXCLUSIVE create —
    *    never an overwrite: the delete revokes a merely-stalled writer's
    *    lease (HDFS) or unlinks the inode its open stream writes to
    *    (local FS), so the stalled writer's late bytes can never surface
    *    at the committed name; and EVERY win path verifies by
    *    read-back-after-close, so a committer whose entry was reclaimed
    *    mid-stall gets CommitConflictException instead of a false win.
    *    (An earlier takeover design used create(overwrite=true) after a
    *    fixed 300 ms retry budget — REJECTED by adversarial review: an
    *    overwrite is never arbitrated, and a live committer stalled
    *    >300 ms between create and close let BOTH committers conclude
    *    they won.) On check-then-act connectors (S3A without conditional
    *    create) the read-back narrows the double-win window to the
    *    read-vs-late-write race; deployments there should front the store
    *    with a conditional-create-capable connector or a lock service —
    *    the same caveat Iceberg documents for its Hadoop tables. (On S3
    *    proper, create and close are one atomic PUT — torn entries cannot
    *    exist, so the reclaim path never runs.)
    *
    * Each commit creates ONE immutable fixed-per-round object — no rename
    * anywhere on the path, so the same commit is safe on the local FS,
    * HDFS and object stores (see class doc).
    *
    * Idempotent retry: re-committing a byte-identical entry that already
    * won its round returns success (a driver that crashed between a
    * successful commit and recording it locally may retry; the store
    * answers what actually happened) — including when a competitor has
    * since advanced the store past that round: the round's entry is
    * looked up anywhere in the history, not only at the tail. */
  def commit(entryJson: String): Unit = {
    val round = mapper.readTree(entryJson).get("round").asInt()
    // CAS precondition: the manifest read is cheap (immutable-entry
    // cache — only unseen names are GET). Returns true when the store
    // already holds THIS exact entry (idempotent retry of our own win —
    // succeed without writing).
    def alreadyCommitted(lines: Seq[String]): Boolean = {
      val parsed = lines.map(l => (mapper.readTree(l).get("round").asInt(), l))
      if (!parsed.lastOption.exists(_._1 >= round)) return false
      // the store advanced to (or past) our round. Look our round's entry
      // up ANYWHERE in the history, not just at the tail: a driver that
      // crashed between a durably-successful commit of round R and
      // recording it locally may retry AFTER a competitor resumed and
      // committed R+1 — the honest answer is still "round R is yours,
      // committed" (review finding: the tail-only check threw a conflict
      // falsely claiming the attempt wrote nothing, inviting the caller
      // to treat round R's referenced data files as sweepable orphans).
      parsed.find(_._1 == round) match {
        case Some((_, line)) if line.trim == entryJson.trim => true
        case Some(_) => throw new CommitConflictException(
          s"commit of round $round lost to a concurrent committer: round " +
            s"$round is already committed with different content under " +
            s"$root (store is at round ${parsed.last._1}) — this attempt " +
            "wrote nothing")
        case None => throw new CommitConflictException(
          s"commit of round $round lost to a concurrent committer: " +
            s"$root is already at round ${parsed.last._1} with no round-" +
            s"$round entry (resumed twice? split-brain driver?) — this " +
            "attempt wrote nothing")
      }
    }
    if (alreadyCommitted(manifestLines())) return
    fs.mkdirs(manifestLogDir)
    if (currentTableId.isEmpty) {
      // first commit of this table (or a legacy table predating
      // markers): stamp the table's identity. Uniquely NAMED, so it
      // rides every reader's listing; two racing first committers
      // both resolve the canonical id as the smallest marker name.
      val marker = s"_table-${java.util.UUID.randomUUID().toString.take(8)}"
      fs.create(new Path(manifestLogDir, marker), false).close()
      currentTableId = fs.listStatus(manifestLogDir).toSeq
        .map(_.getPath.getName).filter(_.startsWith("_table-"))
        .sorted.headOption.getOrElse(marker)
    }
    beforeLogCreate()
    val name = f"r$round%09d.json"
    val entryPath = new Path(manifestLogDir, name)
    val payload = (entryJson + "\n").getBytes(StandardCharsets.UTF_8)
    // self-cache under the LISTING's validity key (len, mtime) — one
    // getFileStatus per commit buys the committer's own future reads
    def won(): Unit = {
      val st = fs.getFileStatus(entryPath)
      logEntryCache.put(name,
        (currentTableId, st.getLen, st.getModificationTime, round,
          entryJson.trim))
    }
    // an entry is committed iff it parses to a real JSON object — an
    // EMPTY file (a writer stalled right after its create, before any
    // byte of payload) parses to Jackson's MissingNode without
    // throwing, and must adjudicate as torn, not as a foreign commit
    def parseable(s: String): Boolean =
      try {
        val n = mapper.readTree(s)
        n != null && !n.isMissingNode
      } catch { case _: Exception => false }
    // Read-back-after-close, on EVERY win path: if this committer
    // stalled past the takeover gate between its create and its
    // close (GC pause, S3 retry storm), a reclaiming competitor may
    // have deleted the torn entry and exclusive-created its own —
    // in which case OUR late bytes went to the unlinked inode (local
    // FS) or our close already threw (HDFS: the delete revoked our
    // lease), and the visible entry is theirs. Without this check
    // the stalled committer concludes it won too (review finding:
    // the old overwrite-based takeover let BOTH committers win).
    def verifyWon(): Unit = {
      val back = try readFileText(entryPath).trim catch { case _: Exception => "" }
      if (back != entryJson.trim)
        throw new CommitConflictException(
          s"commit of round $round lost a stale-entry reclaim race on " +
            s"$name under $root/manifest.d: this committer stalled past " +
            "graft.snapshot.takeover.ms mid-commit and a competitor " +
            "reclaimed the round — this attempt's entry is not visible")
      won()
    }
    try {
      val out = fs.create(entryPath, false) // the CAS: exclusive create
      afterLogCreate()
      try out.write(payload) finally out.close()
      verifyWon()
    } catch {
      case _: java.io.IOException if fs.exists(entryPath) =>
        // the round's name is occupied: a completed competitor, a
        // live competitor mid-write, or a crashed committer's torn
        // entry. Adjudicate: a parseable occupant settles it; a torn
        // occupant younger than the takeover gate gets waited out (a
        // live writer closes in ms — the gate bounds how long a
        // stalled one keeps the round); a torn occupant OLDER than
        // the gate is a crashed commit's debris and is reclaimed by
        // DELETE + EXCLUSIVE CREATE — never overwrite: the delete
        // revokes a late writer's lease (HDFS) or unlinks the inode
        // its stream writes to (local FS), so its bytes can never
        // surface at the committed name, and its own verifyWon()
        // sees our entry and throws. The gate (default 60 s) is a
        // LIVENESS knob, not the safety argument — arbitration comes
        // from the exclusive create + universal read-back.
        var done = false
        while (!done) {
          val existing =
            try Some(readFileText(entryPath))
            catch { case _: Exception => None }
          existing.filter(parseable) match {
            case Some(text) if text.trim == entryJson.trim =>
              done = true; won() // idempotent retry of our own win
            case Some(_) =>
              throw new CommitConflictException(
                s"commit of round $round lost to a concurrent " +
                  s"committer: $name already committed under " +
                  s"$root/manifest.d — this attempt wrote nothing")
            case None =>
              val age =
                try Some(System.currentTimeMillis() -
                  fs.getFileStatus(entryPath).getModificationTime)
                catch { case _: java.io.FileNotFoundException => None }
              age match {
                case Some(a) if a < takeoverMs =>
                  Thread.sleep(50L) // young torn entry: ride out the writer
                case _ =>
                  // stale torn debris (or vanished under a competing
                  // reclaimer): reclaim the round's name
                  try { fs.delete(entryPath, false); () }
                  catch { case _: java.io.IOException => () }
                  try {
                    val out = fs.create(entryPath, false)
                    try out.write(payload) finally out.close()
                    verifyWon()
                    done = true
                  } catch {
                    case _: java.io.IOException if fs.exists(entryPath) =>
                      () // another reclaimer won the create — loop and adjudicate
                  }
              }
          }
        }
      case ioe: java.io.IOException => throw ioe // real I/O failure
    }
  }

  /** Serialize one manifest entry. `lineage` carries per-partition
    * (pmod(url_hash, P) bucket) row counts of the round's seen-set CHANGE:
    * positive delta counts for crawl rounds, NEGATIVE retired counts for a
    * retire round (so the per-bucket running sum over all rounds equals
    * the live per-bucket seen counts at every point — the invariant
    * CrawlEngineSpec pins). `seenPaths` holds the live seen-set files
    * after compaction, `bloomPaths` the current file of every bloom
    * shard, `tombstonePaths` the live retire-tombstone files (rows they
    * mask are folded out of the base — and the list cleared — at the
    * next compaction), and `hostReadyPath` points at the live host-ready
    * snapshot (a retire round reuses the parent round's file instead of
    * copying O(#hosts) rows) — BASELINE.json:14 "per-partition lineage +
    * metrics". */
  def entryJson(round: Int, parent: Int, rows: Map[String, Long],
                lineage: Seq[Long], metrics: Map[String, Double],
                seenPaths: Seq[String], bloomPaths: Seq[String] = Seq.empty,
                partitions: Int = 0, tombstonePaths: Seq[String] = Seq.empty,
                hostReadyPath: Option[String] = None,
                frontierPath: Option[String] = None,
                fetchLogPath: Option[String] = None): String = {
    val node = mapper.createObjectNode()
    node.put("round", round)
    node.put("parent", parent)
    node.put("partitions", partitions)
    val rowsNode = node.putObject("rows")
    rows.toSeq.sortBy(_._1).foreach { case (k, v) => rowsNode.put(k, v) }
    val lin = node.putArray("seen_delta_partition_rows")
    lineage.foreach(lin.add)
    val sp = node.putArray("seen_paths")
    seenPaths.foreach(sp.add)
    val bp = node.putArray("bloom_paths")
    bloomPaths.foreach(p => if (p == null) bp.addNull() else bp.add(p))
    if (tombstonePaths.nonEmpty) {
      val tp = node.putArray("tombstone_paths")
      tombstonePaths.foreach(tp.add)
    }
    hostReadyPath.foreach(node.put("hostready_path", _))
    frontierPath.foreach(node.put("frontier_path", _))
    fetchLogPath.foreach(node.put("fetchlog_path", _))
    val met = node.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => met.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Typed metric accessor for a manifest entry — the ONE place that
    * knows the metrics map's JSON shape (Bench and BenchCrawl used to
    * carry verbatim copies of this cast chain). */
  def metricOf(entry: Map[String, Any], key: String): Double =
    entry("metrics").asInstanceOf[java.util.Map[String, Any]]
      .getOrDefault(key, 0.0.asInstanceOf[AnyRef]).asInstanceOf[Number].doubleValue()

  /** Headline crawl totals off ONE manifest snapshot:
    * (fetched, dedup candidates). Knows which metrics are cumulative
    * (`fetched_total` — last entry) vs per-round (`candidates` —
    * summed); the one derivation Bench, BenchCrawl and ClusterCheck
    * share, so a change to a metric's cumulativity cannot silently skew
    * one harness's headline (they used to carry verbatim copies). */
  def crawlTotals(manifest: Seq[Map[String, Any]]): (Double, Double) =
    (manifest.lastOption.map(metricOf(_, "fetched_total")).getOrElse(0.0),
      manifest.map(metricOf(_, "candidates")).sum)

  /** String-list field of a manifest entry, empty when absent (optional
    * fields such as tombstone_paths are written only when non-empty). May
    * contain nulls — bloom_paths commits null entries for never-written
    * shards. The accessors take an entry so a caller resolves EVERYTHING
    * off ONE readManifest() snapshot: two independent reads can straddle
    * a concurrent commit and pair round N's seen files with round N+1's
    * cleared tombstone list (review finding). */
  def pathsOf(entry: Map[String, Any], key: String): Seq[String] =
    Option(entry.getOrElse(key, null))
      .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
      .getOrElse(Seq.empty)

  /** A single-path pointer field of a manifest entry (`frontier_path`,
    * `hostready_path`, `fetchlog_path`), `None` when the entry has none. */
  def pointer(entry: Map[String, Any], key: String): Option[String] =
    Option(entry.getOrElse(key, null)).map(_.asInstanceOf[String])

  /** A pointer every entry this engine commits carries: an entry without
    * it predates the pointer-carrying format, and guessing a conventional
    * path for it would read whatever happens to sit there. */
  private def requiredPointer(entry: Map[String, Any], key: String): String =
    pointer(entry, key).getOrElse {
      throw new IllegalStateException(
        s"manifest entry for round ${entry("round")} under $root has no " +
          s"$key: the store predates the pointer-carrying snapshot format " +
          "and cannot be read by this version")
    }

  /** The host-ready snapshot a manifest entry points at (a retire round
    * points back at its parent's file). */
  def hostReadyPathOf(entry: Map[String, Any]): String =
    requiredPointer(entry, "hostready_path")

  /** The frontier a manifest entry's round starts from. */
  def frontierPathOf(entry: Map[String, Any]): String =
    requiredPointer(entry, "frontier_path")

  /** The fetch log each manifest entry committed: its `fetchlog_path`,
    * else `None` (round 0 and retire rounds commit no log) — the set
    * [[graft.crawl.CrawlEngine.fetchLog]] reads and [[expireRounds]]
    * protects. A pointer is trusted without an existence probe: the sink
    * is joined before the commit. */
  def fetchLogsOf(entries: Seq[Map[String, Any]]): Seq[Option[String]] =
    entries.map(pointer(_, "fetchlog_path"))

  /** The committed manifest entry for `round`, if any — the time-travel
    * lookup [[graft.crawl.CrawlEngine.seenAsOf]] and [[expireRounds]]'
    * reference-set computation share. */
  def entryFor(round: Int): Option[Map[String, Any]] =
    readManifest().find(_("round").asInstanceOf[Number].intValue() == round)

  /** Every data file/dir a manifest entry references (all fully
    * qualified): its seen files, current bloom shard files (which may
    * live under OLDER rounds' dirs — untouched shards are never copied),
    * live tombstones, the live host-ready snapshot (a retire round points
    * at its parent's file) and the round's own frontier. Exactly the set
    * a resume from that round reads. */
  private def referencedPaths(entry: Map[String, Any]): Seq[String] = {
    def strList(k: String): Seq[String] = pathsOf(entry, k).filter(_ != null)
    (strList("seen_paths") ++ strList("bloom_paths") ++
      strList("tombstone_paths") ++
      Seq(hostReadyPathOf(entry), frontierPathOf(entry))).map(qualified)
  }

  /** Expire old rounds' unreferenced data files — the Iceberg
    * `expire_snapshots` analogue, and the operation that makes a
    * long-lived crawl's storage O(live state + fetch logs) instead of
    * O(rounds × state): every round commits a frontier, a seen delta, a
    * host-ready snapshot and updated bloom shard files, and without
    * expiry a 1000-round crawl keeps every superseded version forever.
    *
    * Keeps, and never touches:
    *  - every round's `fetchlog-*` dir — the crawl's OUTPUT (the span/order
    *    invariant BASELINE.json:15 is computed from the full log; a
    *    deployment archives or ETLs these independently of crawl state);
    *  - every file referenced by the last `keepLast` committed rounds
    *    ([[referencedPaths]]) — so the live round (and any older kept
    *    round) stays fully resumable;
    *  - the manifest itself — the complete per-round lineage + metrics
    *    history stays queryable after expiry (only DATA files expire),
    *    matching Iceberg's expire-snapshots contract.
    *
    * Deletes, for every committed round older than the keep window: the
    * `frontier-*`, `seen_delta-*`, `seen_base-*`, `hostready-*` and
    * `tombstones-*` dirs not referenced by a kept round, and individual
    * unreferenced bloom shard files (a kept round's bloom_paths may point
    * INTO an old round's blooms dir — those files survive, the rest of
    * the dir goes). Rounds outside the keep window are no longer
    * resumable afterwards — resume() targets the LAST round, which is
    * always kept.
    *
    * `removeOrphans=true` additionally deletes round dirs with NO
    * manifest entry (leftovers of a crashed, never-committed round —
    * already invisible to every reader by the atomic-commit contract),
    * and fetchlog dirs of expired rounds that NO manifest entry
    * references (a split-brain loser writes its fetch log before its
    * commit conflicts — debris, not output; every committed round's log
    * is protected by its entry's fetchlog_path). Off by default: an orphan dir above the last committed
    * round may be a CONCURRENT crawl's in-flight round; only enable on a
    * quiesced snapshot root.
    *
    * Every committed entry must carry its frontier and host-ready
    * pointers: a pre-pointer store's logs sit at conventional paths no
    * entry references, so the orphan sweep would delete its output. Such
    * a store fails before anything is deleted.
    *
    * Returns the number of deleted paths (dirs count as one). */
  def expireRounds(keepLast: Int = 1, removeOrphans: Boolean = false): Long = {
    require(keepLast >= 1, s"keepLast=$keepLast — must keep at least the live round")
    val manifest = readManifest()
    if (manifest.isEmpty) return 0L
    manifest.foreach { e => frontierPathOf(e); hostReadyPathOf(e) }
    def roundOf(e: Map[String, Any]): Int = e("round").asInstanceOf[Number].intValue()
    val kept = manifest.takeRight(keepLast)
    val minKept = roundOf(kept.head)
    val committed = manifest.map(roundOf).toSet
    val refs: Set[String] = kept.flatMap(referencedPaths).toSet
    // every committed round's fetch log (ANY round, not just kept ones —
    // the crawl's output is never expired)
    val logRefs: Set[String] =
      fetchLogsOf(manifest).flatten.map(qualified).toSet
    var deleted = 0L
    def drop(p: Path): Unit = { fs.delete(p, true); deleted += 1 }
    val rootPath = new Path(root)
    val roundDirs =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("round="))
    for (rd <- roundDirs) {
      val r = rd.getName.stripPrefix("round=").toIntOption.getOrElse(-1)
      if (r >= 0 && !committed.contains(r)) {
        if (removeOrphans) drop(rd)
      } else if (r >= 0 && r < minKept) {
        // children are classified by name prefix (uniquePath's
        // contract: "frontier-3fa9c1b2" starts with its kind). fetchlog* is the crawl's OUTPUT and
        // never expires; blooms* sweeps per-file because a kept round's
        // bloom_paths may point INTO an old round's dir.
        for (child <- fs.listStatus(rd).toSeq.map(_.getPath)) {
          val name = child.getName
          if (name.startsWith("blooms")) {
            val files = fs.listStatus(child).toSeq.map(_.getPath)
            files.filterNot(f => refs(qualified(f.toString))).foreach(drop)
            if (fs.listStatus(child).isEmpty) { fs.delete(child, true); () }
          } else if (name.startsWith("fetchlog")) {
            // crawl OUTPUT — protected by logRefs forever; an
            // UNreferenced fetchlog dir is a lost commit attempt's
            // debris (split-brain loser), swept only as an orphan
            if (removeOrphans && !logRefs(qualified(child.toString)))
              drop(child)
          } else if (!refs(qualified(child.toString))) {
            drop(child)
          }
        }
      }
    }
    deleted
  }
}

