package graft.crawlbench

import graft.corpus.CorpusGen.Tier
import graft.crawl.CrawlConfig
import graft.oracle.CrawlOracle
import java.io.File
import java.nio.file.Files
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: `python3 crawlbench/run.py --selftest`.
  * Exits non-zero if any test fails. */
object SelfTest {
  private val tier = Tier("selftest", 600, 30, 10)
  private val cfg = CrawlConfig(partitions = 4)
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable => failures += 1; println(s"FAIL $name: $t") }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** Content hashes of a table's part files, in part order. */
  private def tableBytes(dir: String): Seq[String] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName.take(10))
      .map { f =>
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
          .map(b => f"${b & 0xff}%02x").mkString
      }.toSeq

  private val Tables = Seq("interleaved", "hosting", "robots", "seeds")

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("--work is required"))
    val spark = SparkSession.builder().master("local[2]").appName("crawlbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, work) finally spark.stop()
    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
  }

  private def run(spark: SparkSession, work: String): Unit = {
    def oracleOf(seed: Long) = new CrawlOracle(SeededWeb(tier, seed).build(), cfg).run()

    test("one seed writes byte-identical tables, another seed different ones") {
      SeededWeb(tier, 7).write(spark, s"$work/a")
      SeededWeb(tier, 7).write(spark, s"$work/b")
      SeededWeb(tier, 8).write(spark, s"$work/c")
      Tables.foreach { t =>
        val a = tableBytes(s"$work/a/$t.parquet")
        check(a.nonEmpty, s"$t: no part files")
        check(a == tableBytes(s"$work/b/$t.parquet"), s"$t differs between two writes of seed 7")
      }
      check(tableBytes(s"$work/a/hosting.parquet") != tableBytes(s"$work/c/hosting.parquet"),
        "seeds 7 and 8 wrote the same hosting table")
    }

    test("the written tables hold what the oracle's corpus holds") {
      val corpus = SeededWeb(tier, 7).build()
      val hosting = spark.read.parquet(s"$work/a/hosting.parquet")
        .select("url_canon", "host", "doc_id", "status").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      check(hosting == corpus.pages.map(p => (p.url_canon, p.host, p.doc_id, p.status)).toSet,
        "hosting table differs from the corpus pages")
      val seeds = spark.read.parquet(s"$work/a/seeds.parquet").collect().map(_.getString(0)).toSeq
      check(seeds.sorted == corpus.seeds.sorted, "seed table differs from the corpus seeds")
      check(spark.read.parquet(s"$work/a/interleaved.parquet").count() == corpus.docs.size,
        "document count differs")
    }

    test("another seed gives another crawl") {
      val (a, b) = (oracleOf(7), oracleOf(8))
      check(a.log.size > tier.seeds && a.rounds > 3, s"seed 7 crawl is degenerate: ${a.log.size} fetches")
      check(OutputCheck.logHash(OutputCheck.oracleCut(a, a.rounds)._1) !=
        OutputCheck.logHash(OutputCheck.oracleCut(b, b.rounds)._1), "seeds 7 and 8 crawl alike")
    }

    val (log, seen) = OutputCheck.oracleCut(oracleOf(7), 4)

    test("the output check accepts the reference crawl") {
      check(OutputCheck.crawlMatches(log, seen, log, seen), "identical crawl rejected")
    }

    test("the output check rejects a fetch log with one row dropped") {
      val dropped = log.patch(log.size / 2, Nil, 1)
      check(!OutputCheck.crawlMatches(dropped, seen, log, seen), "dropped row accepted")
    }

    test("the output check rejects a fetch log with two rows swapped") {
      val k = log.size / 2
      // the two rows trade places in crawl order: each keeps the other's seq
      val swapped = log.updated(k, log(k + 1).copy(_1 = log(k)._1))
        .updated(k + 1, log(k).copy(_1 = log(k + 1)._1))
      check(swapped != log, "the swap changed nothing")
      check(!OutputCheck.crawlMatches(swapped, seen, log, seen), "swapped rows accepted")
    }

    test("the output check rejects a seen set with one URL missing or moved to another round") {
      val (h, (c, r)) = seen.head
      check(!OutputCheck.crawlMatches(log, seen - h, log, seen), "missing seen URL accepted")
      check(!OutputCheck.crawlMatches(log, seen.updated(h, (c, r + 1)), log, seen),
        "wrong first round accepted")
    }

    test("the new-URL check rejects a missing and an extra URL") {
      val want = seen.map { case (h, (c, _)) => h -> c }
      check(OutputCheck.newUrlsMatch(want, want), "identical set rejected")
      check(!OutputCheck.newUrlsMatch(want - want.head._1, want), "missing URL accepted")
      check(!OutputCheck.newUrlsMatch(want + (42L -> "https://x.example/extra"), want),
        "extra URL accepted")
    }

    test("call sites are read from the first program frame") {
      val details = "count at CrawlEngine.scala:677\n" +
        "org.apache.spark.sql.graftinternal.Shim$.col(Shim.scala:9)\n" +
        "graft.crawl.CrawlEngine.step$1(CrawlEngine.scala:677)\n" +
        "graft.crawl.CrawlEngine.loop(CrawlEngine.scala:482)"
      check(PhaseTrace.graftFrame(details).contains("CrawlEngine.scala:677"),
        s"got ${PhaseTrace.graftFrame(details)}")
      check(PhaseTrace.graftFrame("java.util.concurrent.CompletableFuture.run(CompletableFuture.java:1768)")
        .isEmpty, "a pool-thread stack has no program frame")
      check(PhaseTrace.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0,
        "interval union")
    }
  }
}
