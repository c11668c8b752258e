package graft.tools

import org.apache.spark.sql.functions._

/** Offline BPE trainer — run ONCE, output committed as the pinned
  * fixture `src/main/resources/graft/bpe_merges.tsv` (the model the
  * [[graft.functions.Bpe]] encode kernel and every DuckDB oracle
  * mirror read). Training is fully deterministic: word counts come
  * from the fixture corpus under the pinned word grammar
  * (`[a-z0-9]+` over `lower(text)` — the same grammar every text op
  * uses), the best pair is (max count, then lexicographically
  * smallest (l, r)), and merges apply batch left-to-right
  * non-overlapping. Re-running with the same inputs reproduces the
  * committed table byte-for-byte.
  *
  * Only the ENCODE semantics are contract-bearing (pinned in
  * [[graft.functions.Bpe]] and the oracle CTE); the trainer is free
  * to change as long as its output table is regenerated and
  * re-committed together with the oracle fixtures.
  *
  * Usage: runMain graft.tools.BpeTrain [docsParquet] [nMerges] [outTsv]
  */
object BpeTrain {

  def main(args: Array[String]): Unit = {
    val docs = if (args.length > 0) args(0) else "/root/testdata/sf0.001/documents.parquet"
    val nMerges = if (args.length > 1) args(1).toInt else 48
    val out = if (args.length > 2) args(2) else "src/main/resources/graft/bpe_merges.tsv"
    val spark = graft.GraftSession.local("8", shufflePartitions = 8)
    try {
      val wc: Seq[(String, Long)] = spark.read.parquet(docs)
        .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
        .groupBy("w").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
      val merges = train(wc, nMerges)
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        w.print("rank\tl\tr\n")
        merges.zipWithIndex.foreach { case ((l, r), i) => w.print(s"$i\t$l\t$r\n") }
      } finally w.close()
      println(s"wrote ${merges.size} merges to $out from ${wc.size} distinct words")
    } finally spark.stop()
  }

  /** Classic BPE training over a word-frequency table: per round, count
    * adjacent symbol pairs weighted by word frequency, take the best
    * (max count; ties -> lexicographically smallest pair), batch-apply
    * it left-to-right non-overlapping; stop early when the best pair's
    * count drops below 2 (a merge seen once compresses nothing). */
  def train(wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var seqs: Array[(Array[String], Long)] =
      wordCounts.map { case (w, c) => (w.toCharArray.map(_.toString), c) }.toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (out.size < nMerges && continue) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- seqs; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(v => Some(v.getOrElse(0L) + c))
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        if (best._2 < 2) continue = false
        else {
          out += best._1
          seqs = seqs.map { case (syms, c) => (applyMerge(syms, best._1), c) }
        }
      }
    }
    out.toSeq
  }

  private def applyMerge(syms: Array[String], m: (String, String)): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == m._1 && syms(i + 1) == m._2) {
        buf += (m._1 + m._2); i += 2
      } else { buf += syms(i); i += 1 }
    }
    buf.toArray
  }
}
