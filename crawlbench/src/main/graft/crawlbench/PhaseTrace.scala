package graft.crawlbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Outside-in job accounting for a traced run: a SparkListener that keeps
  * every job, its stages' task metrics and its SQL execution, and
  * attributes each job to a crawl phase — no engine code is touched.
  *
  * An engine job's phase comes from its call site: the first `graft.`
  * frame of its stages' `details` (the long-form call site; the engine
  * sets no short call site). Broadcast-exchange jobs run on a pool
  * thread, so their stack holds no program frame; they take the call site
  * of their query through `spark.sql.execution.id`. Call sites are
  * matched by file and line against [[PhaseTrace.Sites]], so a moved line
  * in the engine lands in `phase.other` and shows up as unattributed time
  * instead of hiding. The benchmark's own calls (the frontier round) tag
  * their jobs with the [[PhaseTrace.PhaseKey]] local property instead.
  */
final class PhaseTrace extends SparkListener {
  import PhaseTrace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val markers = mutable.HashSet.empty[String]
  private var recording = false

  /** Start recording; drops what an earlier window recorded. */
  def start(): Unit = synchronized {
    jobs.clear(); stages.clear(); execSite.clear()
    recording = true
  }

  def stop(sc: SparkContext): Unit = { sync(sc); synchronized { recording = false } }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      if (recording) graftFrame(s.details).foreach(execSite(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(MarkerKey) match {
      case Some(m) => markers += m
      case None if recording =>
        // the result stage (highest id) is the one this job created: its
        // parents may be shuffle stages an earlier job created elsewhere
        val site = js.stageInfos.sortBy(-_.stageId).iterator
          .flatMap(si => graftFrame(si.details)).nextOption()
        val j = Job(js.jobId, js.time, prop("spark.sql.execution.id").map(_.toLong), site,
          prop(PhaseKey), prop(CallKey).orNull)
        jobs(js.jobId) = j
        js.stageInfos.foreach { si =>
          j.stageIds += si.stageId
          stages.getOrElseUpdate(si.stageId, new Stage)
        }
      case None =>
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (st <- stages.get(te.stageId); m <- Option(te.taskMetrics)) {
      st.cpuNs += m.executorCpuTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.taskMs += m.executorRunTime
    }
  }

  /** Wait until the listener has seen every event posted so far: events
    * arrive in order, so a marker job's start proves the rest arrived. */
  private def sync(sc: SparkContext): Unit = {
    val m = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, m)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!synchronized(markers.contains(m)) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Every finished job of the window, with its phase. */
  def finished(sc: SparkContext): Seq[TracedJob] = {
    sync(sc)
    synchronized {
      val siteOfExec = mutable.HashMap.empty[Long, String] ++ execSite
      jobs.values.foreach(j => for (e <- j.exec; s <- j.site) siteOfExec.getOrElseUpdate(e, s))
      jobs.values.filter(_.end > 0).map { j =>
        val site = j.site.orElse(j.exec.flatMap(siteOfExec.get))
        val phase = j.tag.getOrElse(site match {
          case Some(s) => Sites.getOrElse(s, "other")
          case None => if (j.exec.nonEmpty) "broadcast" else "other"
        })
        val sts = j.stageIds.flatMap(stages.get).toSeq
        TracedJob(j.id, j.start, j.end, phase, j.call, site.getOrElse("?"),
          sts.count(_.taskMs.nonEmpty),
          sts.map(_.taskMs.size).sum, sts.map(_.cpuNs).sum,
          sts.map(_.shuffleWrite).sum, sts.map(_.shuffleRead).sum, sts.map(_.spill).sum,
          sts.map(_.taskMs.toVector))
      }.toSeq
    }
  }
}

object PhaseTrace {
  /** Local property naming the phase of the benchmark's own calls. */
  val PhaseKey = "crawlbench.phase"
  /** Local property naming one public call of the frontier round. */
  val CallKey = "crawlbench.call"
  private val MarkerKey = "crawlbench.marker"

  /** The crawl phases, in report order. */
  val Phases: Seq[String] = Seq("sched_fetch", "counts", "fetchlog_sink", "hostready_sink",
    "extract_probe_delta", "frontier_sink", "shard_build", "compaction", "broadcast", "other")

  /** Engine call sites (the first program frame of a job's result
    * stage, as the compiler numbered it) → phase. */
  val Sites: Map[String, String] = Map(
    "CrawlEngine.scala:677" -> "sched_fetch", // fetched.count(): robots, scheduler, fetch join
    "CrawlEngine.scala:689" -> "counts", // schedAll exact counts
    "SeenSet.scala:320" -> "counts", // candidate count off the probe cache
    "CrawlEngine.scala:872" -> "counts", // newUrls.count()
    "CrawlEngine.scala:743" -> "fetchlog_sink", // fetch-log write; GlobalOrder runs inside it
    "CrawlEngine.scala:769" -> "hostready_sink",
    "CrawlEngine.scala:359" -> "hostready_sink", // round 0
    "CrawlEngine.scala:862" -> "extract_probe_delta", // seen-delta write
    "CrawlEngine.scala:345" -> "extract_probe_delta", // round 0: the seeds' delta
    "CrawlEngine.scala:881" -> "frontier_sink",
    "CrawlEngine.scala:342" -> "frontier_sink", // round 0: the seeds
    "SeenSet.scala:175" -> "shard_build", // buildShards
    "CrawlEngine.scala:140" -> "compaction") // seen-base rewrite

  private final case class Job(id: Int, start: Long, exec: Option[Long], site: Option[String],
                               tag: Option[String], call: String) {
    var end: Long = -1L
    val stageIds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  }

  private final class Stage {
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }

  /** One finished job; `stageTaskMs` holds each stage's task run times. */
  final case class TracedJob(id: Int, start: Long, end: Long, phase: String, call: String,
                             site: String, stages: Int, tasks: Int, cpuNs: Long,
                             shuffleWrite: Long, shuffleRead: Long, spill: Long,
                             stageTaskMs: Seq[Vector[Long]])

  private val Frame = """(?m)^graft\.[\w.$]+\((\w+\.scala:\d+)\)""".r

  /** `File.scala:line` of the first program frame of a long-form call site. */
  def graftFrame(details: String): Option[String] =
    Option(details).flatMap(d => Frame.findFirstMatchIn(d).map(_.group(1)))

  /** Seconds covered by the union of [start, end] intervals in ms. */
  def unionSeconds(spans: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }

  /** max/median task time of the stage that ran the most task time. */
  def taskSkew(jobs: Seq[TracedJob]): Double = {
    val stage = jobs.flatMap(_.stageTaskMs).filter(_.nonEmpty).maxByOption(_.sum)
    stage.map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.getOrElse(1.0)
  }

  /** Engine-level and per-phase metrics of one traced round or crawl:
    * `wallSec` is its wall time, `rounds` how many rounds it ran. */
  def summary(jobs: Seq[TracedJob], wallSec: Double, rounds: Int, cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("engine.jobs_per_round") = jobs.size.toDouble / rounds
    out("engine.stages_per_round") = jobs.map(_.stages).sum.toDouble / rounds
    out("engine.tasks_per_round") = jobs.map(_.tasks).sum.toDouble / rounds
    out("engine.no_job_frac") = 1.0 - unionSeconds(jobs.map(j => (j.start, j.end))) / wallSec
    val cpuS = jobs.map(_.cpuNs).sum / 1e9
    out("engine.executor_cpu_s") = cpuS
    out("engine.core_util") = cpuS / (wallSec * cores)
    out("engine.shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum.toDouble
    out("engine.shuffle_read_bytes") = jobs.map(_.shuffleRead).sum.toDouble
    out("engine.spill_bytes") = jobs.map(_.spill).sum.toDouble
    out("engine.task_skew") = taskSkew(jobs)
    val busy = Phases.map(p => p -> unionSeconds(jobs.filter(_.phase == p).map(j => (j.start, j.end)))).toMap
    Phases.foreach { p =>
      val js = jobs.filter(_.phase == p)
      out(s"phase.$p.jobs") = js.size.toDouble
      out(s"phase.$p.busy_s") = busy(p)
      out(s"phase.$p.cpu_s") = js.map(_.cpuNs).sum / 1e9
      out(s"phase.$p.shuffle_bytes") = js.map(j => j.shuffleWrite + j.shuffleRead).sum.toDouble
    }
    out("phase.other_share") = busy("other") / math.max(busy.values.sum, 1e-9)
    out.toMap
  }

  /** Per call site: phase, jobs and job-seconds, busiest first — shows
    * which engine line an unattributed job came from. */
  def siteTable(jobs: Seq[TracedJob]): String =
    jobs.groupBy(j => (j.site, j.phase)).toSeq
      .map { case ((site, phase), js) => (site, phase, js.size, js.map(j => j.end - j.start).sum / 1e3) }
      .sortBy(-_._4)
      .map { case (site, phase, n, sec) => f"  $site%-26s $phase%-20s jobs $n%4d  $sec%8.2f s" }
      .mkString("\n")

  /** Least-squares line seconds = floor + perUrl × urls over the rounds. */
  def fit(points: Seq[(Double, Double)]): (Double, Double) = {
    val n = points.size.toDouble
    val mx = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val sxx = points.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val slope = if (sxx == 0) 0.0 else points.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    (my - slope * mx, slope)
  }
}
