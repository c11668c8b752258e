package graft

import org.apache.spark.sql.SparkSession

/** How a graft process configures Spark — the one place a `main` (and the
  * test session) gets its SparkSession from. Every session runs in UTC,
  * logs at WARN unless asked otherwise, and a local or local-cluster
  * session also sets its shuffle partitions and turns the UI off. AQE is
  * left at Spark's default (on); the crawl loop and GraphOps toggle it
  * locally where they need to.
  */
object GraftSession {

  /** The JDK17 modules Spark 4 needs opened — the one copy, so a Spark
    * upgrade that needs another open touches one list. The driver JVM
    * gets them from build.sbt javaOptions, forked executor JVMs via
    * spark.executor.extraJavaOptions ([[cluster]]), and the evidence
    * specs' subprocess drivers via the test helper GraftSubprocess. */
  val OpenedModules: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  )

  /** [[OpenedModules]] as executor JVM options. */
  private[graft] val executorAddOpens: String =
    OpenedModules.map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Task threads of a local session: SPARK_GRAFT_CPUS, else
    * min(32, available processors). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** A `local[threads]` session; `threads` is the local master spec, e.g.
    * "8", or "8,4" for 8 threads with task retries (4 = maxFailures).
    * Both default to [[cpus]]. `conf` is applied last, so it wins over
    * the shared settings. */
  def local(threads: String = cpus.toString, shufflePartitions: Int = cpus,
            conf: Seq[(String, String)] = Nil, logLevel: String = "WARN"): SparkSession =
    create(Some(s"local[$threads]"), shared(shufflePartitions) ++ conf, logLevel)

  /** A `local-cluster[executors,coresPerExec,memMb]` session: Spark's
    * standalone scheduler on one box, every executor a separate forked
    * JVM. Executor JVMs are forked from SPARK_HOME's jars only, so the
    * engine's own classes ship via extraClassPath (same box, shared
    * filesystem); -Dspark.* is not allowed in executor options, so static
    * SQL confs go on the session. `conf` is applied last. */
  def cluster(executors: Int, coresPerExec: Int, memMb: Int, shufflePartitions: Int,
              conf: Seq[(String, String)] = Nil): SparkSession = {
    // the worker-side executor launcher resolves SPARK_HOME/jars and needs
    // the scala version; spark-submit's shell scripts export it, a bare
    // JVM does not — fail fast with the fix instead of a cryptic
    // "Cannot find any build directories" from every executor fork
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "local-cluster mode outside spark-submit needs SPARK_SCALA_VERSION=2.13 " +
        "in the environment (the executor launcher reads it)")
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val clusterConf = Seq(
      // the crawl generates more whole-stage-codegen units than Spark's
      // default 100-entry class cache holds; build.sbt sizes it for the
      // driver JVM, executor JVMs take it from the session
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.executor.extraClassPath" -> classesDir,
      "spark.executor.extraJavaOptions" -> executorAddOpens,
      // executor fork + registration takes seconds; don't let the first
      // job start before the workers are up
      "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "60s",
      "spark.scheduler.minRegisteredResourcesRatio" -> "1.0")
    create(Some(s"local-cluster[$executors,$coresPerExec,$memMb]"),
      shared(shufflePartitions) ++ clusterConf ++ conf, "WARN")
  }

  /** A session whose master and settings come from the launcher:
    * spark-submit's (`master` = None) or an explicit master URL. */
  def launched(master: Option[String]): SparkSession = create(master, Nil, "WARN")

  /** A scaling bench's session and its shape. */
  final case class BenchSession(spark: SparkSession, executors: Int, coresPerExecutor: Int) {
    /** 0 executors = local mode. */
    def totalCores: Int = coresPerExecutor * math.max(1, executors)
  }

  /** The session a scaling bench runs in: `local[cpus]`, or with
    * SPARK_GRAFT_EXECUTORS=E, `local-cluster[E, cpus, SPARK_GRAFT_EXEC_MB]`
    * — E real executor JVMs (netty shuffle, serialized closures and
    * broadcasts, per-JVM codegen) instead of local threads. Run at E and
    * 4E on identical input for the N→4N executor-scaling line
    * (BASELINE.json: efficiency = thpt_4E / (4 × thpt_E)). Shuffle
    * partitions are `partitionsPerCore` × total cores. */
  def bench(partitionsPerCore: Int = 1, conf: Seq[(String, String)] = Nil): BenchSession = {
    val executors = sys.env.get("SPARK_GRAFT_EXECUTORS").map(_.toInt).getOrElse(0)
    val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "8192").toInt
    val cores = cpus
    val partitions = cores * math.max(1, executors) * partitionsPerCore
    val spark =
      if (executors > 0) cluster(executors, cores, execMb, partitions, conf)
      else local(cores.toString, partitions, conf)
    BenchSession(spark, executors, cores)
  }

  private def shared(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.ui.enabled" -> "false")

  private def create(master: Option[String], conf: Seq[(String, String)],
                     logLevel: String): SparkSession = {
    val builder = SparkSession.builder().appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    master.foreach(builder.master)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
