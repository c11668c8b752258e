package graft

/** Shared subprocess launcher for the evidence specs (ClusterCrawlSpec,
  * DriverKillSpec, FaultToleranceSpec, LiveReaderSpec): each needs a
  * SEPARATE driver JVM — a JVM allows one SparkContext, and every other
  * suite shares SparkTestBase's local[8] session — and each used to carry
  * its own verbatim copy of the JDK17 --add-opens list + ProcessBuilder
  * wiring + log-tail helper (review finding). The module list itself
  * lives in [[GraftSession.OpenedModules]], next to its executor-opts
  * twin. */
object GraftSubprocess {

  private val addOpens: Seq[String] =
    GraftSession.OpenedModules.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Launch `mainClass` in a fresh JVM with this JVM's classpath, stdout
    * and stderr redirected to `log`. `env` holds extra environment
    * variables (e.g. SPARK_SCALA_VERSION for local-cluster executor
    * forks, SPARK_GRAFT_* crawl config). */
  def start(mainClass: String, args: Seq[String], log: java.io.File,
            env: Map[String, String] = Map.empty): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g", "-cp", cp, mainClass) ++ args
    log.getParentFile.mkdirs()
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.start()
  }

  /** The last ~4 KB of a subprocess log, for failure messages. */
  def tail(f: java.io.File): String = {
    val s = java.nio.file.Files.readString(f.toPath)
    s.substring(math.max(0, s.length - 4000))
  }
}
