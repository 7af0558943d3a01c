package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way the engine
  * expects — extensions registered, AQE + skew-join on, shuffle
  * parallelism sized to the core count (not Spark's default 200, which
  * at local scale just manufactures tiny tasks), and the `file` scheme
  * served by the fork-free local filesystem (`sources/LocalFs`) on both
  * Hadoop APIs: without `libhadoop`, Hadoop's own one forks a `chmod` per
  * file create and mkdir and a `readlink` per `FileContext` status
  * probe, the largest fixed cost of a streaming micro-batch.
  *
  * Build every session through `builder`: the registration is a Hadoop
  * conf entry, so it only takes effect when this session creates the
  * JVM's first cached `file://` `FileSystem`. A session that
  * `getOrCreate` finds already running keeps its own filesystem.
  */
object GraftSession {

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)

  // ExecutionListenerManager does not dedup: guard against stacking the
  // metrics logger when local() is called twice on a reused session
  // (every [observed] line would then print once per registration)
  private val observedRegistered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  /** Standard JDK-17 module opens Spark needs; forwarded to forked
    * executor JVMs in local-cluster mode (the distributed-execution
    * rehearsal — a real executor boundary so kernel/Aggregator/SparkPlan
    * serialization is exercised; round-9 verdict item 3). */
  private val jdk17Opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    // SPARK_GRAFT_MASTER overrides the in-process master — e.g.
    // `local-cluster[2,16,4096]` runs the suite across forked executor
    // processes (requires launching with java -cp so java.class.path
    // propagates to the executor command; sbt's launcher classpath
    // doesn't). Executors inherit the module opens via extraJavaOptions.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val b0 = builder(master, cores)
    val b = if (master.startsWith("local-cluster")) {
      // Executors are FORKED processes whose classpath comes from
      // SPARK_HOME/jars only — without the application classes they fail
      // in two ways the rehearsal exists to catch (and did, round 9):
      // codegen can't resolve graft.plans.* kernels, and task lambdas
      // deserialize to raw SerializedLambda. Forward the driver's
      // classpath, absolutized (executor CWD is the worker app dir, so
      // relative entries like target/scala-2.13/classes would dangle).
      val execCp = System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .map(p => new java.io.File(p).getAbsolutePath)
        .mkString(java.io.File.pathSeparator)
      b0.config("spark.executor.extraClassPath", execCp)
        .config("spark.executor.extraJavaOptions",
          jdk17Opens + " -XX:ReservedCodeCacheSize=512m")
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
    } else b0
    val s = b.getOrCreate()
    // getOrCreate may have returned a pre-existing session built without
    // our extensions — make the native functions available regardless
    graft.plans.GraftExtensions.install(s)
    if (observedRegistered.add(s)) s.listenerManager.register(ObservedMetricsLogger)
    s
  }

  /** Prints Dataset `observe` metrics to stderr after each action — the
    * logged-drop channel for scale safety caps (e.g. q52's per-bucket
    * candidate cap): a cap engaging is visible in the run log instead of
    * silently truncating output. */
  private object ObservedMetricsLogger
      extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        System.err.println(s"[observed] $name: $row")
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }
}
