package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.EventStreams

/** The benchmark's JVM. `run.py` launches it with `java -cp` and reads
  * the JSON record it writes; it drives graft only through public calls.
  *
  *   --mode oracles --out f.json      every query's oracle SQL, no Spark
  *   --mode run --workload w --inputs dir --out dir --cores n
  *              --passes k --trace 0|1 [--queries a,b] [--feed dir]
  *              [--oracles dir] [--fail qname]
  *
  * A run is: set-up (session + warm-up), then `passes` passes over the
  * workload from one client thread, then the output digests of the
  * oracles, then `result.json` (and `spans.jsonl` when traced).
  * `--fail` makes the named query throw: the self-test of failure
  * accounting.
  */
object Main {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (a("mode") == "oracles") {
      val m = graft.SparkEntry.all.map(q => q.name -> q.oracle).toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
        json(m))
    } else new Main(a).run()
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Hypervisor steal, all cores, in jiffies (1/100 s of one core). */
  def stealJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    finally src.close()
  }

  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

final class Main(a: Map[String, String]) {
  import Main._

  private val out = a("out")
  private val inputs = a("inputs")
  private val record = mutable.LinkedHashMap.empty[String, Any]
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def span[T](kind: String, name: String)(f: => T): T =
    tracer match {
      case Some(t) => t.span(kind, name)(_ => f)
      case None => f
    }

  /** Runs `df` to completion like the `noop` format, returning the
    * digest of what it produced. */
  private def digest(df: DataFrame, key: String): DigestSink.Digest = {
    df.write.format(classOf[DigestSink].getName).option("key", key)
      .mode("overwrite").save()
    DigestSink.take(key).get
  }

  /** Drops what a query cached or checkpointed, so it cannot tax the
    * next one (graft.Bench does the same between queries). */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def run(): Unit = {
    new java.io.File(out).mkdirs()
    val t0 = System.nanoTime()
    spark = graft.GraftSession.local(a("cores").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = seconds(t0)
    if (a("trace") == "1") {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      tracer = Some(t)
    }
    val t1 = System.nanoTime()
    span("setup", "warmup") {
      digest(graft.Tables.lineitem(spark, inputs).groupBy("l_returnflag")
        .agg(sum("l_extendedprice")), "warmup")
    }
    record("setup") = Map("session_start_s" -> sessionS,
      "warmup_s" -> seconds(t1), "ready_epoch_ms" -> System.currentTimeMillis())
    val steal0 = stealJiffies()
    record("pass_s") = (0 until a("passes").toInt).map { p =>
      val p0 = System.nanoTime()
      span("pass", s"pass$p") {
        if (a("workload") == "stream_ingest") streamPass(p)
        else queryPass(p)
      }
      seconds(p0)
    }
    record("steal_jiffies") = stealJiffies() - steal0
    if (a("workload") != "stream_ingest") oracleDigests()
    record("peak_rss_kb") = peakRssKb()
    record("env") = Map(
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cores" -> a("cores").toInt,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap
        .filter(_._1.startsWith("spark.sql")))
    tracer.foreach(_.write(s"$out/spans.jsonl"))
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"),
      json(record))
  }

  // ---- adhoc / corpus_batch: one closed loop over the registry queries

  private val queryRecords = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def queryPass(pass: Int): Unit = {
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    a("queries").split(",").foreach { name =>
      val times = mutable.LinkedHashMap.empty[String, Double]
      def timed[T](phase: String)(f: => T): T = {
        val t = System.nanoTime()
        try span(phase, name)(f) finally times(s"${phase}_s") = seconds(t)
      }
      val qspan = tracer.map(_.begin("query", name))
      val res: Map[String, Any] = try {
        if (a.get("fail").contains(name))
          throw new IllegalStateException("injected failure")
        val df = timed("construct")(byName(name).fn(spark, inputs))
        timed("plan")(df.queryExecution.executedPlan)
        qspan.foreach(_.attrs("exchanges") =
          graft.PlanStats.shape(df).getOrElse("exchange", 0))
        val gc0 = gcMs()
        val d = timed("exec")(digest(df, s"$name#$pass"))
        qspan.foreach { s =>
          s.attrs("gc_ms") = gcMs() - gc0
          val tr = df.queryExecution.tracker
          tr.phases.foreach { case (k, v) => s.attrs(s"phase_${k}_ms") = v.durationMs }
          s.attrs("graft_rules_ns") = tr.rules.collect {
            case (r, v) if r.startsWith("graft.") => v.totalTimeNs }.sum
        }
        Map("ok" -> true, "rows" -> d.rows, "hash" -> d.hash.toString,
          "columns" -> d.columns)
      } catch { case e: Throwable =>
        Map("ok" -> false, "error" -> e.toString.take(400))
      } finally {
        qspan.foreach(s => tracer.get.end(s))
        cleanup()
      }
      queryRecords += Map("name" -> name, "pass" -> pass) ++ times ++ res
    }
    record("queries") = queryRecords.toSeq
  }

  /** Digests of the DuckDB oracle results (`<oracles>/<name>.parquet`),
    * computed by the same sink as the measured results. */
  private def oracleDigests(): Unit = {
    val dir = a("oracles")
    record("oracles") = a("queries").split(",").distinct.flatMap { name =>
      val f = new java.io.File(s"$dir/$name.parquet")
      if (!f.isFile) None
      else Some(name -> {
        val d = digest(spark.read.parquet(f.getPath), s"oracle:$name")
        Map("rows" -> d.rows, "hash" -> d.hash.toString, "columns" -> d.columns)
      })
    }.toMap
  }

  // ---- stream_ingest: the three keyed-state operators over a file feed

  private val streamRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private lazy val feedSchemas = Map(
    "docs" -> spark.read.parquet(s"${a("feed")}/docs").schema,
    "events" -> spark.read.parquet(s"${a("feed")}/events").schema)

  private def source(name: String): DataFrame =
    spark.readStream.schema(feedSchemas(name))
      .option("maxFilesPerTrigger", 1).parquet(s"${a("feed")}/$name")

  private def start(op: String, sink: String, ckpt: String): StreamingQuery = {
    val ss = spark
    import ss.implicits._
    val write = graft.sources.Sources.idempotentBatchWriter(sink)
    def to[T](ds: Dataset[T], mode: String): StreamingQuery = {
      val f: (Dataset[T], Long) => Unit = (d, id) => write(d.toDF(), id)
      ds.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
        .foreachBatch(f).start()
    }
    op match {
      case "dedupNearStream" => to(EventStreams.dedupNearStream(
        source("docs").select("doc_id", "bucket").as[EventStreams.Doc]), "append")
      case "contextPackStream" => to(EventStreams.contextPackStream(
        source("events").select("event_id", "ts", "user_id", "event_type",
          "props")), "append")
      case "quantileDriftStream" => to(EventStreams.quantileDriftStream(
        source("events").select("ts", "value")), "update")
    }
  }

  /** The three operators one after another, each drained to the end of
    * its feed and stopped; every micro-batch is one operation. */
  private def streamPass(pass: Int): Unit = {
    feedSchemas
    Seq("dedupNearStream", "contextPackStream", "quantileDriftStream").foreach { op =>
      val dir = s"$out/stream/p$pass/$op"
      val t = System.nanoTime()
      val s = tracer.map(_.begin("stream", op))
      var q: StreamingQuery = null
      val res: Map[String, Any] =
        try {
          q = start(op, s"$dir/sink", s"$dir/ckpt")
          q.processAllAvailable()
          Map("ok" -> true)
        } catch { case e: Throwable =>
          Map("ok" -> false, "error" -> e.toString.take(400))
        } finally if (q != null) q.stop()
      val wall = seconds(t)
      val batches = Option(q).map(_.recentProgress).getOrElse(Array.empty)
        .filter(_.numInputRows > 0)
      def ms(p: StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      for (tr <- tracer; x <- s) {
        batches.foreach { p =>
          val s0 = java.time.Instant.parse(p.timestamp).toEpochMilli
          tr.add("batch", s"$op#${p.batchId}", s0,
            s0 + ms(p, "triggerExecution"), x)
        }
        tr.end(x)
      }
      val last = batches.lastOption
      streamRecords += Map("op" -> op, "pass" -> pass, "wall_s" -> wall,
        "sink" -> s"$dir/sink",
        "batches" -> batches.map(p => Map("id" -> p.batchId,
          "rows" -> p.numInputRows,
          "trigger_ms" -> ms(p, "triggerExecution"),
          "add_batch_ms" -> ms(p, "addBatch"),
          "query_planning_ms" -> ms(p, "queryPlanning"),
          "commit_ms" -> (ms(p, "walCommit") + ms(p, "commitOffsets")))).toSeq,
        "state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum)
          .getOrElse(-1L),
        "state_mem_b" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum)
          .getOrElse(0L)
      ) ++ res
    }
    record("streams") = streamRecords.toSeq
  }
}
