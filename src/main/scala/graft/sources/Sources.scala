package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** IO surface — SURVEY §2.1. Thin by design: Spark's readers already
  * implement what the reference hand-builds (partition-per-file or
  * byte-range splitting, schema sampling, column projection pushdown,
  * corrupt-record tolerance), so each wrapper documents the semantic
  * mapping and pins the options that make the semantics match.
  *
  * reference: from_parquet lib/io/parquet.py:251-427, from_json
  * lib/io/json.py:443-641, from_text lib/io/text.py:54-127,
  * to_parquet parquet.py:478-726, to_json json.py:644-781.
  */
object Sources {

  /** from_parquet: `columns=` -> select pushdown; `split_row_groups` ->
    * spark.sql.files.maxPartitionBytes governs splitting natively. */
  def fromParquet(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    if (columns.nonEmpty) df.select(columns.map(df.col): _*) else df
  }

  /** from_json line-delimited mode; `schema` (the reference's JSONSchema
    * pushdown, json.py:77-89) -> explicit StructType skips inference AND
    * prunes parsing; `sampleRatio` mirrors meta-sampling (json.py:216-269).
    */
  def fromJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      sampleRatio: Double = 1.0,
      multiLine: Boolean = false): DataFrame = {
    val r = spark.read
      .option("multiLine", multiLine)
      .option("samplingRatio", sampleRatio)
    schema.fold(r)(r.schema).json(path)
  }

  /** from_text: one string row per delimiter-separated record; byte-range
    * partitioning is Spark's native file splitting. */
  def fromText(spark: SparkSession, path: String,
      lineSep: Option[String] = None): DataFrame = {
    val r = spark.read
    lineSep.fold(r)(s => r.option("lineSep", s)).text(path)
  }

  /** Bad-file tolerance (reference read-report, parquet.py:36-61):
    * ignoreCorruptFiles + a side-channel count. */
  def fromParquetTolerant(spark: SparkSession, path: String): DataFrame =
    spark.read.option("ignoreCorruptFiles", "true").parquet(path)

  /** Tolerant read WITH a queryable per-file report — the reference's
    * (data, report) pair (report_success/report_failure fields at
    * parquet.py:36-61, wiring at io/io.py:651-696; test
    * tests/test_parquet.py:207). Failed files yield empty partitions in
    * `data` (ignoreCorruptFiles) and a report row carrying the exception
    * type + message, so 100 TB ingest can quarantine bad files from SQL
    * instead of silently skipping them.
    *
    * Report schema mirrors the reference's record: (path, columns,
    * exception, message); exception/message are null on success. The
    * footer probes run as a distributed job over the file list, not a
    * driver loop.
    */
  def fromParquetWithReport(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.Path
    val data = fromParquetTolerant(spark, path)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val fs = root.getFileSystem(hconf.value)
    val files: Seq[String] = {
      val it = fs.listFiles(root, /*recursive=*/ true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) buf += f.getPath.toString
      }
      buf.toSeq
    }
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { p =>
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), hconf.value)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val cols = try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getFileMetaData.getSchema.getFields.asScala
              .map(_.getName).toSeq
          } finally r.close()
          (p, cols, null: String, null: String)
        } catch {
          case e: Exception =>
            (p, Seq.empty[String], e.getClass.getSimpleName,
              String.valueOf(e.getMessage))
        }
      }
    val report = spark.createDataFrame(rows)
      .toDF("path", "columns", "exception", "message")
    (data, report)
  }

  /** to_parquet: one file per partition + commit protocol are native. */
  def toParquet(df: DataFrame, dest: String, overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) "overwrite" else "error").parquet(dest)

  /** Hive-style partitioned parquet layout (`dest/col=value/...`) — the
    * 100 TB corpus layout: a reader filtering on the partition columns
    * (lang, date, source) touches only the matching directories
    * (PartitionFilters prune before any file I/O; asserted in
    * SourcesSpec). Partition columns should be low-cardinality; high-
    * cardinality keys belong in bucketBy (BucketingSpec) instead. */
  def toParquetPartitioned(df: DataFrame, dest: String,
      partitionCols: Seq[String], overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) "overwrite" else "error")
      .partitionBy(partitionCols: _*).parquet(dest)

  /** to_json: line-delimited, one file per partition. */
  def toJson(df: DataFrame, dest: String, overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) "overwrite" else "error").json(dest)

  /** to_text (single string column). */
  def toText(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").text(dest)

  /** ORC read — the Spark-native columnar alternative to parquet with the
    * same optimizer surface: predicate pushdown, column pruning, and
    * stripe/row-group skipping all arrive through the identical
    * FileSourceScan path (SourcesSpec asserts pushdown parity with the
    * parquet reader). `columns=` mirrors fromParquet's projection. */
  def fromOrc(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.orc(path)
    if (columns.nonEmpty) df.select(columns.map(df.col): _*) else df
  }

  /** ORC write (one file per partition, same commit protocol). */
  def toOrc(df: DataFrame, dest: String, overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) "overwrite" else "error").orc(dest)

  /** CSV read: explicit `schema` skips inference (and is the scale path —
    * inference scans the data twice); `header`/`delimiter` cover the
    * common dialect knobs. Malformed rows follow the session's
    * PERMISSIVE/DROPMALFORMED/FAILFAST mode option. */
  def fromCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      header: Boolean = true,
      delimiter: String = ","): DataFrame = {
    val r = spark.read
      .option("header", header)
      .option("delimiter", delimiter)
      .option("inferSchema", schema.isEmpty)
    schema.fold(r)(r.schema).csv(path)
  }

  /** CSV write. */
  def toCsv(df: DataFrame, dest: String, header: Boolean = true,
      overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) "overwrite" else "error")
      .option("header", header).csv(dest)

  /** Idempotent micro-batch parquet writer — the exactly-once file-sink
    * contract for streaming ingestion: each micro-batch lands in its own
    * `__batch_id=N` partition via DYNAMIC partition overwrite, so a
    * REPLAYED batch (at-least-once source, recovery after a crash between
    * write and checkpoint commit) overwrites its earlier attempt instead
    * of appending duplicates. Write is idempotent per (batch_id,
    * contents); readers see `dest` as ordinary partitioned parquet and
    * can prune on `__batch_id`. Use from `writeStream.foreachBatch(
    * Sources.idempotentBatchWriter(dest))`. The same mechanism serves
    * batch backfills: re-running a failed backfill slice replaces it.
    * The dynamic mode is a write option, so the session's own
    * `spark.sql.sources.partitionOverwriteMode` is left as it was. */
  def idempotentBatchWriter(dest: String)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    df.withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(dest)
  }
}
