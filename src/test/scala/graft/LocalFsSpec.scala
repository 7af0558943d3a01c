package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Sources}

/** The fork-free local filesystem (sources/LocalFs) against stock Hadoop:
  * the same permission bits and link statuses, the same `FileContext`
  * rename semantics, and no subprocess on a streaming query's path. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft-$name")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** The mode bits on disk, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("permissions: create, mkdirs and setPermission set the bits " +
    "stock RawLocalFileSystem sets") {
    def run(fs: RawLocalFileSystem): Map[String, Int] = {
      val d = tmp("perm")
      def at(n: String) = new Path(d.toString, n)
      fs.create(at("f")).close()
      fs.create(at("g"), new FsPermission("640"), false, 4096, 1.toShort,
        1L << 20, null).close()
      fs.mkdirs(at("sub"))
      fs.mkdirs(at("sub750"), new FsPermission("750"))
      fs.create(at("h")).close()
      fs.setPermission(at("h"), new FsPermission("604"))
      fs.mkdirs(at("sticky"))
      fs.setPermission(at("sticky"), new FsPermission("1777"))
      Seq("f", "g", "sub", "sub750", "h", "sticky")
        .map(n => n -> mode(d.resolve(n))).toMap
    }
    val stock = run(raw(new RawLocalFileSystem))
    assert(run(raw(new NioRawLocalFileSystem)) == stock)
    // setPermission applies no umask: the requested modes land exactly
    assert(stock("h") == Integer.parseInt("604", 8))
    assert(stock("sticky") == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus: file, directory, symlink, dangling symlink and " +
    "missing path match stock RawLocalFileSystem") {
    val d = tmp("link")
    Files.write(d.resolve("file"), "abc".getBytes)
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nowhere"))
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    def status(fs: RawLocalFileSystem, q: Path): Seq[Any] =
      try {
        val s = fs.getFileLinkStatus(q)
        Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
      } catch { case e: FileNotFoundException => Seq(e.getClass) }
    for (n <- Seq("file", "dir", "link", "dangling", "missing")) {
      val p = new Path(d.resolve(n).toString)
      // Hadoop probes the path string as given: a qualified `file:` path
      // never reads as a symlink, so a dangling one is not found
      for (q <- Seq(p, stock.makeQualified(p)))
        assert(status(nio, q) == status(stock, q), s"$n ($q)")
    }
    def at(n: String) = new Path(d.resolve(n).toString)
    assert(nio.getFileLinkStatus(at("link")).isSymlink)
    assert(nio.getFileLinkStatus(at("dangling")).isSymlink)
    assert(!nio.getFileLinkStatus(stock.makeQualified(at("link"))).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(at("missing")))
  }

  test("FileContext.rename: OVERWRITE replaces, NONE refuses, checksums " +
    "follow the data, as with stock LocalFs") {
    def run(impl: String): Seq[Any] = {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val d = tmp("rename")
      def at(n: String) = new Path(d.toUri.toString, n)
      def write(n: String, body: String): Unit = {
        val out = fc.create(at(n), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes) finally out.close()
      }
      def read(n: String): String = {
        val in = fc.open(at(n))
        try new String(in.readAllBytes()) finally in.close()
      }
      write("src", "new"); write("dst", "old")
      intercept[FileAlreadyExistsException](
        fc.rename(at("src"), at("dst"), Options.Rename.NONE))
      val afterNone = Seq(read("src"), read("dst"))
      fc.rename(at("src"), at("dst"), Options.Rename.OVERWRITE)
      Seq(fc.getDefaultFileSystem.getClass.getSimpleName) ++ afterNone ++
        Seq(read("dst"), fc.util.exists(at("src")),
          Files.list(d).iterator.asScala.map(_.getFileName.toString)
            .toSeq.sorted)
    }
    val stock = run("org.apache.hadoop.fs.local.LocalFs")
    val nio = run(classOf[NioLocalFs].getName)
    assert(stock.head == "LocalFs" && nio.head == "NioLocalFs")
    assert(nio.tail == stock.tail)
    assert(stock.tail == Seq("new", "old", "new", false, Seq(".dst.crc", "dst")))
  }

  test("a keyed-state file stream with idempotentBatchWriter starts no " +
    "subprocess") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hconf)
      .isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getRawFileSystem
      .isInstanceOf[NioRawLocalFileSystem])
    val d = tmp("forkfree")
    val in = d.resolve("in").toString
    val sink = d.resolve("sink").toString
    (0 until 3).foreach { b =>
      (0 until 20).map(i => ((i + b) % 7L, b * 100L + i)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(in)
    }
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("v", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(in)
      .groupBy("k").agg(count(lit(1)).as("n"))
    // Hadoop's Shell forks `setsid` once per JVM in its class initializer:
    // one-time set-up, kept out of the recording
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = stream.writeStream.outputMode("update")
      .option("checkpointLocation", d.resolve("ckpt").toString)
      .foreachBatch(Sources.idempotentBatchWriter(sink)).start()
    val batches =
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally { q.stop(); rec.stop() }
    val jfr = d.resolve("rec.jfr")
    rec.dump(jfr)
    rec.close()
    // the JVM's reference cleaner deletes a collected session's artifact
    // directory with `rm -rf` whenever GC gets to it: not the stream's work
    def fromCleaner(e: jdk.jfr.consumer.RecordedEvent): Boolean =
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala
        .exists(_.getMethod.getType.getName == "jdk.internal.ref.CleanerImpl")
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
        !fromCleaner(e))
      .map(_.getString("command"))
    assert(batches == 3)
    assert(forks.isEmpty, forks.mkString("forked: ", "; ", ""))
    // one sink partition per batch; every file holds all 7 keys, so the
    // last batch updates each key to its running count over all 3 files
    val out = spark.read.parquet(sink)
    assert(out.select("__batch_id").distinct().count() == 3)
    val last = out.where(col("__batch_id") === 2)
      .select("k", "n").as[(Long, Long)].collect().toMap
    val keys = for (b <- 0 until 3; i <- 0 until 20) yield (i + b) % 7L
    assert(last == keys.groupBy(identity).map { case (k, ks) => k -> ks.size.toLong })
  }
}
