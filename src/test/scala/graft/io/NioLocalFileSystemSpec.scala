package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.Triple
import graft.streaming.StreamLink
import graft.synth.LinkCorpus

/** The session's `file:` filesystem sets permissions without starting a
  * process, and leaves every file and directory with the mode the stock
  * `LocalFileSystem` gives it. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def withDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteQuietly(dir)
  }

  private def modeOf(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Spark housekeeping that starts processes on its own threads, when the
    * JVM gets to it rather than because of the work under way: the executor
    * heartbeat's one-time page-size probe (`getconf PAGESIZE`) and the
    * `rm -rf` of a garbage-collected session's artifact dir. */
  private val housekeeping = Seq("org.apache.spark.executor.ProcfsMetricsGetter",
    "org.apache.spark.sql.artifact.ArtifactManager")

  /** The processes `body` started, read off a JFR recording that enables
    * only `jdk.ProcessStart`, [[housekeeping]] left out: each one's command
    * and the classes on its stack, innermost first. */
  private def processesStartedBy(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft-process-start", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(f =>
          housekeeping.exists(f.getMethod.getType.getName.startsWith))))
        .map(e => (e.getString("command"), Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("file: resolves to NioLocalFileSystem over NioRawLocalFileSystem") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass ===
      classOf[NioRawLocalFileSystem])
  }

  test("a 64-bucket partitionBy write and a processBatch start no process") {
    withDir("graft-no-spawn") { root =>
      val started = processesStartedBy {
        spark.range(0, 6400, 1, 4).withColumn("b", col("id") % 64)
          .write.partitionBy("b").parquet(s"$root/buckets")
        StreamLink.processBatch(LinkCorpus.triples(spark, 0, 200, 1), s"$root/state", batchId = 0)
      }
      assert(Files.list(Paths.get(s"$root/buckets")).iterator.asScala
        .count(_.getFileName.toString.startsWith("b=")) === 64)
      assert(started.isEmpty,
        s"${started.size} processes started, e.g. ${started.map(_._1).distinct.take(3).mkString("; ")}")
    }
  }

  test("FileContext file: is NioLocalFs; a one-batch StreamLink.run starts no process under it") {
    import spark.implicits._
    val fc = FileContext.getFileContext(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    withDir("graft-fc-no-spawn") { root =>
      LinkCorpus.triples(spark, 0, 50, 1).write.parquet(s"$root/in")
      val schema = spark.read.parquet(s"$root/in").schema
      val started = processesStartedBy {
        val q = StreamLink.run(spark.readStream.schema(schema).parquet(s"$root/in").as[Triple],
          s"$root/state", s"$root/ckpt")
        try q.awaitTermination() finally q.stop()
      }
      assert(StreamLink.readResolution(spark, s"$root/state").count() === 100L)
      val underFc = started.filter(_._2.contains(classOf[FileContext].getName))
      assert(underFc.isEmpty, s"${underFc.size} processes started under FileContext, " +
        s"e.g. ${underFc.map(_._1).distinct.take(3).mkString("; ")}")
    }
  }

  test("getFileLinkStatus: plain paths answer without a process, symlinks as stock") {
    withDir("graft-link-status") { root =>
      val conf = spark.sparkContext.hadoopConfiguration
      val nio = new NioRawLocalFileSystem
      val stock = new RawLocalFileSystem
      Seq(nio, stock).foreach(_.initialize(URI.create("file:///"), conf))
      Files.createDirectory(Paths.get(s"$root/d"))
      Files.write(Paths.get(s"$root/f"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(Paths.get(s"$root/l"), Paths.get(s"$root/f"))
      def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        st.getLen, if (st.isSymlink) st.getSymlink else null)
      val plain = Seq("f", "d").map(n => new Path(s"$root/$n"))
      var got = Seq.empty[FileStatus]
      val started = processesStartedBy { got = plain.map(nio.getFileLinkStatus) }
      assert(started.isEmpty, s"processes started: ${started.map(_._1).mkString("; ")}")
      assert(got.map(view) === plain.map(p => view(stock.getFileLinkStatus(p))))
      val link = new Path(s"$root/l")
      assert(view(nio.getFileLinkStatus(link)) === view(stock.getFileLinkStatus(link)))
      val missing = new Path(s"$root/missing")
      intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
      intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    }
  }

  test("files and dirs written through the session get the stock filesystem's modes") {
    withDir("graft-modes") { root =>
      val stock = new LocalFileSystem()
      stock.initialize(URI.create("file:///"), new Configuration())
      try {
        stock.create(new Path(s"$root/stock/d/f")).close()
        stock.mkdirs(new Path(s"$root/stock/e"))
      } finally stock.close()
      val stockFile = modeOf(Paths.get(s"$root/stock/d/f"))
      val stockCrc = modeOf(Paths.get(s"$root/stock/d/.f.crc"))
      val stockDirs = Seq("d", "e").map(d => modeOf(Paths.get(s"$root/stock/$d"))).distinct
      assert((stockFile, stockCrc, stockDirs) === (("rw-r--r--", "rw-r--r--", Seq("rwxr-xr-x"))))

      spark.range(0, 100, 1, 2).withColumn("b", col("id") % 2)
        .write.partitionBy("b").parquet(s"$root/session")
      val written = Files.walk(Paths.get(s"$root/session")).iterator.asScala.toSeq
      val (dirs, files) = written.partition(Files.isDirectory(_))
      val (crcs, data) = files.partition(_.getFileName.toString.endsWith(".crc"))
      assert(dirs.size === 3 && data.size >= 3 && crcs.size === data.size)
      assert(dirs.map(modeOf).distinct === stockDirs)
      assert(data.map(modeOf).distinct === Seq(stockFile))
      assert(crcs.map(modeOf).distinct === Seq(stockCrc))
    }
  }

  test("setPermission round-trips 0600 and 0700; a sticky bit takes the stock path") {
    withDir("graft-chmod") { root =>
      val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      val file = new Path(s"$root/f")
      val dir = new Path(s"$root/d")
      fs.create(file).close()
      fs.mkdirs(dir)
      for ((p, mode, want) <- Seq((file, "600", "rw-------"), (dir, "700", "rwx------"))) {
        val perm = new FsPermission(mode)
        fs.setPermission(p, perm)
        assert(modeOf(Paths.get(p.toUri.getPath)) === want)
        assert(fs.getFileStatus(p).getPermission === perm)
      }
      fs.setPermission(dir, new FsPermission("1777"))
      val mode = Files.getAttribute(Paths.get(s"$root/d"), "unix:mode").asInstanceOf[Int]
      assert((mode & 0xfff) === Integer.parseInt("1777", 8))
    }
  }

}
