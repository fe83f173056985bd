package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins for [[LocalFs]], the `file:` filesystem [[Tables.configure]]
  * binds: writes and streaming checkpoints start no process, and files,
  * permissions, checksums and link statuses come out as the stock local
  * filesystem's. */
class LocalFsSpec extends SparkSuite {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def fresh(tag: String): String = {
    val dir = s"/tmp/graft_test/localfs_$tag"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    dir
  }

  /** The commands of the processes this JVM starts while `body` runs,
    * read from JFR `jdk.ProcessStart` events. A marker process started
    * after `body` fences the stream: every event before it has arrived
    * once the marker's has. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val fence = "graft-localfs-fence"
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(fence)) marker.countDown() else seen.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder("echo", fence).start().waitFor()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "no jdk.ProcessStart event for the fence process")
    } finally rs.close()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("file: is the fork-free filesystem for FileSystem and FileContext") {
    // the FileSystem cache key ignores the conf, so this also catches a
    // stock instance cached before the session bound the class
    assert(FileSystem.get(new URI("file:/"), hconf).getClass == classOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(hconf).getDefaultFileSystem.getClass ==
      classOf[LocalFs.Context])
  }

  test("a partitioned write and a checkpointed streaming batch start no process") {
    val tmp = fresh("forks")
    val rows = spark.range(2000).select(col("id"), (col("id") % 8).as("k"))
    // one-time JVM initialisation runs outside the recording: class
    // loading and codegen, and the `getconf PAGESIZE` that Spark's
    // process-tree metrics run once per JVM at the first heartbeat
    rows.write.mode("overwrite").partitionBy("k").parquet(s"$tmp/warm")
    val procfs = Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    procfs.getMethod("pTreeInfo").invoke(procfs.getField("MODULE$").get(null))
    val started = processesStartedBy {
      rows.repartition(4).write.mode("overwrite").partitionBy("k").parquet(s"$tmp/out")
      val q = spark.readStream.schema("id LONG, k LONG").parquet(s"$tmp/out")
        .groupBy(col("k")).count()
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000L) finally q.stop()
      assert(q.exception.isEmpty)
      assert(q.lastProgress != null && q.lastProgress.numInputRows == 2000)
    }
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
    assert(spark.read.parquet(s"$tmp/out").count() == 2000)
    assert(new java.io.File(s"$tmp/ckpt/commits/0").exists)
  }

  /** The stock checksummed local filesystem, outside the cache. */
  private def stock: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(new URI("file:///"), hconf)
    fs
  }

  private def mode(p: String): AnyRef =
    Files.getAttribute(Paths.get(p), "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)

  test("files, sidecars and directories get the stock permission bits") {
    val tmp = fresh("perms")
    val ours = FileSystem.get(new URI("file:/"), hconf)
    for ((tag, fs, fc) <- Seq(
        ("stock", stock, FileContext.getFileContext(new Configuration())),
        ("ours", ours, FileContext.getFileContext(hconf)))) {
      val out = fs.create(new Path(s"$tmp/$tag/a/b/f"), true)
      out.write(1); out.close()
      fs.mkdirs(new Path(s"$tmp/$tag/d/e"))
      fs.mkdirs(new Path(s"$tmp/$tag/m"), new FsPermission("750"))
      fs.create(new Path(s"$tmp/$tag/g")).close()
      fs.setPermission(new Path(s"$tmp/$tag/g"), new FsPermission("640"))
      // a sticky bit is past the nine rwx bits: the stock path handles it
      fs.mkdirs(new Path(s"$tmp/$tag/t"))
      fs.setPermission(new Path(s"$tmp/$tag/t"), new FsPermission("1777"))
      // FileContext passes its umask-applied create mode down
      fc.create(new Path(s"$tmp/$tag/c/h"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
    }
    for (rel <- Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "d", "d/e", "m", "g", "t", "c", "c/h", "c/.h.crc"))
      assert(mode(s"$tmp/ours/$rel") == mode(s"$tmp/stock/$rel"), rel)
  }

  test(".crc sidecars are kept and a flipped byte fails the read") {
    val tmp = fresh("crc")
    val fs = FileSystem.get(new URI("file:/"), hconf)
    val f = new Path(s"$tmp/data")
    val out = fs.create(f, true)
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(new java.io.File(s"$tmp/.data.crc").exists)
    val fc = FileContext.getFileContext(hconf)
    fc.create(new Path(s"$tmp/ctx"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      .close()
    assert(new java.io.File(s"$tmp/.ctx.crc").exists)
    val raf = new java.io.RandomAccessFile(s"$tmp/data", "rw")
    try { raf.seek(100); raf.write(raf.read() ^ 0xff) } finally raf.close()
    intercept[ChecksumException] {
      val in = fs.open(f)
      try in.readFully(new Array[Byte](4096)) finally in.close()
    }
  }

  test("getFileLinkStatus on a symlink and on a plain file matches the stock FS") {
    val tmp = fresh("links")
    Files.writeString(Paths.get(s"$tmp/plain"), "x")
    Files.createSymbolicLink(Paths.get(s"$tmp/link"), Paths.get(s"$tmp/plain"))
    val ours = new LocalFs.Raw
    ours.initialize(new URI("file:///"), hconf)
    val raw = new RawLocalFileSystem
    raw.initialize(new URI("file:///"), hconf)
    val stockFc = FileContext.getFileContext(new Configuration())
    val oursFc = FileContext.getFileContext(hconf)
    // the stock FS runs `readlink` on the path's string, so it finds a
    // link by its bare path but not by its `file:` URI; ours must agree
    for (name <- Seq("plain", "link"); p <- Seq(new Path(s"file:$tmp/$name"), new Path(s"$tmp/$name"))) {
      assert(ours.getFileLinkStatus(p).toString == raw.getFileLinkStatus(p).toString, p)
      assert(oursFc.getFileLinkStatus(p).toString == stockFc.getFileLinkStatus(p).toString, p)
    }
    assert(ours.getFileLinkStatus(new Path(s"$tmp/link")).isSymlink)
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(new Path(s"file:$tmp/none")))
  }
}
