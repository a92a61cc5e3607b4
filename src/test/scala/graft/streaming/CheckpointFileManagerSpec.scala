package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.UnsupportedFileSystemException
import org.apache.spark.sql.execution.streaming.checkpointing.ChecksumCheckpointFileManager

import graft.{PlanSnapshot, SparkEntry, SparkSpec}

/** [[LocalCheckpointFileManager]]: HDFS-metadata-log semantics on `file:`
  * paths through `java.nio`, delegation elsewhere, and no process fork
  * while a stream drains. */
class CheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def fresh(): NioPath = graft.TempDirs.create("graft-cfm")

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(m: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("a no-overwrite createAtomic onto an existing file throws and keeps " +
      "the old bytes; overwrite replaces it") {
    val dir = fresh()
    val m = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(m, p) == "first")
    write(m, p, "third", overwrite = true)
    assert(read(m, p) == "third")
    assert(names(dir) == Set("0"), "a temp file was left behind")
  }

  test("cancel leaves neither the target nor a temp file; list hides temp files") {
    val dir = fresh()
    val m = manager(dir)
    val p = new Path(dir.toUri.toString, "1")
    val open = m.createAtomic(p, overwriteIfPossible = false)
    open.write("pending".getBytes(UTF_8))
    assert(names(dir).exists(n => n.startsWith(".1.") && n.endsWith(".tmp")))
    assert(m.list(new Path(dir.toUri)).isEmpty, "list showed an unpublished temp file")
    assert(!m.exists(p))
    open.cancel()
    assert(names(dir).isEmpty)
    write(m, p, "done", overwrite = false)
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("1"))
  }

  test("a non-file: path is handed to Spark's FileContext manager") {
    val local = manager(fresh())
    assert(local.delegate.isEmpty && local.isLocal)
    // the FileContext manager resolves the scheme when built: an unknown
    // one fails there, which the nio path would never reach
    val e = intercept[UnsupportedFileSystemException](
      new LocalCheckpointFileManager(new Path("graftnofs:/ckpt"), conf))
    assert(e.getMessage.contains("graftnofs"))
    // a path without a scheme follows fs.defaultFS
    val remote = new Configuration()
    remote.set("fs.defaultFS", "graftnofs:///")
    intercept[UnsupportedFileSystemException](
      new LocalCheckpointFileManager(new Path("/ckpt"), remote))
  }

  test("Spark's checksum manager writes and verifies its sidecars on top") {
    val dir = fresh()
    val m = new ChecksumCheckpointFileManager(manager(dir),
      allowConcurrentDelete = false, numThreads = 2,
      skipCreationIfFileMissingChecksum = false)
    val p = new Path(dir.toUri.toString, "1.delta")
    try {
      val out = m.createAtomic(p, overwriteIfPossible = true)
      out.write("state".getBytes(UTF_8))
      out.close()
      assert(names(dir).contains("1.delta") &&
        names(dir).exists(n => n.startsWith("1.delta") && n != "1.delta"),
        s"no checksum sidecar: ${names(dir)}")
      val in = m.open(p)
      try assert(new String(in.readAllBytes(), UTF_8) == "state") finally in.close()
      // corrupt the data file behind the manager's back: the read fails
      Files.write(dir.resolve("1.delta"), "STATE".getBytes(UTF_8))
      intercept[Exception] {
        val bad = m.open(p)
        try bad.readAllBytes() finally bad.close()
      }
    } finally m.close()
  }

  test("draining tw_q2_stream_top_emoji forks no process on a stream or " +
      "checkpoint thread") {
    import jdk.jfr.consumer.RecordingFile
    val name = "tw_q2_stream_top_emoji"
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val rows = try SparkEntry.queries(name)(spark, PlanSnapshot.PinnedSf).collect()
      finally rec.stop()
    val dump = Files.createTempFile(fresh(), "fork", ".jfr")
    rec.dump(dump)
    rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (Option(e.getThread).map(_.getJavaName).getOrElse(""), e.getString("command")))
    assert(rows.nonEmpty && StreamingOps.lastRun.dataBatches >= 1)
    info(s"${starts.size} process starts in the JVM during the drain: " +
      starts.map { case (t, c) => s"[$t] $c" }.mkString("; "))
    // the threads that write a stream's logs, state and checksum sidecars
    val onStream = starts.filter { case (thread, _) =>
      Seq("stream execution thread", "Executor task launch worker",
        "ChecksumCheckpointFileManager", "state-store").exists(thread.startsWith)
    }
    assert(onStream.isEmpty, s"${onStream.size} process starts: " +
      onStream.take(10).map { case (t, c) => s"[$t] $c" }.mkString("; "))
  }
}
