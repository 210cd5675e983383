package graft

import java.net.URI
import java.nio.file.{Files, StandardOpenOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.sources.TxnLog
import graft.streaming.{VoteGenerator, VotePipeline}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[NioRawLocalFileSystem]] against Hadoop's stock local file system,
  * and the guard that a micro-batch's checkpoint writes, a table load
  * and a [[TxnLog]] commit start no process.
  */
class NioLocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = { fs.initialize(root, new Configuration()); fs }

  private def local(fs: LocalFileSystem): LocalFileSystem = { fs.initialize(root, new Configuration()); fs }

  /** `FileContext` over the given `AbstractFileSystem` for `file:`
    * (None = Hadoop's own `LocalFs`). */
  private def fileContext(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(root, conf)
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.getModificationTime, s.isDirectory, s.getPermission.toShort,
      s.getOwner, s.getGroup, if (s.isSymlink) Some(s.getSymlink) else None)

  /** A directory holding a file, a subdirectory, a link to each and a
    * dangling link, as scheme-less paths. */
  private def tree(): Map[String, Path] = {
    val dir = Files.createTempDirectory("graft-niofs")
    val file = Files.write(dir.resolve("f.txt"), "payload".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("to_file"), file)
    Files.createSymbolicLink(dir.resolve("to_sub"), sub.getFileName)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    Seq("f.txt", "sub", "to_file", "to_sub", "dangling").map(n => n -> new Path(dir.resolve(n).toString)).toMap
  }

  test("file, directory and symlink statuses and listings match the stock RawLocalFileSystem") {
    val (nio, stock) = (raw(new NioRawLocalFileSystem), raw(new RawLocalFileSystem))
    val paths = tree()
    paths.foreach { case (name, p) =>
      withClue(s"$name link status: ") {
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)))
      }
      if (name != "dangling") withClue(s"$name status: ") {
        assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)))
        assert(nio.listStatus(p).map(fields).toSeq == stock.listStatus(p).map(fields).toSeq)
      }
    }
    val dir = paths("f.txt").getParent
    assert(nio.listStatus(dir).map(fields).sortBy(_._1.toString).toSeq ==
      stock.listStatus(dir).map(fields).sortBy(_._1.toString).toSeq)
    assert(nio.getFileLinkStatus(paths("to_file")).isSymlink)
    assert(nio.getFileLinkStatus(nio.makeQualified(paths("to_file"))).isSymlink)
    assert(nio.getFileStatus(paths("sub")).isDirectory)
  }

  test("a missing path throws FileNotFoundException from both status calls") {
    val nio = raw(new NioRawLocalFileSystem)
    val paths = tree()
    val missing = new Path(paths("f.txt").getParent, "absent")
    intercept[java.io.FileNotFoundException](nio.getFileStatus(missing))
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](nio.getFileStatus(paths("dangling")))
  }

  test("FileContext.rename onto an existing file throws unless told to overwrite") {
    val fc = fileContext(Some(classOf[NioLocalFs].getName))
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = tree()("f.txt").getParent
    val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
    Seq(src, dst).foreach(p => Files.write(java.nio.file.Paths.get(p.toString), p.getName.getBytes))
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(dst.toString))) == "src")
  }

  test("setPermission round-trips and the stock file system reads the same bits") {
    val (nio, stock) = (raw(new NioRawLocalFileSystem), raw(new RawLocalFileSystem))
    val paths = tree()
    Seq(paths("f.txt") -> "640", paths("sub") -> "705", paths("f.txt") -> "600").foreach { case (p, mode) =>
      nio.setPermission(p, new FsPermission(mode))
      assert(nio.getFileStatus(p).getPermission == new FsPermission(mode))
      assert(stock.getFileStatus(p).getPermission == new FsPermission(mode))
    }
  }

  /** Write through `write`, read back through `read` with checksums
    * verified, then flip a data byte and expect the read to fail. */
  private def checksumRoundTrip(write: (Path, Array[Byte]) => Unit, read: Path => Array[Byte]): Unit = {
    val p = new Path(Files.createTempDirectory("graft-niofs-crc").resolve("1.delta").toString)
    val bytes = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    write(p, bytes)
    assert(Files.exists(java.nio.file.Paths.get(p.getParent.toString, ".1.delta.crc")))
    assert(read(p).sameElements(bytes))
    val data = java.nio.file.Paths.get(p.toString)
    val flipped = Files.readAllBytes(data)
    flipped(1000) = (flipped(1000) ^ 1).toByte
    Files.write(data, flipped, StandardOpenOption.TRUNCATE_EXISTING)
    intercept[ChecksumException](read(p))
  }

  private def fcWrite(fc: FileContext)(p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    try out.write(bytes) finally out.close()
  }

  private def fcRead(fc: FileContext)(p: Path): Array[Byte] = {
    val in = fc.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def fsWrite(fs: FileSystem)(p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
  }

  private def fsRead(fs: FileSystem)(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  // A FileContext open reads the raw file without checking its `.crc`
  // (Hadoop's own LocalFs too), so checksums are verified through
  // FileSystem readers.
  test("checkpoint files written through either file system verify through the other") {
    val (nioFc, stockFc) = (fileContext(Some(classOf[NioLocalFs].getName)), fileContext(None))
    val (nioFs, stockFs) = (local(new NioLocalFileSystem), local(new LocalFileSystem))
    checksumRoundTrip(fcWrite(nioFc), fsRead(stockFs))
    checksumRoundTrip(fsWrite(nioFs), fsRead(stockFs))
    checksumRoundTrip(fcWrite(stockFc), fsRead(nioFs))
    checksumRoundTrip(fsWrite(stockFs), fsRead(nioFs))
    val p = new Path(Files.createTempDirectory("graft-niofs-fc").resolve("0").toString)
    fcWrite(stockFc)(p, Array[Byte](1, 2, 3))
    assert(fcRead(nioFc)(p).toSeq == Seq[Byte](1, 2, 3))
  }

  test("micro-batches with a checkpoint, a table load and a TxnLog commit start no process") {
    val dir = Files.createTempDirectory("graft-nofork")
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path(dir.toString).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    implicit val ctx = spark.sqlContext
    val jfr = dir.resolve("process.jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val ms = MemoryStream[String]
      val q = VotePipeline.votesPerCandidate(VotePipeline.parse(ms.toDF()))
        .writeStream.format("memory").queryName("nofork_votes").outputMode("update")
        .option("checkpointLocation", dir.resolve("chk").toString).start()
      try (1 to 3).foreach { i =>
        ms.addData(VoteGenerator.votes(30, seed = i))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(Tables.orders(spark, sfDir).count() > 0)
      val table = dir.resolve("txn").toString
      TxnLog.init(table)
      val files = TxnLog.stage(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), table, "t1")
      TxnLog.commit(table, "append", files, Nil, readVersion = TxnLog.currentVersion(table), txnId = "t1")
      rec.stop()
      rec.dump(jfr)
    } finally rec.close()
    // Spark's first heartbeat in a JVM, from either heartbeater
    // thread, probes the page size with `getconf`; that start is
    // Spark's own, whenever it falls.
    val started = RecordingFile.readAllEvents(jfr).asScala
      .map(e => (e.getString("command"), Option(e.getThread).map(_.getJavaName).getOrElse("")))
      .filterNot { case (cmd, thread) => cmd == "getconf PAGESIZE" && thread.endsWith("-heartbeater") }
      .map { case (cmd, thread) => s"$cmd (thread $thread)" }
    if (started.nonEmpty) fail(s"${started.size} processes started: ${started.take(5).mkString("; ")}")
  }
}
