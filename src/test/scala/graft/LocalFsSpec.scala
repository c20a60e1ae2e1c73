package graft

import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.streaming.{MicroBatch, StreamingDedup, TimedText}
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

/** The fork-free local filesystem ([[graft.io.NioRawLocalFileSystem]])
  * must be indistinguishable from Hadoop's on disk and through both
  * APIs: the same operations through the stock classes and through
  * `graft.io` leave the same files, sidecars and permission bits and
  * return the same statuses and exceptions; checkpoints written by
  * either one restart under the other; and a checkpointed trigger forks
  * no process.
  */
class LocalFsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val stockFc = classOf[org.apache.hadoop.fs.local.LocalFs].getName
  private val root = URI.create("file:///")

  private def fileSystem(fs: FileSystem): FileSystem = { fs.initialize(root, new Configuration()); fs }

  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(root, conf)
  }

  /** Every field of a status, with the run's directory masked. Times
    * only say whether they are set: the two runs happen apart.
    */
  private def describe(st: FileStatus, dir: JPath): String = {
    def mask(p: Path) = Option(p).map(_.toString.replace(dir.toString, "<dir>")).orNull
    Seq(mask(st.getPath), st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) mask(st.getSymlink) else "-", st.getReplication, st.getBlockSize,
      st.getModificationTime > 0, st.getAccessTime > 0, st.getPermission, st.getOwner,
      st.getGroup).mkString("|")
  }

  /** Each file under `dir` (links not followed): relative name, kind,
    * permission bits and content.
    */
  private def tree(dir: JPath): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map { p =>
      val rel = dir.relativize(p)
      if (Files.isSymbolicLink(p)) s"$rel -> ${Files.readSymbolicLink(p)}"
      else {
        val perms = java.nio.file.attribute.PosixFilePermissions
          .toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
        val body = if (Files.isDirectory(p)) "dir" else Files.readAllBytes(p).toSeq.hashCode
        s"$rel $perms $body"
      }
    }.toVector.sorted
    finally walk.close()
  }

  private def outcome[A](log: ArrayBuffer[String], step: String)(f: => A): Unit =
    log += s"$step: " + Try(f).fold(e => s"threw ${e.getClass.getName}", _.toString)

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes("UTF-8")) finally out.close()

  private def links(dir: JPath): Unit = {
    Files.createSymbolicLink(dir.resolve("link"), Paths.get("a"))
    Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("missing"))
  }

  private def fileSystemScript(fs: FileSystem, dir: JPath): Seq[String] = {
    val log = ArrayBuffer.empty[String]
    def p(name: String) = new Path(dir.resolve(name).toString)
    outcome(log, "create")(write(fs.create(p("a"), true), "alpha"))
    outcome(log, "create overwrite")(write(fs.create(p("a"), true), "alpha two"))
    outcome(log, "create no overwrite")(write(fs.create(p("a"), false), "x"))
    outcome(log, "create with permission")(write(
      fs.create(p("b"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null), "beta"))
    outcome(log, "mkdirs with permission")(fs.mkdirs(p("d/e/f"), new FsPermission("750")))
    outcome(log, "mkdirs existing")(fs.mkdirs(p("d"), new FsPermission("700")))
    outcome(log, "rename over existing")(fs.rename(p("b"), p("a")))
    outcome(log, "status")(describe(fs.getFileStatus(p("a")), dir))
    links(dir)
    for (name <- Seq("a", "d", "link", "dangling", "missing");
         path <- Seq(p(name), fs.makeQualified(p(name))))
      outcome(log, s"link status $path".replace(dir.toString, "<dir>"))(
        describe(fs.getFileLinkStatus(path), dir))
    outcome(log, "delete dir")(fs.mkdirs(p("g/h")) && fs.delete(p("g"), true))
    outcome(log, "delete missing")(fs.delete(p("nothing"), false))
    log.toSeq ++ tree(dir)
  }

  private def fileContextScript(fc: FileContext, dir: JPath): Seq[String] = {
    val log = ArrayBuffer.empty[String]
    def p(name: String) = new Path(dir.resolve(name).toString)
    val overwrite = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    outcome(log, "create")(write(fc.create(p("a"), overwrite), "alpha"))
    outcome(log, "create overwrite")(write(fc.create(p("a"), overwrite), "alpha two"))
    outcome(log, "create no overwrite")(write(fc.create(p("a"), EnumSet.of(CreateFlag.CREATE)), "x"))
    outcome(log, "create with permission")(write(fc.create(p("b"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("640"))), "beta"))
    outcome(log, "mkdir with permission")(fc.mkdir(p("d/e/f"), new FsPermission("750"), true))
    outcome(log, "rename over existing")(fc.rename(p("b"), p("a")))
    outcome(log, "rename over existing, overwrite")(fc.rename(p("b"), p("a"), Options.Rename.OVERWRITE))
    outcome(log, "rename to new")(fc.rename(p("a"), p("c")))
    outcome(log, "status")(describe(fc.getFileStatus(p("c")), dir))
    Files.copy(dir.resolve("c"), dir.resolve("a"))
    links(dir)
    for (name <- Seq("a", "d", "link", "dangling", "missing");
         path <- Seq(p(name), fc.makeQualified(p(name))))
      outcome(log, s"link status $path".replace(dir.toString, "<dir>"))(
        describe(fc.getFileLinkStatus(path), dir))
    outcome(log, "delete dir")({ fc.mkdir(p("g/h"), FsPermission.getDirDefault, true); fc.delete(p("g"), true) })
    outcome(log, "delete missing")(fc.delete(p("nothing"), false))
    log.toSeq ++ tree(dir)
  }

  test("FileSystem API: same outcomes, statuses, sidecars and permission bits as stock LocalFileSystem") {
    val stock = fileSystemScript(fileSystem(new LocalFileSystem()), Files.createTempDirectory("graft-fs-stock"))
    val nio = fileSystemScript(fileSystem(new NioLocalFileSystem()), Files.createTempDirectory("graft-fs-nio"))
    assert(nio == stock)
    // the script reached what it set out to exercise
    assert(stock.exists(_.matches("create no overwrite: threw .*FileAlreadyExistsException")), stock)
    assert(stock.exists(_.startsWith(".a.crc rw-r----- ")), stock) // b's sidecar, renamed with it
    assert(stock.exists(_.startsWith("d/e/f rwxr-x--- dir")), stock)
    assert(stock.exists(_.contains("/link|4|false|true|file:<dir>/a|")), stock)
  }

  test("FileContext API: same outcomes, statuses, sidecars and permission bits as stock LocalFs") {
    val stock = fileContextScript(fileContext(stockFc), Files.createTempDirectory("graft-fc-stock"))
    val nio = fileContextScript(fileContext(classOf[NioLocalFs].getName),
      Files.createTempDirectory("graft-fc-nio"))
    assert(nio == stock)
    assert(stock.exists(_.matches("rename over existing: threw .*FileAlreadyExistsException")), stock)
    assert(stock.exists(_.startsWith(".c.crc rw-r----- ")), stock)
    assert(stock.exists(_.startsWith("d/e/f rwxr-x--- dir")), stock)
    assert(stock.exists(_.contains("/link|4|false|true|file:<dir>/a|")), stock)
  }

  /** The session's FileContext implementation: what the checkpoint
    * manager of a query started in `s` writes through.
    */
  private def checkpointFs(s: SparkSession): String =
    AbstractFileSystem.get(root, s.sessionState.newHadoopConf()).getClass.getName

  private def stockSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.AbstractFileSystem.file.impl", stockFc)
    assert(checkpointFs(s) == stockFc)
    s
  }

  test("exactDedupIngest checkpoints restart across the stock and fork-free filesystems, both ways") {
    assert(checkpointFs(spark) == classOf[NioLocalFs].getName)
    val d1 = "the same words again"
    val d2 = "a different document"
    def leg(s: SparkSession, input: JPath, cp: String): Map[Long, String] = {
      val got = ArrayBuffer.empty[Row]
      val q = MicroBatch.start(
        StreamingDedup.exactDedupIngest(
          s.readStream.schema("doc_id LONG, text STRING").json(input.toString), "doc_id", "text").toDF(),
        processor = (_, df) => Success(df),
        finalizer = (p, _) => p.foreach(df => got.synchronized(got ++= df.collect())),
        checkpoint = Some(cp))
      try q.processAllAvailable() finally MicroBatch.stopGracefully(q)
      got.map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    def restart(first: SparkSession, second: SparkSession): (Map[Long, String], Map[Long, String], JPath) = {
      val input = Files.createTempDirectory("graft-lfs-in")
      val cp = Files.createTempDirectory("graft-lfs-cp")
      Files.writeString(input.resolve("1.json"),
        s"""{"doc_id":1,"text":"$d1"}\n{"doc_id":2,"text":"$d1"}\n{"doc_id":3,"text":"$d2"}\n""")
      val before = leg(first, input, cp.toString)
      Files.writeString(input.resolve("2.json"),
        s"""{"doc_id":4,"text":"$d1"}\n{"doc_id":5,"text":"$d2"}\n{"doc_id":6,"text":"fresh"}\n""")
      (before, leg(second, input, cp.toString), cp)
    }
    val (b1, a1, stockFirst) = restart(stockSession(), spark)
    val (b2, a2, nioFirst) = restart(spark, stockSession())
    for ((before, after) <- Seq(b1 -> a1, b2 -> a2)) {
      assert(before == Map(1L -> "new", 2L -> "dup_in_increment", 3L -> "new"))
      // digests indexed before the restart come back from the restored state
      assert(after == Map(4L -> "dup_of_index", 5L -> "dup_of_index", 6L -> "new"))
    }
    // the same checkpoint files, sidecars included, with the same bits
    def layout(dir: JPath) = tree(dir).map(_.split(' ').take(2).mkString(" "))
    assert(layout(nioFirst) == layout(stockFirst))
    assert(layout(stockFirst).exists(_.endsWith(".delta.crc rw-r--r--")), layout(stockFirst))
  }

  /** Run `triggers` checkpointed exactDedupIngest triggers in `s` while
    * sampling every thread's stack; returns the sampled frames that
    * were inside Hadoop's process launcher.
    */
  private def forksDuring(s: SparkSession, triggers: Int): Seq[String] = {
    implicit val sq = s.sqlContext
    import s.implicits._
    val in = MemoryStream[TimedText]
    val q = MicroBatch.start(StreamingDedup.exactDedupIngest(in.toDF(), "doc_id", "text").toDF(),
      processor = (_, df) => Success(df),
      finalizer = (p, _) => p.foreach(_.count()),
      pollInterval = 10.millis,
      checkpoint = Some(Files.createTempDirectory("graft-lfs-fork").toString))
    val ts = new java.sql.Timestamp(0L)
    try {
      in.addData(TimedText(0L, ts, "warm-up"))
      q.processAllAvailable() // the first trigger makes the checkpoint's directories
      @volatile var sampling = true
      val seen = ArrayBuffer.empty[String]
      val sampler = new Thread(() =>
        while (sampling) {
          for (frames <- Thread.getAllStackTraces.values.asScala
               if frames.exists(f => f.getClassName == "org.apache.hadoop.util.Shell" &&
                 f.getMethodName == "runCommand"))
            seen += frames.take(12).mkString(" <- ")
        })
      sampler.start()
      for (i <- 1 to triggers) {
        in.addData(TimedText(i.toLong, ts, s"doc $i"), TimedText(i + 100L, ts, "warm-up"))
        q.processAllAvailable()
      }
      sampling = false
      sampler.join()
      seen.toSeq
    } finally MicroBatch.stopGracefully(q)
  }

  test("a checkpointed trigger forks no process; the stock filesystem does") {
    val nio = forksDuring(spark, triggers = 6)
    assert(nio.isEmpty, nio.distinct.mkString("\n"))
    // the sampler sees forks when they happen
    assert(forksDuring(stockSession(), triggers = 6).nonEmpty)
  }
}
