package graft

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GmallDwd, GmallDws, Memo}
import graft.serving.AdsStore
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.{LogStream, Windows}

/** The engine's `file:` filesystem ([[ForkFreeLocalFileSystem]]): the
  * session resolves `file:` to it through both Hadoop entry points, it
  * keeps Hadoop's local semantics (permissions, `Rename.NONE`,
  * symlinks), and the engine's file-writing paths start no child
  * process. Without it each of the three recorded steps below forks
  * `chmod` and `readlink` dozens of times. */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  import TestSession._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Commands of the processes this JVM started while `body` ran
    * (JFR's `jdk.ProcessStart`). Two JVM-wide one-offs that no step
    * causes are left out: Spark's executor-metrics poller reads the
    * page size once per JVM with `getconf PAGESIZE`, and the JDK's
    * `Cleaner` thread deletes a collected session's artifact directory
    * with `rm -rf`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.flatMap { e =>
        val thread = Option(e.getThread).flatMap(t => Option(t.getJavaName)).getOrElse("")
        val command = e.getString("command")
        val oneOff = command == "getconf PAGESIZE" ||
          (thread.startsWith("Cleaner") && command.startsWith("rm -rf "))
        if (oneOff) None else Some(command)
      }
    } finally { rec.close(); Files.delete(f) }
  }

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session resolves file: to the fork-free classes through FileSystem and FileContext") {
    // Hadoop caches one FileSystem per scheme and user for the JVM and
    // ignores the conf on a hit: check the instance the session gets
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(new Path(Files.createTempDirectory("ff_resolve").toString)
      .getFileSystem(conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("a create with 0640 and a mkdirs with 0750 set exactly those bits; the sticky bit still applies") {
    val dir = Files.createTempDirectory("ff_perm")
    def at(n: String) = new Path(dir.toUri.toString, n)
    val fs = FileSystem.get(dir.toUri, conf)
    fs.create(at("f"), octal("640"), false, 4096, 1.toShort, 1L << 20, null).close()
    assert(mode(dir.resolve("f")) == "rw-r-----")
    assert(fs.mkdirs(at("d/e"), octal("750")))
    assert(mode(dir.resolve("d/e")) == "rwxr-x---")
    // the FileContext side (checkpoint files, the commits' renames)
    val fc = FileContext.getFileContext(dir.toUri, conf)
    fc.create(at("g"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
      Options.CreateOpts.perms(octal("640"))).close()
    assert(mode(dir.resolve("g")) == "rw-r-----")
    fc.mkdir(at("h"), octal("750"), false)
    assert(mode(dir.resolve("h")) == "rwxr-x---")
    // a sticky directory takes Hadoop's own chmod
    fs.setPermission(at("h"), octal("1750"))
    assert((Files.getAttribute(dir.resolve("h"), "unix:mode").asInstanceOf[Int] & 0x3ff) ==
      Integer.parseInt("1750", 8))
  }

  test("FileContext rename with Rename.NONE onto an existing path throws FileAlreadyExistsException") {
    val dir = Files.createTempDirectory("ff_rename")
    def at(n: String) = new Path(dir.toUri.toString, n)
    val fc = FileContext.getFileContext(dir.toUri, conf)
    Seq("a", "b").foreach { d =>
      Files.createDirectories(dir.resolve(d))
      Files.write(dir.resolve(s"$d/part"), d.getBytes("UTF-8"))
    }
    // the Memo and AdsStore commits: a directory onto a directory
    intercept[FileAlreadyExistsException](fc.rename(at("a"), at("b"), Options.Rename.NONE))
    intercept[FileAlreadyExistsException](fc.rename(at("a/part"), at("b/part"), Options.Rename.NONE))
    assert(new String(Files.readAllBytes(dir.resolve("b/part")), "UTF-8") == "b")
    fc.rename(at("a"), at("c"), Options.Rename.NONE)
    assert(!Files.exists(dir.resolve("a")) && Files.exists(dir.resolve("c/part")))
  }

  test("a symlink still reports isSymlink and its target") {
    val dir = Files.createTempDirectory("ff_link")
    val target = Files.write(dir.resolve("target"), "t".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val fs = FileSystem.get(dir.toUri, conf)
    // Hadoop's own `readlink` is handed the path as written, so (as
    // before) only a scheme-less path resolves as a link
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
    val fst = FileContext.getFileContext(dir.toUri, conf).getFileLinkStatus(new Path(link.toString))
    assert(fst.isSymlink && fst.getSymlink.toUri.getPath == target.toString)
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  private val TsRe = """"ts":\s*(\d+)""".r

  test("a traffic-leg micro-batch with a checkpoint starts no process") {
    import spark.implicits._
    val work = Files.createTempDirectory("ff_leg")
    val watch = Files.createDirectories(work.resolve("watch"))
    val root = work.resolve("store").toString
    val lines = GmallDwd.logJson(spark, sf).as[String].collect().toSeq
      .sortBy(l => TsRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L))
    def drop(name: String, part: Seq[String]): Unit = {
      val staged = Files.write(work.resolve(name), part.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(staged, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    // the stream_traffic leg: page branch → 10 s windows → merge into
    // the stored frame → publish
    val page = LogStream.splitLog(LogStream.clean(LogStream.parse(
      spark.readStream.text(watch.toString), LogStream.pageLogSchema)))("page")
    val windows = Windows.tumbling(
      page.select(col("common.ch").as("ch"), col("page.page_id").as("page_id"),
        timestamp_millis(col("ts")).as("et")),
      "et", Seq(col("ch"), col("page_id")), Seq(count(lit(1)).as("pv_ct")))
    val q = windows.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", work.resolve("checkpoint").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        AdsStore.publish(GmallDws.mergeDwsDelta(AdsStore.read(spark, root).map(_._2), b,
          Seq("stt", "edt", "ch", "page_id"), Seq("pv_ct")), root, id)
        ()
      }.start()
    try {
      val (first, second) = lines.splitAt(lines.size / 2)
      drop("a.json", first)
      q.processAllAvailable() // the first batch lays the checkpoint out
      val before = q.lastProgress.batchId
      val started = processStarts {
        drop("b.json", second)
        q.processAllAvailable()
      }
      assert(q.lastProgress.batchId > before, "no micro-batch ran while recording")
      assert(started.isEmpty, s"the micro-batch started ${started.size} processes: ${started.distinct}")
    } finally q.stop()
  }

  test("an AdsStore publish and a read of the store start no process") {
    val root = Files.createTempDirectory("ff_ads").toString + "/store"
    val frame = spark.range(20).selectExpr("id", "cast(id % 3 as string) as k")
    val started = processStarts {
      val v = AdsStore.publish(frame, root, 0)
      assert(AdsStore.read(spark, root).map(_._1).contains(v))
      AdsStore.read(spark, root).get._2.collect()
    }
    assert(started.isEmpty, s"publish + read started ${started.size} processes: ${started.distinct}")
  }

  test("a PARQUET memo build starts no process") {
    val root = Files.createTempDirectory("ff_memo").toString
    spark.conf.set(Memo.LevelConf, "PARQUET")
    spark.conf.set(Memo.DirConf, root)
    try {
      val started = processStarts {
        assert(Memo(spark, root, "ff_frame")(spark.range(100).toDF("id")).count() == 100)
      }
      assert(Files.exists(java.nio.file.Paths.get(root, "graft.materialized")), "no PARQUET build ran")
      assert(started.isEmpty, s"the memo build started ${started.size} processes: ${started.distinct}")
    } finally {
      Memo.invalidate(spark, Some(root))
      spark.conf.unset(Memo.LevelConf)
      spark.conf.unset(Memo.DirConf)
    }
  }
}
