package graft

import graft.operators.{ExportOps, MaintenanceOps}
import graft.pipeline.{Connectors, CopyJob, StateStore, TableSpec, WatermarkType}
import graft.streaming.StreamingOps
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.graftbridge.ProcessTree
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session's local file system starts no process, and sets the same
  * permissions Hadoop's own local file system sets. */
class NoForkLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The commands of the processes the JVM started while `body` ran, from
    * an in-process flight recording. Spark's once-per-JVM page-size probe
    * runs first, so a heartbeat landing inside `body` adds nothing. */
  private def forks(body: => Unit): Seq[String] = {
    ProcessTree.init()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  private def tmp(): JPath = Files.createTempDirectory("graft_nofork")

  private val Vocab = (0 until 400).map(i => s"w$i")

  /** `n` docs of 12 seeded words; every 10th repeats the doc before it. */
  private def docs(from: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(from)
    val texts = Iterator.continually(Seq.fill(12)(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
      .take(n).toIndexedSeq
    (0 until n).map(i => (from + i, texts(if (i % 10 == 9) i - 1 else i))).toDF("doc_id", "text")
  }

  test("the session binds both local file system APIs to the fork-free one") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    // Hadoop caches one local file system per JVM: a bare configuration gets it too.
    assert(FileSystem.get(URI.create("file:///"), new Configuration()) eq fs)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs], fc.getDefaultFileSystem.getClass)
  }

  test("a near-dup drain, compaction, export and incremental copy start no process") {
    val base = tmp()
    docs(0L, 200).coalesce(1).write.parquet(s"$base/src")
    val drainForks = forks {
      val writer = spark.readStream.schema(docs(0L, 1).schema).parquet(s"$base/src").writeStream
        .option("checkpointLocation", s"$base/ckpt").trigger(Trigger.AvailableNow())
      StreamingOps.foreachBatchLedgerNeardup(writer, "text", "doc_id", s"$base/ledger",
        Connectors.IdempotentParquetSink(s"$base/out"), "docs").start().awaitTermination()
    }
    assert(drainForks.isEmpty, s"the drain epoch started ${drainForks.size}: $drainForks")
    val kept = spark.read.parquet(s"$base/out/docs")
    assert(kept.count() == 180L)
    // A second part file in the drain's epoch leaf, so the compaction
    // below rewrites and swaps it (a one-file leaf is left as it is).
    val leaf = new java.io.File(s"$base/ledger").listFiles()
      .filter(_.getName.startsWith("_graft_epoch=")).head.getPath
    spark.read.parquet(leaf).write.mode(SaveMode.Append).parquet(leaf)
    var compacted = MaintenanceOps.CompactionReport(0, 0, 0L)
    val maintenanceForks = forks {
      compacted = MaintenanceOps.compactLedger(spark, s"$base/ledger")
      ExportOps.shardedExport(kept, s"$base/export", "doc_id", Seq("text"), 2, 7L)
      ExportOps.verifyShards(spark, s"$base/export", "doc_id", Seq("text"), 7L)
    }
    assert(maintenanceForks.isEmpty,
      s"compaction and export started ${maintenanceForks.size}: $maintenanceForks")
    assert(compacted.filesAfter < compacted.filesBefore, compacted)

    val spec = TableSpec("t", toBeLoaded = true, Some("id"), Some(WatermarkType.Id))
    def append(ids: Range): Unit = ids.map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$base/copysrc/t")
    val source = Connectors.ParquetSource(s"$base/copysrc")
    val sink = Connectors.ParquetSink(s"$base/copydst")
    val state = StateStore(s"$base/state.properties")
    append(1 to 50)
    assert(!CopyJob.run(spark, spec, source, sink, state).skipped)
    append(51 to 60)
    var copied = 0L
    val copyForks = forks { copied = CopyJob.run(spark, spec, source, sink, state).rowsCopied }
    assert(copied == 10L)
    assert(copyForks.isEmpty, s"the incremental copy started ${copyForks.size}: $copyForks")
  }

  /** A fork-free and a Hadoop raw local file system on the session's
    * configuration (and so its umask). */
  private def both(): Seq[RawLocalFileSystem] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(new NoForkRawLocalFileSystem, new RawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf); fs
    }
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("created files and directories read back the same permission bits as Hadoop's") {
    val Seq(ours, hadoops) = both().map { fs =>
      val root = tmp()
      val dir = new Path(root.toString, "a/b/c")
      assert(fs.mkdirs(dir, FsPermission.getDirDefault))
      val out = fs.create(new Path(dir, "f"), FsPermission.getFileDefault, true, 4096,
        1.toShort, 1L << 20, null)
      out.close()
      val explicit = Seq("640", "700", "755", "000").map { m =>
        val f = new Path(root.toString, s"f$m")
        fs.create(f).close()
        fs.setPermission(f, new FsPermission(m))
        val d = new Path(root.toString, s"d$m")
        fs.mkdirs(d)
        fs.setPermission(d, new FsPermission(m))
        (mode(root.resolve(s"f$m")), mode(root.resolve(s"d$m")))
      }
      (Seq("a", "a/b", "a/b/c", "a/b/c/f").map(p => mode(root.resolve(p))), explicit)
    }
    assert(ours == hadoops)
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    assert(ours._1.last == FsPermission.getFileDefault.applyUMask(umask).toShort)
  }

  test("link status: a missing path, a file and a symlink") {
    val root = tmp()
    Files.writeString(root.resolve("f"), "x")
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    val Seq(ours, hadoops) = both()
    for (fs <- Seq(ours, hadoops))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(root.toString, "none")))
    for (name <- Seq("f", "l")) {
      val p = new Path(root.toString, name)
      val (a, b) = (ours.getFileLinkStatus(p), hadoops.getFileLinkStatus(p))
      assert((a.getPath, a.isSymlink, a.isFile, a.getLen) == (b.getPath, b.isSymlink, b.isFile, b.getLen))
    }
    assert(forks(ours.getFileLinkStatus(new Path(root.toString, "f"))).isEmpty)
  }

  test("a sticky bit or a set-group-ID directory goes through Hadoop's chmod") {
    val Seq(ours, hadoops) = both()
    def run(fs: RawLocalFileSystem): (Int, Int, Seq[String]) = {
      val root = tmp()
      val sticky = root.resolve("sticky")
      val setgid = root.resolve("setgid")
      Files.createDirectory(sticky)
      Files.createDirectory(setgid)
      new ProcessBuilder("chmod", "2775", setgid.toString).start().waitFor()
      val started = forks {
        fs.setPermission(new Path(sticky.toString), new FsPermission("1777"))
        fs.setPermission(new Path(setgid.toString), new FsPermission("755"))
      }
      (mode(sticky), mode(setgid), started)
    }
    val (stickyOurs, setgidOurs, forked) = run(ours)
    val (stickyHadoop, setgidHadoop, _) = run(hadoops)
    assert(stickyOurs == Integer.parseInt("1777", 8) && stickyOurs == stickyHadoop)
    assert(setgidOurs == setgidHadoop, f"$setgidOurs%o vs $setgidHadoop%o")
    assert(forked.size == 2 && forked.forall(_.startsWith("chmod")), forked)
    assert(forks(ours.setPermission(new Path(tmp().toString), new FsPermission("700"))).isEmpty)
  }
}
