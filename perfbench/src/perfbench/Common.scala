package perfbench

import graft.pipeline.GraftApp
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Where one benchmark run reads and writes. `base` and `cache` outlive
  * the run; `work` is the run's scratch tree. */
final case class Ctx(spark: SparkSession, checkout: String, base: String, cache: String,
    work: String, seed: Long, seconds: Double) {
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Operations attempted and failed. An operation fails when it throws,
  * exits non-zero, reports a failed table, or fails an output check. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]

  def record(op: String, checks: Seq[(Boolean, String)]): Unit = {
    attempted += 1
    val bad = checks.collect { case (false, why) => why }
    if (bad.nonEmpty) {
      failed += 1
      problems ++= bad.map(b => s"$op: $b")
    }
  }
}

/** A reported figure with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Int)

/** What one `GraftApp.run` call returned and printed. */
final case class AppResult(code: Int, wallS: Double, out: Seq[String], log: Seq[String],
    error: Option[Throwable]) {
  private val RowsRe = """table (\S+): (\d+) rows""".r
  private val SkipRe = """table (\S+): skipped \(empty delta\)""".r
  private val FailRe = """table (\S+) FAILED: .*""".r

  /** Rows copied per table; a skipped (empty-delta) table copied 0. */
  def rows: Map[String, Long] = log.collect {
    case RowsRe(t, n) => t -> n.toLong
    case SkipRe(t)    => t -> 0L
  }.toMap
  def watermarks: Map[String, String] = out.collect {
    case l if l.startsWith("NEW_WATERMARK_") =>
      val Array(k, v) = l.stripPrefix("NEW_WATERMARK_").split("=", 2)
      k.toLowerCase -> v
  }.toMap
  def problems: Seq[String] =
    error.map(e => s"threw $e").toSeq ++
      (if (code != 0) Seq(s"exit code $code") else Nil) ++
      log.collect { case FailRe(t) => s"table $t failed" }
  def line(prefix: String): Option[String] = out.find(_.startsWith(prefix))
}

object App {
  /** One in-process CLI invocation, exactly as a scheduler would make it,
    * isolated from the process environment (no injected watermarks). */
  def run(spark: SparkSession, args: String*): AppResult = {
    val out = ArrayBuffer.empty[String]
    val log = ArrayBuffer.empty[String]
    val t0 = System.nanoTime
    val (code, err) =
      try (GraftApp.run(GraftApp.parseArgs(args), spark, getenv = _ => None,
        out = s => out.synchronized(out += s), log = s => log.synchronized(log += s)), None)
      catch { case e: Throwable => (-1, Some(e)) }
    AppResult(code, (System.nanoTime - t0) / 1e9, out.toSeq, log.toSeq, err)
  }
}

object Fs {
  /** (path, bytes) of every parquet data file under `dir`. */
  def parquetFiles(dir: String): Seq[(Path, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => f -> Files.size(f)).toList
      finally s.close()
    }
  }
  def bytes(dir: String): Long = parquetFiles(dir).map(_._2).sum

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  def readOr(path: String, orElse: Array[Byte]): Array[Byte] =
    if (Files.exists(Paths.get(path))) Files.readAllBytes(Paths.get(path)) else orElse
}

/** The outcome of one workload run. `metrics` are the figures the run
  * reports under their benchmark names; `report` restates the
  * workload's own figures; `notes` are printed as-is. */
final case class Outcome(metrics: Map[String, Metric], report: Seq[(String, Metric)],
    notes: Seq[String])
