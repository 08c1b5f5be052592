package graft.pipeline

import graft.TestSpark
import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** What an incremental copy leaves in the sink when the source keeps old and
  * new rows in separate files or partitions: exactly one new data file per
  * table and never a 0-row one, and an empty run leaves the sink untouched.
  * The same holds for every source shape, because the write reads only the
  * scan partitions the probe found rows in. */
class IncrementalWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft_incr")

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i)),
      i % 3)).toDF("id", "ts", "grp")

  /** Every file under `dir` by relative path, with its size. */
  private def files(dir: Path): Map[String, Long] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.size(f)).toMap

  /** Row count of each parquet data file under `dir`, from its footer. */
  private def dataFileRows(dir: Path): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files(dir).keys.filter(f => f.endsWith(".parquet") && !f.split('/').last.startsWith("."))
      .map { f =>
        val in = HadoopInputFile.fromPath(new HPath(dir.resolve(f).toString), conf)
        val reader = ParquetFileReader.open(in)
        try f -> reader.getRecordCount finally reader.close()
      }.toMap
  }

  /** Full load, `appendNew` upstream, then an incremental and an empty
    * run; checks the rows copied, the watermark and the sink's files. */
  private def check(
      spec: TableSpec,
      source: Source,
      sink: Sink,
      sinkDir: Path,
      appendNew: () => Unit,
      expectRows: Long,
      expectWm: String): Unit = {
    val state = StateStore(s"${tmp()}/state.properties")
    assert(!CopyJob.run(spark, spec, source, sink, state).skipped)
    val table = sinkDir.resolve(spec.tableName)
    val before = dataFileRows(table)

    appendNew()
    val r = CopyJob.run(spark, spec, source, sink, state)
    assert(r.rowsCopied == expectRows && !r.skipped, r)
    assert(state.get(spec.tableName).contains(expectWm))
    val after = dataFileRows(table)
    val added = after -- before.keySet
    assert(added.size == 1, s"expected one new data file, got $added")
    assert(added.values.sum == expectRows)
    assert(!after.values.exists(_ == 0L), after)

    val sinkFiles = files(sinkDir)
    val e = CopyJob.run(spark, spec, source, sink, state)
    assert(e.skipped && e.rowsCopied == 0L)
    assert(state.get(spec.tableName).contains(expectWm))
    assert(files(sinkDir) == sinkFiles)
  }

  private val idSpec = TableSpec("t", toBeLoaded = true, Some("id"), Some(WatermarkType.Id))
  private val tsSpec = TableSpec("t", toBeLoaded = true, Some("ts"), Some(WatermarkType.Timestamp))

  test("multi-file parquet source") {
    val src = tmp(); val dst = tmp()
    def append(ids: Range): Unit = rows(ids).coalesce(1).write.mode(SaveMode.Append).parquet(s"$src/t")
    append(1 to 60); append(61 to 100)
    check(tsSpec, Connectors.ParquetSource(src.toString), Connectors.ParquetSink(dst.toString),
      dst, () => append(101 to 120), expectRows = 20L, expectWm = "2024-01-01 00:02:00.000000")
  }

  test("k=v partitioned parquet source") {
    val src = tmp(); val dst = tmp()
    rows(1 to 100).coalesce(1).write.partitionBy("grp").parquet(s"$src/t")
    // The new rows all land in a partition directory of their own.
    check(idSpec, Connectors.ParquetSource(src.toString), Connectors.ParquetSink(dst.toString),
      dst, () => rows(101 to 120).withColumn("grp", lit(7)).coalesce(1)
        .write.mode(SaveMode.Append).partitionBy("grp").parquet(s"$src/t"),
      expectRows = 20L, expectWm = "120")
  }

  test("csv source") {
    val src = tmp(); val dst = tmp()
    def append(ids: Range): Unit = rows(ids).coalesce(1).write.mode(SaveMode.Append)
      .option("header", "true").csv(s"$src/t.csv")
    append(1 to 60); append(61 to 100)
    check(idSpec, Connectors.CsvSource(src.toString), Connectors.ParquetSink(dst.toString),
      dst, () => append(101 to 120), expectRows = 20L, expectWm = "120")
  }

  test("partitioned JDBC source: only the top partition holds new rows") {
    val url = s"jdbc:derby:${tmp()}/db;create=true"
    val dst = tmp()
    Connectors.JdbcSink(url).write(rows(1 to 100), "t", SaveMode.Overwrite)
    // Bounds 1..120 over 4 partitions: the top one is id >= 91.
    check(idSpec, Connectors.JdbcSource(url, partitionColumn = Some("id"), numPartitions = 4),
      Connectors.ParquetSink(dst.toString), dst,
      () => Connectors.JdbcSink(url).write(rows(101 to 120), "t", SaveMode.Append),
      expectRows = 20L, expectWm = "120")
  }

  test("idempotent sink") {
    val src = tmp(); val dst = tmp()
    def append(ids: Range): Unit = rows(ids).coalesce(1).write.mode(SaveMode.Append).parquet(s"$src/t")
    append(1 to 60); append(61 to 100)
    check(idSpec, Connectors.ParquetSource(src.toString), Connectors.IdempotentParquetSink(dst.toString),
      dst, () => append(101 to 120), expectRows = 20L, expectWm = "120")
  }
}
