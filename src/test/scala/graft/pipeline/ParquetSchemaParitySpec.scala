package graft.pipeline

import graft.TestSpark
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ParquetSource.read` takes its schema from one footer read on the driver;
  * for every layout it must produce exactly the schema and rows of
  * `spark.read.parquet` over the same path. */
class ParquetSchemaParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft_schema")

  private def rows(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "k")

  /** Reads `table` from `base` both ways and compares; returns our frame.
    * `footer` = the schema came from the driver-side footer read (no job),
    * not from the fallback to Spark's inference. */
  private def parity(base: Path, table: String, path: String,
      footer: Boolean = true): DataFrame = {
    val (ours, jobs) = JobCount(spark)(Connectors.ParquetSource(base.toString).read(spark, table))
    assert((jobs.values.sum == 0) == footer, jobs)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema)
    assert(ours.count() == theirs.count())
    ours
  }

  test("a flat directory of several part files") {
    val base = tmp()
    rows(50).repartition(3).write.parquet(s"$base/flat")
    assert(parity(base, "flat", s"$base/flat").count() == 50L)
  }

  test("the <table>.parquet single-file fallback") {
    val base = tmp()
    rows(20).coalesce(1).write.parquet(s"$base/staging")
    val part = Files.list(base.resolve("staging")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, base.resolve("single.parquet"))
    assert(parity(base, "single", s"$base/single.parquet").count() == 20L)
    // A real fixture: nanosecond timestamps read under the session's
    // nanosAsLong setting, which the footer conversion must honor too.
    val sf = java.nio.file.Paths.get(TestSpark.sfDir)
    parity(sf, "events", s"$sf/events.parquet")
  }

  test("the _graft_batch= layout of IdempotentParquetSink") {
    val base = tmp()
    val sink = Connectors.IdempotentParquetSink(base.toString)
    sink.writeBatch(rows(10), "idem", "full")
    sink.writeBatch(rows(15).filter($"id" > 10), "idem", "10")
    val df = parity(base, "idem", s"$base/idem")
    assert(df.columns.last == "_graft_batch")
    assert(df.count() == 15L)
  }

  test("a partitionBy directory, nested two deep") {
    val base = tmp()
    rows(40).withColumn("y", $"id" % 2).write.partitionBy("y", "k").parquet(s"$base/part")
    val df = parity(base, "part", s"$base/part")
    assert(df.columns.toSeq == Seq("id", "v", "y", "k"))
  }

  test("hidden and marker files are skipped: _SUCCESS, .crc, _temporary") {
    val base = tmp()
    rows(10).write.parquet(s"$base/marked")
    assert(Files.exists(base.resolve("marked/_SUCCESS")))
    Files.createDirectories(base.resolve("marked/_temporary/0"))
    Files.writeString(base.resolve("marked/.a-hidden-file"), "not parquet")
    parity(base, "marked", s"$base/marked")
  }

  test("timestamp, decimal, array, map and struct columns") {
    val base = tmp()
    rows(12).select(
      $"id",
      $"id".cast("timestamp").as("ts"),
      ($"id" / 7).cast("decimal(18,4)").as("dec"),
      array($"id", $"id" + 1).as("arr"),
      map($"v", $"id").as("m"),
      struct($"v".as("name"), array(struct($"k".as("kk"))).as("inner")).as("s"))
      .write.parquet(s"$base/typed")
    parity(base, "typed", s"$base/typed")
  }

  test("a data column that repeats a partition column") {
    val base = tmp()
    rows(6).write.parquet(s"$base/overlap/k=1")
    val df = parity(base, "overlap", s"$base/overlap", footer = false)
    assert(df.columns.toSeq == Seq("id", "v", "k"))
  }

  test("files of different schemas: the first file's schema, or Spark's merge") {
    val base = tmp()
    rows(5).write.parquet(s"$base/mixed")
    rows(5).withColumn("extra", $"id" * 2).write.mode(SaveMode.Append).parquet(s"$base/mixed")
    // Without merging, both read the first data file in path order.
    parity(base, "mixed", s"$base/mixed")

    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val df = parity(base, "mixed", s"$base/mixed", footer = false)
      assert(df.columns.toSeq == Seq("id", "v", "k", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("an empty directory raises Spark's own error") {
    val base = tmp()
    Files.createDirectories(base.resolve("empty"))
    val ours = intercept[Exception](Connectors.ParquetSource(base.toString).read(spark, "empty"))
    val theirs = intercept[Exception](spark.read.parquet(s"$base/empty"))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage == theirs.getMessage)
  }
}
