package graft.pipeline

import graft.TestSpark
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** Job-count gate for the incremental copy path: metadata (the catalog, a
  * parquet schema) is read on the driver and starts no Spark job, so a run
  * starts only the probe and the write jobs; the probe is one stage with no
  * shuffle. */
class MetadataJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft_jobs")

  /** One file per table, so each table's scan is a single partition. */
  private def seed(src: Path, upTo: Int): Unit = {
    val rows = (1 to upTo).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i % 27 + 1}%02d 00:00:00"), s"v$i"))
    for (t <- Seq("full_a", "full_b", "wm_id", "wm_ts"))
      rows.toDF("id", "ts", "v").coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$src/$t")
  }

  private def catalog(dir: Path): String = {
    val f = dir.resolve("tables_list")
    Files.writeString(f, Seq(
      "table_name,to_be_loaded,watermark_column,watermark_type",
      "full_a,yes,,",
      "full_b,yes,,",
      "wm_id,yes,id,id",
      "wm_ts,yes,ts,timestamp").mkString("\n"))
    f.toString
  }

  test("Catalog.load and ParquetSource.read start no Spark job") {
    val src = tmp()
    seed(src, 5)
    val path = catalog(src)
    val (specs, catalogJobs) = JobCount(spark)(Catalog.load(spark, path))
    assert(specs.map(_.tableName) == Seq("full_a", "full_b", "wm_id", "wm_ts"))
    assert(catalogJobs.values.sum == 0, catalogJobs)

    val (df, readJobs) = JobCount(spark)(Connectors.ParquetSource(src.toString).read(spark, "wm_id"))
    assert(df.columns.toSeq == Seq("id", "ts", "v"))
    assert(readJobs.values.sum == 0, readJobs)
  }

  test("an incremental run starts 6 jobs with new rows and 4 with none") {
    val src = tmp(); val dst = tmp()
    val path = catalog(src)
    val state = StateStore(s"$dst/state.properties")
    val source = Connectors.source("parquet", src.toString)
    val sink = Connectors.sink("parquet", dst.toString)
    def run() = Orchestrator.runAll(spark, Catalog.load(spark, path), source, sink, state)

    seed(src, 10)
    assert(run().failed.isEmpty) // initial full load sets both watermarks
    seed(src, 20)
    val (fresh, freshJobs) = JobCount(spark)(run())
    assert(fresh.failed.isEmpty)
    assert(fresh.succeeded.values.map(r => r.table -> r.rowsCopied).toMap ==
      Map("full_a" -> 20L, "full_b" -> 20L, "wm_id" -> 10L, "wm_ts" -> 10L))
    // A full load is one write job; a watermarked table is probe + write.
    assert(freshJobs == Map("graft-copy-0-full_a" -> 1, "graft-copy-1-full_b" -> 1,
      "graft-copy-2-wm_id" -> 2, "graft-copy-3-wm_ts" -> 2), freshJobs)
    assert(freshJobs.values.sum == 6)

    val (empty, emptyJobs) = JobCount(spark)(run())
    assert(empty.failed.isEmpty)
    assert(empty.succeeded("wm_id").skipped && empty.succeeded("wm_ts").skipped)
    // Nothing new: the watermarked tables stop after their probe.
    assert(emptyJobs == Map("graft-copy-0-full_a" -> 1, "graft-copy-1-full_b" -> 1,
      "graft-copy-2-wm_id" -> 1, "graft-copy-3-wm_ts" -> 1), emptyJobs)
    assert(emptyJobs.values.sum == 4)
  }

  test("an incremental copy is 2 jobs and 2 stages with no shuffle; an empty one 1 job and 1 stage") {
    val src = tmp(); val dst = tmp()
    val path = catalog(src)
    val state = StateStore(s"$dst/state.properties")
    val source = Connectors.source("parquet", src.toString)
    val sink = Connectors.sink("parquet", dst.toString)
    def run() = Orchestrator.runAll(spark, Catalog.load(spark, path), source, sink, state)
    // Each call adds one file per table, so old and new rows sit in
    // separate scan partitions and the probe covers several of them.
    def append(ids: Range): Unit = {
      val rows = ids.map(i =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i % 27 + 1}%02d 00:00:00"), s"v$i"))
      for (t <- Seq("full_a", "full_b", "wm_id", "wm_ts"))
        rows.toDF("id", "ts", "v").coalesce(1).write.mode(SaveMode.Append).parquet(s"$src/$t")
    }
    val watermarked = Seq("graft-copy-2-wm_id", "graft-copy-3-wm_ts")

    append(1 to 10)
    append(11 to 14)
    assert(run().failed.isEmpty) // initial full load sets both watermarks
    append(15 to 20)
    val (fresh, freshWork) = JobCount.work(spark)(run())
    assert(fresh.failed.isEmpty)
    assert(fresh.succeeded("wm_id").rowsCopied == 6L && fresh.succeeded("wm_ts").rowsCopied == 6L)
    for (g <- watermarked)
      assert(freshWork(g) == JobCount.Work(jobs = 2, stages = 2, shuffleWriteBytes = 0L), freshWork)

    val (empty, emptyWork) = JobCount.work(spark)(run())
    assert(empty.succeeded("wm_id").skipped && empty.succeeded("wm_ts").skipped)
    for (g <- watermarked)
      assert(emptyWork(g) == JobCount.Work(jobs = 1, stages = 1, shuffleWriteBytes = 0L), emptyWork)
  }
}
