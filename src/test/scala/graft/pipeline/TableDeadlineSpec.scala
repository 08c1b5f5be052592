package graft.pipeline

import graft.TestSpark
import java.nio.file.Files
import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration.DurationInt

/** A table's timeout runs from that table's own start, not from when the
  * orchestrator gets round to awaiting it. */
class TableDeadlineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def spec(name: String) = TableSpec(name, toBeLoaded = true, None, None)

  test("a hung table awaited after a slow one fails at its own deadline") {
    val src = Files.createTempDirectory("deadline_src")
    val dst = Files.createTempDirectory("deadline_dst")
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode(SaveMode.Overwrite).parquet(s"$src/slow")
    val parquet = Connectors.ParquetSource(src.toString)
    val source = new Source {
      def read(spark: SparkSession, table: String): DataFrame = {
        // Both start at t=0: `slow` finishes at ~1.5 s, `hung` never does
        // (its sleep is interrupted by the kill).
        Thread.sleep(if (table == "hung") 60 * 1000 else 1200)
        parquet.read(spark, "slow")
      }
    }
    val state = StateStore(s"$dst/state.properties")

    val t0 = System.nanoTime()
    val report = Orchestrator.runAll(spark, Seq(spec("slow"), spec("hung")), source,
      Connectors.ParquetSink(dst.toString), state, parallelism = 4, tableTimeout = 2.seconds)
    val elapsedSec = (System.nanoTime() - t0) / 1e9

    assert(report.succeeded.keySet == Set("slow"))
    assert(report.failed("hung").isInstanceOf[TimeoutException])
    // Awaiting in order would give `hung` 2 s AFTER `slow` returned (~3.5 s).
    assert(elapsedSec < 3.0, s"run took ${elapsedSec}s: the hung table's clock did not start at its start")
    assert(!Files.exists(dst.resolve("hung")))
  }

  test("a table that never starts is failed after its queue wait, and the run returns") {
    val dst = Files.createTempDirectory("deadline_queue")
    // One worker, stuck in a sleep that ignores interrupts: the queued table
    // can never start, yet the run must still return with both failed.
    val stuck = new java.util.concurrent.CountDownLatch(1)
    val source = new Source {
      def read(spark: SparkSession, table: String): DataFrame = {
        val until = System.nanoTime() + 6L * 1000 * 1000 * 1000
        while (stuck.getCount > 0 && System.nanoTime() < until)
          try Thread.sleep(50) catch { case _: InterruptedException => () }
        throw new IllegalStateException("released")
      }
    }
    val t0 = System.nanoTime()
    val report = Orchestrator.runAll(spark, Seq(spec("stuck"), spec("queued")), source,
      Connectors.ParquetSink(dst.toString), StateStore(s"$dst/state.properties"),
      parallelism = 1, tableTimeout = 1.seconds)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    stuck.countDown()

    assert(report.failed.keySet == Set("stuck", "queued"))
    assert(report.failed("stuck").getMessage.contains("did not finish"))
    assert(report.failed("queued").getMessage.contains("did not start"))
    assert(elapsedSec < 4.0, s"run took ${elapsedSec}s")
  }
}
