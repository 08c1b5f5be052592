package graft.operators

import graft.TestSpark
import graft.pipeline.{Connectors, IdempotentSink}
import graft.streaming.StreamingOps
import java.io.IOException
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The epoch commit staged beside the sink write ([[Ledger.stage]] through
  * `StreamingOps.writeThenPublish`, the body of every drain with a sink):
  * the ledger partition is published after the sink committed the epoch,
  * a failed write publishes nothing and replays to the no-failure state, a
  * failed stage fails the epoch, and a stage left behind is no ledger data
  * to any reader. */
class StagedCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val alpha = "alpha beta gamma delta epsilon zeta eta theta"
  private val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit"
  private val fresh = "completely different words appear here in this one"

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
  private def epoch0 = docs((1L, alpha), (2L, lorem))
  /** 3 is a ledger hit, 4 and 5 are one text: 4 survives. */
  private def epoch1 = docs((3L, alpha), (4L, fresh), (5L, fresh))

  private def tmp(tag: String): String = Files.createTempDirectory(s"staged_$tag").toString

  /** Drains `batch` as epoch `token` through the drain body. */
  private def drain(ledger: String, sink: IdempotentSink, batch: DataFrame, token: String): Unit = {
    val p = LshOps.incrementalNeardup(spark, batch, "text", "doc_id", ledger,
      epochToken = Some(token))
    StreamingOps.writeThenPublish(p.survivors, Some((sink, "docs")), token, p.stageLedger _)
  }

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entries(dir: String): Set[String] =
    fsOf(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet

  private def ledgerRows(ledger: String): Set[(Int, Long)] =
    spark.read.parquet(ledger).select(col("_graft_b"), col("_graft_bh")).as[(Int, Long)]
      .collect().toSet

  private def output(out: String, token: String): Set[Long] =
    spark.read.parquet(s"$out/docs").filter(col("_graft_batch") === token)
      .select(col("doc_id")).as[Long].collect().toSet

  test("the epoch's ledger partition is published after the sink committed the epoch") {
    val root = tmp("order")
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val ledger = s"crash://$root/ledger"
    val sink = Connectors.IdempotentParquetSink(s"crash://$root/out")
    drain(ledger, sink, epoch0, "epoch0")
    CrashFs.record()
    try drain(ledger, sink, epoch1, "epoch1") finally CrashFs.disarm()
    val log = CrashFs.mutations.map(_.toString)
    def at(what: String)(p: String => Boolean): Int = {
      val i = log.indexWhere(p)
      assert(i >= 0, s"no $what among the recorded mutations:\n${log.mkString("\n")}")
      i
    }
    val sinkCommit = at("sink commit")(m =>
      m.contains(": rename ") && m.endsWith("/out/docs/_graft_batch=epoch1"))
    val publish = at("publish")(m => m.contains(": rename ") &&
      m.contains(s"/${Ledger.StagePrefix}epoch1 -> ") && m.endsWith("/ledger/_graft_epoch=epoch1"))
    assert(publish > sinkCommit, log.mkString("\n"))
    assert(!log.take(sinkCommit).exists(_.contains("_graft_epoch=epoch1")), log.mkString("\n"))
    // The stage's job committed on the second driver thread.
    val staged = at("stage commit")(_.contains(s"/${Ledger.StagePrefix}epoch1/_SUCCESS"))
    assert(log(staged).startsWith("graft-ledger-stage: "), log(staged))
    assert(output(s"crash://$root/out", "epoch1") == Set(4L))
  }

  test("a failed sink write publishes nothing, and the replay converges") {
    val want = tmp("want")
    val wantSink = Connectors.IdempotentParquetSink(s"$want/out")
    drain(s"$want/ledger", wantSink, epoch0, "epoch0")
    drain(s"$want/ledger", wantSink, epoch1, "epoch1")
    val root = tmp("failed_write")
    val ledger = s"$root/ledger"
    val sink = Connectors.IdempotentParquetSink(s"$root/out")
    drain(ledger, sink, epoch0, "epoch0")
    // The worst case: the sink's rows are committed, then the write fails.
    val failing = new IdempotentSink {
      def write(df: DataFrame, table: String, mode: SaveMode): Unit =
        throw new UnsupportedOperationException
      def writeBatch(df: DataFrame, table: String, token: String): Unit = {
        sink.writeBatch(df, table, token)
        throw new IOException("the sink failed after its commit")
      }
    }
    val e = intercept[IOException](drain(ledger, failing, epoch1, "epoch1"))
    assert(e.getMessage == "the sink failed after its commit")
    assert(!entries(ledger).contains("_graft_epoch=epoch1"), entries(ledger))
    drain(ledger, sink, epoch1, "epoch1")
    assert(ledgerRows(ledger) == ledgerRows(s"$want/ledger"))
    assert(output(s"$root/out", "epoch1") == output(s"$want/out", "epoch1"))
    assert(!entries(ledger).exists(_.startsWith(".")), entries(ledger))
  }

  test("a failed stage fails the epoch after the write returned, and publishes nothing") {
    val root = tmp("failed_stage")
    val ledger = s"$root/ledger"
    val sink = Connectors.IdempotentParquetSink(s"$root/out")
    drain(ledger, sink, epoch0, "epoch0")
    val p = LshOps.incrementalNeardup(spark, epoch1, "text", "doc_id", ledger,
      epochToken = Some("epoch1"))
    val e = intercept[IOException](StreamingOps.writeThenPublish(p.survivors,
      Some((sink, "docs")), "epoch1", () => throw new IOException("the stage failed")))
    assert(e.getMessage == "the stage failed")
    assert(output(s"$root/out", "epoch1") == Set(4L))
    assert(entries(ledger).filter(_.startsWith("_graft_epoch=")) == Set("_graft_epoch=epoch0"))
  }

  test("a stage left behind is no ledger data to any reader") {
    val params = "k=16,shingleN=3,nBands=4,rowsPerBand=4"
    def leaveStage(ledger: String, token: String): Unit =
      Seq((0, 1L), (1, 2L)).toDF("_graft_b", "_graft_bh")
        .write.parquet(s"$ledger/${Ledger.StagePrefix}$token")
    val none = MaintenanceOps.CompactionReport(0, 0, 0L)

    // Alone, it is an empty ledger.
    val root = tmp("debris")
    val bare = s"$root/ledger"
    leaveStage(bare, "epoch3")
    assert(!MaintenanceOps.ledgerHasData(fsOf(bare), new Path(bare)))
    assert(Ledger.prior(spark, bare, Ledger.MinhashBands, params, Some("epoch0")).isEmpty)
    val e = intercept[IllegalArgumentException](Ledger.spaceAt(spark, bare))
    assert(e.getMessage.contains("neither a ledger pin nor ledger data"), e.getMessage)
    assert(MaintenanceOps.compactLedger(spark, bare) == none)
    assert(MaintenanceOps.foldEpochs(spark, bare, Ledger.MinhashBands, 9L) == none)
    // A drain at batch 0 does not take the stage of epoch3 for an epoch
    // ahead of it, and commits what a clean drain commits.
    val src = s"$root/src"
    epoch0.write.parquet(src)
    val writer = spark.readStream.schema(epoch0.schema).parquet(src).writeStream
      .option("checkpointLocation", s"$root/ckpt").trigger(Trigger.AvailableNow())
    StreamingOps.foreachBatchLedgerNeardup(writer, "text", "doc_id", bare,
      Connectors.IdempotentParquetSink(s"$root/out"), "docs").start().awaitTermination()
    val clean = s"${tmp("clean")}/ledger"
    drain(clean, Connectors.IdempotentParquetSink(s"$clean-out"), epoch0, "epoch0")
    assert(ledgerRows(bare) == ledgerRows(clean))

    // Beside committed epochs, every reader sees the committed rows only.
    val ledger = s"${tmp("beside")}/ledger"
    drain(ledger, Connectors.IdempotentParquetSink(s"$ledger-out"), epoch0, "epoch0")
    leaveStage(ledger, "epoch5")
    val committed = ledgerRows(ledger)
    val n = spark.read.parquet(ledger).count()
    assert(Ledger.prior(spark, ledger, Ledger.MinhashBands, params, Some("epoch1")).get
      .select(col("_graft_b"), col("_graft_bh")).as[(Int, Long)].collect().toSet == committed)
    assert(Ledger.spaceAt(spark, ledger) == Ledger.MinhashBands)
    assert(MaintenanceOps.compactLedger(spark, ledger).rows == n)
    assert(MaintenanceOps.foldEpochs(spark, ledger, Ledger.MinhashBands, 0L).rows == n)
    assert(ledgerRows(ledger) == committed)
    assert(entries(ledger).contains(s"${Ledger.StagePrefix}epoch5"))
  }
}
