package graft.streaming

import graft.TestSpark
import graft.operators.LshOps
import graft.pipeline.{Connectors, JobCount}
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Work counters of the near-dup drain's epoch: the Spark jobs one epoch
  * body starts, and the generated classes a restarted drain compiles. */
class DrainCountersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Vocab = (0 until 400).map(i => s"w$i")

  /** `n` docs of 12 seeded words from id `from`; every 10th doc repeats
    * the text of the doc before it, so each batch holds near-dups. */
  private def docs(from: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(from)
    val texts = Iterator.continually(Seq.fill(12)(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
      .take(n).toIndexedSeq
    (0 until n).map(i => (from + i, texts(if (i % 10 == 9) i - 1 else i))).toDF("doc_id", "text")
  }

  test("one LSH epoch body runs 4 jobs and at most 4 stages") {
    val base = Files.createTempDirectory("drain_jobs")
    val ledger = s"$base/ledger"
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val first = LshOps.incrementalNeardup(spark, docs(0L, 300), "text", "doc_id", ledger,
      epochToken = Some("epoch0"))
    StreamingOps.writeThenPublish(first.survivors, Some((sink, "docs")), "epoch0",
      first.stageLedger _)
    val batch = docs(1000L, 300).union(docs(0L, 30).withColumn("doc_id", $"doc_id" + 5000L))
    val (_, work) = JobCount.work(spark) {
      val p = LshOps.incrementalNeardup(spark, batch, "text", "doc_id", ledger,
        epochToken = Some("epoch1"))
      StreamingOps.writeThenPublish(p.survivors, Some((sink, "docs")), "epoch1",
        p.stageLedger _)
    }
    val w = work(JobCount.Caller)
    info(s"epoch body: ${w.jobs} jobs, ${w.stages} stages")
    // The verdict's exchange map stage, the colliding-row read, the sink
    // write and the ledger stage's write. The stage runs on its own thread:
    // its job counts here only if that thread kept the caller's job group.
    assert(w.jobs == 4 && w.stages <= 4, s"epoch body ran $w")
    // The replayed docs 5000+ are ledger hits; the fresh batch survives
    // minus its own planted near-dups.
    val kept = spark.read.parquet(s"$base/out/docs").filter($"_graft_batch" === "epoch1")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.forall(_ < 5000L) && kept.size == 270, s"${kept.size} kept")
  }

  /** Runs three near-dup drains of 200 docs each over one source, ledger
    * and sink, the ids cast to `idType`, and asserts that the third
    * compiles no generated class. */
  private def restartedDrainsCompileNothing(idType: String): Unit = {
    val base = Files.createTempDirectory("drain_codegen")
    val src = s"$base/src"
    def batch(from: Long) = docs(from, 200).withColumn("doc_id", $"doc_id".cast(idType))
    def drain(from: Long): Long = {
      batch(from).coalesce(1).write.mode(SaveMode.Append).parquet(src)
      val writer = spark.readStream.schema(batch(0L).schema).parquet(src).writeStream
        .option("checkpointLocation", s"$base/ckpt").trigger(Trigger.AvailableNow())
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamingOps.foreachBatchLedgerNeardup(writer, "text", "doc_id", s"$base/ledger",
        Connectors.IdempotentParquetSink(s"$base/out"), "docs").start().awaitTermination()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // The first drain meets an empty ledger, the second the first plan
    // with a prior ledger; the third is the second's shape again.
    val compiled = Seq(0L, 1000L, 2000L).map(drain)
    info(s"classes compiled per drain: ${compiled.mkString(", ")}")
    assert(compiled(2) == 0L, s"the third drain compiled ${compiled(2)} classes")
    assert(spark.read.parquet(s"$base/out/docs").select($"_graft_batch").distinct().count() == 3L)
  }

  test("a restarted near-dup drain compiles no generated class") {
    restartedDrainsCompileNothing("long")
  }

  test("a restarted near-dup drain over int ids compiles no generated class") {
    // An int id set small enough for a switch over its values would
    // compile a class of its own in every epoch.
    restartedDrainsCompileNothing("int")
  }
}
