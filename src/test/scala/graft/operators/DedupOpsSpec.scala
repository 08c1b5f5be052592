package graft.operators

import graft.TestSpark
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Incremental corpus dedup: batch 1 seeds the ledger, batch 2 keeps only
  * genuinely new docs, a replay of batch 2 keeps nothing — and a batch
  * whose ledger commit never ran (crashed before its sink write finished)
  * is fully reproduced on retry instead of being silently dropped. */
class DedupOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ledger dedup across batches with within-batch min-id pick") {
    val ledger = Files.createTempDirectory("dedup_ledger").resolve("fp").toString

    // Batch 1: 10 unique texts + one in-batch duplicate pair (ids 100/101).
    val b1 = ((1 to 10).map(i => (i.toLong, s"text number $i")) ++
      Seq((100L, "dup text"), (101L, "dup text"))).toDF("doc_id", "text")
    val p1 = DedupOps.incrementalDedup(spark, b1, "text", "doc_id", ledger)
    val out1 = p1.survivors.as[(Long, String)].collect().toSet
    assert(out1.map(_._1).contains(100L) && !out1.map(_._1).contains(101L),
      "in-batch duplicate must keep the smallest id")
    assert(out1.size == 11)
    p1.commitLedger() // "sink write succeeded" — now the fingerprints stick

    // Batch 2: 5 repeats of batch 1 + 3 new docs.
    val b2 = ((1 to 5).map(i => (200L + i, s"text number $i")) ++
      (1 to 3).map(i => (300L + i, s"fresh text $i"))).toDF("doc_id", "text")
    val p2 = DedupOps.incrementalDedup(spark, b2, "text", "doc_id", ledger)
    val out2 = p2.survivors.as[(Long, String)].collect().toSet
    assert(out2.map(_._2) == Set("fresh text 1", "fresh text 2", "fresh text 3"))

    // Crash-before-commit: p2's ledger commit never ran, so a retry of
    // batch 2 must see the SAME survivors — the docs are not lost.
    val retry = DedupOps.incrementalDedup(spark, b2, "text", "doc_id", ledger)
    assert(retry.survivors.as[(Long, String)].collect().toSet == out2,
      "uncommitted batch must be reproducible on retry")
    retry.commitLedger()

    // Replay of batch 2 after a successful commit: everything is ledgered.
    val out3 = DedupOps.incrementalDedup(spark, b2, "text", "doc_id", ledger)
    assert(out3.survivors.count() == 0L)
  }

  test("epoch variant: replay AFTER a committed epoch reproduces identical survivors") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_dedup_epoch").resolve("fp").toString
    val b0 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val p0 = DedupOps.incrementalDedup(spark, b0, "text", "doc_id", ledger, epochToken = Some("epoch0"))
    p0.commitLedger()
    val b1 = Seq((3L, "beta"), (4L, "gamma"), (5L, "gamma")).toDF("doc_id", "text")
    val p1 = DedupOps.incrementalDedup(spark, b1, "text", "doc_id", ledger, epochToken = Some("epoch1"))
    val out1 = p1.survivors.as[(Long, String)].collect().toSet
    assert(out1 == Set((4L, "gamma"))) // beta ledgered, within-batch min id
    p1.commitLedger()

    // At-least-once replay of epoch 1 after its commit (crash before the
    // caller's checkpoint advanced): the plain variant would anti-join the
    // whole batch away; the epoch variant excludes its OWN partition and
    // reproduces the identical survivors, then its re-commit replaces (not
    // duplicates) the epoch's fingerprints.
    val replay = DedupOps.incrementalDedup(spark, b1, "text", "doc_id", ledger, epochToken = Some("epoch1"))
    assert(replay.survivors.as[(Long, String)].collect().toSet == out1,
      "post-commit epoch replay must reproduce the same survivors")
    replay.commitLedger()
    val fps = spark.read.parquet(ledger)
    assert(fps.count() == fps.dropDuplicates("_graft_fp", "_graft_fp2").count(),
      "re-committed epoch must replace its partition, never duplicate fingerprints")
  }

  test("duplicateSpans flags cross-doc windows at their positions, not intra-doc repeats") {
    val docs = Seq(
      (1L, "the shared legal header text one unique tail"),
      (2L, "prefix words the shared legal header text two"),
      (3L, "loop loop loop loop loop loop loop loop")).toDF("doc_id", "text")
    val out = DedupOps
      .duplicateSpans(docs, "text", "doc_id", spanTokens = 5, minDocs = 2)
      .as[(Long, Int, Long)].collect().toSet
    // "the shared legal header text" sits at doc1@0 and doc2@2; doc3's
    // repeated "loop loop loop loop loop" occurs in ONE doc only and the
    // countDistinct bar must ignore it.
    assert(out == Set((1L, 0, 2L), (2L, 2, 2L)))
  }

  test("duplicateSpans refuses spanTokens <= 0 and minDocs < 2") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DedupOps.duplicateSpans(docs, "text", "doc_id", spanTokens = 0)
    }
    intercept[IllegalArgumentException] {
      DedupOps.duplicateSpans(docs, "text", "doc_id", spanTokens = 3, minDocs = 1)
    }
  }

  test("scrubSpans removes exactly the covered tokens and passes clean docs through") {
    val docs = Seq(
      (1L, "the shared legal header text one unique tail"),
      (2L, "prefix words the shared legal header text two"),
      (3L, "entirely original content with no shared spans at all"),
      (4L, "")).toDF("doc_id", "text")
    val out = DedupOps
      .scrubSpans(docs, "text", "doc_id", spanTokens = 5, minDocs = 2)
      .as[(Long, String, Int)].collect().toMap2
    assert(out(1L) == ("one unique tail", 5))
    assert(out(2L) == ("prefix words two", 5))
    assert(out(3L) == ("entirely original content with no shared spans at all", 0))
    assert(out(4L) == ("", 0), "empty doc must survive with empty clean text")
  }

  test("scrubSpans coalesces overlapping flagged windows") {
    // Every 3-gram of "a b c d e" is shared, so the flagged windows at
    // starts 0/1/2 overlap; tokens 0-4 are covered ONCE each, leaving only
    // the differing tail.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g")).toDF("doc_id", "text")
    val out = DedupOps
      .scrubSpans(docs, "text", "doc_id", spanTokens = 3, minDocs = 2)
      .as[(Long, String, Int)].collect().toMap2
    assert(out(1L) == ("f", 5))
    assert(out(2L) == ("g", 5))
  }

  test("scrubSpans normalizes whitespace like the tokenizer (stated contract)") {
    val docs = Seq(
      (1L, "solo  doc   with    runs of spaces")).toDF("doc_id", "text")
    val out = DedupOps
      .scrubSpans(docs, "text", "doc_id", spanTokens = 3, minDocs = 2)
      .as[(Long, String, Int)].collect().head
    assert(out == ((1L, "solo doc with runs of spaces", 0)))
  }

  test("incrementalSpans flags across committed batches, not just within one") {
    val ledger = Files.createTempDirectory("span_ledger").resolve("spans").toString
    val b1 = Seq(
      (1L, "the shared legal header text plus body one"),
      (2L, "completely unrelated first batch content here")).toDF("doc_id", "text")
    val p1 = DedupOps.incrementalSpans(spark, b1, "text", "doc_id", ledger,
      spanTokens = 5)
    // Nothing repeats within batch 1: no flags yet.
    assert(p1.flags.count() == 0L)
    p1.commitLedger()

    // Batch 2 reuses batch 1's header — the batch-local operator would see
    // ONE doc and stay silent; the ledger makes it flag at n_docs = 2.
    val b2 = Seq(
      (3L, "intro words the shared legal header text trailing")).toDF("doc_id", "text")
    val p2 = DedupOps.incrementalSpans(spark, b2, "text", "doc_id", ledger,
      spanTokens = 5)
    val flags = p2.flags.as[(Long, Int, Long)].collect().toSet
    assert(flags == Set((3L, 2, 2L)),
      s"header span at doc3 position 2 must flag with combined count 2, got $flags")
    assert(DedupOps.duplicateSpans(b2, "text", "doc_id", spanTokens = 5)
      .count() == 0L, "the batch-local operator alone cannot see the ledgered copy")

    // A batch whose commit never ran (crash before sink write finished)
    // reproduces identical flags on retry.
    val retry = DedupOps.incrementalSpans(spark, b2, "text", "doc_id", ledger,
      spanTokens = 5)
    assert(retry.flags.as[(Long, Int, Long)].collect().toSet == flags)
  }

  test("incrementalSpans refuses a construction-drifted ledger loudly") {
    val ledger = Files.createTempDirectory("span_drift").resolve("spans").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    DedupOps.incrementalSpans(spark, b1, "text", "doc_id", ledger, spanTokens = 3)
      .commitLedger()
    val e = intercept[IllegalStateException] {
      DedupOps.incrementalSpans(spark, b1, "text", "doc_id", ledger, spanTokens = 4)
    }
    assert(e.getMessage.contains("spanTokens=3"), e.getMessage)
  }

  test("incrementalSpansEpoch: a replayed epoch never double-counts its own spans") {
    val ledger = Files.createTempDirectory("span_epoch").resolve("spans").toString
    val b1 = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    DedupOps.incrementalSpans(spark, b1, "text", "doc_id", ledger,
      spanTokens = 5, epochToken = Some("e1")).commitLedger()
    // Replay of epoch e1 AFTER its commit: the read excludes the epoch's
    // own partition, so the single-doc span must NOT flag against itself.
    val replay = DedupOps.incrementalSpans(spark, b1, "text", "doc_id",
      ledger, spanTokens = 5, epochToken = Some("e1"))
    assert(replay.flags.count() == 0L,
      "a replayed batch must not collide with its own committed counts")
    replay.commitLedger() // dynamic overwrite of e1, not a duplicate append
    // A genuinely new epoch sharing the span DOES flag.
    val b2 = Seq((2L, "one two three four five")).toDF("doc_id", "text")
    val p2 = DedupOps.incrementalSpans(spark, b2, "text", "doc_id",
      ledger, spanTokens = 5, epochToken = Some("e2"))
    assert(p2.flags.as[(Long, Int, Long)].collect().toSet == Set((2L, 0, 2L)))
  }

  private implicit class TripleOps[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
