package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The incremental SemDeDup ledger protocol: the first ingest fits and PINS
  * the model, later ingests assign against the pinned centroids (never a
  * re-fit), drops are cosine-verified within the assigned cluster only,
  * keep-min-id within the batch, write-then-commit crash contract, the
  * grown-cluster gauge refusal, and the epoch replay variant. */
class SemanticIncrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 8

  /** Unit vector pointing along axis `axis`, optionally with small noise
    * (still ~cos 0.99 of the base). */
  private def axisVec(axis: Int, noiseSeed: Long = 0L): Array[Float] = {
    val rng = new scala.util.Random(noiseSeed)
    val raw = Array.tabulate(Dim)(i =>
      (if (i == axis) 1.0 else 0.0) +
        (if (noiseSeed == 0L) 0.0 else 0.03 * rng.nextGaussian()))
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_sem_incr").resolve("clusters").toString

  /** Unit vector mostly along `main` with a small deterministic tilt along
    * `tilt` — the tilt pins WHICH pinned centroid wins the assignment (an
    * exactly-orthogonal probe would tie and test the tie-break, not the
    * protocol), while cos against the tilt axis stays ≈ eps, far under
    * any dedup threshold. */
  private def mix(main: Int, tilt: Int, eps: Double): Array[Float] = {
    val raw = Array.tabulate(Dim)(i =>
      (if (i == main) 1.0 else 0.0) + (if (i == tilt) eps else 0.0))
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  test("batch 2 drops same-cluster verified dups of the ledger, keeps fresh vectors") {
    val ledger = tmp()
    // Two far clusters: axis-0 and axis-1. Model fits on the first batch.
    val corpus = Seq((2L, axisVec(0)), (4L, axisVec(1))).toDF("vec_id", "embedding")
    KmeansOps.incrementalSemantic(
      spark, corpus, "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
      .commitLedger()
    val batch2 = Seq(
      (11L, axisVec(0, noiseSeed = 7L)),   // ~cos 0.99 of ledgered vec 2
      (13L, mix(2, 0, 0.10)),              // fresh direction, lands in cluster 0
      (15L, mix(2, 0, 0.12)),              // in-batch dup of 13 -> keep-min-id
      (17L, mix(3, 1, 0.10)))              // fresh direction, lands in cluster 1
      .toDF("vec_id", "embedding")
    val pending = KmeansOps.incrementalSemantic(
      spark, batch2, "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L, 17L))
    assert(pending.ledgerHits.as[Long].collect().toSet == Set(11L))
  }

  test("a same-cluster vector below the cosine threshold survives (verify, don't trust)") {
    val ledger = tmp()
    // k=1: EVERYTHING lands in one cluster, so cluster co-residence alone
    // must never drop — only the exact cosine may.
    val corpus = Seq((2L, axisVec(0))).toDF("vec_id", "embedding")
    KmeansOps.incrementalSemantic(
      spark, corpus, "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
      .commitLedger()
    val batch = Seq((11L, axisVec(1)), (13L, axisVec(2))).toDF("vec_id", "embedding")
    val pending = KmeansOps.incrementalSemantic(
      spark, batch, "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
    assert(pending.survivors.count() == 2L,
      "orthogonal vectors sharing the single cluster must survive")
    assert(pending.ledgerHits.count() == 0L)
  }

  test("write-then-commit: survivors are stable across the ledger commit") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
      .commitLedger()
    val batch2 = Seq((9L, axisVec(1))).toDF("vec_id", "embedding")
    val pending = KmeansOps.incrementalSemantic(
      spark, batch2, "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
    pending.commitLedger()
    // Evaluated only AFTER the commit appended 9's row: the pinned
    // pre-commit ledger view must keep 9 a survivor.
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(9L))
    // And the committed row protects the corpus on the next ingest.
    val replay = KmeansOps.incrementalSemantic(
      spark, Seq((19L, axisVec(1, noiseSeed = 3L))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
    assert(replay.survivors.count() == 0L)
    assert(replay.ledgerHits.as[Long].collect().toSet == Set(19L))
  }

  test("the model is pinned at first commit: later batches never re-fit") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0)), (4L, axisVec(1))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
      .commitLedger()
    val modelPath = java.nio.file.Paths.get(ledger, "_graft_semantic_model")
    val pinned = new String(java.nio.file.Files.readAllBytes(modelPath), "UTF-8")
    assert(pinned.startsWith("k=2,iters=1,minCos=0.9"), pinned.take(60))
    // A second batch whose own vectors would seed a DIFFERENT model (other
    // ids, other directions) must leave the pin byte-identical.
    KmeansOps.incrementalSemantic(
      spark, Seq((1L, axisVec(2)), (3L, axisVec(3))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
      .commitLedger()
    assert(new String(java.nio.file.Files.readAllBytes(modelPath), "UTF-8") == pinned,
      "second commit must not re-fit or rewrite the pinned model")
  }

  test("a parameter-mismatched ingest is refused loudly") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0)), (4L, axisVec(1))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
      .commitLedger()
    val e = intercept[IllegalStateException] {
      KmeansOps.incrementalSemantic(
        spark, Seq((9L, axisVec(2))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", ledger, k = 3, iters = 1, minCos = 0.9)
    }
    assert(e.getMessage.contains("relabel"))
  }

  test("ledger rows without a model pin are refused, never re-fit over") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
      .commitLedger()
    java.nio.file.Files.delete(java.nio.file.Paths.get(ledger, "_graft_semantic_model"))
    val e = intercept[IllegalStateException] {
      KmeansOps.incrementalSemantic(
        spark, Seq((9L, axisVec(1))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9)
    }
    assert(e.getMessage.contains("model pin"))
  }

  test("a touched cluster grown past the pair gauge refuses loudly (the re-fit signal)") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0)), (4L, axisVec(1))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.99,
      maxClusterForPairs = 3L).commitLedger()
    // Ledger holds 2 members of cluster 0; a 2-vector batch lands there
    // too: 4 > 3 -> the pinned model's cluster has outgrown the gauge.
    val e = intercept[IllegalStateException] {
      KmeansOps.incrementalSemantic(
        spark, Seq((11L, axisVec(2)), (13L, axisVec(3))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.99,
        maxClusterForPairs = 3L)
    }
    assert(e.getMessage.contains("Re-fit"))
  }

  test("a bootstrap batch smaller than k passes through; the model pins at the first big-enough batch") {
    val ledger = tmp()
    // 2 vectors < k=3: no model can seed — the batch must pass through
    // (a streaming caller replaying this epoch must not wedge) and the
    // commit must be a no-op.
    val tiny = Seq((1L, axisVec(0)), (2L, axisVec(0))).toDF("vec_id", "embedding")
    val pending = KmeansOps.incrementalSemantic(
      spark, tiny, "embedding", "vec_id", ledger, k = 3, iters = 1, minCos = 0.9)
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(1L, 2L),
      "bootstrap pass-through must keep every row, even exact dups")
    assert(pending.ledgerHits.count() == 0L)
    pending.commitLedger()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ledger, "_graft_semantic_model")),
      "a pass-through commit must pin nothing")
    // The next batch with >= k rows fits and pins as the FIRST ingest.
    val big = Seq((11L, axisVec(0)), (12L, axisVec(1)), (13L, axisVec(2)))
      .toDF("vec_id", "embedding")
    KmeansOps.incrementalSemantic(
      spark, big, "embedding", "vec_id", ledger, k = 3, iters = 1, minCos = 0.9)
      .commitLedger()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(ledger, "_graft_semantic_model")))
    // And an EMPTY replayed batch against the now-pinned ledger is a
    // clean no-op, not a crash.
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val p2 = KmeansOps.incrementalSemantic(
      spark, empty, "embedding", "vec_id", ledger, k = 3, iters = 1, minCos = 0.9)
    assert(p2.survivors.count() == 0L)
    p2.commitLedger()
  }

  test("a torn model file (params intact, centroid rows missing) is refused loudly") {
    val ledger = tmp()
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, axisVec(0)), (4L, axisVec(1))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
      .commitLedger()
    val modelPath = java.nio.file.Paths.get(ledger, "_graft_semantic_model")
    val lines = new String(java.nio.file.Files.readAllBytes(modelPath), "UTF-8")
      .split("\n")
    // Simulate a torn write: params line + only one of the two centroids.
    // (Drop the Hadoop LocalFileSystem checksum sidecar too — otherwise
    // the rewrite trips ChecksumException before the torn check can.)
    java.nio.file.Files.write(modelPath, lines.take(2).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ledger, "._graft_semantic_model.crc"))
    val e = intercept[IllegalStateException] {
      KmeansOps.incrementalSemantic(
        spark, Seq((9L, axisVec(2))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", ledger, k = 2, iters = 1, minCos = 0.9)
    }
    assert(e.getMessage.contains("torn"))
  }

  test("epoch replay is exactly-once: same token lands on itself") {
    val ledger = tmp()
    val base = axisVec(0)
    KmeansOps.incrementalSemantic(
      spark, Seq((2L, base)).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9, epochToken = Some("epoch0"))
      .commitLedger()
    val batch1 = Seq(
      (11L, base),       // exact copy of the epoch0 vector: certain drop
      (13L, axisVec(1))) // fresh
      .toDF("vec_id", "embedding")
    val first = KmeansOps.incrementalSemantic(
      spark, batch1, "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9,
      epochToken = Some("epoch1"))
    first.commitLedger()
    assert(first.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L))
    // Crash between ledger commit and checkpoint commit: the replayed
    // epoch1 excludes its OWN partition on read, so 13 is not "a dup of
    // itself" and the survivor set is identical.
    val replay = KmeansOps.incrementalSemantic(
      spark, batch1, "embedding", "vec_id", ledger, k = 1, iters = 0, minCos = 0.9,
      epochToken = Some("epoch1"))
    replay.commitLedger()
    assert(replay.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L))
    assert(replay.ledgerHits.as[Long].collect().toSet == Set(11L))
  }
}
