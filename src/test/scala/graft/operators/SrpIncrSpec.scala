package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The incremental SRP band-ledger protocol: cosine-VERIFIED drop against
  * the ledgered corpus (never collision-only — SRP bucket spaces are small
  * by construction), keep-min-id within the batch, survivors' (band,
  * bucket, vector) rows committed, write-then-commit crash contract, and
  * the epoch replay variant. */
class SrpIncrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 32

  private def unitVec(seed: Long, noiseOf: Option[(Array[Float], Double)] = None): Array[Float] = {
    val rng = new scala.util.Random(seed)
    val raw = noiseOf match {
      case None => Array.fill(Dim)(rng.nextGaussian())
      case Some((base, eps)) => base.map(_.toDouble + eps * rng.nextGaussian())
    }
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_srp_incr").resolve("bands").toString

  test("batch 2 drops verified near-dups of the ledgered corpus, keeps fresh vectors") {
    val ledger = tmp()
    val base2 = unitVec(2L)
    val corpus = Seq((2L, base2), (4L, unitVec(4L))).toDF("vec_id", "embedding")
    SrpOps.incrementalNeardup(spark, corpus, "embedding", "vec_id", ledger)
      .commitLedger()
    val fresh13 = unitVec(13L)
    val batch2 = Seq(
      (11L, unitVec(111L, Some((base2, 0.02)))), // cos ~0.99 of corpus vec 2
      (13L, fresh13),
      (15L, unitVec(115L, Some((fresh13, 0.02)))), // in-batch near-dup of 13
      (17L, unitVec(17L))) // fresh random
      .toDF("vec_id", "embedding")
    val pending = SrpOps.incrementalNeardup(spark, batch2, "embedding", "vec_id", ledger)
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L, 17L))
    assert(pending.ledgerHits.as[Long].collect().toSet == Set(11L))
  }

  test("a bucket collision below the cosine threshold does NOT drop (verify, don't trust)") {
    // 2-bit bands = 4 values/band: random vectors collide CONSTANTLY, but
    // random unit vectors at dim 32 never reach cos 0.9 — collision-only
    // semantics (the MinHash ledger's, where a collision is near-proof in
    // a ~1e9 hash space) would purge most of this batch.
    val ledger = tmp()
    val corpus = (0L until 20L).map(i => (i, unitVec(i * 7919L + 1L)))
      .toDF("vec_id", "embedding")
    SrpOps.incrementalNeardup(spark, corpus, "embedding", "vec_id", ledger,
      nBands = 4, bitsPerBand = 2, maxBucket = 1000,
      maxMeanOccupancy = Double.PositiveInfinity).commitLedger()
    val batch = (100L until 120L).map(i => (i, unitVec(i * 104729L + 5L)))
      .toDF("vec_id", "embedding")
    val pending = SrpOps.incrementalNeardup(spark, batch, "embedding", "vec_id", ledger,
      nBands = 4, bitsPerBand = 2, maxBucket = 1000,
      maxMeanOccupancy = Double.PositiveInfinity)
    assert(pending.survivors.count() == 20L,
      "random vectors sharing tiny buckets must survive the cosine verification")
    assert(pending.ledgerHits.count() == 0L)
  }

  test("write-then-commit: survivors are stable across the ledger commit") {
    val ledger = tmp()
    SrpOps.incrementalNeardup(spark,
      Seq((2L, unitVec(2L))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger).commitLedger()
    val v9 = unitVec(9L)
    val batch2 = Seq((9L, v9)).toDF("vec_id", "embedding")
    val pending = SrpOps.incrementalNeardup(spark, batch2, "embedding", "vec_id", ledger)
    pending.commitLedger()
    // Evaluated only AFTER the commit appended 9's rows: the pinned
    // pre-commit ledger view must keep 9 a survivor.
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(9L))
    // And the committed rows protect the corpus: a replayed ingest of a
    // near-identical vector now drops as a VERIFIED hit.
    val replay = SrpOps.incrementalNeardup(spark,
      Seq((19L, unitVec(19L, Some((v9, 0.02))))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger)
    assert(replay.survivors.count() == 0L)
    assert(replay.ledgerHits.as[Long].collect().toSet == Set(19L))
  }

  test("a parameter-mismatched ingest is refused loudly") {
    val ledger = tmp()
    SrpOps.incrementalNeardup(spark,
      Seq((2L, unitVec(2L))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger).commitLedger()
    val e = intercept[IllegalStateException] {
      SrpOps.incrementalNeardup(spark,
        Seq((9L, unitVec(9L))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", ledger, bitsPerBand = 12)
    }
    assert(e.getMessage.contains("never collide"))
  }

  test("the banded signature cache is released before the pending batch returns") {
    // A streaming drain runs one incrementalNeardup per micro-batch;
    // CacheManager holds persisted frames until explicit unpersist, so a
    // leaked signature cache grows one entry per epoch for the whole
    // drain. Every frame the caller touches after return (survivors,
    // ledgerHits, the commit's rows) is localCheckpoint-pinned, so the
    // cache must already be gone here.
    spark.catalog.clearCache()
    val ledger = tmp()
    SrpOps.incrementalNeardup(spark,
      Seq((2L, unitVec(2L))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger).commitLedger()
    val pending = SrpOps.incrementalNeardup(spark,
      Seq((9L, unitVec(9L))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger)
    assert(spark.sharedState.cacheManager.isEmpty,
      "incrementalNeardup leaked its banded signature cache")
    pending.commitLedger()
    assert(pending.survivors.select($"vec_id").as[Long].collect().toSet == Set(9L))
  }

  test("epoch replay is exactly-once: same token lands on itself") {
    val ledger = tmp()
    val base2 = unitVec(2L)
    SrpOps.incrementalNeardup(spark,
      Seq((2L, base2)).toDF("vec_id", "embedding"),
      "embedding", "vec_id", ledger, epochToken = Some("epoch0")).commitLedger()
    val batch1 = Seq(
      // An exact copy of the epoch0 vector: identical signature, so the
      // band collision is GUARANTEED (a 0.02-noise copy collides with
      // ~98% probability — this test pins the replay protocol, not the
      // recall geometry, so take the certain case).
      (11L, base2),
      (13L, unitVec(13L))).toDF("vec_id", "embedding")
    val first = SrpOps.incrementalNeardup(
      spark, batch1, "embedding", "vec_id", ledger, epochToken = Some("epoch1"))
    first.commitLedger()
    assert(first.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L))
    // Crash between ledger commit and checkpoint commit: the replayed
    // epoch1 excludes its OWN partition on read, so 13 is not "a near-dup
    // of itself" and the survivor set is identical.
    val replay = SrpOps.incrementalNeardup(
      spark, batch1, "embedding", "vec_id", ledger, epochToken = Some("epoch1"))
    replay.commitLedger()
    assert(replay.survivors.select($"vec_id").as[Long].collect().toSet == Set(13L))
    assert(replay.ledgerHits.as[Long].collect().toSet == Set(11L))
  }
}
