package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded signed-random-projection LSH for embedding near-dup — the scale
  * path the round-6 measurement demands: a single-table 8-bit SRP bucket
  * join (q58's construction through round 7, retired round 8) is n²/256 —
  * measured 0.52 s → 42.3 s (81×) for 10× vectors at 200 k, exactly
  * SimhashOps hazard 3 in embedding space. This operator is [[SimhashOps]] transplanted onto SRP
  * signatures: per-band bucket words over disjoint ranges of one
  * deterministic hyperplane family (the codegen'd `SrpBucketExpr` with a
  * plane offset — 4 × 15 bits by default, but each band owns its own
  * ≤60-bit long, so width × bands is unbounded), a per-bucket occupancy
  * cap with an overflow metric, and an exact cosine verification on
  * candidates only.
  *
  * Geometry sets the recall: P(one bit agrees) = 1 − θ/π for angle θ, so
  * a 15-bit band retains ≈ (1 − θ/π)¹⁵ and 4 bands give
  * 1 − (1 − p_band)⁴ — ≈ 0.94 at cos 0.99, ≈ 0.6 at cos 0.95, small for
  * anything weaker. That is the right shape for near-DUP detection
  * (seeded dups sit at cos ≈ 0.99); for a looser similarity threshold use
  * more bands of fewer bits (parameters exposed), or the IVF path (q81)
  * for genuine top-k search. Candidates are bounded by
  * `maxBucket · nBands · n` (linear in n) at ANY corpus size, with
  * dropped buckets reported, and the occupancy gauge can be enforced
  * loudly like [[LshOps.bandedMinhashAuto]].
  */
object SrpOps {

  /** @param bands capped banded frame: (idCol, vecCol, b, bv)
    * @param overflowBuckets number of (band, value) buckets dropped by the cap
    * @param bandRows        total (vec, band) rows before the cap
    * @param distinctBuckets number of distinct (band, value) buckets
    */
  final case class Banded(
      bands: DataFrame,
      overflowBuckets: Long,
      bandRows: Long,
      distinctBuckets: Long)(
      private[operators] val persisted: DataFrame) {
    /** Saturation gauge — see [[LshOps.Banded.meanOccupancy]]. */
    def meanOccupancy: Double =
      if (distinctBuckets == 0L) 0.0 else bandRows.toDouble / distinctBuckets
    /** Release the persisted signature frame. `bands` is a projection OVER
      * the persisted frame, so `bands.unpersist()` would be a silent no-op
      * (non-cascading unpersist matches only the exact cached plan) — this
      * targets the real cache entry. */
    def unpersist(): Unit = { persisted.unpersist(); () }
  }

  /** Result of the auto-tuned banding: the capped frame plus the choice
    * evidence, mirroring [[LshOps.AutoBanded]]. */
  final case class AutoBanded(
      banded: Banded,
      bitsPerBand: Int,
      vecCount: Long,
      nBands: Int = 4)

  /** Expected banded-LSH recall for a pair at cosine `cos`: each plane
    * agrees with probability 1 − θ/π, a band matches when all `bits`
    * planes agree, and a pair is a candidate when ANY band matches. The
    * closed form both auto rules share — selectivity picks `bits`, then
    * recall picks `bands` back. */
  def bandRecall(cos: Double, bits: Int, bands: Int): Double = {
    require(cos > -1.0 && cos <= 1.0 && bits > 0 && bands > 0)
    val pBit = 1.0 - math.acos(cos) / math.Pi
    val pBand = math.pow(pBit, bits)
    1.0 - math.pow(1.0 - pBand, bands)
  }

  /** [[bandedSrp]] with `bitsPerBand` chosen from the corpus size — the
    * vector-side twin of [[LshOps.bandedMinhashAuto]]. The band-value
    * space `2^bitsPerBand` is FIXED at any given width, so collisions grow
    * n²/2^bits once the corpus outruns it (the round-6 measurement: an
    * 8-bit single-table construction went 81× for 10× vectors at 200 k).
    * The rule: smallest width whose UNIFORM expected occupancy
    * `n / 2^bits` stays under `targetOccupancy`, clamped to
    * `maxBitsPerBand`. Real occupancy runs 2–3× uniform (sign bits of
    * correlated dimensions are biased — measured 15.9 vs 6.1 uniform at
    * 200 k), which is why the default target sits an order of magnitude
    * under the enforced gauge — and the gauge itself remains the
    * backstop: a corpus whose bias exceeds the margin still fails loudly
    * in [[bandedSrp]] rather than handing the caller a quadratic join.
    *
    * Width also sets RECALL (P(band match) = p_bit^bits: at cos 0.99 a
    * 15-bit band retains ~0.50, a 30-bit band ~0.25), so the auto rule
    * never widens beyond what selectivity needs, and `maxBitsPerBand`
    * defaults to 30 — at the default target that covers ~2 G vectors per
    * band before the up-front refusal, and recall at max width is
    * recovered by MORE BANDS (1 − (1 − p_band)^nBands), not more bits.
    * Since round 7 each band owns its own ≤60-bit word over its own plane
    * range, so nBands × bitsPerBand is NOT capped at 60 — the round-6
    * refusal cliff at ~786 k vectors is gone.
    *
    * `targetRecall > 0` closes the second loop: the band COUNT is then
    * derived from [[bandRecall]] at the chosen width (the smallest
    * `bands` with expected recall ≥ the target for a `recallAtCos` pair),
    * overriding `nBands`, so BOTH knobs come from stated requirements —
    * selectivity picks the width, recall picks the bands back. A target
    * unreachable within `maxBands` refuses loudly (signature cost grows
    * with bands; an unbounded auto-escalation would hide a mis-stated
    * threshold).
    */
  def srpAuto(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      nBands: Int = 4,
      minBitsPerBand: Int = 8,
      maxBitsPerBand: Int = 30,
      maxBucket: Int = 200,
      targetOccupancy: Double = 2.0,
      maxMeanOccupancy: Double = DefaultMaxMeanOccupancy,
      targetRecall: Double = 0.0,
      recallAtCos: Double = 0.99,
      maxBands: Int = 16,
      knownCount: Option[Long] = None): AutoBanded = {
    require(nBands > 0 && minBitsPerBand > 0 && minBitsPerBand <= maxBitsPerBand
      && maxBitsPerBand <= 60,
      s"band width bounds out of range: $minBitsPerBand..$maxBitsPerBand (≤ 60)")
    require(targetOccupancy > 0, s"targetOccupancy must be positive: $targetOccupancy")
    require(targetRecall < 1.0, s"targetRecall must be < 1: $targetRecall")
    require(knownCount.forall(_ >= 0L), s"knownCount must be >= 0: $knownCount")
    // Deriving the width costs one count() ACTION on top of bandedSrp's
    // materialization job — two passes over the batch per call. Fine for
    // a batch job; a per-micro-batch caller (foreachBatch) should pass
    // `knownCount` (e.g. the batch row count it already has) to skip the
    // extra pass. Note the ledger operators deliberately do NOT
    // auto-parameterize at all: a ledger pins its construction, so width
    // must never drift with batch size.
    val n = knownCount.getOrElse(vecs.count())
    // 2^bits ≥ n / targetOccupancy  ⇔  bits ≥ log2(n / targetOccupancy)
    val wanted = if (n == 0L) minBitsPerBand
      else math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt
    val bits = math.min(maxBitsPerBand, math.max(minBitsPerBand, wanted))
    val projected = n.toDouble / (1L << bits)
    if (projected > maxMeanOccupancy)
      throw new IllegalStateException(
        f"SRP band space cannot clear saturation: $n vectors over the widest " +
          f"allowed band ($maxBitsPerBand bits, ${1L << maxBitsPerBand} values) still " +
          f"project $projected%.1f mean occupancy > $maxMeanOccupancy%.1f. Raise " +
          "maxBitsPerBand (recall at fixed width drops — add bands to recover) or " +
          "partition the corpus (IVF cells) and near-dup within partitions.")
    val bands =
      if (targetRecall <= 0.0) nBands
      else {
        val chosen = (1 to maxBands)
          .find(b => bandRecall(recallAtCos, bits, b) >= targetRecall)
        chosen.getOrElse(throw new IllegalStateException(
          f"recall target unreachable: $maxBands bands of $bits bits reach " +
            f"${bandRecall(recallAtCos, bits, maxBands)}%.3f < $targetRecall%.3f expected " +
            f"recall at cos $recallAtCos%.2f. Raise maxBands (cost grows linearly) or " +
            "lower the width via targetOccupancy."))
      }
    AutoBanded(
      bandedSrp(vecs, vecCol, idCol, bands, bits, maxBucket, maxMeanOccupancy),
      bitsPerBand = bits, vecCount = n, nBands = bands)
  }

  /** Default saturation gate, calibrated by the round-6 measurements: the
    * measured-GOOD regime (4×15 bands at 200 k vectors, 1.4× wall for 10×
    * data) ran at occupancy 15.9; the measured-CATASTROPHIC regime (the
    * single-table 8-bit bucket join, 81× wall) ran at 200 k/256 ≈ 780.
    * 24 sits 1.5× above the former and 30× below the latter — saturation
    * fails loudly by default while the proven construction keeps running. */
  val DefaultMaxMeanOccupancy = 24.0

  /** Explode vectors into capped (id, vec, band, bandValue) rows. One
    * shuffle on (b, bv) for the occupancy window; the candidate self-join
    * reuses that partitioning. The occupancy gauge is ENFORCED by default
    * (round 7; the round-6 default of +∞ computed the gauge and ignored
    * it — exactly the silent-saturation path this operator exists to
    * close). */
  def bandedSrp(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      nBands: Int = 4,
      bitsPerBand: Int = 15,
      maxBucket: Int = 200,
      maxMeanOccupancy: Double = DefaultMaxMeanOccupancy): Banded = {
    require(nBands > 0 && bitsPerBand > 0 && bitsPerBand <= 60,
      s"a band value is one long, at most 60 bits: bitsPerBand=$bitsPerBand")
    require(maxBucket > 0, s"maxBucket must be positive: $maxBucket")
    // Each band is its own ≤60-bit word over its own plane range (round 7;
    // round 6 sliced ONE 60-bit signature, capping nBands × bitsPerBand at
    // 60 total and forcing srpAuto's refusal cliff). Plane numbering is
    // unchanged — band b's bit r is plane b*bitsPerBand + r — so existing
    // parameterizations and their oracles are bit-identical.
    val exploded = vecs
      .select(col(idCol), col(vecCol), posexplode(array(
        (0 until nBands).map(b =>
          srpBand(col(vecCol), bitsPerBand, b * bitsPerBand)): _*
      )).as(Seq("b", "bv")))
      .withColumn("_graft_bn", count(lit(1)).over(Window.partitionBy(col("b"), col("bv"))))
      .persist()
    // Eager materialization + the three health metrics in one job (the
    // signature computes once, before any join side can race on the cache).
    val stats = exploded
      .select(col("b"), col("bv"), col("_graft_bn").as("c")).distinct()
      .agg(
        sum(when(col("c") > maxBucket, 1L).otherwise(0L)),
        sum(col("c")),
        count(lit(1)))
      .head()
    val banded = Banded(
      exploded.filter(col("_graft_bn") <= maxBucket).drop("_graft_bn"),
      overflowBuckets = if (stats.isNullAt(0)) 0L else stats.getLong(0),
      bandRows = if (stats.isNullAt(1)) 0L else stats.getLong(1),
      distinctBuckets = stats.getLong(2))(exploded)
    if (banded.meanOccupancy > maxMeanOccupancy) {
      banded.unpersist()
      throw new IllegalStateException(
        f"SRP band space saturated: meanOccupancy=${banded.meanOccupancy}%.1f > " +
          f"$maxMeanOccupancy%.1f (bandRows=${banded.bandRows}, buckets=${banded.distinctBuckets}). " +
          "Candidate pairs are heading to n²/B; widen bitsPerBand or dedup exactly.")
    }
    banded
  }

  /** Distinct near-dup pairs (a < b) with exact cosine ≥ `minCos`.
    * Candidates meet on the (b, bv) key — never a cross join; the cosine
    * runs only on candidate pairs. */
  def neardupPairs(bands: DataFrame, vecCol: String, idCol: String, minCos: Double): DataFrame = {
    val a = bands.select(col("b"), col("bv"), col(idCol).as("vid_a"), col(vecCol).as("_va"))
    val b2 = bands.select(col("b"), col("bv"), col(idCol).as("vid_b"), col(vecCol).as("_vb"))
    // Cosine and the threshold run BEFORE the dedup exchange (round 17,
    // guide §2.3): the old shape shuffled BOTH raw vectors per candidate
    // through the distinct just to score each pair once — ~40× the bytes
    // of the (id, id, cos) row at dim 64. The 6-dp cosine is a pure
    // function of the pair, so distinct over (a, b, cos) is distinct
    // over (a, b); re-scoring a pair once per shared band (≤ nBands)
    // is codegen'd arithmetic, strictly cheaper than moving the vectors.
    a.join(b2, Seq("b", "bv")).filter(col("vid_a") < col("vid_b"))
      .select(col("vid_a"), col("vid_b"), cosine(col("_va"), col("_vb")).as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** Incremental embedding near-dup against a persistent SRP band ledger —
    * "near-dedup today's embeddings against the whole corpus" without
    * re-banding the corpus, the vector twin of
    * [[LshOps.incrementalNeardup]] with ONE deliberate difference: the
    * MinHash ledger drops on bucket collision alone (its per-band hash
    * space is ~10⁹, so a collision is near-proof), while an SRP band
    * space is 2^bitsPerBand — small by construction — and random
    * cos-≈-0 pairs collide at 2^-bits per band. On a corpus that fills
    * its bucket space, collision-only dropping would purge essentially
    * EVERYTHING. The ledger therefore stores the survivors' VECTORS
    * alongside their (band, bucket) keys (nBands rows × the embedding per
    * corpus vector) and every collision is verified by exact cosine
    * before it drops a batch vector — the same
    * candidates-then-verify shape as [[neardupPairs]], with the corpus
    * side pre-banded on disk. Batch cost: band the batch + one
    * bucket-keyed join against the ledger + cosine on candidates only.
    *
    * Construction parameters (and the threshold) are pinned in a ledger
    * metadata file; a mismatched ingest is refused loudly — batch bands at
    * a different width would simply never collide and every near-dup
    * would sail through ([[LshOps]] learned this the measured way). With
    * an `epochToken` the batch is an epoch of the [[Ledger]] replay
    * protocol.
    */
  def incrementalNeardup(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      ledgerDir: String,
      nBands: Int = 4,
      bitsPerBand: Int = 10,
      maxBucket: Int = 200,
      minCos: Double = 0.9,
      maxMeanOccupancy: Double = DefaultMaxMeanOccupancy,
      epochToken: Option[String] = None): Ledger.Pending = {
    val banded = bandedSrp(batch, vecCol, idCol, nBands, bitsPerBand, maxBucket, maxMeanOccupancy)
    val params = s"nBands=$nBands,bitsPerBand=$bitsPerBand,minCos=$minCos"
    val prior = Ledger.prior(spark, ledgerDir, Ledger.SrpBands, params, epochToken)
    // Pinned eagerly: every downstream frame must keep seeing the
    // PRE-commit ledger even when evaluated after commitLedger().
    val hits = (prior match {
      case Some(l) =>
        banded.bands.join(
          l.select(col("_graft_b").as("b"), col("_graft_bv").as("bv"), col("_graft_vec")),
          Seq("b", "bv"))
          .filter(cosine(col(vecCol), col("_graft_vec")) >= minCos)
          .select(col(idCol)).distinct()
      case None => banded.bands.select(col(idCol)).filter(lit(false))
    }).localCheckpoint(true)
    val keptBands = banded.bands.join(hits, Seq(idCol), "left_anti")
    // Eager so the banded cache can be RELEASED before this call returns:
    // a streaming caller runs one ingest per micro-batch, and Spark's
    // CacheManager holds persisted frames until explicit unpersist — the
    // pre-round-8 lazy batchDrops kept the cache referenced, leaking one
    // cached signature frame per epoch for the whole drain.
    val batchDrops = neardupPairs(keptBands, vecCol, idCol, minCos)
      .select(col("vid_b").as(idCol)).distinct()
      .localCheckpoint(true)
    val survivors = batch
      .join(hits, Seq(idCol), "left_anti")
      .join(batchDrops, Seq(idCol), "left_anti")
    val survivorRows = keptBands
      .join(batchDrops, Seq(idCol), "left_anti")
      .select(col("b").as("_graft_b"), col("bv").as("_graft_bv"), col(vecCol).as("_graft_vec"))
      .localCheckpoint(true)
    // Everything downstream (hits, batchDrops, survivorRows) is pinned;
    // survivors only references the caller's batch plus pinned frames.
    banded.unpersist()
    new Ledger.Pending(
      survivors,
      hits,
      () => Ledger.stage(survivorRows, ledgerDir, Ledger.SrpBands, params, epochToken))
  }

  /** E155 (round 17): RECALL AUDIT for the SRP band-ledger dedup path —
    * the vector twin of [[LshOps.dedupRecall]]. The LEDGER contributes
    * the pinned construction AND the pinned verify threshold (`minCos`
    * is the ledger's own decision rule, never a caller guess); the
    * measurement runs against the caller's CORPUS of vectors.
    * Deliberately NOT against the ledger's stored vectors: the ledger
    * holds only dedup SURVIVORS, which are mutually non-near-dup except
    * for exactly the pairs the banding already missed at ingest — a
    * survivor-only audit is selection-biased toward zero recall by
    * construction. Pass the vectors the pipeline ingests (pre-dedup
    * batch, raw corpus) to measure what the pinned construction
    * actually catches on the real data distribution.
    *
    * Queries are the `nQueries` lowest-id corpus vectors
    * (deterministic); ground truth per query is every other corpus
    * vector at exact cosine ≥ the pinned `minCos` (ONE corpus scan,
    * sample broadcast — Q bounds the price, the annRecall discipline);
    * candidates come from banding the corpus at the pinned
    * (nBands, bitsPerBand) and cosine-verifying collisions, the
    * [[incrementalNeardup]] hit path's own arithmetic. Recall = mean,
    * over queries with nonempty truth, of |candidates ∩ truth|/|truth|;
    * a zero-truth audit refuses loudly rather than reporting NaN. */
  def dedupRecall(
      spark: org.apache.spark.sql.SparkSession,
      ledgerDir: String,
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      nQueries: Int,
      maxBucket: Int = 200,
      maxMeanOccupancy: Double = DefaultMaxMeanOccupancy): LshOps.DedupRecallReport = {
    require(nQueries >= 1, s"nQueries out of range: $nQueries")
    val (pin, (nBands, bitsPerBand, minCos)) =
      Ledger.auditPin(spark, ledgerDir, Ledger.SrpBands) { kv =>
        (kv("nBands").toInt, kv("bitsPerBand").toInt, kv("minCos").toDouble)
      }
    // Materialize the sample ONCE (the annRecall rule).
    val qSchema = vecs.select(col(idCol), col(vecCol)).schema
    val qRows = vecs.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nQueries).collect()
    require(qRows.nonEmpty,
      "dedupRecall: the vector frame is empty — no queries to sample")
    val spark0 = vecs.sparkSession
    val sample = spark0.createDataFrame(
        spark0.sparkContext.parallelize(qRows.toSeq, 1), qSchema)
      .select(col(idCol).as("_graft_qid"), col(vecCol).as("_graft_qv"))
    // EXACT ground truth at the PINNED threshold: one corpus scan with
    // the sample broadcast; self excluded by id.
    val truth = vecs.select(col(idCol).as("_graft_vid"), col(vecCol).as("_graft_cv"))
      .crossJoin(broadcast(sample))
      .filter(col("_graft_vid") =!= col("_graft_qid"))
      .filter(cosine(col("_graft_qv"), col("_graft_cv")) >= minCos)
      .select(col("_graft_qid"), col("_graft_vid"))
      .localCheckpoint(true)
    // Candidate path at the pinned construction, cosine-verified — the
    // production hit path's own arithmetic.
    val banded = bandedSrp(
      vecs, vecCol, idCol, nBands, bitsPerBand, maxBucket, maxMeanOccupancy)
    val qidVals = qRows.map(_.get(0)).toSeq
    val cand = banded.bands
      .filter(col(idCol).isInCollection(qidVals))
      .select(col(idCol).as("_graft_qid"), col(vecCol).as("_graft_qv"),
        col("b"), col("bv"))
      .join(banded.bands.select(col(idCol).as("_graft_vid"),
        col(vecCol).as("_graft_cv"), col("b"), col("bv")), Seq("b", "bv"))
      .filter(col("_graft_qid") =!= col("_graft_vid"))
      .filter(cosine(col("_graft_qv"), col("_graft_cv")) >= minCos)
      .select(col("_graft_qid"), col("_graft_vid")).distinct()
    val trueCounts = truth.groupBy(col("_graft_qid")).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val matchedCounts = truth
      .join(cand, Seq("_graft_qid", "_graft_vid"), "left_semi")
      .groupBy(col("_graft_qid")).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    banded.unpersist()
    require(trueCounts.nonEmpty,
      f"dedupRecall: no vector pair reaches the pinned cosine " +
        f"$minCos%.4f among the ${qRows.length} sampled vectors — raise " +
        "nQueries (a recall over zero truths is undefined)")
    val recall = trueCounts.keys.toSeq.map { q =>
      matchedCounts.getOrElse(q, 0L).toDouble / trueCounts(q)
    }.sum / trueCounts.size
    LshOps.DedupRecallReport(recall, qRows.length, trueCounts.size,
      trueCounts.values.sum, matchedCounts.values.sum, pin)
  }
}
