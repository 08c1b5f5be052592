package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** MinHash + LSH banding as a reusable operator (SURVEY §2.3 E38/E51): the
  * shared machinery behind the q48 candidate-pair and q52 purge-list
  * queries.
  *
  * Two scale hazards are closed HERE, not in the callers, because both are
  * O(n²) blowups a 100 TB corpus will hit and a small fixture never will:
  *
  *  1. '''Short documents.''' A doc with fewer than `shingleN` tokens has an
  *     empty shingle set, so its MinHash signature zero-fills — and every
  *     such doc shares the identical all-zero signature. On a real crawl
  *     (millions of near-empty pages) they all collide into ONE
  *     (band, hash) bucket and the candidate join degenerates to O(n²)
  *     pairs. A sub-`shingleN`-token doc cannot be a shingle near-dup of
  *     anything by definition, so they are filtered out before banding.
  *  2. '''Hot buckets.''' Any bucket — organic (boilerplate pages) or
  *     adversarial — with B members emits B² candidate pairs. A per-bucket
  *     size cap drops over-limit buckets from the join and reports how many
  *     were dropped, so callers see coverage loss instead of an exploding
  *     shuffle. At cap = 10 000 a dropped bucket represents ≥ 10⁸ pairs the
  *     join did not have to materialize; members of a bucket that hot are
  *     boilerplate-identical and better handled by exact dedup upstream.
  *
  * A third regime — band-space SATURATION — is closed by
  * [[bandedMinhashAuto]] (round 6; round 5 left it a manual knob): on a
  * bounded-vocabulary corpus the shingle UNIVERSE (vocabulary^shingleN)
  * must stay well above the document count, or MinHash order statistics
  * concentrate on globally-common shingles and band values saturate —
  * candidate pairs then grow n²/B exactly like SimhashOps hazard 3.
  * Measured (round 5, BASELINE.md §round-5): 500 k docs over a 31-word
  * vocabulary with shingleN=3 (≈30 k possible shingles) produce 61.7 M
  * band-join pairs and a junk-dominated candidate set; shingleN=5
  * (≈28.6 M possible shingles) on the same corpus produces 68 k. The auto
  * path applies that measured rule (grow shingleN until
  * vocabulary^shingleN ≳ ~100× corpus size, from a cheap vocab sketch),
  * then ENFORCES the [[Banded.meanOccupancy]] gauge as the backstop —
  * failing loudly instead of handing the caller a quadratic join. The
  * bucket cap remains the last-resort bound for single hot buckets.
  *
  * The banded frame is persisted and materialized EAGERLY (the signature
  * computation is the dominant cost and must run once, not once per
  * self-join side — and eager materialization means the two join sides can
  * never race to populate the cache). At cluster scale the persist becomes
  * a parquet staging table; the single-computation contract is the same.
  */
object LshOps {

  /** @param bands   capped banded frame: (idCol, b, bh)
    * @param overflowBuckets number of (band, hash) buckets dropped by the cap
    * @param bandRows        total (doc, band) rows before the cap
    * @param distinctBuckets number of distinct (band, value) buckets
    */
  final case class Banded(
      bands: DataFrame,
      overflowBuckets: Long,
      bandRows: Long,
      distinctBuckets: Long)(
      private[operators] val persisted: DataFrame) {
    /** Mean bucket occupancy = bandRows / distinctBuckets. Near 1 in the
      * selective regime; growing with the corpus means the band-value
      * space is SATURATING (hazard 3 above — candidate pairs are heading
      * to n²/B) and `shingleN` should grow. Callers get the warning as a
      * number instead of discovering it at 100× scale. */
    def meanOccupancy: Double =
      if (distinctBuckets == 0L) 0.0 else bandRows.toDouble / distinctBuckets
    /** Release the persisted signature frame. `bands` is a projection OVER
      * the persisted frame, so `bands.unpersist()` would be a silent no-op
      * (non-cascading unpersist matches only the exact cached plan) — this
      * targets the real cache entry. */
    def unpersist(): Unit = { persisted.unpersist(); () }
  }

  /** Result of the auto-tuned banding: the capped frame plus the regime
    * evidence the selection was based on. */
  final case class AutoBanded(
      banded: Banded,
      shingleN: Int,
      vocabEstimate: Long,
      docCount: Long)

  /** Expected banded-MinHash recall for a pair at Jaccard similarity `s`:
    * each signature row matches with probability s, a band matches when
    * all `rowsPerBand` rows agree, and a pair is a candidate when ANY
    * band matches — 1 − (1 − s^r)^b. The Jaccard twin of
    * [[SrpOps.bandRecall]]; at the corpus construction (4 bands × 4 rows)
    * this gives ~0.99 at s = 0.9, ~0.88 at s = 0.8, and ~0.10 at
    * s = 0.4 — the near-dups-yes / mere-overlap-no S-curve the dedup
    * queries rely on. */
  def bandRecall(s: Double, rowsPerBand: Int, nBands: Int): Double = {
    require(s >= 0.0 && s <= 1.0 && rowsPerBand > 0 && nBands > 0)
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), nBands)
  }

  /** Smallest `shingleN ≥ minShingleN` whose shingle universe
    * (`vocab^shingleN`) clears `headroom ×` the document count — the
    * round-5 measured rule of thumb (BASELINE.md §round-5 second decade):
    * at 500 k docs over a 31-word vocabulary, 3-gram shingles (universe
    * ≈ 30 k, 0.06× the corpus) produced 61.7 M quadratic band pairs while
    * 5-grams (universe ≈ 28.6 M, 57×) produced 68 k. The default headroom
    * of 100× sits above the measured-good 57× with margin.
    *
    * Cost: one `count()` (parquet metadata at best, one scan at worst) and
    * one `approx_count_distinct` over exploded tokens — both trivially
    * cheap next to the MinHash signature computation they tune.
    *
    * Throws when no `shingleN ≤ maxShingleN` can clear the headroom — a
    * corpus that large over a vocabulary that small has no meaningful
    * shingle near-dup structure (unrelated docs legitimately overlap), and
    * silent junk candidates would be worse than the error. */
  def autoShingleN(
      docs: DataFrame,
      textCol: String,
      minShingleN: Int = 3,
      headroom: Double = 100.0,
      maxShingleN: Int = 8): Int =
    chooseShingleN(corpusRegime(docs, textCol), minShingleN, headroom, maxShingleN)

  /** (docCount, vocabulary estimate) — the two numbers the shingle-regime
    * rule needs, in ONE corpus pass (round 18; the former count() +
    * exploded-HLL pair paid two). posexplode_outer keeps exactly one row
    * per doc even when the doc has no tokens or null text (a (null,
    * null) artifact row), so counting pos-0-or-null markers IS the doc
    * count, while the same rows feed the vocabulary sketch
    * (approx_count_distinct ignores the null artifacts). Identical
    * numbers to the two-pass form — parity-gated in LshOpsSpec.
    * array_distinct before the explode (round 16): the HLL sketch sees
    * each doc's distinct tokens once instead of every occurrence —
    * identical distinct set, identical estimate, rows ÷ repetition. */
  private[graft] def corpusRegime(docs: DataFrame, textCol: String): (Long, Long) = {
    val row = docs
      .select(posexplode_outer(array_distinct(tokens(col(textCol))))
        .as(Seq("_graft_p", "_graft_t")))
      .agg(
        sum(when(col("_graft_p") === 0 || col("_graft_p").isNull, 1L)
          .otherwise(0L)).as("n_docs"),
        approx_count_distinct(col("_graft_t"), 0.05).as("vocab"))
      .head()
    val nDocs = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (nDocs == 0L) (0L, 2L) else (nDocs, math.max(2L, row.getLong(1)))
  }

  private def chooseShingleN(
      regime: (Long, Long),
      minShingleN: Int,
      headroom: Double,
      maxShingleN: Int): Int = {
    require(minShingleN >= 1 && maxShingleN >= minShingleN && headroom > 0)
    val (nDocs, vocab) = regime
    if (nDocs == 0L) return minShingleN
    val need = headroom * nDocs
    // universe vocab^n ≥ need  ⇔  n ≥ log(need) / log(vocab)
    val n = math.max(minShingleN,
      math.ceil(math.log(need) / math.log(vocab.toDouble)).toInt)
    if (n > maxShingleN)
      throw new IllegalStateException(
        s"LSH shingle universe cannot clear saturation: vocab≈$vocab, docs=$nDocs — " +
          s"even $maxShingleN-gram shingles give vocab^$maxShingleN = " +
          f"${math.pow(vocab.toDouble, maxShingleN)}%.3g < ${headroom}%.0f×docs = $need%.3g. " +
          "Shingle near-dup is not meaningful on this corpus (unrelated docs " +
          "legitimately overlap); dedup it exactly or enrich the tokenization.")
    n
  }

  /** [[bandedMinhash]] with `shingleN` chosen by [[autoShingleN]] and the
    * occupancy gauge ENFORCED: if the banded frame still saturates
    * (`meanOccupancy > maxMeanOccupancy`) the call fails loudly with the
    * measured rule of thumb instead of handing the caller a quadratic
    * self-join. The gauge can still trip after auto-selection when the
    * token DISTRIBUTION is far more concentrated than the distinct count
    * suggests (a heavy-tailed vocabulary has fewer effective shingles than
    * `vocab^n`). */
  def bandedMinhashAuto(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      minShingleN: Int = 3,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000,
      headroom: Double = 100.0,
      maxMeanOccupancy: Double = 8.0,
      maxShingleN: Int = 8): AutoBanded = {
    val regime @ (nDocs, vocab) = corpusRegime(docs, textCol)
    val n = chooseShingleN(regime, minShingleN, headroom, maxShingleN)
    val banded = bandedMinhash(docs, textCol, idCol, k, n, nBands, rowsPerBand, maxBucket)
    if (banded.meanOccupancy > maxMeanOccupancy) {
      banded.unpersist()
      throw new IllegalStateException(
        f"LSH band space saturated even at shingleN=$n: meanOccupancy=" +
          f"${banded.meanOccupancy}%.1f > $maxMeanOccupancy%.1f (bandRows=${banded.bandRows}, " +
          f"buckets=${banded.distinctBuckets}). The effective shingle universe is far " +
          "smaller than vocab^n (heavy-tailed tokens); grow minShingleN or dedup exactly.")
    }
    AutoBanded(banded, n, vocabEstimate = vocab, docCount = nDocs)
  }

  /** (id, b, bh) rows: one per band of each doc, none for a doc below
    * `shingleN` tokens. ONE pass per doc (round 18): the fused expression
    * tokenizes once and emits an EMPTY band array below shingleN tokens,
    * so the posexplode drops sub-shingle docs — hazard 1's former
    * tokenCount filter (which re-tokenized) plus the interpreted HOF band
    * fold, both gone. Bit-equal rows, parity-gated in NativeExprSpec. */
  private def bandRows(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      shingleN: Int,
      nBands: Int,
      rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    require(k == nBands * rowsPerBand,
      s"signature length k=$k must equal nBands*rowsPerBand=${nBands * rowsPerBand} " +
        "(a shorter signature would band over missing values; a longer one would ignore rows)")
    require(maxBucket > 0, s"maxBucket must be positive: $maxBucket")
    docs.select(col(idCol), posexplode(
      minhashBandHashes(col(textCol), k, shingleN, nBands, rowsPerBand)).as(Seq("b", "bh")))
  }

  /** Explode docs into capped (id, band, bandHash) rows, ready for the
    * candidate-pair self-join. One shuffle on (b, bh) for the bucket-size
    * window; the downstream self-join reuses that partitioning.
    */
  def bandedMinhash(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      shingleN: Int = 3,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000): Banded = {
    val exploded = bandRows(docs, textCol, idCol, k, shingleN, nBands, rowsPerBand, maxBucket)
      // Hazard 2: bucket occupancy, computed on the same (b, bh)
      // partitioning the self-join will use.
      .withColumn("_graft_bn", count(lit(1)).over(Window.partitionBy(col("b"), col("bh"))))
      .persist()
    // This aggregate is the eager materialization AND all three health
    // metrics in one cheap job (signatures compute exactly once, before
    // any join side can race on the cache): one row per (band, value)
    // bucket, then overflow count, row count, and bucket count together.
    val stats = exploded
      .select(col("b"), col("bh"), col("_graft_bn").as("c")).distinct()
      .agg(
        sum(when(col("c") > maxBucket, 1L).otherwise(0L)),
        sum(col("c")),
        count(lit(1)))
      .head()
    Banded(
      exploded.filter(col("_graft_bn") <= maxBucket).drop("_graft_bn"),
      overflowBuckets = if (stats.isNullAt(0)) 0L else stats.getLong(0),
      bandRows = if (stats.isNullAt(1)) 0L else stats.getLong(1),
      distinctBuckets = stats.getLong(2))(exploded)
  }

  /** Incremental NEAR-dup against a persistent band ledger — the q77
    * pattern (exact-fingerprint ledger) extended to LSH: "near-dedup
    * today's crawl against the whole corpus" without re-banding the
    * corpus. The ledger holds only the corpus survivors' (band, bucket)
    * keys — `nBands` longs per doc, never the text — so the per-batch
    * cost is banding the BATCH plus one join against the bucket set.
    *
    * Drop-on-collision semantics: a batch doc sharing any band bucket
    * with the ledgered corpus is dropped (recall-first, the standard
    * crawl-dedup posture: an LSH bucket collision is strong near-dup
    * evidence at these band widths, and the corpus copy survives). The
    * dropped ids are returned in [[Ledger.Pending.ledgerHits]] for
    * pipelines that verify (e.g. exact Jaccard against the corpus text
    * store) before discarding. Within the batch, survivors then dedup
    * against each other with the usual keep-min-id policy. Only SURVIVOR
    * buckets are committed — a dropped doc is not corpus, so its buckets
    * must not poison future batches. With an `epochToken` the batch is an
    * epoch of the [[Ledger]] replay protocol: a replay does not drop
    * itself as "near-dups of its own committed buckets".
    *
    * Bucket membership is only meaningful between frames banded with
    * IDENTICAL construction parameters — a batch banded 4-gram against a
    * 3-gram ledger would simply never collide and every near-dup would
    * sail through — so the ledger pins `(k, shingleN, nBands,
    * rowsPerBand)` ([[Ledger.MinhashBands]]).
    *
    * The verdict takes ONE exchange. The batch's band rows and the prior
    * ledger's buckets (as flagged rows) meet in one `(b, bh)` exchange,
    * sorted by `(b, bh)` within each partition, and one pass over each
    * partition ([[bucketPass]], at most one bucket's rows buffered) emits
    * each under-cap batch row with its bucket's ledger flag, its
    * occupancy and a row id unique in the frame (rows of buckets over
    * `maxBucket` and ledger rows drop out); a single `localCheckpoint`
    * pins that frame. The driver then reads the COLLIDING rows
    * once, those whose bucket is in the ledger or holds two or more batch
    * rows, each bucket's rows in Spark's id order, and settles two id sets
    * from them: the hits (ids with a bucket in the ledger) and the drops
    * (every non-hit id above the smallest non-hit id of one of its
    * buckets: [[purgeList]]'s keep-min-id rule). A null id is never
    * dropped and never drops another, and equal ids never drop each
    * other, as under the equi-joins of that rule. That read is at most
    * `nBands` rows per colliding doc, the order of the two id sets; the
    * singleton buckets, most rows, never leave the executors.
    *
    * The driver applies the verdict it holds with no further job and no
    * join: each set is one hashed `InSet` predicate (`ColumnBridge.inSet`,
    * ids compared as an equi-join compares them). `survivors` is the batch
    * filtered by `id IS NULL OR id NOT IN (hits ∪ drops)`, so a null id
    * stays as under an anti join and no batch row can be multiplied; an
    * empty set keeps its filter, so the plan does not vary by batch.
    * `ledgerHits` is the hit set as rows on the driver. The committed
    * buckets are a filter of the pinned rows: a singleton bucket whose id
    * is null or in neither set, and each colliding bucket that holds such
    * an id once, through one row the driver picked. The pin fixes the
    * pre-commit ledger read, so every output evaluated after
    * `commitLedger()` still sees the ledger as it was; nothing is cached,
    * so nothing outlives the batch.
    */
  def incrementalNeardup(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      ledgerDir: String,
      k: Int = 16,
      shingleN: Int = 3,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000,
      epochToken: Option[String] = None): Ledger.Pending = {
    val rows = bandRows(batch, textCol, idCol, k, shingleN, nBands, rowsPerBand, maxBucket)
      .withColumn("_graft_l", lit(false))
    val params = s"k=$k,shingleN=$shingleN,nBands=$nBands,rowsPerBand=$rowsPerBand"
    val prior = Ledger.prior(spark, ledgerDir, Ledger.MinhashBands, params, epochToken)
    // Ledger buckets ride in the batch's (b, bh) exchange as flagged rows:
    // one shuffle settles both membership and occupancy.
    val keyed = prior.fold(rows)(l => rows.unionByName(l.select(
      lit(null).cast(rows.schema(idCol).dataType).as(idCol),
      col("_graft_b").as("b"), col("_graft_bh").as("bh"), lit(true).as("_graft_l"))))
      .repartition(col("b"), col("bh"))
      .sortWithinPartitions(col("b"), col("bh"))
    val id = col(idCol)
    val inLedger = col("_graft_in")
    val colliding = inLedger || col("_graft_bn") >= 2
    val row = col("_graft_row")
    // `toRdd` runs the exchange's map stage; the pin is materialized by
    // the colliding-row read below, the verdict's second job.
    val pinSchema = StructType(keyed.schema.fields.take(3) ++ Seq(
      StructField("_graft_in", BooleanType, nullable = false),
      StructField("_graft_bn", LongType, nullable = false),
      StructField("_graft_row", LongType, nullable = false)))
    val idType = keyed.schema(idCol).dataType
    val pin = ColumnBridge.dataFrame(spark,
      keyed.queryExecution.toRdd.mapPartitionsWithIndex(
        (part, it) => bucketPass(it, idType, part, maxBucket)),
      pinSchema).localCheckpoint(eager = false)
    // The exchange left every bucket inside one partition, so sorting each
    // partition by id puts every bucket's rows in Spark's id order.
    val v = settle(pin.filter(colliding)
      .select(id, col("b"), col("bh"), inLedger, row)
      .sortWithinPartitions(id)
      .collect())
    val idField = pin.schema(idCol)
    val unsettled = id.isNull || !ColumnBridge.inSet(id, idField.dataType, v.hits ++ v.drops)
    // A singleton bucket is committed unless its id is settled; a colliding
    // one through the one row the driver kept for it.
    val committed = when(colliding, ColumnBridge.inSet(row, LongType, v.kept)).otherwise(unsettled)
    new Ledger.Pending(
      batch.filter(unsettled),
      spark.createDataFrame(v.hits.map(Row(_)).asJava,
        StructType(Seq(idField.copy(nullable = true)))),
      () => Ledger.stage(
        pin.filter(committed).select(col("b").as("_graft_b"), col("bh").as("_graft_bh")),
        ledgerDir, Ledger.MinhashBands, params, epochToken))
  }

  /** What [[settle]] decides for an epoch: the hit ids, the drop ids, and
    * one `_graft_row` for each colliding bucket that is committed. */
  private final case class Verdict(hits: Seq[Any], drops: Seq[Any], kept: Seq[Long])

  /** The verdict of [[incrementalNeardup]]'s colliding rows `(id, b, bh,
    * inLedger, _graft_row)`, given each bucket's rows in Spark's id order,
    * nulls first. An id is a hit when one of its rows is in a ledger
    * bucket, a drop when a smaller non-hit id shares one of its buckets; a
    * bucket is committed when a row of a null or unsettled id is in it.
    * Ids are compared as Spark compares them: a float's -0.0 equals 0.0,
    * NaNs equal each other, binary ids by content. */
  private def settle(rows: Array[Row]): Verdict = {
    def key(r: Row): Any = r.get(0) match {
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    val hits = rows.filter(_.getBoolean(3)).map(r => key(r) -> r.get(0)).toMap
    val buckets = rows.groupBy(r => (r.get(1), r.get(2))).values.toSeq
    val drops = buckets.flatMap { bucket =>
      val live = bucket.filter(r => !r.isNullAt(0) && !hits.contains(key(r)))
      live.drop(1).filter(r => key(r) != key(live.head)).map(r => key(r) -> r.get(0))
    }.toMap
    val kept = buckets.flatMap(_.find(r => r.isNullAt(0) ||
      !hits.contains(key(r)) && !drops.contains(key(r))).map(_.getLong(4)))
    Verdict(hits.values.toSeq, drops.values.toSeq, kept)
  }

  /** [[incrementalNeardup]]'s pass over one partition of `(id, b, bh,
    * _graft_l)` rows sorted by `(b, bh)`: each batch row of a bucket with
    * at most `maxBucket` batch rows, as `(id, b, bh, _graft_in, _graft_bn,
    * _graft_row)` — its bucket's ledger flag, its bucket's batch-row count
    * and an id unique across partitions (`monotonically_increasing_id`'s
    * layout). Ledger rows drop out. It holds at most one bucket's
    * `maxBucket` batch rows. */
  private def bucketPass(rows: Iterator[InternalRow], idType: DataType, part: Int,
      maxBucket: Int): Iterator[InternalRow] = {
    val in = rows.buffered
    var rowId = part.toLong << 33
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val (bNull, bhNull) = (in.head.isNullAt(1), in.head.isNullAt(2))
      val (b, bh) = (if (bNull) 0 else in.head.getInt(1), if (bhNull) 0L else in.head.getLong(2))
      def inBucket(r: InternalRow): Boolean =
        r.isNullAt(1) == bNull && (bNull || r.getInt(1) == b) &&
          r.isNullAt(2) == bhNull && (bhNull || r.getLong(2) == bh)
      val bucket = ArrayBuffer.empty[InternalRow]
      var ledgered = false
      var n = 0L
      while (in.hasNext && inBucket(in.head)) {
        val r = in.next()
        if (r.getBoolean(3)) ledgered = true
        else {
          n += 1
          if (n <= maxBucket) bucket += r.copy() else bucket.clear()
        }
      }
      if (n > maxBucket) Iterator.empty
      else bucket.iterator.map { r =>
        rowId += 1
        new GenericInternalRow(Array[Any](
          if (r.isNullAt(0)) null else r.get(0, idType), if (bNull) null else b,
          if (bhNull) null else bh, ledgered, n, rowId - 1))
      }
    }
  }

  /** A dedup-ledger recall audit's result (E155). `recall` is the mean,
    * over sampled queries that HAVE at least one exact near-dup, of the
    * fraction of those true neighbors the banded candidate path
    * surfaces; `pin` restates the ledger's construction — a recall
    * without provenance is noise (the [[PqOps.annRecall]] rule). */
  final case class DedupRecallReport(
      recall: Double,
      nQueries: Int,
      queriesWithTruth: Int,
      truePairs: Long,
      matchedPairs: Long,
      pin: String)

  /** E155 (round 17): RECALL AUDIT for the MinHash band-ledger dedup
    * path — the text twin of [[PqOps.annRecall]], closing the round-16
    * symmetry gap (the PQ store had a recall gate; the text/SRP dedup
    * ledgers were measured only on the AccuracySpec fixture). Samples
    * the `nQueries` lowest-id documents (deterministic — two audits of
    * the same corpus agree bit-for-bit), computes EXACT shingle-set
    * Jaccard ground truth for each against the whole corpus (the
    * family's own verify arithmetic: charHash shingle sets, 4-dp
    * rounding — [[verifyPairs]]), re-bands the corpus with the LEDGER's
    * pinned construction, and reports what fraction of true neighbors
    * the band collision path surfaces. The ledger stores only bucket
    * keys, so the caller passes the corpus TEXT store the ledger was
    * built from. Pass the docs the pipeline INGESTS (pre-dedup batch or
    * raw corpus), not a survivors-only store: survivors are mutually
    * non-near-dup except for exactly the pairs the banding missed, so a
    * survivor-only audit is selection-biased toward zero recall.
    *
    * Cost at scale: ground truth is ONE corpus scan with the sampled
    * docs' shingle sets broadcast (Q × N comparison rows stream through
    * the aggregation — Q bounds the audit's price, the honest cost of
    * exact truth), plus the banding pass the production path itself
    * pays. Queries with NO true neighbor at `minJaccard` contribute
    * nothing (their recall is undefined); an audit where no sampled doc
    * has any true neighbor refuses loudly rather than reporting NaN. */
  def dedupRecall(
      spark: org.apache.spark.sql.SparkSession,
      ledgerDir: String,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double,
      nQueries: Int,
      maxBucket: Int = 10000): DedupRecallReport = {
    require(nQueries >= 1, s"nQueries out of range: $nQueries")
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0,1]: $minJaccard")
    val (pin, (k, shingleN, nBands, rowsPerBand)) =
      Ledger.auditPin(spark, ledgerDir, Ledger.MinhashBands) { kv =>
        (kv("k").toInt, kv("shingleN").toInt, kv("nBands").toInt, kv("rowsPerBand").toInt)
      }
    // Materialize the sample ONCE (the annRecall rule): leaving the
    // TakeOrdered lazy would re-execute its corpus pass inside both the
    // ground truth and the banding.
    val qSchema = docs.select(col(idCol), col(textCol)).schema
    val qRows = docs.select(col(idCol), col(textCol))
      .orderBy(col(idCol)).limit(nQueries).collect()
    require(qRows.nonEmpty,
      "dedupRecall: the corpus frame is empty — no queries to sample")
    val spark0 = docs.sparkSession
    val sample = spark0.createDataFrame(
      spark0.sparkContext.parallelize(qRows.toSeq, 1), qSchema)
    // EXACT ground truth — the verify stage's arithmetic verbatim
    // (charHash shingle sets, 4-dp-rounded Jaccard), so the audit's
    // truth is the same number verifiedContamination would publish.
    def hs(side: DataFrame, outId: String, outHs: String) =
      side.select(col(idCol).as(outId),
        array_distinct(transform(shingles(col(textCol), shingleN),
          g => charHash(g))).as(outHs))
    val qHs = broadcast(hs(sample, "_graft_qid", "_graft_hs_q"))
    val inter = size(array_intersect(col("_graft_hs_q"), col("_graft_hs_c")))
    val truth = hs(docs, "_graft_vid", "_graft_hs_c")
      .crossJoin(qHs)
      .filter(col("_graft_vid") =!= col("_graft_qid"))
      .select(col("_graft_qid"), col("_graft_vid"),
        round(inter.cast("double") /
          (size(col("_graft_hs_q")) + size(col("_graft_hs_c")) - inter), 4)
          .as("_graft_j"))
      .filter(col("_graft_j") >= minJaccard)
      .select(col("_graft_qid"), col("_graft_vid"))
      .localCheckpoint(true)
    // The banded candidate path at the PINNED construction (same
    // bucket-cap posture as the ingest default).
    val banded = bandedMinhash(
      docs, textCol, idCol, k, shingleN, nBands, rowsPerBand, maxBucket)
    val qidVals = qRows.map(_.get(0)).toSeq
    val cand = banded.bands
      .filter(col(idCol).isInCollection(qidVals))
      .select(col(idCol).as("_graft_qid"), col("b"), col("bh"))
      .join(banded.bands.select(col(idCol).as("_graft_vid"), col("b"), col("bh")),
        Seq("b", "bh"))
      .filter(col("_graft_qid") =!= col("_graft_vid"))
      .select(col("_graft_qid"), col("_graft_vid")).distinct()
    val trueCounts = truth.groupBy(col("_graft_qid")).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val matchedCounts = truth
      .join(cand, Seq("_graft_qid", "_graft_vid"), "left_semi")
      .groupBy(col("_graft_qid")).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    banded.unpersist()
    require(trueCounts.nonEmpty,
      f"dedupRecall: no exact near-dup pairs at jaccard >= $minJaccard%.4f " +
        s"among the ${qRows.length} sampled docs — raise nQueries or lower " +
        "the threshold (a recall over zero truths is undefined)")
    val recall = trueCounts.keys.toSeq.map { q =>
      matchedCounts.getOrElse(q, 0L).toDouble / trueCounts(q)
    }.sum / trueCounts.size
    DedupRecallReport(recall, qRows.length, trueCounts.size,
      trueCounts.values.sum, matchedCounts.values.sum, pin)
  }

  /** Distinct candidate pairs (a < b) from a banded frame: docs sharing any
    * band hash meet in the same partition — never a cross join. */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("b"), col("bh"), col(idCol).as("doc_a"))
    val b2 = bands.select(col("b"), col("bh"), col(idCol).as("doc_b"))
    a.join(b2, Seq("b", "bh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Near-dup purge list under the keep-min-id policy: pairs are emitted
    * with doc_a < doc_b, so every doc_b collides with a smaller id and is
    * dropped. */
  def purgeList(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("b"), col("bh"), col(idCol).as("doc_a"))
    val b2 = bands.select(col("b"), col("bh"), col(idCol).as("doc_b"))
    a.join(b2, Seq("b", "bh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_b").as("drop_id")).distinct()
  }

  /** FUZZY cross-corpus decontamination (SURVEY §2.3 E103): distinct
    * (train_id, ref_id) evidence pairs where a training document shares
    * any MinHash band bucket with a held-out/benchmark document — the
    * near-dup generalization of the exact 13-gram decontamination pass
    * (q73). Exact n-gram matching misses the paraphrased or lightly
    * reformatted benchmark copy a crawl actually contains; a band
    * collision at these widths is strong near-dup evidence (the q48
    * S-curve), and the PAIR output (rather than a bare purge list) is
    * what a contamination audit publishes: which benchmark doc each
    * dropped training doc matched.
    *
    * Scale shape: each side banded independently ([[bandedMinhash]] — its
    * sub-shingle filter, per-side bucket caps, and eager single
    * materialization apply), then ONE equi-join on (band, bucket) —
    * bipartite, so candidates meet in the partition the band key already
    * placed them in; never a cross join and never quadratic in corpus
    * size. The reference side (benchmarks) is typically tiny next to the
    * training corpus, so its banded frame broadcasts at real scale; the
    * plan is then one narrow pass over the training side's bands. Both
    * caps surface in the returned [[Banded]] stats the caller can gauge.
    */
  def crossCorpusPairs(
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      shingleN: Int = 3,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val tb = bandedMinhash(train, textCol, idCol, k, shingleN, nBands, rowsPerBand, maxBucket)
    val rb = bandedMinhash(ref, textCol, idCol, k, shingleN, nBands, rowsPerBand, maxBucket)
    tb.bands.select(col("b"), col("bh"), col(idCol).as("train_id"))
      .join(rb.bands.select(col("b"), col("bh"), col(idCol).as("ref_id")),
        Seq("b", "bh"))
      .select(col("train_id"), col("ref_id")).distinct()
  }

  /** [[crossCorpusPairs]] with the VERIFICATION stage a production purge
    * wants before dropping training data: every band-collision pair is
    * re-scored with the EXACT n-gram Jaccard of the two documents and
    * only pairs at/above `minJaccard` survive — the text twin of the
    * SRP/SemDeDup cosine-verify rule (a bucket collision is evidence, a
    * verified similarity is a decision; purging on evidence alone
    * over-drops whenever a band saturates). Output: (train_id, ref_id,
    * jaccard) audit rows; the purge list is `select(train_id).distinct`.
    *
    * Scale shape: the LSH stage bounds the candidate set (never
    * all-pairs); verification then joins the pairs to each side's
    * distinct-shingle-hash set (two keyed joins — the shingle projection
    * is NARROW and computed once per side, not once per pair) and scores
    * each pair with set intersection arithmetic — per-pair work linear
    * in document shingles, only on candidates. */
  def verifiedContamination(
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double,
      k: Int = 16,
      shingleN: Int = 3,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0,1]: $minJaccard")
    val pairs = crossCorpusPairs(train, ref, textCol, idCol,
      k, shingleN, nBands, rowsPerBand, maxBucket)
    scorePairs(pairs, train, ref, textCol, idCol, shingleN, minJaccard)
  }

  /** Exact n-gram Jaccard scoring of candidate (train_id, ref_id) pairs —
    * the shared verification stage of [[verifiedContamination]] and
    * [[verifiedContaminationAuto]], public so a caller holding an
    * already-computed candidate frame (an [[AutoCrossCorpus]], a probe, a
    * re-scored audit) can verify WITHOUT re-running the banding stage.
    * Each side's distinct-shingle-hash set is computed ONCE per side
    * (narrow projection), then two keyed joins bring the sets to the
    * pairs; per-pair work is linear in document shingles and paid only on
    * candidates. `shingleN` must be the width the pairs were mined at. */
  def verifyPairs(
      pairs: DataFrame,
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      minJaccard: Double): DataFrame = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0,1]: $minJaccard")
    scorePairs(pairs, train, ref, textCol, idCol, shingleN, minJaccard)
  }

  private def scorePairs(
      pairs: DataFrame,
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      minJaccard: Double): DataFrame = {
    def shingleSets(side: DataFrame, outId: String, outHs: String) =
      side.select(col(idCol).as(outId),
        array_distinct(transform(shingles(col(textCol), shingleN),
          g => charHash(g))).as(outHs))
    val inter = size(array_intersect(col("_graft_hs_t"), col("_graft_hs_r")))
    pairs
      .join(shingleSets(train, "train_id", "_graft_hs_t"), Seq("train_id"))
      .join(shingleSets(ref, "ref_id", "_graft_hs_r"), Seq("ref_id"))
      .select(col("train_id"), col("ref_id"),
        round(inter.cast("double") /
          (size(col("_graft_hs_t")) + size(col("_graft_hs_r")) - inter), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[crossCorpusPairs]]' candidate stage plus the E87 width derivation:
    * the shingle width comes from the TRAIN side's measured regime
    * ([[autoShingleN]] — the train corpus is the side that grows to
    * 100 TB and saturates a fixed width; the gsf10 measurement in
    * BASELINE.md round-9 shows 3-gram/16-perm collisions growing 110×
    * for 10× docs), is pinned IDENTICALLY on both sides (a construction
    * mismatch would make the bipartite join meaningless), and the train
    * side's occupancy gauge is ENFORCED ([[bandedMinhashAuto]] refuses
    * loudly instead of handing back a saturated join). */
  final case class AutoCrossCorpus(
      pairs: DataFrame,
      shingleN: Int,
      trainCount: Long,
      vocabEstimate: Long)

  def crossCorpusPairsAuto(
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000,
      headroom: Double = 100.0,
      maxMeanOccupancy: Double = 8.0,
      minShingleN: Int = 3,
      maxShingleN: Int = 8): AutoCrossCorpus = {
    val auto = bandedMinhashAuto(train, textCol, idCol, k, minShingleN,
      nBands, rowsPerBand, maxBucket, headroom, maxMeanOccupancy, maxShingleN)
    val rb = bandedMinhash(ref, textCol, idCol, k, auto.shingleN,
      nBands, rowsPerBand, maxBucket)
    val pairs = auto.banded.bands
      .select(col("b"), col("bh"), col(idCol).as("train_id"))
      .join(rb.bands.select(col("b"), col("bh"), col(idCol).as("ref_id")),
        Seq("b", "bh"))
      .select(col("train_id"), col("ref_id")).distinct()
    AutoCrossCorpus(pairs, auto.shingleN, auto.docCount, auto.vocabEstimate)
  }

  /** [[verifiedContamination]] at the [[crossCorpusPairsAuto]]-derived
    * width — the knob-free decontamination decision a 100 TB caller runs:
    * width from the train regime, gauge enforced, candidates verified by
    * exact n-gram Jaccard AT THE SAME derived width before any purge. */
  def verifiedContaminationAuto(
      train: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double,
      k: Int = 16,
      nBands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucket: Int = 10000,
      headroom: Double = 100.0,
      maxMeanOccupancy: Double = 8.0,
      minShingleN: Int = 3,
      maxShingleN: Int = 8): DataFrame = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0,1]: $minJaccard")
    val auto = crossCorpusPairsAuto(train, ref, textCol, idCol, k,
      nBands, rowsPerBand, maxBucket, headroom, maxMeanOccupancy,
      minShingleN, maxShingleN)
    scorePairs(auto.pairs, train, ref, textCol, idCol, auto.shingleN, minJaccard)
  }
}
