package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-items ("heavy hitters") sketching — Misra–Gries summaries
  * (Misra & Gries 1982; merge rule from Agarwal et al., "Mergeable
  * Summaries", PODS 2012 — both public). SURVEY §2.3 extension surface:
  * corpus profiling at 100 TB (reference scope per
  * `Etl_data_pipeline/README.md:1-40` — the reference moves tables and
  * leaves profiling to downstream SQL; here it is a first-class
  * operator).
  *
  * The problem shape: "which tokens/domains/ids dominate this corpus"
  * over a column whose distinct-value count is itself corpus-scale
  * (URLs, user ids, shingles). The exact answer (`groupBy(x).count()`)
  * shuffles one row per DISTINCT value — at 10^11 distinct keys that is
  * a corpus-sized exchange for a 10-row question. A Misra–Gries summary
  * is a FIXED-size state (`capacity` counters) that:
  *
  *   - is associative + commutative under the PODS-2012 merge (sum
  *     counters, keep the top `capacity`, subtract the (capacity+1)-th
  *     largest from the survivors), so Spark computes it map-side
  *     (partial ObjectHashAggregate, the E76 discipline) and the shuffle
  *     carries ONE `capacity`-entry map per map partition — constant,
  *     never distinct-count-sized;
  *   - UNDERCOUNTS only, by a bounded amount: every estimate `est`
  *     satisfies `est ≤ true ≤ est + err_max`, where `err_max` is the
  *     total decrement mass the sketch itself tracked (≤ n/(capacity+1)
  *     by the classic analysis, and reported exactly, not as the bound);
  *     any value with true count > err_max is guaranteed PRESENT.
  *
  * `err_max` rides the output on purpose: a profiling answer without its
  * error bar invites silent misuse, and when `capacity` exceeds the true
  * distinct count the sketch never decrements, `err_max` is 0, and the
  * result is bit-exact — which is what lets q153 pin this operator to
  * the exact DuckDB oracle at fixture scale while SketchOpsSpec drives
  * the lossy regime against exact counts.
  */
object SketchOps {

  /** The sketch state: value → counter (size ≤ capacity), plus the total
    * decrement mass applied so far (the exact per-key undercount bound).
    * A product type keeps the buffer ObjectHashAggregate-friendly. */
  final case class MGBuf(counts: Map[String, Long], decremented: Long)

  final case class MisraGries(capacity: Int)
      extends Aggregator[String, MGBuf, MGBuf] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")

    override def zero: MGBuf = MGBuf(Map.empty, 0L)

    override def reduce(b: MGBuf, x: String): MGBuf =
      // Null is not a frequency-profilable value (and a null map key
      // would fail buffer encoding); callers filter upstream, this is
      // the defensive backstop. The null KEY is reserved for the
      // incremental ledger's error-mass row, which never passes through
      // this aggregator.
      if (x == null) b
      else b.counts.get(x) match {
        case Some(c) => MGBuf(b.counts.updated(x, c + 1L), b.decremented)
        case None if b.counts.size < capacity =>
          MGBuf(b.counts.updated(x, 1L), b.decremented)
        case None =>
          // Full and unseen: the classic decrement-all step — the new
          // item and one unit of every counter annihilate. O(capacity),
          // amortized O(1) per decremented unit.
          MGBuf(
            b.counts.iterator
              .collect { case (k, c) if c > 1L => (k, c - 1L) }
              .toMap,
            b.decremented + 1L)
      }

    override def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val summed = b.counts.foldLeft(a.counts) { case (m, (k, c)) =>
        m.updated(k, m.getOrElse(k, 0L) + c)
      }
      if (summed.size <= capacity) MGBuf(summed, a.decremented + b.decremented)
      else {
        // Mergeable-summaries rule: subtract the (capacity+1)-th largest
        // counter from everything; at most `capacity` survive positive.
        // Deterministic regardless of map order — the subtrahend is a
        // rank statistic of the counter multiset.
        val d = summed.valuesIterator.toArray.sortBy(-_).apply(capacity)
        MGBuf(
          summed.iterator
            .collect { case (k, c) if c > d => (k, c - d) }
            .toMap,
          a.decremented + b.decremented + d)
      }
    }

    override def finish(b: MGBuf): MGBuf = b

    override def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    override def outputEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
  }

  /** The aggregate column form, usable inside any `groupBy(...).agg`.
    *
    * Value identity is the STRING RENDERING — the cast is part of the
    * contract, right for the operator's stated domains (tokens, URLs,
    * domains, ids). A raw numeric column groups by how it prints: an
    * int 1 and a double 1.0 render "1" vs "1.0" and count separately,
    * and two doubles equal after rounding may not render equally. To
    * profile numerics, cast/round/bucket to a canonical form upstream
    * (`col.cast("long")`, `round(col, 2).cast("string")`) so the
    * rendering IS the intended equivalence class. */
  def misraGries(capacity: Int)(value: Column): Column =
    udaf(MisraGries(capacity), Encoders.STRING)(value.cast("string"))

  /** Whole-operator form: top-`k` most frequent values of `valueCol`
    * with their estimated counts and the sketch's exact error mass —
    * one row per (value, est, err_max), ranked (est desc, value asc).
    *
    * Plan: explode-free single aggregation over the column (the caller
    * explodes arrays first if profiling array elements); the shuffle
    * carries one `capacity`-sized map per map partition, the reducer
    * merges them, and the top-k cut happens on the ≤ `capacity`-entry
    * result — no distinct-value-sized state anywhere.
    */
  def heavyHitters(
      df: DataFrame,
      valueCol: String,
      capacity: Int,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Nulls are not values to profile: real id/url/domain columns carry
    // them, and they must neither crash the buffer encoder nor collide
    // with the ledger's reserved null error-mass key.
    df.filter(col(valueCol).isNotNull)
      .agg(misraGries(capacity)(col(valueCol)).as("_mg"))
      .select(explode(col("_mg.counts")).as(Seq("value", "est")),
        col("_mg.decremented").as("err_max"))
      .orderBy(col("est").desc, col("value"))
      .limit(k)
  }

  /** [[heavyHitters]] over the corpus's token stream — the "which tokens
    * dominate" profile q153 pins. */
  def heavyHitterTokens(
      docs: DataFrame,
      textCol: String,
      capacity: Int,
      k: Int): DataFrame =
    heavyHitters(
      docs.select(explode(tokens(col(textCol))).as("token")),
      "token", capacity, k)

  /** TIME-WINDOWED sketch: one Misra–Gries summary per tumbling window
    * of `tsCol` — "what dominated each hour", the profiling view a
    * static corpus-wide sketch can't give. ONE aggregation on purpose:
    * a single agg is legal in a STREAMING query too (stacked aggs are
    * not), so the same code runs over `readStream` + watermark with the
    * sketch as managed state — the state per window is the fixed
    * `capacity`-entry buffer, never the window's rows (live-spec'd in
    * StreamingSpec). Output: (window_start, window_end, err_max, value,
    * est) rows, ≤ capacity + 1 per window; cut with
    * [[windowedHeavyHitters]] in batch, or downstream of the sink in
    * streaming (where a second agg is illegal anyway). */
  def windowedSketch(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      windowDuration: String,
      capacity: Int): DataFrame =
    df.groupBy(window(col(tsCol), windowDuration).as("_graft_w"))
      .agg(misraGries(capacity)(col(valueCol)).as("_mg"))
      .select(col("_graft_w.start").as("window_start"),
        col("_graft_w.end").as("window_end"),
        col("_mg.decremented").as("err_max"),
        explode(col("_mg.counts")).as(Seq("value", "est")))

  /** [[windowedSketch]] + the per-window top-`k` cut (batch form): the
    * cut is the bounded-buffer grouped top-k (E76) over the exploded
    * sketch rows — themselves ≤ capacity per window, so the second
    * aggregation moves sketch-sized frames only. Ranked (est desc,
    * value asc), 1-based. */
  def windowedHeavyHitters(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      windowDuration: String,
      capacity: Int,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    windowedSketch(df, tsCol, valueCol, windowDuration, capacity)
      .groupBy(col("window_start"), col("window_end"), col("err_max"))
      .agg(TopKOps.topKStr(k)(col("est").cast("double"), col("value")).as("_tk"))
      .select(col("window_start"), col("window_end"), col("err_max"),
        posexplode(col("_tk.items")))
      .select(col("window_start"), col("window_end"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("value"),
        // Counts are exact longs below 2^53 — the double ride through
        // the top-k buffer is lossless.
        col("col.v").cast("long").as("est"),
        col("err_max"))
  }

  /** [[incrementalHeavyHitters]]' two-step result ([[Ledger]]): read
    * `top` now, `commitLedger()` only after the batch's processed output
    * is durably written. */
  final class PendingHeavyHitters private[operators] (
      /** Corpus-lifetime top-k as of ledger + THIS batch:
        * (value, est, err_max), est descending with the value
        * tie-break; `est ≤ true ≤ est + err_max` for listed values, and
        * any value whose lifetime count exceeds err_max is present. */
      val top: DataFrame,
      protected val stage: () => () => Unit) extends Ledger.Commit

  /** E138: INCREMENTAL heavy hitters — corpus-lifetime frequent items
    * without ever re-reading the corpus, the q77/q104/q108/q119/q128
    * ledger rule applied to its sixth space (exact fingerprints, band
    * buckets, SRP buckets, cluster ids, span counts — now sketch
    * counters). Each committed batch appends its OWN Misra–Gries
    * summary: ≤ `capacity` (value, _graft_n = est) rows plus ONE
    * null-keyed row holding the batch's decrement mass. The read side
    * is a plain sum-aggregate over (epochs × capacity) rows —
    * maintenance-sized forever — because per-batch estimates and error
    * masses are both ADDITIVE across batches:
    * `Σ est_b(v) ≤ true(v) ≤ Σ est_b(v) + Σ err_b` (a batch that
    * dropped v undercounts it by at most that batch's err_b, which the
    * null row carries).
    *
    * The null-keyed error row is deliberately shaped for
    * `MaintenanceOps.foldEpochs`' count-merging fold: value is the
    * grouping key, so folded epochs collapse to one summed row per
    * distinct value PLUS one summed null row — the error accounting
    * survives folding bit-for-bit (spec-gated).
    *
    * `capacity` is pinned in ledger metadata with a loud drift refusal
    * (mixing capacities silently changes what err_max means); `k` is a
    * read-time knob. With an `epochToken` the batch is an epoch of the
    * [[Ledger]] replay protocol: replay reproduces identical totals
    * instead of double-counting.
    */
  def incrementalHeavyHitters(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      valueCol: String,
      ledgerDir: String,
      capacity: Int,
      k: Int,
      epochToken: Option[String] = None): PendingHeavyHitters = {
    require(k >= 1, s"k must be >= 1, got $k")
    val params = s"capacity=$capacity"
    val prior = Ledger.prior(spark, ledgerDir, Ledger.HeavyHitters, params, epochToken)
      .map(_.select(col("value"), col("_graft_n")))
    // The batch's sketch: one MGBuf row, exploded to counter rows plus
    // the null-keyed decrement-mass row. Pinned eagerly — the read and
    // the commit must see the same sketch.
    val sk = batch.agg(misraGries(capacity)(col(valueCol)).as("_mg"))
    val batchRows = sk
      .select(explode(col("_mg.counts")).as(Seq("value", "_graft_n")))
      .unionByName(sk.select(
        lit(null).cast("string").as("value"),
        col("_mg.decremented").as("_graft_n")))
      .localCheckpoint(true)
    val all = prior.fold(batchRows)(l => batchRows.unionByName(l))
    val err = all.filter(col("value").isNull)
      .agg(coalesce(sum(col("_graft_n")), lit(0L)).as("err_max"))
    val top = all.filter(col("value").isNotNull)
      .groupBy(col("value")).agg(sum(col("_graft_n")).as("est"))
      .crossJoin(broadcast(err))
      .orderBy(col("est").desc, col("value"))
      .limit(k)
      .localCheckpoint(true)
    new PendingHeavyHitters(
      top,
      () => Ledger.stage(batchRows, ledgerDir, Ledger.HeavyHitters, params, epochToken))
  }
}
