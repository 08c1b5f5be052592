package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A prepared dedup batch: the surviving rows, plus a ledger commit the
  * caller invokes strictly AFTER those survivors are durably written (the
  * [[Ledger]] write-then-commit protocol). */
final class PendingDedup private[operators] (
    /** Batch rows new to the corpus (fingerprint columns removed). */
    val survivors: DataFrame,
    protected val stage: () => () => Unit) extends Ledger.Commit

/** Incremental exact deduplication against a persistent fingerprint ledger —
  * the "dedup today's crawl against the whole corpus" operation an LLM data
  * pipeline runs on every ingest. The corpus itself is never re-read: only
  * its FINGERPRINTS (16 bytes/doc) live in the ledger, so the per-batch cost
  * is one anti-join of the batch against the ledger, shuffling on the
  * fingerprint. At 100 TB corpus / 1 TB batch that is a join of a ~100 GB
  * ledger against the batch — and the ledger side is pure longs, so AQE
  * will often broadcast partitions of it.
  *
  * Contract: within-batch duplicates keep the smallest id (same canonical
  * pick as the q24 exact-dedup query); across batches, first COMMITTED
  * batch wins. See [[PendingDedup]] for the write-then-commit ordering.
  */
object DedupOps {

  /** Compute the batch rows that are new to the corpus. Returns a
    * [[PendingDedup]]; the ledger is NOT touched until the caller commits.
    * With an `epochToken` (at-least-once replayed callers, e.g. streaming
    * foreachBatch) the batch is an epoch of the [[Ledger]] replay protocol.
    *
    * Fingerprint = (xxhash64, charHash mod 1e9+7) — two independent hashes,
    * ~94 combined bits. A single ~30-bit hash would see birthday collisions
    * after ~35 k docs and silently drop distinct documents forever (the
    * ledger entry persists); at ~94 bits the expected first collision sits
    * beyond 10^13 docs, comfortably past a billions-of-docs corpus. The
    * ledger has no pin: the fingerprint has no parameters.
    */
  def incrementalDedup(
      spark: SparkSession,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      ledgerDir: String,
      epochToken: Option[String] = None): PendingDedup = {
    val prior = Ledger.prior(spark, ledgerDir, Ledger.Fingerprints, "", epochToken)
    val survivors = dedupAgainst(batch, textCol, idCol, prior)
    val fps = survivors.select(col("_graft_fp"), col("_graft_fp2"))
    new PendingDedup(
      survivors.drop("_graft_fp", "_graft_fp2"),
      () => Ledger.stage(fps, ledgerDir, Ledger.Fingerprints, "", epochToken))
  }

  /** `df` with the ingest's fingerprint pair of `textCol`: `_graft_fp`
    * (charHash, ~30 bits) and `_graft_fp2` (xxhash64). Dedup identity is
    * the pair, because charHash alone collides at birthday scale (~35 k
    * docs) — and so is the fingerprint ledger's takedown key. */
  private[graft] def withFingerprints(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_graft_fp", TextFunctions.charHash(col(textCol)))
      .withColumn("_graft_fp2", xxhash64(col(textCol)))

  /** Fingerprint the batch, drop rows whose fingerprint is in `prior`, keep
    * the smallest-id representative per within-batch fingerprint. Returns
    * the survivor frame WITH its fingerprint columns, eagerly checkpointed:
    * the eventual ledger write lands on a path this plan reads, which
    * invalidates any cache/file-index over it — a plain persist() would
    * silently recompute against the post-commit ledger and anti-join the
    * batch's own rows away. localCheckpoint pins the pre-commit result
    * (and runs fingerprint + anti-join exactly once). */
  private def dedupAgainst(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      prior: Option[DataFrame]): DataFrame = {
    val withFp = withFingerprints(batch, textCol)
    val unseen = prior match {
      case Some(ledger) =>
        withFp.join(ledger.select(col("_graft_fp"), col("_graft_fp2")),
          Seq("_graft_fp", "_graft_fp2"), "left_anti")
      case None => withFp
    }
    // Bounded window (round-14 audit): the partition key is the ~128-bit
    // fingerprint pair, so a partition holds only BYTE-IDENTICAL texts —
    // duplicate-multiplicity-sized, never corpus-sized.
    val w = Window.partitionBy(col("_graft_fp"), col("_graft_fp2")).orderBy(col(idCol))
    unseen
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
      .localCheckpoint(true)
  }

  /** E105: cross-document duplicate-SPAN detection — every `spanTokens`-token
    * window that appears verbatim in at least `minDocs` DISTINCT documents,
    * emitted as (doc, start_tok, n_docs) flags. This is the span-level pass
    * document-level dedup cannot replace: two documents 1 % identical (a
    * shared license header, a boilerplate footer, a quoted passage) never
    * near-dup as WHOLES, yet the repeated span still memorizes.
    * Deduplicating repeated substrings rather than whole documents is the
    * published remedy (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — their ExactSubstr pass); a suffix array is
    * the single-machine tool, and this is its shuffle-native restatement:
    * rolling token windows → window key → corpus-wide frequency → flag
    * positions.
    *
    * Scale shape: the window explode is NARROW with fan-out ≈ tokens/doc
    * (each token starts at most one window — same bound as tokenization
    * itself); the frequency pass is ONE key-grouped aggregation with
    * map-side partial counts; the flag pass re-derives the (cheap, narrow)
    * window frame and joins it to the flagged-key set, which is tiny
    * relative to the corpus (only keys repeated across documents survive
    * the HAVING), so AQE broadcasts it in practice. Nothing here is
    * quadratic and nothing holds per-doc state: a 100 TB corpus pays two
    * scans plus one agg-shuffle of (key, id) longs.
    *
    * The window key is the (xxhash64, charHash) PAIR — the same ~94-bit
    * fingerprint rule as [[incrementalDedup]], because a corpus-scale span
    * frequency table holds ~10^12 distinct windows and a single 30-bit
    * charHash would collide pervasively (birthday bound ~35 k), silently
    * flagging unrelated spans. The key never appears in the output, so the
    * oracle restates the semantics by grouping on the window STRING — the
    * two differ only on a 94-bit collision.
    *
    * `countDistinct` (exact) on the doc id is deliberate: a repeated span
    * WITHIN one document (a chorus, a table row) is intra-doc structure,
    * not cross-doc contamination, and must not trip the `minDocs` bar.
    */
  def duplicateSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      spanTokens: Int,
      minDocs: Int = 2): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    require(minDocs >= 2,
      s"minDocs must be at least 2 (1 would flag every window): $minDocs")
    def spans = df
      .select(col(idCol),
        posexplode(TextFunctions.shingles(col(textCol), spanTokens))
          .as(Seq("start_tok", "_graft_g")))
      .select(col(idCol), col("start_tok").cast("int"),
        xxhash64(col("_graft_g")).as("_graft_h1"),
        TextFunctions.charHash(col("_graft_g")).as("_graft_h2"))
    val flagged = spans
      .groupBy(col("_graft_h1"), col("_graft_h2"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    spans.join(flagged, Seq("_graft_h1", "_graft_h2"))
      .select(col(idCol), col("start_tok"), col("n_docs"))
  }

  /** [[incrementalSpans]]' two-step result: flagged positions now, ledger
    * commit only after the caller's sink commit ([[Ledger]]). */
  final class PendingSpanFlags private[operators] (
      /** (id, start_tok, n_docs) positions in THIS batch whose span
        * appears in ≥ minDocs distinct documents across ledger + batch. */
      val flags: DataFrame,
      protected val stage: () => () => Unit) extends Ledger.Commit

  /** E109: INCREMENTAL duplicate-span detection — [[duplicateSpans]]
    * against a persistent span-frequency ledger, so today's crawl is
    * flagged against every span the corpus has EVER seen without
    * re-reading the corpus (the q77/q104/q108/q119 ledger rule applied to
    * its fifth space: exact fingerprints, band buckets, SRP buckets,
    * cluster ids, and now span keys). The ledger holds one
    * (spanKey → distinct-doc-count) row per committed batch per span —
    * APPEND-only, read back as one sum-aggregate — so the per-batch cost
    * is the batch's own span explode plus one key-grouped join against
    * counts, never a corpus rescan.
    *
    * A span flags when ledgered + in-batch distinct docs reach `minDocs`;
    * `n_docs` in the output is that combined count. Within-batch-only
    * duplication therefore still flags exactly as the batch operator
    * would. Contract: batch ids are NEW to the corpus (run the exact
    * fingerprint ledger upstream, the same assumption every ledger
    * operator here makes) — a re-ingested doc would double-count its own
    * spans. `spanTokens` is pinned in ledger metadata with a loud drift
    * refusal (a 4-token batch against an 8-token ledger would silently
    * never collide); `minDocs` is a READ-time knob, deliberately not
    * pinned — tightening the bar next epoch needs no ledger rebuild. With
    * an `epochToken` the batch is an epoch of the [[Ledger]] replay
    * protocol: a replayed batch reproduces identical flags instead of
    * double-counting its own spans.
    */
  def incrementalSpans(
      spark: SparkSession,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      ledgerDir: String,
      spanTokens: Int,
      minDocs: Int = 2,
      epochToken: Option[String] = None): PendingSpanFlags = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    require(minDocs >= 2,
      s"minDocs must be at least 2 (1 would flag every window): $minDocs")
    val params = s"spanTokens=$spanTokens"
    val prior = Ledger.prior(spark, ledgerDir, Ledger.Spans, params, epochToken)
    // Pinned eagerly: every downstream frame must keep seeing the
    // PRE-commit batch/ledger state even if evaluated after commitLedger.
    val spans = batch
      .select(col(idCol),
        posexplode(TextFunctions.shingles(col(textCol), spanTokens))
          .as(Seq("start_tok", "_graft_g")))
      .select(col(idCol), col("start_tok").cast("int"),
        xxhash64(col("_graft_g")).as("_graft_h1"),
        TextFunctions.charHash(col("_graft_g")).as("_graft_h2"))
      .localCheckpoint(true)
    val batchCounts = spans
      .groupBy(col("_graft_h1"), col("_graft_h2"))
      .agg(countDistinct(col(idCol)).as("_graft_n"))
      .localCheckpoint(true)
    val totals = prior match {
      case Some(l) =>
        val ln = l.groupBy(col("_graft_h1"), col("_graft_h2"))
          .agg(sum(col("_graft_n")).as("_graft_ln"))
        batchCounts.join(ln, Seq("_graft_h1", "_graft_h2"), "left")
          .withColumn("n_docs",
            col("_graft_n") + coalesce(col("_graft_ln"), lit(0L)))
      case None => batchCounts.withColumn("n_docs", col("_graft_n"))
    }
    val flags = spans
      .join(totals.filter(col("n_docs") >= minDocs)
          .select(col("_graft_h1"), col("_graft_h2"), col("n_docs")),
        Seq("_graft_h1", "_graft_h2"))
      .select(col(idCol), col("start_tok"), col("n_docs"))
      .localCheckpoint(true)
    new PendingSpanFlags(
      flags,
      () => Ledger.stage(batchCounts, ledgerDir, Ledger.Spans, params, epochToken))
  }

  /** E106: span SURGERY — remove every [[duplicateSpans]]-flagged window
    * from the document and keep the rest, instead of purging the whole
    * document. Whole-doc near-dup purging over-applies to boilerplate: a
    * document that is 1 % shared license header and 99 % unique content
    * should lose the header, not the corpus its content. Returns
    * (id, clean_text, n_removed) for EVERY input document (unflagged docs
    * pass through with n_removed = 0); `clean_text` is the surviving
    * tokens joined by single spaces — the same whitespace normalization
    * the tokenizer itself applies, stated contract of this operator.
    *
    * Scale shape: the flagged frame aggregates to ONE small array of
    * start positions per flagged doc (bounded by doc length, and only
    * flagged docs appear), which joins back to the corpus — tiny build
    * side, broadcast in practice under AQE. The removal itself is NARROW:
    * an index-aware `filter` over the token array against the start-set
    * (`exists` over a per-doc array bounded by doc length), no explode of
    * the text, no shuffle of the text beyond the one join.
    */
  def scrubSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      spanTokens: Int,
      minDocs: Int = 2): DataFrame = {
    val starts = duplicateSpans(df, textCol, idCol, spanTokens, minDocs)
      .groupBy(col(idCol))
      .agg(collect_set(col("start_tok")).as("_graft_starts"))
    df.join(starts, Seq(idCol), "left")
      .select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("_graft_toks"),
        coalesce(col("_graft_starts"), array().cast("array<int>"))
          .as("_graft_starts"))
      .withColumn("_graft_kept",
        filter(col("_graft_toks"), (_, i) =>
          !exists(col("_graft_starts"),
            st => i >= st && i < st + lit(spanTokens))))
      .select(col(idCol),
        array_join(col("_graft_kept"), " ").as("clean_text"),
        (size(col("_graft_toks")) - size(col("_graft_kept")))
          .cast("int").as("n_removed"))
  }
}
