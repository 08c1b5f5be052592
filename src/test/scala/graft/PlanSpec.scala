package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates (the 100 TB design rules from SURVEY §4): filters
  * reach the parquet scan, dimension joins broadcast, top-k plans as
  * TakeOrdered, and nothing materializes an unbounded cartesian product.
  * These assert on the physical plan text, so a regression in plan shape
  * fails CI even while results stay correct. */
class PlanSpec extends AnyFunSuite {
  private object AdaptivePlans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed to the parquet scan + partial aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("q02: IN/BETWEEN predicates pushed to scan") {
    val p = plan("q02_filter_predicates")
    assert(p.contains("PushedFilters") && p.contains("In(l_returnflag"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p)
  }

  test("q03: nation dimension joins via broadcast, fact join shuffles on key") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q08: explicit broadcast hint honored") {
    val p = plan("q08_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q11: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q11_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q25: column pruning — scan reads only projected part columns") {
    val p = plan("q25_string_funcs")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("p_retailprice"), s"unpruned column p_retailprice in:\n$p")
    assert(!p.contains("p_size,"), s"unpruned column p_size in:\n$p")
  }

  test("q34: incremental watermark predicate pushed to scan (R2 parity)") {
    val p = plan("q34_incremental_scan")
    assert(p.contains("GreaterThan(o_orderdate"), p)
  }

  test("only the declared cross join materializes a cartesian product") {
    // Every other query must meet its partner through a keyed join or a
    // bounded broadcast — at 100 TB an accidental cartesian is fatal.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val p = plan(name)
      p.contains("CartesianProduct") && name != "q10_cross_join"
    }
    assert(offenders.isEmpty, s"unexpected cartesian products in: $offenders")
  }

  test("q48/q50/q58: self-join sides read the persisted signature frame once") {
    // The expensive expression (MinHash sig / shingles / SRP bucket) must be
    // computed exactly once inside the cached relation; both self-join sides
    // must read it back via InMemoryTableScan. If the persist is dropped the
    // expression reappears in the join-side plans and this gate fails.
    val gates = Seq(
      // round 18: the banding projection is the fused MinhashBandsExpr
      // (one pass: tokenize + sig + band fold); the gate pins the NEW
      // expression name so the single-computation contract keeps teeth.
      ("q48_lsh_candidates", "minhashbands", 2),
      ("q50_ngram_jaccard", "shinglesexpr", 3),
      ("q58_embed_neardup", "srpbucketexpr", 2))
    for ((name, expr, minScans) <- gates) {
      // Traverse the optimized LOGICAL plan: InMemoryRelation is a leaf
      // there, so its cached build plan (which legitimately contains the
      // expression ONCE) is not visited — any sighting of the expression in
      // the traversal is a recomputation outside the cache.
      val plan = SparkEntry.queries(name)(spark, TestSpark.sfDir)
        .queryExecution.optimizedPlan
      val cacheReads = plan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cacheReads.size >= minScans,
        s"$name: expected >=$minScans cache reads, got ${cacheReads.size} in:\n$plan")
      val outside = plan.collect { case n => n }
        .flatMap(_.expressions)
        .count(_.toString.toLowerCase.contains(expr))
      assert(outside == 0, s"$name: $expr recomputed outside the cache in:\n$plan")
    }
  }

  test("q73: benchmark shingle set joins via broadcast (no shuffle of corpus text)") {
    val p = plan("q73_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q69: interval join plans as a keyed join, never a nested-loop scan") {
    val p = plan("q69_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q80: salted join shuffles on (key, salt), never broadcast") {
    val p = plan("q80_salted_join")
    assert(p.contains("_graft_salt"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q81: IVF probe broadcasts centroids; search joins on the bucket key") {
    val p = plan("q81_ivf_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the bucket search must be a keyed join, not a cartesian over vectors
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q38: salted aggregation is two-phase (salt key present in phase 1 only)") {
    val p = plan("q38_salted_agg")
    // Phase 1 groups on (key, salt); phase 2 re-groups on the key alone.
    assert(p.contains("_graft_salt"), p)
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 4, s"expected partial+final aggregates for both phases, got $aggs:\n$p")
  }

  /** The physical operators of `df`'s plan, inside the adaptive root. */
  private def operators(df: org.apache.spark.sql.DataFrame): Seq[String] =
    AdaptivePlans.collect(df.queryExecution.executedPlan) { case n => n.nodeName }

  /** The `InSet` predicates of the filters in `df`'s optimized plan. */
  private def idSets(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect { case i: org.apache.spark.sql.catalyst.expressions.InSet => i }
    }.flatten

  private def q104Batch = Tables.parallel(Tables(spark, TestSpark.sfDir, "documents"))
    .filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)

  test("q104: the settled verdict filters the batch by one id set, never a join") {
    // The incremental near-dup shape: the verdict settles eagerly on the
    // driver (the pinned verdict frame is read once while the query is
    // built), and the returned survivor plan filters the batch by ONE
    // hashed id-set predicate holding the ledger hits and the in-batch
    // drops. No join of any type may reach the batch: a join against
    // bucket or id rows could multiply batch rows — row-count corruption,
    // not just a slowdown.
    val df = SparkEntry.queries("q104_incr_neardup")(spark, TestSpark.sfDir)
    assert(!operators(df).exists(n => n.contains("Join") || n.contains("Cartesian")),
      s"survivor plan joins the batch:\n${df.queryExecution.executedPlan.toString.take(1500)}")
    val sets = idSets(df)
    assert(sets.size == 1 && sets.head.references.map(_.name).toSet == Set("doc_id"),
      s"expected doc_id filtered by one id set:\n${df.queryExecution.optimizedPlan.toString.take(1500)}")
    // The set holds exactly the batch ids the verdict took out.
    def ids(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.get(0)).toSet
    val settled = ids(q104Batch.select("doc_id")) -- ids(df)
    assert(settled.nonEmpty && sets.head.hset == settled)
  }

  test("q104: a batch with no hits and no drops plans the same operators") {
    // No ledger means no hits, and a bucket cap of 1 takes every colliding
    // bucket out of the verdict, so no drops: the empty set keeps its
    // filter and the plan does not vary by batch.
    val ledger = java.nio.file.Files.createTempDirectory("q104_empty").resolve("bands").toString
    val empty = graft.operators.LshOps.incrementalNeardup(
      spark, q104Batch, "text", "doc_id", ledger, maxBucket = 1).survivors.select("doc_id")
    assert(empty.count() == q104Batch.count(), "the empty verdict dropped batch rows")
    val sets = idSets(empty)
    assert(sets.size == 1 && sets.head.hset.isEmpty,
      s"the empty id set lost its filter:\n${empty.queryExecution.optimizedPlan}")
    assert(operators(empty) ==
      operators(SparkEntry.queries("q104_incr_neardup")(spark, TestSpark.sfDir)))
  }

  test("every query stays inside its shuffle budget") {
    // Each Exchange is a full materialize-and-redistribute of its input —
    // the dominant cost at 100 TB. This gate pins the shuffle count of
    // every declared query so an innocent refactor (a dropped broadcast
    // hint, a lost partitioning reuse, an accidental extra distinct)
    // cannot silently multiply cluster cost. Counted on the
    // EnsureRequirements-applied physical tree with AQE off (round 3's
    // sparkPlan-based count predated EnsureRequirements and saw only
    // explicit repartitions — it undercounted by the planner-inserted
    // exchanges). Cache-BUILD internals are excluded (InMemoryTableScan is
    // a leaf in the node tree, and the build cost is gated once by the
    // persisted-frame test above); broadcasts are excluded by design —
    // replacing a shuffle with a broadcast is the improvement this gate
    // exists to protect. Budgets are the DESIGNED shuffle counts, not
    // aspirations — lower them, never raise them casually.
    val budget = Map(
      // multi-stage dedup/similarity pipelines (persisted frame + self-join
      // + distinct, or build+probe):
      "q48_lsh_candidates" -> 5,  // sig repartition+persist, band self-join, distinct
      "q50_ngram_jaccard" -> 7,   // shingle agg ×2 sides + pair agg + count joins
      "q52_neardup_purge" -> 5,
      "q56_knn_bruteforce" -> 3,  // bounded query side + per-query top-k
      // q58 re-pinned to the banded-SRP construction (round 8): banding is
      // cached, the self-join reuses the cache's (b, bv) partitioning, so
      // like q106 it runs at the default budget of 1 (the pair distinct).
      "q73_decontaminate" -> 4,   // bench shingles (broadcast) + corpus agg chain
      "q80_salted_join" -> 4,     // salt-scatter both sides + re-agg
      "q81_ivf_search" -> 6,      // centroid build aggs + probe + bucket join + top-k
      "q84_simhash_neardup" -> 5,
      "q86_source_overlap" -> 5,  // distinct + self-join + agg
      "q90_bm25_keywords" -> 4,   // spread + df agg + token join re-key +
                                  // rank window (round 16: tf itself is
                                  // shuffle-free — native count map — and
                                  // dlen rides the same struct, so the
                                  // former tf agg + dlen window are gone)
      "q95_line_dedup" -> 3,      // segment window + doc re-agg + parallel spread
      "q112_canonical_pick" -> 3, // member↔length join re-hashes both sides on
                                  // doc_id (the cluster-member frame is unbounded
                                  // — broadcasting it would be a scale lie) + the
                                  // single component agg carrying top-1 AND size
      "q104_incr_neardup" -> 1,   // the documents spread (Tables.parallel) only: the
                                  // settled verdict filters the batch by one id set
                                  // (the verdict's exchange runs eagerly, outside this plan)
      "q153_heavy_hitters" -> 2,  // the single-file parallelism spread (Tables.parallel)
                                  // + the SinglePartition sketch merge — the merged state
                                  // is ONE capacity-entry map, the cheapest exchange here
      "q154_source_pct_rank" -> 2, // counts agg + the window's re-exchange on the group key
                                   // — BOTH move the distinct-(source, value) frame, never
                                   // the rows (those join the ranks back via broadcast)
      "q156_pq_encode" -> 2,      // parallelism spread + the (id, sub) arg-min agg; the
                                  // codebook side is materialized by the fit and broadcast
      "q165_pq_balanced_perm" -> 2, // q156's exact shape over the PERMUTED vectors — the
                                  // permutation is a narrow projection (the variance pass
                                  // runs at build time, driver-sized) and adds no exchange
      "q158_windowed_heavy_hitters" -> 2, // the window-sketch agg + the per-window top-k
                                          // re-agg — the second moves ≤ capacity+1 sketch
                                          // rows per window, never events
      "q157_pq_adc_search" -> 5,  // spread ×2 (codes path + query path re-read the corpus
                                  // frame) + the encode arg-min agg + the (query, id) ADC
                                  // sum + the per-query top-k agg — the last two move
                                  // codes-sized and workload-sized frames only; the lookup
                                  // table itself is a BroadcastExchange by construction
      "q159_ivfadc_search" -> 6,  // round 13 (cell-keyed codes): spread ×3 — the corpus
                                  // frame feeds the codes, cells and queries paths — +
                                  // the encode arg-min agg + the (query, id) ADC sum +
                                  // the per-query top-k agg. The per-search id-join is
                                  // GONE (cells ride the codes at build; the fixture
                                  // build-in-query keeps them broadcast) and the probe
                                  // set arrives as a static isin, not an exchange; the
                                  // spreads are fixture parallelism, not data movement.
      "q160_ivfadc_nprobe" -> 6,  // q159's exact shape at nprobe = 2 — the wider probe
                                  // only widens the isin list, never adds an exchange
      "q162_pq_residual_encode" -> 3, // spread ×2 (residual build + the fit's seed
                                  // TakeOrdered re-read the corpus) + the encode
                                  // arg-min agg; the residual subtraction itself is a
                                  // narrow zip_with against broadcast centroids
      "q163_ivfadc_rerank" -> 8,  // q160's six + the refine stage's corpus spread and
                                  // its top-k agg — the exact pass joins the broadcast
                                  // shortlist (Q×20 rows) onto one corpus scan, so its
                                  // only NEW exchanges move workload-sized frames
      "q164_ivfadc_residual" -> 10, // q160's search stages over the RESIDUAL build:
                                  // q162's build spreads (residual table + fit-seed
                                  // re-reads) + the encode arg-min agg + the fixture's
                                  // in-query attachCells id-join (the OPERATIONAL path
                                  // pays this once at --pq-encode: stored codes already
                                  // carry cell) + the ADC sum + per-query top-k aggs.
                                  // The residualized LUT is a BroadcastExchange (its
                                  // per-(query, cell) widening adds rows, not
                                  // exchanges); the probe set is a static isin.
      "q166_pq_refine_codes" -> 17, // TWO full fit+encode chains in one plan — the
                                  // shared frames (codes, errors, rcodes) are
                                  // MATERIALIZED once (cache builds are leaves here,
                                  // gated like q48/q50/q58), so what remains is the
                                  // stage-1/stage-2 fit spreads + arg-min aggs (all
                                  // build-time, paid ONCE at --pq-encode
                                  // operationally) plus the workload-sized search
                                  // side: the ADC sum + shortlist top-k, the
                                  // re-rank's candIds distinct, cell/rec1/rec2
                                  // per-id assembly aggs and the final top-k —
                                  // every one ≤ Q × R rows.
      "q167_pq_store_audit" -> 7, // the same two-level BUILD behind materialized
                                  // frames; the audit itself is four exchanges — two
                                  // (id, cell) dist²-sum aggs and two per-cell
                                  // re-aggs over ≤ coarseK rows
      "q168_cell_rebalance" -> 2, // the hot-member local fit: the bounded-buffer seed
                                  // top-k agg + the per-(cell, child) update agg — the
                                  // Lloyd argmins are map-side packed mins and the cold
                                  // side is a narrow filter; hot populations and the
                                  // numbering are driver-sized (≤ coarseK rows)
      "q169_residual_rebalance" -> 11, // q168's split stages (seed top-k + child-update
                                  // + settle aggs over the HOT members) composed with
                                  // the E151 re-encode: the moved-member id-joins
                                  // (split.assignments × res × corpus — the fixture
                                  // pays these in-plan; the stored path reads them
                                  // off parquet), the declared-cell residual is a
                                  // narrow broadcast zip_with, then the pinned-book
                                  // encode arg-min agg + attachCells id-join + the
                                  // cold/hot union spreads. res/codes/members are
                                  // materialized leaves (the q166 rule); everything
                                  // here moves hot-member-sized frames, never the
                                  // corpus twice
      "q170_takedown_search" -> 3, // q160's search over a MATERIALIZED erased-codes
                                  // leaf: the queries-path spread + the (query, id)
                                  // ADC sum + the per-query top-k agg — the denylist
                                  // filter is a narrow predicate on the codes leaf,
                                  // the LUT a BroadcastExchange, the probe a static
                                  // isin
      "q108_srp_incr_neardup" -> 5, // hit/purge anti-joins on the id key + banded self-join
                                    // + pair and drop distincts (banding cached; ledger-hit
                                    // verification is eager, outside this plan)
      "q97_profile" -> 3,         // multi-distinct Expand partials
      "q123_contamination_verified" -> 3, // band equi-join + the two per-side
                                  // shingle-set verification joins re-keying
                                  // on train_id then ref_id (at real scale
                                  // the ref side broadcasts under AQE;
                                  // this gate runs AQE-off)
      "q126_contamination_auto" -> 3, // q123's exact shape at the derived
                                  // width (the regime derivation runs
                                  // eagerly at build time, outside this
                                  // plan)
      "q124_duplicate_spans" -> 3, // exact countDistinct is two-phase
                                  // ((key,id) then key) + the flag-back join
                                  // shuffles the span side; the flagged set
                                  // reuses its agg layout (AQE-off floor —
                                  // at runtime the tiny flagged set
                                  // broadcasts)
      "q125_scrub_spans" -> 5,    // q124's 3 + per-doc starts agg re-keys to
                                  // the id + the corpus↔starts left join
                                  // (starts reuses its agg layout; under AQE
                                  // the starts side broadcasts and the
                                  // corpus never shuffles)
      "q116_semdedup" -> 2,       // purge distinct re-keys band pairs on the id +
                                  // the verdict left join re-keys the assignment
                                  // frame on the id; the pair self-join itself
                                  // pays ZERO exchanges — the materialized
                                  // assignment is pre-partitioned on cluster and
                                  // both sides reuse that layout
      "q118_semdedup_auto" -> 2,  // q116's exact shape at the derived k
      "q119_incr_semdedup" -> 2,  // the two survivor anti-joins re-key on the id
                                  // (ledger hits and in-batch drops are eager
                                  // checkpoint-pinned, outside this plan — the
                                  // q108 discipline)
      // corpus-statistics rank/LM family (round 10): each branch that
      // re-reads documents pays the parallel-spread repartition, the
      // statistics tables are one agg exchange each, and the scoring
      // join re-keys the corpus-sized side on the statistic's key. At
      // runtime AQE broadcasts the vocabulary-sized df/count/n sides,
      // collapsing the join re-keys — these are the AQE-off floors.
      "q130_tfidf_keywords" -> 4, // spread + tf agg (ONCE — persisted; df
                                  // re-derives from the cache) + token
                                  // re-key + doc_id window; N branch
                                  // broadcasts
      "q131_bm25_search" -> 4,    // spread + pruned tf agg (persisted; df
                                  // from cache) + stats-branch spread +
                                  // doc_id score agg (top-100 is
                                  // TakeOrdered, exchange-free)
      "q132_bigram_lm" -> 3,      // c2 agg over the persisted bigram frame
                                  // + bigram re-key of the doc side + the
                                  // per-doc nll agg (the bigram/unigram
                                  // explodes build caches — leaves here;
                                  // c1 counts token INSTANCES, not
                                  // derivable from the bigram table whose
                                  // first-position marginal misses each
                                  // doc's last token)
      "q140_pmi_collocations" -> 3, // spread + bigram-count agg (ONCE —
                                  // persisted; marginals and N re-derive
                                  // from the vocab-sized cache) + one
                                  // marginal re-agg; TakeOrdered cut
      // q142 runs at the default budget of 1 (round 16): the phrase count
      // is a per-doc map lookup — only the parallel-spread repartition
      // remains.
      "q143_group_split_auto" -> 7, // q134's shape at the auto width:
                                  // banding cached + CC materialize-cut
                                  // + doc<->component join re-keys +
                                  // split/leak aggs + spread
      "q134_group_split" -> 7,    // LSH banding cached (pinned as q48) +
                                  // CC rounds are materialize-cut; this
                                  // plan pays the doc↔component join
                                  // re-keys + split/leak aggs + the spread
      "q136_temperature_mixture" -> 4, // source counts + n_min single-part
                                  // + kept re-agg + totals agg (rate table
                                  // broadcast back, corpus never re-keyed)
      // per-entity sequence family (round 10; round 11 moved the
      // assembly from collect_list arrays to the bounded streaming
      // fold): ONE shuffle keys the fold; the report agg re-keys the
      // entity-sized (not corpus-sized) result.
      "q135_sequence_bigrams" -> 3, // fold key + countDistinct pair
                                  // ((bg,user) then bg). The round-10
                                  // plan did this in 2: the collect_list
                                  // agg's user partitioning satisfied the
                                  // (bg,user) clustering of the distinct
                                  // phase, but MapGroups re-serializes
                                  // its output, so the fold's
                                  // partitioning is not visible
                                  // downstream. The extra exchange
                                  // carries bigram instances and is the
                                  // price of bounded per-user state —
                                  // accepted deliberately (round-11).
      "q138_funnel" -> 2,           // user agg + step-report agg
      "q139_cohort_retention" -> 3, // first-week agg + active distinct +
                                    // cohort matrix agg (user join reuses
                                    // the firsts layout)
      "q144_sessions" -> 1,         // ONE user-keyed window exchange; the
                                    // (user, session) agg is clustered by
                                    // the window's partitioning
      "q145_event_transitions" -> 1, // row-total agg over the PINNED
                                    // count table (the fold + bg agg are
                                    // materialize-cut — they'd otherwise
                                    // run once per branch); totals
                                    // broadcast back
      // two-phase / paired-agg shapes:
      "q05_full_outer_regions" -> 2, "q19_count_distinct" -> 2,
      "q23_intersect_except" -> 2, "q38_salted_agg" -> 2,
      // q39 (round 18): ProfileOps.exactQuantiles size-dispatches. At
      // this fixture (< 64 MiB) it plans the SAME one-wide-aggregation
      // shape as before (2 exchanges — budget unchanged); the
      // distributed ≥64 MiB shape (3 exchanges per value column, reuse
      // for the bracketing aggs and the flags join) is gated separately
      // in ProfileOpsSpec's plan test.
      "q39_percentiles" -> 2,
      "q41_doc_frequency" -> 2, "q42_ngrams" -> 2,
      "q100_percentiles_approx" -> 2, // parallel-spread repartition + group agg
      "q101_profile_hll" -> 2,        // parallel-spread repartition + global agg
      "q53_pivot" -> 2, "q54_asof_join" -> 2, "q55_cosine_pairs" -> 2,
      "q59_l2_pairs" -> 2, "q64_watermark_drop" -> 2,
      "q65_bucket_centroids" -> 2, "q68_setops_all" -> 2,
      "q79_top_supplier_per_nation" -> 2,
      // q87 runs at the default budget of 1 (round 16): the native count
      // map keeps each document's counts in its row — the only exchange
      // left is the parallel-spread repartition.
      "q88_stratified_sample" -> 2, "q96_sequence_pack" -> 2,
      // q137 (round 17): the fixed-count PageRank loop no longer pays a
      // lineage-cut JOB per round, so the returned frame is ONE nested
      // plan carrying all three rounds — the exchanges were always
      // executed, they were just spread over per-round checkpoint jobs
      // the old budget never saw. Visible now: symmetrize distinct +
      // degree agg + 3 × (rank join + contribution agg) + the final
      // read-side exchanges. Budget = the measured shape, so a FOURTH
      // round (or an accidental extra shuffle per round) still fails.
      "q137_pagerank" -> 10
    ).withDefaultValue(1)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val over = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val p = fn(spark, TestSpark.sfDir).queryExecution.executedPlan
        val n = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
        if (n > budget(name)) Some(s"$name: $n > ${budget(name)}") else None
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(over.isEmpty, s"shuffle budget exceeded: ${over.mkString("; ")}")
  }

  test("scan-heavy queries stay inside whole-stage codegen") {
    // AQE only materializes codegen spans in the FINAL plan — execute first.
    for (name <- Seq("q01_pricing_summary", "q27_math_funcs", "q46_fingerprint")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      df.collect() // count() would plan a NEW query; collect runs THIS plan
      // codegen stages print as "*(n) Operator" in the final plan text
      assert(df.queryExecution.executedPlan.toString.contains("*(1)"), name)
    }
  }
}
